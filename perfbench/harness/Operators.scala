package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum, xxhash64}

import graft.SparkEntry
import graft.ops.SessionCache

/** The LLM-data stage of an `incremental_cycles` pass: a fixed list of
  * SparkEntry entries (the `functions` kernels and the `streaming`
  * harness) over a fixed corpus, each result consumed whole by writing it
  * out. Staging pins are released before every pass, so each pass pays
  * its own staging. */
final class Operators(spark: SparkSession, a: Map[String, String], out: Main.Out, tracer: Option[Tracer]) {
  private val work = a("work")
  private val corpus = a("corpus")
  private val entries = a("entries").split(",").toSeq
  private val passes = mutable.ArrayBuffer.empty[String]  // output dir of each pass

  /** Order-insensitive digest of a whole result: row count and the sum
    * of per-row hashes over every column (reduced mod 2^31 - 1, so the
    * sum cannot overflow). */
  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(pmod(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*), lit(2147483647L)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Writes the oracle SQL for the DuckDB check and runs the entries side
    * by side over the small warm-up corpus, so the same plans are
    * compiled and JIT-warm before the timed passes. */
  def warmUp(): Unit = {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(work, "oracle_sql.json"),
      entries.map(n => s"${Json.q(n)}: ${Json.q(SparkEntry.oracleSql(n))}").mkString("{", ", ", "}"))
    Main.inParallel(entries)(n =>
      SparkEntry.queries(n)(spark, a("warm")).write.mode("overwrite").parquet(s"$work/warm_out/$n"))
    SessionCache.releaseAll(spark)
  }

  /** One run of every entry; returns the stage's wall time. Its outputs
    * are checked by [[verify]] after the timed body, so a traced pass
    * holds only the stage's own jobs. */
  def pass(p: Int): Double = {
    SessionCache.releaseAll(spark)
    SessionCache.drainStaging(spark)
    val dir = s"$work/ops/p$p"
    val (_, wall) = Main.timed(entries.foreach { n =>
      val (_, s) = Main.timed(SparkEntry.queries(n)(spark, corpus).write.mode("overwrite").parquet(s"$dir/$n"))
      out.sample("entry_s", s)
      tracer.foreach(_.add(s"ops.${n}_s", s))
    })
    tracer.foreach(_.add("ops.staging_s", SessionCache.drainStaging(spark).map(_._2).sum))
    SessionCache.releaseAll(spark)
    passes += dir
    wall
  }

  /** Pass 0's files go to the DuckDB check; every later pass must
    * reproduce their digests. */
  def verify(): Unit = {
    def digests(dir: String) = entries.map(n => n -> digest(spark.read.parquet(s"$dir/$n"))).toMap
    val first = digests(passes.head)
    entries.foreach(n => out.exported(n, s"${passes.head}/$n"))
    passes.tail.zipWithIndex.foreach { case (dir, i) =>
      val d = digests(dir)
      entries.foreach(n => out.count(d(n) == first(n), s"$n: pass ${i + 1} differs from pass 0"))
    }
  }
}
