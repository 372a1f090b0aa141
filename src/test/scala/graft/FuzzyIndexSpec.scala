package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Warehouse
import graft.ops.TextOps

/** The persisted MinHash band index behind the fuzzy ingestion gate:
  * build scans the base corpus once; gate runs are O(batch) probes of the
  * index relations. The load-bearing assertion is the middle test — the
  * base documents are DELETED between build and gate, so a gate that
  * still touched them could not succeed.
  */
class FuzzyIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def words(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  private def docs(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def freshIdx(): (Warehouse, TextOps.FuzzyIndex) = {
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_fidx").toString)
    (wh, new TextOps.FuzzyIndex(wh, "docs"))
  }

  test("gate flags an exact and a near duplicate, passes a fresh doc") {
    val (_, idx) = freshIdx()
    idx.build(docs(Seq(
      (1L, words("alpha", 40)),
      (2L, words("beta", 40)),
      (3L, words("gamma", 40)))))
    val out = idx.gate(docs(Seq(
      (100L, words("alpha", 40)),            // exact copy of 1
      (101L, "zz yy " + words("beta", 40)),  // near-dup of 2 (j ≈ 0.95)
      (102L, words("delta", 40)))))          // genuinely new
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((100L, 1L)))
    assert(out.contains((101L, 2L)))
    assert(!out.exists(_._1 == 102L), "a fresh doc must pass the gate")
  }

  test("gate runs scan ONLY the index — base documents deleted after build") {
    val (_, idx) = freshIdx()
    // the base corpus lives in a parquet dir of its own...
    val baseDir = Files.createTempDirectory("graft_fidx_base").toString + "/docs"
    docs(Seq(
      (1L, words("alpha", 40)),
      (2L, words("beta", 40)))).write.parquet(baseDir)
    idx.build(spark.read.parquet(baseDir))
    // ...which is then DELETED: any gate-side scan of base documents now
    // fails loudly, so success proves the gate is index-only
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(baseDir), true)
    val out = idx.gate(docs(Seq((100L, words("alpha", 40)))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((100L, 1L)))
  }

  test("appended batches are visible to the next gate run") {
    val (_, idx) = freshIdx()
    idx.build(docs(Seq((1L, words("alpha", 40)))))
    // day 1: a new doc passes the gate and is admitted
    val day1 = docs(Seq((100L, words("omega", 40))))
    assert(idx.gate(day1).count() == 0)
    idx.append(day1)
    // day 2: re-submitting the same content is now caught by the index
    val out = idx.gate(docs(Seq((200L, words("omega", 40)))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((200L, 100L)))
  }
}
