package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Relation, Warehouse}
import graft.plans.AggViewRewrite

/** Measures the serving value of the maintained-view rewrite: the same
  * GROUP BY over an N-row source, (a) raw — scanning the corpus, (b)
  * served fresh — folding only the keys-sized view, (c) served stale —
  * view plus one appended delta batch. Run:
  *
  *   sbt "runMain graft.tools.MvBench [rows]"
  *
  * The point at scale is (b)'s independence from N: the raw aggregate
  * scans the corpus every time, the served fold touches `k` view rows;
  * (c) adds one delta batch, not the corpus. Results feed SCALE.md.
  */
object MvBench {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(5000000)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_mvbench").toString)
    val src = Relation("db", "sch", "facts")
    val v = Relation("db", "sch", "facts_by_k")
    // ~60-byte rows, 64 groups, deterministic
    val corpus = spark.range(n.toLong)
      .select(col("id"),
        (col("id") % 64).cast("string").as("k"),
        (col("id") % 997).as("v"),
        md5(col("id").cast("string")).as("pad"))
    wh.writeAtomic(corpus, src)
    val aggs = Seq(("cnt", "count", "*"), ("total", "sum", "v"),
      ("hi", "max", "id"), ("cntv", "count", "v"))
    wh.maintainAggView(src, v, "bench", Seq("k"), aggs)

    def q() = wh.read(src).groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("v").as("total"), max("id").as("hi"))
    // the dashboard shape: avg + a key-derived coarser grouping — folds
    // from the registered sum+count partials over f(k) groups
    def qAvg() = wh.read(src).groupBy(substring(col("k"), 1, 1).as("g"))
      .agg(avg("v").as("mean_v"), count(lit(1)).as("cnt"))
    def time(body: => Unit): Double = {
      val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e9
    }
    def best(reps: Int)(body: => Unit): Double =
      (1 to reps).map(_ => time(body)).min

    val raw = best(3)(q().count())
    val rawAvg = best(3)(qAvg().count())

    AggViewRewrite.install(spark)
    AggViewRewrite.register(
      AggViewRewrite.ViewSpec(wh, src, v, "bench", Seq("k"), aggs))
    val servedFresh = best(3)(q().count())
    val servedAvg = best(3)(qAvg().count())

    // stale: one appended batch (0.1% of the corpus), view NOT refreshed
    val batch = spark.range(n.toLong, n.toLong + math.max(n / 1000, 1))
      .select(col("id"), (col("id") % 64).cast("string").as("k"),
        (col("id") % 997).as("v"), md5(col("id").cast("string")).as("pad"))
    wh.append(batch, src)
    val servedStale = best(3)(q().count())

    AggViewRewrite.deregister(wh, v)
    val rawStale = best(3)(q().count())

    println(f"""{"rows":$n,"raw_s":$raw%.3f,"served_fresh_s":$servedFresh%.3f,""" +
      f""""raw_avg_s":$rawAvg%.3f,"served_avg_expr_key_s":$servedAvg%.3f,""" +
      f""""served_stale_s":$servedStale%.3f,"raw_after_append_s":$rawStale%.3f}""")
    spark.stop()
  }
}
