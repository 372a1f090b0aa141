package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Incrementally-maintained aggregate views (`Warehouse.maintainAggView`):
  * the aggregating consumer `processIncrement` rules out. Pins that delta
  * folding is indistinguishable from a full recompute, that the
  * checkpoint commits atomically with the view rewrite (replay no-op),
  * and the decomposable-aggregate merge semantics (count folds by sum,
  * min/max by themselves).
  */
class AggViewSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def freshWh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_aggv").toString)
  def rel(n: String): Relation = Relation("db", "sch", n)

  private val aggs = Seq(("n", "count", "*"), ("total", "sum", "v"),
    ("lo", "min", "v"), ("hi", "max", "v"))

  private def viewRows(wh: Warehouse, v: Relation): Map[String, (Long, Long, Long, Long)] =
    wh.read(v).collect().map(r => r.getAs[String]("k") ->
      ((r.getAs[Long]("n"), r.getAs[Long]("total"),
        r.getAs[Long]("lo"), r.getAs[Long]("hi")))).toMap

  test("delta folds equal a full recompute; replay is a no-op") {
    val s = spark; import s.implicits._
    val wh = freshWh(); val src = rel("s1"); val v = rel("v1")
    wh.writeAtomic(Seq(("a", 10L), ("a", 20L), ("b", 5L)).toDF("k", "v"), src)
    assert(wh.maintainAggView(src, v, "c", Seq("k"), aggs).isDefined)
    assert(viewRows(wh, v) == Map("a" -> ((2L, 30L, 10L, 20L)),
      "b" -> ((1L, 5L, 5L, 5L))))
    // nothing new: no commit, view state and version count untouched
    val versions = wh.listVersions(v)
    assert(wh.maintainAggView(src, v, "c", Seq("k"), aggs).isEmpty)
    assert(wh.listVersions(v) == versions)
    // two appends, one maintenance run: both deltas fold at once
    wh.append(Seq(("a", 1L), ("c", 7L)).toDF("k", "v"), src)
    wh.append(Seq(("b", 100L)).toDF("k", "v"), src)
    assert(wh.maintainAggView(src, v, "c", Seq("k"), aggs).isDefined)
    assert(viewRows(wh, v) == Map("a" -> ((3L, 31L, 1L, 20L)),
      "b" -> ((2L, 105L, 5L, 100L)), "c" -> ((1L, 7L, 7L, 7L))))
    // cross-check: identical to a from-scratch recompute into a fresh view
    val v2 = rel("v1_full")
    assert(wh.maintainAggView(src, v2, "c2", Seq("k"), aggs).isDefined)
    assert(viewRows(wh, v2) == viewRows(wh, v))
  }

  test("maintenance reads the delta, not the source corpus") {
    val s = spark; import s.implicits._
    val wh = freshWh(); val src = rel("s2"); val v = rel("v2")
    wh.writeAtomic((1L to 1000L).map(i => ("k" + (i % 4), i)).toDF("k", "v"), src)
    wh.maintainAggView(src, v, "c", Seq("k"), aggs)
    // the incremental run's source-side scan must plan only the appended
    // version dir's files, not the base's
    wh.append(Seq(("k0", 5000L)).toDF("k", "v").coalesce(1), src)
    val baseFiles = wh.read(src).inputFiles.length
    wh.maintainAggView(src, v, "c", Seq("k"), aggs)
    assert(baseFiles > 1, "fixture must have multiple source files")
    assert(viewRows(wh, v)("k0")._4 == 5000L)
    // delta-only read is pinned structurally: readAppendedBetween of the
    // last fold's window plans 1 file
    val seqs = wh.listVersions(src)
    val delta = wh.readAppendedBetween(src, seqs(seqs.length - 2), seqs.last)
    assert(delta.inputFiles.length == 1,
      s"delta must be the appended file alone, got ${delta.inputFiles.length}")
  }

  test("checkpoint survives unrelated commits; invalid specs fail loudly") {
    val s = spark; import s.implicits._
    val wh = freshWh(); val src = rel("s3"); val v = rel("v3")
    wh.writeAtomic(Seq(("a", 1L)).toDF("k", "v"), src)
    wh.maintainAggView(src, v, "c", Seq("k"), aggs)
    wh.commitMeta(v, Map("note" -> "x"))
    assert(wh.maintainAggView(src, v, "c", Seq("k"), aggs).isEmpty,
      "checkpoint must survive a metadata commit")
    intercept[IllegalArgumentException] {
      wh.maintainAggView(src, v, "c", Seq("k"), Seq(("a", "avg", "v")))
    }
    intercept[IllegalArgumentException] {
      wh.maintainAggView(src, v, "c", Seq("k"), Nil)
    }
    intercept[IllegalArgumentException] {
      wh.maintainAggView(src, v, "c", Seq("k"),
        Seq(("k", "sum", "v"))) // alias collides with key
    }
  }

  test("non-append source maintenance self-heals with a full recompute") {
    val s = spark; import s.implicits._
    val wh = freshWh(); val src = rel("s_heal"); val v = rel("v_heal")
    wh.writeAtomic(Seq(("a", 10L), ("a", 20L), ("b", 5L)).toDF("k", "v"), src)
    assert(wh.maintainAggView(src, v, "c", Seq("k"), aggs).isDefined)
    // OVERWRITE the source: the old fold's rows no longer exist; a blind
    // incremental run would surface the new snapshot as "additions" and
    // double-count a / never retract b's min
    wh.writeAtomic(Seq(("a", 3L), ("c", 7L)).toDF("k", "v"), src)
    assert(wh.maintainAggView(src, v, "c", Seq("k"), aggs).isDefined)
    assert(viewRows(wh, v) == Map("a" -> ((1L, 3L, 3L, 3L)),
      "c" -> ((1L, 7L, 7L, 7L))),
      "overwritten source must rebuild the view, not fold on top")
    // deletes likewise disprove append-only-ness and rebuild
    wh.append(Seq(("a", 100L)).toDF("k", "v"), src)
    wh.deleteWhere(src, col("k") === "c", Seq("k"))
    assert(wh.maintainAggView(src, v, "c", Seq("k"), aggs).isDefined)
    assert(viewRows(wh, v) == Map("a" -> ((2L, 103L, 3L, 100L))))
    // append-only runs resume the incremental path afterwards
    wh.append(Seq(("d", 1L)).toDF("k", "v"), src)
    assert(wh.maintainAggView(src, v, "c", Seq("k"), aggs).isDefined)
    assert(viewRows(wh, v) == Map("a" -> ((2L, 103L, 3L, 100L)),
      "d" -> ((1L, 1L, 1L, 1L))))
  }

  test("exactly-once chain: stream batches into src, fold into the view") {
    val s = spark; import s.implicits._
    val wh = freshWh(); val src = rel("s5"); val v = rel("v5")
    // the foreachBatch sink shape: ingest under the batch-id watermark,
    // then fold the view — each half is exactly-once on its own relation,
    // so a crash-replay of either is a detected no-op
    def sink(batch: Seq[(String, Long)], id: Long): Unit = {
      wh.appendStreamBatch(batch.toDF("k", "v"), src, "ing", id)
      wh.maintainAggView(src, v, "fold", Seq("k"), aggs)
      ()
    }
    sink(Seq(("a", 1L), ("b", 2L)), 0L)
    sink(Seq(("a", 10L)), 1L)
    // checkpoint-restart: batch 1 redelivered — ingest skips (watermark),
    // fold sees nothing new (checkpoint), view state unchanged
    val before = viewRows(wh, v)
    sink(Seq(("a", 10L)), 1L)
    assert(viewRows(wh, v) == before)
    assert(viewRows(wh, v) == Map("a" -> ((2L, 11L, 1L, 10L)),
      "b" -> ((1L, 2L, 2L, 2L))))
  }

  test("partitioned view maintains correctly") {
    val s = spark; import s.implicits._
    val wh = freshWh(); val src = rel("s4"); val v = rel("v4")
    wh.writeAtomic(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), src)
    wh.maintainAggView(src, v, "c", Seq("k"), aggs, partitionCols = Seq("k"))
    wh.append(Seq(("a", 9L)).toDF("k", "v"), src)
    wh.maintainAggView(src, v, "c", Seq("k"), aggs, partitionCols = Seq("k"))
    assert(viewRows(wh, v) == Map("a" -> ((2L, 10L, 1L, 9L)),
      "b" -> ((1L, 2L, 2L, 2L))))
    assert(wh.listPartitions(v).toSet == Set("k=a", "k=b"))
  }
}
