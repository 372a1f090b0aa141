package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.materialize._

/** CDC apply (`Materializer.applyCdc` / `applyCdcStreamBatch`): folding a
  * replication batch — upserts + deletes with a per-batch total order —
  * into a keyed table. The distinctive semantics vs the merge family:
  * deletes (including deletes that EMPTY a partition), last-writer-wins
  * within a batch, idempotent re-apply (the exactly-once argument for the
  * stream sink's marker-after-data protocol).
  */
class CdcSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def freshWh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_cdc_wh").toString)
  def rel(n: String): Relation = Relation("db", "sch", n)

  def df(rows: Seq[(Long, String, Double)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "name", "score")
  }
  /** Change rows: (id, name, score, op, seq). */
  def cdc(rows: Seq[(Long, String, Double, String, Long)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "name", "score", "_op", "_seq")
  }
  private def snap(wh: Warehouse, r: Relation): Set[(Long, String, Double)] =
    wh.read(r).collect()
      .map(t => (t.getLong(t.fieldIndex("id")), t.getString(t.fieldIndex("name")),
        t.getDouble(t.fieldIndex("score")))).toSet

  test("fold: delete, last-writer-wins update, insert — and idempotent re-apply") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_cdc")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"))
    m.table(df(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))), r, cfg)
    val batch = cdc(Seq(
      (2L, "b", 2.0, "D", 1L),            // delete key 2
      (3L, "c", 30.0, "U", 1L),           // superseded update...
      (3L, "c", 33.0, "u", 2L),           // ...last writer wins (case-insensitive op)
      (3L, "c", 31.0, "D", 0L),           // stale delete, must lose to seq 2
      (4L, "d", 4.0, "I", 1L)))           // insert new key
    m.applyCdc(batch, r, cfg)
    val expected = Set((1L, "a", 1.0), (3L, "c", 33.0), (4L, "d", 4.0))
    assert(snap(wh, r) == expected)
    // idempotence: the same batch re-applied lands on the identical state
    m.applyCdc(batch, r, cfg)
    assert(snap(wh, r) == expected)
  }

  test("first batch creates the table; deletes in it are no-ops") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_cdc_new")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"))
    m.applyCdc(cdc(Seq(
      (1L, "a", 1.0, "I", 1L), (2L, "b", 2.0, "D", 1L))), r, cfg)
    assert(snap(wh, r) == Set((1L, "a", 1.0)))
  }

  test("partition scoping: untouched partitions keep their files; emptied partition drops") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_cdc_part")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      partitionBy = Seq("name"), partitionKeysStable = true)
    m.incremental(df(Seq((1L, "p1", 1.0), (2L, "p2", 2.0), (3L, "p3", 3.0))), r, cfg)
    val before = wh.manifestEntries(r).get.filter(_._2 == "name=p1")
    assert(before.nonEmpty)
    // delete BOTH of p2's... p2 has one row; also update p3's row
    m.applyCdc(cdc(Seq(
      (2L, "p2", 2.0, "D", 1L),
      (3L, "p3", 300.0, "U", 1L))), r, cfg)
    assert(snap(wh, r) == Set((1L, "p1", 1.0), (3L, "p3", 300.0)))
    // p1 was out of scope: its committed entries are untouched (same
    // version dir — the partition was neither read nor rewritten)
    assert(wh.manifestEntries(r).get.filter(_._2 == "name=p1") == before,
      "untouched partition must keep its exact committed entries")
    // p2 was EMPTIED by the delete: plain per-partition replacement would
    // leave it in place; the touched-value pinning must drop it
    assert(!wh.read(r).select("name").distinct().collect()
      .map(_.getString(0)).contains("p2"))
  }

  test("moved key: claimed partition disagrees with stored one — falls back, still correct") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_cdc_move")
    // NO partitionKeysStable: the guard must detect the move
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      partitionBy = Seq("name"))
    m.incremental(df(Seq((1L, "p1", 1.0), (2L, "p2", 2.0))), r, cfg)
    // key 1 moves from p1 to p2
    m.applyCdc(cdc(Seq((1L, "p2", 10.0, "U", 1L))), r, cfg)
    assert(snap(wh, r) == Set((1L, "p2", 10.0), (2L, "p2", 2.0)),
      "the old p1 row of the moved key must not survive")
  }

  test("stream sink: replays skip, marker survives") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_cdc_str")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"))
    assert(m.applyCdcStreamBatch(cdc(Seq((1L, "a", 1.0, "I", 1L))), r, cfg, "repl", 0L))
    assert(!m.applyCdcStreamBatch(cdc(Seq((1L, "a", 99.0, "U", 1L))), r, cfg, "repl", 0L),
      "replayed batch id must be skipped")
    assert(snap(wh, r) == Set((1L, "a", 1.0)))
    assert(m.applyCdcStreamBatch(cdc(Seq((1L, "a", 2.0, "U", 1L))), r, cfg, "repl", 1L))
    assert(snap(wh, r) == Set((1L, "a", 2.0)))
    assert(wh.streamWatermark(r, "repl").contains(1L))
  }
}
