package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.plans.AggViewRewrite

/** Transparent aggregate routing over maintained views
  * (`AggViewRewrite`): a matching GROUP BY over the SOURCE relation must
  * execute against the VIEW's files with identical results, and every
  * guard (staleness, non-covered aggregates, non-key filters, delta
  * scans) must fall back to the source scan — correctness first, the
  * optimization only when provably safe.
  */
class AggViewRewriteSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def freshWh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_mvr").toString)
  def rel(n: String): Relation = Relation("db", "sch", n)

  private val aggs = Seq(("n", "count", "*"), ("total", "sum", "v"),
    ("lo", "min", "v"), ("hi", "max", "v"))

  /** Paths of the files the OPTIMIZED plan scans (logical level: the
    * executed plan hides scans inside AdaptiveSparkPlanExec, whose
    * children don't traverse). Also forces one execution so a broken
    * rewrite that analyzes but cannot plan still fails here.
    */
  private def scannedFiles(df: DataFrame): Seq[String] = {
    df.count()
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.toSeq
          case _ => Nil
        }
    }.flatten
  }
  private def readsOnly(df: DataFrame, wh: Warehouse, r: Relation): Boolean = {
    val files = scannedFiles(df)
    files.nonEmpty && files.forall(_.contains(wh.path(r)))
  }

  /** Fixture: src with two committed batches, view maintained fresh,
    * rewrite installed + registered.
    */
  private def fixture(): (Warehouse, Relation, Relation) = {
    val s = spark; import s.implicits._
    val wh = freshWh(); val src = rel("events_c"); val v = rel("events_by_k")
    wh.writeAtomic(Seq(("a", 10L), ("a", 20L), ("b", 5L), ("c", 2L))
      .toDF("k", "v"), src)
    wh.append(Seq(("a", 1L), ("b", 100L)).toDF("k", "v"), src)
    assert(wh.maintainAggView(src, v, "mv", Seq("k"), aggs).isDefined)
    AggViewRewrite.install(spark)
    AggViewRewrite.register(
      AggViewRewrite.ViewSpec(wh, src, v, "mv", Seq("k"), aggs))
    (wh, src, v)
  }

  test("matching group-by over the source executes against the view") {
    val (wh, src, v) = fixture()
    val q = wh.read(src).groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("total"),
        min("v").as("lo"), max("v").as("hi"))
    assert(readsOnly(q, wh, v), "aggregate must scan the view, not the source")
    val got = q.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(("a", 3L, 31L, 1L, 20L), ("b", 2L, 105L, 5L, 100L),
      ("c", 1L, 2L, 2L, 2L)))
    AggViewRewrite.deregister(wh, v)
  }

  test("subset regroup and key filters ride the view; global agg coalesces") {
    val (wh, src, v) = fixture()
    // filter on a view key + a measure subset
    val filtered = wh.read(src).filter(col("k") =!= "c")
      .groupBy("k").agg(sum("v").as("total"))
    assert(readsOnly(filtered, wh, v))
    assert(filtered.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == Set(("a", 31L), ("b", 105L)))
    // global aggregate (no grouping): count folds with the empty-input 0
    val global = wh.read(src).agg(count(lit(1)).as("n"), max("v").as("hi"))
    assert(readsOnly(global, wh, v))
    assert(global.collect().head.getLong(0) == 6L)
    val none = wh.read(src).filter(col("k") === "zzz")
      .agg(count(lit(1)).as("n"))
    assert(readsOnly(none, wh, v))
    assert(none.collect().head.getLong(0) == 0L,
      "empty global count must fold to 0, not null")
    AggViewRewrite.deregister(wh, v)
  }

  test("guards: stale view, uncovered aggregates, non-key filters fall back") {
    val s = spark; import s.implicits._
    val (wh, src, v) = fixture()
    // non-covered aggregate (avg) — no registered partial
    val avgQ = wh.read(src).groupBy("k").agg(avg("v").as("m"))
    assert(readsOnly(avgQ, wh, src), "avg must scan the source")
    // filter on a NON-key column: the view cannot answer
    val measureFilter = wh.read(src).filter(col("v") > 5L)
      .groupBy("k").agg(count(lit(1)).as("n"))
    assert(readsOnly(measureFilter, wh, src))
    assert(measureFilter.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSet == Set(("a", 2L), ("b", 1L)))
    // an OVERWRITE invalidates append-only-ness: the view counted rows
    // that no longer exist, so nothing can serve but the source scan
    wh.writeAtomic(Seq(("a", 10L), ("z", 9L)).toDF("k", "v"), src)
    val post = wh.read(src).groupBy("k").agg(count(lit(1)).as("n"))
    assert(readsOnly(post, wh, src), "post-overwrite stale view must not serve")
    assert(post.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == Set(("a", 1L), ("z", 1L)))
    AggViewRewrite.deregister(wh, v)
  }

  test("stale view serves WITH the appended delta; deletes disprove it") {
    val s = spark; import s.implicits._
    val (wh, src, v) = fixture()
    // append past the checkpoint WITHOUT re-maintaining: the rewrite must
    // still answer exactly, folding view partials with the delta only —
    // scanning the view plus the appended version dir, never the base
    wh.append(Seq(("a", 4L), ("d", 50L)).toDF("k", "v"), src)
    val q = wh.read(src).groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("total"), min("v").as("lo"))
    val files = scannedFiles(q)
    assert(files.exists(_.contains(wh.path(v))), "view must be scanned")
    val srcFiles = files.filter(_.contains(wh.path(src)))
    assert(srcFiles.nonEmpty, "the appended delta must be scanned")
    val baseFiles = wh.read(src).inputFiles.length
    assert(srcFiles.size < baseFiles,
      s"delta serving must scan fewer source files than the full table " +
        s"(${srcFiles.size} vs $baseFiles)")
    assert(q.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3))).toSet ==
      Set(("a", 4L, 35L, 1L), ("b", 2L, 105L, 5L), ("c", 1L, 2L, 2L),
        ("d", 1L, 50L, 50L)))
    // a delete in the stale range disproves append-only-ness
    wh.deleteWhere(src, col("k") === "b", Seq("k"))
    val afterDel = wh.read(src).groupBy("k").agg(count(lit(1)).as("n"))
    assert(readsOnly(afterDel, wh, src), "post-delete must scan the source")
    assert(afterDel.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == Set(("a", 4L), ("c", 1L), ("d", 1L)))
    AggViewRewrite.deregister(wh, v)
  }

  test("multiple views over one source: the covering one serves; kill switch") {
    val s = spark; import s.implicits._
    val wh = freshWh(); val src = rel("multi_src")
    val vA = rel("v_by_k"); val vB = rel("v_by_k2")
    wh.writeAtomic(Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 4L))
      .toDF("k", "k2", "v"), src)
    val aggsA = Seq(("n", "count", "*"))
    val aggsB = Seq(("n", "count", "*"), ("total", "sum", "v"))
    assert(wh.maintainAggView(src, vA, "a", Seq("k"), aggsA).isDefined)
    assert(wh.maintainAggView(src, vB, "b", Seq("k2"), aggsB).isDefined)
    AggViewRewrite.install(spark)
    AggViewRewrite.register(
      AggViewRewrite.ViewSpec(wh, src, vA, "a", Seq("k"), aggsA))
    AggViewRewrite.register(
      AggViewRewrite.ViewSpec(wh, src, vB, "b", Seq("k2"), aggsB))
    try {
      // covered only by vB: a first-matched-but-uncovered vA must not
      // abort the rewrite
      val q = wh.read(src).groupBy("k2").agg(sum("v").as("total"))
      assert(readsOnly(q, wh, vB), "the covering view must serve")
      assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        == Set(("x", 5L), ("y", 2L)))
      // covered by vA alone
      val qa = wh.read(src).groupBy("k").agg(count(lit(1)).as("n"))
      assert(readsOnly(qa, wh, vA))
      // kill switch: same query scans the source, same answer
      spark.conf.set("graft.mv.rewrite.enabled", "false")
      try {
        val off = wh.read(src).groupBy("k2").agg(sum("v").as("total"))
        assert(readsOnly(off, wh, src), "kill switch must disable routing")
        assert(off.collect().map(r => (r.getString(0), r.getLong(1))).toSet
          == Set(("x", 5L), ("y", 2L)))
      } finally spark.conf.unset("graft.mv.rewrite.enabled")
    } finally {
      AggViewRewrite.deregister(wh, vA)
      AggViewRewrite.deregister(wh, vB)
    }
  }

  test("avg folds from registered sum+count partials of the same column") {
    val s = spark; import s.implicits._
    val wh = freshWh(); val src = rel("avg_src"); val v = rel("avg_view")
    // a group with only-null measures: avg must stay null, never 0
    wh.writeAtomic(Seq(("a", Some(10L)), ("a", Some(20L)), ("a", Some(1L)),
      ("b", Some(5L)), ("b", Some(100L)), ("c", Some(2L)), ("d", None))
      .toDF("k", "v"), src)
    val ag = Seq(("cnt_v", "count", "v"), ("sum_v", "sum", "v"))
    assert(wh.maintainAggView(src, v, "mv", Seq("k"), ag).isDefined)
    AggViewRewrite.install(spark)
    AggViewRewrite.register(
      AggViewRewrite.ViewSpec(wh, src, v, "mv", Seq("k"), ag))
    try {
      val q = wh.read(src).groupBy("k").agg(avg("v").as("m"))
      assert(readsOnly(q, wh, v), "avg over sum+count partials must ride the view")
      val got = q.collect().map(r => (r.getString(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]))).toSet
      assert(got == Set(("a", Some(31.0 / 3)), ("b", Some(52.5)),
        ("c", Some(2.0)), ("d", None)))
    } finally AggViewRewrite.deregister(wh, v)
    // count(*)-only registration must NOT serve avg: null rows would skew
    val v2 = rel("avg_view2")
    val ag2 = Seq(("n", "count", "*"), ("sum_v", "sum", "v"))
    assert(wh.maintainAggView(src, v2, "mv2", Seq("k"), ag2).isDefined)
    AggViewRewrite.register(
      AggViewRewrite.ViewSpec(wh, src, v2, "mv2", Seq("k"), ag2))
    try {
      val q2 = wh.read(src).groupBy("k").agg(avg("v").as("m"))
      assert(readsOnly(q2, wh, src),
        "count(*) never substitutes for count(col) in an avg fold")
    } finally AggViewRewrite.deregister(wh, v2)
  }

  test("expression grouping keys coarsen the view") {
    val s = spark; import s.implicits._
    val wh = freshWh(); val src = rel("expr_src"); val v = rel("expr_view")
    wh.writeAtomic(Seq(("a1", 10L), ("a2", 20L), ("b1", 5L), ("b2", 7L),
      ("c9", 2L)).toDF("k", "v"), src)
    val ag = Seq(("n", "count", "*"), ("total", "sum", "v"),
      ("lo", "min", "v"))
    assert(wh.maintainAggView(src, v, "mv", Seq("k"), ag).isDefined)
    AggViewRewrite.install(spark)
    AggViewRewrite.register(
      AggViewRewrite.ViewSpec(wh, src, v, "mv", Seq("k"), ag))
    try {
      // substring(k,1,1) merges the per-k partials into coarser groups
      val q = wh.read(src).groupBy(substring(col("k"), 1, 1).as("g"))
        .agg(count(lit(1)).as("n"), sum("v").as("total"), min("v").as("lo"))
      assert(readsOnly(q, wh, v),
        "deterministic key-derived grouping must ride the view")
      val got = q.collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
      assert(got == Set(("a", 2L, 30L, 10L), ("b", 2L, 12L, 5L),
        ("c", 1L, 2L, 2L)))
      // a non-deterministic key derivation must fall back
      val nd = wh.read(src).groupBy((rand() * 0).cast("int").as("g"))
        .agg(count(lit(1)).as("n"))
      assert(readsOnly(nd, wh, src), "non-deterministic keys must not route")
    } finally AggViewRewrite.deregister(wh, v)
  }

  test("prefix-named sibling tables never cross-route") {
    val s = spark; import s.implicits._
    val wh = freshWh()
    // `evt` vs `evt2`: the candidate gate is a path-prefix check, and a
    // name that is a string-prefix of another must not pass the other's
    // gate in either direction
    val short = rel("evt"); val long = rel("evt2")
    val vShort = rel("v_evt")
    wh.writeAtomic(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), short)
    wh.writeAtomic(Seq(("a", 10L), ("a", 20L), ("c", 30L)).toDF("k", "v"), long)
    val ag = Seq(("n", "count", "*"), ("total", "sum", "v"))
    assert(wh.maintainAggView(short, vShort, "mv", Seq("k"), ag).isDefined)
    AggViewRewrite.install(spark)
    AggViewRewrite.register(
      AggViewRewrite.ViewSpec(wh, short, vShort, "mv", Seq("k"), ag))
    try {
      // a matching aggregate over the LONGER-named table must scan that
      // table — `evt`'s view cannot answer for `evt2`
      val q = wh.read(long).groupBy("k").agg(sum("v").as("total"))
      assert(readsOnly(q, wh, long),
        "evt2's aggregate must not be served from evt's view")
      assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        == Set(("a", 30L), ("c", 30L)))
      // and the short-named table still routes to its own view
      val qs = wh.read(short).groupBy("k").agg(count(lit(1)).as("n"))
      assert(readsOnly(qs, wh, vShort))
    } finally AggViewRewrite.deregister(wh, vShort)
  }

  test("maintenance delta folds are never rewritten (no feedback loop)") {
    val s = spark; import s.implicits._
    val (wh, src, v) = fixture()
    // with the rule live, further maintenance cycles must stay correct:
    // the partial-agg over readAppendedBetween carries a SUBSET dir set
    // and must not be served from the view it is maintaining
    wh.append(Seq(("a", 7L), ("e", 3L)).toDF("k", "v"), src)
    assert(wh.maintainAggView(src, v, "mv", Seq("k"), aggs).isDefined)
    val got = wh.read(v).collect().map(r => r.getAs[String]("k") ->
      ((r.getAs[Long]("n"), r.getAs[Long]("total")))).toMap
    assert(got == Map("a" -> ((4L, 38L)), "b" -> ((2L, 105L)),
      "c" -> ((1L, 2L)), "e" -> ((1L, 3L))),
      s"view must fold the delta exactly once, got $got")
    AggViewRewrite.deregister(wh, v)
  }
}
