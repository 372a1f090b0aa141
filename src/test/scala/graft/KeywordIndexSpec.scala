package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.ops.KeywordIndex

/** The warehouse-native inverted text index ([[graft.ops.KeywordIndex]]):
  * probe-not-scan keyword search. Pins (1) exact agreement with the
  * brute-force tokenize-everything answer across probe/verify splits,
  * (2) the partition-pruning that makes the probe cheap — the postings
  * scan plans only the probe terms' bucket partitions, (3) O(batch)
  * appends whose new docs become searchable without a rebuild — with
  * df/dl/stats all folding forward so post-append BM25 equals a fresh
  * rebuild's — and (4) exactly-once streaming appends under the
  * batch-id watermark.
  */
class KeywordIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def docs: DataFrame =
    spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")

  private def freshIdx(buckets: Int = 16): (Warehouse, KeywordIndex) = {
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_kw").toString)
    val idx = new KeywordIndex(wh, "d", buckets)
    idx.build(docs)
    (wh, idx)
  }

  private def brute(d: DataFrame, terms: Seq[String]): Set[Long] =
    d.select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("n"))
      .filter(col("n") === terms.length)
      .collect().map(_.getAs[Long]("doc_id")).toSet

  private def got(df: DataFrame): Set[Long] =
    df.collect().map(_.getAs[Long]("doc_id")).toSet

  private def plannedFiles(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.metrics("numFiles").value }.sum
  }

  test("search agrees with brute force: probe-only and probe+verify") {
    val (_, idx) = freshIdx()
    // 2 terms, maxProbe=2: fully probed, no verify pass
    val t2 = Seq("dup", "vector")
    assert(got(idx.search(docs, t2)) == brute(docs, t2))
    // 3 terms: rarest two probe, the frequent one verifies on candidates
    val t3 = Seq("dup", "vector", "window")
    val r3 = got(idx.search(docs, t3))
    assert(r3 == brute(docs, t3))
    assert(r3.nonEmpty, "fixture terms must actually co-occur")
    // single term
    assert(got(idx.search(docs, Seq("dup"))) == brute(docs, Seq("dup")))
    // unknown term: empty, not an error
    assert(got(idx.search(docs, Seq("zzzznope"))).isEmpty)
  }

  test("probe scan plans only the probe terms' bucket partitions") {
    val (wh, idx) = freshIdx(buckets = 16)
    val total = plannedFiles(
      wh.read(Relation("idx", "kw", "d__postings")))
    // a 2-term probe touches at most 2 of 16 buckets
    val probed = plannedFiles(idx.search(docs, Seq("dup", "vector")))
    assert(probed * 4 <= total,
      s"probe must prune buckets: planned $probed of $total files")
  }

  test("append makes new docs searchable without rebuild, new terms included") {
    val s = spark; import s.implicits._
    val (_, idx) = freshIdx()
    val extra = Seq((900001L, "qqnovel dup vector window"),
      (900002L, "qqnovel only here")).toDF("doc_id", "text")
    idx.append(extra)
    val all = docs.unionByName(extra)
    // appended doc joins an existing conjunction
    val t = Seq("dup", "vector", "window")
    assert(got(idx.search(all, t)) == brute(all, t))
    assert(got(idx.search(all, t)).contains(900001L))
    // a term born in the append (absent from the frozen df table) probes
    // fine — df 0 sorts it first, and its postings are in the index
    assert(got(idx.search(all, Seq("qqnovel"))) == Set(900001L, 900002L))
  }

  test("append id-guard: a re-appended doc_id raises; the probe is O(batch)") {
    val s = spark; import s.implicits._
    val (wh, idx) = freshIdx()
    // fresh batch admits fine (and leaves a dl bloom behind)
    idx.append(Seq((910001L, "guard fresh one")).toDF("doc_id", "text"))
    // re-appending an already-indexed id (from the build OR a prior
    // append) must fail LOUDLY, naming the id — not double-count
    val someBuilt = docs.select("doc_id").head().getLong(0)
    val err = intercept[IllegalArgumentException] {
      idx.append(Seq((someBuilt, "smuggled again")).toDF("doc_id", "text"))
    }
    assert(err.getMessage.contains("append-only") &&
      err.getMessage.contains(someBuilt.toString), err.getMessage)
    val err2 = intercept[IllegalArgumentException] {
      idx.append(Seq((910001L, "appended twice")).toDF("doc_id", "text"))
    }
    assert(err2.getMessage.contains("910001"))
    // the rejected batches left NOTHING behind: stats + dl unchanged
    val stats = wh.read(Relation("idx", "kw", "d__stats")).collect().head
    val dlCount = wh.read(Relation("idx", "kw", "d__dl")).count()
    assert(stats.getAs[Long]("n_docs") == dlCount)
    assert(wh.read(Relation("idx", "kw", "d__dl"))
      .filter(col("doc_id") === someBuilt).count() == 1)
    // O(batch) pin: every dl version dir carries a doc_id bloom, so the
    // guard's clean-batch path does bloom tests + NO dl file reads —
    // assert the sidecars are complete (the cheap path's precondition)
    assert(wh.bloomsFor(Relation("idx", "kw", "d__dl"), "doc_id")
      .exists(_.nonEmpty), "dl blooms must cover every version dir")
    // a clean batch still admits after the rejections
    idx.append(Seq((910002L, "guard fresh two")).toDF("doc_id", "text"))
    assert(wh.read(Relation("idx", "kw", "d__dl"))
      .filter(col("doc_id") === 910002L).count() == 1)
  }

  test("append id-guard: intra-batch duplicates rejected; racing same-id appends admit exactly one") {
    val s = spark; import s.implicits._
    val (wh, idx) = freshIdx()
    // a batch whose OWN rows repeat a doc_id would double-index it just
    // like a re-append — rejected before anything lands
    val err = intercept[IllegalArgumentException] {
      idx.append(Seq((920001L, "dup one"), (920001L, "dup two"))
        .toDF("doc_id", "text"))
    }
    assert(err.getMessage.contains("duplicate") &&
      err.getMessage.contains("920001"), err.getMessage)
    assert(wh.read(Relation("idx", "kw", "d__dl"))
      .filter(col("doc_id") === 920001L).count() == 0)
    // two threads appending the SAME new id: the guard+write critical
    // section serializes on the dl lock, so exactly one admits and the
    // loser fails with the append-only error (pre-fix, both could pass
    // the guard before either's rows landed)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    (1 to 2).foreach { i =>
      pool.execute { () =>
        start.await()
        try {
          idx.append(Seq((930001L, s"racer $i content"))
            .toDF("doc_id", "text"))
          outcomes.add(true)
        } catch { case _: IllegalArgumentException => outcomes.add(false) }
      }
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    val oks = { import scala.jdk.CollectionConverters._
      outcomes.asScala.toSeq }
    assert(oks.count(identity) == 1 && oks.size == 2,
      s"exactly one racer must admit: $oks")
    assert(wh.read(Relation("idx", "kw", "d__dl"))
      .filter(col("doc_id") === 930001L).count() == 1)
    // stats stayed consistent with dl under the race
    val stats = wh.read(Relation("idx", "kw", "d__stats")).collect().head
    assert(stats.getAs[Long]("n_docs") ==
      wh.read(Relation("idx", "kw", "d__dl")).count())
  }

  test("row deletes compose: a deleted doc's postings vanish from search") {
    val s = spark; import s.implicits._
    val (wh, idx) = freshIdx()
    val hit = got(idx.search(docs, Seq("dup"))).head
    // forget one document: equality-delete its postings by doc_id — no
    // rebuild, and conjunctive search stops returning it
    assert(wh.deleteKeys(Relation("idx", "kw", "d__postings"),
      Seq(hit).toDF("doc_id")) == 1L)
    assert(!got(idx.search(docs, Seq("dup"))).contains(hit))
    // other docs' results are untouched
    assert(got(idx.search(docs, Seq("dup"))) ==
      brute(docs, Seq("dup")) - hit)
  }

  test("BM25 ranking agrees with an independent recompute; appends keep dl/stats exact") {
    val s = spark; import s.implicits._
    val (wh, idx) = freshIdx()
    val terms = Seq("dup", "vector", "window")
    // independent score recompute: Scala-side tokenize-everything BM25
    // with the same log-free integer-scaled arithmetic
    def bruteBm25(d: DataFrame): Seq[(Long, Long)] = {
      val toks = d.collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").toLowerCase.split("[^a-z0-9]+")
          .filter(_.nonEmpty).toSeq).toMap
      val n = toks.size.toDouble
      val tl = toks.values.map(_.size.toLong).sum.toDouble
      val dfm = terms.map(t =>
        t -> toks.values.count(_.contains(t)).toDouble).toMap
      val cand = toks.filter { case (_, ts) => terms.forall(ts.contains) }
      cand.map { case (id, ts) =>
        val dl = ts.size.toDouble
        id -> terms.map { t =>
          val tf = ts.count(_ == t).toDouble
          val idf = (2.0 * n - 2.0 * dfm(t) + 1.0) / (2.0 * dfm(t) + 1.0)
          val comp = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl * n / tl)))
          math.floor(1000000.0 * idf * comp).toLong
        }.sum
      }.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(10)
    }
    val got = idx.searchRanked(docs, terms).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq
    assert(got.nonEmpty && got == bruteBm25(docs))
    // append: postings, dl, stats AND df all fold forward — the grown
    // index must rank IDENTICALLY to the independent recompute over the
    // grown corpus (idf exactness without a rebuild)
    val extra = Seq((920001L, "dup vector window dup vector window"))
      .toDF("doc_id", "text")
    idx.append(extra)
    val all = docs.unionByName(extra)
    val got2 = idx.searchRanked(all, terms).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq
    assert(got2.map(_._1).contains(920001L))
    assert(got2 == bruteBm25(all))
    val st = wh.read(Relation("idx", "kw", "d__stats")).collect().head
    assert(st.getAs[Long]("n_docs") == docs.count() + 1)
    // the folded df table is row-identical to a fresh rebuild's
    val whF = new Warehouse(spark,
      Files.createTempDirectory("graft_kw_fresh").toString)
    val freshI = new KeywordIndex(whF, "d")
    freshI.build(all)
    def dfRows(w: Warehouse) = w.read(Relation("idx", "kw", "d__df"))
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("df"))).toSet
    assert(dfRows(wh) == dfRows(whF))
  }

  test("streaming appends are exactly-once under the batch-id watermark") {
    val s = spark; import s.implicits._
    val (wh, idx) = freshIdx()
    val postRel = Relation("idx", "kw", "d__postings")
    val n0 = wh.read(postRel).count()
    val batch = Seq((910001L, "dup vector stream")).toDF("doc_id", "text")
    assert(idx.appendStreamBatch(batch, "kw_ingest", 0L))
    val n1 = wh.read(postRel).count()
    assert(n1 == n0 + 3)
    // checkpoint-restart replay: detected no-op
    assert(!idx.appendStreamBatch(batch, "kw_ingest", 0L))
    assert(wh.read(postRel).count() == n1)
  }

  test("hybrid ANN leg: fused top-10 recall >= 0.9 vs the brute fusion") {
    val ann = graft.ops.KeywordQueries.xHybridSearchAnn(spark, sf)
    val rows = ann.collect()
    assert(rows.length == 10)
    // the entry's own recall gate — false here means the IVF dense leg
    // fused differently enough to break the >= 0.9 contract
    assert(rows.forall(_.getAs[Boolean]("ann_recall_ok")),
      "ANN-leg fusion recall below 0.9 vs brute fusion")
    // and the exact rows match the brute fusion (oracle-stable output)
    val brute = graft.ops.KeywordQueries.xHybridSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == brute)
  }

  test("releaseIndexes deletes the memoized temp-dir warehouses (session close)") {
    // build both index families for this (session, dir) key
    graft.ops.KeywordQueries.xKeywordSearch(spark, sf).collect()
    graft.ops.KeywordQueries.xHybridSearchAnn(spark, sf).collect()
    val dirs = graft.ops.KeywordQueries.trackedDirs(spark)
    assert(dirs.nonEmpty, "no index temp dirs were tracked")
    assert(dirs.forall(java.nio.file.Files.exists(_)))
    // releaseIndexes is what the registered SparkListener invokes on
    // application end; calling it directly asserts the same teardown
    graft.ops.KeywordQueries.releaseIndexes(spark)
    assert(dirs.forall(!java.nio.file.Files.exists(_)),
      s"index temp dirs survived release: ${dirs.filter(java.nio.file.Files.exists(_))}")
    assert(graft.ops.KeywordQueries.trackedDirs(spark).isEmpty)
    // memoization rebuilt transparently on next use
    assert(graft.ops.KeywordQueries.xKeywordSearch(spark, sf).collect()
      .nonEmpty)
  }
}
