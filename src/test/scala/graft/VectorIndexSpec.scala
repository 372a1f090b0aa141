package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Relation, Warehouse}
import graft.ops.Similarity

/** The persisted IVF vector index: build fits k-means ONCE and writes the
  * corpus cell-partitioned; queries must partition-prune to their probed
  * cells (the executed plan is inspected), clear a recall floor against
  * the exact brute-force top-k, and see appended vectors without a refit.
  */
class VectorIndexSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      scans(q.plan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case o => o.children.flatMap(scans)
  }

  test("build once, queries prune to probed cells, recall floor, append visible") {
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_vidx").toString)
    val e = Similarity.vecs(spark, sf)
    val idx = new Similarity.VectorIndex(wh, "emb", k = 8, nprobe = 2,
      maxProbe = 4, probeMargin = 0.1)
    idx.build(e)

    // every vector landed in exactly one of ≤ k cells
    val cells = wh.read(Relation("idx", "ann", "emb__cells"))
    assert(cells.count() == e.count())
    val nCells = cells.select("cell").distinct().count()
    assert(nCells > 1 && nCells <= 8, s"cells: $nCells")

    // recall@5 vs exact brute force on the same query sample
    val q = e.filter(col("vec_id") % 50 === 0)
    val got = idx.query(q, topK = 5)
    val gotPairs = got.select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.knnBrute(spark, sf)
      .select(col("q_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (gotPairs intersect brute).size.toDouble / brute.size
    assert(recall >= 0.7, s"recall@5 = $recall")
    assert(gotPairs.groupBy(_._1).forall(_._2.size <= 5))

    // the multi-probe ring is ADAPTIVE: probe counts vary per query
    // (boundary queries widen toward maxProbe, interior queries stay at
    // nprobe) and respect the [nprobe, maxProbe] bound
    val pc = idx.probeCounts(q).select("n_cells").collect().map(_.getInt(0))
    assert(pc.forall(c => c >= 2 && c <= 4), s"probe counts out of bound: ${pc.toSeq}")
    assert(pc.distinct.length > 1,
      s"probe counts should vary across queries, got ${pc.toSeq}")

    // the candidate scan is partition-pruned: with nprobe=2 a SINGLE
    // query touches ≤ 2 of the cells' partitions
    val q1 = idx.query(e.filter(col("vec_id") === 0L), topK = 5)
    q1.collect()
    val cellScan = scans(q1.queryExecution.executedPlan)
      .find(_.output.exists(_.name == "cell"))
      .getOrElse(fail("no cell-partitioned scan in the query plan"))
    assert(cellScan.partitionFilters.nonEmpty,
      "probe filter must reach the scan as a partition filter")
    val full = wh.read(Relation("idx", "ann", "emb__cells"))
    full.collect()
    val totalFiles = scans(full.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    assert(cellScan.metrics("numFiles").value * 2 <= totalFiles,
      s"pruned scan read ${cellScan.metrics("numFiles").value} of " +
        s"$totalFiles files — not pruned")

    // append: a brand-new vector near an existing one becomes findable
    // WITHOUT a refit (centroids frozen)
    val s2 = spark
    import s2.implicits._
    val probe = e.filter(col("vec_id") === 0L)
      .select(col("v")).collect().head.getSeq[Double](0)
    val shifted = probe.map(x => x * 0.995 + 0.001)
    idx.append(Seq((900001L, shifted)).toDF("vec_id", "v"))
    val got2 = idx.query(e.filter(col("vec_id") === 0L), topK = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got2.contains(900001L),
      s"appended near-copy must surface in top-5, got $got2")
  }

  test("PQ codes path: recall floor, cell-pruned codes scan, appends keep codes in lockstep") {
    val s2 = spark; import s2.implicits._
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_vidx_pq").toString)
    val e = Similarity.vecs(spark, sf)
    val idx = new Similarity.VectorIndex(wh, "emb", k = 8, nprobe = 2,
      maxProbe = 4, probeMargin = 0.1)
    idx.build(e)
    val codeRel = Relation("idx", "ann", "emb__codes")
    // codes in lockstep with the floats: one 8-nibble code per vector
    assert(wh.read(codeRel).count() == e.count())
    assert(wh.read(codeRel).select("code").head.getSeq[Int](0).size == 8)

    // recall@5 of the ADC+rerank path vs the float path's ground truth:
    // same probed cells, so this isolates what the 64x compression loses
    val q = e.filter(col("vec_id") % 50 === 0)
    val exact = idx.query(q, topK = 5).select("q_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaPq = idx.queryPq(q, topK = 5).select("q_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (viaPq intersect exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"PQ recall@5 vs float path = $recall")

    // the CODES scan partition-prunes exactly like the float scan
    val q1 = idx.queryPq(e.filter(col("vec_id") === 0L), topK = 5)
    q1.collect()
    val codeScan = scans(q1.queryExecution.executedPlan)
      .find(s => s.output.exists(_.name == "code"))
      .getOrElse(fail("no code scan in the PQ query plan"))
    assert(codeScan.partitionFilters.nonEmpty,
      "probe filter must reach the codes scan as a partition filter")
    val fullCodes = wh.read(codeRel)
    fullCodes.collect()
    val totalCodeFiles = scans(fullCodes.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    assert(codeScan.metrics("numFiles").value * 2 <= totalCodeFiles,
      s"codes scan read ${codeScan.metrics("numFiles").value} of " +
        s"$totalCodeFiles files — not pruned")

    // append keeps codes in lockstep: the near-copy surfaces via PQ too
    val probe = e.filter(col("vec_id") === 0L)
      .select(col("v")).collect().head.getSeq[Double](0)
    idx.append(Seq((910001L, probe.map(x => x * 0.995 + 0.001)))
      .toDF("vec_id", "v"))
    assert(wh.read(codeRel).filter(col("vec_id") === 910001L).count() == 1)
    val got2 = idx.queryPq(e.filter(col("vec_id") === 0L), topK = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got2.contains(910001L),
      s"appended near-copy must surface in PQ top-5, got $got2")
  }

  test("row deletes compose: a deleted vector vanishes without a rebuild") {
    val s2 = spark; import s2.implicits._
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_vidx_del").toString)
    val e = Similarity.vecs(spark, sf)
    val idx = new Similarity.VectorIndex(wh, "emb", k = 4, nprobe = 2)
    idx.build(e)
    // plant an exact near-copy of vector 0, confirm it surfaces
    val probe = e.filter(col("vec_id") === 0L)
      .select(col("v")).collect().head.getSeq[Double](0)
    idx.append(Seq((900001L, probe.map(x => x * 0.995 + 0.001)))
      .toDF("vec_id", "v"))
    val q = e.filter(col("vec_id") === 0L)
    def top5: Set[Long] = idx.query(q, topK = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(top5.contains(900001L))
    // GDPR the vector out: one equality delete on the cell relation —
    // no refit, no rewrite, and the probe no longer returns it
    assert(wh.deleteKeys(Relation("idx", "ann", "emb__cells"),
      Seq(900001L).toDF("vec_id")) == 1L)
    assert(!top5.contains(900001L),
      "deleted vector must vanish from probes")
  }

  test("drift ledger tracks appends; refit restores recall, replays racers, carries watermarks") {
    val s2 = spark; import s2.implicits._
    import graft.functions.VectorFunctions.cosine_sim
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_vidx_r").toString)
    val e = Similarity.vecs(spark, sf)
    // wider probe ring than the build-only test: this corpus DOUBLES
    // mid-test (drifted twins), and probe width is the operator's recall
    // lever as cell density grows
    val idx = new Similarity.VectorIndex(wh, "emb", k = 8, nprobe = 3,
      maxProbe = 6, probeMargin = 0.15)
    idx.build(e)
    val d0 = idx.drift()
    assert(d0.ratio == 1.0 && d0.nVectors == e.count(), d0.toString)

    // a maximally-drifted batch (negated vectors sit across the sphere
    // from every frozen centroid): the folded ledger must move
    val drifted = e.select((col("vec_id") + 700000L).as("vec_id"),
      transform(col("v"), x => x * -1).as("v"))
    idx.append(drifted)
    val d1 = idx.drift()
    // the synthetic embeddings are near-unstructured (the round-10
    // recall-gate finding), so even negated vectors find a weakly-close
    // centroid — the separation is real but bounded; kmeansFit is
    // deterministic, so the measured 1.053 ratio is stable
    assert(d1.currentMeanDist > d0.currentMeanDist && d1.ratio > 1.02,
      s"drift must register the shifted appends: $d1")

    // stream batch 0 lands pre-refit; its watermark must survive the swap
    val streamed = e.limit(3)
      .select((col("vec_id") + 800000L).as("vec_id"), col("v"))
    assert(idx.appendStreamBatch(streamed, "ingest", 0L))

    // refit, with a RACING append injected between the heavy phase and
    // the flip — exactly where an untracked batch would be lost
    val racerVec = e.filter(col("vec_id") === 0L)
      .select(col("v")).collect().head.getSeq[Double](0)
    val racer = Seq((990001L, racerVec.map(x => x * 0.99 + 0.002)))
      .toDF("vec_id", "v")
    idx.refit(onBeforeFlip = () => idx.append(racer))
    assert(idx.currentGen() == 1L)

    // nothing lost: full corpus + drifted + streamed + racer
    val cells1 = wh.read(Relation("idx", "ann", "emb__g1__cells"))
    assert(cells1.count() == e.count() * 2 + 3 + 1)
    // the racer (replayed from the delta) is findable post-swap
    val got = idx.query(e.filter(col("vec_id") === 0L), topK = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got.contains(990001L), s"replayed racer must surface, got $got")
    // the carried watermark makes a checkpoint-restart replay a no-op
    assert(!idx.appendStreamBatch(streamed, "ingest", 0L))
    assert(cells1.count() == e.count() * 2 + 3 + 1)

    // the new baseline covers the whole (drifted-included) corpus: the
    // ledger re-anchors at ~1
    val d2 = idx.drift()
    assert(d2.ratio < 1.05, s"post-refit drift must re-anchor: $d2")

    // post-refit recall floor vs an in-test brute force over EVERYTHING
    // the index now holds (original + drifted + streamed dups + racer)
    val union = e.unionByName(drifted).unionByName(streamed)
      .unionByName(racer)
    val q = e.filter(col("vec_id") % 50 === 0)
    val brute = q.alias("q").join(union.alias("c"),
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("neighbor_id"),
        round(cosine_sim(col("q.v"), col("c.v")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rn") <= 5)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotPairs = idx.query(q, topK = 5)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (gotPairs intersect brute).size.toDouble / brute.size
    assert(recall >= 0.7, s"post-refit recall@5 = $recall")

    // the NEXT stream batch admits into the new generation
    assert(idx.appendStreamBatch(streamed
      .select((col("vec_id") + 10000L).as("vec_id"), col("v")), "ingest", 1L))

    // a second refit retires generation 1's predecessor (gen 0 names)
    idx.refit()
    assert(idx.currentGen() == 2L)
    assert(!wh.exists(Relation("idx", "ann", "emb__cells")),
      "the pre-previous generation must be retired")
    assert(wh.exists(Relation("idx", "ann", "emb__g2__cells")))
  }

  test("maintain: drift-thresholded refit; retired generations reap only after the grace window") {
    val s2 = spark; import s2.implicits._
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_vidx_m").toString)
    val e = Similarity.vecs(spark, sf)
    val idx = new Similarity.VectorIndex(wh, "mnt", k = 8, nprobe = 3,
      maxProbe = 6, probeMargin = 0.15)
    idx.build(e)
    // fresh index sits at ratio 1.0: below threshold → no refit
    val r0 = graft.tools.GraftCli.maintain(wh, threshold = 1.02,
      graceMs = 0L, dry = false, only = None)
    assert(r0.size == 1 && r0.head.contains("ok"), r0.toString)
    assert(idx.currentGen() == 0L)
    // drift past the threshold (negated twins — the drift-test pattern)
    idx.append(e.select((col("vec_id") + 700000L).as("vec_id"),
      transform(col("v"), x => x * -1).as("v")))
    assert(idx.drift().ratio > 1.02)
    // dry run reports the decision but must not act
    val rd = graft.tools.GraftCli.maintain(wh, 1.02, 0L, dry = true,
      only = Some("mnt"))
    assert(rd.head.contains("would refit"), rd.toString)
    assert(idx.currentGen() == 0L)
    val r1 = graft.tools.GraftCli.maintain(wh, 1.02, 0L, dry = false, None)
    assert(r1.head.contains("refit gen 0 -> 1"), r1.toString)
    assert(idx.currentGen() == 1L)
    // the refit re-anchored the ledger: the next pass is a no-op
    val r2 = graft.tools.GraftCli.maintain(wh, 1.02, 0L, dry = false, None)
    assert(r2.head.contains("ok"), r2.toString)
    assert(idx.currentGen() == 1L)

    // force a second refit under a LONG grace (threshold 0 refits
    // unconditionally): generation 0 — unreachable since the g1 flip —
    // must SURVIVE the refit, the drain window for a reader bound to it
    val r3 = graft.tools.GraftCli.maintain(wh, threshold = 0.0,
      graceMs = 3600000L, dry = false, only = Some("mnt"))
    assert(r3.head.contains("refit gen 1 -> 2"), r3.toString)
    assert(wh.exists(Relation("idx", "ann", "mnt__cells")),
      "gen 0 must outlive the flip while its grace window is open")
    // unknown index name fails loudly
    intercept[IllegalArgumentException] {
      graft.tools.GraftCli.maintain(wh, 1.2, 0L, dry = false, Some("nope"))
    }
    // once the grace lapses, gc reaps it (clock injected)
    val graced = new Similarity.VectorIndex(wh, "mnt", k = 8,
      retireGraceMs = 3600000L)
    assert(graced.gc(nowMs = System.currentTimeMillis()).isEmpty,
      "grace still open — nothing to reap")
    val reaped = graced.gc(nowMs = System.currentTimeMillis() + 7200000L)
    assert(reaped == Seq(0L), reaped.toString)
    assert(!wh.exists(Relation("idx", "ann", "mnt__cells")))
    // gen 1 (current−1) is never reaped; gen 2 is live
    assert(wh.exists(Relation("idx", "ann", "mnt__g1__cells")))
    assert(wh.exists(Relation("idx", "ann", "mnt__g2__cells")))
  }

  test("streaming appends are exactly-once under the batch-id watermark") {
    val s2 = spark
    import s2.implicits._
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_vidx_s").toString)
    val e = Similarity.vecs(spark, sf)
    val idx = new Similarity.VectorIndex(wh, "emb", k = 4, nprobe = 2)
    idx.build(e)
    val n0 = wh.read(Relation("idx", "ann", "emb__cells")).count()
    val batch = e.limit(5)
      .select((col("vec_id") + 800000L).as("vec_id"), col("v"))
    val c0 = wh.read(Relation("idx", "ann", "emb__codes")).count()
    assert(idx.appendStreamBatch(batch, "emb_ingest", 0L))
    val n1 = wh.read(Relation("idx", "ann", "emb__cells")).count()
    assert(n1 == n0 + 5)
    // the codes relation rode the same batch under its own watermark
    val c1 = wh.read(Relation("idx", "ann", "emb__codes")).count()
    assert(c1 == c0 + 5)
    // checkpoint-restart replay: detected no-op on BOTH relations
    assert(!idx.appendStreamBatch(batch, "emb_ingest", 0L))
    assert(wh.read(Relation("idx", "ann", "emb__cells")).count() == n1)
    assert(wh.read(Relation("idx", "ann", "emb__codes")).count() == c1)
  }
}
