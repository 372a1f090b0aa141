package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.VectorFunctions.cosine_sim

/** Similarity search over the `embeddings` table (`vec_id, embedding
  * ARRAY<FLOAT>[64], label`).
  *
  * Two paths: brute-force cosine top-k (the exact baseline — a broadcast
  * of the query set against a single scan of the corpus, O(Q·N) but one
  * pass, no shuffle of the big side), and a sign-bucket LSH variant (the
  * scale path — candidates come from an equi-join on a hash bucket, so
  * the corpus side is shuffled once on bucket and never cross-joined).
  *
  * The scalar kernel is [[graft.functions.CosineSimilarity]], a native
  * codegen'd Catalyst expression (single fused loop in Tungsten).
  */
object Similarity {
  import TData._

  // Memoized+cached: five similarity queries each start from the same
  // float→double transformed corpus, and the KNN self-joins read it for
  // both the corpus and query sides — uncached, each side recomputes the
  // transform and re-scans the parquet.
  private[graft] def vecs(s: SparkSession, d: String): DataFrame =
    SessionCache.getOrElseUpdate(s, s"vecs:$d") {
      embeddings(s, d).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
    }

  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("knn_rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id").asc)))
      .filter(col("knn_rank") <= k)

  /** Exact brute-force top-5 neighbors for every 50th vector. */
  def knnBrute(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(cosine_sim(col("qv"), col("v")), 6).as("cos_sim"))
    topK(scored, 5)
  }

  val knnBruteSql: String =
    """WITH e AS (SELECT vec_id,
      |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 50 = 0),
      |scored AS (
      |  SELECT q_id, e.vec_id AS neighbor_id,
      |    round(list_dot_product(qv, v)
      |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
      |      6) AS cos_sim
      |  FROM q JOIN e ON e.vec_id <> q_id)
      |SELECT q_id, neighbor_id, cos_sim, rn AS knn_rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
      |  FROM scored) WHERE rn <= 5""".stripMargin

  /** 4 disjoint W-dim sign bands over the 64-dim vector (multi-table
    * sign-LSH) with ADAPTIVE width W = clamp(8..16, ceil(log2 N)) — the
    * same growth law as [[TextOps.simhashBandBits]]: expected bucket
    * occupancy N/2^W stays O(1) as the corpus grows, so the within-bucket
    * self-join stays linear in N (a FIXED keyspace, e.g. 8-dim/256
    * buckets, is O(N²/256) — quadratic at corpus scale), while a small
    * corpus still fills its buckets. Band b reads dims b·W+1..b·W+W
    * (4·W ≤ 64 always). Candidates agree on AT LEAST ONE band, which
    * also closes the recall hole where one early sign flip hid an
    * otherwise-identical vector.
    */
  private[graft] def signBands(e: DataFrame, w: Int): DataFrame =
    e.select(col("vec_id"), col("v"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band_idx"), expr(
          s"aggregate(transform(sequence(1, $w), " +
            s"i -> IF(element_at(v, ${b} * $w + i) > 0D, shiftleft(1L, i - 1), 0L)), " +
            "0L, (a, x) -> a + x)").as("band_val"))
      }: _*)).as("bd"))
      .select(col("vec_id"), col("v"),
        col("bd.band_idx").as("band_idx"), col("bd.band_val").as("band_val"))

  /** Oracle mirror of the adaptive width + banding: `p.w` is the
    * integer-exact ceil(log2 N) clamp (bit length, not floating log2).
    */
  private val signBandsSql: String =
    """p AS (SELECT least(16, greatest(8,
      |        length(bin(greatest(2, count(*)) - 1)))) AS w
      |      FROM e),
      |bands AS (
      |  SELECT vec_id, v, b AS band_idx,
      |    list_sum(list_transform(generate_series(1, w),
      |      i -> CASE WHEN v[b * w + i] > 0 THEN 1 << (i - 1) ELSE 0 END))::BIGINT
      |      AS band_val
      |  FROM e, p, UNNEST(generate_series(0, 3)) AS t(b))""".stripMargin

  /** MULTI-PROBE LSH-banded approximate top-5: each query probes, per
    * band, its own band value PLUS its W Hamming-1 sign flips (W+1 probe
    * keys per band). Exact wide-band matches are rare — P(W signs agree)
    * decays fast with angle, so single-probe wide bands have near-zero
    * recall on anything but near-duplicates — while a one-bit sign flip
    * is the dominant miss mode; probing the Hamming-1 ring restores
    * recall WITHOUT shrinking the keyspace (bucket occupancy stays
    * N/2^W per band; probe cost is a fixed ×(W+1) on the broadcast query
    * side only). Candidates share any probed key; same ranking as brute
    * force on the candidate set; the oracle mirrors the same probing, so
    * results stay deterministic.
    */
  def knnLshBucket(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val w = TextOps.simhashBandBits(e.count()) // same width law, same oracle form
    val bands = signBands(e, w)
    val q = bands.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("band_idx").as("q_band_idx"),
        explode(expr(
          s"transform(sequence(0, $w), j -> IF(j = 0, band_val, " +
            "CAST(band_val AS BIGINT) ^ shiftleft(1L, j - 1)))"))
          .as("q_band_val"))
    val scored = bands.join(broadcast(q),
        col("band_idx") === col("q_band_idx") &&
          col("band_val") === col("q_band_val") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(cosine_sim(col("qv"), col("v")), 6).as("cos_sim"))
      .distinct() // a candidate can match several probes/bands
    topK(scored, 5)
  }

  val knnLshBucketSql: String =
    s"""WITH e0 AS (SELECT vec_id,
      |              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |            FROM embeddings),
      |e AS (SELECT vec_id, v FROM e0),
      |$signBandsSql,
      |q AS (SELECT vec_id AS q_id, v AS qv, band_idx AS q_band_idx,
      |        CASE WHEN j = 0 THEN band_val
      |             ELSE xor(band_val, 1::BIGINT << (j - 1)) END AS q_band_val
      |      FROM bands, p, UNNEST(generate_series(0, w)) AS t(j)
      |      WHERE vec_id % 50 = 0),
      |scored AS (
      |  SELECT DISTINCT q_id, bands.vec_id AS neighbor_id,
      |    round(list_dot_product(qv, v)
      |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
      |      6) AS cos_sim
      |  FROM q JOIN bands ON bands.band_idx = q.q_band_idx
      |    AND bands.band_val = q.q_band_val AND bands.vec_id <> q.q_id)
      |SELECT q_id, neighbor_id, cos_sim, rn AS knn_rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
      |  FROM scored) WHERE rn <= 5""".stripMargin

  /** Brute-force KNN again, but via the typed [[graft.functions.TopKAggregator]]
    * instead of a window sort: partial aggregation carries only k entries
    * per group through the shuffle — the form that survives when each
    * query has millions of candidates. Identical output contract (and
    * oracle) as [[knnBrute]].
    */
  def knnTopKAgg(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(cosine_sim(col("qv"), col("v")), 6).as("cos_sim"))
    topKAgg(s, scored, 5)
  }

  /** Bounded top-k per q_id via [[graft.functions.TopKAggregator]]: at most
    * k (score, id) entries per group cross the shuffle (map-side combine),
    * vs a `row_number` window sorting every group's FULL candidate list
    * inside one shuffle partition. Same (score desc, id asc) order and
    * output contract as [[topK]].
    */
  private def topKAgg(s: SparkSession, scored: DataFrame, k: Int,
                      scoreCol: String = "cos_sim"): DataFrame = {
    import s.implicits._
    val agg = new graft.functions.TopKAggregator(k).toColumn
    scored.select(col("q_id"), col("neighbor_id"), col(scoreCol))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.name("topk"))
      .toDF("q_id", "topk")
      .select(col("q_id"), posexplode(col("topk")))
      .select(col("q_id"), col("col._2").as("neighbor_id"),
        col("col._1").as(scoreCol), (col("pos") + 1).as("knn_rank"))
  }

  /** IVF-style ANN, production shape:
    *  - coarse quantizer = √N deterministically SAMPLED centroids
    *    (vec_id % ceil(√N) == 0 — seed-by-id, so the oracle mirrors it);
    *    √N cells is the classical IVF sizing: probe cost ∝ N/√N = √N
    *  - every vector is assigned to its nearest centroid (one broadcast
    *    of the √N centroid table against a single corpus scan)
    *  - queries probe their nprobe=2 nearest cells (recall recovery for
    *    near-boundary queries)
    *  - candidate scoring is a SHUFFLE join on cell id — the query side
    *    is not broadcast, so an unbounded query batch can't OOM the
    *    executors; each cell's candidates co-locate on one partition.
    * Recall < 1 by construction; ExtensionOpsSpec asserts recall@5 vs
    * the exact brute-force baseline.
    */
  def knnIvf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val top2 = ivfTop2(s, e)
    val assigned = top2.filter(col("arn") === 1)
      .join(e, "vec_id") // recover the vector payload by key
      .select(col("vec_id"), col("v"), col("centroid_id"))
    // nprobe=2: each query expands to its two closest cells
    val q = top2.filter(col("vec_id") % 50 === 0 && col("arn") <= 2)
      .join(e.filter(col("vec_id") % 50 === 0), "vec_id")
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("centroid_id").as("q_cell"))
    val scored = assigned.join(q,
        col("centroid_id") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(cosine_sim(col("qv"), col("v")), 6).as("cos_sim"))
    topKAgg(s, scored, 5) // window-free end to end
  }

  /** The IVF coarse assignment shared by [[knnIvf]] and [[knnIvfPq]]:
    * √N deterministically sampled centroids; each vector's nearest-2
    * cells via BOUNDED partial aggregation — the broadcast-scored N·√N
    * rows reduce map-side to ≤2 (sim, centroid) entries per vector
    * before the exchange (the row_number window form shuffled the full
    * N·√N scored rows, vectors included). Returns (vec_id, arn ∈ {1,2},
    * centroid_id).
    */
  private def ivfTop2(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    // control-plane scalar: quantizer sizing (same role as the reference's
    // run_query(...)[0][0] metadata fetches)
    val n = e.count()
    val stride = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)
    val centroids = e.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"))
    val agg = new graft.functions.TopKAggregator(2).toColumn
    e.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("centroid_id"),
        round(cosine_sim(col("v"), col("cv")), 6).as("a_sim"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.name("topc"))
      .toDF("vec_id", "topc")
      .select(col("vec_id"), posexplode(col("topc")))
      .select(col("vec_id"), (col("pos") + 1).as("arn"),
        col("col._2").as("centroid_id"))
  }

  /** IVF-PQ — the production memory-AND-compute shape (faiss IndexIVFPQ):
    * the coarse quantizer restricts each query's candidates to its
    * nprobe=2 cells (≈ 2/√N of the corpus), and WITHIN the cells
    * candidates are scored in the compressed domain (8 ADC lookups per
    * pair over 4-byte codes). Flat-PQ ([[knnPq]]) fixes the memory story
    * but still scans all N codes per query — compressed BRUTE force,
    * O(Q·N) like [[knnBrute]] (measured 35× at the 10× pair); IVF-PQ is
    * its scale sibling the way [[knnIvf]] is brute's. ADC shortlist
    * (top-20 per query) exact-cosine re-ranks to top-5.
    */
  def knnIvfPq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val books = pqBooksFor(s, d, e)
    val codes = SessionCache.getOrElseUpdate(s, s"pqcodes:$d") {
      e.select(col("vec_id"), pqCodeCol(books).as("code"))
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
    }
    val top2 = ivfTop2(s, e)
    // corpus: one cell per vector, payload = the 8-nibble code
    val corpusCells = top2.filter(col("arn") === 1)
      .join(codes, "vec_id")
      .select(col("vec_id"), col("code"), col("centroid_id"))
    // queries: nprobe=2 cells + a driver-built ADC table each
    val qvecs = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
    val qTbl = s.createDataset(pqAdcTableRows(qvecs, books))
      .toDF("q_id", "tbl")
    val qCells = top2.filter(col("vec_id") % 50 === 0 && col("arn") <= 2)
      .select(col("vec_id").as("q_id"), col("centroid_id").as("q_cell"))
      .join(broadcast(qTbl), "q_id")
    val adc = corpusCells.join(qCells,
        col("centroid_id") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(aggregate(
          zip_with(col("code"), col("tbl"),
            (c, t) => element_at(t, c.cast("int") + 1)),
          lit(0.0), (acc, z) => acc + z), 6).as("adc_score"))
    // The re-rank shortlist must TRACK the candidate count: a fixed
    // top-20 over 10× the per-cell candidates silently decays recall
    // (measured 0.69 at sf0.1 vs the 0.7 contract). With the coarse
    // K=16 codebooks, shortlist ≈ a THIRD of the per-query candidate
    // pool (≈ nprobe·N/√N — note the pool grows only ∝ √N, so this stays
    // tiny) holds the floor; production-sized codebooks make a CONSTANT
    // shortlist sufficient — SPEC-PINNED, not asserted: PqSpec
    // "production codebooks" trains K=256/m=16 books at sf0.1 and holds
    // recall@5 ≥ 0.8 with a fixed 64-entry shortlist. The fraction is
    // the knob that trades re-rank cost for quantization coarseness.
    val n = codes.count() // cached table — metadata-cheap, needed anyway
    val perQueryCandidates = 2.0 * n / math.max(1.0, math.sqrt(n.toDouble))
    val shortlistN = math.max(20, math.ceil(perQueryCandidates / 3).toInt)
    val shortlist = topKAgg(s, adc, shortlistN, "adc_score")
      .select(col("q_id"), col("neighbor_id"))
    val qv = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val exact = shortlist
      .join(e.select(col("vec_id").as("neighbor_id"), col("v")), "neighbor_id")
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("neighbor_id"),
        round(cosine_sim(col("qv"), col("v")), 6).as("cos_sim"))
    topKAgg(s, exact, 5)
  }

  val knnIvfSql: String =
    """WITH e AS (SELECT vec_id,
      |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |c AS (SELECT vec_id AS centroid_id, v AS cv FROM e
      |      WHERE vec_id % (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e) = 0),
      |ranked AS (
      |  SELECT vec_id, v, centroid_id, arn FROM (
      |    SELECT e.vec_id, e.v, c.centroid_id,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        round(list_dot_product(e.v, c.cv)
      |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))),
      |          6) DESC, c.centroid_id ASC) AS arn
      |    FROM e CROSS JOIN c)),
      |assigned AS (SELECT vec_id, v, centroid_id FROM ranked WHERE arn = 1),
      |q AS (SELECT vec_id AS q_id, v AS qv, centroid_id AS q_cell
      |      FROM ranked WHERE vec_id % 50 = 0 AND arn <= 2),
      |scored AS (
      |  SELECT q_id, a.vec_id AS neighbor_id,
      |    round(list_dot_product(qv, a.v)
      |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(a.v, a.v))),
      |      6) AS cos_sim
      |  FROM q JOIN assigned a
      |    ON a.centroid_id = q.q_cell AND a.vec_id <> q.q_id)
      |SELECT q_id, neighbor_id, cos_sim, rn AS knn_rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
      |  FROM scored) WHERE rn <= 5""".stripMargin

  /** Persisted IVF vector index — the [[graft.ops.TextOps.FuzzyIndex]]
    * pattern for embeddings, i.e. a warehouse-native vector store:
    *
    *   - `<name>__centroids` — `(cid, cv)` k-means centroids, FROZEN at
    *     build time (like the fuzzy index's stop list: a drifted corpus
    *     re-fits via an explicit rebuild, never silently)
    *   - `<name>__cells` — `(vec_id, v)` PARTITIONED BY cell id
    *   - `<name>__books` — `(s, c, cv)` PQ codebooks (control-plane)
    *   - `<name>__codes` — `(vec_id, code, cell)` 4-byte PQ codes,
    *     cell-partitioned in lockstep with the floats — [[queryPq]]'s
    *     memory-resident probe set ([[query]] re-ranks from the floats)
    *
    * The cell partitioning is the scale feature: a query batch selects
    * its `nprobe` nearest cells per query, the touched cell ids collect
    * as a CONTROL-PLANE literal list (≤ k ints), and the candidate read
    * is partition-PRUNED to those directories — at 100 TB a probe reads
    * ~nprobe/k of the corpus, never all of it. Assignment and probe
    * selection are per-row codegen over centroid literals (k·d doubles,
    * control-plane), so neither step joins or shuffles the corpus;
    * candidate scoring shuffles on cell id exactly like [[knnIvf]], and
    * the query side is never broadcast (an unbounded batch can't OOM).
    *
    * Centroids come from [[kmeansFit]] (k-means++ init, convergence
    * stop), so the index is spec-gated rather than oracle-gated
    * (VectorIndexSpec: recall@5 floor vs brute force, pruning pinned on
    * the executed plan, append visibility); [[knnIvf]] remains the
    * deterministically-seeded oracle-checked variant.
    */
  final class VectorIndex(wh: graft.core.Warehouse, name: String,
                          k: Int = 16, nprobe: Int = 2,
                          maxProbe: Int = 4, probeMargin: Double = 0.05,
                          // how long a RETIRED generation's files stay on
                          // disk after the flip that made it unreachable
                          // to new readers — the drain window for a long
                          // query bound to it mid-scan. 0 = immediate
                          // (the pre-grace contract).
                          retireGraceMs: Long = 0L) {
    import graft.core.Relation
    // Generation indirection for refit(): generation g's artifacts live
    // beside generation g+1's while the rebuild runs, and a 1-row meta
    // pointer flips atomically — readers in flight keep their bound
    // generation, new operations resolve the pointer once at entry.
    // Generation 0 keeps the historic un-suffixed names, so an index
    // built before refit existed reads (and appends) unchanged.
    private val metaRel = Relation("idx", "ann", s"${name}__meta")
    private def suffixed(part: String, g: Long): Relation =
      Relation("idx", "ann",
        if (g == 0L) s"${name}__$part" else s"${name}__g${g}__$part")
    private def centRel(g: Long): Relation = suffixed("centroids", g)
    private def cellRel(g: Long): Relation = suffixed("cells", g)
    // PQ side (Jégou codes): 4-byte codes against 256-byte float rows —
    // the 64× shrink that keeps a 100 TB corpus's probe working set
    // memory-resident. Codes live cell-partitioned like the floats so
    // the ADC probe keeps the same partition-pruned scan; the float
    // relation stays the exact re-rank (and compatibility) path.
    private def bookRel(g: Long): Relation = suffixed("books", g)
    private def codeRel(g: Long): Relation = suffixed("codes", g)
    // per-generation drift ledger: (kind, n, sum_dist) with kind ∈
    // {baseline, all} — see [[drift]]
    private def driftRel(g: Long): Relation = suffixed("drift", g)

    /** The live generation — 0 until the first [[refit]]. One tiny read
      * per public operation; the flip in [[refit]] is the only writer.
      * The meta relation is a small flip LEDGER — (gen, flipped_at_ms)
      * per flip, newest = live — so [[gc]] can measure how long ago each
      * retired generation stopped taking new readers. A legacy 1-column
      * meta (pre-ledger index) still resolves (flip times read as 0 =
      * arbitrarily old).
      */
    private[graft] def currentGen(): Long =
      if (!wh.exists(metaRel)) 0L
      else wh.read(metaRel).agg(org.apache.spark.sql.functions.max("gen"))
        .collect().head.getLong(0)

    /** gen → flip-in time (ms); empty before the first refit. */
    private def genLedger(): Map[Long, Long] =
      if (!wh.exists(metaRel)) Map.empty
      else {
        val df = wh.read(metaRel)
        if (df.columns.contains("flipped_at"))
          df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        else df.collect().map(r => r.getLong(0) -> 0L).toMap
      }

    /** ADAPTIVE multi-probe cell selection — the recall lever. The
      * `nprobe` nearest cells always probe; cells beyond extend the
      * probe set while their centroid similarity sits within
      * `probeMargin` of the best cell's (the centroid-distance ring,
      * the IVF analogue of [[knnLshBucket]]'s Hamming ring), capped at
      * `maxProbe`. A query deep inside one cluster stays cheap (ring
      * empty); a query near a Voronoi boundary — exactly where fixed
      * small nprobe loses its true neighbors — automatically widens.
      * Still pure per-row codegen over centroid literals, and the
      * probe-count bound keeps the partition-pruning guarantee:
      * a query touches ≤ maxProbe of k cells.
      */
    private def probeCells(cents: Seq[(Int, Seq[Double])]) = {
      val sorted = array_sort(array(cents.map { case (cid, cv) =>
        struct((-round(cosine_sim(col("v"), typedLit(cv)), 6)).as("negsim"),
          lit(cid).as("cid"))
      }: _*))
      // ring anchor: the nprobe-th cell's similarity — a cell just past
      // the default cut with near-identical similarity is exactly the
      // Voronoi-boundary case fixed nprobe loses neighbors to
      val boundary = element_at(sorted, math.min(nprobe, cents.size))
        .getField("negsim")
      val ring = filter(slice(sorted, 1, math.max(nprobe, maxProbe)),
        (s, i) => i < lit(nprobe) ||
          s.getField("negsim") <= boundary + lit(probeMargin))
      transform(ring, s => s.getField("cid"))
    }

    /** (q_id, n_cells) probed per query — observability for specs and
      * capacity planning (the adaptive ring makes probe count
      * per-query, not a constant).
      */
    private[graft] def probeCounts(q: DataFrame): DataFrame =
      q.select(col("vec_id").as("q_id"),
        size(probeCells(centroids(currentGen()))).as("n_cells"))

    /** One-time fit + assign: one kmeansFit pass, partitioned float and
      * code writes, plus the control-plane codebook rows ([[pqTrain]] —
      * sample-trained like every production PQ index).
      */
    def build(e: DataFrame): Unit = fitInto(currentGen(), e)

    /** Fit + assign + encode the corpus `e` into generation `g`'s
      * relations, and seed that generation's drift ledger (baseline =
      * the post-fit mean centroid distance — the recall-calibrated
      * anchor [[drift]] compares appends against).
      */
    private def fitInto(g: Long, e: DataFrame): Unit = {
      val (_, cents, _) = kmeansFit(e, k)
      val s = e.sparkSession
      import s.implicits._
      wh.writeAtomic(cents.toDF("cid", "cv"), centRel(g))
      val assigned = e.withColumn("cell", kmNearest(cents))
      wh.writeAtomic(assigned, cellRel(g), partitionCols = Seq("cell"))
      val books = pqTrain(e)
      wh.writeAtomic(books.zipWithIndex.flatMap { case (bc, s0) =>
        bc.zipWithIndex.map { case (cv, c) => (s0, c, cv) }
      }.toDF("s", "c", "cv"), bookRel(g))
      wh.writeAtomic(assigned.select(col("vec_id"),
        pqCodeCol(books).as("code"), col("cell")), codeRel(g),
        partitionCols = Seq("cell"))
      val base = e.agg(count(lit(1)).as("n"),
        sum(lit(1.0) - kmNearestSim(cents)).as("sum_dist")).collect().head
      wh.writeAtomic(Seq(
        ("baseline", base.getLong(0), base.getDouble(1)),
        ("all", base.getLong(0), base.getDouble(1)))
        .toDF("kind", "n", "sum_dist"), driftRel(g))
    }

    /** Frozen centroids back from the warehouse: k·d doubles. */
    private def centroids(g: Long): Seq[(Int, Seq[Double])] =
      wh.read(centRel(g)).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1).toSeq

    /** Frozen PQ codebooks back from the warehouse: S·K·sub doubles —
      * control-plane, like the centroids.
      */
    private def booksStored(g: Long): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      wh.read(bookRel(g)).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toIndexedSeq))
        .groupBy(_._1).toIndexedSeq.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3).toIndexedSeq)

    /** Admit new vectors (frozen centroids/codebooks — O(batch)
      * assignment and encode; codes stay in lockstep with the floats).
      * An index built before the codes relation existed keeps working
      * float-only. The generation is re-checked under the cell lock:
      * a [[refit]] flip between resolution and write would strand the
      * batch in a retired generation, so the append retries against the
      * new one instead. The batch's centroid distances fold into the
      * drift ledger — the signal [[drift]] reads.
      */
    def append(e: DataFrame): Unit = {
      var admitted = false
      var attempts = 0
      while (!admitted) {
        val g = currentGen()
        wh.withRelationLock(cellRel(g)) {
          if (currentGen() == g) {
            appendInto(g, e)
            admitted = true
          }
        }
        attempts += 1
        require(admitted || attempts < 3,
          "VectorIndex.append: generation flipped twice mid-append")
      }
    }

    /** Assign + encode + drift-fold one batch into generation `g`.
      * Caller holds `cellRel(g)`'s lock (or is [[refit]] replaying the
      * delta into a generation nobody else can see yet).
      */
    private def appendInto(g: Long, e: DataFrame): Unit = {
      val cents = centroids(g)
      val assigned = e.withColumn("cell", kmNearest(cents))
      wh.append(assigned, cellRel(g), Seq("cell"))
      if (wh.exists(bookRel(g)))
        wh.append(assigned.select(col("vec_id"),
          pqCodeCol(booksStored(g)).as("code"), col("cell")), codeRel(g),
          Seq("cell"))
      if (wh.exists(driftRel(g))) {
        val add = e.agg(count(lit(1)).as("n"),
          sum(lit(1.0) - kmNearestSim(cents)).as("sum_dist")).collect().head
        val s = e.sparkSession
        import s.implicits._
        wh.withRelationLock(driftRel(g)) {
          val rows = wh.read(driftRel(g)).collect()
            .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          wh.writeAtomic(rows.map {
            case ("all", n0, d0) =>
              ("all", n0 + add.getLong(0), d0 + add.getDouble(1))
            case other => other
          }.toIndexedSeq.toDF("kind", "n", "sum_dist"), driftRel(g))
        }
      }
    }

    /** Streaming sibling of [[append]] for `writeStream.foreachBatch`:
      * the cell append commits under the per-relation batch-id watermark
      * ([[graft.core.Warehouse.appendStreamBatch]]), so a checkpoint-
      * restart replay is a detected no-op — the embedding-ingestion twin
      * of [[graft.ops.TextOps.FuzzyIndex.appendStreamBatch]], single-
      * relation and therefore trivially atomic. Assignment is
      * deterministic (frozen centroids), so a replayed batch recomputes
      * identical rows.
      */
    def appendStreamBatch(e: DataFrame, sourceId: String,
                          batchId: Long): Boolean = {
      val g = currentGen()
      wh.withRelationLock(cellRel(g)) {
        // same flip-race guard as [[append]]; a refit mid-batch retries
        // against the successor generation (which inherited this
        // source's watermark in the swap, so a replayed batch is still
        // a detected no-op there)
        if (currentGen() != g) appendStreamBatch(e, sourceId, batchId)
        else {
          val assigned = e.withColumn("cell", kmNearest(centroids(g)))
          // codes first, floats second, each under its OWN per-relation
          // batch-id watermark: a crash between the two appends replays
          // the batch, each side independently detects done/pending, and
          // both converge — encode and assignment are deterministic
          // (frozen artifacts), so the replayed rows are identical
          if (wh.exists(bookRel(g)))
            wh.appendStreamBatch(assigned.select(col("vec_id"),
              pqCodeCol(booksStored(g)).as("code"), col("cell")), codeRel(g),
              sourceId, batchId, Seq("cell"))
          wh.appendStreamBatch(assigned, cellRel(g), sourceId, batchId,
            Seq("cell"))
        }
      }
    }

    /** ANN top-k of each `(vec_id, v)` query row against the index. */
    def query(q: DataFrame, topK: Int = 5): DataFrame = {
      val g = currentGen()
      val cents = centroids(g)
      val probed = q
        .withColumn("cell", explode(probeCells(cents)))
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cell"))
      // control-plane: distinct probed cell ids (≤ k ints) become a
      // LITERAL isin predicate, so the candidate scan partition-prunes
      val cids = probed.select("cell").distinct().collect().map(_.getInt(0))
      val cand = wh.read(cellRel(g)).filter(col("cell").isin(cids: _*))
      val scored = cand.alias("a").join(probed.alias("p"),
          col("a.cell") === col("p.cell") && col("a.vec_id") =!= col("p.q_id"))
        .select(col("q_id"), col("a.vec_id").as("neighbor_id"),
          round(cosine_sim(col("qv"), col("a.v")), 6).as("cos_sim"))
      topKAgg(q.sparkSession, scored, topK)
    }

    /** ANN top-k through the PERSISTED CODES (faiss IndexIVFPQ serving
      * shape): the same adaptive multi-probe cell selection, but the
      * candidate scan reads the cell-pruned 4-byte codes — at 100 TB the
      * probe working set is 64× smaller than [[query]]'s float scan and
      * stays memory-resident — ADC-scores them against driver-built
      * per-query lookup tables, keeps a top-`shortlist` per query, and
      * exact-cosine re-ranks ONLY the shortlist from the float relation
      * (pruned to the same probed cells). Unlike [[query]], the query
      * batch must be BOUNDED: the ADC tables are per-query control-plane
      * data built on the driver (Q·S·K doubles) — the serving-path
      * contract, not a limitation (an unbounded query stream batches).
      */
    def queryPq(q: DataFrame, topK: Int = 5, shortlist: Int = 50): DataFrame = {
      val s = q.sparkSession
      import s.implicits._
      val g = currentGen()
      val cents = centroids(g)
      val books = booksStored(g)
      val qRows = q.select(col("vec_id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      val qTbl = s.createDataset(pqAdcTableRows(qRows, books))
        .toDF("q_id", "tbl")
      val probed = q.withColumn("cell", explode(probeCells(cents)))
        .select(col("vec_id").as("q_id"), col("cell"))
        .join(broadcast(qTbl), "q_id")
      val cids = probed.select("cell").distinct().collect().map(_.getInt(0))
      val codes = wh.read(codeRel(g)).filter(col("cell").isin(cids: _*))
      val adc = codes.alias("a").join(probed.alias("p"),
          col("a.cell") === col("p.cell") && col("a.vec_id") =!= col("p.q_id"))
        .select(col("q_id"), col("a.vec_id").as("neighbor_id"),
          round(aggregate(
            zip_with(col("a.code"), col("p.tbl"),
              (c, t) => element_at(t, c.cast("int") + 1)),
            lit(0.0), (acc, z) => acc + z), 6).as("adc_score"))
      val short = topKAgg(s, adc, shortlist, "adc_score")
        .select(col("q_id"), col("neighbor_id"))
      val qv = q.select(col("vec_id").as("q_id"), col("v").as("qv"))
      val cand = wh.read(cellRel(g)).filter(col("cell").isin(cids: _*))
        .select(col("vec_id").as("neighbor_id"), col("v"))
      val exact = short.join(cand, "neighbor_id")
        .join(broadcast(qv), "q_id")
        .select(col("q_id"), col("neighbor_id"),
          round(cosine_sim(col("qv"), col("v")), 6).as("cos_sim"))
      topKAgg(s, exact, topK)
    }

    /** The refit signal. Appends encode against FROZEN centroids and
      * codebooks, so as the appended distribution drifts the corpus sits
      * farther from its assigned centroids and recall decays — the
      * withdrawn recall gate of round 10 measured exactly this
      * sensitivity. `ratio` compares the CURRENT mean centroid distance
      * (baseline corpus + every appended batch, folded forward on
      * append — no corpus scan here) against the post-fit baseline:
      * ~1.0 = centroids still represent the corpus; sustained growth =
      * schedule a [[refit]]. The threshold is the operator's (it depends
      * on the embedding geometry); the STAT is the index's job.
      */
    final case class DriftStats(baselineMeanDist: Double,
                                currentMeanDist: Double, nVectors: Long) {
      def ratio: Double =
        if (baselineMeanDist > 0) currentMeanDist / baselineMeanDist else 1.0
    }

    def drift(): DriftStats = {
      val g = currentGen()
      require(wh.exists(driftRel(g)),
        s"VectorIndex '$name': no drift ledger (index predates drift " +
          "tracking) — refit() to establish one")
      val rows = wh.read(driftRel(g)).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val (bn, bs) = rows("baseline")
      val (an, as_) = rows("all")
      DriftStats(if (bn > 0) bs / bn else 0.0, if (an > 0) as_ / an else 0.0, an)
    }

    /** Maintenance re-fit: re-cluster, re-train the codebooks, and
      * re-encode the WHOLE stored corpus into a fresh generation, then
      * flip the meta pointer — the heavy phase runs with NO lock held
      * (the index stays fully readable and appendable throughout), and
      * the swap is one atomic 1-row write. Appends racing the rebuild
      * are not lost: the corpus snapshot is pinned to a manifest seq,
      * and the flip — under the old generation's cell lock, which every
      * append re-checks the generation beneath — replays whatever landed
      * after the snapshot into the new generation first. Stream-append
      * watermarks carry over in the same window, so a checkpoint-restart
      * replay stays a no-op across the swap. The PREVIOUS generation's
      * relations are retired on the NEXT refit (in-flight readers of the
      * old generation keep their files until then). Delta replay rides
      * the manifest seq.
      *
      * `onBeforeFlip` is a TEST SEAM: it runs after the heavy phase,
      * before the flip lock — where a racing append would land — so the
      * replay path is deterministically exercisable.
      */
    def refit(onBeforeFlip: () => Unit = () => ()): Unit = {
      val g = currentGen()
      val g1 = g + 1
      // pin the snapshot: manifest seq now; delta replayed at flip time
      val seq0 = wh.currentManifestState(cellRel(g)).map(_._1).getOrElse(0L)
      val snap =
        (if (seq0 > 0) wh.readAt(cellRel(g), seq0) else wh.read(cellRel(g)))
          .select(col("vec_id"), col("v"))
      // heavy phase — no lock: fit/assign/encode into generation g+1
      fitInto(g1, snap)
      onBeforeFlip()
      // flip phase: block gen-g appends, replay the post-snapshot delta,
      // carry stream watermarks, flip the pointer
      wh.withRelationLock(cellRel(g)) {
        val seq1 = wh.currentManifestState(cellRel(g)).map(_._1).getOrElse(0L)
        if (seq1 > seq0)
          appendInto(g1,
            wh.readAppendedBetween(cellRel(g), seq0, seq1)
              .select(col("vec_id"), col("v")))
        val marks = wh.streamWatermarks(cellRel(g))
        if (marks.nonEmpty) wh.carryStreamWatermarks(cellRel(g1), marks)
        val s = snap.sparkSession
        import s.implicits._
        val ledger = (genLedger() + (g1 -> System.currentTimeMillis()))
          .toSeq.sortBy(_._1).takeRight(8)
        wh.writeAtomic(ledger.toDF("gen", "flipped_at"), metaRel)
      }
      // retire unreachable generations whose drain grace lapsed
      // (generation g itself always stays — readers bound before the
      // flip keep their files until the NEXT refit retires it)
      gc()
      ()
    }

    /** Drop retired generations' relations once their drain grace has
      * lapsed. Generation x stops taking NEW readers when x+1 flips in;
      * a query bound to x just before that flip may still be mid-scan,
      * so x's files drop only `retireGraceMs` after x+1's flip — the
      * immediate drop could fail such an in-flight long query. The
      * previous generation (current−1) is never dropped here, matching
      * the refit contract. Idempotent; `graft maintain` and every
      * [[refit]] call it, so a generation whose grace hadn't lapsed at
      * its refit is reaped on the next pass. Returns dropped gen ids.
      */
    def gc(nowMs: Long = System.currentTimeMillis()): Seq[Long] = {
      val ledger = genLedger()
      val cur = currentGen()
      val dropped = Seq.newBuilder[Long]
      (0L until math.max(cur - 1, 0L)).foreach { x =>
        val flipAway = ledger.getOrElse(x + 1, 0L)
        val rels = Seq(centRel(x), cellRel(x), bookRel(x),
          codeRel(x), driftRel(x))
        if (nowMs - flipAway >= retireGraceMs && rels.exists(wh.exists)) {
          rels.foreach(wh.drop)
          dropped += x
        }
      }
      dropped.result()
    }
  }

  /** Int8 quantization of the embedding column — the storage/serving
    * format step of an embedding pipeline: per-vector max-abs scale,
    * elements mapped to round(x/scale·127) ∈ [-127,127]. Emits the scale
    * (needed to dequantize) and the max absolute dequantization error ×1e4
    * (floor-scaled integer — exact cross-engine). Pure per-row higher-order
    * functions, no shuffle, stays in whole-stage codegen.
    */
  // ---------------------------------------------- product quantization

  /** PQ geometry: 64 dims → 8 subspaces × 8 dims, 16 centroids per
    * subspace. A vector's code is 8 four-bit ids — 4 bytes against 256
    * bytes of float32, the classic 64× shrink that lets a 100 TB
    * embedding corpus's codes live in memory.
    */
  private val PqS = 8
  private val PqSub = 8
  private val PqK = 16

  /** Train per-subspace codebooks (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011) on a bounded DETERMINISTIC
    * sample — md5-ordered prefix like [[kmeansFit]], ≤1024 vectors. PQ
    * codebooks are sample-trained in every production ANN system (the
    * k·S·sub codebook is control-plane data; corpus size only affects the
    * encode scan); driver-side Lloyd on ≤1024×8-dim points is exact
    * enough and keeps the training cost O(1) in N. Vectors are unit-
    * normalized first so subspace L2 distance ranks like cosine.
    */
  private[graft] def pqTrain(e: DataFrame, nSub: Int = PqS,
      subDim: Int = PqSub, k: Int = PqK)
      : IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val sample = e
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(math.max(1024, 4 * k)).select(col("v")).collect()
      .map { r =>
        val v = r.getSeq[Double](0).toIndexedSeq
        val n = math.sqrt(v.map(x => x * x).sum + 1e-300)
        v.map(_ / n)
      }.toIndexedSeq
    require(sample.nonEmpty, "pqTrain on an empty corpus")
    (0 until nSub).map { s0 =>
      lloydSmall(sample.map(_.slice(s0 * subDim, (s0 + 1) * subDim)), k, 8)
    }
  }

  /** Deterministic driver-side Lloyd for tiny inputs: seeds = first k
    * DISTINCT points in the (already md5-shuffled) sample order, L2
    * assignment with lowest-id tiebreak, means snapped to a 1e-9 grid,
    * empty clusters keep their centroid.
    */
  private def lloydSmall(xs: IndexedSeq[IndexedSeq[Double]], k: Int,
                         iters: Int): IndexedSeq[IndexedSeq[Double]] = {
    def l2(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var cents = xs.distinct.take(k)
    if (cents.isEmpty) return IndexedSeq.empty
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(new Array[Double](xs.head.length))
      val ns = new Array[Long](cents.length)
      xs.foreach { x =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cents.length) {
          val dd = l2(x, cents(c)); if (dd < bd) { bd = dd; best = c }; c += 1
        }
        ns(best) += 1
        var i = 0
        while (i < x.length) { sums(best)(i) += x(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (ns(c) == 0) old
        else old.indices.map(i =>
          math.floor(sums(c)(i) / ns(c) * 1e9 + 0.5) / 1e9)
      }
    }
    cents
  }

  /** Per-row PQ encode: normalize, then per subspace argmin-L2 over the
    * 16 captured centroids (ties → lowest cid). A closed-over Scala
    * kernel, NOT a composed higher-order-function tree: the expression
    * form (128 aggregate/zip_with/slice subtrees sharing an inline
    * normalize) evaluated interpreted at ~28 ms/row — the one shape
    * where a deterministic scalar UDF beats the declarative encoding by
    * orders of magnitude. One scan, no join, no shuffle either way.
    */
  private def pqCodeCol(books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): Column = {
    val bb: Array[Array[Array[Double]]] =
      books.map(_.map(_.toArray).toArray).toArray
    // geometry comes from the books, not the module constants, so
    // production-sized codebooks (K=256, m=16 — PqSpec's constant-
    // shortlist pin) encode through the same kernel
    val nSub = bb.length
    val subDim = bb(0)(0).length
    val enc = udf { (v: Seq[Double]) =>
      var nsq = 1e-300; var i = 0
      while (i < v.length) { nsq += v(i) * v(i); i += 1 }
      val inv = 1.0 / math.sqrt(nsq)
      val out = new Array[Int](nSub)
      var s0 = 0
      while (s0 < nSub) {
        val cents = bb(s0)
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cents.length) {
          val cv = cents(c); var dist = 0.0; var j = 0
          while (j < subDim) {
            val diff = v(s0 * subDim + j) * inv - cv(j); dist += diff * diff
            j += 1
          }
          if (dist < bd) { bd = dist; best = c }
          c += 1
        }
        out(s0) = best; s0 += 1
      }
      out.toSeq
    }
    enc(col("v"))
  }

  /** Per-query ADC lookup tables: tbl[s][c] = dot(q_sub_s, centroid_c),
    * computed DRIVER-SIDE from the (bounded) query batch — Q·S·K small
    * dot products, control-plane like the codebooks themselves. Keeping
    * this out of the Catalyst plan matters: an in-plan table expression
    * gets substituted into the post-join projection by CollapseProject
    * and re-evaluated PER PAIR (measured 57× slower at sf0.1).
    */
  private def pqAdcTableRows(qs: Array[(Long, IndexedSeq[Double])],
                             books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]])
      : Seq[(Long, Seq[Seq[Double]])] = {
    val subDim = books.head.head.length
    qs.toSeq.map { case (qid, qv) =>
      (qid, books.indices.map { s0 =>
        val sub = qv.slice(s0 * subDim, (s0 + 1) * subDim)
        books(s0).map { cv =>
          var dot = 0.0; var i = 0
          while (i < subDim) { dot += sub(i) * cv(i); i += 1 }
          dot
        }.toSeq
      })
    }
  }

  /** PQ ANN with exact re-rank — the production memory-bound shape:
    *  1. encode the corpus to 8-nibble codes (one scan, codegen);
    *  2. ADC-score every (query, code) pair — the cross join moves 4-byte
    *     codes, not 256-byte vectors, and each pair costs 8 lookups;
    *  3. keep a top-`shortlist` ADC shortlist per query via the bounded
    *     [[graft.functions.TopKAggregator]];
    *  4. exact-cosine re-rank ONLY the shortlist (a ≤ shortlist-per-query
    *     join back to the float vectors) → top-5.
    * Approximate by construction (the true neighbor can miss the ADC
    * shortlist): rows-level driver check; PqSpec pins recall@5 against
    * [[knnBrute]] plus the determinism and code-size contracts.
    */
  def knnPq(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    // shortlist tracks the corpus (10% with the old floor): a fixed
    // top-50 over a 10× corpus silently decays recall@5 (measured
    // 0.525 at sf0.1 vs the 0.7 contract) — the flat-PQ scan is
    // compressed BRUTE force, so its re-rank budget must scale the
    // same way its candidate pool does. Production-sized codebooks
    // (K=256, m=16) hold the floor with a CONSTANT shortlist — no
    // longer a comment-only claim: PqSpec "production codebooks" pins
    // recall@5 ≥ 0.8 at sf0.1 with a fixed 64-entry shortlist. With the
    // deliberately tiny K=16 books the fraction is the knob trading
    // re-rank cost for quantization coarseness.
    knnPqWith(s, d, pqBooksFor(s, d, e), s"pqcodes:$d",
      n => math.max(50, math.ceil(n / 10.0).toInt))
  }

  /** Flat-PQ core, parametric in codebooks and shortlist sizing so the
    * production-geometry recall contract is testable (PqSpec) without
    * forking the plan shape. `shortlistFor` receives the corpus size.
    */
  private[graft] def knnPqWith(s: SparkSession, d: String,
      books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]], cacheKey: String,
      shortlistFor: Long => Int): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    // the codes table is PERSISTED (like [[vecs]]): the encode expression
    // must evaluate once per corpus row — left lazy, CollapseProject
    // substitutes it into the post-join projection and re-encodes per
    // PAIR (measured 57× slower). Persisting the 9-byte-per-vector code
    // table is also the operational PQ story: codes live in memory.
    val codes = SessionCache.getOrElseUpdate(s, cacheKey) {
      e.select(col("vec_id"), pqCodeCol(books).as("code"))
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
    }
    // bounded query batch → driver-side ADC tables (control-plane)
    val qvecs = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
    val q = s.createDataset(pqAdcTableRows(qvecs, books))
      .toDF("q_id", "tbl")
    val adc = codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(aggregate(
          zip_with(col("code"), col("tbl"),
            (c, t) => element_at(t, c.cast("int") + 1)),
          lit(0.0), (acc, z) => acc + z), 6).as("adc_score"))
    val n = codes.count() // cached — cheap, and materializes the pin
    val shortlist = topKAgg(s, adc, shortlistFor(n), "adc_score")
      .select(col("q_id"), col("neighbor_id"))
    // exact re-rank of the shortlist only
    val qv = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val exact = shortlist
      .join(e.select(col("vec_id").as("neighbor_id"), col("v")), "neighbor_id")
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("neighbor_id"),
        round(cosine_sim(col("qv"), col("v")), 6).as("cos_sim"))
    topKAgg(s, exact, 5)
  }

  /** Exact brute top-5 memoized for the recall gates: both PQ gate
    * entries compare against the same ground truth, so the O(Q·N) brute
    * pass runs once per family (SessionCache pin, family-boundary
    * reclaim) instead of once per gate. `x_knn_brute` itself stays
    * un-memoized — its bench number IS the labeled calibration baseline.
    */
  private def bruteTop5(s: SparkSession, d: String): DataFrame =
    SessionCache.getOrElseUpdate(s, s"knnbrute5:$d") {
      knnBrute(s, d).persist(StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** Bound-gated oracle wrapper (the `q_approx_distinct` pattern) for
    * the PQ operators: each approximate layer gates against the layer it
    * approximates. Flat PQ ([[knnPq]]) scans every code, so its ground
    * truth is [[knnBrute]]; IVF-PQ ([[knnIvfPq]]) scores inside the same
    * nprobe=2 cells [[knnIvf]] searches exactly, so its ground truth is
    * IVF — the coarse-quantizer recall tradeoff is a separate, already
    * oracle-pinned contract (`x_knn_ivf`'s exact plan-mirror SQL;
    * VectorIndexSpec's adaptive multi-probe floor). The checkable
    * cross-engine contract per gate: (a) the ground truth's top-1
    * neighbor per query — which DuckDB recomputes from its SQL — and (b)
    * corpus-level recall@5 vs that truth ≥ 0.7 (PqSpec's measured
    * floor), emitted as a boolean the oracle pins at literal true.
    * Integer-exact comparison (`10·hits ≥ 7·truths`), no float drift.
    * Production callers use the underlying operators directly; the
    * wrappers exist so the driver's oracle check is self-contained (it
    * must re-derive ground truth).
    */
  private def pqRecallGate(approx: DataFrame, truth: DataFrame): DataFrame = {
    val hits = approx.select(col("q_id"), col("neighbor_id"))
      .join(truth.select(col("q_id"), col("neighbor_id")),
        Seq("q_id", "neighbor_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    val totals = truth.groupBy(col("q_id")).agg(
      count(lit(1)).as("n_true"),
      max(when(col("knn_rank") === 1, col("neighbor_id"))).as("exact_top1"))
    val overall = totals.join(hits, Seq("q_id"), "left")
      .agg((sum(coalesce(col("n_hits"), lit(0L))) * lit(10L) >=
        sum(col("n_true")) * lit(7L)).as("recall_ok"))
    totals.select(col("q_id"), col("exact_top1"))
      .crossJoin(broadcast(overall)) // 1-row scalar gate, control-plane
  }

  def knnPqGate(s: SparkSession, d: String): DataFrame =
    pqRecallGate(knnPq(s, d), bruteTop5(s, d))

  def knnIvfPqGate(s: SparkSession, d: String): DataFrame =
    pqRecallGate(knnIvfPq(s, d), knnIvf(s, d))

  /** Oracle twin of [[knnPqGate]]: exact top-1 per query from the brute
    * CTE chain, recall boolean pinned true.
    */
  val pqGateSql: String =
    """WITH e AS (SELECT vec_id,
      |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 50 = 0),
      |scored AS (
      |  SELECT q_id, e.vec_id AS neighbor_id,
      |    round(list_dot_product(qv, v)
      |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
      |      6) AS cos_sim
      |  FROM q JOIN e ON e.vec_id <> q_id)
      |SELECT q_id, neighbor_id AS exact_top1, true AS recall_ok FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
      |  FROM scored) WHERE rn = 1""".stripMargin

  /** Oracle twin of [[knnIvfPqGate]]: exact top-1 per query within the
    * probed cells, from the IVF plan-mirror chain.
    */
  lazy val ivfPqGateSql: String =
    s"""SELECT q_id, neighbor_id AS exact_top1, true AS recall_ok
       |FROM ($knnIvfSql) WHERE knn_rank = 1""".stripMargin

  /** kNN label-consistency eval — the standard embedding-quality probe
    * over a labeled corpus (kNN classification accuracy): each sampled
    * query predicts the majority label of its 5 exact nearest neighbors
    * (ties broken low-label — deterministic), compared to its own
    * label. Fully SQL-expressible, so the oracle re-derives prediction
    * AND verdict exactly. Shares the staged brute top-5 with the PQ
    * gates; the vote/verdict joins touch only Q·5 rows — at 100 TB the
    * eval's cost IS the neighbor search, which the production path
    * serves from the cell-pruned index.
    */
  def knnLabelEval(s: SparkSession, d: String): DataFrame = {
    val lbl = embeddings(s, d).select(col("vec_id"), col("label"))
    val votes = bruteTop5(s, d)
      .join(lbl.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .groupBy(col("q_id"), col("label")).agg(count(lit(1)).as("n"))
    val pred = votes.withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("n").desc, col("label").asc)))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("label").as("pred_label"))
    pred.join(lbl.select(col("vec_id").as("q_id"),
        col("label").as("true_label")), "q_id")
      .select(col("q_id"), col("true_label"), col("pred_label"),
        (col("true_label") === col("pred_label")).as("correct"))
  }

  val knnLabelEvalSql: String =
    """WITH e AS (SELECT vec_id,
      |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 50 = 0),
      |scored AS (
      |  SELECT q_id, e.vec_id AS neighbor_id,
      |    round(list_dot_product(qv, v)
      |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
      |      6) AS cos_sim
      |  FROM q JOIN e ON e.vec_id <> q_id),
      |top5 AS (SELECT q_id, neighbor_id FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
      |  FROM scored) WHERE rn <= 5),
      |votes AS (
      |  SELECT t.q_id, l.label, count(*) AS n
      |  FROM top5 t JOIN embeddings l ON l.vec_id = t.neighbor_id
      |  GROUP BY 1, 2),
      |pred AS (SELECT q_id, label AS pred_label FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY n DESC, label ASC) AS rn FROM votes) WHERE rn = 1)
      |SELECT p.q_id, t.label AS true_label, p.pred_label,
      |  t.label = p.pred_label AS correct
      |FROM pred p JOIN embeddings t ON t.vec_id = p.q_id""".stripMargin

  /** Per-label embedding cohesion report — the dataset-card number for a
    * labeled embedding corpus (how tightly each class clusters): per
    * label, the mean cosine of its members to the label centroid,
    * integer-exact cross-engine. The exactness trick: raw floats
    * quantize to 2^20 fixed-point integers BEFORE the cross-row
    * aggregation, so the centroid sums are order-independent integer
    * adds (a naive double avg differs between engines in the last ulp);
    * the centroid itself is one exact integer-to-double division, and
    * every remaining sum is a per-row ORDERED array fold (zip_with /
    * aggregate — same order both engines). Per-member scores floor-scale
    * to ints before the per-label mean (sum DIV n), the
    * [[graft.ops.TextOps.lmScore]] rule. Scale shape: one scan to the
    * k·d integer sums (map-side combinable), centroids broadcast as
    * control-plane arrays, one scoring scan, one k-row agg.
    */
  def labelCohesion(s: SparkSession, d: String): DataFrame = {
    val SCALE = 1048576L // 2^20
    val e = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val qsum = e.select(col("label"), posexplode(
        expr(s"transform(v, x -> CAST(floor(x * $SCALE) AS BIGINT))")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col")).as("si"), count(lit(1)).as("n"))
    val cent = qsum.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"),
        (col("si").cast("double") /
          (col("n") * SCALE).cast("double")).as("c")))).as("ps"))
      .select(col("label"), expr("transform(ps, p -> p.c)").as("cent"))
    val dot = aggregate(zip_with(col("v"), col("cent"), (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    val nv = aggregate(transform(col("v"), x => x * x),
      lit(0.0), (acc, x) => acc + x)
    val nc = aggregate(transform(col("cent"), x => x * x),
      lit(0.0), (acc, x) => acc + x)
    e.join(broadcast(cent), "label")
      .select(col("label"),
        floor(lit(1e6) * round(dot / (sqrt(nv) * sqrt(nc)), 6))
          .cast("long").as("ts"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(ts) DIV count(1)").as("mean_cos_e6"))
  }

  val labelCohesionSql: String =
    """WITH e AS (SELECT vec_id, label,
      |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |p AS (SELECT label, generate_subscripts(v, 1) AS pos,
      |        unnest(list_transform(v,
      |          x -> CAST(floor(x * 1048576) AS BIGINT))) AS xq
      |      FROM e),
      |qs AS (SELECT label, pos, sum(xq) AS si, count(*) AS n
      |       FROM p GROUP BY 1, 2),
      |cent AS (SELECT label,
      |           list(CAST(si AS DOUBLE) / (n * 1048576) ORDER BY pos)
      |             AS cent
      |         FROM qs GROUP BY label),
      |sc AS (SELECT e.label,
      |         CAST(floor(1000000 * round(
      |           list_dot_product(e.v, c.cent) /
      |           (sqrt(list_dot_product(e.v, e.v)) *
      |            sqrt(list_dot_product(c.cent, c.cent))), 6)) AS BIGINT)
      |           AS ts
      |       FROM e JOIN cent c USING (label))
      |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(sum(ts) // count(*) AS BIGINT) AS mean_cos_e6
      |FROM sc GROUP BY label""".stripMargin

  // A queries-entry recall gate for the persisted VectorIndex was tried
  // and withdrawn (round 10): on THIS synthetic corpus the embeddings
  // are near-unstructured, so coarse-quantizer recall ≈ the fraction of
  // the corpus probed — a fixed recall-vs-brute floor cannot hold across
  // scale factors without probing most cells, which would falsify the
  // index's pruning story. The index stays SPEC-gated at its calibrated
  // scale (VectorIndexSpec: float and PQ floors, pruning, appends);
  // the oracle-gated IVF contracts live in x_knn_ivf (exact plan-mirror
  // SQL) and x_knn_ivf_pq (ADC loss isolated within the SAME cells,
  // scale-independent).

  /** Codebooks memoized per LIVE session (WeakHashMap on the session,
    * like SessionCache) — a bare hashCode-keyed map could alias a
    * stopped session's entry to a new one and serve stale codebooks
    * against fresh codes.
    */
  private val pqBookCache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String,
        IndexedSeq[IndexedSeq[IndexedSeq[Double]]]]]()
  private def pqBooksFor(s: SparkSession, d: String, e: DataFrame) =
    pqBookCache.synchronized {
      var m = pqBookCache.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty
        pqBookCache.put(s, m)
      }
      m
    }.getOrElseUpdate(d, pqTrain(e))

  def embeddingQuantize(s: SparkSession, d: String): DataFrame =
    vecs(s, d)
      // floor(x+0.5), not round(): same double in both engines → same
      // integer (round() ties split between decimal-repr and binary rules)
      // 1e-30 floor: an all-zero vector would make scale 0 and x/scale NaN,
      // where Spark's non-ANSI cast (0) and DuckDB's (error) diverge
      .withColumn("scale", expr(
        "greatest(aggregate(v, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(x))), 1e-30D)"))
      .withColumn("q", expr(
        "transform(v, x -> CAST(floor(x / scale * 127 + 0.5D) AS INT))"))
      .withColumn("max_err_e4", expr(
        "CAST(floor(aggregate(transform(v, x -> " +
          "abs(x - CAST(floor(x / scale * 127 + 0.5D) AS INT) * scale / 127)), " +
          "CAST(0.0 AS DOUBLE), (a, e) -> greatest(a, e)) * 10000) AS BIGINT)"))
      // string-encode the vector: the driver hash-compares scalar columns
      .select(col("vec_id"), col("scale"),
        concat_ws(",", col("q")).as("q_csv"), col("max_err_e4"))

  val embeddingQuantizeSql: String =
    """SELECT vec_id, scale,
      |  array_to_string(list_transform(v,
      |    x -> CAST(floor(x / scale * 127 + 0.5) AS INT)), ',') AS q_csv,
      |  CAST(floor(list_max(list_transform(v,
      |    x -> abs(x - CAST(floor(x / scale * 127 + 0.5) AS INT) * scale / 127)))
      |    * 10000) AS BIGINT) AS max_err_e4
      |FROM (
      |  SELECT vec_id, v,
      |    greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) AS scale
      |  FROM (SELECT vec_id,
      |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |        FROM embeddings))""".stripMargin

  /** Hash-sign random projection (the Achlioptas/JL sparse-sign family):
    * int8-quantize each embedding (same max-abs rule as
    * [[embeddingQuantize]]) and project 64 → 16 dims through a {−1,+1}
    * sign matrix DERIVED from integer hashing — no stored matrix, no
    * floats in the projection, so the sketch is integer-exact in any
    * engine and accumulation-order-free. The sketch feeds coarse
    * filtering/banding at a quarter the width (and 1/16 the bits after
    * the int8 step); JL distance preservation holds in expectation with
    * the output dim as the fidelity knob. Pure per-row HOFs — one
    * shuffle-free scan at any corpus size.
    */
  def embeddingRp(s: SparkSession, d: String): DataFrame = {
    val outDims = 16
    vecs(s, d)
      .withColumn("scale", expr(
        "greatest(aggregate(v, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(x))), 1e-30D)"))
      .withColumn("q", expr(
        "transform(v, x -> CAST(floor(x / scale * 127 + 0.5D) AS INT))"))
      .withColumn("sketch", expr(
        s"""transform(sequence(0, ${outDims - 1}), j ->
           |  aggregate(
           |    zip_with(q, sequence(0, size(q) - 1), (qi, i) ->
           |      CAST(qi AS BIGINT) * (CASE WHEN
           |        shiftright((CAST(i AS BIGINT) * 73856093) ^
           |                   (CAST(j AS BIGINT) * 19349663), 7) % 2 = 0
           |        THEN 1 ELSE -1 END)),
           |    CAST(0 AS BIGINT), (a, x) -> a + x))""".stripMargin))
      .select(col("vec_id"), concat_ws(",", col("sketch")).as("sketch_csv"))
  }

  val embeddingRpSql: String =
    """SELECT vec_id, array_to_string(
      |  list_transform(range(0, 16), j ->
      |    list_sum(list_transform(range(0, len(q)), i ->
      |      q[i + 1] * (CASE WHEN
      |        (xor(i * 73856093, j * 19349663) >> 7) % 2 = 0
      |        THEN 1 ELSE -1 END)))),
      |  ',') AS sketch_csv
      |FROM (
      |  SELECT vec_id,
      |    list_transform(v, x -> CAST(floor(x / scale * 127 + 0.5) AS INT)) AS q
      |  FROM (
      |    SELECT vec_id, v,
      |      greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) AS scale
      |    FROM (SELECT vec_id,
      |            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |          FROM embeddings)))""".stripMargin

  /** Embedding-cosine near-duplicate pairs (the embedding leg of the dedup
    * family): 4 adaptive-width sign-band joins (see [[signBands]]) +
    * threshold, symmetric pairs deduped by id order, multi-band hits
    * deduped.
    */
  def embeddingNearDups(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val bands = signBands(e, TextOps.simhashBandBits(e.count()))
    bands.alias("a").join(bands.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec1"), col("b.vec_id").as("vec2"),
        round(cosine_sim(col("a.v"), col("b.v")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.99)
      .distinct() // a pair can agree on several bands
  }

  // ---- distributed k-means (Lloyd's) --------------------------------

  private val KmK = 8     // centroid count
  private val KmIters = 2 // fixed update rounds (deterministic, oracle-mirrored)

  /** Per-row nearest-centroid expression over a k×64 LITERAL centroid
    * table: argmax cosine with cid-ascending tiebreak, encoded as
    * `array_min` over `(−sim, cid)` structs — pure codegen, no join, no
    * window, no shuffle.
    */
  private def kmNearest(cents: Seq[(Int, Seq[Double])]) =
    array_min(array(cents.map { case (cid, cv) =>
      struct((-round(cosine_sim(col("v"), typedLit(cv)), 6)).as("negsim"),
        lit(cid).as("cid"))
    }: _*)).getField("cid").as("cluster")

  /** The NEAREST centroid's cosine similarity for each row — the
    * companion of [[kmNearest]] (same literal-centroid codegen, no
    * join): `1 - kmNearestSim` is the assigned-centroid distance the
    * VectorIndex drift ledger accumulates.
    */
  private def kmNearestSim(cents: Seq[(Int, Seq[Double])]): Column =
    -array_min(array(cents.map { case (cid, cv) =>
      struct((-round(cosine_sim(col("v"), typedLit(cv)), 6)).as("negsim"),
        lit(cid).as("cid"))
    }: _*)).getField("negsim")

  /** Distributed Lloyd's k-means over the embedding corpus — the
    * semantic-clustering primitive behind semantic dedup and domain
    * balancing in a training-data pipeline. k=8 seeds = the 8 smallest
    * vec_ids (cid = rank in vec_id order), T=2 update rounds, final
    * output = (vec_id, cluster) under the converged centroids.
    *
    * Scale shape (the MLlib one): centroids are CONTROL-PLANE data —
    * k·d = 512 doubles collected to the driver per round and re-embedded
    * as literals — so the ASSIGN step is a single corpus scan with a
    * per-row codegen expression (no join, no shuffle, whatever N is),
    * and the UPDATE step's posexplode→groupBy(cluster, pos) partial agg
    * puts only k·64 rows per map task on the exchange. Total cost per
    * round at 100 TB: one scan + one k·d-row shuffle.
    *
    * Cross-engine determinism: centroid components snap to a 1e-6 grid
    * (`floor(m·1e6 + 0.5)/1e6`) after every mean, so Spark's partial-agg
    * summation order and the oracle's sequential order produce
    * bit-identical centroid literals; similarities then round to 6dp
    * with cid tiebreak, mirroring the oracle's `row_number` exactly.
    */
  def kmeansAssign(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    e.select(col("vec_id"), kmNearest(kmOracleCentroids(e)))
  }

  /** The fixed-parameter centroid loop of [[kmeansAssign]], shared with
    * [[semanticDedup]] (which clusters with the SAME deterministic
    * centroids so its oracle can re-derive them).
    */
  private def kmOracleCentroids(e: DataFrame): Seq[(Int, Seq[Double])] = {
    var cents: Seq[(Int, Seq[Double])] =
      e.orderBy(col("vec_id")).limit(KmK).collect()
        .toSeq.zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](1).toSeq) }
    for (_ <- 1 to KmIters) {
      val means = e.withColumn("cluster", kmNearest(cents))
        .select(col("cluster"), posexplode(col("v")))
        .groupBy(col("cluster"), col("pos"))
        .agg((floor(avg(col("col")) * 1e6 + 0.5) / 1e6).as("m"))
        .collect() // control-plane: ≤ k·64 rows
      cents = means.groupBy(_.getInt(0)).toSeq.map { case (cid, rows) =>
        (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }.sortBy(_._1)
    }
    cents
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the embedding
    * corpus, then WITHIN each cluster drop every vector that has a
    * τ-similar neighbor with a smaller id (deterministic keep-min-id,
    * the SQL-expressible variant of the paper's greedy representative
    * selection). Clustering is what makes this scale: the quadratic
    * pairwise step runs per cluster, never across the corpus — k grows
    * with N to bound cluster size (here the fixed oracle-deterministic
    * k=8 clustering of [[kmeansAssign]]; production would use
    * [[kmeansFit]] with k ~ N/target_cluster_size). The self-join
    * shuffles on cluster id; cosine is the codegen'd [[cosine_sim]].
    * τ=0.35 is tuned to the synthetic corpus (its pairwise max is ~0.51;
    * real near-dup corpora use 0.95+) so the drop path is exercised.
    */
  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val a = e.select(col("vec_id"), col("v"),
      kmNearest(kmOracleCentroids(e)))
    val dropped = a.alias("x").join(a.alias("y"),
        col("x.cluster") === col("y.cluster") &&
          col("x.vec_id") < col("y.vec_id") &&
          round(cosine_sim(col("x.v"), col("y.v")), 6) >= 0.35)
      .select(col("y.vec_id").as("vec_id")).distinct()
    a.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster"))
  }

  /** Production k-means: parameterized k / iteration budget, k-means++
    * initialization over a deterministic sample, and a centroid-movement
    * convergence stop — the tunable sibling of the fixed-parameter
    * [[kmeansAssign]] (which stays as-is for the oracle gate).
    *
    * Init: one corpus scan collects a hash-ordered sample of `sampleN`
    * vectors to the driver (bounded control-plane data); k-means++ D²
    * seeding runs over the sample with a fixed seed — at 100 TB this is
    * the one-round k-means‖ shape: sample once, seed driver-side,
    * instead of k sequential corpus scans. Lloyd rounds then iterate
    * over the SAME driver-resident sample (the standard sample-bounded
    * fit — the PQ codebook in [[pqTrain]] already trains this way):
    * assignment replicates [[kmNearest]]'s arithmetic exactly (6dp
    * HALF_UP-rounded cosine, smallest-cid tie), means snap to the same
    * 1e-6 grid, and the loop stops as soon as the largest centroid
    * movement (cosine distance old→new) drops under `tol`, or at
    * `maxIters`. An empty cluster keeps its previous centroid instead
    * of vanishing. Only the final corpus-wide ASSIGNMENT touches the
    * cluster — one scan with a per-row codegen expression over centroid
    * literals — where a corpus-wide Lloyd paid one full
    * scan+explode+shuffle job PER ROUND (up to 20 jobs whose per-job
    * overhead, not arithmetic, dominated the one-time index build).
    * When the corpus is no bigger than `sampleN` the sample IS the
    * corpus, so the fit sees every vector exactly as before.
    *
    * Returns (assignments `(vec_id, cluster)`, centroids, rounds run).
    */
  def kmeansFit(e: DataFrame, k: Int, maxIters: Int = 20, tol: Double = 1e-4,
                sampleN: Int = 4096, seed: Long = 42L)
      : (DataFrame, Seq[(Int, Seq[Double])], Int) = {
    require(k > 0, "k must be positive")
    def cosDist(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      math.max(0.0, 1.0 - dot / math.sqrt(na * nb + 1e-300))
    }
    // deterministic sample: md5-ordered prefix — no full sort at scale
    // beyond the top-N (Spark's orderBy+limit is a TakeOrdered partial)
    val sample = e
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(math.max(sampleN, k))
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toIndexedSeq)
    require(sample.nonEmpty, "kmeansFit on an empty corpus")
    // k-means++ over the sample: next seed drawn D²-proportionally
    val rnd = new scala.util.Random(seed)
    val centers = scala.collection.mutable.ArrayBuffer(
      sample(rnd.nextInt(sample.length)))
    val minD = Array.fill(sample.length)(Double.MaxValue)
    while (centers.length < k) {
      var total = 0.0
      var i = 0
      while (i < sample.length) {
        minD(i) = math.min(minD(i), cosDist(sample(i), centers.last))
        total += minD(i); i += 1
      }
      if (total <= 0.0) centers += sample(rnd.nextInt(sample.length))
      else {
        val target = rnd.nextDouble() * total
        var acc = 0.0; var pick = sample.length - 1; var j = 0
        var found = false
        while (j < sample.length && !found) {
          acc += minD(j)
          if (acc >= target) { pick = j; found = true }
          j += 1
        }
        centers += sample(pick)
      }
    }
    // assignment arithmetic mirrors [[kmNearest]]: 6dp HALF_UP-rounded
    // cosine similarity, argmax with smallest-cid tiebreak — so the
    // sample-Lloyd rounds agree with what a corpus-wide round would have
    // computed wherever the sample covers the corpus
    def round6(v: Double): Double =
      java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def cosSim(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 0.0 else dot / denom
    }
    var cents: Seq[(Int, Seq[Double])] =
      centers.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    var iters = 0
    var moved = Double.MaxValue
    while (iters < maxIters && moved > tol) {
      val cArr = cents.map(_._2.toIndexedSeq).toIndexedSeq
      val sums = Array.fill(cArr.length, cArr.head.length)(0.0)
      val counts = new Array[Long](cArr.length)
      var si = 0
      while (si < sample.length) {
        val v = sample(si)
        var best = 0; var bestSim = round6(cosSim(v, cArr(0)))
        var ci = 1
        while (ci < cArr.length) {
          val s0 = round6(cosSim(v, cArr(ci)))
          if (s0 > bestSim) { bestSim = s0; best = ci }
          ci += 1
        }
        var di = 0
        while (di < v.length) { sums(best)(di) += v(di); di += 1 }
        counts(best) += 1
        si += 1
      }
      val next = cents.map { case (cid, old) =>
        if (counts(cid) == 0L) (cid, old) // empty cluster keeps its centroid
        else (cid, sums(cid).toIndexedSeq
          .map(s0 => math.floor(s0 / counts(cid) * 1e6 + 0.5) / 1e6))
      }
      moved = cents.zip(next).map { case ((_, a), (_, b)) =>
        cosDist(a.toIndexedSeq, b.toIndexedSeq)
      }.max
      cents = next
      iters += 1
    }
    (e.select(col("vec_id"), kmNearest(cents)), cents, iters)
  }

  /** Oracle: the same two Lloyd rounds as chained CTEs — seeds by
    * vec_id order, 6dp-rounded cosine argmin via `row_number`, centroid
    * means snapped to the same 1e-6 grid (`v[i]` is 1-based; the Spark
    * side only uses `pos` as a sort key, so 0- vs 1-based never leaks).
    */
  /** The two-round Lloyd CTE chain shared by [[kmeansAssignSql]] and
    * [[semanticDedupSql]] — ends with `a2(vec_id, v, cid)`, the final
    * assignment under the converged centroids.
    */
  private val kmeansCtes: String = {
    val cos = (v: String, c: String) =>
      s"round(list_dot_product($v, $c) / (sqrt(list_dot_product($v, $v)) " +
        s"* sqrt(list_dot_product($c, $c))), 6)"
    def assign(src: String, cents: String, out: String) =
      s"""$out AS (SELECT vec_id, v, cid FROM (
         |  SELECT e.vec_id, e.v, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
         |  FROM $src e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    def update(src: String, out: String) =
      s"""$out AS (SELECT cid, list(m ORDER BY i) AS cv FROM (
         |  SELECT cid, i, floor(avg(v[i]) * 1e6 + 0.5) / 1e6 AS m
         |  FROM $src, UNNEST(generate_series(1, 64)) AS t(i)
         |  GROUP BY cid, i) GROUP BY cid)""".stripMargin
    s"""WITH e AS (SELECT vec_id,
       |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid,
       |         v AS cv
       |       FROM e ORDER BY vec_id LIMIT $KmK),
       |${assign("e", "c0", "a0")},
       |${update("a0", "c1")},
       |${assign("e", "c1", "a1")},
       |${update("a1", "c2")},
       |${assign("e", "c2", "a2")}""".stripMargin
  }

  val kmeansAssignSql: String =
    s"""$kmeansCtes
       |SELECT vec_id, cid AS cluster FROM a2""".stripMargin

  /** Oracle: same clusters, then keep-min-id within cluster at τ=0.35. */
  val semanticDedupSql: String =
    s"""$kmeansCtes,
       |dropped AS (SELECT DISTINCT y.vec_id
       |  FROM a2 x JOIN a2 y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  WHERE round(list_dot_product(x.v, y.v)
       |    / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))),
       |    6) >= 0.35)
       |SELECT vec_id, cid AS cluster FROM a2
       |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin

  val embeddingNearDupsSql: String =
    s"""WITH e0 AS (SELECT vec_id,
      |              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |            FROM embeddings),
      |e AS (SELECT vec_id, v FROM e0),
      |$signBandsSql
      |SELECT DISTINCT a.vec_id AS vec1, b.vec_id AS vec2,
      |  round(list_dot_product(a.v, b.v)
      |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
      |    6) AS cos_sim
      |FROM bands a JOIN bands b ON a.band_idx = b.band_idx
      |  AND a.band_val = b.band_val AND a.vec_id < b.vec_id
      |WHERE round(list_dot_product(a.v, b.v)
      |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
      |    6) >= 0.99""".stripMargin
}
