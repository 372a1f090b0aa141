package graft.materialize

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** SCD-2 snapshots (SURVEY §2.B B11–B17; reference
  * `materialization_snapshot_default` @108699, `snapshot_staging_table`
  * @102012, `build_snapshot_table` @105612, `default__snapshot_merge_sql`
  * @97630).
  *
  * Meta columns: `dbt_scd_id` (md5 surrogate of key+updated_at,
  * `snapshot_hash_arguments` @115609), `dbt_updated_at`, `dbt_valid_from`,
  * `dbt_valid_to` (NULL = current row), plus the engine-internal partition
  * columns [[Snapshotter.BUCKET]] and [[Snapshotter.SUB]].
  *
  * Scale: the history table is PARTITIONED two levels deep —
  * validity bucket (`current` for open rows, `yyyy-MM` of `dbt_valid_to`
  * for closed ones) over a key-hash sub-bucket of `dbt_scd_id`. A run
  * reads ONLY the pruned current partition for change detection (closed
  * history never enters the join), then swaps in just the LEAF dirs that
  * received changes: the current sub-buckets holding changed/inserted
  * keys and the (month, sub) leaves receiving closures. Untouched leaves
  * — closed months AND current sub-buckets with no delta — keep their
  * files byte-identical, so a daily snapshot with a small delta rewrites
  * O(delta) sub-buckets, not the whole multi-TB current slice. The
  * sub-bucket count adapts to the current-slice size (footer-count
  * metadata read, no scan): 1 at test scale — the layout degenerates to
  * the plain bucket scheme — growing toward 4096 as the slice approaches
  * billions of rows. Sub values persist with each row, so a count change
  * between runs just lets epochs coexist; correctness never depends on
  * the bucketing function, only on the persisted values.
  */
final class Snapshotter(wh: Warehouse, subBuckets: Option[Int] = None) {

  import Snapshotter.{BUCKET, CURRENT, StagingPersistMinRows, SUB}

  private val META = Seq("dbt_scd_id", "dbt_updated_at", "dbt_valid_from", "dbt_valid_to")
  /** dbt 1.9 `hard_deletes: new_record` tracking flag (string
    * 'True'/'False', dbt's own spelling).
    */
  private val DEL = "dbt_is_deleted"

  /** B17: surrogate key — md5 over pipe-joined key columns + updated_at. */
  private def scdId(keys: Seq[String], updatedAt: Column): Column =
    md5(concat_ws("|",
      keys.map(k => coalesce(col(k).cast("string"), lit(""))) :+
        coalesce(updatedAt.cast("string"), lit("")): _*))

  /** Partition bucket of a row given its validity end: open rows live in
    * the `current` partition, closed rows in the month of their close.
    * Month granularity bounds the rewrite amplification of a run (≤ the
    * closures of the touched months) while keeping the partition count
    * low (12/year — no small-file explosion over decades of history).
    * With `dbt_valid_to_current` configured, the sentinel ALSO means
    * open (rows written before the config landed keep their NULLs — dbt
    * does not rewrite history on a config change, so both spellings of
    * "open" must stay current forever).
    */
  private def bucketOf(validTo: Column,
                       validToCurrent: Option[String]): Column =
    when(isOpen(validTo, validToCurrent), lit(CURRENT))
      .otherwise(date_format(validTo.cast("date"), "yyyy-MM"))

  private def isOpen(validTo: Column,
                     validToCurrent: Option[String]): Column =
    validToCurrent.fold(validTo.isNull)(v =>
      validTo.isNull || validTo === lit(v).cast("timestamp"))

  /** Key-hash sub-bucket for a given epoch's bucket count. */
  private def subOf(scdIdCol: Column, n: Int): Column =
    pmod(xxhash64(scdIdCol), lit(n.toLong))

  /** ~1M rows per sub-bucket, capped at 4096 buckets: 1 below a million
    * current rows (single-leaf layout, zero overhead at test scale), one
    * leaf per ~million rows beyond.
    */
  private def adaptiveN(rows: Long): Int = {
    val target = 1L << 20
    math.max(1L, math.min(4096L, (rows + target - 1) / target)).toInt
  }

  /** Read a snapshot relation WITHOUT the internal partition columns —
    * the user-visible schema is source columns + the four dbt meta
    * columns.
    */
  def read(rel: Relation): DataFrame = wh.read(rel).drop(BUCKET, SUB)

  /** In-leaf layout for point lookups: an as-of-key probe over years of
    * closed history otherwise opens every (month, sub) leaf — SUB hashes
    * the scd_id, so it spreads a key's versions but gives a KEY probe no
    * pruning. Single-key snapshots sort leaves by (key, dbt_valid_from)
    * (tight per-file min/max on the lookup column via the range
    * sidecar); multi-column NUMERIC/temporal keys z-order over the keys
    * so a probe on either column alone stays selective; multi-column
    * keys with any string column fall back to the lexicographic cluster
    * sort (ZOrder quantizes only ordered-numeric dimensions — a string
    * key still gets per-file min/max on the sort prefix plus its bloom
    * sidecar). Returns (clusterCols, zorderCols) for the writer.
    *
    * The layout applies to CLOSED rows only (the writer's `layoutWhen`):
    * a (month, sub) leaf is written once when its rows close — closures
    * always stamp the run's month — and never rewritten after, so the
    * sort is paid once per row lifetime. The hot CURRENT slice, which
    * every run rewrites, skips the sort and keeps only bloom sidecars
    * (what point probes use to skip current files).
    */
  private def historyLayout(df: DataFrame,
                            keys: Seq[String]): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.types._
    val zorderable = keys.forall(k => df.schema(k).dataType match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    })
    if (keys.size >= 2 && zorderable) (Nil, keys)
    else (keys :+ "dbt_valid_from", Nil)
  }

  // Bloom sidecars on the key columns ride every snapshot write (the
  // explicit `bloomCols` writer parameter — NOT the session conf, which
  // would leak onto concurrent node writes of other relations):
  // ManifestFileIndex then skips each leaf whose bloom proves the probed
  // key absent — the complement of the in-leaf sort, for keys that
  // DON'T sort near the probe.

  /** Validity/change columns for the `check` strategy need a transaction
    * time; the engine passes the wall clock, tests/oracles pin a literal.
    *
    * dbt 1.9 knobs:
    *  - `hardDeletes`: `ignore` (default) leaves vanished keys current;
    *    `invalidate` closes them (= the legacy invalidateHardDeletes);
    *    `new_record` closes them AND inserts a tracking row carrying the
    *    last-known data values with `dbt_is_deleted='True'` — the mode
    *    where deletion is itself a versioned fact. A reappearing key
    *    closes the deletion row and inserts a fresh 'False' one (the
    *    check strategy treats the flag as a checked column so identical
    *    data still registers the un-delete).
    *  - `validToCurrent`: a sentinel timestamp (e.g. '9999-12-31')
    *    written as `dbt_valid_to` of OPEN rows instead of NULL — the
    *    dbt 1.9 `dbt_valid_to_current` config. Reads treat NULL and the
    *    sentinel as open (pre-config history is never rewritten).
    *  - `metaNames`: dbt 1.9 `snapshot_meta_column_names` — canonical →
    *    custom renames of the five meta columns, applied at the storage
    *    boundary (internals stay canonical; the stored relation and
    *    [[read]] carry the custom names).
    */
  def snapshot(source: DataFrame, rel: Relation, keys: Seq[String],
               strategy: SnapshotStrategy, now: Column = current_timestamp(),
               invalidateHardDeletes: Boolean = false,
               hardDeletes: Option[String] = None,
               validToCurrent: Option[String] = None,
               metaNames: Map[String, String] = Map.empty): Unit =
  // SCD-2 is read-modify-write (current rows decide closings/inserts):
  // hold the relation's writer lock across the whole cycle, like the
  // incremental merge family
  wh.withRelationLock(rel) {
    val delMode = hardDeletes.getOrElse(
      if (invalidateHardDeletes) "invalidate" else "ignore")
    require(Set("ignore", "invalidate", "new_record").contains(delMode),
      s"hard_deletes must be ignore|invalidate|new_record, got '$delMode'")
    val newRecord = delMode == "new_record"
    val knownMeta = (META :+ DEL).toSet
    val badMeta = metaNames.keySet -- knownMeta
    require(badMeta.isEmpty,
      s"snapshot_meta_column_names: unknown meta column(s) " +
        s"${badMeta.toSeq.sorted.mkString(", ")} (known: " +
        s"${knownMeta.toSeq.sorted.mkString(", ")})")
    // storage-boundary renames: canonical names inside this method, the
    // custom spellings on disk
    def toCanonical(df: DataFrame): DataFrame =
      metaNames.foldLeft(df) { case (d, (canon, custom)) =>
        if (custom != canon && d.columns.contains(custom))
          d.withColumnRenamed(custom, canon)
        else d
      }
    def toCustom(df: DataFrame): DataFrame =
      metaNames.foldLeft(df) { case (d, (canon, custom)) =>
        if (custom != canon && d.columns.contains(canon))
          d.withColumnRenamed(canon, custom)
        else d
      }
    val openMarker: Column =
      validToCurrent.fold(lit(null).cast("timestamp"))(v =>
        lit(v).cast("timestamp"))
    // Pin the transaction time to a literal: the run below executes more
    // than one Spark action (leaf discovery, then the write), and a raw
    // current_timestamp() would re-evaluate per action — closings and
    // insertions must carry the SAME stamp, as in dbt's run-start time.
    val nowLit: Column = lit(Snapshotter.clock(source.sparkSession, now))
    val updatedAt: Column = strategy match {
      case SnapshotStrategy.Timestamp(c) => col(c)
      case SnapshotStrategy.Check(_) => nowLit
    }
    if (!wh.exists(rel)) {
      // B12 build_snapshot_table: first run inserts everything as current.
      // Sub-bucket count sized from the source (one count job, first run
      // only) so a bulk initial load is spread from day one.
      val n0 = subBuckets.getOrElse(adaptiveN(source.count()))
      val first0 = source
        .withColumn("dbt_updated_at", updatedAt)
        .withColumn("dbt_valid_from", updatedAt)
        .withColumn("dbt_valid_to", openMarker)
        .withColumn("dbt_scd_id", scdId(keys, updatedAt))
        .withColumn(BUCKET, lit(CURRENT))
        .withColumn(SUB, subOf(col("dbt_scd_id"), n0))
      val first = if (newRecord) first0.withColumn(DEL, lit("False"))
                  else first0
      // every first-run row is CURRENT → the cheap layout path (bloom
      // sidecars only, no sort): the point-lookup layout is for CLOSED
      // history, applied once when rows close (see the layoutWhen write
      // below) — sorting the hot slice would be redone on every rewrite
      wh.writeAtomic(toCustom(first), rel, partitionCols = Seq(BUCKET, SUB),
        bloomCols = keys)
      return
    }

    // sub-bucket count for THIS run's inserts: footer-count metadata of
    // the current partition — no scan, no job
    val curRows = wh.footerRows(rel, s"$BUCKET=$CURRENT")
    val n = subBuckets.getOrElse(adaptiveN(curRows))

    val all = {
      val a0 = toCanonical(wh.read(rel))
      // hard_deletes toggled to new_record over an existing snapshot:
      // pre-existing rows are implicitly not-deleted
      if (newRecord && !a0.columns.contains(DEL))
        a0.withColumn(DEL, lit("False"))
      else a0
    }
    // change detection reads ONLY the current partition (pruned scan) —
    // closed history never enters the join. SUB rides along: it is the
    // row's persisted leaf identity.
    val current = all.filter(col(BUCKET) === CURRENT).drop(BUCKET)

    // Type-drift guard (same hazard class as the microbatch/incremental
    // guards): a WIDER source column type would coerce the staging union
    // to the new type and rewrite only the TOUCHED leaves — closed-
    // history leaves keep the old parquet type, leaving mixed schemas
    // across partition dirs that later reads resolve arbitrarily. A
    // NARROWER source is safe (union coercion casts it up to the stored
    // type, lossless). Refuse widening/incompatible loudly: snapshots
    // have no full-refresh (dbt never rebuilds history), so a type
    // migration must be a deliberate operation, not a silent side effect.
    {
      import org.apache.spark.sql.catalyst.analysis.TypeCoercion
      val storedTypes = all.schema.fields
        .map(f => f.name.toLowerCase -> f.dataType).toMap
      val drifted = source.schema.fields.flatMap { f =>
        storedTypes.get(f.name.toLowerCase).filter(_ != f.dataType).flatMap {
          old => TypeCoercion.findTightestCommonType(f.dataType, old) match {
            case Some(w) if w == old => None // narrower: casts up in the union
            case _ => Some(s"${f.name}(${old.sql}->${f.dataType.sql})")
          }
        }
      }
      if (drifted.nonEmpty) throw new IllegalStateException(
        s"snapshot ${rel.fqName}: source column type widened " +
          s"(${drifted.mkString(", ")}); a leaf-scoped merge would leave " +
          "mixed parquet types between current and closed-history " +
          "partitions — migrate the stored history first " +
          "(Warehouse.alterColumnType / CLI alter-type rewrites every " +
          "leaf atomically on the new type), then snapshot")
    }
    // presence markers, NOT key-nullability: with dbt's plain `=` key join
    // (snapshot_staging_table @102012 joins ON dbt_unique_key =, where a
    // NULL key matches NOTHING), a NULL-key source row must still be seen
    // as present-in-source — it INSERTS every run (dbt's documented
    // behavior), and a NULL-key current row counts as hard-deleted. A
    // null-safe `<=>` here would instead cross-match every NULL-key row
    // on both sides (m×n explosion) — same rationale as
    // Materializer.mergeUpdateSubset.
    val src = source.withColumn("__in_src", lit(1)).alias("s")
    val cur = current.withColumn("__in_cur", lit(1)).alias("c")
    val keyEq = keys.map(k => col(s"s.$k") === col(s"c.$k")).reduce(_ && _)

    // B14/B15 row_changed predicate
    val rowChanged: Column = {
      val base = strategy match {
        case SnapshotStrategy.Timestamp(c) =>
          col(s"c.dbt_valid_from") < col(s"s.$c")
        case SnapshotStrategy.Check(cols0) =>
          val dataCols = source.columns.filterNot(keys.contains)
          val checked = cols0.getOrElse(dataCols.toSeq)
          checked.map(c => !(col(s"s.$c") <=> col(s"c.$c"))).reduce(_ || _)
      }
      // new_record: a key REAPPEARING after a deletion record must
      // register as changed even when its data values are identical —
      // dbt includes the deletion flag among the checked columns
      if (newRecord) base || col(s"c.$DEL") === "True" else base
    }

    val joined = src.join(cur, keyEq, "full_outer")
    val inSrc = col("s.__in_src").isNotNull
    val inCur = col("c.__in_cur").isNotNull

    val srcCols = source.columns.toIndexedSeq
    // B13 staging in ONE frame: every row the run acts on (insert /
    // close / hard-delete) with its decision flags, so insertions and
    // closings are filters of it rather than separate re-derivations
    // from the full-outer join.
    //
    // Size-adaptive materialization (same pattern as the CC resolver's
    // union-find switch): below the threshold the current⟗source join is
    // a broadcast-hash pipeline — recomputing it per consumer is cheaper
    // than a cache round-trip, so staging stays LAZY; above it the join
    // is a genuine two-sided shuffle that must execute ONCE, so the
    // O(delta) staging frame persists and the leaf discovery + payload
    // write all read the cache. Both paths compute identical frames.
    val isInsert = inSrc && (!inCur || rowChanged)
    val isClose = inSrc && inCur && rowChanged
    val isDelete =
      if (delMode == "ignore") lit(false)
      // new_record: a key whose current row is ALREADY the deletion
      // record must not re-delete on every later run it stays absent —
      // the tracking row is inserted once (dbt-adapters#317 semantics)
      else if (newRecord) inCur && !inSrc && col(s"c.$DEL") =!= "True"
      else inCur && !inSrc
    val persistStaging = curRows >= StagingPersistMinRows
    // new_record: a hard-deleted key's source columns are NULL on the s
    // side — the deletion-tracking row carries the CURRENT row's
    // last-known values instead
    def dataCol(c: String): Column =
      if (newRecord) when(isDelete, col(s"c.$c")).otherwise(col(s"s.$c"))
      else col(s"s.$c")
    val staging0 = joined
      .filter(isInsert || isClose || isDelete)
      .select(srcCols.map(c => dataCol(c).as(c)) ++ Seq(
        isInsert.as("__is_insert"), isClose.as("__is_close"),
        isDelete.as("__is_delete"),
        (if (newRecord) col(s"c.$DEL") === "True"
         else lit(false)).as("__cur_deleted"),
        col("c.dbt_scd_id").as("__cur_scd_id"),
        col(s"c.$SUB").as("__cur_sub")): _*)
    val staging =
      if (persistStaging)
        staging0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else staging0

    // source columns are plain names now — updatedAt (strategy column /
    // pinned now) applies directly. A key reappearing AFTER a deletion
    // record re-versions at the transaction time (its source updated_at
    // may predate the deletion — intervals must stay monotone).
    val insertAt: Column =
      if (newRecord) when(col("__cur_deleted"), nowLit).otherwise(updatedAt)
      else updatedAt
    val insertions0 = staging.filter(col("__is_insert"))
      .select(srcCols.map(col) ++ Seq(
        insertAt.as("dbt_updated_at"),
        insertAt.as("dbt_valid_from"),
        openMarker.as("dbt_valid_to"),
        scdId(keys, insertAt).as("dbt_scd_id")): _*)
      .withColumn(SUB, subOf(col("dbt_scd_id"), n))
    // new_record deletion-tracking rows: the last-known data values stay
    // CURRENT under dbt_is_deleted='True', versioned at transaction time
    val insertions = {
      // hard_deletes toggled new_record → ignore/invalidate on an existing
      // snapshot: the stored rows still carry the deletion-flag column, so
      // new versions must too (as 'False') — otherwise the payload union's
      // select(touchedCurrent.columns) throws an unresolved-column error
      // with no hint at the config toggle that caused it
      val ins = if (newRecord || all.columns.contains(DEL))
                  insertions0.withColumn(DEL, lit("False"))
                else insertions0
      if (!newRecord) ins
      else ins.unionByName(staging.filter(col("__is_delete"))
        .select(srcCols.map(col) ++ Seq(
          nowLit.as("dbt_updated_at"),
          nowLit.as("dbt_valid_from"),
          openMarker.as("dbt_valid_to"),
          scdId(keys, nowLit).as("dbt_scd_id"),
          lit("True").as(DEL)): _*)
        .withColumn(SUB, subOf(col("dbt_scd_id"), n)))
    }

    // closings carry the closed row's PERSISTED sub — its leaf identity;
    // a changed row closes at the source's update time (transaction time
    // when the closed row is a deletion record — see insertAt), a hard
    // delete at the pinned transaction time
    val closeAt: Column =
      when(col("__is_close") && !col("__cur_deleted"), updatedAt)
        .otherwise(nowLit)
    val closing = staging.filter(col("__is_close") || col("__is_delete"))
      .select(col("__cur_scd_id").as("dbt_scd_id"),
        closeAt.as("new_valid_to"),
        col("__cur_sub").as("cur_sub"))

    try {
      // Leaf discovery, ONE job: the closed (month, sub) leaves and the
      // touched CURRENT sub-buckets both come from a single distinct
      // over the staging frame. Touched subs are EXACT — the persisted
      // subs of closing rows plus the computed subs of insertion rows
      // (an earlier version re-scanned the whole SOURCE for a superset;
      // deriving from staging drops that pass and shrinks the rewrite to
      // leaves the delta actually touches). Number-safe getters: a
      // persisted sub partition value reads back as int while computed
      // subs are long.
      val closeLike = col("__is_close") || col("__is_delete")
      val discovery = staging.select(
          when(closeLike, bucketOf(closeAt, validToCurrent)).as("closed_b"),
          when(closeLike, col("__cur_sub")).as("closed_sub"),
          when(col("__is_insert"), subOf(scdId(keys, insertAt), n))
            .as("ins_sub"),
          // new_record deletion rows land in their own computed sub
          (if (newRecord)
            when(col("__is_delete"), subOf(scdId(keys, nowLit), n))
          else lit(null)).as("del_sub"))
        .distinct().collect()
      val closedLeaves = discovery.filter(!_.isNullAt(0))
        .map(r => (r.getString(0), r.get(1).asInstanceOf[Number].longValue))
        .distinct.toIndexedSeq
      val insertSubs = (discovery.filter(!_.isNullAt(2))
        .map(_.get(2).asInstanceOf[Number].longValue) ++
        discovery.filter(!_.isNullAt(3))
          .map(_.get(3).asInstanceOf[Number].longValue)).distinct
      val touchedSubs =
        (insertSubs ++ closedLeaves.map(_._2)).distinct.toIndexedSeq

      // B16 merge, leaf-scoped: current rows OF TOUCHED SUB-BUCKETS get
      // dbt_valid_to set where matched (moving them to a closed leaf);
      // staging rows insert as current. `closing` is usually small
      // relative to the touched slice — no forced broadcast hint: AQE
      // broadcasts at runtime when the actual size qualifies (a forced
      // hint would OOM on an upstream backfill that touches most rows).
      val touchedCurrent = current.filter(
        if (touchedSubs.isEmpty) lit(false) else col(SUB).isin(touchedSubs: _*))
      val rewrittenCurrent = touchedCurrent.alias("t")
        .join(closing.alias("u"),
          col("t.dbt_scd_id") === col("u.dbt_scd_id"), "left")
        .select(touchedCurrent.columns.toIndexedSeq.map {
          case "dbt_valid_to" =>
            // open on every current row (NULL or the configured
            // sentinel); a match closes it, an unmatched row keeps its
            // stored open marker
            coalesce(col("u.new_valid_to"), col("t.dbt_valid_to"))
              .as("dbt_valid_to")
          case c => col(s"t.$c").as(c)
        }: _*)
        .unionByName(insertions.select(touchedCurrent.columns.toIndexedSeq.map(col): _*))
        .withColumn(BUCKET, bucketOf(col("dbt_valid_to"), validToCurrent))

      // a replaced closed leaf must carry its EXISTING rows too (the
      // swap replaces the whole leaf dir); untouched leaves never appear
      // in the payload and their files stay byte-identical
      val payload =
        if (closedLeaves.isEmpty) rewrittenCurrent
        else {
          val leafPred = closedLeaves.map { case (b, sb) =>
            col(BUCKET) === b && col(SUB) === sb
          }.reduce(_ || _)
          rewrittenCurrent.unionByName(all.filter(leafPred)
            .select(rewrittenCurrent.columns.toIndexedSeq.map(col): _*))
        }

      // a touched current leaf whose every row closed (and gained no
      // inserts) is written by nobody — drop it explicitly
      val staleLeaves = touchedSubs.map(sb => s"$BUCKET=$CURRENT/$SUB=$sb")
      val (cc0, zc0) = historyLayout(payload, keys)
      // layout columns name the STORED spellings (meta renames applied)
      val (cc, zc) = (cc0.map(c => metaNames.getOrElse(c, c)),
        zc0.map(c => metaNames.getOrElse(c, c)))
      // layout ONLY the closed rows: a (month, sub) leaf is written once
      // when its rows close and never rewritten after (closures always
      // stamp the run's month), so the sort+z-order is paid once per row
      // lifetime; the hot CURRENT slice — rewritten on every run — takes
      // the cheap path (bloom sidecars only, which is what point probes
      // use to skip current files)
      wh.replacePartitions(toCustom(payload), rel, Seq(BUCKET, SUB),
        alsoDropPaths = staleLeaves, clusterCols = cc, zorderCols = zc,
        bloomCols = keys,
        layoutWhen = Some(col(BUCKET) =!= lit(CURRENT)))
    } finally {
      if (persistStaging) { staging.unpersist(); () }
    }
  }

  /** Retention: drop closed-history month buckets strictly OLDER than
    * `keepFrom` (a `yyyy-MM` string; the format sorts lexicographically).
    * The bucketed layout makes expiry a metadata-only directory drop —
    * no scan, no rewrite, the current partition untouched. Returns the
    * dropped bucket values.
    */
  def expireClosedHistory(rel: Relation, keepFrom: String): Seq[String] = {
    require(keepFrom.matches("\\d{4}-\\d{2}"), s"keepFrom must be yyyy-MM: $keepFrom")
    val expired = wh.listPartitions(rel)
      .filter(_.startsWith(s"$BUCKET="))
      .map(_.substring(BUCKET.length + 1))
      .filter(b => b != CURRENT && b < keepFrom)
    expired.foreach(b => wh.dropPartitions(rel, BUCKET, Seq(b)))
    expired
  }

}

object Snapshotter {
  /** Engine-internal validity partition column of snapshot relations. */
  val BUCKET = "graft_scd_bucket"
  /** Engine-internal key-hash sub-bucket partition column. */
  val SUB = "graft_scd_sub"
  /** Bucket value of open rows (`dbt_valid_to IS NULL`). */
  val CURRENT = "current"
  /** Current-row count from which a run's change-detection staging frame
    * is persisted rather than recomputed per consumer (8M rows).
    */
  private val StagingPersistMinRows = 8L << 20

  /** A snapshot run's transaction time: `now` evaluated once over a
    * one-row local relation. The optimizer folds the projection into the
    * local rows and Spark collects them on the driver — no Spark job.
    */
  private[graft] def clock(spark: SparkSession, now: Column): java.sql.Timestamp = {
    import spark.implicits._
    Seq(0).toDF().select(now.cast("timestamp")).head().getTimestamp(0)
  }
}
