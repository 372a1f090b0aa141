package graft.materialize

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.csv.GraftCsvInference
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import graft.core._

/** Schema-evolution policies for incremental models (reference
  * `check_for_schema_changes` @133295 incl. `diff_column_data_types`
  * @132239, `process_schema_changes` @137505, `sync_column_schemas`
  * @135344, widening via `adapter.expand_target_column_types` @139412).
  *
  * Type reconciliation on common columns (the `new_target_types` side of
  * the reference's schema-change check): when an increment's column type
  * GROWS (int→bigint, a double where int was), the TARGET widens to the
  * tightest common type before the upsert — under every policy except
  * `fail`, which trips on type changes just like column changes. Without
  * this, `conform` would cast the increment DOWN to the target's narrower
  * type, and in non-ANSI Spark an overflowing long→int cast wraps/nulls
  * silently — corrupted data under a green build. A narrower increment is
  * the safe direction (cast up to the target type, lossless); two types
  * with no common supertype (int vs string) fail loudly under every
  * policy.
  */
object SchemaEvolution {
  import org.apache.spark.sql.catalyst.analysis.TypeCoercion

  final case class Diff(sourceNotInTarget: Seq[StructField],
                        targetNotInSource: Seq[StructField],
                        common: Seq[String],
                        typeChanged: Seq[(String, DataType, DataType)]) {
    def changed: Boolean = sourceNotInTarget.nonEmpty || targetNotInSource.nonEmpty
  }

  def diff(source: StructType, target: StructType): Diff = {
    val s = source.fields.map(f => f.name.toLowerCase -> f).toMap
    val t = target.fields.map(f => f.name.toLowerCase -> f).toMap
    val common = target.fields.toSeq.map(_.name).filter(n => s.contains(n.toLowerCase))
    Diff(
      source.fields.toSeq.filterNot(f => t.contains(f.name.toLowerCase)),
      target.fields.toSeq.filterNot(f => s.contains(f.name.toLowerCase)),
      common,
      // reference diff_column_data_types @132239: common columns whose
      // source type differs from the target's → (name, srcType, tgtType)
      common.collect { case n
          if s(n.toLowerCase).dataType != t(n.toLowerCase).dataType =>
        (n, s(n.toLowerCase).dataType, t(n.toLowerCase).dataType) })
  }

  /** Provably lossless conversions only: every value of `from` is exactly
    * representable in `to`. Catalyst's `numericPrecedence` ranks FloatType
    * ABOVE LongType, so the "tightest common type" of (bigint, float) is
    * FLOAT — following it blindly would auto-rewrite stored long history
    * to float (exact only up to 2^24), the precise silent corruption this
    * feature exists to exclude. Automatic widening is therefore gated on
    * this table; any other crossing fails loudly with the full_refresh
    * hint, like the no-common-supertype case.
    */
  private[materialize] def lossless(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    // bytes of each integral type; None for non-integral
    def intBytes(t: DataType): Option[Int] = t match {
      case ByteType => Some(1); case ShortType => Some(2)
      case IntegerType => Some(4); case LongType => Some(8)
      case _ => None
    }
    (from, to) match {
      case (a, b) if a == b => true
      case (a, b) if intBytes(a).isDefined && intBytes(b).isDefined =>
        intBytes(a).get <= intBytes(b).get
      case (ByteType | ShortType, FloatType | DoubleType) => true
      case (IntegerType, DoubleType) => true // 32-bit int < 53-bit mantissa
      case (FloatType, DoubleType) => true
      case (a, d: DecimalType) if intBytes(a).isDefined =>
        // integer part must fit: max decimal digits of each integral type
        val digits = Map(1 -> 3, 2 -> 5, 4 -> 10, 8 -> 19)(intBytes(a).get)
        d.precision - d.scale >= digits
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale && b.precision - b.scale >= a.precision - a.scale
      case _ => false // incl. long→double/float, int→float: lossy above 2^53/2^24
    }
  }

  /** The type a common column is STORED as after reconciliation, or a
    * loud error when no lossless resolution exists. The target keeps its
    * type when it already covers the increment (the increment casts up on
    * conform); otherwise the target may only widen to a type that holds
    * every existing value exactly.
    */
  private def commonStoredType(name: String, srcT: DataType, tgtT: DataType)
      : DataType = {
    import org.apache.spark.sql.types.DecimalType
    (srcT, tgtT) match {
    // decimal↔decimal is not on Catalyst's numericPrecedence ladder, so
    // findTightestCommonType returns None for it — resolve growth/cover
    // directly through the lossless table (growth = scale keeps every
    // fractional digit AND the integer part gains room). A crossing where
    // NEITHER side covers the other (e.g. (10,2) vs (10,4): more scale,
    // less integer headroom) falls through to the loud no-supertype path.
    case (s: DecimalType, t: DecimalType) if lossless(t, s) => s // grows
    case (s: DecimalType, t: DecimalType) if lossless(s, t) => t // covered
    case _ => TypeCoercion.findTightestCommonType(srcT, tgtT) match {
      // DELIBERATE asymmetry (PropertySpec "declared-type-wins"): when the
      // common type IS the target, the stored history never moves and the
      // INCREMENT casts up on conform — standard SQL insert semantics for
      // the author-declared column type. For a float/double target that
      // cast can drop low bits of a large integral increment (long→float
      // above 2^24), exactly as INSERTing an INT64 into a FLOAT64 column
      // does in BigQuery. The lossless gate protects HISTORY (a rewrite
      // of already-stored values), not the declared insert coercion.
      case Some(w) if w == tgtT => tgtT // increment narrower: cast up on conform
      case Some(w) if lossless(tgtT, w) => w // target widens (int→bigint, …)
      case Some(w) => throw new IllegalStateException(
        s"incremental schema change: column `$name` changed from " +
          s"${tgtT.sql} to ${srcT.sql}; their common type ${w.sql} cannot " +
          s"hold every existing ${tgtT.sql} value exactly (automatic " +
          "widening covers only provably lossless promotions: integral→" +
          "wider integral, byte/short/int→double, float→double, decimal " +
          "growth); rerun with full_refresh to rebuild on the new type")
      case None => throw new IllegalStateException(
        s"incremental schema change: column `$name` changed from " +
          s"${tgtT.sql} to ${srcT.sql} with no common supertype; " +
          "rerun with full_refresh to rebuild on the new type")
    }
  }}

  /** Per-common-column target widening (`expand_target_column_types`
    * @139412): columns the target must grow to absorb the increment
    * losslessly. A source type the target already covers needs nothing —
    * `conform` casts the increment up.
    */
  private def widenedColumns(d: Diff): Seq[(String, DataType)] =
    d.typeChanged.flatMap { case (name, srcT, tgtT) =>
      val w = commonStoredType(name, srcT, tgtT)
      if (w == tgtT) None else Some(name -> w)
    }

  private def widen(schema: StructType, cols: Seq[(String, DataType)]): StructType =
    StructType(schema.fields.map { f =>
      cols.collectFirst { case (n, t) if n.equalsIgnoreCase(f.name) =>
        f.copy(dataType = t) }.getOrElse(f)
    })

  /** Align `incoming` and the existing `target` data to the post-policy
    * schema. Returns (alignedIncoming, alignedTarget, requiresTargetRewrite).
    */
  def apply(policy: OnSchemaChange, incoming: DataFrame, target: DataFrame)
      : (DataFrame, DataFrame, Boolean) = {
    val d = diff(incoming.schema, target.schema)
    if (policy == OnSchemaChange.Fail && (d.changed || d.typeChanged.nonEmpty))
      throw new IllegalStateException(
        s"on_schema_change=fail: +${d.sourceNotInTarget.map(_.name).mkString(",")}" +
          s" -${d.targetNotInSource.map(_.name).mkString(",")}" +
          d.typeChanged.map { case (n, s, t) =>
            s" ~$n(${t.sql}->${s.sql})" }.mkString)
    val widened = widenedColumns(d)
    // the target schema every policy starts from: existing columns, with
    // type-grown ones widened to the tightest common type
    val tgtSchema = widen(target.schema, widened)
    if (!d.changed)
      (conform(incoming, tgtSchema),
        if (widened.isEmpty) target else conform(target, tgtSchema),
        widened.nonEmpty)
    else policy match {
      case OnSchemaChange.Ignore =>
        // keep the target's column SET; new source columns are dropped,
        // columns missing from the source are filled with NULL — but type
        // widening still applies (expand_target_column_types runs before
        // the policy check in the reference materialization)
        (conform(incoming, tgtSchema),
          if (widened.isEmpty) target else conform(target, tgtSchema),
          widened.nonEmpty)
      case OnSchemaChange.Fail =>
        throw new IllegalStateException("unreachable: fail handled above")
      case OnSchemaChange.AppendNewColumns =>
        // target grows the new source columns (NULL for history); removed
        // columns are kept
        val merged = StructType(tgtSchema.fields ++ d.sourceNotInTarget)
        (conform(incoming, merged), conform(target, merged), true)
      case OnSchemaChange.SyncAllColumns =>
        // target takes the source column set: add new, drop removed; common
        // columns still resolve through commonStoredType (never narrow or
        // lossily rewrite history silently — same gate as the other policies)
        val synced = widen(incoming.schema,
          d.typeChanged.flatMap { case (n, srcT, tgtT) =>
            val w = commonStoredType(n, srcT, tgtT)
            if (w == srcT) None else Some(n -> w)
          })
        (conform(incoming, synced), conform(target, synced), true)
    }
  }

  /** Project/cast a frame to `schema` (missing columns become NULL). */
  def conform(df: DataFrame, schema: StructType): DataFrame = {
    val have = df.schema.fields.map(_.name.toLowerCase).toSet
    df.select(schema.fields.toIndexedSeq.map { f =>
      if (have.contains(f.name.toLowerCase)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }
}

/** Model contracts (dbt 1.5 `contract: {enforced: true}` + column
  * `data_type` / `not_null` constraints): schema shape is validated
  * BEFORE any write (analysis-time, zero jobs), and not_null is enforced
  * IN the write pass itself — each constrained column is wrapped in a
  * raise-on-null expression, so a violating row aborts the job before
  * the atomic swap/commit lands. No extra scan either way.
  */
object Contracts {

  /** Validate `df` against the declared contract and return the frame
    * with not_null enforcement wrapped in. Contract comparison is by
    * lowercase name + exact DataType, order-insensitive (dbt semantics);
    * the error lists every missing / unexpected / mistyped column at
    * once, like dbt's contract-failure table.
    */
  def enforce(df: DataFrame, contract: Seq[(String, String)],
              notNull: Seq[String], model: String): DataFrame = {
    if (contract.nonEmpty) {
      val declared = contract.map { case (n, t) =>
        n.toLowerCase -> org.apache.spark.sql.types.DataType.fromDDL(t) }.toMap
      require(declared.size == contract.size,
        s"$model: contract declares a column twice")
      val actual = df.schema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
      val missing = declared.keySet -- actual.keySet
      val unexpected = actual.keySet -- declared.keySet
      val mistyped = declared.keySet.intersect(actual.keySet)
        .filter(c => declared(c) != actual(c))
        .map(c => s"$c: declared ${declared(c).sql}, got ${actual(c).sql}")
      if (missing.nonEmpty || unexpected.nonEmpty || mistyped.nonEmpty)
        throw new IllegalStateException(
          s"$model: contract violation — " +
            (if (missing.nonEmpty) s"missing [${missing.toSeq.sorted.mkString(", ")}] " else "") +
            (if (unexpected.nonEmpty) s"unexpected [${unexpected.toSeq.sorted.mkString(", ")}] " else "") +
            (if (mistyped.nonEmpty) s"mistyped [${mistyped.toSeq.sorted.mkString("; ")}]" else ""))
    }
    notNull.foldLeft(df) { (d, c) =>
      d.withColumn(c, when(col(c).isNull, raise_error(lit(
          s"contract violation: $model.$c is null"))).otherwise(col(c)))
    }
  }
}

/** The engine's write-side operators (SURVEY §2.B B1–B10, B18).
  *
  * Every algorithm is a declarative DataFrame plan ending in one
  * distributed write — no driver-side row loops — so the same code path
  * holds on a multi-executor cluster: merges shuffle on the unique key,
  * insert_overwrite rewrites only touched partitions, and small increments
  * are broadcast into the anti-join against the big target.
  */
final class Materializer(wh: Warehouse) {
  import IncrementalStrategy._

  /** B1/B2 `table`: CTAS + atomic swap. */
  def table(df: DataFrame, rel: Relation, cfg: ModelConfig = ModelConfig()): Unit =
    wh.writeAtomic(df, rel, cfg.partitionBy, cfg.clusterBy, cfg.zorderBy)

  /** B3 `view`: the plan is registered, not materialized (temp view in the
    * session catalog — a metastore would make it persistent; the manifest
    * records the definition for recreation).
    */
  def view(df: DataFrame, name: String): Unit =
    df.createOrReplaceTempView(name)

  /** B18 `seed`: CSV load with per-column type overrides
    * (`default__create_csv_table` @68626 `column_types` config; inference
    * otherwise mirrors `adapter.convert_type`).
    *
    * Types are inferred on the driver: [[GraftCsvInference]] reads the
    * file once through Spark's own CSV inference, so the schema is the one
    * `inferSchema` would give, without its two jobs. Seeds are small by
    * dbt's contract (agate holds them in memory), and a load is one Spark
    * job, its write.
    */
  def seed(spark: SparkSession, csvPath: String, rel: Relation,
           columnTypes: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.read.option("header", "true")
    val inferred = GraftCsvInference.infer(spark, csvPath)
    val header = inferred.schema.fieldNames
    val byLower = columnTypes.map { case (k, v) => k.toLowerCase -> v }
    val typed =
      if (header.nonEmpty && header.forall(c => byLower.contains(c.toLowerCase))) {
        // overrides cover every column: read the data AS DECLARED —
        // reading it with the inferred types first can destroy values
        // before the cast ("007" inferred as int 7 casts to the string
        // "7", not "007")
        val schema = StructType(header.map(c =>
          StructField(c, DataType.fromDDL(byLower(c.toLowerCase)))))
        base.schema(schema).csv(csvPath)
      } else {
        // agate-parity refinement (dbt's seed loader is agate): agate's
        // Boolean accepts t/f/yes/no/y/n spellings that Spark's csv
        // inference leaves as string, while ISO dates/timestamps already
        // infer identically (DateType/TimestampType — probed on this
        // Spark). Columns with an explicit column_types override are read
        // AS DECLARED (agate's text-override semantics): the upgrade must
        // not run first — boolean-upgrading a 't' then casting to the
        // declared string would store 'true', destroying the raw value
        val boolCols = inferred.schema.fieldNames
          .filter(inferred.agateBooleans)
          .filterNot(c => byLower.contains(c.toLowerCase))
        val refined = boolCols.foldLeft(base.schema(inferred.schema).csv(csvPath)) {
          (df, c) =>
            df.withColumn(c, when(col(c).isNull, lit(null).cast("boolean"))
              .otherwise(lower(trim(col(c))).isin(GraftCsvInference.AgateTrue.toSeq: _*)))
        }
        columnTypes.foldLeft(refined) { case (df, (c, t)) =>
          df.withColumn(c, col(c).cast(t))
        }
      }
    wh.writeAtomic(typed, rel)
    wh.read(rel)
  }

  /** B4/B6 `incremental`: dispatch on state + strategy
    * (`materialization_incremental_default` @139412).
    */
  def incremental(df: DataFrame, rel: Relation, cfg: ModelConfig,
                  fullRefresh: Boolean = false): Unit =
  // the WHOLE read-modify-write cycle holds the relation's writer lock
  // (reentrant for the inner write): locking only the final write would
  // let two racing merges both read the same stale target and the second
  // commit silently drop the first's rows — the classic lost update
  wh.withRelationLock(rel) {
    if (cfg.incrementalStrategy == Microbatch) {
      microbatch(df, rel, cfg, fullRefresh); return
    }
    if (!wh.exists(rel) || fullRefresh) { table(df, rel, cfg); return }
    val target = wh.read(rel)
    val (inc, tgt, requiresTargetRewrite) =
      SchemaEvolution(cfg.onSchemaChange, df, target)
    (cfg.incrementalStrategy: @unchecked) match { // Microbatch returned above
      case InsertOverwrite =>
        // reference insert_overwrite is single-field (static list and
        // _dbt_max_partition are one value); multi-col stays merge-family
        val pcol = cfg.partitionBy match {
          case Seq(p) => p
          case Nil => throw new IllegalArgumentException(
            "insert_overwrite needs partition_by")
          case many => throw new IllegalArgumentException(
            s"insert_overwrite supports a single partition column, got $many")
        }
        // reference `is_replaceable` (@48682): when the existing layout's
        // partition spec differs from the config — INCLUDING a formerly
        // unpartitioned table (flat files; a dynamic overwrite would write
        // partition dirs next to them and corrupt reads) — REFUSE. `df`
        // was compiled with is_incremental()=true and is filtered to the
        // increment; rebuilding from it would silently discard all
        // history outside the incremental window. The reference only
        // rebuilds in full_refresh_mode, where the SQL is unfiltered.
        // (An existing-but-empty layout — no partition dirs AND no flat
        // data files — is safe to adopt in place.)
        val existingSpec = wh.listPartitions(rel)
          .map(_.takeWhile(_ != '=')).distinct
        if (existingSpec != Seq(pcol) &&
            (existingSpec.nonEmpty || wh.hasFlatFiles(rel)))
          throw new IllegalStateException(
            s"insert_overwrite into ${rel.fqName}: existing partition " +
              s"layout [${existingSpec.mkString(",")}] does not match " +
              s"partition_by=$pcol; rerun with full_refresh to rebuild " +
              "from the complete (unfiltered) model")
        else {
          // Replacement scope: the user-pinned static list when present
          // (reference @34992 static mode — the `partition_col in (<list>)`
          // predicate scopes ONLY the delete branch of the merge-ON-FALSE,
          // so listed partitions are deleted even when the increment holds
          // no rows for them while ALL increment rows insert: out-of-list
          // rows APPEND to their untouched partitions), else the
          // partitions discovered in the increment (dynamic mode).
          val static = cfg.partitions.nonEmpty
          if (requiresTargetRewrite) {
            // schema evolved under append_new_columns/sync_all_columns: an
            // in-place dynamic overwrite would leave untouched partitions
            // on the OLD parquet schema while new partitions get the new
            // one — a later read (mergeSchema off by default) silently
            // drops or misorders columns. Do the partition replacement as
            // one atomic full rewrite on the evolved schema instead:
            // untouched partitions come from the conformed target,
            // replaced partitions from the increment.
            val keep =
              if (static) tgt.filter(col(pcol).isNull ||
                !col(pcol).cast("string").isin(cfg.partitions: _*))
              else tgt.join(inc.select(col(pcol)).distinct(),
                Seq(pcol), "left_anti")
            wh.writeAtomic(keep.unionByName(inc), rel, Seq(pcol),
              cfg.clusterBy)
          } else if (static) {
            // Listed partitions are replaced by their increment rows;
            // out-of-list increment rows append, which under a per-
            // partition swap means their partitions' EXISTING rows must
            // ride along into the replacement (a partition-pruned read —
            // only out-of-list partitions touched by the increment).
            val listed = cfg.partitions.toSet
            val incVals = inc
              .select(col(pcol), col(pcol).cast("string").as("s"))
              .distinct().collect()
              .map(r => (r.get(0), r.getString(1))).toSeq
            val appendVals = incVals
              .collect { case (v, s) if s != null && !listed.contains(s) => v }
            val hasNullInc = incVals.exists(_._2 == null)
            val keepPred = {
              val in = if (appendVals.nonEmpty) col(pcol).isin(appendVals: _*)
                       else lit(false)
              if (hasNullInc) in || col(pcol).isNull else in
            }
            wh.replacePartitions(tgt.filter(keepPred).unionByName(inc), rel,
              Seq(pcol), alsoDropValues = cfg.partitions,
              clusterCols = cfg.clusterBy)
          } else wh.replacePartitions(inc, rel, Seq(pcol))
        }
      case Merge if cfg.uniqueKey.isEmpty =>
        // append-only merge (`ON FALSE`, @89014). When the schema evolved
        // (new columns or a widened type) a plain append would land
        // new-schema files next to old-schema ones — mixed parquet schemas
        // a later read resolves arbitrarily — so the one evolving run pays
        // a full atomic rewrite on the merged schema instead.
        if (requiresTargetRewrite)
          wh.writeAtomic(tgt.unionByName(inc), rel, cfg.partitionBy,
            cfg.clusterBy)
        else wh.append(inc, rel, cfg.partitionBy)
      case Merge if cfg.mergeUpdateColumns.nonEmpty =>
        mergeScope(inc, rel, cfg, requiresTargetRewrite) match {
          case Some((pcol, tgtScoped)) =>
            wh.replacePartitions(mergeUpdateSubset(tgtScoped, inc,
              cfg.uniqueKey, cfg.mergeUpdateColumns), rel, pcol,
              clusterCols = cfg.clusterBy)
          case None =>
            wh.writeAtomic(mergeUpdateSubset(tgt, inc, cfg.uniqueKey,
              cfg.mergeUpdateColumns), rel, cfg.partitionBy, cfg.clusterBy)
        }
      case Merge | DeleteInsert =>
        // full-row upsert: MERGE updating all columns ≡ delete+insert
        // (`incremental_upsert` @144149): anti-join keeps unmatched target
        // rows, the increment provides matched + new rows.
        mergeScope(inc, rel, cfg, requiresTargetRewrite) match {
          case Some((pcol, tgtScoped)) =>
            val keep = antiKeep(tgtScoped, inc, cfg)
            wh.replacePartitions(keep.unionByName(inc), rel, pcol,
              clusterCols = cfg.clusterBy)
          case None =>
            val keep = antiKeep(tgt, inc, cfg)
            wh.writeAtomic(keep.unionByName(inc), rel, cfg.partitionBy,
              cfg.clusterBy)
        }
    }
  }

  /** dbt 1.9 `microbatch` incremental strategy: the model is processed as
    * INDEPENDENT event-time batches — hour/day/month/year periods — each
    * one filtered out of the model and insert_overwritten into its own
    * period slice of the target (partitioned by the derived `event_batch`
    * label column, the physical time-partitioning dbt gets implicitly
    * from BigQuery's `partition_by` on the event_time column).
    *
    *  - initial build (missing target or --full-refresh): every period
    *    from `begin` through the current one;
    *  - incremental run: the current period plus `lookback` periods
    *    before it (late-arriving data window), clamped at `begin`;
    *  - a batch that fails does NOT abort the rest — remaining batches
    *    still run and commit, the error surfaces at the end naming the
    *    failed periods (dbt's per-batch retryability: rerun reprocesses
    *    only the failed window);
    *  - an empty batch CLEARS its period (`alsoDropValues`): the period
    *    now provably holds no rows.
    *
    * dbt filters each upstream ref that declares an event_time; here the
    * batch window is one filter on the model OUTPUT's event_time column
    * and Catalyst pushes it down through the model's projections/joins to
    * the source scans — same pruning, no template machinery. At scale
    * each batch is a partition-scoped write: source scan pruned to the
    * period, target write touching exactly one partition; disjoint
    * periods would also admit concurrent batch writes (dbt 1.9
    * `concurrent_batches`) — kept sequential here so a shared-manifest
    * CAS conflict can never force a batch retry mid-run.
    *
    * "Now" is pinned via the `graft.microbatch.now` session conf
    * (`yyyy-MM-dd[ HH:mm:ss]`) when present — deterministic runs/tests —
    * else wall clock.
    */
  private def microbatch(df: DataFrame, rel: Relation, cfg: ModelConfig,
                         fullRefresh: Boolean): Unit = {
    import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
    require(cfg.eventTime.nonEmpty, "microbatch needs event_time")
    require(cfg.begin.nonEmpty, "microbatch needs begin")
    require(cfg.lookback >= 0, "microbatch lookback must be >= 0")
    // the inline-config parse path validates this too, but a
    // programmatically built ModelConfig must fail here with a clear
    // message, not a MatchError from trunc()/next() below
    require(Set("hour", "day", "month", "year").contains(cfg.batchSize),
      s"microbatch batch_size must be hour|day|month|year, got '${cfg.batchSize}'")
    require(cfg.partitionBy.isEmpty,
      "microbatch derives its own event_batch partition column; " +
        s"partition_by=${cfg.partitionBy.mkString(",")} conflicts")

    def parseDt(s: String): LocalDateTime =
      if (s.length == 10) LocalDate.parse(s).atStartOfDay()
      else LocalDateTime.parse(s.replace(' ', 'T'))
    def trunc(t: LocalDateTime): LocalDateTime = cfg.batchSize match {
      case "hour" => t.withMinute(0).withSecond(0).withNano(0)
      case "day" => t.toLocalDate.atStartOfDay()
      case "month" => t.toLocalDate.withDayOfMonth(1).atStartOfDay()
      case "year" => t.toLocalDate.withDayOfYear(1).atStartOfDay()
    }
    def next(t: LocalDateTime): LocalDateTime = cfg.batchSize match {
      case "hour" => t.plusHours(1)
      case "day" => t.plusDays(1)
      case "month" => t.plusMonths(1)
      case "year" => t.plusYears(1)
    }
    // the partition label is the PERIOD START as a date string — it
    // round-trips through partition-column type inference as a real DATE
    // for day/month/year (BigQuery time-partitioning's column shape);
    // hour keeps a dash form that stays a string
    def label(t: LocalDateTime): String = cfg.batchSize match {
      case "hour" => f"${t.toLocalDate}%s-${t.getHour}%02d"
      case _ => t.toLocalDate.toString
    }

    val now = wh.spark.conf.getOption("graft.microbatch.now")
      .map(parseDt)
      .getOrElse(Instant.ofEpochMilli(System.currentTimeMillis())
        .atZone(ZoneOffset.UTC).toLocalDateTime)
    val beginP = trunc(parseDt(cfg.begin))
    // an EMPTY SHELL (flat zero-row table from an all-empty refresh) has
    // no period partitions — treat it as initial so the next run rebuilds
    // from begin instead of replacePartitions-ing over a flat layout. A
    // plain-layout dir not yet adopted has none either, but rebuilding
    // over its rows unasked would drop them: it refuses instead
    if (!fullRefresh) wh.refuseUnadopted(rel)
    val initial = !wh.exists(rel) || fullRefresh ||
      wh.listPartitions(rel).isEmpty

    // Schema drift guard: replacePartitions writes period slices with
    // the INCOMING schema while untouched periods keep the old one —
    // mixed parquet schemas across partitions, which later reads
    // resolve arbitrarily. Refuse any drifted incremental run loudly
    // (whatever on_schema_change says — ignore must not corrupt);
    // --full-refresh rebuilds every period on the new schema.
    if (!initial) {
      val incoming = df.schema.fieldNames.toSet
      val existingSchema = wh.read(rel).schema
      val existing = existingSchema.fieldNames.toSet - "event_batch"
      if (incoming != existing) throw new IllegalStateException(
        s"microbatch ${rel.fqName}: model schema drifted " +
          s"(added: ${(incoming -- existing).mkString(",")}; removed: " +
          s"${(existing -- incoming).mkString(",")}); a per-period " +
          "replacement would leave mixed schemas across partitions — " +
          "rerun with --full-refresh to rebuild every period")
      // same guard for TYPE drift: a name-identical column whose type
      // changed (int->long) would write new periods in the new type next
      // to old-type periods — the identical mixed-parquet hazard, just
      // invisible to the name check above
      val existingTypes = existingSchema.fields
        .map(f => f.name.toLowerCase -> f.dataType).toMap
      val typeDrift = df.schema.fields.flatMap { f =>
        existingTypes.get(f.name.toLowerCase)
          .filter(_ != f.dataType)
          .map(old => s"${f.name}(${old.sql}->${f.dataType.sql})")
      }
      if (typeDrift.nonEmpty) throw new IllegalStateException(
        s"microbatch ${rel.fqName}: column type drifted " +
          s"(${typeDrift.mkString(", ")}); a per-period replacement " +
          "would leave mixed parquet types across partitions — rerun " +
          "with --full-refresh to rebuild every period on the new type")
    }

    // dbt's --event-time-start/--event-time-end: an explicit backfill
    // window (the recovery path for a failed period OLDER than the
    // lookback — a plain rerun only revisits lookback periods)
    val backStart = wh.spark.conf.getOption("graft.microbatch.start")
      .map(v => trunc(parseDt(v)))
    val backEnd = wh.spark.conf.getOption("graft.microbatch.end")
      .map(v => trunc(parseDt(v)))
    // an initial/full-refresh build and a targeted backfill are mutually
    // exclusive recovery paths: honoring the window here would swap a
    // table holding ONLY the window over the full history
    require(backStart.isEmpty && backEnd.isEmpty || !initial,
      s"microbatch ${rel.fqName}: graft.microbatch.start/end cannot " +
        "combine with an initial or --full-refresh build (the refresh " +
        "would keep only the window); unset the window or drop the flag")
    var start = backStart.getOrElse {
      if (initial) beginP
      else (0 until cfg.lookback).foldLeft(trunc(now))((t, _) =>
        trunc(t.minusNanos(1))) // step back one full period at a time
    }
    if (start.isBefore(beginP)) start = beginP
    val endP = backEnd.filter(e => e.isBefore(now)).getOrElse(now)

    val periods = Iterator.iterate(start)(next)
      .takeWhile(p => !p.isAfter(endP)).toSeq
    // an explicit window that selects no periods is a typo (inverted
    // bounds, window after now) — succeeding silently would read as
    // "the failed period was reprocessed" when nothing ran
    require(periods.nonEmpty || (backStart.isEmpty && backEnd.isEmpty),
      s"microbatch ${rel.fqName}: the explicit window " +
        s"[${backStart.getOrElse(beginP)}, ${backEnd.getOrElse(now)}] " +
        "selects no periods — check the bounds")
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
    // Initial builds that REPLACE an existing table (--full-refresh)
    // accumulate into a temp relation and swap at the end: dropping the
    // target up front would let a first-batch failure destroy committed
    // data the error message promises is safe. A failed full refresh
    // discards only the temp; the original stays live.
    val tmp = rel.suffixed("__mb_tmp")
    val writeRel = if (initial && wh.exists(rel)) tmp else rel
    if (writeRel == tmp) wh.drop(tmp)

    val failed =
      scala.collection.mutable.ListBuffer.empty[(String, LocalDateTime, String)]
    periods.foreach { p =>
      val lbl = label(p)
      val lo = lit(p.format(fmt)).cast("timestamp")
      val hi = lit(next(p).format(fmt)).cast("timestamp")
      val et = col(cfg.eventTime).cast("timestamp")
      val slice = df.filter(et >= lo && et < hi)
        .withColumn("event_batch", lit(lbl))
      try {
        if (!wh.exists(writeRel)) {
          // first materializing batch: an EMPTY partitioned write leaves
          // an unreadable shell (no footer) — stay not-created until a
          // batch actually has rows (isEmpty = a cheap head(1) probe)
          if (!slice.isEmpty)
            wh.writeAtomic(slice, writeRel, Seq("event_batch"))
        } else wh.replacePartitions(slice, writeRel, Seq("event_batch"),
          alsoDropValues = Seq(lbl))
      } catch {
        case e: Exception =>
          failed += ((lbl, p,
            Option(e.getMessage).getOrElse(e.getClass.getName)))
      }
    }
    if (failed.nonEmpty) {
      if (writeRel == tmp) wh.drop(tmp) // original never touched
      val rerunHint =
        if (writeRel == tmp)
          "the full refresh was discarded — the previous table is intact; " +
            "rerun with --full-refresh. "
        else {
          // a plain rerun only revisits lookback periods — failed periods
          // OLDER than that need the explicit backfill window; the hint
          // prints parseDt-compatible PERIOD STARTS, not partition labels
          // (hour labels like 2024-01-10-05 don't parse back)
          val first = failed.head._2.format(fmt)
          val last = failed.last._2.format(fmt)
          "successful batches are committed; reprocess the failed window " +
            s"with graft.microbatch.start='$first' " +
            s"graft.microbatch.end='$last' " +
            "(a plain rerun only revisits the lookback periods). "
        }
      throw new IllegalStateException(
        s"microbatch ${rel.fqName}: ${failed.size} of ${periods.size} " +
          s"batches failed [${failed.map(_._1).mkString(", ")}]; " + rerunHint +
          s"First error (${failed.head._1}): ${failed.head._3}")
    }
    // every period empty → a readable EMPTY table with the model schema
    // (unpartitioned shell; the next run's initial-detection rebuilds
    // over it), consistent across the refresh and fresh-target paths
    def emptyShell(): Unit =
      wh.writeAtomic(df.limit(0)
        .withColumn("event_batch", lit(null).cast("string")), rel)
    if (writeRel == tmp) {
      if (!wh.exists(tmp)) { wh.drop(rel); emptyShell() }
      else {
        // atomic adoption: backup-rename dance, same as writeAtomic's
        val backup = rel.suffixed("__mb_backup")
        wh.drop(backup)
        wh.rename(rel, backup)
        wh.rename(tmp, rel)
        wh.drop(backup)
      }
    } else if (!wh.exists(rel)) emptyShell()
  }

  /** The merge family's keep side: target rows with no increment match.
    * `incremental_predicates` (dbt's merge predicates) AND into the join
    * condition, so out-of-window target rows are never probed — they
    * keep unconditionally. A NULL predicate is out-of-window (no match,
    * row kept), matching SQL join semantics.
    */
  private def antiKeep(tgt: DataFrame, inc: DataFrame,
                       cfg: ModelConfig): DataFrame = {
    val incKeys = inc.select(cfg.uniqueKey.map(inc(_)): _*).distinct()
    if (cfg.incrementalPredicates.isEmpty)
      tgt.join(incKeys, cfg.uniqueKey, "left_anti")
    else {
      val t = tgt.alias("t")
      val i = incKeys.alias("i")
      val cond = cfg.uniqueKey.map(k => col(s"t.$k") === col(s"i.$k"))
        .reduce(_ && _) &&
        cfg.incrementalPredicates
          .map(p => expr(p.replace("DBT_INTERNAL_DEST.", "t.")))
          .reduce(_ && _)
      t.join(i, cond, "left_anti")
    }
  }

  /** B2 legacy per-date partition loop (reference
    * `make_date_partitioned_table` @47149 + `materialization_table_bigquery`
    * `partitions` branch @48682: the dbt-bigquery 0.x surface where a
    * `table` model with a `partitions` date list runs ONE QUERY PER DATE —
    * `[DBT__PARTITION_DATE]` substituted as raw text into the compiled SQL,
    * each result written into that date's partition via the `table$date`
    * decorator, WRITE_TRUNCATE per partition).
    *
    * Mapping onto the path warehouse: the decorator's ingestion-time
    * partition becomes an engine-added DATE column (`dateCol`) the target
    * is partitioned by. A fresh target (or one whose layout doesn't match)
    * is created whole on the first date (the reference's
    * `make_date_partitioned_table(should_create)`); every further date is
    * a per-partition swap that also DROPS the date's partition when the
    * query returns no rows (decorator truncate semantics). Untouched
    * dates' files are never read or rewritten — at scale a 3-day backfill
    * over years of history touches 3 leaf dirs.
    *
    * The loop is sequential by design, matching the reference: each date
    * is an independent query, and per-date failure leaves earlier dates
    * committed (the reference's partial-backfill behavior).
    */
  def datePartitionedTable(spark: SparkSession, compiledSql: String,
                           rel: Relation, cfg: ModelConfig,
                           dates: Seq[String],
                           resolve: String => String = identity,
                           dateCol: String = "_partition_date"): Unit = {
    require(dates.nonEmpty,
      s"${rel.fqName}: [DBT__PARTITION_DATE] model needs a partitions list " +
        "(reference: config(partitions=partition_range(...)))")
    wh.withRelationLock(rel) {
      // a plain-layout dir not yet adopted lists no partitions, and the
      // layout mismatch below would rebuild over its rows
      wh.refuseUnadopted(rel)
      val existingSpec = wh.listPartitions(rel).map(_.takeWhile(_ != '=')).distinct
      val create = !wh.exists(rel) || existingSpec != Seq(dateCol)
      dates.zipWithIndex.foreach { case (date, i) =>
        val sql = compiledSql.replace("[DBT__PARTITION_DATE]", date)
        // decorator date → a proper DATE partition value (partition dirs
        // render as yyyy-MM-dd, read back as DateType)
        val df = spark.sql(resolve(sql))
          .withColumn(dateCol, to_date(lit(date), "yyyyMMdd"))
        val iso = java.time.LocalDate
          .parse(date, java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
          .toString
        if (i == 0 && create)
          wh.writeAtomic(df, rel, Seq(dateCol), cfg.clusterBy)
        else
          wh.replacePartitions(df, rel, Seq(dateCol),
            alsoDropValues = Seq(iso), clusterCols = cfg.clusterBy)
      }
    }
  }

  /** CDC apply: fold a change batch — rows carrying the full payload plus
    * an operation column (`delete`/`d` deletes the key; anything else
    * upserts) and a total-order column (LSN / replication sequence) —
    * into the keyed target. Within the batch only each key's LATEST
    * change lands (last-writer-wins by `ordCol`; ties are caller error —
    * provide a total order), so a replication chunk containing
    * insert→update→delete of one key folds to a single delete. This is
    * the ingestion shape the merge family doesn't cover: MERGE/
    * delete+insert upsert but never delete, while CDC feeds carry all
    * three.
    *
    * Scale shape: one shuffle for the per-key window over the BATCH
    * (small), then the same partition-scoped replacement as the merge
    * family — only partitions the batch touches are read and rewritten,
    * with the moved-key guard falling back to a full merge when a key's
    * claimed partition disagrees with where it lives. Deletes can EMPTY
    * a partition, which plain replacement would silently leave in place,
    * so every touched partition value is pinned for dropping (the static
    * insert_overwrite mechanism). Apply is IDEMPOTENT: re-applying the
    * same batch deletes already-absent keys and overwrites rows with
    * identical values — the property [[applyCdcStreamBatch]]'s
    * exactly-once argument rests on. NULL-key change rows match nothing
    * (plain-equality join semantics, as in MERGE): null-key upserts
    * insert, null-key deletes are no-ops.
    */
  def applyCdc(changes: DataFrame, rel: Relation, cfg: ModelConfig,
               opCol: String = "_op", ordCol: String = "_seq"): Unit =
    wh.withRelationLock(rel) {
      require(cfg.uniqueKey.nonEmpty, "applyCdc requires unique_key")
      val keys = cfg.uniqueKey
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*).orderBy(col(ordCol).desc)
      val last = changes.withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1).drop("__graft_rn")
      val isDelete = lower(col(opCol)).isin("d", "delete")
      val upserts = last.filter(!isDelete).drop(opCol, ordCol)
      val payload = last.drop(opCol, ordCol)
      if (!wh.exists(rel)) { table(upserts, rel, cfg); return }
      val target = wh.read(rel)
      val touchedKeys = last.select(keys.map(last(_)): _*).distinct()
      def fullRewrite(): Unit = {
        val keep = target.join(touchedKeys, keys, "left_anti")
        wh.writeAtomic(keep.unionByName(upserts), rel, cfg.partitionBy,
          cfg.clusterBy)
      }
      mergeScope(payload, rel, cfg, requiresTargetRewrite = false) match {
        case Some((pcols, tgtScoped)) if pcols.size == 1 =>
          val pcol = pcols.head
          val touchedVals = payload.select(col(pcol).cast("string").as("s"))
            .distinct().collect()
            .map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
          if (touchedVals.contains(null)) fullRewrite()
          else {
            val keep = tgtScoped.join(touchedKeys, keys, "left_anti")
            wh.replacePartitions(keep.unionByName(upserts), rel, pcols,
              alsoDropValues = touchedVals, clusterCols = cfg.clusterBy)
          }
        case _ => fullRewrite()
      }
    }

  /** Exactly-once CDC stream sink (`writeStream.foreachBatch` body, or
    * any at-least-once delivery with monotone batch ids): skip batches
    * at or below the committed per-source watermark, apply the rest via
    * [[applyCdc]], then mark the batch id as manifest metadata. The
    * marker commits AFTER the data (unlike [[graft.core.Warehouse
    * .appendStreamBatch]]'s atomic marker) — sound here because apply is
    * idempotent: a crash between the two commits makes the replay
    * re-apply to the identical result and re-mark. Returns false for a
    * detected replay.
    */
  def applyCdcStreamBatch(changes: DataFrame, rel: Relation, cfg: ModelConfig,
                          sourceId: String, batchId: Long,
                          opCol: String = "_op", ordCol: String = "_seq"): Boolean =
    wh.withRelationLock(rel) {
      if (wh.streamWatermark(rel, sourceId).exists(_ >= batchId)) false
      else {
        applyCdc(changes, rel, cfg, opCol, ordCol)
        wh.commitMeta(rel, Map(s"stream.$sourceId" -> batchId.toString))
        true
      }
    }

  /** Partition scoping for the merge family: when the target is laid out
    * partitioned on `cfg.partitionBy`, only the partitions PRESENT IN THE
    * INCREMENT need to be read (partition-pruned scan) and rewritten (per-
    * partition swap) — at 100 TB a daily merge must not rewrite years of
    * untouched history. Scoping is only sound when a given unique key's
    * partition value is stable between runs — a key that MOVES partitions
    * would leave its old row behind in the unread partition. Unless the
    * model declares that stability (`cfg.partitionKeysStable`, the same
    * user assertion as dbt's `incremental_predicates`), a moved-key GUARD
    * runs first: a semi-join of the increment's keys against the
    * out-of-scope partitions (key-column-pruned scan; the increment key
    * set is small, so AQE broadcasts it). Any hit falls back to the
    * full-table merge — correct for moved keys, just not partition-cheap.
    * Returns the partition columns and the scoped target read, or None
    * when scoping doesn't apply (unpartitioned/mismatched layout, a schema
    * evolution that requires rewriting every partition onto the new schema
    * anyway, or a detected moved key). Multi-column layouts scope and swap
    * at leaf-dir granularity.
    */
  private def mergeScope(inc: DataFrame, rel: Relation, cfg: ModelConfig,
                         requiresTargetRewrite: Boolean)
      : Option[(Seq[String], DataFrame)] = {
    val pcols = cfg.partitionBy
    val layoutOk = pcols.nonEmpty && !requiresTargetRewrite &&
      wh.listPartitions(rel).map(_.takeWhile(_ != '=')).distinct == Seq(pcols.head) && {
        val leaves = wh.listPartitionPaths(rel, pcols.length)
        leaves.nonEmpty && leaves.forall(
          _.split("/").toSeq.map(_.takeWhile(_ != '=')) == pcols)
      }
    if (!layoutOk) None
    else {
      // touched partition tuples: a control-plane collect bounded by the
      // number of partitions in the increment (same role as the
      // reference's partition-pruning literals @34992)
      val pred =
        if (pcols.size == 1) {
          val pcol = pcols.head
          val touched = inc.select(col(pcol)).distinct().collect().map(_.get(0))
          val nonNull = touched.filter(_ != null).toSeq
          val in = if (nonNull.nonEmpty) col(pcol).isin(nonNull: _*)
                   else lit(false)
          if (touched.contains(null)) in || col(pcol).isNull else in
        } else {
          // OR of per-tuple ANDs (explicit NULL handling per column);
          // expression size is bounded by the touched partition count
          val touched = inc.select(pcols.map(col): _*).distinct().collect()
          touched.map { r =>
            pcols.zipWithIndex.map { case (c, i) =>
              if (r.isNullAt(i)) col(c).isNull else col(c) === lit(r.get(i))
            }.reduce(_ && _)
          }.reduceOption[Column](_ || _).getOrElse(lit(false))
        }
      val tgt = wh.read(rel)
      val safe = cfg.partitionKeysStable || cfg.uniqueKey.isEmpty || {
        // `!pred` is NULL for a NULL partition value outside the touched
        // set — coalesce keeps those rows in the out-of-scope probe.
        // Plain-equality semi-join: NULL keys never match (they always
        // INSERT in the merge family, so they cannot "move").
        val outOfScope = tgt.filter(coalesce(!pred, lit(true)))
          .select(cfg.uniqueKey.map(col): _*)
        outOfScope.join(
          inc.select(cfg.uniqueKey.map(inc(_)): _*).distinct(),
          cfg.uniqueKey, "left_semi").isEmpty
      }
      if (safe) Some((pcols, tgt.filter(pred))) else None
    }
  }

  /** MERGE with `merge_update_columns` subset (`default__get_merge_sql`
    * @89014 WHEN MATCHED THEN UPDATE SET <subset>): matched target rows
    * keep their other columns — a full-outer join picking per-column.
    */
  private def mergeUpdateSubset(target: DataFrame, inc: DataFrame,
                                keys: Seq[String], updateCols: Seq[String]): DataFrame = {
    val t = target.alias("t")
    val i = inc.alias("i")
    // plain equality, not <=>: dbt's MERGE joins ON t.k = i.k, where NULL
    // keys never match (a NULL-key inc row INSERTS); null-safe equality
    // would cross-match every NULL-key row on both sides (m×n explosion)
    // and diverge from the Merge/DeleteInsert branch's semantics
    val cond = keys.map(k => col(s"t.$k") === col(s"i.$k")).reduce(_ && _)
    val matchedI = keys.map(k => col(s"i.$k").isNotNull).reduce(_ && _)
    val matchedT = keys.map(k => col(s"t.$k").isNotNull).reduce(_ && _)
    val updSet = updateCols.map(_.toLowerCase).toSet
    val cols = target.schema.fields.toIndexedSeq.map { f =>
      val n = f.name
      val pick: Column =
        if (keys.contains(n)) coalesce(col(s"t.$n"), col(s"i.$n"))
        else if (updSet.contains(n.toLowerCase))
          when(matchedI, col(s"i.$n")).otherwise(col(s"t.$n"))
        else when(matchedT, col(s"t.$n")).otherwise(col(s"i.$n"))
      pick.as(n)
    }
    t.join(i, cond, "full_outer").select(cols: _*)
  }

  /** B27 int-range partitioning (reference `partition_by` @13262:
    * `range_bucket(field, generate_array(start, end, interval))` for INT64
    * partition columns): derive the bucket column, then partition the
    * write by it — read-side partition pruning on the bucket is free.
    */
  def withRangeBucket(df: DataFrame, field: String, start: Long,
                      interval: Long, bucketCol: String = "_bucket"): DataFrame =
    df.withColumn(bucketCol,
      floor((col(field) - start) / interval).cast("long"))

  /** `_dbt_max_partition` (reference @34992): the max partition value of
    * the existing target, exposed to model SQL as a precomputed literal so
    * Catalyst can prune the source scan.
    */
  def maxPartition(rel: Relation, partitionCol: String): Option[Any] = {
    if (!wh.exists(rel)) None
    else wh.read(rel).agg(max(col(partitionCol))).collect()
      .headOption.flatMap(r => Option(r.get(0)))
  }

  /** [[maxPartition]] rendered as a SQL literal, timezone-safely: the
    * value is CAST to string BY SPARK (session-timezone rendering), so a
    * `TIMESTAMP '<str>'` literal parsed by the same session round-trips
    * exactly — driver-side `Timestamp.toString` would render in the JVM
    * default zone and shift the boundary by the UTC offset.
    */
  def maxPartitionLiteral(rel: Relation, partitionCol: String): Option[String] = {
    if (!wh.exists(rel)) return None
    val row = wh.read(rel)
      .agg(max(col(partitionCol)).as("m"))
      .select(col("m").cast("string").as("s"), col("m"))
      .collect().head
    if (row.isNullAt(0)) None
    else {
      val s = row.getString(0)
      Some(row.get(1) match {
        case _: String => "'" + s.replace("'", "''") + "'"
        case _: java.sql.Timestamp | _: java.time.Instant =>
          s"TIMESTAMP '$s'"
        case _: java.time.LocalDateTime => s"TIMESTAMP_NTZ '$s'"
        case _: java.sql.Date | _: java.time.LocalDate => s"DATE '$s'"
        case _ => s
      })
    }
  }
}
