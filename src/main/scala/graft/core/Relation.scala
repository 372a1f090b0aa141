package graft.core

/** A 3-part-named warehouse relation (reference: dbt's
  * `database.schema.identifier`, e.g. the source node `relation_name`
  * `` `personal-39217`.`github`.`languages` `` in
  * /root/reference/current_state/manifest.json:1). In this engine a
  * relation is a parquet directory under the warehouse root.
  */
final case class Relation(database: String, schema: String, identifier: String) {
  def pathUnder(root: String): String = s"$root/$database/$schema/$identifier"
  def fqName: String = s"$database.$schema.$identifier"
  /** Temp/backup suffix convention (reference `make_temp_relation` @194314). */
  def suffixed(suffix: String): Relation = copy(identifier = identifier + suffix)
}

/** Incremental strategies (reference
  * `dbt_bigquery_validate_get_incremental_strategy` @33792: merge |
  * insert_overwrite; common `delete+insert` @93622).
  */
sealed trait IncrementalStrategy
object IncrementalStrategy {
  case object Merge extends IncrementalStrategy
  case object DeleteInsert extends IncrementalStrategy
  case object InsertOverwrite extends IncrementalStrategy
  // dbt 1.9 `microbatch`: the model is processed as independent
  // event-time batches, each insert_overwriting its own period slice.
  case object Microbatch extends IncrementalStrategy
}

/** `on_schema_change` policies (reference
  * `incremental_validate_on_schema_change` @130005).
  */
sealed trait OnSchemaChange
object OnSchemaChange {
  case object Ignore extends OnSchemaChange
  case object Fail extends OnSchemaChange
  case object AppendNewColumns extends OnSchemaChange
  case object SyncAllColumns extends OnSchemaChange
}

/** Snapshot strategies (reference `snapshot_timestamp_strategy` @117832,
  * `snapshot_check_strategy` @122973).
  */
sealed trait SnapshotStrategy
object SnapshotStrategy {
  /** Row changed iff `updatedAt` advanced past the snapshotted validity. */
  final case class Timestamp(updatedAt: String) extends SnapshotStrategy
  /** Row changed iff any checked column differs (NULL-safe); `cols=None`
    * means check all non-meta columns (`check_cols='all'` @121224).
    */
  final case class Check(cols: Option[Seq[String]]) extends SnapshotStrategy
}

/** Per-model configuration (reference node `config` in manifest.json:1 and
  * dbt_project.yml:34-36 `+materialized: table` default).
  */
final case class ModelConfig(
    materialized: String = "table", // table | view | incremental | ephemeral
    uniqueKey: Seq[String] = Nil,
    incrementalStrategy: IncrementalStrategy = IncrementalStrategy.Merge,
    mergeUpdateColumns: Seq[String] = Nil, // empty = update all columns
    // Partition column(s). The reference's partition_by is a single field
    // (BigQuery allows one); multi-column layouts are engine hardening —
    // the merge family scopes and swaps at leaf-dir granularity.
    // insert_overwrite (static list, _dbt_max_partition) stays single-col.
    partitionBy: Seq[String] = Nil,
    // insert_overwrite static mode (reference bq_insert_overwrite @34992):
    // a user-pinned list of partition values (string-rendered) to replace.
    // Empty = dynamic mode (partitions discovered from the increment).
    partitions: Seq[String] = Nil,
    clusterBy: Seq[String] = Nil,
    // Multi-dimensional layout (engine hardening beyond the reference's
    // single-axis cluster_by): write files as contiguous regions of the
    // named columns' space via a Morton curve, so FileStats sidecar
    // ranges stay tight on EVERY listed column and a box query plans
    // only the in-region files. Mutually exclusive with clusterBy.
    zorderBy: Seq[String] = Nil,
    onSchemaChange: OnSchemaChange = OnSchemaChange.Ignore,
    // Declares that a unique key's partition value never changes between
    // runs (the usual case: partitioned by an event date the key was born
    // with). Lets the merge family SKIP the moved-key guard scan before
    // taking the partition-scoped write path — the same user assertion as
    // dbt's incremental_predicates, with the same failure mode if the
    // promise is broken (the old row is left behind in the unread
    // partition). Default false: the guard runs and a detected moved key
    // falls back to the full-table merge.
    partitionKeysStable: Boolean = false,
    // `require_partition_filter` (reference bigquery_options @15210): a
    // declared guard — queries reading this relation MUST carry a
    // partition predicate, or the engine refuses loudly (naming the
    // partition column) instead of running an accidental full scan. At
    // 100 TB this is the difference between a pruned read and a
    // cluster-wide table scan. Enforced plan-level after Catalyst
    // pushdown (plans/PartitionFilterGuard); --full-refresh rebuilds are
    // exempt (a deliberate, flagged full reprocess).
    requirePartitionFilter: Boolean = false,
    // dbt `sql_header` config (the config-kv spelling of
    // `set_sql_header`; reference macro.dbt.set_sql_header): session
    // DDL executed before the model body — see Engine.runSqlHeader
    sqlHeader: Option[String] = None,
    // BigQuery TTLs (reference bigquery_options @15210):
    // `hours_to_expiration` — the whole table expires N hours after its
    // last build; `partition_expiration_days` — partitions whose newest
    // data version is older than N days age out. Enforced by
    // `graft vacuum` (Engine.vacuum) against the warehouse's per-version
    // timestamps; carried as properties in catalog.json and the external
    // DDL export. Fractional values are allowed (tests pin windows
    // without clock mocking); BigQuery itself takes integers.
    hoursToExpiration: Option[Double] = None,
    partitionExpirationDays: Option[Double] = None,
    // BigQuery `labels` (reference bigquery_options @15210): key→value
    // console/billing metadata. A parquet warehouse has no console, so
    // labels are legitimately inert here — but a ported project carrying
    // them must load WITHOUT silently dropping config: they ride
    // catalog.json `properties` and the external DDL export as
    // TBLPROPERTIES ('labels.<key>'='<value>'), exactly how the TTLs do.
    labels: Seq[(String, String)] = Nil,
    // BigQuery `kms_key_name`: customer-managed encryption key for the
    // table. Encryption is the storage layer's job in a path warehouse
    // (provider-managed), so the key is carried as a property — the
    // declared key survives the port and the DDL export, never applied.
    kmsKeyName: Option[String] = None,
    // dbt `grants` config: privilege -> grantees (config spelling
    // `grants='select:a,b|insert:c'` — the dict form dbt uses in YAML is
    // flattened to the same pipe form by the loaders). A path warehouse
    // has no ACL store, so grants ride the external DDL export as
    // emitted GRANT statements and the dbt manifest as config metadata
    // (reference grant_access_to @11842 is the BQ authorized-view
    // cousin; dbt's apply_grants runs post-materialization the same way).
    grants: Seq[(String, Seq[String])] = Nil,
    // dbt `incremental_predicates`: SQL predicates over TARGET columns
    // (optionally `DBT_INTERNAL_DEST.`-prefixed, dbt's alias) ANDed into
    // the merge family's anti-join condition — target rows outside the
    // predicate window are never probed for a key match, bounding the
    // join the way dbt's merge predicates bound the warehouse MERGE.
    // Same user assertion + footgun as dbt: an increment that touches a
    // key OUTSIDE the window duplicates it (the old row survives
    // unmatched). Rows where a predicate is NULL count as out-of-window.
    incrementalPredicates: Seq[String] = Nil,
    // dbt 1.9 microbatch knobs (incremental_strategy='microbatch'):
    // `event_time` names the model-output timestamp/date column that
    // assigns each row to a batch; `batch_size` is the period
    // granularity (hour|day|month|year); `lookback` is how many periods
    // before the current one an incremental run reprocesses; `begin` is
    // the left edge of the initial build. The engine derives a visible
    // `event_batch` partition column (the period label) — the physical
    // time-partitioning dbt gets implicitly from BigQuery.
    eventTime: String = "",
    batchSize: String = "day",
    lookback: Int = 1,
    begin: String = "",
    tags: Set[String] = Set.empty,
    // model governance (dbt 1.6 groups + access): a `private` model may
    // only be ref()'d by models in the SAME group — the boundary that
    // lets a platform team refactor internals without breaking unknown
    // consumers. `protected` (the dbt default) and `public` are both
    // freely referenceable within a single project.
    group: String = "",
    access: String = "protected", // private | protected | public
    preHooks: Seq[String] = Nil,
    postHooks: Seq[String] = Nil,
    // Model contract (dbt 1.5 `contract: {enforced: true}` + per-column
    // `data_type`): declared (column, DDL type) pairs the materialized
    // schema must match exactly by name and type (order-insensitive, as
    // dbt checks it) — a drifted model fails BEFORE writing, so
    // downstream consumers never see a surprise schema. Empty = no
    // contract.
    contract: Seq[(String, String)] = Nil,
    // not_null column constraints (dbt `constraints: [{type: not_null}]`)
    // enforced DURING the write itself: each listed column is wrapped in
    // a raise-on-null expression evaluated per row by the write pass —
    // zero extra scans, violations abort the materialization atomically
    // (the swap/commit never happens).
    notNull: Seq[String] = Nil,
    // B37 persist_docs: when true, the model's descriptions
    // (schema.yml `description:`) are emitted as COMMENT clauses in the
    // external DDL export — the dbt `persist_docs: {relation: true,
    // columns: true}` analogue over a catalog-less warehouse (the docs
    // catalog itself always carries descriptions regardless).
    persistDocs: Boolean = false,
    enabled: Boolean = true)
