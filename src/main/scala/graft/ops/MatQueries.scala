package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.materialize._

/** Oracle-checked POST-STATE queries for the stateful materialization
  * algorithms (SURVEY §2.B B1–B18): each runs a deterministic multi-run
  * scenario into a throwaway warehouse, then returns the final table —
  * whose contents the DuckDB oracle re-derives as a pure query over the
  * base tables.
  */
object MatQueries {
  import TData._

  private def freshWarehouse(s: SparkSession): Warehouse =
    new Warehouse(s, Scratch.dir("graft_wh").toString)
  private def rel(name: String) = Relation("wh", "main", name)

  // ---------------------------------------------------------------- B1 table
  /** B1/B2: CTAS + atomic swap; second overwrite replaces the first. */
  def b1TableSwap(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val m = new Materializer(wh)
    val r = rel("orders_f")
    m.table(orders(s, d), r)                                  // v1: all rows
    m.table(orders(s, d).filter(col("o_orderstatus") === "F"), r) // v2: swap
    wh.read(r)
  }
  val b1TableSwapSql = "SELECT * FROM orders WHERE o_orderstatus = 'F'"

  // ---------------------------------------------------------------- B3 view
  /** B3: view = registered plan, queried through the session catalog. */
  def b3View(s: SparkSession, d: String): DataFrame = {
    val m = new Materializer(freshWarehouse(s))
    m.view(nation(s, d).filter(col("n_regionkey") <= 2), "v_nation_low")
    s.table("v_nation_low")
  }
  val b3ViewSql = "SELECT * FROM nation WHERE n_regionkey <= 2"

  // ------------------------------------------------- B5/B8 delete+insert
  /** B5: composite-key delete+insert upsert on lineitem. */
  def b5DeleteInsert(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val m = new Materializer(wh)
    val r = rel("lineitem_inc")
    val cfg = ModelConfig(materialized = "incremental",
      uniqueKey = Seq("l_orderkey", "l_linenumber"),
      incrementalStrategy = IncrementalStrategy.DeleteInsert)
    val li = lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      col("l_quantity"), col("l_shipdate"))
    m.incremental(li.filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp")), r, cfg)
    val inc = li.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
      .withColumn("l_quantity", col("l_quantity") + 5)
    m.incremental(inc, r, cfg)
    wh.read(r)
  }
  val b5DeleteInsertSql: String =
    """WITH li AS (SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem),
      |inc AS (SELECT l_orderkey, l_linenumber, l_quantity + 5 AS l_quantity, l_shipdate
      |        FROM li WHERE l_shipdate >= TIMESTAMP '1997-01-01')
      |SELECT * FROM inc
      |UNION ALL
      |SELECT * FROM li b
      |WHERE b.l_shipdate < TIMESTAMP '1998-01-01'
      |  AND NOT EXISTS (SELECT 1 FROM inc i
      |                  WHERE i.l_orderkey = b.l_orderkey
      |                    AND i.l_linenumber = b.l_linenumber)""".stripMargin

  // ---------------------------------------------------------- B7 merge (all)
  /** B7: MERGE updating all columns (≡ delete+insert) on orders. */
  def b7Merge(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val m = new Materializer(wh)
    val r = rel("orders_inc")
    val cfg = ModelConfig(materialized = "incremental",
      uniqueKey = Seq("o_orderkey"),
      incrementalStrategy = IncrementalStrategy.Merge)
    val o = orders(s, d)
    m.incremental(o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")), r, cfg)
    val inc = o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    m.incremental(inc, r, cfg)
    wh.read(r)
  }
  val b7MergeSql: String =
    """WITH inc AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |               o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
      |             FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01')
      |SELECT * FROM inc
      |UNION ALL
      |SELECT * FROM orders b
      |WHERE b.o_orderdate < TIMESTAMP '1998-01-01'
      |  AND NOT EXISTS (SELECT 1 FROM inc i WHERE i.o_orderkey = b.o_orderkey)""".stripMargin

  // --------------------------------------- B7 merge_update_columns subset
  /** B7 with `merge_update_columns`: matched rows update ONLY c_acctbal;
    * the increment's changed names must NOT propagate.
    */
  def b7MergeUpdateSubset(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val m = new Materializer(wh)
    val r = rel("customer_inc")
    val cfg = ModelConfig(materialized = "incremental",
      uniqueKey = Seq("c_custkey"),
      incrementalStrategy = IncrementalStrategy.Merge,
      mergeUpdateColumns = Seq("c_acctbal"))
    val c = customer(s, d)
    m.incremental(c, r, cfg)
    val inc = c.filter(col("c_custkey") % 5 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1000)
      .withColumn("c_name", concat(col("c_name"), lit("_SHOULD_NOT_APPEAR")))
    m.incremental(inc, r, cfg)
    wh.read(r)
  }
  val b7MergeUpdateSubsetSql: String =
    """SELECT c_custkey, c_name, c_nationkey,
      |  CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 1000 ELSE c_acctbal END AS c_acctbal,
      |  c_mktsegment
      |FROM customer""".stripMargin

  // ------------------------------------------- B9/B10 insert_overwrite
  /** B9/B10: dynamic partition overwrite — only the partitions present in
    * the increment (years >= 1999) are replaced; older partitions keep the
    * original files untouched.
    */
  def b9InsertOverwrite(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val m = new Materializer(wh)
    val r = rel("orders_by_year")
    val cfg = ModelConfig(materialized = "incremental",
      incrementalStrategy = IncrementalStrategy.InsertOverwrite,
      partitionBy = Seq("o_year"))
    val o = orders(s, d).withColumn("o_year", year(col("o_orderdate")))
    m.incremental(o, r, cfg)
    val inc = o.filter(col("o_year") >= 1999)
      .withColumn("o_totalprice", col("o_totalprice") * 3)
    m.incremental(inc, r, cfg)
    wh.read(r)
  }
  val b9InsertOverwriteSql: String =
    """WITH base AS (SELECT *, year(o_orderdate) AS o_year FROM orders)
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_year >= 1999 THEN o_totalprice * 3 ELSE o_totalprice END AS o_totalprice,
      |  o_orderdate, o_orderpriority, o_year
      |FROM base""".stripMargin

  // --------------------------------------------------- B11 snapshot (ts)
  /** B11–B14: SCD-2 with the timestamp strategy, two runs. Run 2 advances
    * `updated_at` (+30 days) and doubles the price for keys %10==0, and
    * brings in new 1997–98 keys.
    */
  def b11SnapshotTimestamp(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val snap = new Snapshotter(wh)
    val r = rel("orders_snap")
    val o = orders(s, d).select(col("o_orderkey"), col("o_totalprice"),
      col("o_orderdate").as("updated_at"))
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cut99 = lit("1999-01-01").cast("timestamp")
    val strat = SnapshotStrategy.Timestamp("updated_at")
    snap.snapshot(o.filter(col("updated_at") < cut97), r, Seq("o_orderkey"), strat)
    val changed = col("o_orderkey") % 10 === 0 && col("updated_at") < cut97
    val src2 = o.filter(col("updated_at") < cut99)
      .withColumn("o_totalprice",
        when(changed, col("o_totalprice") * 2).otherwise(col("o_totalprice")))
      .withColumn("updated_at",
        when(changed, col("updated_at") + expr("INTERVAL 30 DAYS"))
          .otherwise(col("updated_at")))
    snap.snapshot(src2, r, Seq("o_orderkey"), strat)
    // o_orderdate is TIMESTAMP_NTZ in the parquet; unix_millis needs LTZ —
    // the cast is value-preserving under the UTC session timezone
    wh.read(r).select(col("o_orderkey"), col("o_totalprice"),
      unix_millis(col("dbt_valid_from").cast("timestamp")).as("valid_from_ms"),
      unix_millis(col("dbt_valid_to").cast("timestamp")).as("valid_to_ms"))
  }
  val b11SnapshotTimestampSql: String =
    """WITH src1 AS (SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
      |              WHERE o_orderdate < TIMESTAMP '1997-01-01')
      |SELECT o_orderkey, o_totalprice,
      |  epoch_ms(o_orderdate::TIMESTAMP) AS valid_from_ms,
      |  CASE WHEN o_orderkey % 10 = 0
      |       THEN epoch_ms((o_orderdate + INTERVAL 30 DAY)::TIMESTAMP) END AS valid_to_ms
      |FROM src1
      |UNION ALL
      |SELECT o_orderkey, o_totalprice * 2,
      |  epoch_ms((o_orderdate + INTERVAL 30 DAY)::TIMESTAMP), NULL
      |FROM src1 WHERE o_orderkey % 10 = 0
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, epoch_ms(o_orderdate::TIMESTAMP), NULL
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1999-01-01'""".stripMargin

  // ------------------------------------------------ B15 snapshot (check)
  /** B15: SCD-2 with the check strategy on c_acctbal only — run 2 bumps
    * balances for keys %7==0 and also renames keys %3==0, but the rename
    * alone must NOT open a new version. Transaction times pinned.
    */
  def b15SnapshotCheck(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val snap = new Snapshotter(wh)
    val r = rel("customer_snap")
    val t1 = lit("2024-01-01 00:00:00").cast("timestamp")
    val t2 = lit("2024-02-01 00:00:00").cast("timestamp")
    val strat = SnapshotStrategy.Check(Some(Seq("c_acctbal")))
    val c = customer(s, d).select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    snap.snapshot(c, r, Seq("c_custkey"), strat, now = t1)
    val src2 = c
      .withColumn("c_acctbal",
        when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100)
          .otherwise(col("c_acctbal")))
      .withColumn("c_name",
        when(col("c_custkey") % 3 === 0, concat(col("c_name"), lit("_x")))
          .otherwise(col("c_name")))
    snap.snapshot(src2, r, Seq("c_custkey"), strat, now = t2)
    wh.read(r).select(col("c_custkey"), col("c_name"), col("c_acctbal"),
      unix_millis(col("dbt_valid_from")).as("valid_from_ms"),
      unix_millis(col("dbt_valid_to")).as("valid_to_ms"))
  }
  val b15SnapshotCheckSql: String =
    """SELECT c_custkey, c_name, c_acctbal,
      |  epoch_ms(TIMESTAMP '2024-01-01 00:00:00') AS valid_from_ms,
      |  CASE WHEN c_custkey % 7 = 0
      |       THEN epoch_ms(TIMESTAMP '2024-02-01 00:00:00') END AS valid_to_ms
      |FROM customer
      |UNION ALL
      |SELECT c_custkey,
      |  CASE WHEN c_custkey % 3 = 0 THEN c_name || '_x' ELSE c_name END,
      |  c_acctbal + 100,
      |  epoch_ms(TIMESTAMP '2024-02-01 00:00:00'), NULL
      |FROM customer WHERE c_custkey % 7 = 0""".stripMargin

  // ---------------------------------- dbt 1.9 snapshot lifecycle knobs
  /** hard_deletes='new_record' + dbt_valid_to_current sentinel +
    * snapshot_meta_column_names, one lifecycle: run 1 loads customers,
    * run 2 hard-deletes keys %5==0 (closing their rows AND opening
    * 'True' tracking rows), run 3 brings the keys back unchanged (the
    * deletion row closes, a fresh 'False' version opens at transaction
    * time — the check strategy treats the flag as a checked column).
    * Open rows carry the 9999-12-31 sentinel, dbt_valid_from is stored
    * under the custom name `start_ts`. Transaction times pinned, so the
    * oracle reconstructs every interval exactly.
    */
  def bSnapshotNewRecord(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val snap = new Snapshotter(wh)
    val r = rel("customer_nr_snap")
    val t1 = lit("2024-01-01 00:00:00").cast("timestamp")
    val t2 = lit("2024-02-01 00:00:00").cast("timestamp")
    val t3 = lit("2024-03-01 00:00:00").cast("timestamp")
    val sentinel = "9999-12-31 00:00:00"
    val strat = SnapshotStrategy.Check(Some(Seq("c_acctbal")))
    val names = Map("dbt_valid_from" -> "start_ts")
    val c = customer(s, d).select(col("c_custkey"), col("c_acctbal"))
    def run(src: DataFrame, t: org.apache.spark.sql.Column): Unit =
      snap.snapshot(src, r, Seq("c_custkey"), strat, now = t,
        hardDeletes = Some("new_record"),
        validToCurrent = Some(sentinel), metaNames = names)
    run(c, t1)
    run(c.filter(col("c_custkey") % 5 =!= 0), t2) // %5==0 hard-deleted
    run(c, t3) // deleted keys reappear, data unchanged
    wh.read(r).select(col("c_custkey"), col("dbt_is_deleted"),
      unix_millis(col("start_ts")).as("valid_from_ms"),
      unix_millis(col("dbt_valid_to")).as("valid_to_ms"))
  }
  val bSnapshotNewRecordSql: String =
    """SELECT c_custkey, 'False' AS dbt_is_deleted,
      |  epoch_ms(TIMESTAMP '2024-01-01 00:00:00') AS valid_from_ms,
      |  CASE WHEN c_custkey % 5 = 0
      |       THEN epoch_ms(TIMESTAMP '2024-02-01 00:00:00')
      |       ELSE epoch_ms(TIMESTAMP '9999-12-31 00:00:00') END AS valid_to_ms
      |FROM customer
      |UNION ALL
      |SELECT c_custkey, 'True',
      |  epoch_ms(TIMESTAMP '2024-02-01 00:00:00'),
      |  epoch_ms(TIMESTAMP '2024-03-01 00:00:00')
      |FROM customer WHERE c_custkey % 5 = 0
      |UNION ALL
      |SELECT c_custkey, 'False',
      |  epoch_ms(TIMESTAMP '2024-03-01 00:00:00'),
      |  epoch_ms(TIMESTAMP '9999-12-31 00:00:00')
      |FROM customer WHERE c_custkey % 5 = 0""".stripMargin

  // ----------------------------------------------------------- B18 seed
  /** B18: CSV seed with `column_types` overrides (id→bigint, score→double). */
  def b18Seed(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val m = new Materializer(wh)
    val csv = Scratch.dir("graft_seed").resolve("seed.csv")
    Files.writeString(csv,
      "id,name,score\n1,alpha,1.5\n2,beta,2.25\n3,gamma,-3.75\n")
    m.seed(s, csv.toString, rel("seed_demo"),
      Map("id" -> "bigint", "score" -> "double"))
  }
  val b18SeedSql: String =
    """SELECT * FROM (VALUES
      |  (1::BIGINT, 'alpha', 1.5::DOUBLE),
      |  (2::BIGINT, 'beta', 2.25::DOUBLE),
      |  (3::BIGINT, 'gamma', -3.75::DOUBLE)) t(id, name, score)""".stripMargin

  /** B18 agate-parity: a seed with ISO date, ISO timestamp, and agate
    * boolean spellings (t/f) types like dbt's loader — date/timestamp
    * infer natively, the t/f column upgrades to BOOLEAN (Spark inference
    * alone leaves it string), and explicit `column_types` still win.
    */
  def bSeedAgateTypes(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val m = new Materializer(wh)
    val csv = Scratch.dir("graft_seed_agate").resolve("seed.csv")
    Files.writeString(csv,
      "id,active,flag,joined,seen_at,label\n" +
        "1,t,True,2024-01-02,2024-01-02 03:04:05,yes it is\n" +
        "2,f,False,2024-02-03,2024-02-03 04:05:06,plain\n" +
        "3,yes,True,2024-03-04,2024-03-04 05:06:07,\n")
    val out = m.seed(s, csv.toString, rel("seed_agate"))
    require(out.schema("active").dataType.typeName == "boolean",
      s"t/f/yes column must type boolean, got ${out.schema("active").dataType}")
    require(out.schema("joined").dataType.typeName == "date" &&
      out.schema("seen_at").dataType.typeName == "timestamp",
      "ISO date/timestamp columns must infer natively")
    require(out.schema("label").dataType.typeName == "string",
      "'yes it is' is text, not boolean — the all-values rule must hold")
    out
  }
  val bSeedAgateTypesSql: String =
    """SELECT * FROM (VALUES
      |  (1, true, true, DATE '2024-01-02', TIMESTAMP '2024-01-02 03:04:05', 'yes it is'),
      |  (2, false, false, DATE '2024-02-03', TIMESTAMP '2024-02-03 04:05:06', 'plain'),
      |  (3, true, true, DATE '2024-03-04', TIMESTAMP '2024-03-04 05:06:07', NULL)
      |) t(id, active, flag, joined, seen_at, label)""".stripMargin

  // ----------------------------------------------------------- B20 copy
  /** B20: table copy materialization — union of input relations appended
    * into the destination (`materialization_copy_bigquery` @45600).
    */
  def b20Copy(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val m = new Materializer(wh)
    val r = rel("nation_copy")
    val n = nation(s, d)
    m.table(n.filter(col("n_regionkey") <= 1), r)
    wh.append(n.filter(col("n_regionkey") > 1), r)
    wh.read(r)
  }
  val b20CopySql = "SELECT * FROM nation"

  // ----------------------------------- B48 schema evolution (incremental)
  /** B48: on_schema_change=append_new_columns — the increment carries a new
    * column; history rows get NULL for it, increment rows keep it.
    */
  def b48AppendNewColumns(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val m = new Materializer(wh)
    val r = rel("region_evolve")
    val cfg = ModelConfig(materialized = "incremental",
      uniqueKey = Seq("r_regionkey"),
      incrementalStrategy = IncrementalStrategy.Merge,
      onSchemaChange = OnSchemaChange.AppendNewColumns)
    val reg = region(s, d)
    m.incremental(reg, r, cfg)
    val inc = reg.filter(col("r_regionkey") >= 3)
      .withColumn("r_comment", concat(lit("c_"), col("r_name")))
    m.incremental(inc, r, cfg)
    wh.read(r)
  }
  val b48AppendNewColumnsSql: String =
    """SELECT r_regionkey, r_name,
      |  CASE WHEN r_regionkey >= 3 THEN 'c_' || r_name END AS r_comment
      |FROM region""".stripMargin

  /** B48/B33 type reconciliation: the target starts with an INT value
    * column, the second increment carries it as BIGINT with values > 2³¹ —
    * the engine must widen the target to long (expand_target_column_types
    * @139412) rather than silently wrap/null the big values under a
    * narrowing cast. History rows survive as longs, increment rows keep
    * their full magnitude.
    */
  def b48TypeWiden(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val m = new Materializer(wh)
    val r = rel("region_widen")
    val cfg = ModelConfig(materialized = "incremental",
      uniqueKey = Seq("rk"),
      incrementalStrategy = IncrementalStrategy.Merge)
    val reg = region(s, d)
    m.incremental(reg.select(col("r_regionkey").cast("int").as("rk"),
      (col("r_regionkey") * 10).cast("int").as("val")), r, cfg)
    val inc = reg.filter(col("r_regionkey") >= 3)
      .select(col("r_regionkey").cast("int").as("rk"),
        (col("r_regionkey") * 10 + 5000000000L).cast("bigint").as("val"))
    m.incremental(inc, r, cfg)
    wh.read(r)
  }
  val b48TypeWidenSql: String =
    """SELECT CAST(r_regionkey AS INTEGER) AS rk,
      |  CAST(CASE WHEN r_regionkey >= 3 THEN r_regionkey * 10 + 5000000000
      |       ELSE r_regionkey * 10 END AS BIGINT) AS val
      |FROM region""".stripMargin

  // --------------------------------------------------------- zorder layout
  /** Z-order write clustering: lineitem laid out along the Morton curve of
    * (l_partkey, l_suppkey), then a 2-D box query over the committed
    * table. The layout is the feature under test — FileStats ranges stay
    * tight on BOTH dims so the box plans only in-region files (measured in
    * ZOrderSpec) — while the oracle hash gate proves layout NEVER changes
    * results: the same box aggregate over the raw table must match.
    */
  def xZorderBox(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val m = new Materializer(wh)
    val r = rel("lineitem_z")
    m.table(lineitem(s, d), r,
      ModelConfig(zorderBy = Seq("l_partkey", "l_suppkey")))
    wh.read(r)
      .filter(col("l_partkey").between(100L, 500L) &&
        col("l_suppkey").between(10L, 50L))
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_rows"))
  }
  val xZorderBoxSql: String =
    """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
      |       count(*) AS n_rows
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 500 AND l_suppkey BETWEEN 10 AND 50
      |GROUP BY l_returnflag""".stripMargin

  // -------------------------------------- incremental consumer pipeline
  /** Exactly-once table-to-table incremental pipeline
    * (`Warehouse.processIncrement`): a source table loaded in two
    * batches, a downstream consumer that filters/projects each delta.
    * The consumer runs THREE times — initial full load, a replay with
    * nothing new (must be a detected no-op, or the hash gate sees
    * duplicate rows), and a delta run that may only read batch 2. The
    * oracle re-derives the downstream table as one pure query over
    * orders, which is exactly the append-consumer contract: incremental
    * runs compose to the full-recompute result.
    */
  def xConsumerPipeline(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val src = rel("orders_src"); val dst = rel("orders_big")
    val o = orders(s, d)
    def step(): Option[Long] =
      wh.processIncrement(src, dst, "big_orders")(
        _.filter(col("o_totalprice") > 150000)
          .select(col("o_orderkey"), col("o_totalprice")))
    wh.writeAtomic(o.filter(col("o_orderkey") % 3 === 0), src)
    step()                 // full initial load at src seq 1
    step()                 // nothing new: exactly-once no-op
    wh.append(o.filter(col("o_orderkey") % 3 === 1), src)
    step()                 // delta: only batch 2's rows
    wh.read(dst)
  }
  val xConsumerPipelineSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_orderkey % 3 IN (0, 1) AND o_totalprice > 150000""".stripMargin

  // ------------------------------------------------ table compaction
  /** Unpartitioned small-file compaction (`Warehouse.compactTable`):
    * five appends leave five version dirs; compaction rewrites them as
    * one entry. The hash gate proves the rewrite is contents-preserving
    * — the table still reads as the union of its appends.
    */
  def xCompactTable(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val r = rel("nation_many")
    val n = nation(s, d)
    (0 to 4).foreach(k => wh.append(n.filter(col("n_nationkey") % 5 === k), r))
    wh.compactTable(r, maxEntries = 2)
    wh.read(r)
  }
  val xCompactTableSql = "SELECT * FROM nation"

  // ---------------------------------------------------- bloom lookup
  /** Point-lookup over bloom-indexed appends (`BloomStats`): orders
    * lands in four interleaved batches (keys mod 4 — every dir spans the
    * full key range, so min/max can never prune), then an IN-list
    * lookup. The bloom is a layout optimization; the hash gate proves it
    * never changes results. BloomSpec measures the planned-file
    * reduction itself.
    */
  def xBloomLookup(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val r = rel("orders_bloomed")
    val o = orders(s, d)
    (0 to 3).foreach(k => wh.append(o.filter(col("o_orderkey") % 4 === k), r,
      bloomCols = Seq("o_orderkey")))
    wh.read(r)
      .filter(col("o_orderkey").isin(1L, 7L, 33L, 5000L, 65123L))
      .select(col("o_orderkey"), col("o_totalprice"))
  }
  val xBloomLookupSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_orderkey IN (1, 7, 33, 5000, 65123)""".stripMargin

  // ------------------------------------------------------- CDC apply
  /** CDC fold (`Materializer.applyCdc`): one replication batch carrying
    * deletes (keys %10==0), two competing updates of the same keys
    * (%10==1, seqs 1 and 2 — only seq 2 may land: last-writer-wins
    * within the batch), and inserts of new keys. The oracle re-derives
    * the post-state as a pure query over customer.
    */
  def xCdcApply(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val m = new Materializer(wh)
    val r = rel("customer_cdc")
    val cfg = ModelConfig(materialized = "incremental",
      uniqueKey = Seq("c_custkey"))
    val c = customer(s, d)
    m.table(c, r, cfg)
    val dels = c.filter(col("c_custkey") % 10 === 0)
      .withColumn("_op", lit("D")).withColumn("_seq", lit(1L))
    val upd1 = c.filter(col("c_custkey") % 10 === 1)
      .withColumn("c_acctbal", col("c_acctbal") + 500)
      .withColumn("_op", lit("U")).withColumn("_seq", lit(1L))
    val upd2 = c.filter(col("c_custkey") % 10 === 1)
      .withColumn("c_acctbal", col("c_acctbal") + 999)
      .withColumn("_op", lit("U")).withColumn("_seq", lit(2L))
    val ins = c.filter(col("c_custkey") % 10 === 2)
      .withColumn("c_custkey", col("c_custkey") + 1000000)
      .withColumn("_op", lit("I")).withColumn("_seq", lit(1L))
    m.applyCdc(dels.unionByName(upd1).unionByName(upd2).unionByName(ins),
      r, cfg)
    wh.read(r)
  }
  val xCdcApplySql: String =
    """SELECT c_custkey, c_name, c_nationkey,
      |  CASE WHEN c_custkey % 10 = 1 THEN c_acctbal + 999 ELSE c_acctbal END AS c_acctbal,
      |  c_mktsegment
      |FROM customer WHERE c_custkey % 10 <> 0
      |UNION ALL
      |SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer WHERE c_custkey % 10 = 2""".stripMargin

  // --------------------------------------------- maintained agg view
  /** Incrementally-maintained aggregate view (`maintainAggView`): the
    * source lands in three appends, the view folds each delta into its
    * state (count/sum/min/max by status) with the checkpoint committed
    * atomically, plus a nothing-new replay that must be a no-op. The
    * oracle recomputes the same aggregate over the FINAL source — the
    * incremental folds must be indistinguishable from one big GROUP BY.
    * Money sums fold as integer cents: exact under any fold order, so
    * the hash gate needs no float tolerance.
    */
  def xAggView(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val src = rel("orders_src"); val v = rel("orders_by_status")
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100, 0).cast("long").as("price_cents"))
    val aggs = Seq(("n_orders", "count", "*"),
      ("sum_cents", "sum", "price_cents"),
      ("min_key", "min", "o_orderkey"), ("max_key", "max", "o_orderkey"))
    def run(): Option[Long] =
      wh.maintainAggView(src, v, "agg", Seq("o_orderstatus"), aggs)
    wh.writeAtomic(o.filter(col("o_orderkey") % 3 === 0), src)
    run()
    wh.append(o.filter(col("o_orderkey") % 3 === 1), src)
    run()
    run() // nothing new: detected no-op, view state untouched
    wh.append(o.filter(col("o_orderkey") % 3 === 2), src)
    run()
    wh.read(v)
  }
  val xAggViewSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** Transparent aggregate routing over the maintained view
    * (`graft.plans.AggViewRewrite`, the serving half of
    * [[xAggView]]'s maintenance): the SOURCE-table aggregate — a subset
    * regroup with a key filter, so the fold is non-trivial — must
    * execute against the view's files, verified on the optimized plan
    * (this entry fails loudly if the rewrite stops firing), while the
    * DuckDB oracle recomputes the same answer from the raw table. The
    * spec battery (AggViewRewriteSpec) covers the guard rails; this
    * entry puts the happy path under the driver's hash gate.
    */
  def xMvRewrite(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val src = rel("orders_mv_src"); val v = rel("orders_mv_view")
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      col("o_orderpriority"),
      round(col("o_totalprice") * 100, 0).cast("long").as("price_cents"))
    val keys = Seq("o_orderstatus", "o_orderpriority")
    val aggs = Seq(("n_orders", "count", "*"),
      ("sum_cents", "sum", "price_cents"), ("max_key", "max", "o_orderkey"))
    wh.writeAtomic(o.filter(col("o_orderkey") % 2 === 0), src)
    wh.maintainAggView(src, v, "mv", keys, aggs)
    wh.append(o.filter(col("o_orderkey") % 2 === 1), src)
    wh.maintainAggView(src, v, "mv", keys, aggs)
    graft.plans.AggViewRewrite.install(s)
    graft.plans.AggViewRewrite.register(
      graft.plans.AggViewRewrite.ViewSpec(wh, src, v, "mv", keys, aggs))
    try {
      val q = wh.read(src).filter(col("o_orderstatus") =!= "P")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), sum("price_cents").as("sum_cents"),
          max("o_orderkey").as("max_key"))
      val scans = q.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.inputFiles.toSeq
            case _ => Nil
          }
      }.flatten
      require(scans.nonEmpty && scans.forall(_.contains(wh.path(v))),
        s"agg-view rewrite did not fire: scanned $scans")
      // materialize while the rewrite is live (the driver's write re-plans
      // after deregistration below, which falls back to the source scan —
      // both paths must and do agree, that's the oracle's check)
      q.count()
      q
    } finally graft.plans.AggViewRewrite.deregister(wh, v)
  }
  val xMvRewriteSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  max(o_orderkey) AS max_key
      |FROM orders WHERE o_orderstatus <> 'P'
      |GROUP BY o_orderpriority""".stripMargin

  /** The STALE serving path of the rewrite: the view is maintained over
    * a prefix of the source, the remainder arrives as appends with NO
    * re-maintenance, and the query must still answer exactly — the
    * rewrite unions the view's partials with the appended delta (proven
    * append-only from manifest history). The entry requires the plan to
    * scan BOTH the view and only the delta's version dirs, then the
    * DuckDB oracle recomputes the full answer from the raw table.
    */
  def xMvStaleServe(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val src = rel("orders_mvs_src"); val v = rel("orders_mvs_view")
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100, 0).cast("long").as("price_cents"))
    val keys = Seq("o_orderstatus")
    val aggs = Seq(("n_orders", "count", "*"),
      ("sum_cents", "sum", "price_cents"), ("min_key", "min", "o_orderkey"))
    wh.writeAtomic(o.filter(col("o_orderkey") % 3 =!= 0), src)
    wh.maintainAggView(src, v, "mv", keys, aggs)
    wh.append(o.filter(col("o_orderkey") % 3 === 0), src) // view now stale
    graft.plans.AggViewRewrite.install(s)
    graft.plans.AggViewRewrite.register(
      graft.plans.AggViewRewrite.ViewSpec(wh, src, v, "mv", keys, aggs))
    try {
      val q = wh.read(src).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), sum("price_cents").as("sum_cents"),
          min("o_orderkey").as("min_key"))
      val scans = q.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.inputFiles.toSeq
            case _ => Nil
          }
      }.flatten
      val srcScanned = scans.filter(_.contains(wh.path(src)))
      require(scans.exists(_.contains(wh.path(v))),
        s"stale serving did not scan the view: $scans")
      require(srcScanned.nonEmpty &&
          srcScanned.size < wh.read(src).inputFiles.length,
        "stale serving must scan only the appended delta, " +
          s"got ${srcScanned.size} source files")
      q.count()
      q
    } finally graft.plans.AggViewRewrite.deregister(wh, v)
  }
  val xMvStaleServeSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  min(o_orderkey) AS min_key
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** avg + expression-key serving: the view is keyed per (status, DATE)
    * with sum+count partials; the query asks for a MONTHLY average —
    * avg(price) derives as sum(sum-partials)/sum(count-partials) and
    * trunc(month) coarsens the per-date groups, both transparently. The
    * entry requires the optimized plan to scan only the view; the DuckDB
    * oracle recomputes from the raw table. avg stays hash-exact because
    * price_cents sums are integers below 2^53 — every accumulation order
    * (Spark fold, Spark fallback after deregistration, DuckDB) hits the
    * same exact double.
    */
  def xMvAvg(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val src = rel("orders_mva_src"); val v = rel("orders_mva_view")
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      col("o_orderdate"),
      round(col("o_totalprice") * 100, 0).cast("long").as("price_cents"))
    val keys = Seq("o_orderstatus", "o_orderdate")
    val aggs = Seq(("n_orders", "count", "*"),
      ("cnt_cents", "count", "price_cents"),
      ("sum_cents", "sum", "price_cents"))
    wh.writeAtomic(o.filter(col("o_orderkey") % 2 === 0), src)
    wh.maintainAggView(src, v, "mv", keys, aggs)
    wh.append(o.filter(col("o_orderkey") % 2 === 1), src)
    wh.maintainAggView(src, v, "mv", keys, aggs)
    graft.plans.AggViewRewrite.install(s)
    graft.plans.AggViewRewrite.register(
      graft.plans.AggViewRewrite.ViewSpec(wh, src, v, "mv", keys, aggs))
    try {
      val q = wh.read(src)
        .groupBy(col("o_orderstatus"),
          trunc(col("o_orderdate"), "mm").as("month"))
        .agg(avg("price_cents").as("avg_cents"),
          count(lit(1)).as("n_orders"))
      val scans = q.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.inputFiles.toSeq
            case _ => Nil
          }
      }.flatten
      require(scans.nonEmpty && scans.forall(_.contains(wh.path(v))),
        s"avg/expression-key rewrite did not fire: scanned $scans")
      q.count()
      q
    } finally graft.plans.AggViewRewrite.deregister(wh, v)
  }
  val xMvAvgSql: String =
    """SELECT o_orderstatus, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |  avg(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS avg_cents,
      |  count(*) AS n_orders
      |FROM orders GROUP BY 1, 2""".stripMargin

  // -------------------------------------------------- row-level deletes
  /** Equality deletes (`Warehouse.deleteWhere`/`deleteKeys`): every
    * urgent-priority order is deleted by key WITHOUT rewriting a data
    * file, then a deterministic slice of the deleted keys is re-appended
    * — position semantics must let the re-added rows survive the earlier
    * delete. The oracle re-derives the exact post-state as a pure query.
    */
  def xRowDeletes(s: SparkSession, d: String): DataFrame = {
    val wh = freshWarehouse(s)
    val r = rel("orders_rowdel")
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      col("o_orderpriority"), col("o_totalprice"))
    wh.writeAtomic(o, r)
    wh.deleteWhere(r, col("o_orderpriority") === "1-URGENT", Seq("o_orderkey"))
    wh.append(o.filter(col("o_orderpriority") === "1-URGENT" &&
      col("o_orderkey") % 100 === 0), r)
    wh.read(r)
  }
  val xRowDeletesSql: String =
    """SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      |FROM orders WHERE o_orderpriority <> '1-URGENT'
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      |FROM orders WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 100 = 0""".stripMargin
}
