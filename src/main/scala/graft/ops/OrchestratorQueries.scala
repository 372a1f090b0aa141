package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._
import graft.run._

/** End-to-end orchestrated builds (SURVEY §3): SQL-templated models with
  * ref/source/env_var/this resolution, DAG-ordered materialization, and
  * the canonical `is_incremental()` guard — the full dbt-equivalent
  * lifecycle in one oracle-checked query.
  */
object OrchestratorQueries {

  private def freshRoot(): String =
    Scratch.dir("graft_engine_wh").toString

  /** A `sources.yml` declaring one TPC-H table of corpus `d` as source
    * `tpch.<table>`.
    */
  private def tpchSourceYml(table: String, d: String): String =
    s"""version: 2
       |sources:
       |  - name: tpch
       |    tables:
       |      - name: $table
       |        meta:
       |          external_location: $d/$table.parquet
       |""".stripMargin

  /** Chained build: two sources → a VIEW model → a TABLE model over
    * `ref()`, compiled, DAG-scheduled, materialized, then read back.
    */
  def buildDag(s: SparkSession, d: String): DataFrame = {
    val project = Project(
      name = "demo",
      sources = Seq(
        SourceDef("tpch", "customer", s"$d/customer.parquet"),
        SourceDef("tpch", "nation", s"$d/nation.parquet")),
      models = Seq(
        ModelDef("customer_nation",
          """{{ config(materialized='view') }}
            |SELECT c.c_custkey, c.c_acctbal, n.n_name
            |FROM {{ source('tpch', 'customer') }} c
            |JOIN {{ source('tpch', 'nation') }} n
            |  ON c.c_nationkey = n.n_nationkey""".stripMargin),
        ModelDef("nation_balance",
          """SELECT n_name, count(*) AS n_customers,
            |       round(sum(c_acctbal), 2) AS total_balance
            |FROM {{ ref('customer_nation') }}
            |GROUP BY n_name""".stripMargin)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    val (results, _) = engine.build()
    require(results.forall(_.status == "success"),
      s"build failed: ${results.filter(_.status != "success")}")
    engine.readModel("nation_balance")
  }

  val buildDagSql: String =
    """SELECT n_name, count(*) AS n_customers,
      |  round(sum(c_acctbal), 2) AS total_balance
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** Incremental model lifecycle: run 1 sees only orders ≤ cutoff (env_var
    * substitution), run 2 raises the cutoff — the `is_incremental()` block
    * + `{{ this }}` max-key subquery appends only the delta. Final state
    * must equal a plain full query.
    */
  def incrementalModel(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot()
    val modelSql =
      """{{ config(materialized='incremental', unique_key='o_orderkey') }}
        |SELECT o_orderkey, o_custkey, o_totalprice
        |FROM {{ source('tpch', 'orders') }}
        |WHERE o_orderkey <= {{ env_var('MAX_ID') }}
        |{% if is_incremental() %}
        |  AND o_orderkey > (SELECT max(o_orderkey) FROM {{ this }})
        |{% endif %}""".stripMargin
    val project = Project(name = "demo_incr",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(ModelDef("orders_slim", modelSql)))

    val run1 = new Engine(s, project,
      Target(root, env = Map("MAX_ID" -> "5000"), threads = 1))
    require(run1.build()._1.forall(_.status == "success"))
    val run2 = new Engine(s, project,
      Target(root, env = Map("MAX_ID" -> "999999999"), threads = 1))
    require(run2.build()._1.forall(_.status == "success"))
    run2.readModel("orders_slim")
  }

  val incrementalModelSql: String =
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"

  /** insert_overwrite + `_dbt_max_partition` lifecycle: run 1 loads orders
    * ≤ 5000 partitioned by okey_k = o_orderkey div 1000; run 2 compiles
    * `okey_k >= _dbt_max_partition` into a CONSTANT predicate (the
    * reference's bq_insert_overwrite substitution @34992), so only
    * partitions ≥ 5 are recomputed and dynamically replaced. Buckets 0–4
    * survive untouched from run 1; final state must equal the plain full
    * query — proving both the partition replacement and the literal
    * substitution are correct. (OrchestratorSpec asserts the plan-level
    * partition pruning on a partitioned ref.)
    */
  def insertOverwritePruned(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot()
    val modelSql =
      """{{ config(materialized='incremental', incremental_strategy='insert_overwrite', partition_by='okey_k') }}
        |SELECT o_orderkey, o_custkey, o_totalprice,
        |       CAST(o_orderkey DIV 1000 AS INT) AS okey_k
        |FROM {{ source('tpch', 'orders') }}
        |WHERE o_orderkey <= {{ env_var('MAX_ID') }}
        |{% if is_incremental() %}
        |  AND o_orderkey DIV 1000 >= _dbt_max_partition
        |{% endif %}""".stripMargin
    val project = Project(name = "demo_iop",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(ModelDef("orders_part", modelSql)))

    val run1 = new Engine(s, project,
      Target(root, env = Map("MAX_ID" -> "5000"), threads = 1))
    require(run1.build()._1.forall(_.status == "success"))
    val run2 = new Engine(s, project,
      Target(root, env = Map("MAX_ID" -> "999999999"), threads = 1))
    require(run2.build()._1.forall(_.status == "success"))
    run2.readModel("orders_part")
  }

  val insertOverwritePrunedSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |       CAST(o_orderkey // 1000 AS INT) AS okey_k
      |FROM orders""".stripMargin

  /** dbt 1.9 microbatch lifecycle: the model declares
    * `incremental_strategy='microbatch'` with a yearly event_time batch;
    * run 1 (initial) builds every 1995–2001 period as an independent
    * insert_overwrite into its own `event_batch` partition; run 2
    * (incremental, same pinned "now") reprocesses only the current period
    * plus `lookback=1` before it — idempotent over static data. Final
    * state must equal the plain full query with the derived period-start
    * partition column.
    */
  def microbatchModel(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot()
    val modelSql =
      """{{ config(materialized='incremental', incremental_strategy='microbatch', event_time='o_orderdate', batch_size='year', lookback=1, begin='1995-01-01') }}
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM {{ source('tpch', 'orders') }}""".stripMargin
    val project = Project(name = "demo_microbatch",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(ModelDef("orders_batched", modelSql)))
    s.conf.set("graft.microbatch.now", "2001-12-31")
    try {
      val run1 = new Engine(s, project, Target(root, threads = 1))
      require(run1.build()._1.forall(_.status == "success"))
      val run2 = new Engine(s, project, Target(root, threads = 1))
      require(run2.build()._1.forall(_.status == "success"))
      run2.readModel("orders_batched")
    } finally s.conf.unset("graft.microbatch.now")
  }

  val microbatchModelSql: String =
    // the begin clamp is explicit even though today's fixture starts at
    // 1995-01-01 anyway: rows before `begin` are processed by NO batch,
    // and the oracle must encode that contract, not rely on the fixture
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
      |       date_trunc('year', o_orderdate)::DATE AS event_batch
      |FROM orders
      |WHERE o_orderdate >= DATE '1995-01-01'""".stripMargin

  /** User-defined macros end-to-end (dbt macro search path,
    * `dbt_project.yml:15-20`; the reference reserves the slot via
    * `macros/.gitkeep`): a parameterized SQL-fragment macro whose body
    * `ref()`s another model — the DAG edge comes from INSIDE the macro —
    * expanded, scheduled, materialized, read back; the DuckDB oracle
    * recomputes the expanded SQL directly.
    */
  def userMacros(s: SparkSession, d: String): DataFrame = {
    val macros = graft.compile.Compiler.parseMacros(
      """{% macro count_by(rel, key, alias='n') %}
        |SELECT {{ key }}, count(*) AS {{ alias }}
        |FROM {{ ref({{ rel }}) }} GROUP BY {{ key }}
        |{% endmacro %}""".stripMargin).map(m => m.name -> m).toMap
    val project = Project(name = "demo_macros",
      sources = Seq(SourceDef("tpch", "supplier", s"$d/supplier.parquet")),
      models = Seq(
        ModelDef("suppliers",
          "SELECT s_suppkey, s_nationkey FROM {{ source('tpch','supplier') }}"),
        ModelDef("suppliers_by_nation",
          "{{ count_by('suppliers', s_nationkey, alias=n_suppliers) }}")),
      macros = macros)
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("suppliers_by_nation")
  }

  val userMacrosSql: String =
    """SELECT s_nationkey, count(*) AS n_suppliers
      |FROM supplier GROUP BY s_nationkey""".stripMargin

  /** Jinja control flow end-to-end (the dbt-utils `pivot` idiom): a
    * model whose column list is loop-generated — a `{% set %}` literal
    * list, `{% for %}` with `{{ st }}` interpolation, and
    * `{% if not loop.last %},{% endif %}` comma control — compiled by
    * [[graft.compile.Compiler.expandControlFlow]], built by the engine,
    * and hash-matched against the oracle's hand-expanded pivot.
    */
  def jinjaLoops(s: SparkSession, d: String): DataFrame = {
    val project = Project(name = "demo_loops",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(
        ModelDef("order_status_pivot",
          """{% set statuses = ['O', 'F', 'P'] %}
            |SELECT o_custkey,
            |  {% for st in statuses %}
            |  sum(CASE WHEN o_orderstatus = '{{ st }}' THEN 1 ELSE 0 END)
            |    AS n_status_{{ st }}{% if not loop.last %},{% endif %}
            |  {% endfor %}
            |FROM {{ source('tpch','orders') }}
            |GROUP BY o_custkey""".stripMargin)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("order_status_pivot")
  }

  val jinjaLoopsSql: String =
    """SELECT o_custkey,
      |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_status_O,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_status_F,
      |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_status_P
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** Package imports end-to-end (dbt packages.yml / `dbt deps`): an
    * on-disk project whose `packages/sizing/macros` .sql files load under
    * the `sizing` namespace via [[graft.run.ProjectLoader]]. The model
    * calls one package macro BARE (unambiguous) and one NAMESPACED
    * (`{{ sizing.label(...) }}`), and the package body itself uses a
    * Jinja param filter (`{{ prefix | upper }}`) — the reference's own
    * macro surface ships as exactly such packages (manifest.json:1
    * `$.macros` prefixes `macro.dbt.` / `macro.dbt_bigquery.`).
    */
  def packageMacros(s: SparkSession, d: String): DataFrame = {
    val proj = Scratch.dir("graft_pkg_proj")
    Files.writeString(proj.resolve("dbt_project.yml"), "name: pkg_demo\n")
    Files.createDirectories(proj.resolve("models"))
    Files.writeString(proj.resolve("models").resolve("sources.yml"),
      tpchSourceYml("part", d))
    Files.writeString(proj.resolve("models").resolve("part_buckets.sql"),
      """SELECT p_partkey,
        |  {{ bucket(p_size, 10) }} AS size_bucket,
        |  {{ sizing.label(p_brand) }} AS brand_label
        |FROM {{ source('tpch', 'part') }}""".stripMargin)
    val macrosDir = proj.resolve("packages").resolve("sizing").resolve("macros")
    Files.createDirectories(macrosDir)
    Files.writeString(macrosDir.resolve("sizing.sql"),
      """{% macro bucket(col, width=10) %}CAST(floor({{ col }} / {{ width }}) AS BIGINT){% endmacro %}
        |{% macro label(col, prefix='brand') %}concat('{{ prefix | upper }}', ':', {{ col }}){% endmacro %}
        |""".stripMargin)
    val (project, _) = ProjectLoader.load(proj.toString)
    require(project.macros.contains("sizing.bucket") &&
        project.macros.contains("bucket"),
      s"package macros must bind namespaced + bare: ${project.macros.keys}")
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("part_buckets")
  }

  val packageMacrosSql: String =
    """SELECT p_partkey,
      |  CAST(floor(p_size / 10) AS BIGINT) AS size_bucket,
      |  concat('BRAND', ':', p_brand) AS brand_label
      |FROM part""".stripMargin

  /** The Jinja filter subset end-to-end: `| join` over a set-bound list
    * (with a QUOTED-COMMA item — the parse must not split it), `| lower`
    * on a scalar binding, `range(n)` loops, `| length`, and
    * `| default(...)` on an unbound name — each landing in a compiled
    * column the oracle hand-expands.
    */
  def jinjaFilters(s: SparkSession, d: String): DataFrame = {
    val project = Project(name = "demo_filters",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(
        ModelDef("filtered",
          """{% set keys = ['o_orderkey', 'o_custkey'] %}
            |{% set status_col = 'O_ORDERSTATUS' %}
            |{% set pair = ['a,b', 'c'] %}
            |SELECT {{ keys | join(', ') }},
            |  {{ status_col | lower }} AS status,
            |  {% for i in range(2) %}o_totalprice * {{ i }} AS p{{ i }}, {% endfor %}
            |  {{ pair | length }} AS pair_len,
            |  '{{ missing_knob | default('fallback') | upper }}' AS tag
            |FROM {{ source('tpch', 'orders') }}""".stripMargin)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("filtered")
  }

  val jinjaFiltersSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus AS status,
      |  o_totalprice * 0 AS p0, o_totalprice * 1 AS p1,
      |  2 AS pair_len, 'FALLBACK' AS tag
      |FROM orders""".stripMargin

  /** dbt-utils `get_column_values` end-to-end — the dynamic-pivot idiom
    * (dbt's canonical introspection pattern): a model's column list is
    * generated from the DISTINCT values of an upstream's column, fetched
    * by the ENGINE at compile time (control-plane probe over the built
    * relation, a real DAG edge), bound as a literal list, and expanded by
    * the loop subset. The oracle hand-expands the three order statuses.
    */
  def dynamicPivot(s: SparkSession, d: String): DataFrame = {
    val project = Project(name = "demo_dynpivot",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(
        ModelDef("stg_orders",
          "SELECT o_orderkey, o_custkey, o_orderstatus " +
            "FROM {{ source('tpch', 'orders') }}"),
        ModelDef("status_pivot",
          """{% set statuses = get_column_values(ref('stg_orders'), 'o_orderstatus') %}
            |SELECT o_custkey,
            |  {% for st in statuses %}
            |  CAST(sum(CASE WHEN o_orderstatus = '{{ st }}' THEN 1 ELSE 0 END)
            |    AS BIGINT) AS n_{{ st }}{% if not loop.last %},{% endif %}
            |  {% endfor %}
            |FROM {{ ref('stg_orders') }}
            |GROUP BY o_custkey""".stripMargin)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    require(engine.build()._1.forall(_.status == "success"))
    val out = engine.readModel("status_pivot")
    // column ORDER is dbt-utils' default count(*) DESC (value-asc
    // tie-break), which depends on the data — assert the set; the
    // driver's hash compare sorts columns by name anyway
    require(out.columns.toSet == Set("o_custkey", "n_F", "n_O", "n_P"),
      s"introspected pivot columns drifted: ${out.columns.toSeq}")
    out
  }

  val dynamicPivotSql: String =
    """SELECT o_custkey,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_F,
      |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_O,
      |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_P
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** The builtin dbt-utils SQL macros in one model: `date_spine` (one
    * row per day, end-exclusive), `generate_surrogate_key` (md5 over
    * '-'-joined stringified columns with the dbt-utils null
    * placeholder — byte-compared against DuckDB recomputing the same
    * hash), and `safe_cast` (TRY_CAST on both engines).
    */
  def utilsMacros(s: SparkSession, d: String): DataFrame = {
    val project = Project(name = "demo_utils_macros",
      models = Seq(
        ModelDef("spine",
          """WITH days AS ({{ date_spine('day', "'1995-01-05'", "'1995-01-15'") }}),
            |tagged AS (SELECT date_day, 'tag' AS sk_tag FROM days)
            |SELECT date_day,
            |  {{ generate_surrogate_key(['date_day']) }} AS sk,
            |  {{ dbt_utils.generate_surrogate_key(["date_day", "sk_tag"]) }} AS sk2,
            |  {{ safe_cast("'not_a_number'", 'int') }} AS bad_int,
            |  {{ safe_cast('10', 'int') }} AS ok_int,
            |  CAST({{ dateadd('day', 3, 'date_day') }} AS DATE) AS plus3,
            |  CAST({{ datediff('day', 'date_day', "DATE'1995-02-01'") }}
            |    AS BIGINT) AS days_left,
            |  CAST({{ datediff('date_day', "DATE'1995-02-01'", 'day') }}
            |    AS BIGINT) AS days_left_dbt_order,
            |  {{ last_day('date_day', 'month') }} AS month_end
            |FROM tagged""".stripMargin)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("spine")
  }

  val utilsMacrosSql: String =
    """WITH days AS (
      |  SELECT unnest(generate_series(DATE '1995-01-05', DATE '1995-01-14',
      |    INTERVAL 1 DAY))::DATE AS date_day)
      |SELECT date_day,
      |  md5(concat_ws('-', coalesce(cast(date_day AS varchar),
      |    '_dbt_utils_surrogate_key_null_'))) AS sk,
      |  md5(concat_ws('-', coalesce(cast(date_day AS varchar),
      |    '_dbt_utils_surrogate_key_null_'),
      |    coalesce(cast('tag' AS varchar),
      |    '_dbt_utils_surrogate_key_null_'))) AS sk2,
      |  TRY_CAST('not_a_number' AS INT) AS bad_int,
      |  TRY_CAST(10 AS INT) AS ok_int,
      |  CAST(date_day + INTERVAL 3 DAY AS DATE) AS plus3,
      |  date_diff('day', date_day, DATE '1995-02-01') AS days_left,
      |  date_diff('day', date_day, DATE '1995-02-01') AS days_left_dbt_order,
      |  last_day(date_day) AS month_end
      |FROM days""".stripMargin

  /** `{% elif %}` chains end-to-end (9 of the reference's 184 macros use
    * elif, including `partition_by` itself — manifest.json:1 @13262): a
    * loop-driven 3-arm chain picks a different literal per loop value,
    * exercising the nested-if rewrite inside the engine's full compile
    * path; the oracle hand-expands each arm.
    */
  def elifChain(s: SparkSession, d: String): DataFrame = {
    val project = Project(name = "demo_elif",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(
        ModelDef("status_tags",
          """SELECT o_orderkey,
            |  {% for st in ['O', 'F', 'P'] %}
            |  {% if st == 'O' %}'open'{% elif st == 'F' %}'done'
            |  {% elif st == 'P' %}'partial'{% else %}'unknown'{% endif %}
            |    AS tag_{{ st }}{% if not loop.last %},{% endif %}
            |  {% endfor %}
            |FROM {{ source('tpch', 'orders') }}""".stripMargin)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("status_tags")
  }

  val elifChainSql: String =
    """SELECT o_orderkey, 'open' AS tag_O, 'done' AS tag_F,
      |  'partial' AS tag_P
      |FROM orders""".stripMargin

  /** `adapter.dispatch` end-to-end (51 of the reference's 184 macros
    * route through it): an on-disk package ships `money` dispatching to
    * its own `spark__money`/`default__money` pair — the spark impl must
    * win — plus a `default__tagit` with NO spark impl, reached through
    * a model-level dispatch call — the default fallback. This is the
    * mechanism that lets the package-import surface swallow real dbt
    * packages (dbt-utils ships exactly this default__/adapter__ shape).
    */
  def adapterDispatch(s: SparkSession, d: String): DataFrame = {
    val proj = Scratch.dir("graft_dispatch_proj")
    Files.writeString(proj.resolve("dbt_project.yml"), "name: dispatch_demo\n")
    Files.createDirectories(proj.resolve("models"))
    Files.writeString(proj.resolve("models").resolve("sources.yml"),
      tpchSourceYml("orders", d))
    Files.writeString(proj.resolve("models").resolve("priced.sql"),
      """SELECT o_orderkey,
        |  {{ fmt.money(o_totalprice) }} AS price_2dp,
        |  {{ adapter.dispatch('tagit', 'fmt')(o_orderstatus) }} AS status_uc
        |FROM {{ source('tpch', 'orders') }}""".stripMargin)
    val macrosDir = proj.resolve("packages").resolve("fmt").resolve("macros")
    Files.createDirectories(macrosDir)
    Files.writeString(macrosDir.resolve("fmt.sql"),
      """{% macro money(c) %}{{ adapter.dispatch('money', 'fmt')({{ c }}) }}{% endmacro %}
        |{% macro spark__money(c) %}round({{ c }} * 1.0, 2){% endmacro %}
        |{% macro default__money(c) %}cast({{ c }} as decimal(18,2)){% endmacro %}
        |{% macro default__tagit(s) %}upper({{ s }}){% endmacro %}
        |""".stripMargin)
    val (project, _) = ProjectLoader.load(proj.toString)
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("priced")
  }

  val adapterDispatchSql: String =
    """SELECT o_orderkey, round(o_totalprice * 1.0, 2) AS price_2dp,
      |  upper(o_orderstatus) AS status_uc
      |FROM orders""".stripMargin

  /** `run_query` loop bindings end-to-end (12 reference macros call
    * run_query; the general introspective-compile idiom beyond
    * get_column_values): a multi-column probe — assembled with the
    * canonical `'sql ' ~ ref('m') ~ ' more'` concatenation — binds an
    * agate-style result consumed three ways: `{% for r in rs %}` ROW
    * iteration with `{{ r.st }}`/`{{ r['st'] }}` accessors generating
    * pivot columns, a `columns[0].values() | join` reduction landing as
    * a literal, and `| length` arity. The probe's ref is a real DAG
    * edge. The oracle hand-expands the three order statuses.
    */
  def runQueryLoop(s: SparkSession, d: String): DataFrame = {
    val project = Project(name = "demo_runquery",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(
        ModelDef("stg_rq_orders",
          "SELECT o_orderkey, o_custkey, o_orderstatus " +
            "FROM {{ source('tpch', 'orders') }}"),
        ModelDef("status_matrix",
          """{% set rs = run_query('SELECT o_orderstatus AS st, count(*) AS n FROM ' ~ ref('stg_rq_orders') ~ ' GROUP BY 1 ORDER BY 1') %}
            |{% set dd = get_query_results_as_dict('SELECT o_orderstatus AS st FROM ' ~ ref('stg_rq_orders') ~ ' GROUP BY 1 ORDER BY 1') %}
            |SELECT o_custkey,
            |  {% for r in rs %}
            |  CAST(sum(CASE WHEN o_orderstatus = '{{ r.st }}' THEN 1 ELSE 0 END)
            |    AS BIGINT) AS n_{{ r['st'] }},
            |  {% endfor %}
            |  '{{ rs.columns[0].values() | join('-') }}' AS all_statuses,
            |  {{ rs.columns[0].values() | length }} AS n_statuses,
            |  '{{ dd['st'] | join('|') }}' AS statuses_dict
            |FROM {{ ref('stg_rq_orders') }}
            |GROUP BY o_custkey""".stripMargin)))
    // the probe's ref must be a DAG edge even though the loop body also
    // refs it (the binding alone must schedule the upstream)
    val (refs, _) = graft.compile.Compiler.dependencies(
      project.models(1).rawSql)
    require(refs.contains("stg_rq_orders"), s"run_query edge missing: $refs")
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("status_matrix")
  }

  val runQueryLoopSql: String =
    """SELECT o_custkey,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_F,
      |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_O,
      |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_P,
      |  'F-O-P' AS all_statuses, 3 AS n_statuses,
      |  'F|O|P' AS statuses_dict
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** The statement-call surface end-to-end (reference macro bodies use
    * `return` 90×, `{% do %}` 79×, `log` 12×,
    * `raise_compiler_error` 12×): a package macro whose body builds its
    * SQL through `{{ return(...) }}`, a `{% do log(...) %}` that must
    * strip, an `{% if execute %}` guard (resolves open — expansion IS
    * the execute phase), and a raise_compiler_error kept dead inside a
    * non-taken branch.
    */
  def statementCalls(s: SparkSession, d: String): DataFrame = {
    val project = Project(name = "demo_stmt",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      macros = Map("money2" -> graft.compile.Compiler.parseMacros(
        "{% macro money2(c) %}{{ return(round({{ c }} * 1.0, 2)) }}{% endmacro %}").head),
      models = Seq(
        ModelDef("stmt_model",
          """{% do log('compiling stmt_model', info=true) %}
            |SELECT o_orderkey,
            |  {{ money2(o_totalprice) }} AS price_2dp,
            |  {% if execute %}'ran'{% else %}'parsed'{% endif %} AS phase
            |  {% if false %}{{ exceptions.raise_compiler_error('dead branch') }}{% endif %}
            |FROM {{ source('tpch', 'orders') }}""".stripMargin)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("stmt_model")
  }

  val statementCallsSql: String =
    """SELECT o_orderkey, round(o_totalprice * 1.0, 2) AS price_2dp,
      |  'ran' AS phase
      |FROM orders""".stripMargin

  /** load_relation existence-guard lifecycle (reference `load_relation`
    * / `adapter.get_relation` — manifest.json:1 macro surface, 121
    * sites): run 1 finds no relation and takes the else arm; run 2 sees
    * the built relation and takes the exists arm, overwriting with the
    * rebuild projection. Final state ≡ the exists-arm query alone,
    * which the oracle re-derives directly — proving the guard actually
    * flipped between runs.
    */
  def loadRelationGuard(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot()
    val modelSql =
      """{% if load_relation(this) is not none %}
        |SELECT n_nationkey, upper(n_name) AS n_name, 'rebuild' AS phase
        |FROM {{ source('tpch', 'nation') }}
        |{% else %}
        |SELECT n_nationkey, n_name, 'first' AS phase
        |FROM {{ source('tpch', 'nation') }}
        |{% endif %}""".stripMargin
    val project = Project(name = "demo_loadrel",
      sources = Seq(SourceDef("tpch", "nation", s"$d/nation.parquet")),
      models = Seq(ModelDef("nations_guarded", modelSql)))
    val run1 = new Engine(s, project, Target(root, threads = 1))
    require(run1.build()._1.forall(_.status == "success"))
    val run2 = new Engine(s, project, Target(root, threads = 1))
    require(run2.build()._1.forall(_.status == "success"))
    run2.readModel("nations_guarded")
  }

  val loadRelationGuardSql: String =
    "SELECT n_nationkey, upper(n_name) AS n_name, 'rebuild' AS phase " +
      "FROM nation"

  /** Model-level pre/post hooks parsed from the model's own inline
    * config() block (reference `run_hooks` @59759; dbt pre_hook/
    * post_hook): a comma-bearing quoted pre_hook and a LIST-valued
    * post_hook — one entry probing `{{ this }}` — fire around the
    * materialization. A mis-parsed hook (the naive comma split) or an
    * unresolved `{{ this }}` fails the node, so the oracle-matched
    * output proves the full parse→compile→execute path.
    */
  def modelHooks(s: SparkSession, d: String): DataFrame = {
    val modelSql =
      """{{ config(pre_hook='SELECT 1, 2',
        |          post_hook=['SELECT count(*) FROM {{ this }}',
        |                     "SELECT '{{ this.schema }}.{{ this.name }}'"]) }}
        |SELECT n_regionkey, count(*) AS nations
        |FROM {{ source('tpch', 'nation') }}
        |GROUP BY n_regionkey""".stripMargin
    val project = Project(name = "demo_hooks",
      sources = Seq(SourceDef("tpch", "nation", s"$d/nation.parquet")),
      models = Seq(ModelDef("region_counts", modelSql)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("region_counts")
  }

  val modelHooksSql: String =
    "SELECT n_regionkey, count(*) AS nations FROM nation GROUP BY n_regionkey"

  /** adapter.get_columns_in_relation end-to-end (23 sites in the
    * reference manifest's macros): a downstream model enumerates its
    * upstream's columns at compile time and emits one aliased
    * projection per column — the schema-driven codegen idiom. The
    * oracle re-states the expansion statically, so a wrong column set,
    * order, or alias hash-mismatches.
    */
  def getColumnsLoop(s: SparkSession, d: String): DataFrame = {
    val project = Project(name = "demo_getcols",
      sources = Seq(SourceDef("tpch", "nation", s"$d/nation.parquet")),
      models = Seq(
        ModelDef("stg_nat",
          "SELECT n_nationkey, n_name FROM {{ source('tpch', 'nation') }}"),
        ModelDef("nat_wide",
          """{% set cols = adapter.get_columns_in_relation(ref('stg_nat')) %}
            |SELECT {% for c in cols %}{{ c.name }} AS {{ c.name }}_{{ c.dtype }}{% if not loop.last %}, {% endif %}{% endfor %}
            |FROM {{ ref('stg_nat') }}""".stripMargin)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("nat_wide")
  }

  val getColumnsLoopSql: String =
    "SELECT n_nationkey AS n_nationkey_int, n_name AS n_name_string " +
      "FROM nation"

  /** Jinja loop filter (`{% for x in xs if cond %}`) end-to-end: the
    * filtered pivot idiom — flag columns generated for every status
    * EXCEPT the filtered one, with `loop`-free membership and `!=`
    * conditions deciding at compile time. The oracle restates the
    * surviving expansion; a filter that silently kept or dropped the
    * wrong item changes the schema and hash-fails.
    */
  def loopFilter(s: SparkSession, d: String): DataFrame = {
    val modelSql =
      """{% set statuses = ['O', 'F', 'P'] %}
        |SELECT o_orderkey{% for st in statuses if st != 'P' %},
        |  CASE WHEN o_orderstatus = '{{ st }}' THEN 1 ELSE 0 END AS is_{{ st | lower }}{% endfor %}
        |FROM {{ source('tpch', 'orders') }}""".stripMargin
    val project = Project(name = "demo_loopfilt",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(ModelDef("order_flags", modelSql)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("order_flags")
  }

  val loopFilterSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS is_o,
      |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_f
      |FROM orders""".stripMargin

  /** Statement-position var() control flow end-to-end: a var-guarded
    * branch picks the aggregation, a set-from-var threshold lands in
    * the WHERE, and a list-valued var drives the loop — with the CLI
    * override winning over the project default (dbt --vars precedence).
    */
  def varControl(s: SparkSession, d: String): DataFrame = {
    val modelSql =
      """{% set floor = var('floor') %}
        |{% if var('mode', 'simple') == 'detailed' %}
        |SELECT o_orderstatus,
        |  {% for p in var('percentiles') %}
        |  round(percentile(o_totalprice, {{ p }}), 4) AS p{{ loop.index }},
        |  {% endfor %}
        |  CAST(count(*) AS BIGINT) AS n
        |FROM {{ source('tpch', 'orders') }}
        |WHERE o_totalprice > {{ floor }}
        |GROUP BY o_orderstatus
        |{% else %}
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
        |FROM {{ source('tpch', 'orders') }} GROUP BY o_orderstatus
        |{% endif %}""".stripMargin
    val project = Project(name = "demo_varctl",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(ModelDef("status_stats", modelSql)),
      vars = Map("mode" -> "simple", "floor" -> "0",
        "percentiles" -> "['0.5', '0.9']"))
    // CLI --vars override wins over the project default (dbt precedence)
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1,
      vars = Map("mode" -> "detailed", "floor" -> "1000")))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("status_stats")
  }

  val varControlSql: String =
    """SELECT o_orderstatus,
      |  round(quantile_cont(o_totalprice, 0.5), 4) AS p1,
      |  round(quantile_cont(o_totalprice, 0.9), 4) AS p2,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM orders WHERE o_totalprice > 1000
      |GROUP BY o_orderstatus""".stripMargin

  /** Jinja `{% do list.append() %}` end-to-end: the column-list-builder
    * idiom of ported dbt macros — a loop appends rendered SELECT
    * expressions, the reducing join splices them.
    */
  def doAppendModel(s: SparkSession, d: String): DataFrame = {
    val modelSql =
      """{% set cols = [] %}
        |{% for c in ['o_orderkey', 'o_custkey'] %}
        |{% do cols.append('CAST(' ~ c ~ ' AS BIGINT) AS big_' ~ c) %}
        |{% endfor %}
        |SELECT {{ cols | join(', ') }}, count(*) AS n
        |FROM {{ source('tpch', 'orders') }}
        |{{ dbt_utils.group_by(2) }}""".stripMargin
    val project = Project(name = "demo_append",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(ModelDef("append_cols", modelSql)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("append_cols")
  }

  val doAppendModelSql: String =
    """SELECT CAST(o_orderkey AS BIGINT) AS big_o_orderkey,
      |  CAST(o_custkey AS BIGINT) AS big_o_custkey,
      |  count(*) AS n
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** dbt-utils `get_relations_by_pattern` + `union_relations(relations=
    * rels)` end-to-end — the sharded-table idiom: two shard models
    * built FIRST (patterns match what exists, like dbt), then a second
    * build stage unions everything matching `shard\_%` with the lineage
    * column; one shard lacks a column, exercising the NULL-fill.
    */
  def relationsByPattern(s: SparkSession, d: String): DataFrame = {
    val project = Project(name = "demo_relpattern",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(
        ModelDef("shard_even",
          "SELECT o_orderkey, o_custkey, o_totalprice " +
            "FROM {{ source('tpch', 'orders') }} WHERE o_orderkey % 2 = 0"),
        ModelDef("shard_odd",
          "SELECT o_orderkey, o_custkey " +
            "FROM {{ source('tpch', 'orders') }} WHERE o_orderkey % 2 = 1"),
        ModelDef("all_shards",
          """{% set rels = dbt_utils.get_relations_by_pattern('%', 'shard_%') %}
            |SELECT * FROM ({{ dbt_utils.union_relations(relations=rels) }})""".stripMargin)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    require(engine.buildSelected("shard_even shard_odd")._1
      .forall(_.status == "success"))
    require(engine.buildSelected("all_shards")._1
      .forall(_.status == "success"))
    val out = engine.readModel("all_shards")
    require(out.columns.contains("_dbt_source_relation"),
      s"lineage column missing: ${out.columns.toSeq}")
    out
  }

  val relationsByPatternSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  'analytics.main.shard_even' AS _dbt_source_relation
      |FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE),
      |  'analytics.main.shard_odd'
      |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin

  /** Jinja `namespace()` + `for…else` end-to-end: a loop-carried
    * accumulator (with a loop filter) computes the WHERE threshold and
    * a column literal, and an emptied loop takes its else arm — all
    * decided at compile time, restated literally by the oracle.
    */
  def namespaceModel(s: SparkSession, d: String): DataFrame = {
    val modelSql =
      """{% set ns = namespace(total=0, picked='') %}
        |{% for w in [100, 250, 75, 9] if w != 9 %}
        |{% set ns.total = ns.total + w %}
        |{% set ns.picked = ns.picked ~ 'w' %}
        |{% endfor %}
        |SELECT o_orderkey, o_totalprice,
        |  {% for x in [] %}{{ x }} AS never,{% else %}'{{ ns.picked }}' AS picked,{% endfor %}
        |  CAST({{ ns.total }} AS BIGINT) AS cutoff
        |FROM {{ source('tpch', 'orders') }}
        |WHERE o_totalprice > {{ ns.total }}""".stripMargin
    val project = Project(name = "demo_namespace",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(ModelDef("threshold_orders", modelSql)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("threshold_orders")
  }

  val namespaceModelSql: String =
    """SELECT o_orderkey, o_totalprice, 'www' AS picked,
      |  CAST(425 AS BIGINT) AS cutoff
      |FROM orders WHERE o_totalprice > 425""".stripMargin

  /** dbt-utils `deduplicate` end-to-end: keep each customer's latest
    * order (date DESC, key DESC tiebreak) via the row_number subquery
    * rendering — the relation resolves through its re-emitted source
    * site, and Spark's `* EXCEPT` drops the helper column.
    */
  def deduplicateMacro(s: SparkSession, d: String): DataFrame = {
    val modelSql =
      """SELECT o_custkey, o_orderkey, o_orderdate
        |FROM {{ dbt_utils.deduplicate(source('tpch', 'orders'),
        |     partition_by='o_custkey',
        |     order_by='o_orderdate DESC, o_orderkey DESC') }}""".stripMargin
    val project = Project(name = "demo_dedup_macro",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(ModelDef("latest_orders", modelSql)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("latest_orders")
  }

  val deduplicateMacroSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate FROM (
      |  SELECT *, row_number() OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders) WHERE rn = 1""".stripMargin

  /** dbt cross-database macro pack end-to-end: type casts, hash,
    * length, split_part, safe_divide, safe_add, replace, left, and
    * escape_single_quotes rendered in Spark dialect from their
    * `{{ dbt. }}`/`{{ dbt_utils. }}` spellings — the everyday surface a
    * ported model's SELECT list uses.
    */
  def crossDbMacros(s: SparkSession, d: String): DataFrame = {
    val modelSql =
      """SELECT o_orderkey,
        |  CAST(o_orderkey AS {{ dbt.type_string() }}) AS key_str,
        |  {{ dbt_utils.hash('o_orderstatus') }} AS status_hash,
        |  CAST({{ dbt.length('o_orderpriority') }} AS BIGINT) AS prio_len,
        |  {{ dbt.split_part('o_orderpriority', "'-'", '1') }} AS prio_code,
        |  round({{ dbt_utils.safe_divide('o_totalprice', '(o_orderkey % 2)') }}, 2) AS odd_price,
        |  {{ dbt_utils.safe_add(['o_orderkey', 'o_custkey']) }} AS key_sum,
        |  {{ dbt.replace('o_orderstatus', "'O'", "'OPEN'") }} AS status_repl,
        |  {{ dbt.left('o_orderpriority', '1') }} AS prio_digit,
        |  '{{ dbt.escape_single_quotes("it's") }}' AS quoted
        |FROM {{ source('tpch', 'orders') }}""".stripMargin
    val project = Project(name = "demo_crossdb",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(ModelDef("order_exprs", modelSql)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("order_exprs")
  }

  val crossDbMacrosSql: String =
    """SELECT o_orderkey,
      |  CAST(o_orderkey AS VARCHAR) AS key_str,
      |  md5(CAST(o_orderstatus AS VARCHAR)) AS status_hash,
      |  length(o_orderpriority)::BIGINT AS prio_len,
      |  split_part(o_orderpriority, '-', 1) AS prio_code,
      |  round(o_totalprice / nullif(o_orderkey % 2, 0), 2) AS odd_price,
      |  o_orderkey + o_custkey AS key_sum,
      |  replace(o_orderstatus, 'O', 'OPEN') AS status_repl,
      |  left(o_orderpriority, 1) AS prio_digit,
      |  'it''s' AS quoted
      |FROM orders""".stripMargin

  /** dbt-utils `pivot` with a NESTED `get_column_values` (the canonical
    * dynamic-pivot one-liner): the nested call normalizes into the
    * set-binding form (probe = DAG edge), the pivot expands one
    * sum-CASE column per discovered value with a prefix. Column ORDER
    * is probe-dependent (count DESC) but the driver compares by sorted
    * column name, so the oracle just restates the three columns.
    */
  def pivotMacro(s: SparkSession, d: String): DataFrame = {
    val modelSql =
      """SELECT o_orderpriority,
        |  {{ dbt_utils.pivot('o_orderstatus',
        |       dbt_utils.get_column_values(source('tpch', 'orders'), 'o_orderstatus'),
        |       prefix='is_') }}
        |FROM {{ source('tpch', 'orders') }}
        |GROUP BY o_orderpriority""".stripMargin
    val project = Project(name = "demo_pivot_macro",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(ModelDef("status_pivot", modelSql)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("status_pivot")
  }

  val pivotMacroSql: String =
    """SELECT o_orderpriority,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "is_F",
      |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "is_O",
      |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "is_P"
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** dbt-utils `unpivot` end-to-end: melt nation's non-key columns into
    * (col, val) rows — `exclude` carries the key through, `remove`
    * drops the comment, the schema comes from the metadata-only fetch
    * (a real DAG edge).
    */
  def unpivotMacro(s: SparkSession, d: String): DataFrame = {
    val modelSql =
      """{{ dbt_utils.unpivot(source('tpch', 'customer'),
        |     exclude=['c_custkey'], remove=['c_acctbal'],
        |     field_name='col', value_name='val') }}""".stripMargin
    val project = Project(name = "demo_unpivot",
      sources = Seq(SourceDef("tpch", "customer", s"$d/customer.parquet")),
      models = Seq(ModelDef("customer_melt", modelSql)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1))
    val (nodes, _) = engine.build()
    require(nodes.forall(_.status == "success"), nodes.toString)
    engine.readModel("customer_melt")
  }

  val unpivotMacroSql: String =
    """SELECT c_custkey, 'c_name' AS col,
      |  CAST(c_name AS VARCHAR) AS val FROM customer
      |UNION ALL
      |SELECT c_custkey, 'c_nationkey', CAST(c_nationkey AS VARCHAR)
      |FROM customer
      |UNION ALL
      |SELECT c_custkey, 'c_mktsegment', c_mktsegment FROM customer""".stripMargin

  /** Model VERSIONS (dbt 1.5 `versions:`/`latest_version`) end-to-end:
    * a versioned model with two on-disk versions (one via
    * `defined_in:`), a consumer pinning v1 and another taking the
    * unpinned latest — both resolutions land as real DAG nodes, and the
    * result joins the pinned and latest outputs so either resolution
    * going wrong changes the hash.
    */
  def modelVersions(s: SparkSession, d: String): DataFrame = {
    val proj = Scratch.dir("graft_model_versions")
    def put(name: String, text: String): Unit = {
      val p = proj.resolve(name)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text); ()
    }
    put("dbt_project.yml", "name: 'demo_versions'\nconfig-version: 2\n")
    put("models/status_rev_v1.sql",
      """SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS n
        |FROM {{ source('tpch', 'orders') }} GROUP BY o_orderstatus""".stripMargin)
    // v2 lives in a defined_in: file and adds a column
    put("models/status_rev_next.sql",
      """SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM {{ source('tpch', 'orders') }} GROUP BY o_orderstatus""".stripMargin)
    put("models/report.sql",
      """SELECT cur.st, cur.n, cur.revenue, CAST(old.n AS BIGINT) AS n_v1
        |FROM {{ ref('status_rev') }} cur
        |JOIN {{ ref('status_rev', v=1) }} old ON cur.st = old.st""".stripMargin)
    put("models/schema.yml",
      """version: 2
        |models:
        |  - name: status_rev
        |    latest_version: 2
        |    versions:
        |      - v: 1
        |      - v: 2
        |        defined_in: status_rev_next
        |""".stripMargin)
    put("models/sources.yml", tpchSourceYml("orders", d))
    val (project, _) = ProjectLoader.load(proj.toString)
    require(project.models.map(_.name).toSet ==
      Set("status_rev_v1", "status_rev_v2", "report"),
      s"version nodes drifted: ${project.models.map(_.name)}")
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("report")
  }

  val modelVersionsSql: String =
    """WITH s AS (SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(o_totalprice), 2) AS revenue FROM orders GROUP BY 1)
      |SELECT st, n, revenue, n AS n_v1 FROM s""".stripMargin

  /** dbt `statement`/`load_result` end-to-end — the LONG-form spelling
    * of run_query (reference `statement` @21499; run_query is its
    * sugar): two `{% call statement(..., fetch_result=true) %}` probes,
    * one consumed as a row table driving a dynamic pivot loop, one
    * through the `['data'][0][0]` cell accessor both as a set RHS and
    * inline. The oracle restates the expansion; a mis-bound result
    * changes the schema and hash-fails.
    */
  def statementResults(s: SparkSession, d: String): DataFrame = {
    val modelSql =
      """{% call statement('statuses', fetch_result=true) %}
        |  SELECT DISTINCT o_orderstatus AS st
        |  FROM {{ source('tpch', 'orders') }} ORDER BY st
        |{% endcall %}
        |{% call statement('total', fetch_result=true) %}
        |  SELECT count(*) AS n FROM {{ source('tpch', 'orders') }}
        |{% endcall %}
        |{% set sts = load_result('statuses') %}
        |{% set total_n = load_result('total')['data'][0][0] %}
        |SELECT o_orderkey,
        |  CAST({{ total_n }} AS BIGINT) AS total_orders,
        |  CAST({{ load_result('total')['data'][0][0] }} AS BIGINT) AS total_again
        |  {%- for r in sts %},
        |  CASE WHEN o_orderstatus = '{{ r.st }}' THEN 1 ELSE 0 END AS is_{{ r.st | lower }}
        |  {%- endfor %}
        |FROM {{ source('tpch', 'orders') }}""".stripMargin
    val project = Project(name = "demo_stmt",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(ModelDef("order_stmt_pivot", modelSql)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("order_stmt_pivot")
  }

  val statementResultsSql: String =
    """SELECT o_orderkey,
      |  CAST((SELECT count(*) FROM orders) AS BIGINT) AS total_orders,
      |  CAST((SELECT count(*) FROM orders) AS BIGINT) AS total_again,
      |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_f,
      |  CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS is_o,
      |  CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS is_p
      |FROM orders""".stripMargin

  /** Custom GENERIC test (`{% test %}` block) end-to-end through the
    * dbt-native loader: a macro-dir test definition with a defaulted
    * parameter, bound to a column in schema.yml with a kwarg override +
    * store_failures — the stored failure relation is the
    * oracle-comparable result set. Covers dbt's test-block sugar
    * (reference-era dbt `{% test %}` = `{% macro test_<name> %}`),
    * kwarg binding, severity config separation, and the singular-test
    * evaluation path.
    */
  def genericTest(s: SparkSession, d: String): DataFrame = {
    val proj = Scratch.dir("graft_generic_test")
    def put(name: String, text: String): Unit = {
      val p = proj.resolve(name)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text); ()
    }
    put("dbt_project.yml", "name: 'demo_gentest'\nconfig-version: 2\n")
    put("macros/assertions.sql",
      """{% test value_at_least(model, column_name, floor=0) %}
        |SELECT o_orderkey, {{ column_name }} AS offending_value
        |FROM {{ model }}
        |WHERE {{ column_name }} < {{ floor }}
        |{% endtest %}""".stripMargin)
    put("models/stg_orders.sql",
      "SELECT o_orderkey, o_totalprice FROM {{ source('tpch', 'orders') }}")
    put("models/schema.yml",
      """version: 2
        |models:
        |  - name: stg_orders
        |    columns:
        |      - name: o_totalprice
        |        tests:
        |          - value_at_least:
        |              floor: 5000
        |              severity: warn
        |              store_failures: true
        |""".stripMargin)
    put("models/sources.yml", tpchSourceYml("orders", d))
    val (project, _) = ProjectLoader.load(proj.toString)
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    val (nodes, testResults) = engine.build()
    require(nodes.forall(_.status == "success"),
      s"build failed: ${nodes.filterNot(_.status == "success")}")
    val tr = testResults.find(_.name.startsWith("value_at_least"))
      .getOrElse(throw new IllegalStateException(
        s"generic test did not run (ran: ${testResults.map(_.name)})"))
    require(tr.status == "warn" && tr.failures > 0,
      s"expected a warn with failures, got $tr")
    engine.readModel(s"${tr.name}__failures")
  }

  val genericTestSql: String =
    """SELECT o_orderkey, o_totalprice AS offending_value
      |FROM orders WHERE o_totalprice < 5000""".stripMargin

  /** dbt-NATIVE project ingestion end-to-end (the reference repo's own
    * layout — dbt_project.yml:1, models/sources.yml:1): an on-disk
    * project with dbt_project.yml (+materialized config tree, vars),
    * version-2 sources.yml (`meta: external_location` — the public
    * dbt-duckdb convention) and schema.yml (per-model config override)
    * loads through ProjectLoader and builds: the staging model
    * materializes as a table (schema.yml wins), the mart as a view
    * (tree default), refs inline across them.
    */
  def dbtNativeProject(s: SparkSession, d: String): DataFrame = {
    val proj = Scratch.dir("graft_dbt_native")
    def put(name: String, text: String): Unit = {
      val p = proj.resolve(name)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text); ()
    }
    put("dbt_project.yml",
      """name: 'native_demo'
        |config-version: 2
        |vars:
        |  min_price: '100.0'
        |models:
        |  native_demo:
        |    +materialized: view
        |""".stripMargin)
    put("models/staging/stg_big_orders.sql",
      """{{ config(materialized='table') }}
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM {{ source('tpch', 'orders') }}
        |WHERE o_totalprice >= {{ var('min_price') }}""".stripMargin)
    put("models/marts/status_revenue.sql",
      """SELECT o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM {{ ref('stg_big_orders') }}
        |GROUP BY o_orderstatus""".stripMargin)
    put("models/sources.yml", tpchSourceYml("orders", d))
    val (project, _) = ProjectLoader.load(proj.toString)
    require(project.models.find(_.name == "status_revenue")
      .exists(_.config.materialized == "view"), "tree default must apply")
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("status_revenue")
  }

  val dbtNativeProjectSql: String =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(o_totalprice), 2) AS revenue
      |FROM orders WHERE o_totalprice >= 100.0
      |GROUP BY o_orderstatus""".stripMargin

  /** dbt-utils `union_relations` end-to-end: two shard models with
    * DIFFERENT schemas union into one relation — missing columns
    * NULL-filled with their upstream types, `_dbt_source_relation`
    * lineage attached — all from parquet schema metadata at compile
    * time, with both shards as DAG edges.
    */
  def unionRelations(s: SparkSession, d: String): DataFrame = {
    val project = Project(name = "demo_union",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(
        ModelDef("shard_a",
          "SELECT o_orderkey, o_custkey, o_totalprice " +
            "FROM {{ source('tpch', 'orders') }} WHERE o_orderkey % 2 = 0"),
        ModelDef("shard_b",
          "SELECT o_orderkey, o_orderstatus " +
            "FROM {{ source('tpch', 'orders') }} WHERE o_orderkey % 2 = 1"),
        ModelDef("all_shards",
          "SELECT * FROM " +
            "({{ union_relations([ref('shard_a'), ref('shard_b')]) }})")))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    require(engine.build()._1.forall(_.status == "success"))
    val out = engine.readModel("all_shards")
    require(out.columns.toSeq == Seq("o_orderkey", "o_custkey",
      "o_totalprice", "o_orderstatus", "_dbt_source_relation"),
      s"union schema drifted: ${out.columns.toSeq}")
    out
  }

  val unionRelationsSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  CAST(NULL AS VARCHAR) AS o_orderstatus,
      |  'ref(''shard_a'')' AS _dbt_source_relation
      |FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
      |  o_orderstatus, 'ref(''shard_b'')'
      |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin

  /** dbt-utils `star` + dbt's `execute` flag + `{{ target.schema }}` in
    * one compiled model: the column list splices from the upstream's
    * parquet schema minus the except list (metadata-only probe, a real
    * DAG edge), the `{% if execute %}` guard resolves open (compile IS
    * the execute phase), and the target coordinate lands as a literal.
    */
  def starSelect(s: SparkSession, d: String): DataFrame = {
    val project = Project(name = "demo_star",
      sources = Seq(SourceDef("tpch", "customer", s"$d/customer.parquet")),
      models = Seq(
        ModelDef("stg_cust",
          "SELECT c_custkey, c_name, c_acctbal, c_mktsegment " +
            "FROM {{ source('tpch', 'customer') }}"),
        ModelDef("cust_slim",
          """{% if execute %}
            |SELECT {{ star(ref('stg_cust'), except=['c_mktsegment']) }},
            |  '{{ target.schema }}' AS target_schema
            |FROM {{ ref('stg_cust') }}
            |{% endif %}""".stripMargin)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    require(engine.build()._1.forall(_.status == "success"))
    val out = engine.readModel("cust_slim")
    require(out.columns.toSeq ==
      Seq("c_custkey", "c_name", "c_acctbal", "target_schema"),
      s"star columns drifted: ${out.columns.toSeq}")
    out
  }

  val starSelectSql: String =
    """SELECT c_custkey, c_name, c_acctbal, 'main' AS target_schema
      |FROM customer""".stripMargin

  /** External-engine DDL export, ROUND-TRIPPED through the oracle: the
    * engine builds a table + view project into a fresh warehouse
    * at a DETERMINISTIC (sf-suffixed) root, exports `catalogDdl()`, and
    * then (a) executes the exported Spark-dialect statements VERBATIM
    * via `spark.sql` and returns the view's rows, while (b) rewriting
    * the export to DuckDB dialect (`parquet.`dir`` →
    * `read_parquet('dir/...')`, CREATE VIEW chain → a CTE chain) and
    * asserting it equals the pinned template whose sf0.01 instantiation
    * IS this entry's oracle SQL. The driver's DuckDB thus parses and
    * executes the exported definitions against the engine's own storage
    * — the proof the export is consumable outside Spark, hash-gated. A
    * drifted export fails the in-entry assert loudly instead of
    * silently pinning a stale oracle.
    */
  /** Age out per-run build dirs and leaked temp symlinks next to the
    * roundtrip's stable root. Build dirs (`root.<runId>`) from finished
    * runs are removed once older than `horizonMs` — never the dir the
    * stable symlink currently resolves to, never this run's target. A
    * crash between `createSymbolicLink` and the atomic move leaks a
    * `root.lnk.<runId>` temp symlink; those age out on the same horizon,
    * deleting the LINK itself (NOFOLLOW mtime, deleteIfExists on the
    * path), never its target — the target is a build dir the first
    * branch owns. Horizon injectable for tests.
    */
  private[graft] def sweepBuildDirs(rootP: java.nio.file.Path, current: String,
                                  target: String, horizonMs: Long): Unit = {
    import java.nio.file.{Files => F, LinkOption}
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    val parent = rootP.getParent.toFile
    Option(parent.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.getName.startsWith(rootP.getFileName.toString + ".")) {
        if (f.getName.contains(".lnk.")) {
          val linkMt = try F.getLastModifiedTime(f.toPath,
            LinkOption.NOFOLLOW_LINKS).toMillis
          catch { case _: java.io.IOException => 0L }
          if (linkMt < horizonMs) F.deleteIfExists(f.toPath)
        } else if (f.getPath != current && f.getPath != target &&
          f.lastModified < horizonMs) rm(f)
      }
    }
    ()
  }

  def ddlRoundtrip(s: SparkSession, d: String): DataFrame = {
    // STABLE root path (a symlink), deliberately not sf-suffixed:
    // `oracleSql` is a static string, so the oracle must read one
    // deterministic path whatever corpus dir a sweep passes (an
    // sf-suffixed root made cross-corpus sweeps depend on a STALE
    // sf0.01 directory). The build itself goes to a PRIVATE per-run
    // directory and the symlink is swapped atomically after the build
    // completes, so two concurrent graft processes (a bench and a
    // validate sweep on the same box) never wipe or half-read each
    // other's warehouse — whichever swap lands last wins, and the
    // content is identical either way because the project reads only
    // `nation`, which is fixed at every scale.
    val root = "/tmp/graft_ddl_rt_wh_sf0.01"
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val target = s"$root.$runId"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(target))
    val project = Project(name = "ddl_rt",
      sources = Seq(SourceDef("tpch", "nation", s"$d/nation.parquet")),
      models = Seq(
        ModelDef("nr_counts",
          "SELECT n_regionkey, count(*) AS n_nations " +
            "FROM {{ source('tpch', 'nation') }} GROUP BY n_regionkey"),
        ModelDef("nr_view",
          "{{ config(materialized='view') }} " +
            "SELECT n_regionkey, n_nations FROM {{ ref('nr_counts') }} " +
            "WHERE n_nations > 0")))
    val engine = new Engine(s, project,
      Target(target, threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    val (stmts0, skipped) = engine.catalogDdl()
    require(skipped.isEmpty, s"nothing may be skipped here: $skipped")
    // the export references the PRIVATE build dir; publish it under the
    // stable path by atomic symlink swap, then rewrite the statements to
    // the stable path (what the pinned template and the oracle read)
    val stmts = stmts0.map(_.replace(target, root))
    locally {
      import java.nio.file.{Files => F, Paths => P, LinkOption, StandardCopyOption}
      val rootP = P.get(root)
      // one-time migration: an old run may have left a REAL dir here
      if (F.exists(rootP, LinkOption.NOFOLLOW_LINKS) &&
          !F.isSymbolicLink(rootP)) rm(new java.io.File(root))
      val tmpLink = P.get(s"$root.lnk.$runId")
      F.deleteIfExists(tmpLink)
      F.createSymbolicLink(tmpLink, P.get(target))
      F.move(tmpLink, rootP, StandardCopyOption.ATOMIC_MOVE)
      // age out build dirs from finished runs (tiny, but don't hoard);
      // never the one the stable path currently resolves to
      val current = F.readSymbolicLink(rootP).toString
      sweepBuildDirs(rootP, current, target,
        System.currentTimeMillis() - 3600L * 1000)
    }
    // (a) the Spark side consumes its own export (via the stable path)
    stmts.foreach(s.sql(_))
    // (b) the DuckDB rewrite must match the pinned template exactly
    // the table's one version dir has a per-write random name: the
    // pinned form (and the oracle) globs it — a fresh build dir holds
    // exactly one, so the glob reads the same files as the export
    val duck = ddlExportToDuck(stmts)
      .replaceAll("/_graft/v[0-9]{12}-[0-9a-f]{8}/", "/_graft/*/")
    val expected = ddlRoundtripTemplate.replace("{ROOT}", root)
    require(duck == expected,
      s"DDL export drifted from the pinned round-trip form:\n$duck\n--- expected:\n$expected")
    s.sql("SELECT n_regionkey, n_nations FROM `nr_view`")
  }

  /** Mechanical Spark→DuckDB dialect rewrite of a `catalogDdl()` export:
    * the CREATE VIEW chain becomes one WITH chain (DuckDB executes a
    * single query), `parquet.`dir`` becomes `read_parquet` over the
    * dir's files, backtick identifiers drop (the export's names are
    * identifier-safe), whitespace normalizes.
    */
  private def ddlExportToDuck(stmts: Seq[String]): String = {
    val viewRe = "(?s)CREATE OR REPLACE VIEW `([^`]+)` AS\\s*(.*)".r
    val pathRe = "parquet\\.`([^`]+)`".r
    val ctes = stmts.map {
      case viewRe(name, body0) =>
        var body = pathRe.replaceAllIn(body0, m =>
          scala.util.matching.Regex.quoteReplacement(
            s"read_parquet('${m.group(1)}/*.parquet')"))
        body = body.replace("`", "").replaceAll("\\s+", " ").trim
        s"$name AS ($body)"
      case other => throw new IllegalArgumentException(
        s"unexpected export statement shape: $other")
    }
    s"WITH ${ctes.mkString(", ")} SELECT n_regionkey, n_nations FROM nr_view"
  }

  private val ddlRoundtripTemplate: String =
    "WITH nr_counts AS (SELECT * FROM " +
      "read_parquet('{ROOT}/analytics/main/nr_counts/_graft/*/*.parquet')), " +
      "nr_view AS (SELECT n_regionkey, n_nations FROM nr_counts " +
      "WHERE n_nations > 0) " +
      "SELECT n_regionkey, n_nations FROM nr_view"

  /** The oracle IS the rewritten export (sf0.01 = the driver's verify
    * scale): DuckDB parses the exported view chain and reads the
    * engine's own table files.
    */
  val ddlRoundtripSql: String =
    ddlRoundtripTemplate.replace("{ROOT}", "/tmp/graft_ddl_rt_wh_sf0.01")

  /** Graph selectors end-to-end (`dbt build --select`): `+tag:mart`
    * resolves the tagged mart plus its ancestor closure, builds exactly
    * that set (an unrelated model must NOT materialize — require'd), and
    * the mart's content hash-matches the oracle recomputing from raw.
    */
  def graphSelectors(s: SparkSession, d: String): DataFrame = {
    val project = Project(name = "demo_sel",
      sources = Seq(SourceDef("tpch", "part", s"$d/part.parquet")),
      models = Seq(
        ModelDef("stg_parts",
          "{{ config(tags='staging') }} SELECT p_partkey, p_brand, " +
            "CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_cents " +
            "FROM {{ source('tpch','part') }}"),
        ModelDef("mart_brand",
          """{{ config(tags='mart') }}
            |SELECT p_brand, count(*) AS n_parts,
            |       sum(price_cents) AS total_cents
            |FROM {{ ref('stg_parts') }} GROUP BY p_brand""".stripMargin),
        ModelDef("unrelated", "SELECT 1 AS one")))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 2))
    val (nodes, _) = engine.buildSelected("+tag:mart")
    require(nodes.map(_.name).toSet == Set("stg_parts", "mart_brand"),
      s"selector must build exactly the closure, got ${nodes.map(_.name)}")
    require(nodes.forall(_.status == "success"))
    require(!engine.warehouse.exists(engine.relationFor("unrelated")),
      "unselected model must not materialize")
    engine.readModel("mart_brand")
  }

  val graphSelectorsSql: String =
    """SELECT p_brand, count(*) AS n_parts,
      |  CAST(sum(CAST(round(p_retailprice * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM part GROUP BY p_brand""".stripMargin

  /** Model-level avg materialized view, end-to-end: the MV definition
    * declares `avg(cents)`, which the engine DECOMPOSES into stored
    * sum+count partials; a downstream model reads the MV through
    * `ref()` and must see the DECLARED shape (the projection rebuilds
    * avg from the partials). Incremental: the base grows between two
    * builds, the second build folds only the delta. The oracle
    * recomputes the final state from the raw table — avg stays
    * hash-exact because integer-cent sums below 2^53 make every
    * accumulation order hit the same double.
    */
  def mvAvgModel(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot()
    val project = Project(name = "demo_mv_avg",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(
        ModelDef("orders_base",
          """{{ config(materialized='incremental', unique_key='o_orderkey') }}
            |SELECT o_orderkey, o_orderstatus,
            |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
            |FROM {{ source('tpch','orders') }}
            |WHERE o_orderkey <= {{ env_var('MAX_ID') }}
            |{% if is_incremental() %}
            |  AND o_orderkey > (SELECT max(o_orderkey) FROM {{ this }})
            |{% endif %}""".stripMargin),
        ModelDef("orders_avg_mv",
          """{{ config(materialized='materialized_view') }}
            |SELECT o_orderstatus, count(*) AS n_orders,
            |  avg(cents) AS avg_cents
            |FROM {{ ref('orders_base') }} GROUP BY o_orderstatus""".stripMargin),
        ModelDef("mv_report",
          """SELECT o_orderstatus, n_orders, round(avg_cents, 4) AS avg_r
            |FROM {{ ref('orders_avg_mv') }}""".stripMargin)))
    val run1 = new Engine(s, project, Target(root,
      env = Map("MAX_ID" -> "10000"), threads = 1))
    require(run1.build()._1.forall(_.status == "success"))
    val run2 = new Engine(s, project, Target(root,
      env = Map("MAX_ID" -> "999999999"), threads = 1))
    require(run2.build()._1.forall(_.status == "success"))
    run2.readModel("mv_report")
  }

  /** dbt 1.6 `clone` lifecycle: prod builds a table + a view model; a PR
    * target CLONES both from the prod root (zero-copy manifest pointer
    * for the table, definition re-creation for the view), then builds
    * ONLY a changed downstream model on top of the clones. Prod then
    * moves on (an overwrite) — the clone must stay pinned at clone-time
    * state. The oracle recomputes the downstream result from raw orders
    * at the CLONE-TIME cutoff, proving both the clone's content and its
    * isolation from later prod writes.
    */
  def cloneModel(s: SparkSession, d: String): DataFrame = {
    val prodRoot = freshRoot(); val prRoot = freshRoot()
    def project(extra: Seq[ModelDef]) = Project(name = "demo_clone",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(
        ModelDef("orders_base",
          """{{ config(materialized='table') }}
            |SELECT o_orderkey, o_custkey, o_totalprice
            |FROM {{ source('tpch', 'orders') }}
            |WHERE o_orderkey <= {{ env_var('MAX_ID') }}""".stripMargin),
        ModelDef("orders_view",
          """{{ config(materialized='view') }}
            |SELECT o_custkey, count(*) AS n_orders
            |FROM {{ ref('orders_base') }} GROUP BY o_custkey""".stripMargin)
      ) ++ extra)
    // prod @ cutoff 5000
    val prod = new Engine(s, project(Nil), Target(prodRoot,
      env = Map("MAX_ID" -> "5000"), threads = 1))
    require(prod.build()._1.forall(_.status == "success"))
    // PR target clones, then builds only the new downstream model
    val downstream = ModelDef("heavy_custs",
      """SELECT v.o_custkey, v.n_orders,
        |       round(sum(b.o_totalprice), 2) AS spend
        |FROM {{ ref('orders_view') }} v
        |JOIN {{ ref('orders_base') }} b ON b.o_custkey = v.o_custkey
        |WHERE v.n_orders >= 3
        |GROUP BY v.o_custkey, v.n_orders""".stripMargin)
    val pr = new Engine(s, project(Seq(downstream)), Target(prRoot,
      env = Map("MAX_ID" -> "0"), threads = 1))
    val outcomes = pr.cloneFromState("orders_base orders_view", prodRoot).toMap
    require(outcomes == Map("orders_base" -> "cloned",
      "orders_view" -> "cloned_view"), s"clone outcomes: $outcomes")
    // prod moves on AFTER the clone — must not leak into the PR target
    // (MAX_ID=0 would also poison the result if the PR rebuilt the base)
    val prod2 = new Engine(s, project(Nil), Target(prodRoot,
      env = Map("MAX_ID" -> "99"), threads = 1))
    require(prod2.build()._1.forall(_.status == "success"))
    require(pr.buildSelected("heavy_custs")._1
      .forall(_.status == "success"))
    pr.readModel("heavy_custs")
  }

  val cloneModelSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |  WHERE o_orderkey <= 5000),
      |v AS (SELECT o_custkey, count(*) AS n_orders FROM base GROUP BY 1)
      |SELECT v.o_custkey, v.n_orders,
      |       round(sum(b.o_totalprice), 2) AS spend
      |FROM v JOIN base b ON b.o_custkey = v.o_custkey
      |WHERE v.n_orders >= 3
      |GROUP BY v.o_custkey, v.n_orders""".stripMargin

  /** dbt semantic-layer metrics: the project declares `revenue` ONCE
    * (sum of o_totalprice over orders, time = o_orderdate, allowed
    * dimension = o_orderstatus, filtered to non-cancelled); consumers
    * ask `queryMetric("revenue", grain, dims)` and get the governed
    * aggregate — the oracle hand-writes the SQL the layer generates.
    */
  def metricQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, round}
    val root = freshRoot()
    val project = Project(name = "demo_metrics",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(ModelDef("orders_base",
        """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
          |FROM {{ source('tpch', 'orders') }}""".stripMargin)),
      metrics = Seq(MetricDef("revenue", "orders_base", "sum",
        "o_totalprice", "o_orderdate", dims = Seq("o_orderstatus"),
        filter = Some("o_orderstatus <> 'X'"))))
    val engine = new Engine(s, project, Target(root, threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    engine.queryMetric("revenue", grain = "month",
      dims = Seq("o_orderstatus"),
      start = Some("1996-01-01"), end = Some("2001-01-01"))
      .withColumn("revenue", round(col("revenue"), 2))
  }

  val metricQuerySql: String =
    """SELECT date_trunc('month', o_orderdate::TIMESTAMP)::TIMESTAMP AS metric_time,
      |       o_orderstatus, round(sum(o_totalprice), 2) AS revenue
      |FROM orders
      |WHERE o_orderstatus <> 'X'
      |  AND o_orderdate::TIMESTAMP >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate::TIMESTAMP < TIMESTAMP '2001-01-01'
      |GROUP BY 1, 2""".stripMargin

  /** dbt mesh cross-project refs: a PLATFORM project builds and deploys
    * `orders_curated` on its own root/schedule; a CONSUMER project
    * registers it as a dependency and builds on `ref('platform',
    * 'orders_curated')` — read-only, no shared project, no shared DAG.
    * The consumer runs AFTER the platform moved its cutoff, proving the
    * consumer reads the upstream's CURRENT deployment (unlike clone's
    * pinning), through the cross-warehouse temp-view resolution path.
    */
  def crossProjectRef(s: SparkSession, d: String): DataFrame = {
    val platRoot = freshRoot(); val consRoot = freshRoot()
    val platform = Project(name = "platform",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(ModelDef("orders_curated",
        """{{ config(access='public') }}
          |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
          |FROM {{ source('tpch', 'orders') }}
          |WHERE o_orderkey <= {{ env_var('MAX_ID') }}""".stripMargin)))
    // deploy @ 5000, then move on to 8000 — the consumer must see 8000
    require(new Engine(s, platform, Target(platRoot,
      env = Map("MAX_ID" -> "5000"), threads = 1))
      .build()._1.forall(_.status == "success"))
    require(new Engine(s, platform, Target(platRoot,
      env = Map("MAX_ID" -> "8000"), threads = 1))
      .build()._1.forall(_.status == "success"))
    val consumer = Project(name = "consumer",
      models = Seq(ModelDef("status_spend",
        """SELECT o_orderstatus, count(*) AS n_orders,
          |       round(sum(o_totalprice), 2) AS spend
          |FROM {{ ref('platform', 'orders_curated') }}
          |GROUP BY o_orderstatus""".stripMargin)),
      dependencies = Seq(DependencyDef("platform", platRoot)))
    val cons = new Engine(s, consumer, Target(consRoot, threads = 1))
    require(cons.build()._1.forall(_.status == "success"))
    cons.readModel("status_spend")
  }

  val crossProjectRefSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS spend
      |FROM orders WHERE o_orderkey <= 8000
      |GROUP BY o_orderstatus""".stripMargin

  /** Multi-format sources: the same nation/region data staged as JSON
    * lines and headered CSV, declared with `format=`/`options=` source
    * coordinates, joined by a model — the external-table axis (dbt
    * external sources' file_format). The oracle recomputes the join over
    * the original parquet, proving the format readers are
    * value-faithful. Parquet sources keep the direct path relation;
    * these register reader-backed temp views.
    */
  def sourceFormats(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val stage = Scratch.dir("graft_srcfmt").toString
    s.read.parquet(s"$d/nation.parquet")
      .coalesce(1).write.mode("overwrite").json(s"$stage/nation_json")
    s.read.parquet(s"$d/region.parquet")
      .coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$stage/region_csv")
    val project = Project(name = "demo_fmt",
      sources = Seq(
        SourceDef("ext", "nation", s"$stage/nation_json", format = "json"),
        SourceDef("ext", "region", s"$stage/region_csv", format = "csv",
          options = Map("header" -> "true", "inferSchema" -> "true"))),
      models = Seq(ModelDef("nations_fmt",
        """SELECT r.r_name, count(*) AS n_nations,
          |       CAST(max(n.n_nationkey) AS BIGINT) AS max_key
          |FROM {{ source('ext', 'nation') }} n
          |JOIN {{ source('ext', 'region') }} r
          |  ON n.n_regionkey = r.r_regionkey
          |GROUP BY r.r_name""".stripMargin)))
    val e = new Engine(s, project, Target(freshRoot(), threads = 1))
    require(e.build()._1.forall(_.status == "success"))
    e.readModel("nations_fmt")
  }

  val sourceFormatsSql: String =
    """SELECT r.r_name, count(*) AS n_nations,
      |       CAST(max(n.n_nationkey) AS BIGINT) AS max_key
      |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY r.r_name""".stripMargin

  /** B2 legacy per-date partition loop lifecycle (reference
    * `materialization_table_bigquery` partitions branch @48682 +
    * `make_date_partitioned_table` @47149, dbt-bigquery 0.x): a `table`
    * model whose SQL references `[DBT__PARTITION_DATE]` runs one query
    * per configured date, each landing in that date's partition. Run 1
    * backfills 3 days under a row cap; run 2 re-runs days 2–4 (range
    * form, uncapped) — days 2–3 are REPLACED (decorator WRITE_TRUNCATE),
    * day 4 is new, and day 1 must survive untouched from run 1. The
    * oracle recomputes the final per-day union from raw orders.
    */
  def partitionsLoop(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot()
    val modelSql =
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM {{ source('tpch','orders') }}
        |WHERE o_orderdate = to_date('[DBT__PARTITION_DATE]', 'yyyyMMdd')
        |  AND o_orderkey <= {{ env_var('MAX_ID') }}""".stripMargin
    def project(partitions: Seq[String]) = Project(name = "demo_ploop",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(ModelDef("orders_daily", modelSql,
        ModelConfig(materialized = "table", partitions = partitions))))
    val run1 = new Engine(s, project(Seq("19960101", "19960102", "19960103")),
      Target(root, env = Map("MAX_ID" -> "30000"), threads = 1))
    require(run1.build()._1.forall(_.status == "success"))
    val run2 = new Engine(s, project(Seq("19960102..19960104")),
      Target(root, env = Map("MAX_ID" -> "999999999"), threads = 1))
    require(run2.build()._1.forall(_.status == "success"))
    run2.readModel("orders_daily")
  }

  val partitionsLoopSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  CAST(o_orderdate AS DATE) AS _partition_date
      |FROM orders
      |WHERE (o_orderdate = DATE '1996-01-01' AND o_orderkey <= 30000)
      |   OR (o_orderdate BETWEEN DATE '1996-01-02' AND DATE '1996-01-04')""".stripMargin

  val mvAvgModelSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |  round(avg(CAST(round(o_totalprice * 100, 0) AS BIGINT)), 4) AS avg_r
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** `{% call %}` wrapper blocks end-to-end: a user macro receives the
    * block body at its `{{ caller() }}` site — the dbt wrapper-macro
    * protocol (audit/logging shells). The wrapper here adds a
    * row-count audit column around whatever query it wraps; the oracle
    * recomputes the expanded SQL directly.
    */
  def callerBlock(s: SparkSession, d: String): DataFrame = {
    val macros = graft.compile.Compiler.parseMacros(
      """{% macro with_audit(tag) %}
        |SELECT w.*, count(*) OVER () AS n_rows, {{ tag }} AS audit_tag
        |FROM ({{ caller() }}) w
        |{% endmacro %}""".stripMargin).map(m => m.name -> m).toMap
    val project = Project(name = "demo_caller",
      sources = Seq(SourceDef("tpch", "region", s"$d/region.parquet")),
      models = Seq(ModelDef("audited_regions",
        """{% call with_audit('r1') %}
          |SELECT r_regionkey, r_name FROM {{ source('tpch','region') }}
          |WHERE r_regionkey < 3
          |{% endcall %}""".stripMargin)),
      macros = macros)
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("audited_regions")
  }

  val callerBlockSql: String =
    """SELECT w.*, count(*) OVER () AS n_rows, 'r1' AS audit_tag
      |FROM (SELECT r_regionkey, r_name FROM region
      |      WHERE r_regionkey < 3) w""".stripMargin

  /** dbt-utils web + bucketing macros end-to-end: `get_url_host/path/
    * parameter` (pure string ops — no parse_url, so the DuckDB oracle
    * reproduces them byte-identically), `width_bucket` (the dbt-utils
    * floor form), and `generate_series` as a derived table. The fixture
    * has no URLs, so the model synthesizes them deterministically from
    * nation columns (the corpus()-injection pattern); every 4th nation
    * gets a host-only URL to pin the NULL path/parameter contract.
    */
  def urlMacros(s: SparkSession, d: String): DataFrame = {
    val project = Project(name = "demo_url",
      sources = Seq(SourceDef("tpch", "nation", s"$d/nation.parquet")),
      models = Seq(ModelDef("url_report",
        """SELECT n.n_nationkey,
          |  {{ dbt_utils.get_url_host("u") }} AS host,
          |  {{ dbt_utils.get_url_path("u") }} AS path,
          |  {{ dbt_utils.get_url_parameter("u", 'utm_source') }} AS utm_src,
          |  {{ dbt_utils.width_bucket("n.n_nationkey", 0, 25, 5) }} AS bucket,
          |  s.n_series
          |FROM (SELECT n_nationkey, n_regionkey,
          |        CASE WHEN n_nationkey % 4 = 0
          |          THEN concat('http://host', n_regionkey, '.example.com')
          |          ELSE concat('https://shop', n_regionkey,
          |            '.example.com/products/', n_nationkey,
          |            '?utm_source=src', n_nationkey % 3, '&x=1') END AS u
          |      FROM {{ source('tpch','nation') }}) n
          |CROSS JOIN (SELECT count(*) AS n_series
          |            FROM ({{ dbt_utils.generate_series(7) }})) s""".stripMargin)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("url_report")
  }

  val urlMacrosSql: String =
    """WITH n AS (SELECT n_nationkey, n_regionkey,
      |    CASE WHEN n_nationkey % 4 = 0
      |      THEN concat('http://host', n_regionkey, '.example.com')
      |      ELSE concat('https://shop', n_regionkey,
      |        '.example.com/products/', n_nationkey,
      |        '?utm_source=src', n_nationkey % 3, '&x=1') END AS u
      |  FROM nation),
      |noq AS (SELECT *,
      |    split_part(replace(replace(u, 'https://', ''),
      |      'http://', ''), '?', 1) AS stripped
      |  FROM n)
      |SELECT n_nationkey,
      |  split_part(stripped, '/', 1) AS host,
      |  nullif(substr(stripped,
      |    length(split_part(stripped, '/', 1)) + 1), '') AS path,
      |  nullif(split_part(split_part(u, 'utm_source=', 2), '&', 1), '')
      |    AS utm_src,
      |  CAST(least(5, floor((n_nationkey - 0) / ((25 - 0) / 5)) + 1)
      |    AS BIGINT) AS bucket,
      |  (SELECT count(*) FROM generate_series(1, 7)) AS n_series
      |FROM noq""".stripMargin

  /** dbt 1.10 `--sample` end-to-end: the source declares
    * `event_time: o_orderdate`, the target carries an absolute sample
    * window — every source scan compiles wrapped in the CONSTANT window
    * predicate (pushed to the parquet scan), while the event_time-less
    * nation source passes through whole. The oracle recomputes the
    * windowed join directly.
    */
  def sampleBuild(s: SparkSession, d: String): DataFrame = {
    val project = Project(name = "demo_sample",
      sources = Seq(
        SourceDef("tpch", "orders", s"$d/orders.parquet",
          eventTime = Some("o_orderdate")),
        SourceDef("tpch", "customer", s"$d/customer.parquet")),
      models = Seq(ModelDef("sampled_orders",
        """SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate, c.c_nationkey
          |FROM {{ source('tpch','orders') }} o
          |JOIN {{ source('tpch','customer') }} c ON o.o_custkey = c.c_custkey""".stripMargin)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1,
      sample = Some("1995-01-01..1996-01-01")))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("sampled_orders")
  }

  val sampleBuildSql: String =
    """SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate, c.c_nationkey
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'""".stripMargin

  /** `require_partition_filter` end-to-end (reference bigquery_options
    * @15210): a guarded, partitioned model; the downstream's WHERE on the
    * partition column pushes to the scan (accepted, partition-pruned);
    * the same downstream WITHOUT a predicate is refused loudly — asserted
    * here as an invariant before returning the pruned result the oracle
    * recomputes.
    */
  def requirePartitionFilter(s: SparkSession, d: String): DataFrame = {
    def proj(downstreamSql: String) = Project(name = "demo_guard",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(
        ModelDef("orders_part",
          """{{ config(materialized='table', partition_by='o_orderstatus',
            |          require_partition_filter=true) }}
            |SELECT o_orderkey, o_totalprice, o_orderstatus
            |FROM {{ source('tpch','orders') }}""".stripMargin),
        ModelDef("status_f", downstreamSql)))
    val pruned =
      """SELECT o_orderkey, round(o_totalprice, 2) AS price
        |FROM {{ ref('orders_part') }} WHERE o_orderstatus = 'F'""".stripMargin
    val engine = new Engine(s, proj(pruned), Target(freshRoot(), threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    // invariant: the unpredicated spelling is REFUSED (full scan blocked)
    val bad = new Engine(s, proj(
      "SELECT o_orderkey, round(o_totalprice, 2) AS price FROM {{ ref('orders_part') }}"),
      Target(freshRoot(), threads = 1))
    val badDown = bad.build()._1.find(_.name == "status_f").get
    require(badDown.status != "success" &&
      badDown.error.exists(_.contains("require_partition_filter")),
      s"unpredicated read of a guarded relation must fail, got $badDown")
    engine.readModel("status_f")
  }

  val requirePartitionFilterSql: String =
    """SELECT o_orderkey, round(o_totalprice, 2) AS price
      |FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  /** `set_sql_header` end-to-end (reference macro.dbt.set_sql_header):
    * the header declares a session-scoped SQL temp function the model
    * body calls; the engine executes the header before the build. The
    * oracle recomputes the function inline.
    */
  def sqlHeader(s: SparkSession, d: String): DataFrame = {
    val project = Project(name = "demo_hdr",
      sources = Seq(SourceDef("tpch", "nation", s"$d/nation.parquet")),
      models = Seq(ModelDef("tagged_nations",
        """{% call set_sql_header(config) %}
          |CREATE OR REPLACE TEMPORARY FUNCTION graft_tag(k INT)
          |RETURNS STRING RETURN concat('R', k)
          |{% endcall %}
          |SELECT n_nationkey, n_name, graft_tag(n_regionkey) AS tag
          |FROM {{ source('tpch','nation') }}""".stripMargin)))
    val engine = new Engine(s, project, Target(freshRoot(), threads = 1))
    require(engine.build()._1.forall(_.status == "success"))
    engine.readModel("tagged_nations")
  }

  val sqlHeaderSql: String =
    """SELECT n_nationkey, n_name, concat('R', n_regionkey) AS tag
      |FROM nation""".stripMargin

  /** Custom `{% materialization %}` end-to-end (dbt's extension protocol;
    * the reference manifest carries 7 materialization macros as data,
    * e.g. `materialization_table_bigquery` @125935, and packages ship
    * custom ones like insert_by_period): a user-defined
    * `insert_by_period` block reads the period list from
    * `config.require`, creates the empty target once, then loops a
    * `{% call statement %}` INSERT per period — each statement executing
    * through the warehouse's atomic machinery in document order. Built
    * TWICE to prove the create-or-replace init is idempotent.
    */
  def customMaterialization(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot()
    val matBlock =
      """{% materialization insert_by_period, default %}
        |  {{ run_hooks(pre_hooks) }}
        |  {% set periods = config.require('period_list') %}
        |  {% call statement('init') %}
        |    create or replace table {{ this }} as
        |    select * from ({{ sql }}) where 1 = 0
        |  {% endcall %}
        |  {% for y in periods %}
        |    {% call statement('period') %}
        |      insert into {{ this }}
        |      select * from ({{ sql }}) where year(o_orderdate) = {{ y }}
        |    {% endcall %}
        |  {% endfor %}
        |  {{ run_hooks(post_hooks) }}
        |  {{ return({'relations': [this]}) }}
        |{% endmaterialization %}""".stripMargin
    val modelSql =
      """{{ config(materialized='insert_by_period', period_list=['1995', '1996', '1997']) }}
        |SELECT o_orderkey, o_totalprice, o_orderdate
        |FROM {{ source('tpch','orders') }}
        |WHERE o_orderkey <= 20000""".stripMargin
    val project = Project(name = "demo_custom_mat",
      sources = Seq(SourceDef("tpch", "orders", s"$d/orders.parquet")),
      models = Seq(ModelDef("orders_by_period", modelSql)),
      materializations = graft.compile.Compiler.selectMaterializations(
        graft.compile.Compiler.parseMaterializations(matBlock)))
    val run1 = new Engine(s, project, Target(root, threads = 1))
    require(run1.build()._1.forall(_.status == "success"))
    val run2 = new Engine(s, project, Target(root, threads = 1))
    require(run2.build()._1.forall(_.status == "success"))
    run2.readModel("orders_by_period")
  }

  val customMaterializationSql: String =
    """SELECT o_orderkey, o_totalprice, o_orderdate
      |FROM orders
      |WHERE o_orderkey <= 20000
      |  AND year(o_orderdate) IN (1995, 1996, 1997)""".stripMargin
}
