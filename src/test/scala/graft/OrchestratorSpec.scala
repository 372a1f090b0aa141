package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.compile.Compiler
import graft.core._
import graft.dag.Dag
import graft.dqtests.SchemaTests
import graft.run._

class OrchestratorSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def root(): String = Files.createTempDirectory("graft_orch").toString

  val baseProject: Project = Project(
    name = "p",
    sources = Seq(
      SourceDef("tpch", "nation", s"$sf/nation.parquet"),
      SourceDef("tpch", "region", s"$sf/region.parquet")),
    models = Seq(
      ModelDef("nations", "SELECT n_nationkey, n_name, n_regionkey FROM {{ source('tpch','nation') }}"),
      ModelDef("by_region",
        """SELECT r.r_name, count(*) AS n
          |FROM {{ ref('nations') }} n
          |JOIN {{ source('tpch','region') }} r ON n.n_regionkey = r.r_regionkey
          |GROUP BY r.r_name""".stripMargin)))

  test("build materializes models in DAG order with tests") {
    val p = baseProject.copy(tests = Seq(
      TestDef("unique_nation", "nations",
        df => SchemaTests.unique(df, "n_nationkey")),
      TestDef("not_null_region", "by_region",
        df => SchemaTests.notNull(df, "r_name"))))
    val e = new Engine(spark, p, Target(root()))
    val (nodes, tests) = e.build()
    assert(nodes.map(_.status).forall(_ == "success"))
    assert(tests.map(_.status).forall(_ == "pass"))
    assert(e.readModel("by_region").count() == 5)
  }

  test("schema template with an unset env var throws instead of leaking a literal schema") {
    val t = Target(root(), schema = "ci_pr_{{ env_var('PR_NUMBER') }}")
    intercept[IllegalArgumentException] { t.resolvedSchema }
  }

  test("ephemeral CTE injection merges with a WITH-newline model") {
    val p = baseProject.copy(models = Seq(
      ModelDef("eph_src",
        """{{ config(materialized='ephemeral') }}
          |SELECT n_nationkey, n_regionkey FROM {{ source('tpch','nation') }}""".stripMargin),
      ModelDef("with_model",
        "WITH\n  base AS (SELECT n_nationkey FROM {{ ref('eph_src') }})\n" +
          "SELECT count(*) AS n FROM base")))
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.readModel("with_model").collect().head.getLong(0) == 25L)
  }

  test("view models persist a durable definition readable without the project") {
    val r = root()
    val p = baseProject.copy(models = Seq(
      ModelDef("nations_v",
        """{{ config(materialized='view') }}
          |SELECT n_nationkey, n_name FROM {{ source('tpch','nation') }}""".stripMargin)))
    val e = new Engine(spark, p, Target(r))
    assert(e.build()._1.forall(_.status == "success"))
    // an EXTERNAL reader: fresh Warehouse over the same root, no Project
    val wh2 = new Warehouse(spark, r)
    val rel = e.relationFor("nations_v")
    assert(wh2.listViews(rel.database, rel.schema).map(_.identifier) ==
      Seq("nations_v"))
    assert(wh2.readView(rel).get.count() == 25)
    // view defs are files — never mistaken for table relations
    assert(!wh2.listRelations(rel.database, rel.schema)
      .exists(_.identifier.contains("nations_v")))
    // re-materializing the model as a TABLE must clear the stale view def
    val p2 = p.copy(models = Seq(ModelDef("nations_v",
      """SELECT n_nationkey, n_name FROM {{ source('tpch','nation') }}""")))
    assert(new Engine(spark, p2, Target(r)).build()._1
      .forall(_.status == "success"))
    assert(wh2.listViews(rel.database, rel.schema).isEmpty)
    assert(wh2.readView(rel).isEmpty)
  }

  test("no-macro projects: commented statements never execute, raw survives probes") {
    // a project with ZERO macros skips the expandMacros pass whose first
    // step normally protects raw blocks and strips comments — the
    // introspection probe scan must protect on its own, or commented-out
    // DML executes against the warehouse
    val p = baseProject.copy(models = Seq(
      ModelDef("nations",
        "SELECT n_nationkey FROM {{ source('tpch','nation') }}"),
      ModelDef("probe_safe",
        "{# {% call statement('purge') %}DROP TABLE nations{% endcall %} #}\n" +
          "SELECT count(*) AS n, '{% raw %}{{ keep }}{% endraw %}' AS s " +
          "FROM {{ ref('nations') }}")))
    assert(p.macros.isEmpty)
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    val row = e.readModel("probe_safe").collect().head
    assert(row.getLong(0) == 25L)
    // the raw body reaches the engine verbatim, untouched by probe passes
    assert(row.getString(1) == "{{ keep }}", row.getString(1))
    // the commented-out DROP never ran
    assert(e.readModel("nations").count() == 25)
  }

  test("user macros expand in models, carry refs into the DAG, and flag checksums") {
    val macros = Compiler.parseMacros(
      """{% macro keyed_count(rel, key, alias='n') %}
        |SELECT {{ key }}, count(*) AS {{ alias }}
        |FROM {{ ref({{ rel }}) }} GROUP BY {{ key }}
        |{% endmacro %}
        |{% macro nations_by(col) %}
        |{{ keyed_count('nations', {{ col }}) }}
        |{% endmacro %}""".stripMargin).map(m => m.name -> m).toMap
    val p = baseProject.copy(
      models = baseProject.models :+ ModelDef("region_counts",
        "{{ nations_by(n_regionkey) }}"),
      macros = macros)
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    // the ref() lived INSIDE the macro body: the DAG must still order
    // nations before region_counts, and the result must be real
    val got = e.readModel("region_counts").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(0 -> 5L, 1 -> 5L, 2 -> 5L, 3 -> 5L, 4 -> 5L))
    // a macro edit changes the EXPANDED checksum (state:modified sees it)
    val macros2 = Compiler.parseMacros(
      """{% macro keyed_count(rel, key, alias='n') %}
        |SELECT {{ key }}, count(*) + 1 AS {{ alias }}
        |FROM {{ ref({{ rel }}) }} GROUP BY {{ key }}
        |{% endmacro %}
        |{% macro nations_by(col) %}
        |{{ keyed_count('nations', {{ col }}) }}
        |{% endmacro %}""".stripMargin).map(m => m.name -> m).toMap
    val e2 = new Engine(spark, p.copy(macros = macros2), Target(root()))
    val cks1 = e.project.models.map(m => m.name -> Compiler.checksum(m.rawSql)).toMap
    val cks2 = e2.project.models.map(m => m.name -> Compiler.checksum(m.rawSql)).toMap
    assert(cks1("region_counts") != cks2("region_counts"))
    assert(cks1("nations") == cks2("nations"))
    // recursion guard: a self-calling macro fails loudly
    val rec = Compiler.parseMacros(
      "{% macro loop_m(x) %}{{ loop_m({{ x }}) }}{% endmacro %}")
      .map(m => m.name -> m).toMap
    intercept[IllegalArgumentException] {
      Compiler.expandMacros("{{ loop_m(1) }}", rec)
    }
    // builtins cannot be shadowed
    intercept[IllegalArgumentException] {
      Compiler.parseMacros("{% macro ref(x) %}{{ x }}{% endmacro %}")
    }
  }

  test("jinja control flow: set + for + loop.last compile a pivot; checksum is state-sensitive") {
    val pivotSql =
      """{% set keys = ['0', '1', '2'] %}
        |SELECT n_name,
        |  {% for k in keys %}
        |  CASE WHEN n_regionkey = {{ k }} THEN 1 ELSE 0 END
        |    AS in_region_{{ k }}{% if not loop.last %},{% endif %}
        |  {% endfor %}
        |FROM {{ source('tpch','nation') }}""".stripMargin
    val p = baseProject.copy(models = baseProject.models :+
      ModelDef("nation_pivot", pivotSql))
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    val df = e.readModel("nation_pivot")
    assert(df.columns.toSeq ==
      Seq("n_name", "in_region_0", "in_region_1", "in_region_2"))
    assert(df.count() == 25)
    assert(df.agg(sum(col("in_region_1"))).head.getLong(0) == 5L)
    // editing the set-literal list changes the raw checksum, so
    // state:modified sees a loop-generated column-list change
    val p2 = p.copy(models = p.models.map {
      case m if m.name == "nation_pivot" =>
        m.copy(rawSql = m.rawSql.replace("'2'", "'3'"))
      case m => m
    })
    val e2 = new Engine(spark, p2, Target(root()))
    val m1 = Files.createTempFile("manifest_cf1", ".json").toString
    val m2 = Files.createTempFile("manifest_cf2", ".json").toString
    e.writeManifest(m1); e2.writeManifest(m2)
    assert(StateSelector.modified(m2, m1) == Set("nation_pivot"))
    // expansion subset unit checks
    assert(Compiler.expandControlFlow(
      "{% set sep = ', ' %}{% for x in ['a','b'] %}{{ x }}{% if not loop.last %}{{ sep }}{% endif %}{% endfor %}")
      == "a, b")
    assert(Compiler.expandControlFlow(
      "{% for i in [1, 2] %}[{% for j in ['x','y'] %}{{ i }}{{ j }} {% endfor %}]{% endfor %}")
      == "[1x 1y ][2x 2y ]")
    assert(Compiler.expandControlFlow(
      "{% for x in ['a'] %}{{ x }}{{ loop.index }}{% endfor %}") == "a1")
    assert(Compiler.expandControlFlow(
      "{% if 'a' == 'b' %}yes{% else %}no{% endif %}") == "no")
    // bare jinja-style variables in conditions substitute as literals
    assert(Compiler.expandControlFlow(
      "{% for st in ['O','F'] %}{% if st == 'O' %}A{% else %}B{% endif %}{% endfor %}")
      == "AB")
    assert(Compiler.expandControlFlow(
      "{% set flag = 'a' %}{% if flag == 'a' %}yes{% else %}no{% endif %}")
      == "yes")
    // a comparison on an UNRESOLVED variable must never be decided —
    // the block survives for the SQL parser to reject loudly
    val undecided = "{% if mystery == 'a' %}yes{% endif %}"
    assert(Compiler.expandControlFlow(undecided).contains("mystery"))
    // is_incremental stays untouched for compile() to resolve
    val keep = "{% if is_incremental() %}WHERE x > 1{% endif %}"
    assert(Compiler.expandControlFlow(keep) == keep)
    // the incremental guard accepts whitespace-control dashes and an
    // else arm (both dbt-legal) through compile()
    def comp(sql: String, incr: Boolean) = Compiler.compile(sql,
      Compiler.ResolveCtx(refTarget = identity, sourceTarget = (_, _) => "",
        thisTarget = "t", env = Map.empty, isIncremental = incr))
    val guarded = "SELECT 1 {%- if is_incremental() -%} A {%- else -%} B {%- endif -%}"
    assert(comp(guarded, incr = true).endsWith("A"))
    assert(comp(guarded, incr = false).endsWith("B"))
    // loops over anything but a literal/bound list fail loudly
    intercept[IllegalArgumentException] {
      Compiler.expandControlFlow("{% for r in run_query_results %}{{ r }}{% endfor %}")
    }
  }

  test("get_column_values: introspection is a real DAG edge; values bind sorted/distinct") {
    // the downstream model's ONLY upstream link is the introspective
    // binding (the body never selects from it) — the loader must still
    // schedule the probed relation first
    val p = Project(name = "introspect",
      sources = Seq(SourceDef("tpch", "nation", s"$sf/nation.parquet")),
      models = Seq(
        ModelDef("keys_src",
          "SELECT n_regionkey FROM {{ source('tpch','nation') }} " +
            "WHERE n_regionkey < 3"),
        ModelDef("key_list",
          "{% set ks = get_column_values(ref('keys_src'), 'n_regionkey') %}" +
            "SELECT '{{ ks | join(',') }}' AS keys, {{ ks | length }} AS n")))
    val (refs, _) = graft.compile.Compiler.dependencies(
      p.models(1).rawSql)
    assert(refs == Seq("keys_src"), s"introspection edge missing: $refs")
    val e = new Engine(spark, p, Target(root()))
    val (nodes, _) = e.build()
    assert(nodes.forall(_.status == "success"), nodes.toString)
    val row = e.readModel("key_list").collect().head
    assert(row.getString(0) == "0,1,2" && row.getInt(1) == 3, row.toString)
    // max_records caps the binding
    val p2 = p.copy(models = p.models.updated(1, ModelDef("key_list",
      "{% set ks = get_column_values(ref('keys_src'), 'n_regionkey', 2) %}" +
        "SELECT {{ ks | length }} AS n")))
    val e2 = new Engine(spark, p2, Target(root()))
    assert(e2.build()._1.forall(_.status == "success"))
    assert(e2.readModel("key_list").collect().head.getInt(0) == 2)

    // star(): a typo'd except column fails LOUDLY (dbt-utils would
    // silently leak the column) — surfaced as the node erroring
    val p3 = p.copy(models = p.models.updated(1, ModelDef("key_list",
      "SELECT {{ star(ref('keys_src'), except=['n_regiomkey']) }} " +
        "FROM {{ ref('keys_src') }}")))
    val e3 = new Engine(spark, p3, Target(root()))
    val (nodes3, _) = e3.build()
    assert(nodes3.find(_.name == "key_list").exists(_.status == "error"))
    // star over a source splices the full schema
    val p4 = p.copy(models = p.models.updated(1, ModelDef("key_list",
      "SELECT {{ star(source('tpch', 'nation'), except=['n_name']) }} " +
        "FROM {{ source('tpch', 'nation') }}")))
    val e4 = new Engine(spark, p4, Target(root()))
    assert(e4.build()._1.forall(_.status == "success"))
    assert(e4.readModel("key_list").columns.toSeq ==
      Seq("n_nationkey", "n_regionkey"))
  }

  test("catalog DDL registers the committed state for an external reader") {
    val p = Project(name = "ddl_demo",
      sources = Seq(SourceDef("tpch", "orders", s"$sf/orders.parquet")),
      models = Seq(
        ModelDef("ddl_orders_part",
          "{{ config(partition_by='o_orderstatus') }} " +
            "SELECT o_orderkey, o_custkey, o_orderstatus " +
            "FROM {{ source('tpch','orders') }}"),
        // append-only incremental: two builds = two committed version
        // dirs, the interesting manifest-union case
        ModelDef("ddl_incr",
          "{{ config(materialized='incremental') }} " +
            "SELECT o_orderkey, o_totalprice FROM {{ source('tpch','orders') }}"),
        ModelDef("ddl_top",
          "{{ config(materialized='view', persist_docs='true') }} " +
            "SELECT o_orderstatus, count(*) AS n " +
            "FROM {{ ref('ddl_orders_part') }} GROUP BY o_orderstatus")),
      descriptions = Map(
        "ddl_top" -> "Orders per status",
        // described but NOT persist_docs'd: must stay catalog-only
        "ddl_incr" -> "Append-only increments"))
    val e = new Engine(spark, p,
      Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.build()._1.forall(_.status == "success"))
    val (stmts, skipped) = e.catalogDdl()
    assert(skipped.isEmpty, skipped.toString)
    assert(stmts.size == 3)
    // the view's DDL must reference the exported table name, not a raw
    // warehouse path (a path over the manifest root reads every version)
    val topDdl = stmts.find(_.contains("`ddl_top`")).get
    assert(topDdl.contains("`ddl_orders_part`") && !topDdl.contains("parquet."))
    // B37 persist_docs: the configured model's description rides the DDL
    // as a COMMENT; the merely-described one stays catalog-only
    assert(topDdl.contains("COMMENT 'Orders per status'"), topDdl)
    assert(!stmts.find(_.contains("`ddl_incr`")).get.contains("COMMENT"))
    try {
      stmts.foreach(spark.sql(_))
      for (m <- Seq("ddl_orders_part", "ddl_incr", "ddl_top")) {
        val a = e.readModel(m)
        val b = spark.table(m)
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"external read of $m diverges from graft's")
      }
      // both append versions visible externally (doubled rows)
      assert(spark.table("ddl_incr").count() ==
        2 * spark.read.parquet(s"$sf/orders.parquet").count())
    } finally Seq("ddl_orders_part", "ddl_incr", "ddl_top")
      .foreach(n => spark.sql(s"DROP VIEW IF EXISTS `$n`"))
  }

  test("named selectors: saved composition resolves and builds exactly its closure") {
    val p = baseProject.copy(
      models = baseProject.models :+ ModelDef("unrelated", "SELECT 1 AS one"),
      selectors = Seq(SelectorDef("core", "+by_region"),
        SelectorDef("core_no_nations", "+by_region", "nations")))
    val e = new Engine(spark, p, Target(root()))
    assert(e.selectByName("core") == Set("nations", "by_region"))
    assert(e.selectByName("core_no_nations") == Set("by_region"))
    val (nodes, _) = e.build(select = Some(e.selectByName("core")))
    assert(nodes.map(_.name).toSet == Set("nations", "by_region"))
    assert(nodes.forall(_.status == "success"))
    assert(!e.warehouse.exists(e.relationFor("unrelated")))
    intercept[IllegalArgumentException] { e.selectByName("missing") }
  }

  test("graph selectors: tag:, name globs, +model/model+, intersection") {
    val p = baseProject.copy(models = Seq(
      ModelDef("stg_nations",
        "{{ config(tags='staging|tpch') }} SELECT n_nationkey, n_name, " +
          "n_regionkey FROM {{ source('tpch','nation') }}"),
      ModelDef("stg_regions",
        "{{ config(tags='staging') }} SELECT r_regionkey, r_name " +
          "FROM {{ source('tpch','region') }}"),
      ModelDef("mart_by_region",
        """{{ config(tags='mart') }}
          |SELECT r.r_name, count(*) AS n
          |FROM {{ ref('stg_nations') }} n
          |JOIN {{ ref('stg_regions') }} r ON n.n_regionkey = r.r_regionkey
          |GROUP BY r.r_name""".stripMargin)))
    val e = new Engine(spark, p, Target(root()))
    assert(e.selectNodes("tag:staging") == Set("stg_nations", "stg_regions"))
    assert(e.selectNodes("stg_*") == Set("stg_nations", "stg_regions"))
    assert(e.selectNodes("stg_nations+") == Set("stg_nations", "mart_by_region"))
    assert(e.selectNodes("+mart_by_region") ==
      Set("stg_nations", "stg_regions", "mart_by_region"))
    assert(e.selectNodes("stg_nations+0") == Set("stg_nations"))
    // intersection within a term; union across terms
    assert(e.selectNodes("tag:staging,tag:tpch") == Set("stg_nations"))
    assert(e.selectNodes("tag:mart stg_regions") ==
      Set("mart_by_region", "stg_regions"))
    // a selector-driven build runs exactly the closure, in DAG order
    val (nodes, _) = e.buildSelected("+mart_by_region")
    assert(nodes.map(_.name).toSet ==
      Set("stg_nations", "stg_regions", "mart_by_region"))
    assert(nodes.forall(_.status == "success"))
    assert(e.readModel("mart_by_region").count() == 5)
    // tag-subset build: only the staging pair runs
    val e2 = new Engine(spark, p, Target(root()))
    val (n2, _) = e2.buildSelected("tag:staging")
    assert(n2.map(_.name).toSet == Set("stg_nations", "stg_regions"))
    assert(n2.forall(_.status == "success"))
    // --exclude subtracts with the same grammar (exclude wins)
    val e3 = new Engine(spark, p, Target(root()))
    val (n3, _) = e3.buildSelected("tag:staging", exclude = Some("stg_r*"))
    assert(n3.map(_.name).toSet == Set("stg_nations"))
    assert(e3.selectNodes("+mart_by_region") --
      e3.selectNodes("tag:staging") == Set("mart_by_region"))
  }

  test("graph selectors: config.materialized:, source:, and the @ operator") {
    val p = baseProject.copy(models = Seq(
      ModelDef("stg_nations",
        "{{ config(materialized='incremental', unique_key='n_nationkey') }} " +
          "SELECT n_nationkey, n_name, n_regionkey FROM {{ source('tpch','nation') }}"),
      ModelDef("stg_regions",
        "SELECT r_regionkey, r_name FROM {{ source('tpch','region') }}"),
      ModelDef("mart_by_region",
        """SELECT r.r_name, count(*) AS n
          |FROM {{ ref('stg_nations') }} n
          |JOIN {{ ref('stg_regions') }} r ON n.n_regionkey = r.r_regionkey
          |GROUP BY r.r_name""".stripMargin)))
    val e = new Engine(spark, p, Target(root()))
    assert(e.selectNodes("config.materialized:incremental") == Set("stg_nations"))
    assert(e.selectNodes("config.materialized:table") ==
      Set("stg_regions", "mart_by_region"))
    assert(e.selectNodes("source:tpch.nation") == Set("stg_nations"))
    assert(e.selectNodes("source:tpch") == Set("stg_nations", "stg_regions"))
    assert(e.selectNodes("source:tpch.nation+") ==
      Set("stg_nations", "mart_by_region"))
    // @stg_nations = itself + descendants (mart) + the mart's OTHER
    // ancestors (stg_regions) — the build-the-downstream-from-scratch set
    assert(e.selectNodes("@stg_nations") ==
      Set("stg_nations", "stg_regions", "mart_by_region"))
    assert(e.selectNodes("@mart_by_region") ==
      Set("stg_nations", "stg_regions", "mart_by_region"))
    assert(e.selectNodes("@stg_regions") ==
      Set("stg_nations", "stg_regions", "mart_by_region"))
  }

  test("model contract: shape validated before write, not_null aborts the write") {
    // conforming contract (order-insensitive, exact types) builds fine
    val ok = baseProject.copy(models = Seq(
      ModelDef("nations",
        "SELECT n_nationkey, n_name FROM {{ source('tpch','nation') }}",
        ModelConfig(contract = Seq("n_name" -> "string", "n_nationkey" -> "int"),
          notNull = Seq("n_nationkey")))))
    val e1 = new Engine(spark, ok, Target(root()))
    assert(e1.build()._1.forall(_.status == "success"))
    assert(e1.readModel("nations").count() == 25)
    // mistyped/missing columns fail at analysis time — nothing written
    val bad = baseProject.copy(models = Seq(
      ModelDef("nations",
        "SELECT n_nationkey, n_name FROM {{ source('tpch','nation') }}",
        ModelConfig(contract = Seq("n_nationkey" -> "bigint", "n_comment" -> "string")))))
    val e2 = new Engine(spark, bad, Target(root()))
    val (r2, _) = e2.build()
    assert(r2.exists(_.status == "error"))
    assert(!e2.warehouse.exists(e2.relationFor("nations")))
    // a not_null violation aborts the job before the atomic swap lands
    val nn = baseProject.copy(models = Seq(
      ModelDef("nations",
        "SELECT n_nationkey, CASE WHEN n_nationkey = 3 THEN NULL ELSE n_name END AS n_name " +
          "FROM {{ source('tpch','nation') }}",
        ModelConfig(notNull = Seq("n_name")))))
    val e3 = new Engine(spark, nn, Target(root()))
    val (r3, _) = e3.build()
    assert(r3.exists(_.status == "error"))
    assert(!e3.warehouse.exists(e3.relationFor("nations")))
  }

  test("docs generate: catalog artifact lists tables with footer stats and views with defs") {
    val p = baseProject.copy(models = baseProject.models :+
      ModelDef("nations_v",
        """{{ config(materialized='view') }}
          |SELECT n_name
          |FROM {{ ref('nations') }}""".stripMargin),
      descriptions = Map("nations" -> "Nation dim",
        "nations.n_name" -> "Nation name",
        "nations_v" -> "Names only,\none per nation"))
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    val out = java.nio.file.Files.createTempFile("graft_cat", ".json").toString
    e.writeDbtCatalog(out)
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    val nodes = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json).path("nodes")
    // tables carry rows/bytes/columns; the view is listed, and its
    // definition stays durable beside it
    val nations = nodes.path("model.p.nations")
    assert(nations.path("metadata").path("name").asText == "nations")
    assert(nations.path("stats").path("row_count").path("value").asLong == 25L)
    assert(nations.path("columns").path("n_nationkey").path("name").asText
      == "n_nationkey")
    val view = nodes.path("model.p.nations_v")
    assert(view.path("metadata").path("name").asText == "nations_v")
    assert(view.path("metadata").path("type").asText == "view")
    assert(e.warehouse.readViewDef(e.relationFor("nations_v")).isDefined)
    // descriptions surface at relation AND column level
    assert(nations.path("metadata").path("comment").asText == "Nation dim")
    assert(nations.path("columns").path("n_name").path("comment").asText
      == "Nation name")
    assert(view.path("metadata").path("comment").asText ==
      "Names only,\none per nation")
    // single-line artifact: a raw (unescaped) newline from a multi-line
    // description would corrupt the JSON — the escaper must catch it
    assert(!json.trim.contains('\n'))
    assert(json.contains("\\n"), "the multi-line description must appear escaped")
    assert(json.trim.startsWith("{") && json.trim.endsWith("}"))
  }

  test("resource_type selector splits nodes by kind") {
    val seedCsv = java.nio.file.Files.createTempFile("graft_seed", ".csv")
    java.nio.file.Files.writeString(seedCsv, "k,v\n1,a\n")
    val p = baseProject.copy(seeds = Seq(SeedDef("s1", seedCsv.toString)))
    val e = new Engine(spark, p, Target(root()))
    assert(e.selectNodes("resource_type:model") == Set("nations", "by_region"))
    assert(e.selectNodes("resource_type:seed") == Set("s1"))
    assert(e.selectNodes("resource_type:snapshot").isEmpty)
    intercept[IllegalArgumentException] {
      e.selectNodes("resource_type:exposure")
    }
    ()
  }

  test("model groups + access: private refs outside the group fail at parse time") {
    def models(access: String, consumerGroup: String) = Seq(
      ModelDef("core_int",
        s"{{ config(group='core', access='$access') }} " +
          "SELECT n_nationkey FROM {{ source('tpch','nation') }}"),
      ModelDef("consumer",
        s"{{ config(group='$consumerGroup') }} " +
          "SELECT * FROM {{ ref('core_int') }}"))
    // private + cross-group: fails before ANY node runs
    val e1 = new Engine(spark,
      baseProject.copy(models = models("private", "marts")), Target(root()))
    val ex = intercept[IllegalArgumentException] { e1.build() }
    assert(ex.getMessage.contains("private"))
    assert(!e1.warehouse.exists(e1.relationFor("core_int")),
      "violation must fail the parse phase, not mid-build")
    // private + same group: fine
    val e2 = new Engine(spark,
      baseProject.copy(models = models("private", "core")), Target(root()))
    assert(e2.build()._1.forall(_.status == "success"))
    // protected (the default) + cross-group: fine within one project
    val e3 = new Engine(spark,
      baseProject.copy(models = models("protected", "marts")), Target(root()))
    assert(e3.build()._1.forall(_.status == "success"))
  }

  test("unit tests: mock inputs, no warehouse access, column-scoped expect") {
    val s = spark
    import s.implicits._
    // the model joins a ref and a source — BOTH mocked; the warehouse
    // root is empty and no source path even exists, proving isolation
    val p = Project(name = "ut",
      sources = Seq(SourceDef("ext", "regions", "/nonexistent/regions.parquet")),
      models = Seq(
        ModelDef("stg", "SELECT 1 AS x"),
        ModelDef("joined",
          """SELECT a.id, b.r_name, a.amount * 2 AS doubled
            |FROM {{ ref('stg') }} a
            |JOIN {{ source('ext','regions') }} b ON a.rk = b.rk""".stripMargin)))
    val e = new Engine(spark, p, Target(root()))
    val mockStg = Seq((1L, 0L, 10L), (2L, 1L, 20L)).toDF("id", "rk", "amount")
    val mockRegions = Seq((0L, "EU"), (1L, "US")).toDF("rk", "r_name")
    val expect = Seq((1L, "EU", 20L), (2L, "US", 40L))
      .toDF("id", "r_name", "doubled")
    val r = e.runUnitTest("ut_joined", "joined",
      Map("stg" -> mockStg, "source:ext.regions" -> mockRegions), expect)
    assert(r.passed, s"missing=${r.missing} unexpected=${r.unexpected}")
    // expect pins only ITS columns: dropping one still passes
    assert(e.runUnitTest("ut_subset", "joined",
      Map("stg" -> mockStg, "source:ext.regions" -> mockRegions),
      expect.select("id", "doubled")).passed)
    // a wrong expectation fails with named diff rows
    val bad = e.runUnitTest("ut_bad", "joined",
      Map("stg" -> mockStg, "source:ext.regions" -> mockRegions),
      Seq((1L, "EU", 999L)).toDF("id", "r_name", "doubled"))
    assert(!bad.passed && bad.missing.nonEmpty && bad.unexpected.nonEmpty)
    // an unmocked dependency fails loudly instead of reading production
    val ex = intercept[IllegalArgumentException] {
      e.runUnitTest("ut_nomock", "joined", Map("stg" -> mockStg), expect)
    }
    assert(ex.getMessage.contains("no mock"))
  }

  test("fail-fast stops scheduling after the first error; default keeps independent branches") {
    // two INDEPENDENT models; the failing one sorts first under threads=1
    val p = baseProject.copy(models = Seq(
      ModelDef("a_broken", "SELECT no_such FROM {{ source('tpch','nation') }}"),
      ModelDef("z_fine", "SELECT n_name FROM {{ source('tpch','nation') }}")))
    val e1 = new Engine(spark, p, Target(root(), threads = 1))
    val (r1, _) = e1.build(failFast = true)
    assert(r1.find(_.name == "a_broken").get.status == "error")
    assert(r1.find(_.name == "z_fine").get.status == "skipped")
    assert(r1.find(_.name == "z_fine").get.error.contains("fail-fast"))
    // default: the independent branch still runs
    val e2 = new Engine(spark, p, Target(root(), threads = 1))
    val (r2, _) = e2.build()
    assert(r2.find(_.name == "a_broken").get.status == "error")
    assert(r2.find(_.name == "z_fine").get.status == "success")
  }

  test("exposures: selectable sinks, recorded in the manifest, never built") {
    val p = baseProject.copy(exposures = Seq(
      ExposureDef("weekly_dash", Seq("by_region"), owner = "analytics",
        url = "https://dash.example/weekly")))
    val e = new Engine(spark, p, Target(root()))
    // +exposure:dash = the dashboard's full upstream
    assert(e.selectNodes("exposure:weekly_dash") == Set("by_region"))
    assert(e.selectNodes("+exposure:weekly_dash") ==
      Set("nations", "by_region"))
    intercept[IllegalArgumentException] { e.selectNodes("exposure:nope") }
    val (nodes, _) = e.buildSelected("+exposure:weekly_dash")
    assert(nodes.map(_.name).toSet == Set("nations", "by_region"))
    assert(nodes.forall(_.status == "success"))
    // manifest records the exposure with deps; state selection is
    // untouched by the extra section
    val mf = java.nio.file.Files.createTempFile("graft_mf", ".json").toString
    e.writeManifest(mf)
    val exp = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(mf)).path("exposures")
      .path("exposure.p.weekly_dash")
    assert(exp.path("name").asText == "weekly_dash")
    assert(exp.path("url").asText.contains("dash.example"))
    assert(exp.path("depends_on").path("nodes").toString
      .contains("model.p.by_region"))
    assert(StateSelector.modified(mf, mf).isEmpty)
  }

  test("project vars resolve with defaults and --vars override") {
    val p = baseProject.copy(
      vars = Map("max_key" -> "10"),
      models = Seq(ModelDef("nations",
        "SELECT n_nationkey, n_name, '{{ var('tier', 'dev') }}' AS tier " +
          "FROM {{ source('tpch','nation') }} " +
          "WHERE n_nationkey <= {{ var('max_key') }}")))
    // project-level var + quoted default
    val e1 = new Engine(spark, p, Target(root()))
    assert(e1.build()._1.forall(_.status == "success"))
    val r1 = e1.readModel("nations").collect()
    assert(r1.length == 11 && r1.forall(_.getAs[String]("tier") == "dev"))
    // --vars override wins over dbt_project.yml
    val e2 = new Engine(spark, p,
      Target(root(), vars = Map("max_key" -> "3", "tier" -> "prod")))
    assert(e2.build()._1.forall(_.status == "success"))
    val r2 = e2.readModel("nations").collect()
    assert(r2.length == 4 && r2.forall(_.getAs[String]("tier") == "prod"))
    // unset var with no default fails loudly
    val bad = p.copy(vars = Map.empty)
    val e3 = new Engine(spark, bad, Target(root()))
    assert(e3.build()._1.exists(_.status == "error"))
  }

  test("run-operation invokes a user macro standalone with args") {
    val macros = Compiler.parseMacros(
      """{% macro top_nations(k) %}
        |SELECT n_name FROM {{ ref('nations') }}
        |ORDER BY n_nationkey LIMIT {{ k }}
        |{% endmacro %}""".stripMargin).map(m => m.name -> m).toMap
    val p = baseProject.copy(macros = macros)
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.runOperation("top_nations", Map("k" -> "3")).count() == 3)
    val ex = intercept[IllegalArgumentException] {
      e.runOperation("nope")
    }
    assert(ex.getMessage.contains("unknown macro"))
  }

  test("run results artifact + retry: failed node and its skipped cone re-run") {
    val broken = baseProject.copy(models = Seq(
      ModelDef("nations",
        "SELECT no_such_column FROM {{ source('tpch','nation') }}"),
      ModelDef("by_region", baseProject.models(1).rawSql)))
    val wh = root()
    val e1 = new Engine(spark, broken, Target(wh))
    val (n1, t1) = e1.build()
    assert(n1.find(_.name == "nations").get.status == "error")
    assert(n1.find(_.name == "by_region").get.status == "skipped")
    val rr = java.nio.file.Files.createTempFile("graft_rr", ".json").toString
    e1.writeDbtRunResults(rr, n1, t1)
    // the v6 file names nodes by unique_id and carries dbt's statuses
    import scala.jdk.CollectionConverters._
    val recorded = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(rr)).path("results").elements().asScala
      .map(r => r.path("unique_id").asText -> r.path("status").asText).toMap
    assert(recorded("model.p.nations") == "error")
    assert(recorded("model.p.by_region") == "skipped")
    // the fixed project retries exactly the error+skipped cone
    val e2 = new Engine(spark, baseProject, Target(wh))
    assert(e2.retrySelection(rr) == Set("nations", "by_region"))
    val (n2, _) = e2.buildRetry(rr)
    assert(n2.map(_.name).toSet == Set("nations", "by_region"))
    assert(n2.forall(_.status == "success"))
    assert(e2.readModel("by_region").count() == 5)
    // a fully green run retries nothing
    val rr2 = java.nio.file.Files.createTempFile("graft_rr2", ".json").toString
    e2.writeDbtRunResults(rr2, n2, Nil)
    assert(e2.retrySelection(rr2).isEmpty)
  }

  test("on-run-start/on-run-end project hooks execute around the DAG") {
    val p = baseProject.copy(
      onRunStart = Seq(
        "CREATE OR REPLACE TEMPORARY VIEW run_started AS SELECT 1 AS x"),
      onRunEnd = Seq(
        """CREATE OR REPLACE TEMPORARY VIEW run_ended AS
          |SELECT count(*) AS n FROM {{ ref('nations') }}""".stripMargin))
    spark.catalog.dropTempView("run_started")
    spark.catalog.dropTempView("run_ended")
    val e = new Engine(spark, p, Target(root()))
    val (nodes, _) = e.build()
    assert(nodes.map(_.status).forall(_ == "success"))
    assert(spark.catalog.tableExists("run_started"))
    // the end hook resolved {{ ref('nations') }} against the built warehouse
    assert(spark.table("run_ended").collect().head.getLong(0) == 25L)
  }

  test("failing on-run-start hook aborts the run") {
    val p = baseProject.copy(onRunStart = Seq("SELECT * FROM nonexistent_xyz"))
    val e = new Engine(spark, p, Target(root()))
    intercept[Exception] { e.build() }
  }

  test("comma-separated partition_by compiles to a multi-column layout") {
    val r = root()
    val p = Project(name = "pmc",
      sources = Seq(SourceDef("tpch", "orders", s"$sf/orders.parquet")),
      models = Seq(ModelDef("mc",
        """{{ config(materialized='incremental', unique_key='o_orderkey', partition_by='k, j') }}
          |SELECT o_orderkey, CAST(o_orderkey % 3 AS INT) AS k,
          |       CAST(o_orderkey % 2 AS INT) AS j
          |FROM {{ source('tpch', 'orders') }}""".stripMargin)))
    val e = new Engine(spark, p, Target(r, threads = 1))
    assert(e.build()._1.forall(_.status == "success"))
    val rel = e.relationFor("mc")
    assert(e.warehouse.listPartitions(rel).forall(_.startsWith("k=")))
    assert(e.warehouse.listPartitionPaths(rel, 2).forall(
      _.matches("k=\\d+/j=\\d+")))
    // a second run exercises the partition-scoped merge on the nested
    // layout end to end through the engine
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.readModel("mc").count() == e.readModel("mc")
      .select("o_orderkey").distinct().count())
  }

  test("_dbt_max_partition compiles to a literal that partition-prunes the scan") {
    val r = root()
    val p = Project(name = "pmax",
      sources = Seq(SourceDef("tpch", "orders", s"$sf/orders.parquet")),
      models = Seq(
        ModelDef("base_part",
          """{{ config(materialized='table', partition_by='k') }}
            |SELECT o_orderkey, CAST(o_orderkey % 10 AS INT) AS k
            |FROM {{ source('tpch', 'orders') }}""".stripMargin),
        ModelDef("inc_part",
          """{{ config(materialized='incremental', incremental_strategy='insert_overwrite', partition_by='k') }}
            |SELECT o_orderkey, k FROM {{ ref('base_part') }}
            |{% if is_incremental() %} WHERE k >= _dbt_max_partition {% endif %}""".stripMargin)))
    val e1 = new Engine(spark, p, Target(r, threads = 1))
    assert(e1.build()._1.forall(_.status == "success"))
    assert(e1.warehouse.listPartitions(e1.relationFor("base_part")).size == 10)

    val e2 = new Engine(spark, p, Target(r, threads = 1))
    val m = p.models.find(_.name == "inc_part").get
    val compiled = e2.compileSql(m, Set("base_part", "inc_part"), None,
      fullRefresh = false)
    assert(compiled.contains(">= 9"), s"literal not substituted: $compiled")
    // plan-level proof: the constant predicate lands in the scan's
    // PartitionFilters, so only 1 of base_part's 10 partitions is read
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // executed the way the engine executes it: warehouse paths resolve
      // to their committed version through resolveSql
      val plan = spark.sql(e2.warehouse.resolveSql(compiled))
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        """PartitionFilters: \[[^\]]*>= 9""".r.findFirstIn(plan).isDefined,
        s"no partition filter in plan:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // behavioral proof: run 2 only replaces partitions >= 9, final state intact
    assert(e2.build()._1.forall(_.status == "success"))
    assert(e2.readModel("inc_part").count() ==
      e2.readModel("base_part").count())
  }

  test("failing error-severity test fails the node and skips children") {
    val p = baseProject.copy(tests = Seq(
      TestDef("always_fails", "nations",
        df => df.limit(3)))) // nonempty result = failure
    val e = new Engine(spark, p, Target(root()))
    val (nodes, tests) = e.build()
    assert(nodes.find(_.name == "nations").get.status == "error")
    assert(nodes.find(_.name == "by_region").get.status == "skipped")
    assert(tests.head.status == "error")
  }

  test("warn-severity test failure does not block downstream") {
    val p = baseProject.copy(tests = Seq(
      TestDef("warn_only", "nations", df => df.limit(3), severity = "warn")))
    val e = new Engine(spark, p, Target(root()))
    val (nodes, tests) = e.build()
    assert(nodes.map(_.status).forall(_ == "success"))
    assert(tests.head.status == "warn")
  }

  test("view models resolve through the session catalog") {
    val p = baseProject.copy(models = baseProject.models.map {
      case m if m.name == "nations" =>
        m.copy(rawSql = "{{ config(materialized='view') }} " + m.rawSql)
      case m => m
    })
    val e = new Engine(spark, p, Target(root()))
    val (nodes, _) = e.build()
    assert(nodes.map(_.status).forall(_ == "success"))
    assert(e.readModel("by_region").count() == 5)
    // view was never written to the warehouse
    assert(!e.warehouse.exists(e.relationFor("nations")))
  }

  test("state:modified+ selects changed node and downstream closure") {
    val e1 = new Engine(spark, baseProject, Target(root()))
    val m1 = Files.createTempFile("manifest1", ".json").toString
    e1.writeManifest(m1)

    val changed = baseProject.copy(models = baseProject.models.map {
      case m if m.name == "nations" =>
        m.copy(rawSql = m.rawSql + " WHERE n_nationkey >= 0")
      case m => m
    })
    val e2 = new Engine(spark, changed, Target(root()))
    val m2 = Files.createTempFile("manifest2", ".json").toString
    e2.writeManifest(m2)

    assert(StateSelector.modified(m2, m1) == Set("nations"))
    assert(StateSelector.modifiedPlus(m2, m1) == Set("nations", "by_region"))
    // unchanged project → empty selection
    assert(StateSelector.modifiedPlus(m1, m1).isEmpty)

    // a config-only change (the SQL is untouched) selects the node, as
    // dbt's state:modified.configs does
    val reconfigured = baseProject.copy(models = baseProject.models.map {
      case m if m.name == "nations" =>
        m.copy(config = m.config.copy(uniqueKey = Seq("n_nationkey")))
      case m => m
    })
    val m3 = Files.createTempFile("manifest3", ".json").toString
    new Engine(spark, reconfigured, Target(root())).writeManifest(m3)
    assert(StateSelector.modified(m3, m1) == Set("nations"))
    assert(StateSelector.modifiedPlus(m3, m1) == Set("nations", "by_region"))

    // an edited seed CSV selects the seed
    val csv = Files.createTempFile("graft_state_seed", ".csv")
    Files.writeString(csv, "k,v\n1,a\n")
    val seeded = baseProject.copy(seeds = Seq(SeedDef("s1", csv.toString)))
    val m4 = Files.createTempFile("manifest4", ".json").toString
    new Engine(spark, seeded, Target(root())).writeManifest(m4)
    Files.writeString(csv, "k,v\n1,a\n2,b\n")
    val m5 = Files.createTempFile("manifest5", ".json").toString
    new Engine(spark, seeded, Target(root())).writeManifest(m5)
    assert(StateSelector.modified(m5, m4) == Set("s1"))

    // a --state file that is not a manifest (a v6 run_results, `{}`) is
    // refused, never read as "no previous state", which selects all
    val runResults = Files.createTempFile("run_results", ".json").toString
    e1.writeDbtRunResults(runResults, Nil, Nil)
    val empty = Files.createTempFile("empty_state", ".json")
    Files.writeString(empty, "{}")
    Seq(runResults, empty.toString).foreach { bad =>
      val err = intercept[IllegalArgumentException](
        StateSelector.modifiedPlus(m2, bad))
      assert(err.getMessage.contains(bad))
    }
  }

  test("defer resolves unselected upstream refs to the prod warehouse") {
    // the prod TABLE a selected CI model reads lives in prod's manifest
    // layout (data under _graft/), which a bare path read cannot see: the
    // deferred ref must resolve through a warehouse on the prod root
    val p = baseProject.copy(models = baseProject.models ++ Seq(ModelDef(
      "guarded",
      """{% if load_relation(ref('nations')) is not none %}
        |SELECT count(*) AS n FROM {{ ref('nations') }}
        |{% else %}
        |SELECT -1 AS n
        |{% endif %}""".stripMargin),
      ModelDef("region_keys",
        "SELECT DISTINCT n_regionkey FROM {{ ref('nations') }}",
        ModelConfig(materialized = "view"))))
    val prodRoot = root()
    val prod = new Engine(spark, p, Target(prodRoot))
    assert(prod.build()._1.forall(_.status == "success"))
    assert(prod.warehouse.manifestEntries(prod.relationFor("nations")).nonEmpty)

    val ciRoot = root()
    val ci = new Engine(spark, p, Target(ciRoot))
    // slim CI: only by_region and guarded selected; nations is NOT built
    // in CI and must be read from prod via defer — by the ref itself and
    // by the load_relation existence guard alike
    val (nodes, _) = ci.build(
      select = Some(Set("by_region", "guarded", "region_keys")),
      deferRoot = Some(prodRoot))
    assert(nodes.map(_.status).forall(_ == "success"),
      nodes.map(n => s"${n.name}:${n.status}").mkString(", "))
    assert(ci.readModel("by_region").count() == 5)
    assert(ci.readModel("guarded").collect().head.getLong(0) == 25L)
    assert(!ci.warehouse.exists(ci.relationFor("nations")))
    // the CI view's durable definition names the prod path, so another
    // session (a later command, an external reader) resolves it too
    val later = new Warehouse(spark.newSession(), ciRoot)
    assert(later.readViewDef(ci.relationFor("region_keys")).get
      .contains(ci.relationFor("nations").pathUnder(prodRoot)))
    assert(later.readView(ci.relationFor("region_keys")).get.count() == 5)
  }

  test("per-PR schema namespacing via env-templated schema") {
    val t = Target(root(), schema = "ci_pr_{{ env_var('PR_NUMBER') }}",
      env = Map("PR_NUMBER" -> "42"))
    val e = new Engine(spark, baseProject, t)
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.relationFor("nations").schema == "ci_pr_42")
    assert(e.warehouse.exists(Relation("analytics", "ci_pr_42", "nations")))
  }

  test("cycle detection raises at schedule time") {
    intercept[IllegalStateException] {
      Dag.topoSort(Seq("a", "b"), Map("a" -> Seq("b"), "b" -> Seq("a")))
    }
  }

  test("seeds participate in the DAG as parents") {
    val csv = Files.createTempFile("cities", ".csv")
    Files.writeString(csv, "city_id,city\n1,oslo\n2,lima\n")
    val p = Project(name = "p2",
      seeds = Seq(SeedDef("cities", csv.toString, Map("city_id" -> "bigint"))),
      models = Seq(ModelDef("city_count",
        "SELECT count(*) AS n FROM {{ ref('cities') }}")))
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.readModel("city_count").collect().head.getLong(0) == 2)
  }

  test("pre/post hooks run around the materialization with {{ this }} resolved") {
    val p = baseProject.copy(models = Seq(
      baseProject.models.head.copy(config = ModelConfig(
        preHooks = Seq("SELECT 1"), // statement-style no-op hook
        postHooks = Seq("SELECT count(*) FROM {{ this }}")))))
    val e = new Engine(spark, p, Target(root()))
    val (nodes, _) = e.build()
    assert(nodes.map(_.status).forall(_ == "success"))
  }

  test("hooks parsed from the inline config() block execute — and a failing hook fails the node") {
    // comma-bearing quoted hook + list-valued post_hook, straight from
    // the model file's own {{ config() }} (the dbt spelling)
    val ok = baseProject.copy(models = Seq(ModelDef("nations",
      "{{ config(pre_hook='SELECT 1, 2', " +
        "post_hook=['SELECT 1', 'SELECT count(*) FROM {{ this }}']) }}\n" +
        "SELECT n_nationkey, n_name FROM {{ source('tpch', 'nation') }}")))
    val e1 = new Engine(spark, ok, Target(root()))
    assert(e1.build()._1.map(_.status).forall(_ == "success"))
    // a post_hook against a missing relation PROVES hooks execute: the
    // node fails even though the model SQL itself is fine
    val bad = baseProject.copy(models = Seq(ModelDef("nations",
      "{{ config(post_hook='SELECT * FROM nonexistent_audit_xyz') }}\n" +
        "SELECT n_nationkey FROM {{ source('tpch', 'nation') }}")))
    val e2 = new Engine(spark, bad, Target(root()))
    val (nodes, _) = e2.build()
    assert(nodes.exists(n => n.name == "nations" && n.status == "error"),
      nodes.map(n => s"${n.name}:${n.status}").mkString(", "))
  }

  test("load_relation(this) guard: else-arm on first build, exists-arm on rebuild, none in parse phase") {
    val p = baseProject.copy(models = Seq(ModelDef("guard",
      """{% if load_relation(this) is not none %}
        |SELECT 'rebuild' AS phase, n_nationkey FROM {{ source('tpch', 'nation') }}
        |{% else %}
        |SELECT 'first' AS phase, n_nationkey FROM {{ source('tpch', 'nation') }}
        |{% endif %}""".stripMargin)))
    val r = root()
    val e = new Engine(spark, p, Target(r))
    // parse-phase artifact: load_relation is None regardless of state
    assert(e.compiledModels("guard").contains("'first'"))
    assert(e.build()._1.map(_.status).forall(_ == "success"))
    assert(e.readModel("guard").select("phase").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("first"))
    // relation now exists → the guard flips
    val e2 = new Engine(spark, p, Target(r))
    assert(e2.build()._1.map(_.status).forall(_ == "success"))
    assert(e2.readModel("guard").select("phase").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("rebuild"))
    // but the compile ARTIFACT stays parse-phase (dbt renders target/
    // compiled with execute=false even when the relation exists)
    assert(e2.compiledModels("guard").contains("'first'"))
  }

  test("store_failures persists failing rows as a warehouse relation") {
    val p = baseProject.copy(tests = Seq(
      TestDef("stored_fail", "nations", df => df.limit(2),
        severity = "warn", storeFailures = true)))
    val e = new Engine(spark, p, Target(root()))
    e.build()
    val stored = e.warehouse.read(e.relationFor("stored_fail__failures"))
    assert(stored.count() == 2)
  }

  test("store_failures_as: view re-evaluates, ephemeral stores nothing") {
    val r = root()
    // a singular (SQL-defined) test whose failures materialize as a
    // durable VIEW: the audit relation tracks LIVE data, not a snapshot
    val p = baseProject.copy(tests = Seq(
      TestDef("fails_view", "nations", df => df, severity = "warn",
        sql = Some("SELECT n_nationkey FROM {{ ref('nations') }} " +
          "WHERE n_nationkey >= 23"),
        storeFailuresAs = Some("view")),
      TestDef("fails_nothing", "nations", df => df.limit(2),
        severity = "warn", storeFailures = true,
        storeFailuresAs = Some("ephemeral"))))
    val e = new Engine(spark, p, Target(r))
    e.build()
    val viewRel = e.relationFor("fails_view__failures")
    // listed as a VIEW (graft ls's view listing), not a table relation
    assert(e.warehouse.listViews(viewRel.database, viewRel.schema)
      .map(_.identifier).contains("fails_view__failures"))
    assert(e.warehouse.readView(viewRel).get.count() == 2) // 23, 24
    assert(!e.warehouse.exists(viewRel))
    // ephemeral: explicitly no stored relation despite store_failures
    assert(!e.warehouse.exists(e.relationFor("fails_nothing__failures")))
    // view kind on a function-only builtin test is a loud error
    val bad = baseProject.copy(tests = Seq(
      TestDef("bad_kind", "nations", df => df.limit(1),
        storeFailuresAs = Some("view"))))
    val (nodes, _) = new Engine(spark, bad, Target(root())).build()
    assert(nodes.exists(_.status != "success"))
  }

  test("--sample windows event_time relations and pushes the predicate") {
    val p = Project(name = "psample",
      sources = Seq(
        SourceDef("tpch", "orders", s"$sf/orders.parquet",
          eventTime = Some("o_orderdate")),
        SourceDef("tpch", "nation", s"$sf/nation.parquet")),
      models = Seq(
        ModelDef("win_orders",
          "SELECT o_orderkey, o_orderdate FROM {{ source('tpch','orders') }}",
          graft.core.ModelConfig(eventTime = "o_orderdate")),
        ModelDef("all_nations",
          "SELECT n_nationkey FROM {{ source('tpch','nation') }}"),
        ModelDef("downstream",
          "SELECT count(*) AS n FROM {{ ref('win_orders') }}")))
    val t = Target(root(), sample = Some("1995-01-01..1996-01-01"))
    val e = new Engine(spark, p, t)
    // the compiled source scan carries the CONSTANT window predicate
    val compiled = e.compileSql(p.models.head, Set.empty, None,
      fullRefresh = false)
    assert(compiled.contains("o_orderdate` >= TIMESTAMP '1995-01-01"),
      compiled)
    // a ref() of an event_time model windows too (sampling composes
    // through the DAG, dbt's contract)
    val dsCompiled = e.compileSql(p.models(2), Set.empty, None,
      fullRefresh = false)
    assert(dsCompiled.contains("o_orderdate` >= TIMESTAMP"), dsCompiled)
    assert(e.build()._1.forall(_.status == "success"))
    val full = spark.read.parquet(s"$sf/orders.parquet")
      .filter("o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'")
      .count()
    assert(e.readModel("win_orders").count() == full)
    // the predicate reaches the parquet scan (PushedFilters)
    val plan = spark.sql(e.warehouse.resolveSql(compiled))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate)") ||
      plan.contains("GreaterThanOrEqual(o_orderdate"), plan.take(2000))
    // event_time-less relations pass through whole
    assert(e.readModel("all_nations").count() == 25)
    // relative window spelling parses (filters everything out on 1990s
    // data relative to today — that IS the expected semantics)
    val e2 = new Engine(spark, p, Target(root(), sample = Some("3 days")))
    assert(e2.build()._1.forall(_.status == "success"))
    assert(e2.readModel("win_orders").count() == 0)
    // the relative window is [run_start - n, run_start): BOTH bounds in
    // the compiled predicate — without the upper bound, future-dated rows
    // would leak into the sample
    val relCompiled = e2.compileSql(p.models.head, Set.empty, None,
      fullRefresh = false)
    assert(relCompiled.contains("- INTERVAL 3 DAY"), relCompiled)
    assert(relCompiled.contains("< TIMESTAMP '"), relCompiled)
    // malformed spec fails loudly
    val e3 = new Engine(spark, p, Target(root(), sample = Some("whenever")))
    assert(e3.build()._1.exists(_.status != "success"))
  }

  test("require_partition_filter: unpredicated read refused, pruned read passes") {
    def proj(downstreamSql: String) = Project(name = "pguard",
      sources = Seq(SourceDef("tpch", "orders", s"$sf/orders.parquet")),
      models = Seq(
        ModelDef("orders_p",
          """{{ config(materialized='table', partition_by='o_orderstatus',
            |          require_partition_filter=true) }}
            |SELECT o_orderkey, o_totalprice, o_orderstatus
            |FROM {{ source('tpch','orders') }}""".stripMargin),
        ModelDef("downstream", downstreamSql)))
    // a WHERE on the partition column pushes to the scan → accepted
    val okSql =
      """SELECT count(*) AS n FROM {{ ref('orders_p') }}
        |WHERE o_orderstatus = 'F'""".stripMargin
    val e1 = new Engine(spark, proj(okSql), Target(root()))
    assert(e1.build()._1.forall(_.status == "success"))
    // no predicate → the downstream model fails loudly, naming the column
    val badSql = "SELECT count(*) AS n FROM {{ ref('orders_p') }}"
    val e2 = new Engine(spark, proj(badSql), Target(root()))
    val (nodes2, _) = e2.build()
    val down = nodes2.find(_.name == "downstream").get
    assert(down.status != "success", down)
    assert(down.error.exists(m => m.contains("require_partition_filter") &&
      m.contains("o_orderstatus")), down.error)
    // a predicate on a NON-partition column does not prune → still refused
    val nonP = "SELECT count(*) AS n FROM {{ ref('orders_p') }} WHERE o_totalprice > 0"
    val e3 = new Engine(spark, proj(nonP), Target(root()))
    assert(e3.build()._1.find(_.name == "downstream").get.status != "success")
    // --full-refresh is a deliberate full reprocess → exempt
    val (nodes4, _) = e2.build(fullRefresh = true)
    assert(nodes4.forall(_.status == "success"), nodes4)
  }

  test("set_sql_header: temp-function header runs before the body; durable DDL refused") {
    val p = baseProject.copy(models = Seq(ModelDef("hdr_model",
      """{% call set_sql_header(config) %}
        |CREATE OR REPLACE TEMPORARY FUNCTION region_tag(k INT)
        |RETURNS STRING RETURN concat('R', k);
        |SET spark.sql.legacy.timeParserPolicy=CORRECTED
        |{% endcall %}
        |SELECT n_nationkey, region_tag(n_regionkey) AS tag
        |FROM {{ source('tpch','nation') }}""".stripMargin)))
    val e = new Engine(spark, p, Target(root()))
    val (nodes, _) = e.build()
    assert(nodes.forall(_.status == "success"), nodes)
    val out = e.readModel("hdr_model")
    assert(out.count() == 25)
    assert(out.filter(col("tag").startsWith("R")).count() == 25)
    // durable DDL in a header is refused loudly
    val bad = baseProject.copy(models = Seq(ModelDef("bad_hdr",
      """{% call set_sql_header(config) %}
        |CREATE TABLE oops AS SELECT 1
        |{% endcall %}
        |SELECT 1 AS x""".stripMargin)))
    val (bn, _) = new Engine(spark, bad, Target(root())).build()
    val n = bn.find(_.name == "bad_hdr").get
    assert(n.status != "success")
    assert(n.error.exists(_.contains("session-scoped")), n.error)
    // config-kv spelling works too
    val kv = baseProject.copy(models = Seq(ModelDef("kv_hdr",
      """{{ config(sql_header='CREATE OR REPLACE TEMPORARY FUNCTION twice(x INT) RETURNS INT RETURN x * 2') }}
        |SELECT twice(n_nationkey) AS k2 FROM {{ source('tpch','nation') }}""".stripMargin)))
    val ekv = new Engine(spark, kv, Target(root()))
    assert(ekv.build()._1.forall(_.status == "success"))
    assert(ekv.readModel("kv_hdr").agg(max(col("k2"))).head().getInt(0) == 48)
  }

  test("sql_header state is scoped to the model's run and restored after") {
    // a SET the header flips must come back to its prior value, and the
    // header-declared temp function must NOT survive the build — header
    // state rides the model's own run, never the session (the shared-
    // session leak would poison every later model in the pool)
    val key = "spark.sql.legacy.timeParserPolicy"
    val prior = spark.conf.get(key)
    val p = baseProject.copy(models = Seq(ModelDef("scoped_hdr",
      s"""{% call set_sql_header(config) %}
         |CREATE OR REPLACE TEMPORARY FUNCTION hdr_fn(k INT)
         |RETURNS STRING RETURN concat('v', k, '; ok');
         |SET $key=LEGACY
         |{% endcall %}
         |SELECT n_nationkey, hdr_fn(n_regionkey) AS tag
         |FROM {{ source('tpch','nation') }}""".stripMargin)))
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    // the ';' inside the function's string literal did not split the
    // statement: the tag carries it through
    assert(e.readModel("scoped_hdr")
      .filter(col("tag").endsWith("; ok")).count() == 25)
    assert(spark.conf.get(key) == prior, "SET must restore after the model")
    intercept[Exception] { spark.sql("SELECT hdr_fn(1)").collect() }
    // a unit test on the header-using model works: the header runs for
    // the unit compile too (and is cleaned up after)
    val ut = UnitTestDef("hdr_unit", "scoped_hdr",
      given = Map("source:tpch.nation" -> Seq(
        Map("n_nationkey" -> "1", "n_regionkey" -> "2"))),
      expect = Seq(Map("n_nationkey" -> "1", "tag" -> "v2; ok")))
    val r = new Engine(spark, p.copy(unitTests = Seq(ut)), Target(root()))
      .runUnitTest(ut)
    assert(r.status == "pass", r)
    // partial-failure unwind: a header whose SECOND statement is refused
    // must still restore what the FIRST already set
    val bad = baseProject.copy(models = Seq(ModelDef("half_hdr",
      s"""{% call set_sql_header(config) %}
         |SET $key=LEGACY;
         |CREATE TABLE oops AS SELECT 1
         |{% endcall %}
         |SELECT 1 AS x""".stripMargin)))
    val (bn, _) = new Engine(spark, bad, Target(root())).build()
    assert(bn.find(_.name == "half_hdr").get.status != "success")
    assert(spark.conf.get(key) == prior,
      "a failed header must unwind the statements that DID run")
  }

  test("require_partition_filter on a view or unpartitioned model refuses loudly") {
    // a guarded view inlines as a CTE (no scan of its own to guard) and
    // an unpartitioned table can never satisfy the predicate — both
    // misconfigurations must fail, not silently disable the guard
    val badView = baseProject.copy(models = Seq(ModelDef("v_guard",
      """{{ config(materialized='view', require_partition_filter=true) }}
        |SELECT n_nationkey FROM {{ source('tpch','nation') }}""".stripMargin)))
    val (nodes, _) = new Engine(spark, badView, Target(root())).build()
    assert(nodes.exists(n => n.status != "success" &&
      n.error.exists(_.contains("require_partition_filter"))), nodes)
    val noPart = baseProject.copy(models = Seq(ModelDef("t_guard",
      """{{ config(materialized='table', require_partition_filter=true) }}
        |SELECT n_nationkey FROM {{ source('tpch','nation') }}""".stripMargin)))
    val (nodes2, _) = new Engine(spark, noPart, Target(root())).build()
    assert(nodes2.exists(n => n.status != "success" &&
      n.error.exists(_.contains("partition_by"))), nodes2)
  }

  test("dbt-schema artifacts: manifest v12 / catalog v1 shapes parse with required keys") {
    val p = baseProject.copy(
      macros = Compiler.parseMacros(
        "{% macro half(x) %}({{ x }} / 2){% endmacro %}")
        .map(m => m.name -> m).toMap,
      exposures = Seq(ExposureDef("dash", Seq("by_region"), owner = "ops")))
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    val dir = Files.createTempDirectory("graft_artifacts")
    e.writeManifest(s"$dir/manifest.json")
    e.writeDbtCatalog(s"$dir/catalog.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val man = om.readTree(new java.io.File(s"$dir/manifest.json"))
    assert(man.path("metadata").path("dbt_schema_version").asText
      .contains("manifest/v12"))
    assert(man.path("metadata").path("project_name").asText == "p")
    val node = man.path("nodes").path("model.p.by_region")
    assert(node.path("resource_type").asText == "model")
    assert(node.path("checksum").path("name").asText == "sha256")
    assert(node.path("config").path("materialized").asText == "table")
    assert(node.path("depends_on").path("nodes").toString
      .contains("model.p.nations"))
    assert(node.path("raw_code").asText.contains("ref('nations')"))
    val src = man.path("sources").path("source.p.tpch.nation")
    assert(src.path("resource_type").asText == "source")
    assert(src.path("source_name").asText == "tpch")
    val mac = man.path("macros").path("macro.p.half")
    assert(mac.path("resource_type").asText == "macro")
    assert(mac.path("macro_sql").asText.contains("/ 2"))
    assert(man.path("exposures").path("exposure.p.dash")
      .path("depends_on").path("nodes").toString.contains("model.p.by_region"))
    // lineage maps: nations -> by_region both directions, source in parents
    assert(man.path("parent_map").path("model.p.by_region").toString
      .contains("model.p.nations"))
    assert(man.path("parent_map").path("model.p.nations").toString
      .contains("source.p.tpch.nation"))
    assert(man.path("child_map").path("model.p.nations").toString
      .contains("model.p.by_region"))
    // run-results v6: node + test statuses in dbt's vocabulary
    val (nodes, tests) = e.build()
    e.writeDbtRunResults(s"$dir/run_results.json", nodes, tests, 1.5)
    val rr = om.readTree(new java.io.File(s"$dir/run_results.json"))
    assert(rr.path("metadata").path("dbt_schema_version").asText
      .contains("run-results/v6"))
    val results = rr.path("results")
    assert(results.isArray && results.size() == nodes.size + tests.size)
    val first = results.get(0)
    assert(first.path("unique_id").asText.startsWith("model.p.") ||
      first.path("unique_id").asText.startsWith("seed.p."))
    assert(first.path("status").asText == "success")
    assert(first.has("execution_time") && first.has("failures"))
    // sources v3: freshness artifact over a loaded_at-declared source
    val pf = p.copy(sources = p.sources.map(s =>
      if (s.tableName == "nation") s.copy(loadedAtField = Some("n_loaded_at"))
      else s))
    // nation has no timestamp column in the fixture — synthesize one
    val srcDir = Files.createTempDirectory("graft_fresh_src")
    spark.read.parquet(s"$sf/nation.parquet")
      .withColumn("n_loaded_at",
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .write.mode("overwrite").parquet(srcDir.toString)
    val pf2 = pf.copy(sources = pf.sources.map(s =>
      if (s.tableName == "nation") s.copy(path = srcDir.toString,
        warnAfterH = Some(24), errorAfterH = Some(100000000)) else s))
    new Engine(spark, pf2, Target(root()))
      .writeDbtSources(s"$dir/sources.json")
    val srcArt = om.readTree(new java.io.File(s"$dir/sources.json"))
    assert(srcArt.path("metadata").path("dbt_schema_version").asText
      .contains("sources/v3"))
    val fr = srcArt.path("results").get(0)
    assert(fr.path("unique_id").asText == "source.p.tpch.nation")
    assert(fr.path("status").asText == "warn") // 2024 data, warn_after 24h
    assert(fr.path("max_loaded_at").asText.startsWith("2024-01-01T00:00:00"))
    assert(fr.path("criteria").path("warn_after").path("count").asInt == 24)
    // an empty source (freshness filter removes every row) has no
    // max(loaded_at): the artifact records status "runtime error" with a
    // null max_loaded_at, mirroring dbt — where plain source-freshness
    // passes, --out must not crash on the null aggregate
    val pf3 = pf2.copy(sources = pf2.sources.map(s =>
      if (s.tableName == "nation") s.copy(filter = Some("n_nationkey < 0"))
      else s))
    new Engine(spark, pf3, Target(root()))
      .writeDbtSources(s"$dir/sources_empty.json")
    val er = om.readTree(new java.io.File(s"$dir/sources_empty.json"))
      .path("results").get(0)
    assert(er.path("status").asText == "runtime error", er.toString)
    assert(er.path("max_loaded_at").isNull, er.toString)
    assert(er.path("max_loaded_at_time_ago_in_s").isNull, er.toString)
    val cat = om.readTree(new java.io.File(s"$dir/catalog.json"))
    assert(cat.path("metadata").path("dbt_schema_version").asText
      .contains("catalog/v1"))
    val cnode = cat.path("nodes").path("model.p.by_region")
    assert(cnode.path("metadata").path("type").asText == "table")
    assert(cnode.path("metadata").path("schema").asText.nonEmpty)
    assert(cnode.path("columns").path("r_name").path("index").asInt == 1)
    assert(cnode.path("stats").path("row_count").path("value").asLong == 5L)
    assert(cnode.path("stats").path("has_stats").path("include").asBoolean == false)
  }

  test("models read their own config back via config.get") {
    val p = baseProject.copy(models = Seq(ModelDef("self_aware",
      """{{ config(materialized='table', flavor='vanilla') }}
        |SELECT '{{ config.get('flavor', 'plain') }}' AS flavor,
        |       '{{ config.get('missing_key', 'dflt') }}' AS fallback,
        |       n_nationkey
        |FROM {{ source('tpch','nation') }} WHERE n_nationkey = 0""".stripMargin)))
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    val row = e.readModel("self_aware").collect().head
    assert(row.getString(0) == "vanilla")
    assert(row.getString(1) == "dflt")
  }

  test("vacuum enforces bigquery TTLs; metadata survives; properties exported") {
    val dir = root()
    val tgt = Target(dir)
    val p = baseProject.copy(models = Seq(
      ModelDef("nations_part",
        """{{ config(materialized='table', partition_by='n_regionkey',
          |          partition_expiration_days=7,
          |          grants='select:analyst,ml_team|insert:loader') }}
          |SELECT n_nationkey, n_name, n_regionkey
          |FROM {{ source('tpch','nation') }}""".stripMargin),
      ModelDef("short_lived",
        """{{ config(materialized='table', hours_to_expiration=24) }}
          |SELECT 1 AS one""".stripMargin)))
    val e = new Engine(spark, p, tgt)
    assert(e.build()._1.forall(_.status == "success"))
    val rel = e.relationFor("nations_part")
    assert(e.warehouse.listPartitions(rel).size == 5)

    // declared properties surface in the manifest's node config…
    e.writeManifest(s"$dir/manifest.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val man = om.readTree(new java.io.File(s"$dir/manifest.json"))
    val np = man.path("nodes").path("model.p.nations_part").path("config")
    assert(np.path("partition_expiration_days").asDouble == 7.0)
    assert(np.path("grants").path("select").toString.contains("analyst"))
    val sl = man.path("nodes").path("model.p.short_lived").path("config")
    assert(sl.path("hours_to_expiration").asDouble == 24.0)
    // …and in the external DDL export (TBLPROPERTIES + GRANT ledger)
    val (stmts, _) = e.catalogDdl()
    val npDdl = stmts.find(_.contains("CREATE OR REPLACE VIEW `nations_part`")).get
    assert(npDdl.contains("TBLPROPERTIES ('partition_expiration_days'='7')"), npDdl)
    assert(stmts.contains("GRANT SELECT ON `nations_part` TO `analyst`"))
    assert(stmts.contains("GRANT SELECT ON `nations_part` TO `ml_team`"))
    assert(stmts.contains("GRANT INSERT ON `nations_part` TO `loader`"))
    assert(stmts.find(_.contains("VIEW `short_lived`")).get
      .contains("'hours_to_expiration'='24'"))
    // grants ride the dbt manifest as node config metadata
    assert(np.path("grants").path("select").toString.contains("ml_team"))

    // freshen ONE partition after a real mtime gap: a later stream append
    // to n_regionkey=0 (also plants the exactly-once watermark metadata
    // that must survive the vacuum commit)
    val t0 = System.currentTimeMillis()
    Thread.sleep(1200)
    val inc = spark.sql(
      "SELECT CAST(990 AS INT) AS n_nationkey, 'ZUZU' AS n_name, " +
        "CAST(0 AS INT) AS n_regionkey")
      .selectExpr(e.warehouse.read(rel).columns.map(c => c): _*)
    assert(e.warehouse.appendStreamBatch(inc, rel, "src_a", 7L,
      Seq("n_regionkey")))
    assert(e.warehouse.streamWatermark(rel, "src_a").contains(7L))

    // nothing expires when evaluated now
    assert(e.vacuum().isEmpty)
    // evaluated 7 days after t0: every partition whose newest version
    // predates t0 expires; n_regionkey=0 (fresh append) survives, and
    // short_lived (built > 24h before) drops entirely
    val asOf = t0 + 7L * 86400000L
    val report = e.vacuum(asOf)
    assert(report.exists(_.startsWith("DROPPED  short_lived")), report.toString)
    assert(report.exists(_.startsWith("EXPIRED  nations_part")), report.toString)
    assert(!e.warehouse.exists(e.relationFor("short_lived")))
    // expired partitions invisible to reads; the fresh partition intact
    val left = e.warehouse.read(rel)
    assert(left.selectExpr("CAST(n_regionkey AS BIGINT)").distinct().collect()
      .map(_.getLong(0)).toSet == Set(0L))
    assert(left.count() == e.warehouse.read(rel)
      .filter(col("n_regionkey") === 0).count())
    assert(left.filter(col("n_name") === "ZUZU").count() == 1)
    // the watermark metadata rode through the expiration commit
    assert(e.warehouse.streamWatermark(rel, "src_a").contains(7L))
    // idempotent: a second vacuum at the same instant finds nothing new
    assert(e.vacuum(asOf).isEmpty)

    // the hours_to_expiration clock measures from the last REBUILD, not
    // from the newest manifest commit: a later append/expiry/meta commit
    // (simulated by aging the newest manifest's mtime toward asOf) must
    // NOT extend the table's life — BigQuery's expiration_timestamp is
    // reset by CREATE OR REPLACE only, never by DML
    val wm = e.warehouse
    val builtAt = wm.lastCommitMs(rel).get
    import scala.jdk.CollectionConverters._
    val mfdir = java.nio.file.Paths.get(wm.path(rel), "_graft")
    val newestMf = java.nio.file.Files.list(mfdir).iterator().asScala
      .filter(_.toString.endsWith(".manifest")).toSeq.maxBy(_.getFileName.toString)
    java.nio.file.Files.setLastModifiedTime(newestMf,
      java.nio.file.attribute.FileTime.fromMillis(asOf - 3600L * 1000))
    assert(wm.lastCommitMs(rel).contains(builtAt),
      "a non-rebuild commit's mtime must not move the TTL clock")
  }

  test("catalogInfo reports rows, bytes and partitions per relation") {
    val e = new Engine(spark, baseProject, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    val cat = e.warehouse.catalogInfo("analytics", "main")
    assert(cat.map(_._1.identifier).toSet == Set("nations", "by_region"))
    val nations = cat.find(_._1.identifier == "nations").get
    assert(nations._2 == 25 && nations._3 > 0 && nations._4.isEmpty)
  }

  test("source freshness classifies against thresholds") {
    val p = Project(name = "p3", sources = Seq(
      SourceDef("tpch", "orders", s"$sf/orders.parquet",
        loadedAtField = Some("o_orderdate"),
        warnAfterH = Some(24), errorAfterH = Some(72))))
    val e = new Engine(spark, p, Target(root()))
    val res = e.checkFreshness()
    assert(res == Seq(("tpch.orders", "error"))) // data ends 2001 → stale
  }

  test("freshness filter scopes which rows are judged (changes the verdict)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_fresh").toString
    // one live row (loaded now) and one ancient row
    Seq(("live", java.sql.Timestamp.from(java.time.Instant.now())),
        ("old", java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
      .toDF("category", "loaded_at")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def src(filter: Option[String]) = Project(name = "p4", sources = Seq(
      SourceDef("app", "events", s"$dir/events.parquet",
        loadedAtField = Some("loaded_at"),
        warnAfterH = Some(24), errorAfterH = Some(72), filter = filter)))
    val e1 = new Engine(spark, src(None), Target(root()))
    assert(e1.checkFreshness() == Seq(("app.events", "pass")))
    // scoped to the stale slice, the same source is judged late
    val e2 = new Engine(spark, src(Some("category = 'old'")), Target(root()))
    assert(e2.checkFreshness() == Seq(("app.events", "error")))
  }

  test("table->view switch drops the stale parquet table") {
    val p0 = Project(name = "p5", models = Seq(
      ModelDef("m", "SELECT n_nationkey FROM {{ source('tpch','nation') }}",
        ModelConfig(materialized = "table"))),
      sources = Seq(SourceDef("tpch", "nation", s"$sf/nation.parquet")))
    val t = Target(root())
    val e0 = new Engine(spark, p0, t)
    e0.build()
    assert(e0.warehouse.exists(e0.relationFor("m"))) // parquet table on disk
    // same identifier re-materialized as a view: the old table must go —
    // catalog/external readers must not see BOTH
    val p1 = p0.copy(models = Seq(
      ModelDef("m", "SELECT n_nationkey FROM {{ source('tpch','nation') }}",
        ModelConfig(materialized = "view"))))
    val e1 = new Engine(spark, p1, t)
    e1.build()
    assert(!e1.warehouse.exists(e1.relationFor("m")))
    assert(e1.warehouse.readViewDef(e1.relationFor("m")).isDefined)
    assert(e1.readModel("m").count() == 25)
  }

  test("warn_if/error_if thresholds drive the test status") {
    // nations has 25 rows; a 'unique' test on a constant column fails for
    // all of them -> failures = 1 group row... use not_null on a column
    // that's never null: 0 failures; and accepted_values to force failures
    val mk = (warnIf: Option[String], errorIf: Option[String]) =>
      baseProject.copy(tests = Seq(
        TestDef("av", "nations", df =>
          SchemaTests.acceptedValues(df, "n_regionkey", Seq("0", "1")),
          warnIf = warnIf, errorIf = errorIf)))
    // 3 region keys (2,3,4) are outside the accepted set -> failures = 3
    val e1 = new Engine(spark, mk(Some(">0"), Some(">10")), Target(root()))
    val (_, t1) = e1.build()
    assert(t1.map(_.status) == Seq("warn")) // 3 > 0 warn, not > 10 error
    val e2 = new Engine(spark, mk(Some(">0"), Some(">2")), Target(root()))
    val (n2, t2) = e2.build() // 3 > 2 -> error fails the node
    assert(t2.map(_.status) == Seq("error"))
    assert(n2.find(_.name == "nations").get.status == "error")
    val e3 = new Engine(spark, mk(Some(">5"), Some(">10")), Target(root()))
    val (_, t3) = e3.build()
    assert(t3.map(_.status) == Seq("pass")) // neither threshold hit
  }

  test("two interleaved builds on one warehouse do not corrupt it") {
    // two engines (separate processes in real life) building the same
    // project into the same root concurrently: the per-relation writer
    // lock serializes each materialization, and readers see old-or-new
    // but never an absent table
    val r = root()
    val tgt = Target(r)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        try {
          val e = new Engine(spark, baseProject, tgt)
          val (nodes, _) = e.build()
          assert(nodes.map(_.status).forall(_ == "success"),
            nodes.map(n => s"${n.name}:${n.status}").mkString(","))
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent builds must not fail: ${errs.toArray.toSeq}")
    val e = new Engine(spark, baseProject, tgt)
    assert(e.readModel("nations").count() == 25)
    assert(e.readModel("by_region").count() == 5)
    // no leftover tmp/backup relations or lock files
    val rel0 = e.relationFor("nations")
    val whRead = new Warehouse(spark, r)
    assert(whRead.listRelations(rel0.database, rel0.schema).map(_.identifier)
      .forall(n => !n.contains("__dbt_")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(whRead.path(rel0) + ".lock")))
  }

  test("materialized_view with avg: partials stored, declared shape served") {
    val s2 = spark
    val p = Project(
      name = "p",
      sources = Seq(SourceDef("tpch", "orders", s"$sf/orders.parquet")),
      models = Seq(
        ModelDef("orders_t",
          """SELECT o_orderkey, o_orderstatus,
            |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
            |FROM {{ source('tpch','orders') }}""".stripMargin),
        ModelDef("orders_avg_mv",
          """{{ config(materialized='materialized_view') }}
            |SELECT o_orderstatus, count(*) AS n, avg(cents) AS mean_cents
            |FROM {{ ref('orders_t') }} GROUP BY o_orderstatus""".stripMargin),
        // a downstream model reading the MV through ref() must see the
        // DECLARED columns, not the stored partials
        ModelDef("mv_reader",
          """SELECT o_orderstatus, round(mean_cents, 2) AS m2, n
            |FROM {{ ref('orders_avg_mv') }}""".stripMargin)))
    val e = new Engine(spark, p, Target(root()))
    val (nodes, _) = e.build()
    assert(nodes.map(_.status).forall(_ == "success"),
      nodes.map(n => s"${n.name}:${n.status}:${n.error}").mkString(","))
    // readModel of the MV returns the declared shape
    val mv = e.readModel("orders_avg_mv")
    assert(mv.columns.toSeq == Seq("o_orderstatus", "n", "mean_cents"))
    val expect = e.readModel("orders_t").groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), avg("cents").as("mean_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val got = mv.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expect)
    // the downstream model materialized from the declared shape
    val reader = e.readModel("mv_reader")
    assert(reader.columns.toSeq == Seq("o_orderstatus", "m2", "n"))
    val readerRows = reader.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(readerRows == expect.map(t =>
      (t._1, math.rint(t._3 * 100) / 100, t._2)))
    // serving: an avg query over the SOURCE scans the view's files
    val q = e.readModel("orders_t").groupBy("o_orderstatus")
      .agg(avg("cents").as("mean_cents"))
    q.count()
    val scanned = q.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.toSeq
          case _ => Nil
        }
    }.flatten
    val mvPath = e.warehouse.path(e.relationFor("orders_avg_mv"))
    assert(scanned.nonEmpty && scanned.forall(_.contains(mvPath)),
      s"avg over the source must serve from the view partials, got $scanned")
  }

  test("materialized_view over a view-backed model errors at build time") {
    val p = Project(
      name = "p",
      sources = Seq(SourceDef("tpch", "orders", s"$sf/orders.parquet")),
      models = Seq(
        ModelDef("orders_v",
          """{{ config(materialized='view') }}
            |SELECT o_orderkey, o_orderstatus
            |FROM {{ source('tpch','orders') }}""".stripMargin),
        ModelDef("orders_mv",
          """{{ config(materialized='materialized_view') }}
            |SELECT o_orderstatus, count(*) AS n
            |FROM {{ ref('orders_v') }} GROUP BY o_orderstatus""".stripMargin)))
    val e = new Engine(spark, p, Target(root()))
    val (nodes, _) = e.build()
    val mv = nodes.find(_.name == "orders_mv").get
    assert(mv.status == "error",
      s"view-backed MV source must fail loudly, got ${mv.status}")
    assert(mv.error.exists(_.contains("table/incremental")))
  }

  test("streaming readEvents starts on an empty directory (declared fallback schema)") {
    val dir = Files.createTempDirectory("graft_empty_stream").toString
    // no files yet: the probe must fall back, not throw at stream setup
    val df = graft.streaming.StreamingJobs.readEvents(spark, dir)
    assert(df.isStreaming)
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("materialized_view model maintains incrementally and serves queries") {
    val p = Project(
      name = "p",
      sources = Seq(SourceDef("tpch", "orders", s"$sf/orders.parquet")),
      models = Seq(
        ModelDef("orders_t",
          """SELECT o_orderkey, o_orderstatus,
            |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
            |FROM {{ source('tpch','orders') }}""".stripMargin),
        ModelDef("orders_mv",
          """{{ config(materialized='materialized_view') }}
            |SELECT o_orderstatus, count(*) AS n, sum(cents) AS total,
            |  max(o_orderkey) AS max_key
            |FROM {{ ref('orders_t') }} GROUP BY o_orderstatus""".stripMargin)))
    val e = new Engine(spark, p, Target(root()))
    val (nodes, _) = e.build()
    assert(nodes.map(_.status).forall(_ == "success"),
      nodes.map(n => s"${n.name}:${n.status}:${n.error}").mkString(","))
    val direct = e.readModel("orders_t").groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("cents").as("total"),
        max("o_orderkey").as("max_key"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val viewRows = e.readModel("orders_mv")
      .collect().map(r => (r.getAs[String]("o_orderstatus"),
        r.getAs[Long]("n"), r.getAs[Long]("total"),
        r.getAs[Long]("max_key"))).toSet
    assert(viewRows == direct)
    // the serving path: a matching aggregate over the SOURCE model scans
    // the view's files (transparently — the query never names the view)
    val q = e.readModel("orders_t").groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"))
    q.count()
    val scanned = q.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.toSeq
          case _ => Nil
        }
    }.flatten
    val mvPath = e.warehouse.path(e.relationFor("orders_mv"))
    assert(scanned.nonEmpty && scanned.forall(_.contains(mvPath)),
      s"query over orders_t must serve from the view, scanned $scanned")
    // append to the base table, re-run ONLY the view model: the fold is
    // incremental (append-only range) and the result stays exact
    val s = spark; import s.implicits._
    e.warehouse.append(
      Seq((9999999L, "Z", 123L)).toDF("o_orderkey", "o_orderstatus", "cents"),
      e.relationFor("orders_t"))
    val (nodes2, _) = e.build(select = Some(Set("orders_mv")))
    assert(nodes2.map(_.status).forall(_ == "success"))
    val after = e.readModel("orders_mv")
      .filter(col("o_orderstatus") === "Z")
      .collect().map(r => (r.getAs[Long]("n"), r.getAs[Long]("total"),
        r.getAs[Long]("max_key"))).toSeq
    assert(after == Seq((1L, 123L, 9999999L)))
    // a non-extractable definition fails loudly, not silently-as-table
    val bad = p.copy(models = p.models.map {
      case m if m.name == "orders_mv" => m.copy(rawSql =
        """{{ config(materialized='materialized_view') }}
          |SELECT o_orderstatus, count(*) AS n FROM {{ ref('orders_t') }}
          |WHERE cents > 0 GROUP BY o_orderstatus""".stripMargin)
      case m => m
    })
    val e2 = new Engine(spark, bad, Target(root()))
    val (nodes3, _) = e2.build()
    assert(nodes3.find(_.name == "orders_mv").exists(_.status == "error"),
      "a WHERE'd materialized_view must error, not half-apply")
  }

  test("metrics: governed aggregate; undeclared dim/grain/metric fail loudly") {
    val p = baseProject.copy(metrics = Seq(
      MetricDef("nation_count", "nations", "count", "1", "n_nationkey",
        dims = Seq("n_regionkey"))))
    val e = new Engine(spark, p, Target(root()))
    require(e.build()._1.forall(_.status == "success"))
    // n_nationkey isn't a real timestamp — cast semantics still group;
    // what we pin here is the GOVERNANCE surface, so use a real check:
    val byRegion = e.queryMetric("nation_count", grain = "year",
      dims = Seq("n_regionkey"))
    assert(byRegion.columns.toSeq ==
      Seq("metric_time", "n_regionkey", "nation_count"))
    assert(byRegion.agg(org.apache.spark.sql.functions.sum("nation_count"))
      .head().getLong(0) == 25L)
    intercept[IllegalArgumentException](
      e.queryMetric("nation_count", dims = Seq("n_name"))) // undeclared dim
    intercept[IllegalArgumentException](
      e.queryMetric("nation_count", grain = "fortnight"))
    intercept[IllegalArgumentException](e.queryMetric("revenue"))
  }

  test("--empty builds the full schema with zero rows; a real build overwrites it") {
    val r = root()
    val dry = new Engine(spark, baseProject, Target(r, empty = true))
    require(dry.build()._1.forall(_.status == "success"))
    val built = dry.readModel("by_region")
    assert(built.columns.toSeq == Seq("r_name", "n")) // schema materialized
    assert(built.count() == 0) // ...from zero source rows
    assert(dry.readModel("nations").count() == 0)
    // the same warehouse then takes a real build
    val real = new Engine(spark, baseProject, Target(r))
    require(real.build()._1.forall(_.status == "success"))
    assert(real.readModel("by_region").count() == 5)
  }

  test("docs block lands as the exported-DDL COMMENT via doc()") {
    val proj = Files.createTempDirectory("graft_docs_ddl")
    def put(name: String, text: String): Unit = {
      val p = proj.resolve(name)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text); ()
    }
    put("dbt_project.yml", "name: docs_ddl\n")
    put("models/sources.yml",
      s"""version: 2
         |sources:
         |  - name: tpch
         |    tables:
         |      - name: nation
         |        meta:
         |          external_location: $sf/nation.parquet
         |""".stripMargin)
    put("models/doc_nations.sql",
      "{{ config(persist_docs='true') }} " +
        "SELECT n_nationkey, n_name FROM {{ source('tpch','nation') }}")
    put("models/doc_nations.md",
      "{% docs nations_doc %}All 25 TPC-H nations{% enddocs %}")
    put("models/schema.yml", "version: 2\nmodels:\n  - name: doc_nations\n" +
      "    description: \"{{ doc('nations_doc') }}\"\n")
    val (p, _) = ProjectLoader.load(proj.toString)
    val e = new Engine(spark, p,
      Target(root(), threads = 1))
    assert(e.build()._1.forall(_.status == "success"))
    val (stmts, skipped) = e.catalogDdl()
    assert(skipped.isEmpty, skipped.toString)
    val ddl = stmts.find(_.contains("`doc_nations`")).get
    assert(ddl.contains("COMMENT 'All 25 TPC-H nations'"), ddl)
  }

  test("run_query inside is_incremental is lazy: skipped on full build, probes `this` on the incremental run") {
    val r = root()
    // the canonical dbt incremental idiom: probe the TARGET's own max
    // key — on the first (full) build `this` does not exist, so the
    // probe must be dead code; on the incremental run it must execute
    val p = Project(name = "plazy",
      sources = Seq(SourceDef("tpch", "orders", s"$sf/orders.parquet")),
      models = Seq(ModelDef("inc_probe",
        """{{ config(materialized='incremental') }}
          |SELECT o_orderkey, o_totalprice
          |FROM {{ source('tpch', 'orders') }}
          |{% if is_incremental() %}
          |{% set mx = run_query('SELECT max(o_orderkey) AS m FROM ' ~ this) %}
          |WHERE o_orderkey > {{ mx.columns[0].values() | join('') }}
          |{% endif %}""".stripMargin)))
    val e1 = new Engine(spark, p, Target(r, threads = 1))
    assert(e1.build()._1.forall(_.status == "success"),
      "full build must not execute the guarded probe")
    val full = e1.readModel("inc_probe").count()
    assert(full > 0)
    // incremental run: probe fires against the built target; the max-key
    // predicate appends zero new rows
    val e2 = new Engine(spark, p, Target(r, threads = 1))
    assert(e2.build()._1.forall(_.status == "success"))
    assert(e2.readModel("inc_probe").count() == full)
    // the compiled incremental SQL carries the probed literal
    val compiled = e2.compileSql(p.models.head, Set("inc_probe"), None,
      fullRefresh = false)
    assert(compiled.contains("WHERE o_orderkey >"), compiled)
  }

  test("--empty dry run of a run_query-bearing model probes the empty-built upstream") {
    // dbt 1.8 --empty: refs/sources are zero-row wrapped but
    // introspective queries still execute — against upstreams that were
    // themselves built empty, so the probe sees zero rows and the
    // loop-generated columns vanish (valid SQL by construction here)
    val p = Project(name = "pempty",
      sources = Seq(SourceDef("tpch", "orders", s"$sf/orders.parquet")),
      models = Seq(
        ModelDef("stg_e", "SELECT o_custkey, o_orderstatus " +
          "FROM {{ source('tpch', 'orders') }}"),
        ModelDef("matrix_e",
          """{% set rs = run_query('SELECT DISTINCT o_orderstatus AS st FROM ' ~ ref('stg_e')) %}
            |SELECT o_custkey
            |{% for r in rs %}, sum(CASE WHEN o_orderstatus = '{{ r.st }}' THEN 1 END) AS n_{{ r.st }}
            |{% endfor %}
            |FROM {{ ref('stg_e') }} GROUP BY o_custkey""".stripMargin)))
    val dry = new Engine(spark, p, Target(root(), empty = true, threads = 1))
    assert(dry.build()._1.forall(_.status == "success"))
    val built = dry.readModel("matrix_e")
    assert(built.columns.toSeq == Seq("o_custkey")) // zero probe rows → no pivot cols
    assert(built.count() == 0)
  }

  test("compile verb renders a manifest for a run_query project without executing probes") {
    val p = Project(name = "pcompile",
      sources = Seq(SourceDef("tpch", "orders", s"$sf/orders.parquet")),
      models = Seq(
        ModelDef("stg_c", "SELECT o_orderkey, o_orderstatus " +
          "FROM {{ source('tpch', 'orders') }}"),
        ModelDef("probe_c",
          """{% set rs = run_query('SELECT DISTINCT o_orderstatus AS st FROM ' ~ ref('stg_c')) %}
            |SELECT {% for r in rs %}'{{ r.st }}' AS c{{ loop.index }}{% if not loop.last %}, {% endif %}{% endfor %}
            |FROM {{ ref('stg_c') }}""".stripMargin)))
    // NOTHING is built: dbt's parse/compile phase must not run the probe
    val e = new Engine(spark, p, Target(root(), threads = 1))
    val manifest = Files.createTempFile("graft_manifest", ".json").toString
    e.writeManifest(manifest)
    val probe = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(manifest)).path("nodes")
      .path("model.pcompile.probe_c")
    assert(probe.path("name").asText == "probe_c" &&
      probe.path("depends_on").path("nodes").toString
        .contains("model.pcompile.stg_c"),
      s"probe model or its run_query DAG edge missing from manifest: $probe")
  }

  test("compiledModels render in parse-phase mode: execute guards close, probes never run") {
    // dbt's compile artifact (target/compiled): execute=false — the
    // canonical `{% if execute %}` guard resolves to its else-arm, an
    // unguarded run_query returns the none-analogue (zero rows), and
    // star() renders '*' — all WITHOUT a built warehouse (slim CI
    // compiles master before anything exists)
    val p = Project(name = "pparse",
      sources = Seq(SourceDef("tpch", "orders", s"$sf/orders.parquet")),
      models = Seq(
        ModelDef("stg_p", "SELECT o_orderkey, o_orderstatus " +
          "FROM {{ source('tpch', 'orders') }}"),
        ModelDef("guarded_p",
          """{% if execute %}
            |{% set rs = run_query('SELECT DISTINCT o_orderstatus AS st FROM ' ~ ref('stg_p')) %}
            |SELECT {% for r in rs %}'{{ r.st }}' AS c{{ loop.index }}{% if not loop.last %}, {% endif %}{% endfor %}
            |FROM {{ ref('stg_p') }}
            |{% else %}
            |SELECT 'parse' AS phase FROM {{ ref('stg_p') }}
            |{% endif %}""".stripMargin),
        ModelDef("star_p",
          "SELECT {{ dbt_utils.star(ref('stg_p')) }} FROM {{ ref('stg_p') }}"),
        ModelDef("loop_p",
          """{% set rs = run_query('SELECT DISTINCT o_orderstatus AS st FROM ' ~ ref('stg_p')) %}
            |SELECT o_orderkey{% for r in rs %}, '{{ r.st }}' AS c{{ loop.index }}{% endfor %}
            |FROM {{ ref('stg_p') }}""".stripMargin)))
    // NOTHING built — parse-phase rendering must not touch the warehouse
    val e = new Engine(spark, p, Target(root(), threads = 1))
    val compiled = e.compiledModels
    assert(compiled("guarded_p").contains("'parse' AS phase"),
      compiled("guarded_p")) // execute-guard took the else arm
    assert(!compiled("guarded_p").contains("run_query"))
    assert(compiled("star_p").trim.startsWith("SELECT *"),
      compiled("star_p")) // dbt-utils parse-phase star → literal '*'
    // unguarded probe: none-analogue → loop renders zero iterations
    assert(compiled("loop_p").contains("SELECT o_orderkey"))
    assert(!compiled("loop_p").contains("c1"), compiled("loop_p"))
  }

  test("renderInline: dbt show over refs, sources, and macros") {
    val r = root()
    val e = new Engine(spark, baseProject, Target(r))
    require(e.build()._1.forall(_.status == "success"))
    val viaRef = e.renderInline(
      "SELECT count(*) AS c FROM {{ ref('nations') }}")
    assert(viaRef.head().getLong(0) == 25L)
    val viaSource = e.renderInline(
      "SELECT count(*) AS c FROM {{ source('tpch', 'region') }}")
    assert(viaSource.head().getLong(0) == 5L)
    // a VIEW model has no data path — its ref must inline the compiled
    // definition as a subquery
    val withView = baseProject.copy(models = baseProject.models :+
      ModelDef("nations_view",
        """{{ config(materialized='view') }}
          |SELECT n_nationkey FROM {{ ref('nations') }}
          |WHERE n_nationkey < 7""".stripMargin))
    val e2 = new Engine(spark, withView, Target(root()))
    require(e2.build()._1.forall(_.status == "success"))
    val viaView = e2.renderInline(
      "SELECT count(*) AS c FROM {{ ref('nations_view') }}")
    assert(viaView.head().getLong(0) == 7L)
    // {{ this }} has no meaning without a node scope — rejected loudly
    intercept[IllegalArgumentException](
      e2.renderInline("SELECT * FROM {{ this }}"))
  }

  test("invocation_id and run_started_at: one value per invocation, shared across models") {
    val proj = baseProject.copy(models = Seq(
      ModelDef("audit_a",
        "SELECT '{{ invocation_id }}' AS inv, " +
          "'{{ run_started_at.strftime(\"%Y-%m-%d\") }}' AS d"),
      ModelDef("audit_b", "SELECT '{{ invocation_id }}' AS inv")))
    val e = new Engine(spark, proj, Target(root()))
    require(e.build()._1.forall(_.status == "success"))
    val a = e.readModel("audit_a").head()
    val b = e.readModel("audit_b").head()
    // both models see the SAME invocation id, and it is the engine's
    assert(a.getString(0) == e.invocationId && b.getString(0) == e.invocationId)
    assert(a.getString(0).matches(
      "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
    assert(a.getString(1) == Compiler.strftime(e.runStartedAt, "%Y-%m-%d"))
    // a SECOND engine is a new invocation
    val e2 = new Engine(spark, proj, Target(root()))
    assert(e2.invocationId != e.invocationId)
  }

  test("cross-project ref: unregistered dependency fails; upstream via its warehouse") {
    val upRoot = root()
    val up = Project(name = "up",
      sources = Seq(SourceDef("tpch", "nation", s"$sf/nation.parquet")),
      models = Seq(ModelDef("base",
        "SELECT n_nationkey, n_regionkey FROM {{ source('tpch','nation') }}"),
        ModelDef("base_v", "SELECT n_nationkey FROM {{ ref('base') }}",
          ModelConfig(materialized = "view"))))
    require(new Engine(spark, up, Target(upRoot)).build()._1
      .forall(_.status == "success"))
    val down = Project(name = "down",
      models = Seq(ModelDef("agg",
        """SELECT n_regionkey, count(*) AS n
          |FROM {{ ref('up', 'base') }} GROUP BY n_regionkey""".stripMargin),
        // an upstream VIEW resolves through its durable definition
        ModelDef("agg_v",
          "SELECT count(*) AS n FROM {{ ref('up', 'base_v') }}")),
      dependencies = Seq(DependencyDef("up", upRoot)))
    val e = new Engine(spark, down, Target(root()))
    require(e.build()._1.forall(_.status == "success"))
    assert(e.readModel("agg").count() == 5)
    assert(e.readModel("agg_v").collect().head.getLong(0) == 25L)
    // no dependency registered → loud config error at compile
    val bad = down.copy(dependencies = Nil)
    val (nodes, _) = new Engine(spark, bad, Target(root())).build()
    assert(nodes.exists(n => n.name == "agg" && n.status == "error"))
  }

  test("tests on sources: run before any node; an error aborts the build") {
    val ok = baseProject.copy(tests = Seq(
      TestDef("src_nn", "source:tpch.nation",
        df => SchemaTests.notNull(df, "n_nationkey"))))
    val e = new Engine(spark, ok, Target(root()))
    val (nodes, tests) = e.build()
    assert(nodes.forall(_.status == "success"))
    assert(tests.exists(t => t.name == "src_nn" && t.status == "pass"))

    // a failing error-severity source test SKIPS the source's downstream
    // cone but does not crash the run: unrelated branches build,
    // results record, hooks fire (dbt's failure semantics)
    val broken = baseProject.copy(
      models = baseProject.models :+ ModelDef("unrelated",
        "SELECT 1 AS one"),
      tests = Seq(TestDef("src_vals", "source:tpch.region",
        df => SchemaTests.acceptedValues(df, "r_name", Seq("NOWHERE")))))
    val e2 = new Engine(spark, broken, Target(root()))
    val (nodes2, tests2) = e2.build()
    assert(tests2.exists(t => t.name == "src_vals" && t.status == "error"))
    // nations reads tpch.nation (healthy) → builds; by_region joins
    // tpch.region directly (broken) → skipped
    assert(nodes2.exists(n => n.name == "nations" && n.status == "success"))
    assert(nodes2.exists(n => n.name == "by_region" && n.status == "skipped"))
    assert(nodes2.exists(n => n.name == "unrelated" && n.status == "success"))
    assert(!e2.warehouse.exists(e2.relationFor("by_region")))
  }

  test("lineage DOT: kinds, edges, sources, exposures; selection restricts") {
    val p = baseProject.copy(exposures = Seq(
      ExposureDef("dash", Seq("by_region"))))
    val e = new Engine(spark, p, Target(root()))
    val dot = e.lineageDot()
    assert(dot.contains("\"nations\" -> \"by_region\""))
    assert(dot.contains("\"source:tpch.nation\" -> \"nations\""))
    assert(dot.contains("\"by_region\" -> \"exposure:dash\""))
    assert(dot.contains("[shape=cylinder]")) // sources
    val restricted = e.lineageDot(Some(Set("nations")))
    assert(!restricted.contains("by_region"))
    assert(restricted.contains("\"source:tpch.nation\" -> \"nations\""))
  }

  test("metrics load from schema.yml with their filters (demo project)") {
    val (p, _) = ProjectLoader.load("examples/demo_project")
    val names = p.metrics.map(_.name).toSet
    assert(names == Set("revenue", "order_count", "big_revenue"))
    val big = p.metrics.find(_.name == "big_revenue").get
    assert(big == MetricDef("big_revenue", "orders_incr", "sum",
      "o_totalprice", "o_orderdate", Nil, Some("o_totalprice > 100000")))
    assert(p.metrics.find(_.name == "order_count").get.expression == "1")
    // several filters join with AND; a required key names itself
    val dir = Files.createTempDirectory("graft_metrics")
    def metric(extra: String): Unit = {
      Files.writeString(dir.resolve("dbt_project.yml"), "name: mx\n")
      Files.createDirectories(dir.resolve("models"))
      Files.writeString(dir.resolve("models").resolve("metrics.yml"),
        s"""version: 2
           |metrics:
           |  - name: open_revenue
           |    model: ref('orders')
           |    calculation_method: sum
           |    expression: o_totalprice
           |    dimensions: [o_orderstatus]
           |    filters:
           |      - field: o_orderstatus
           |        operator: '='
           |        value: "'O'"
           |      - field: o_totalprice
           |        operator: '>'
           |        value: '0'
           |$extra""".stripMargin)
      ()
    }
    metric("    timestamp: o_orderdate\n")
    val Seq(m) = ProjectLoader.load(dir.toString)._1.metrics
    assert(m.model == "orders" && m.dims == Seq("o_orderstatus"))
    assert(m.filter.contains("o_orderstatus = 'O' AND o_totalprice > 0"))
    metric("")
    val err = intercept[IllegalArgumentException](ProjectLoader.load(dir.toString))
    assert(err.getMessage.contains("'timestamp' is required"), err.getMessage)
  }

  test("roundtrip sweep ages out leaked temp symlinks, spares the live state") {
    import java.nio.file.{Files => F, LinkOption}
    import graft.ops.OrchestratorQueries
    val dir = F.createTempDirectory("graft_sweep")
    // live layout: the current build dir + the stable symlink to it
    val cur = dir.resolve("wh.live1"); F.createDirectory(cur)
    val root = dir.resolve("wh"); F.createSymbolicLink(root, cur)
    // leftovers a crash can leave: an old finished build dir, a DANGLING
    // leaked temp link, and a leaked temp link still pointing at the
    // live build dir (crash after link-create, before the atomic move)
    val oldBuild = dir.resolve("wh.dead1"); F.createDirectory(oldBuild)
    val lnkDangling = dir.resolve("wh.lnk.aaaa")
    F.createSymbolicLink(lnkDangling, dir.resolve("wh.gone"))
    val lnkLive = dir.resolve("wh.lnk.bbbb")
    F.createSymbolicLink(lnkLive, cur)
    // horizon in the future = everything counts as old
    OrchestratorQueries.sweepBuildDirs(root, cur.toString, cur.toString,
      System.currentTimeMillis() + 60000)
    assert(!F.exists(lnkDangling, LinkOption.NOFOLLOW_LINKS))
    assert(!F.exists(lnkLive, LinkOption.NOFOLLOW_LINKS))
    assert(F.isDirectory(cur), "the leaked link's TARGET must survive")
    assert(!F.exists(oldBuild), "an aged-out finished build dir is swept")
    assert(F.isSymbolicLink(root), "the stable link is never touched")
    // a FRESH leak survives the real 1-hour horizon
    val lnkFresh = dir.resolve("wh.lnk.cccc")
    F.createSymbolicLink(lnkFresh, dir.resolve("wh.gone2"))
    OrchestratorQueries.sweepBuildDirs(root, cur.toString, cur.toString,
      System.currentTimeMillis() - 3600L * 1000)
    assert(F.exists(lnkFresh, LinkOption.NOFOLLOW_LINKS))
  }
}
