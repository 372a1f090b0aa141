package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.run.{Engine, ProjectLoader, Target}

/** The on-disk demo project must load and build end-to-end — this is the
  * repo's user-facing example (examples/demo_project) and the regression
  * net for the directory loader + CLI path.
  */
class ProjectLoaderSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("demo project loads, builds, and chains view+ephemeral+incremental+snapshot") {
    val (project, conf) = ProjectLoader.load("examples/demo_project")
    assert(project.name == "demo_ci_spark")
    assert(project.models.map(_.name).toSet ==
      Set("stg_nations", "eph_regions", "nation_region", "orders_incr",
        "nations_by_region_mv", "region_counts", "region_pivot",
        "order_cents"))
    // package macros (packages/demo_utils): namespaced + bare aliases
    assert(project.macros.contains("demo_utils.cents"))
    assert(project.macros.contains("cents"))
    // descriptions.conf docs at relation + column grain
    assert(project.descriptions("nation_region.r_name").nonEmpty)
    assert(project.descriptions("region_counts").nonEmpty)
    // selectors.conf: named compositions of the selector grammar
    assert(project.selectors.map(_.name) == Seq("mart_closure", "non_staging"))
    assert(project.selectors.head.include == "+tag:mart")
    assert(project.selectors(1).exclude == "tag:staging")
    // analyses load but are NOT models (never scheduled/materialized)
    assert(project.analyses.map(_.name) == Seq("region_share"))
    // profiles.yml-style named targets resolve with override precedence
    val tc = graft.tools.GraftCli.resolveTargetConf(conf, Some("ci_pr"))
    assert(tc("threads").contains("2"))
    assert(tc("schema").contains("pr_{{ env_var('PR_NUMBER') }}"))
    assert(tc("database").contains("analytics")) // flat-key fallthrough
    val tcFlat = graft.tools.GraftCli.resolveTargetConf(conf, None)
    assert(tcFlat("schema").contains("main"))
    intercept[IllegalArgumentException] {
      graft.tools.GraftCli.resolveTargetConf(conf, Some("nope"))
    }
    assert(project.seeds.map(_.name) == Seq("priorities"))
    assert(project.seeds.head.columnTypes == Map("rank" -> "bigint"))
    assert(project.snapshots.map(_.name) == Seq("orders_snapshot"))
    assert(project.tests.size == 12)
    assert(project.tests.exists(_.relationship.isDefined))
    // project.conf `var.` lines become project vars (used by stg_nations)
    assert(project.vars == Map("min_key" -> "0"))
    // exposures.conf: declared consumer with deps/owner/url
    assert(project.exposures.map(_.name) == Seq("region_dashboard"))
    assert(project.exposures.head.dependsOn == Seq("region_counts"))
    assert(project.exposures.head.url == "https://dash.example/regions")

    val engine = new Engine(spark, project,
      Target(Files.createTempDirectory("graft_demo").toString,
        threads = conf("threads").toInt))
    val (nodes, tests) = engine.build()
    assert(nodes.map(_.status).forall(_ == "success"),
      nodes.filter(_.status != "success").toString)
    assert(tests.map(_.status).forall(_ == "pass"))
    // ephemeral inlined + view joined: 25 nations
    assert(engine.readModel("nation_region").count() == 25)
    // the materialized_view model: one row per region, maintained + served
    assert(engine.readModel("nations_by_region_mv").count() == 5)
    // the loop-generated pivot model ({% set %}/{% for %}/loop.last)
    val pivot = engine.readModel("region_pivot")
    assert(pivot.columns.toSeq ==
      Seq("n_nationkey", "in_AFRICA", "in_AMERICA", "in_ASIA"))
    assert(pivot.count() == 25)
    // the package-macro model (bare + namespaced calls, param filter)
    val cents = engine.readModel("order_cents")
    assert(cents.columns.toSeq ==
      Seq("o_orderkey", "price_cents", "priority_str"))
    assert(cents.schema("priority_str").dataType.typeName == "string")
    // analyses: compiled (refs/vars resolved, no jinja left), never
    // materialized, and the compiled query actually runs
    val compiledA = engine.compiledAnalyses("region_share")
    assert(!compiledA.contains("{{") && !compiledA.contains("ref("))
    assert(!engine.warehouse.exists(engine.relationFor("region_share")))
    assert(engine.renderInline(project.analyses.head.rawSql).count() == 5)
    // named selectors resolve through the engine's grammar
    assert(engine.selectByName("mart_closure") ==
      Set("region_pivot", "nation_region", "stg_nations", "eph_regions",
        "order_cents"))
    assert(!engine.selectByName("non_staging").contains("stg_nations"))
    intercept[IllegalArgumentException] { engine.selectByName("nope") }
    // snapshot has one current row per order
    import org.apache.spark.sql.functions.col
    val snap = engine.warehouse.read(engine.relationFor("orders_snapshot"))
    assert(snap.filter(col("dbt_valid_to").isNull).count() ==
      engine.readModel("orders_incr").count())
  }

  test("relationships test from tests.conf: pass and fail in one build") {
    val dir = Files.createTempDirectory("graft_rel")
    def put(name: String, text: String): Unit = {
      val p = dir.resolve(name)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text); ()
    }
    put("project.conf", "name=reldemo\nthreads=1")
    put("sources.conf",
      "tpch nation /root/testdata/sf0.001/nation.parquet\n" +
        "tpch region /root/testdata/sf0.001/region.parquet")
    put("models/parents.sql",
      "SELECT r_regionkey FROM {{ source('tpch', 'region') }}")
    put("models/child_ok.sql",
      "SELECT n_nationkey, n_regionkey FROM {{ source('tpch', 'nation') }}")
    put("models/child_bad.sql",
      "SELECT n_nationkey, n_regionkey + 100 AS fk FROM {{ source('tpch', 'nation') }}")
    // neither child ref()s parents — the ordering edge must come from the
    // relationships declaration itself
    put("tests.conf",
      "relationships child_ok n_regionkey parents r_regionkey\n" +
        "relationships child_bad fk parents r_regionkey\n" +
        "relationships child_ok n_regionkey source:tpch.region r_regionkey")
    val (project, _) = ProjectLoader.load(dir.toString)
    val engine = new Engine(spark, project,
      Target(Files.createTempDirectory("graft_rel_wh").toString, threads = 1))
    val (nodes, tests) = engine.build()
    assert(nodes.find(_.name == "parents").get.status == "success")
    assert(nodes.find(_.name == "child_ok").get.status == "success")
    assert(nodes.find(_.name == "child_bad").get.status == "error")
    // child_ok has TWO relationship tests (model parent + source: parent);
    // assert on ALL of them, not a map that keeps only the last
    assert(tests.size == 3)
    val okTests = tests.filter(_.model == "child_ok")
    assert(okTests.size == 2 && okTests.forall(_.status == "pass"))
    val bad = tests.filter(_.model == "child_bad")
    assert(bad.size == 1 && bad.head.status == "error" &&
      bad.head.failures == 25L)
  }

  test("tests.conf trailing k=v tokens become test config") {
    val dir = Files.createTempDirectory("graft_tcfg")
    Files.writeString(dir.resolve("project.conf"), "name=tcfg")
    Files.createDirectories(dir.resolve("models"))
    Files.writeString(dir.resolve("models").resolve("m.sql"), "SELECT 1 AS a")
    Files.writeString(dir.resolve("tests.conf"),
      "unique m a severity=warn where=a~>~0 limit=3 store_failures=true\n" +
        "not_null m a")
    val (project, _) = ProjectLoader.load(dir.toString)
    val t0 = project.tests.head
    assert(t0.severity == "warn")
    assert(t0.where.contains("a > 0"))
    assert(t0.limit.contains(3))
    assert(t0.storeFailures)
    val t1 = project.tests(1)
    assert(t1.severity == "error" && t1.where.isEmpty && t1.limit.isEmpty)
  }

  test("quoted config values keep spaces, literal '~' and quotes; warn_if parses") {
    val dir = Files.createTempDirectory("graft_quot")
    Files.writeString(dir.resolve("project.conf"), "name=quot")
    Files.createDirectories(dir.resolve("models"))
    Files.writeString(dir.resolve("models").resolve("m.sql"), "SELECT 1 AS a")
    Files.writeString(dir.resolve("tests.conf"),
      // the where predicate contains a LITERAL '~' (regex match) and a
      // quoted string with spaces — the old ~→space shorthand corrupted it
      "unique m a where='a RLIKE ''x~y z''' warn_if='>10' error_if='>=100'\n")
    val (project, _) = ProjectLoader.load(dir.toString)
    val t = project.tests.head
    assert(t.where.contains("a RLIKE 'x~y z'"))
    assert(t.warnIf.contains(">10"))
    assert(t.errorIf.contains(">=100"))
    // malformed threshold fails at LOAD time
    Files.writeString(dir.resolve("tests.conf"), "unique m a warn_if='pony'\n")
    assertThrows[IllegalArgumentException](ProjectLoader.load(dir.toString))
  }

  test("sources.conf optional 7th token is a quoted freshness filter") {
    val dir = Files.createTempDirectory("graft_srcf")
    Files.writeString(dir.resolve("project.conf"), "name=srcf")
    Files.writeString(dir.resolve("sources.conf"),
      "tpch orders /root/testdata/sf0.001/orders.parquet o_orderdate 24 72" +
        " 'o_orderstatus = ''O'''\n")
    val (project, _) = ProjectLoader.load(dir.toString)
    val s = project.sources.head
    assert(s.loadedAtField.contains("o_orderdate"))
    assert(s.filter.contains("o_orderstatus = 'O'"))
  }

  test("sources.conf format= and options= tokens declare non-parquet sources") {
    val dir = Files.createTempDirectory("graft_srcfmt")
    Files.writeString(dir.resolve("project.conf"), "name=srcfmt")
    Files.writeString(dir.resolve("sources.conf"),
      "ext events /data/events_json format=json\n" +
        "ext lookup /data/lookup_csv format=csv " +
        "options=header:true,delimiter:; ts 24 72\n")
    val (project, _) = ProjectLoader.load(dir.toString)
    val j = project.sources.find(_.tableName == "events").get
    assert(j.format == "json" && j.options.isEmpty)
    val c = project.sources.find(_.tableName == "lookup").get
    assert(c.format == "csv")
    assert(c.options == Map("header" -> "true", "delimiter" -> ";"))
    // positional tokens still land after the k=v extraction
    assert(c.loadedAtField.contains("ts") && c.warnAfterH.contains(24))
  }

  test("macros load from macros/*.sql and expand in demo models") {
    val (project, _) = ProjectLoader.load("examples/demo_project")
    assert(project.macros.contains("count_by"))
    val engine = new Engine(spark, project,
      Target(Files.createTempDirectory("graft_demo_mac").toString))
    engine.build()
    val got = engine.readModel("region_counts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 5 && got.values.forall(_ == 5L), s"got $got")
    // duplicate macro names across files fail at load time
    val dir = Files.createTempDirectory("graft_dupm")
    Files.writeString(dir.resolve("project.conf"), "name=dupm")
    Files.createDirectories(dir.resolve("macros"))
    Files.writeString(dir.resolve("macros").resolve("a.sql"),
      "{% macro m1(x) %}{{ x }}{% endmacro %}")
    Files.writeString(dir.resolve("macros").resolve("b.sql"),
      "{% macro m1(x) %}{{ x }}{% endmacro %}")
    assertThrows[IllegalArgumentException](ProjectLoader.load(dir.toString))
  }

  test("CLI end-to-end: build writes both run-results shapes, docs writes dbt artifacts") {
    val wh = Files.createTempDirectory("graft_cli_wh").toString
    val rr = s"$wh/run_results.json"
    graft.tools.GraftCli.main(Array("examples/demo_project", wh, "build",
      "--run-results", rr))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(Files.exists(java.nio.file.Paths.get(rr)))
    val dbtRr = om.readTree(new java.io.File(s"$wh/dbt_run_results.json"))
    assert(dbtRr.path("metadata").path("dbt_schema_version").asText
      .contains("run-results/v6"))
    assert(dbtRr.path("results").isArray && dbtRr.path("results").size() > 0)
    graft.tools.GraftCli.main(Array("examples/demo_project", wh, "docs",
      "--out", s"$wh/catalog.json"))
    assert(om.readTree(new java.io.File(s"$wh/catalog.json"))
      .path("relations").isArray)
    assert(om.readTree(new java.io.File(s"$wh/dbt_catalog.json"))
      .path("metadata").path("dbt_schema_version").asText.contains("catalog/v1"))
    val man = om.readTree(new java.io.File(s"$wh/dbt_manifest.json"))
    assert(man.path("metadata").path("dbt_schema_version").asText
      .contains("manifest/v12"))
    assert(man.path("nodes").size() > 0 && man.path("macros").size() > 0)
  }

  test("package imports: namespacing, bare aliases, shadowing, ambiguity") {
    val dir = Files.createTempDirectory("graft_pkgs")
    def put(name: String, text: String): Unit = {
      val p = dir.resolve(name)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text); ()
    }
    put("project.conf", "name=pkgs")
    put("models/m.sql",
      "SELECT {{ pa.tag() }} AS a, {{ only_a() }} AS b, {{ shadowed() }} AS c")
    put("macros/local.sql", "{% macro shadowed() %}'project'{% endmacro %}")
    put("packages/pa/macros/x.sql",
      "{% macro tag() %}'pa'{% endmacro %}\n" +
        "{% macro only_a() %}'onlyA'{% endmacro %}\n" +
        "{% macro shadowed() %}'pkg_a'{% endmacro %}\n" +
        "{% macro both() %}'a'{% endmacro %}")
    put("packages/pb/macros/y.sql", "{% macro both() %}'b'{% endmacro %}")
    val (project, _) = ProjectLoader.load(dir.toString)
    // namespaced keys always present
    assert(Seq("pa.tag", "pa.only_a", "pa.shadowed", "pa.both", "pb.both")
      .forall(project.macros.contains))
    // bare alias only when unambiguous AND not shadowed by the project
    assert(project.macros.contains("only_a"))
    assert(!project.macros.contains("both"))
    assert(project.macros("shadowed").body == "'project'")
    // an ambiguous bare call fails naming the candidate namespaces
    val err = intercept[IllegalArgumentException] {
      graft.compile.Compiler.expandMacros("SELECT {{ both() }}", project.macros)
    }
    assert(err.getMessage.contains("pa") && err.getMessage.contains("pb"),
      err.getMessage)
    // namespaced calls of the SAME bare name disambiguate fine
    assert(graft.compile.Compiler.expandMacros(
      "{{ pa.both() }}|{{ pb.both() }}", project.macros) == "'a'|'b'")
    // end-to-end: bare, namespaced, and shadowed calls all compile+build
    val engine = new Engine(spark, project,
      Target(Files.createTempDirectory("graft_pkgs_wh").toString, threads = 1))
    val (nodes, _) = engine.build()
    assert(nodes.forall(_.status == "success"), nodes.toString)
    val row = engine.readModel("m").collect().head
    assert(row.getString(0) == "pa" && row.getString(1) == "onlyA" &&
      row.getString(2) == "project")
    // a declared package whose directory is missing fails at LOAD time
    put("packages.conf", "ghost\n")
    assertThrows[IllegalArgumentException](ProjectLoader.load(dir.toString))
  }

  test("packages.yml: local entries load, network entries refuse, conf wins on a name clash") {
    val dir = Files.createTempDirectory("graft_pkgyml")
    def put(name: String, text: String): Unit = {
      val p = dir.resolve(name)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text); ()
    }
    put("project.conf", "name=pkgyml")
    put("models/m.sql", "SELECT {{ vendored.tag() }} AS a, {{ fmt_yml.hi() }} AS b")
    // a vendored dbt-style package declared the dbt-native way
    put("vendor/vendored/macros/v.sql", "{% macro tag() %}'yml'{% endmacro %}")
    put("pkgs/fmt_conf/macros/f.sql", "{% macro hi() %}'conf'{% endmacro %}")
    put("pkgs/fmt_yml/macros/f.sql", "{% macro hi() %}'yml'{% endmacro %}")
    put("packages.yml",
      """packages:
        |  - local: vendor/vendored
        |  - local: pkgs/fmt_yml
        |""".stripMargin)
    // precedence: declare the SAME package name (fmt_yml) in both files,
    // pointing packages.conf at a different directory
    put("packages.conf", "fmt_yml 'pkgs/fmt_conf'\n")
    val (project, _) = ProjectLoader.load(dir.toString)
    assert(project.macros.contains("vendored.tag"))
    // name clash: packages.conf's directory wins for fmt_yml
    assert(project.macros("fmt_yml.hi").body == "'conf'")
    // a hub/git entry fails loudly instead of silently skipping
    put("packages.yml",
      """packages:
        |  - package: dbt-labs/dbt_utils
        |    version: 1.1.1
        |""".stripMargin)
    val err = intercept[IllegalArgumentException](ProjectLoader.load(dir.toString))
    assert(err.getMessage.contains("local:"), err.getMessage)
    put("packages.yml",
      "packages:\n  - git: https://example.com/repo.git\n    revision: main\n")
    assertThrows[IllegalArgumentException](ProjectLoader.load(dir.toString))
    // a local entry pointing nowhere fails at load time
    put("packages.yml", "packages:\n  - local: nope/missing\n")
    assertThrows[IllegalArgumentException](ProjectLoader.load(dir.toString))
  }

  test("packages.yml: hub/git entries load from a vendored packages/ mirror") {
    val dir = Files.createTempDirectory("graft_pkgmirror")
    def put(name: String, text: String): Unit = {
      val p = dir.resolve(name)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text); ()
    }
    put("project.conf", "name=pkgmirror")
    put("models/m.sql", "SELECT {{ dbt_utils.greet() }} AS a")
    // the `dbt deps`-output convention: the remote package is checked in
    // under packages/<basename>, so the hub entry resolves OFFLINE
    put("packages/dbt_utils/macros/g.sql",
      "{% macro greet() %}'hello'{% endmacro %}")
    put("packages.yml",
      """packages:
        |  - package: dbt-labs/dbt_utils
        |    version: 1.1.1
        |""".stripMargin)
    val (project, _) = ProjectLoader.load(dir.toString)
    assert(project.macros("dbt_utils.greet").body == "'hello'")
    // the git spelling resolves through the same mirror (basename of the
    // repo URL, .git stripped)
    put("packages.yml",
      "packages:\n  - git: https://example.com/dbt_utils.git\n")
    assert(ProjectLoader.load(dir.toString)._1.macros
      .contains("dbt_utils.greet"))
    // no mirror -> the refusal names the exact directory that would fix it
    put("packages.yml", "packages:\n  - package: other-org/other_pkg\n")
    val err = intercept[IllegalArgumentException](
      ProjectLoader.load(dir.toString))
    assert(err.getMessage.contains("packages/other_pkg"), err.getMessage)
  }

  test("docs blocks: {% docs %} markdown feeds doc() description sites") {
    val dir = Files.createTempDirectory("graft_docs")
    def put(name: String, text: String): Unit = {
      val p = dir.resolve(name)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text); ()
    }
    put("project.conf", "name=docsdemo")
    put("models/m.sql", "SELECT 1 AS one")
    put("models/overview.md",
      """{% docs m_doc %}
        |One row, one column. **markdown** allowed.
        |{% enddocs %}
        |
        |{% docs other %}unused{% enddocs %}
        |""".stripMargin)
    put("descriptions.conf", "m '{{ doc(''m_doc'') }}'\n")
    val (project, _) = ProjectLoader.load(dir.toString)
    assert(project.descriptions("m")
      == "One row, one column. **markdown** allowed.")
    // unknown doc name fails at load time
    put("descriptions.conf", "m '{{ doc(''nope'') }}'\n")
    val err = intercept[IllegalArgumentException](ProjectLoader.load(dir.toString))
    assert(err.getMessage.contains("m_doc"), err.getMessage) // lists defined
    // duplicate docs block names fail at load time
    put("descriptions.conf", "m 'plain'\n")
    put("docs/dup.md", "{% docs m_doc %}again{% enddocs %}")
    assertThrows[IllegalArgumentException](ProjectLoader.load(dir.toString))
  }

  test("ephemeral models never materialize to the warehouse") {
    val (project, _) = ProjectLoader.load("examples/demo_project")
    val engine = new Engine(spark, project,
      Target(Files.createTempDirectory("graft_demo2").toString))
    engine.build()
    assert(!engine.warehouse.exists(engine.relationFor("eph_regions")))
    assert(engine.readModel("eph_regions").count() == 5) // compiled on demand
  }
}
