package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.run.{DependencyDef, Engine, ProjectLoader, StateSelector, Target}
import graft.tools.GraftCli

/** The on-disk demo project must load and build end-to-end — this is the
  * repo's user-facing example (examples/demo_project) and the regression
  * net for the directory loader + CLI path.
  */
class ProjectLoaderSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  val demo = "examples/demo_project"
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def put(dir: Path, name: String, text: String): Unit = {
    val p = dir.resolve(name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, text); ()
  }

  private def tpchSources(tables: String*): String =
    "version: 2\nsources:\n  - name: tpch\n    tables:\n" + tables.map(t =>
      s"      - name: $t\n        meta:\n" +
        s"          external_location: $sf/$t.parquet\n").mkString

  /** stdout of one CLI invocation. */
  private def cli(args: String*): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(GraftCli.main(args.toArray))
    buf.toString("UTF-8")
  }

  test("demo project loads, builds, and chains view+ephemeral+incremental+snapshot") {
    val (project, conf) = ProjectLoader.load(demo)
    assert(project.name == "demo_ci_spark")
    assert(project.models.map(_.name).toSet ==
      Set("stg_nations", "eph_regions", "nation_region", "orders_incr",
        "nations_by_region_mv", "region_counts", "region_pivot",
        "order_cents"))
    // package macros (packages/demo_utils): namespaced + bare aliases
    assert(project.macros.contains("demo_utils.cents"))
    assert(project.macros.contains("cents"))
    // schema.yml descriptions at relation + column grain
    assert(project.descriptions("nation_region.r_name").nonEmpty)
    assert(project.descriptions("region_counts").nonEmpty)
    // selectors.yml: named compositions of the selector grammar
    assert(project.selectors.map(_.name) == Seq("mart_closure", "non_staging"))
    assert(project.selectors.head.include == "+tag:mart")
    assert(project.selectors(1).exclude == "tag:staging")
    // analyses load but are NOT models (never scheduled/materialized)
    assert(project.analyses.map(_.name) == Seq("region_share"))
    // profiles.yml named targets: the profile's default and ci_pr
    val profiles = GraftCli.profilesConf(demo, None, conf.get("profile"))
    val tc = GraftCli.resolveTargetConf(profiles, Some("ci_pr"))
    assert(tc("threads").contains("2"))
    assert(tc("schema").contains("pr_{{ env_var('PR_NUMBER') }}"))
    assert(tc("database").contains("analytics"))
    val tcDefault = GraftCli.resolveTargetConf(profiles, None)
    assert(tcDefault("schema").contains("main"))
    intercept[IllegalArgumentException] {
      GraftCli.resolveTargetConf(profiles, Some("nope"))
    }
    assert(project.seeds.map(_.name) == Seq("priorities"))
    assert(project.seeds.head.columnTypes == Map("rank" -> "bigint"))
    assert(project.snapshots.map(_.name) == Seq("orders_snapshot"))
    assert(project.tests.size == 12)
    assert(project.tests.exists(_.relationship.isDefined))
    // dbt_project.yml vars (used by stg_nations)
    assert(project.vars == Map("min_key" -> "0"))
    // sources.yml: the orders freshness thresholds
    val orders = project.sources.find(_.tableName == "orders").get
    assert(orders.loadedAtField.contains("o_orderdate") &&
      orders.warnAfterH.contains(24) && orders.errorAfterH.contains(72))
    // exposures: declared consumer with deps/owner/url
    assert(project.exposures.map(_.name) == Seq("region_dashboard"))
    assert(project.exposures.head.dependsOn == Seq("region_counts"))
    assert(project.exposures.head.url == "https://dash.example/regions")

    val engine = new Engine(spark, project,
      Target(Files.createTempDirectory("graft_demo").toString,
        threads = tcDefault("threads").get.toInt))
    val (nodes, tests) = engine.build()
    assert(nodes.map(_.status).forall(_ == "success"),
      nodes.filter(_.status != "success").toString)
    assert(tests.size == 12 && tests.map(_.status).forall(_ == "pass"),
      tests.toString)
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

  test("relationships test from schema.yml: pass and fail in one build") {
    val dir = Files.createTempDirectory("graft_rel")
    put(dir, "dbt_project.yml", "name: reldemo\n")
    put(dir, "models/sources.yml", tpchSources("nation", "region"))
    put(dir, "models/parents.sql",
      "SELECT r_regionkey FROM {{ source('tpch', 'region') }}")
    put(dir, "models/child_ok.sql",
      "SELECT n_nationkey, n_regionkey FROM {{ source('tpch', 'nation') }}")
    put(dir, "models/child_bad.sql",
      "SELECT n_nationkey, n_regionkey + 100 AS fk FROM {{ source('tpch', 'nation') }}")
    // neither child ref()s parents — the ordering edge must come from the
    // relationships declaration itself
    put(dir, "models/schema.yml",
      """version: 2
        |models:
        |  - name: child_ok
        |    columns:
        |      - name: n_regionkey
        |        tests:
        |          - relationships:
        |              to: ref('parents')
        |              field: r_regionkey
        |          - relationships:
        |              to: source('tpch', 'region')
        |              field: r_regionkey
        |  - name: child_bad
        |    columns:
        |      - name: fk
        |        tests:
        |          - relationships:
        |              to: ref('parents')
        |              field: r_regionkey
        |""".stripMargin)
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

  test("schema.yml test config keys become test config") {
    val dir = Files.createTempDirectory("graft_tcfg")
    put(dir, "dbt_project.yml", "name: tcfg\n")
    put(dir, "models/m.sql", "SELECT 1 AS a")
    put(dir, "models/schema.yml",
      """version: 2
        |models:
        |  - name: m
        |    columns:
        |      - name: a
        |        tests:
        |          - unique:
        |              severity: warn
        |              where: a > 0
        |              limit: 3
        |              store_failures: true
        |          - not_null
        |""".stripMargin)
    val (project, _) = ProjectLoader.load(dir.toString)
    val Seq(t0, t1) = project.tests
    assert(t0.severity == "warn")
    assert(t0.where.contains("a > 0"))
    assert(t0.limit.contains(3))
    assert(t0.storeFailures)
    assert(t1.severity == "error" && t1.where.isEmpty && t1.limit.isEmpty)
  }

  test("quoted config values keep spaces, literal '~' and quotes; warn_if parses") {
    val dir = Files.createTempDirectory("graft_quot")
    put(dir, "dbt_project.yml", "name: quot\n")
    put(dir, "models/m.sql", "SELECT 1 AS a")
    // the where predicate contains a LITERAL '~' (regex match) and a
    // quoted string with spaces
    def schema(errorIf: String): Unit = put(dir, "models/schema.yml",
      s"""version: 2
         |models:
         |  - name: m
         |    columns:
         |      - name: a
         |        tests:
         |          - unique:
         |              where: "a RLIKE 'x~y z'"
         |              config:
         |                warn_if: '>10'
         |                error_if: '$errorIf'
         |""".stripMargin)
    schema(">=100")
    val (project, _) = ProjectLoader.load(dir.toString)
    val t = project.tests.head
    assert(t.where.contains("a RLIKE 'x~y z'"))
    assert(t.warnIf.contains(">10"))
    assert(t.errorIf.contains(">=100"))
    // a malformed threshold fails at LOAD time
    schema("pony")
    assertThrows[IllegalArgumentException](ProjectLoader.load(dir.toString))
  }

  test("sources.yml: external file_format and options declare non-parquet sources") {
    val dir = Files.createTempDirectory("graft_srcfmt")
    put(dir, "data/lookup.csv", "k;v\n1;a\n2;b\n")
    put(dir, "data/events.json", "{\"e\": 1}\n")
    put(dir, "dbt_project.yml", "name: srcfmt\n")
    put(dir, "models/sources.yml",
      s"""version: 2
         |sources:
         |  - name: ext
         |    tables:
         |      - name: events
         |        external:
         |          location: data/events.json
         |          file_format: json
         |      - name: lookup
         |        external:
         |          location: data/lookup.csv
         |          file_format: csv
         |          options:
         |            header: 'true'
         |            delimiter: ';'
         |        loaded_at_field: ts
         |        freshness:
         |          warn_after: {count: 24, period: hour}
         |""".stripMargin)
    put(dir, "models/m.sql", "SELECT k, v FROM {{ source('ext', 'lookup') }}")
    val (project, _) = ProjectLoader.load(dir.toString)
    val j = project.sources.find(_.tableName == "events").get
    assert(j.format == "json" && j.options.isEmpty)
    val c = project.sources.find(_.tableName == "lookup").get
    assert(c.format == "csv" && c.path == s"$dir/data/lookup.csv")
    assert(c.options == Map("header" -> "true", "delimiter" -> ";"))
    // freshness keys still land beside the reader options
    assert(c.loadedAtField.contains("ts") && c.warnAfterH.contains(24))
    // the options reach the reader: two columns, not one 'k;v' column
    val engine = new Engine(spark, project,
      Target(Files.createTempDirectory("graft_srcfmt_wh").toString, threads = 1))
    assert(engine.build()._1.forall(_.status == "success"))
    val m = engine.readModel("m")
    assert(m.columns.toSeq == Seq("k", "v"))
    assert(m.collect().map(r => r.getString(0) -> r.getString(1)).toSet ==
      Set("1" -> "a", "2" -> "b"))
  }

  test("sources.yml: a freshness filter is a quoted where clause") {
    val dir = Files.createTempDirectory("graft_srcf")
    put(dir, "dbt_project.yml", "name: srcf\n")
    put(dir, "models/sources.yml",
      s"""version: 2
         |sources:
         |  - name: tpch
         |    tables:
         |      - name: orders
         |        meta:
         |          external_location: $sf/orders.parquet
         |        loaded_at_field: o_orderdate
         |        freshness:
         |          warn_after: {count: 24, period: hour}
         |          error_after: {count: 72, period: hour}
         |          filter: "o_orderstatus = 'O'"
         |""".stripMargin)
    val (project, _) = ProjectLoader.load(dir.toString)
    val s = project.sources.head
    assert(s.format == "parquet" && s.options.isEmpty)
    assert(s.loadedAtField.contains("o_orderdate"))
    assert(s.warnAfterH.contains(24) && s.errorAfterH.contains(72))
    assert(s.filter.contains("o_orderstatus = 'O'"))
  }

  test("macros load from macros/*.sql and expand in demo models") {
    val (project, _) = ProjectLoader.load(demo)
    assert(project.macros.contains("count_by"))
    val engine = new Engine(spark, project,
      Target(Files.createTempDirectory("graft_demo_mac").toString))
    engine.build()
    val got = engine.readModel("region_counts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 5 && got.values.forall(_ == 5L), s"got $got")
    // duplicate macro names across files fail at load time
    val dir = Files.createTempDirectory("graft_dupm")
    put(dir, "dbt_project.yml", "name: dupm\n")
    put(dir, "macros/a.sql", "{% macro m1(x) %}{{ x }}{% endmacro %}")
    put(dir, "macros/b.sql", "{% macro m1(x) %}{{ x }}{% endmacro %}")
    assertThrows[IllegalArgumentException](ProjectLoader.load(dir.toString))
  }

  test("CLI end-to-end: v6 run results feed retry; selector, target, docs") {
    spark // the CLI adopts this session instead of starting its own
    val wh = Files.createTempDirectory("graft_cli_wh").toString
    val rr = s"$wh/run_results.json"
    cli(demo, wh, "build", "--run-results", rr)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val results = om.readTree(new java.io.File(rr))
    assert(results.path("metadata").path("dbt_schema_version").asText
      .contains("run-results/v6"))
    val statuses = results.path("results").elements().asScala
      .map(r => r.path("unique_id").asText -> r.path("status").asText).toMap
    val testStatuses = statuses.filter(_._1.startsWith("test."))
    assert(testStatuses.size == 12 && testStatuses.values.forall(_ == "pass"),
      testStatuses.toString)
    assert(statuses("model.demo_ci_spark.nation_region") == "success")
    // one artifact: nothing written beside it
    assert(Files.list(Paths.get(wh)).iterator.asScala
      .count(_.getFileName.toString.endsWith(".json")) == 1)
    // retry reads the v6 file; an all-green run re-runs nothing
    assert(cli(demo, wh, "retry", "--run-results", rr).linesIterator
      .exists(_.trim == "retrying:"))
    // the named selector and the PR target resolve through the CLI
    assert(cli(demo, wh, "list", "--selector", "mart_closure").contains(
      "selector 'mart_closure': eph_regions, nation_region, order_cents, " +
        "region_pivot, stg_nations"))
    assert(cli(demo, wh, "debug", "--target", "ci_pr", "--env", "PR_NUMBER=7")
      .contains("target:    database=analytics schema=pr_7 threads=2"))
    cli(demo, wh, "docs", "--out", s"$wh/catalog.json")
    assert(om.readTree(new java.io.File(s"$wh/catalog.json"))
      .path("metadata").path("dbt_schema_version").asText.contains("catalog/v1"))
    assert(!Files.exists(Paths.get(s"$wh/dbt_catalog.json")))
    val man = om.readTree(new java.io.File(s"$wh/manifest.json"))
    assert(man.path("metadata").path("dbt_schema_version").asText
      .contains("manifest/v12"))
    assert(man.path("nodes").size() > 0 && man.path("macros").size() > 0)
    // adopt serves the target schema's plain-parquet dirs in place; the
    // relations the build committed already have manifests
    spark.range(3).write.parquet(s"$wh/analytics/main/plain_t")
    def adopted() = cli(demo, wh, "adopt").linesIterator
      .filter(_.startsWith("ADOPTED")).toSeq
    assert(adopted() == Seq("ADOPTED  plain_t"))
    assert(adopted().isEmpty)
    assert(cli(demo, wh, "catalog").linesIterator.exists(l =>
      l.contains("plain_t") && l.contains(" 3 rows")))
  }

  test("package imports: namespacing, bare aliases, shadowing, ambiguity") {
    val dir = Files.createTempDirectory("graft_pkgs")
    put(dir, "dbt_project.yml", "name: pkgs\n")
    put(dir, "models/m.sql",
      "SELECT {{ pa.tag() }} AS a, {{ only_a() }} AS b, {{ shadowed() }} AS c")
    put(dir, "macros/local.sql", "{% macro shadowed() %}'project'{% endmacro %}")
    put(dir, "packages/pa/macros/x.sql",
      "{% macro tag() %}'pa'{% endmacro %}\n" +
        "{% macro only_a() %}'onlyA'{% endmacro %}\n" +
        "{% macro shadowed() %}'pkg_a'{% endmacro %}\n" +
        "{% macro both() %}'a'{% endmacro %}")
    put(dir, "packages/pb/macros/y.sql", "{% macro both() %}'b'{% endmacro %}")
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
    put(dir, "packages.yml", "packages:\n  - local: packages/ghost\n")
    assertThrows[IllegalArgumentException](ProjectLoader.load(dir.toString))
  }

  test("packages.yml: local entries load, network entries refuse") {
    val dir = Files.createTempDirectory("graft_pkgyml")
    put(dir, "dbt_project.yml", "name: pkgyml\n")
    put(dir, "models/m.sql", "SELECT {{ vendored.tag() }} AS a, {{ fmt_yml.hi() }} AS b")
    // a vendored dbt-style package declared the dbt-native way
    put(dir, "vendor/vendored/macros/v.sql", "{% macro tag() %}'yml'{% endmacro %}")
    put(dir, "pkgs/fmt_yml/macros/f.sql", "{% macro hi() %}'yml'{% endmacro %}")
    put(dir, "packages.yml",
      """packages:
        |  - local: vendor/vendored
        |  - local: pkgs/fmt_yml
        |""".stripMargin)
    val (project, _) = ProjectLoader.load(dir.toString)
    assert(project.macros.contains("vendored.tag"))
    assert(project.macros("fmt_yml.hi").body == "'yml'")
    // a hub/git entry fails loudly instead of silently skipping
    put(dir, "packages.yml",
      """packages:
        |  - package: dbt-labs/dbt_utils
        |    version: 1.1.1
        |""".stripMargin)
    val err = intercept[IllegalArgumentException](ProjectLoader.load(dir.toString))
    assert(err.getMessage.contains("local:"), err.getMessage)
    put(dir, "packages.yml",
      "packages:\n  - git: https://example.com/repo.git\n    revision: main\n")
    assertThrows[IllegalArgumentException](ProjectLoader.load(dir.toString))
    // a local entry pointing nowhere fails at load time
    put(dir, "packages.yml", "packages:\n  - local: nope/missing\n")
    assertThrows[IllegalArgumentException](ProjectLoader.load(dir.toString))
  }

  test("packages.yml: hub/git entries load from a vendored packages/ mirror") {
    val dir = Files.createTempDirectory("graft_pkgmirror")
    put(dir, "dbt_project.yml", "name: pkgmirror\n")
    put(dir, "models/m.sql", "SELECT {{ dbt_utils.greet() }} AS a")
    // the `dbt deps`-output convention: the remote package is checked in
    // under packages/<basename>, so the hub entry resolves OFFLINE
    put(dir, "packages/dbt_utils/macros/g.sql",
      "{% macro greet() %}'hello'{% endmacro %}")
    put(dir, "packages.yml",
      """packages:
        |  - package: dbt-labs/dbt_utils
        |    version: 1.1.1
        |""".stripMargin)
    val (project, _) = ProjectLoader.load(dir.toString)
    assert(project.macros("dbt_utils.greet").body == "'hello'")
    // the git spelling resolves through the same mirror (basename of the
    // repo URL, .git stripped)
    put(dir, "packages.yml",
      "packages:\n  - git: https://example.com/dbt_utils.git\n")
    assert(ProjectLoader.load(dir.toString)._1.macros
      .contains("dbt_utils.greet"))
    // no mirror -> the refusal names the exact directory that would fix it
    put(dir, "packages.yml", "packages:\n  - package: other-org/other_pkg\n")
    val err = intercept[IllegalArgumentException](
      ProjectLoader.load(dir.toString))
    assert(err.getMessage.contains("packages/other_pkg"), err.getMessage)
    // the entry's kind key need not come first in its mapping
    put(dir, "packages.yml", "packages:\n  - version: 1.1.1\n" +
      "    package: other-org/other_pkg\n")
    val err2 = intercept[IllegalArgumentException](
      ProjectLoader.load(dir.toString))
    assert(err2.getMessage.contains("packages/other_pkg"), err2.getMessage)
    // a trailing comment is not part of a local path
    put(dir, "models/m.sql", "SELECT {{ vendored.tag() }} AS a")
    put(dir, "vendor/vendored/macros/v.sql",
      "{% macro tag() %}'local'{% endmacro %}")
    put(dir, "packages.yml",
      "packages:\n  - local: vendor/vendored  # pinned\n")
    assert(ProjectLoader.load(dir.toString)._1.macros
      .contains("vendored.tag"))
  }

  test("yaml errors name their file and line") {
    val dir = Files.createTempDirectory("graft_yamlerr")
    put(dir, "dbt_project.yml", "name: yamlerr\n")
    put(dir, "models/m.sql", "SELECT 1 AS a")
    put(dir, "models/schema.yml",
      "version: 2\nmodels:\n  - name: m\n   description: bad indent\n")
    val err = intercept[IllegalArgumentException](
      ProjectLoader.load(dir.toString))
    assert("""schema\.yml line \d+""".r.findFirstIn(err.getMessage).isDefined,
      err.getMessage)
  }

  test("docs blocks: {% docs %} markdown feeds doc() description sites") {
    val dir = Files.createTempDirectory("graft_docs")
    put(dir, "dbt_project.yml", "name: docsdemo\n")
    put(dir, "models/m.sql", "SELECT 1 AS one")
    put(dir, "models/overview.md",
      """{% docs m_doc %}
        |One row, one column. **markdown** allowed.
        |{% enddocs %}
        |
        |{% docs other %}unused{% enddocs %}
        |""".stripMargin)
    def describe(text: String): Unit = put(dir, "models/schema.yml",
      s"version: 2\nmodels:\n  - name: m\n    description: \"$text\"\n")
    describe("{{ doc('m_doc') }}")
    val (project, _) = ProjectLoader.load(dir.toString)
    assert(project.descriptions("m")
      == "One row, one column. **markdown** allowed.")
    // unknown doc name fails at load time
    describe("{{ doc('nope') }}")
    val err = intercept[IllegalArgumentException](ProjectLoader.load(dir.toString))
    assert(err.getMessage.contains("m_doc"), err.getMessage) // lists defined
    // duplicate docs block names fail at load time
    describe("plain")
    put(dir, "docs/dup.md", "{% docs m_doc %}again{% enddocs %}")
    assertThrows[IllegalArgumentException](ProjectLoader.load(dir.toString))
  }

  test("ephemeral models never materialize to the warehouse") {
    val (project, _) = ProjectLoader.load(demo)
    val engine = new Engine(spark, project,
      Target(Files.createTempDirectory("graft_demo2").toString))
    engine.build()
    assert(!engine.warehouse.exists(engine.relationFor("eph_regions")))
    assert(engine.readModel("eph_regions").count() == 5) // compiled on demand
  }

  test("dbt_utils battery runs and passes in the demo build; each kind can fail") {
    val (project, _) = ProjectLoader.load(demo)
    val kinds = Seq("accepted_range", "unique_combination_of_columns",
      "expression_is_true", "not_accepted_values", "not_null_proportion",
      "at_least_one", "not_constant", "sequential_values")
    val demoEngine = new Engine(spark, project,
      Target(Files.createTempDirectory("graft_demo_utils").toString))
    val (_, demoTests) = demoEngine.build(
      Some(Set("stg_nations", "nation_region", "orders_incr")))
    val utils = demoTests.filter(_.name.startsWith("dbt_utils_"))
    assert(kinds.forall(k => utils.exists(_.name.startsWith(s"dbt_utils_$k"))),
      utils.map(_.name).toString)
    assert(utils.size == 8 && utils.forall(_.status == "pass"), utils.toString)

    // all nine kinds over rows that break each of them
    val dir = Files.createTempDirectory("graft_utils_fail")
    put(dir, "dbt_project.yml", "name: utils_fail\n")
    put(dir, "models/r.sql",
      """SELECT * FROM VALUES
        |  (1, 'a', 0, 10, 5, 1, CAST(NULL AS INT)),
        |  (2, 'a', 5, 15, NULL, 1, NULL),
        |  (4, 'a', 20, 30, NULL, 1, NULL)
        |  AS t(id, grp, lo, hi, v, k, nothing)""".stripMargin)
    def schema(extraTest: String): Unit = put(dir, "models/schema.yml",
      s"""version: 2
         |models:
         |  - name: r
         |    tests:
         |      - dbt_utils.unique_combination_of_columns:
         |          combination_of_columns: [grp, k]
         |      - dbt_utils.expression_is_true:
         |          expression: "lo > 0"
         |      - dbt_utils.mutually_exclusive_ranges:
         |          lower_bound_column: lo
         |          upper_bound_column: hi
         |          partition_by: grp
         |    columns:
         |      - name: id
         |        tests:
         |          - dbt_utils.sequential_values
         |      - name: grp
         |        tests:
         |          - dbt_utils.not_accepted_values:
         |              values: ['a']
         |      - name: k
         |        tests:
         |          - dbt_utils.not_constant
         |      - name: nothing
         |        tests:
         |          - dbt_utils.at_least_one
         |      - name: v
         |        tests:
         |          - dbt_utils.not_null_proportion:
         |              at_least: 0.9
         |          - dbt_utils.accepted_range:
         |              min_value: 0
         |              max_value: 4
         |$extraTest""".stripMargin)
    schema("")
    val (p, _) = ProjectLoader.load(dir.toString)
    assert(p.tests.size == 9)
    val e = new Engine(spark, p,
      Target(Files.createTempDirectory("graft_utils_fail_wh").toString,
        threads = 1))
    // the build materializes r, then stops at its first failing test;
    // run every test against the built model
    e.build()
    val tests = p.tests.map(e.runTest)
    assert(tests.forall(t => t.status == "error" && t.failures > 0),
      tests.toString)

    // an argument the engine cannot honour refuses at load, naming it
    Seq("          - dbt_utils.sequential_values:\n              datepart: day\n"
        -> "datepart",
      "          - dbt_utils.accepted_range:\n              min_value: zero\n"
        -> "min_value",
      "          - dbt_utils.not_null_proportion:\n              at_least: 1.5\n"
        -> "at_least").foreach { case (extra, key) =>
      schema(extra)
      val err = intercept[IllegalArgumentException](ProjectLoader.load(dir.toString))
      assert(err.getMessage.contains(key), err.getMessage)
    }
  }

  test("dependencies.yml backs a two-arg ref built against an upstream root") {
    val upRoot = Files.createTempDirectory("graft_dep_up_wh").toString
    val up = Files.createTempDirectory("graft_dep_up")
    put(up, "dbt_project.yml", "name: up\n")
    put(up, "models/sources.yml", tpchSources("nation"))
    put(up, "models/base.sql",
      "SELECT n_nationkey, n_regionkey FROM {{ source('tpch', 'nation') }}")
    val (upProject, _) = ProjectLoader.load(up.toString)
    require(new Engine(spark, upProject, Target(upRoot)).build()._1
      .forall(_.status == "success"))

    val down = Files.createTempDirectory("graft_dep_down")
    put(down, "dbt_project.yml", "name: down\n")
    put(down, "models/agg.sql",
      """SELECT n_regionkey, count(*) AS n
        |FROM {{ ref('up', 'base') }} GROUP BY n_regionkey""".stripMargin)
    put(down, "dependencies.yml",
      s"projects:\n  - name: up\n    warehouse_root: $upRoot\n")
    val (p, _) = ProjectLoader.load(down.toString)
    assert(p.dependencies == Seq(DependencyDef("up", upRoot, "analytics", "main")))
    val e = new Engine(spark, p, Target(Files.createTempDirectory(
      "graft_dep_down_wh").toString))
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.readModel("agg").count() == 5)
    // the upstream's root is required
    put(down, "dependencies.yml", "projects:\n  - name: up\n")
    val err = intercept[IllegalArgumentException](ProjectLoader.load(down.toString))
    assert(err.getMessage.contains("warehouse_root"), err.getMessage)
  }

  test("tags add up over dbt_project.yml, schema.yml and in-file config()") {
    val dir = Files.createTempDirectory("graft_demo_tags")
    val walk = Files.walk(Paths.get(demo))
    try walk.iterator().asScala.foreach { p =>
      val to = dir.resolve(Paths.get(demo).relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    } finally walk.close()
    val schema = dir.resolve("models/schema.yml")
    val stg = "  - name: stg_nations\n"
    put(dir, "models/schema.yml", Files.readString(schema)
      .replace(stg, stg + "    config:\n      tags: [ci]\n"))
    val root = Files.createTempDirectory("graft_demo_tags_wh").toString
    def engine(d: String) = new Engine(spark, ProjectLoader.load(d)._1, Target(root))
    val edited = engine(dir.toString)
    // stg_nations.sql declares config(tags='staging')
    assert(edited.selectNodes("tag:ci") == Set("stg_nations"))
    assert(edited.selectNodes("tag:staging") == Set("stg_nations"))
    val (before, after) = (s"$dir/before.json", s"$dir/after.json")
    engine(demo).writeManifest(before)
    edited.writeManifest(after)
    assert(StateSelector.modifiedPlus(after, before).contains("stg_nations"))
    assert(StateSelector.modified(after, before) == Set("stg_nations"))
    // a project-level tag joins both
    put(dir, "dbt_project.yml", Files.readString(dir.resolve("dbt_project.yml")) +
      "models:\n  demo_ci_spark:\n    +tags: [nightly]\n")
    val tree = engine(dir.toString)
    Seq("tag:ci", "tag:staging").foreach(t =>
      assert(tree.selectNodes(t) == Set("stg_nations"), t))
    assert(tree.selectNodes("tag:nightly").contains("stg_nations"))
  }

  test("src/main loads one project format: no .conf file, no second loader") {
    // the retired line-based format was spread over these files; any of
    // them reappearing means a second project loader is growing back
    val banned = Seq("project", "sources", "tests", "exposures",
      "dependencies", "metrics", "selectors", "descriptions", "hooks",
      "packages").map(_ + ".conf") :+ "DbtProjectLoader"
    val walk = Files.walk(Paths.get("src/main"))
    val sources = try walk.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty, "src/main not found from the test working dir")
    val hits = for {
      p <- sources
      text = new String(Files.readAllBytes(p), "UTF-8")
      b <- banned if text.contains(b)
    } yield s"$p: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
