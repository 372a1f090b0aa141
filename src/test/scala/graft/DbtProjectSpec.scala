package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.run.{Engine, ProjectLoader, Target}

/** dbt-NATIVE project ingestion ([[graft.run.ProjectLoader]]): a
  * directory with dbt_project.yml loads and BUILDS — including the
  * reference repo's own checkout, whose flagship model runs verbatim
  * against a parquet twin of its BigQuery source.
  */
class DbtProjectSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def put(dir: java.nio.file.Path, name: String, text: String): Unit = {
    val p = dir.resolve(name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, text); ()
  }

  test("the reference checkout parses: name, models, sources, config tree") {
    val (p, conf) = ProjectLoader.load("/root/reference")
    assert(p.name == "demo_ci" && conf.get("profile").contains("demo_ci"))
    assert(p.models.map(_.name).toSet ==
      Set("aggr_repo_languages", "test_model"))
    // the dbt_project.yml tree (`models: demo_ci: +materialized: table`)
    // lands on every model
    assert(p.models.forall(_.config.materialized == "table"))
    val Seq(src) = p.sources
    assert(src.sourceName == "src_github" && src.tableName == "languages")
    // the jinja database survives verbatim (env-dependent, resolved never
    // — the BigQuery coordinates aren't readable here anyway)
    assert(src.path.contains("{{ env_var('DBT_CI_BIGQUERY_PROJECT_ID') }}"))
  }

  test("the reference flagship model BUILDS verbatim against a parquet source twin") {
    // the BigQuery `github_repos.languages` twin (FIXTURES.md §B shape)
    val langs = graft.ops.Flagship.languages(spark, sf)
    val twin = Files.createTempDirectory("graft_langs")
    langs.write.mode("overwrite").parquet(s"$twin/languages.parquet")
    // a copy of the reference project with ONE addition: the public
    // dbt-duckdb `meta: external_location` convention pointing the
    // source at the twin (the model and dbt_project.yml are byte-copies)
    val proj = Files.createTempDirectory("graft_refproj")
    put(proj, "dbt_project.yml",
      Files.readString(java.nio.file.Paths.get("/root/reference/dbt_project.yml")))
    put(proj, "models/aggr_repo_languages.sql",
      Files.readString(java.nio.file.Paths.get(
        "/root/reference/models/aggr_repo_languages.sql")))
    put(proj, "models/sources.yml",
      s"""version: 2
         |
         |sources:
         |  - name: src_github
         |    schema: github
         |    tables:
         |      - name: languages
         |        meta:
         |          external_location: $twin/languages.parquet
         |""".stripMargin)
    val (p, _) = ProjectLoader.load(proj.toString)
    val e = new Engine(spark, p, Target(
      Files.createTempDirectory("graft_refwh").toString, threads = 1))
    assert(e.build()._1.forall(_.status == "success"))
    val got = e.readModel("aggr_repo_languages").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = langs
      .select(col("repo_name"), explode(col("language")).as("lang"))
      .groupBy(col("lang.name")).agg(countDistinct("repo_name").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want && got.nonEmpty)
  }

  test("full dbt-native surface: config tree, schema tests, snapshots, singular tests, seeds, hooks, exposures, docs") {
    val proj = Files.createTempDirectory("graft_dbtfull")
    put(proj, "dbt_project.yml",
      """name: 'full_demo'
        |config-version: 2
        |vars:
        |  status_open: O
        |on-run-start:
        |  - "SELECT 1"
        |models:
        |  full_demo:
        |    +materialized: table
        |    marts:
        |      +materialized: view
        |seeds:
        |  full_demo:
        |    ratings:
        |      +column_types: {score: int}
        |""".stripMargin)
    put(proj, "models/staging/stg_orders.sql",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM {{ source('tpch', 'orders') }}
        |WHERE o_orderstatus != '{{ var('status_open') }}' OR 1 = 1""".stripMargin)
    put(proj, "models/marts/order_stats.sql",
      """SELECT o_orderstatus, count(*) AS n
        |FROM {{ ref('stg_orders') }} GROUP BY o_orderstatus""".stripMargin)
    put(proj, "models/sources.yml",
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
         |          error_after: {count: 3, period: day}
         |""".stripMargin)
    put(proj, "models/schema.yml",
      """version: 2
        |models:
        |  - name: stg_orders
        |    description: "{{ doc('stg_doc') }}"
        |    config:
        |      materialized: table
        |    columns:
        |      - name: o_orderkey
        |        description: PK
        |        tests:
        |          - unique
        |          - not_null
        |      - name: o_orderstatus
        |        tests:
        |          - accepted_values:
        |              values: ['O', 'F', 'P']
        |              severity: warn
        |  - name: order_stats
        |    columns:
        |      - name: o_orderstatus
        |        tests:
        |          - relationships:
        |              to: ref('stg_orders')
        |              field: o_orderstatus
        |exposures:
        |  - name: weekly_dash
        |    depends_on:
        |      - ref('order_stats')
        |    owner:
        |      name: data-team
        |    url: https://example.com/dash
        |""".stripMargin)
    put(proj, "models/docs.md",
      "{% docs stg_doc %}Staged orders{% enddocs %}")
    put(proj, "seeds/ratings.csv", "o_orderstatus,score\nO,1\nF,2\nP,3\n")
    put(proj, "snapshots/orders_snap.sql",
      """{% snapshot orders_snap %}
        |{{ config(unique_key='o_orderkey', strategy='timestamp', updated_at='o_orderdate') }}
        |SELECT o_orderkey, o_orderstatus, o_orderdate
        |FROM {{ source('tpch', 'orders') }}
        |{% endsnapshot %}
        |""".stripMargin)
    put(proj, "tests/no_negative_totals.sql",
      """SELECT * FROM {{ ref('stg_orders') }} WHERE o_totalprice < 0""".stripMargin)
    put(proj, "macros/fmt.sql",
      "{% macro two_dp(c) %}round({{ c }}, 2){% endmacro %}")
    put(proj, "analysis/top_status.sql",
      "SELECT o_orderstatus FROM {{ ref('order_stats') }} ORDER BY n DESC")

    val (p, _) = ProjectLoader.load(proj.toString)
    assert(p.name == "full_demo")
    // config precedence: tree says marts=view, staging inherits table;
    // schema.yml config (table) wins for stg_orders regardless
    assert(p.models.find(_.name == "order_stats").get
      .config.materialized == "view")
    assert(p.models.find(_.name == "stg_orders").get
      .config.materialized == "table")
    assert(p.vars("status_open") == "O" && p.onRunStart == Seq("SELECT 1"))
    // sources with freshness hours and the external location
    val Seq(src) = p.sources
    assert(src.path == s"$sf/orders.parquet" &&
      src.warnAfterH.contains(24) && src.errorAfterH.contains(72) &&
      src.loadedAtField.contains("o_orderdate"))
    // docs block resolved into the description
    assert(p.descriptions("stg_orders") == "Staged orders")
    assert(p.descriptions("stg_orders.o_orderkey") == "PK")
    // declared tests: 3 schema + 1 relationship + 1 singular
    assert(p.tests.size == 5, p.tests.map(_.name).toString)
    assert(p.tests.exists(t => t.name == "accepted_values_stg_orders_o_orderstatus"
      && t.severity == "warn"))
    val singular = p.tests.find(_.name == "no_negative_totals").get
    assert(singular.sql.isDefined && singular.modelName == "stg_orders")
    // seeds with tree column_types; snapshots from the block; the rest
    assert(p.seeds == Seq(graft.run.SeedDef(
      "ratings", s"$proj/seeds/ratings.csv", Map("score" -> "int"))))
    assert(p.snapshots.map(_.name) == Seq("orders_snap"))
    assert(p.snapshots.head.keys == Seq("o_orderkey"))
    assert(p.exposures.map(_.name) == Seq("weekly_dash") &&
      p.exposures.head.dependsOn == Seq("order_stats"))
    assert(p.macros.contains("two_dp") && p.analyses.map(_.name) == Seq("top_status"))
    // selectors.yml (scalar-definition form)
    put(proj, "selectors.yml",
      """selectors:
        |  - name: staging_only
        |    definition: "stg_orders"
        |""".stripMargin)
    val (p2, _) = ProjectLoader.load(proj.toString)
    assert(p2.selectors == Seq(graft.run.SelectorDef("staging_only", "stg_orders")))

    // ...and the whole thing BUILDS: models, snapshot, tests green
    val e = new Engine(spark, p, Target(
      Files.createTempDirectory("graft_dbtfull_wh").toString, threads = 2))
    val (nodes, tests) = e.build()
    assert(nodes.forall(_.status == "success"), nodes.toString)
    assert(tests.forall(t => t.status == "pass" || t.status == "warn"),
      tests.toString)
    assert(tests.exists(_.name == "no_negative_totals"))
    assert(e.readModel("order_stats").count() == 3)
    assert(e.readModel("ratings").schema("score").dataType.typeName == "integer")
  }

  test("profiles.yml: the reference's own targets resolve through the CLI surface") {
    import graft.tools.GraftCli
    // verbatim reference file at test_profiles/profiles.yml
    val pc = GraftCli.profilesConf("/root/reference",
      Some("/root/reference/test_profiles"), Some("demo_ci"))
    assert(pc("target") == "ci")
    assert(pc("target.ci.schema") == "dbt_ci" && pc("target.ci.threads") == "4")
    // the PR-namespaced target keeps its env template for resolvedSchema
    assert(pc("target.ci-with-pr.schema")
      == "dbt_ci_pr_{{ env_var('PR_NUMBER') }}")
    // resolveTargetConf over the merged map: default target, then --target
    val tc = GraftCli.resolveTargetConf(pc, None)
    assert(tc("schema").contains("dbt_ci"))
    val tc2 = GraftCli.resolveTargetConf(pc, Some("ci-with-pr"))
    assert(tc2("schema").exists(_.startsWith("dbt_ci_pr_")))
    // and the PR schema template errors without the env var, resolves with it
    val t = Target("/tmp/x", schema = tc2("schema").get,
      env = Map("PR_NUMBER" -> "77"))
    assert(t.resolvedSchema == "dbt_ci_pr_77")
    // unknown profile fails loudly
    intercept[IllegalArgumentException] {
      GraftCli.profilesConf("/root/reference",
        Some("/root/reference/test_profiles"), Some("nope"))
    }
    // absent file is simply empty (CLI falls back to conf defaults)
    assert(GraftCli.profilesConf("/tmp", None, Some("x")).isEmpty)
  }

  test("profiles.yml with anchor merge keys: shared target defaults") {
    import graft.tools.GraftCli
    val dir = Files.createTempDirectory("graft_prof_anchor")
    put(dir, "profiles.yml",
      """defaults: &defaults
        |  type: spark
        |  threads: 4
        |  schema: dbt_ci
        |anchored:
        |  target: dev
        |  outputs:
        |    dev:
        |      <<: *defaults
        |      schema: dev_schema
        |    prod:
        |      <<: *defaults
        |      threads: 16
        |""".stripMargin)
    val pc = GraftCli.profilesConf("/tmp", Some(dir.toString),
      Some("anchored"))
    assert(pc("target") == "dev")
    assert(pc("target.dev.schema") == "dev_schema") // own key wins
    assert(pc("target.dev.threads") == "4") // merged default
    assert(pc("target.prod.schema") == "dbt_ci")
    assert(pc("target.prod.threads") == "16")
  }

  test("dbt_project.yml with anchors + block-scalar hooks loads and builds") {
    val proj = Files.createTempDirectory("graft_anchor_proj")
    put(proj, "dbt_project.yml",
      """name: anchor_demo
        |shared_vars: &sv
        |  cutoff: '10'
        |models:
        |  anchor_demo:
        |    +materialized: table
        |vars:
        |  <<: *sv
        |""".stripMargin)
    put(proj, "models/small_nations.sql",
      """SELECT n_nationkey, n_name FROM {{ source('tpch', 'nation') }}
        |WHERE n_nationkey < {{ var('cutoff') }}""".stripMargin)
    put(proj, "models/schema.yml",
      s"""version: 2
         |sources:
         |  - name: tpch
         |    tables:
         |      - name: nation
         |        meta:
         |          external_location: $sf/nation.parquet
         |models:
         |  - name: small_nations
         |    description: |
         |      Nations below the configured cutoff.
         |      Spans two lines.
         |""".stripMargin)
    val (p, _) = ProjectLoader.load(proj.toString)
    assert(p.vars.get("cutoff").contains("10"))
    // `|` clip mode keeps exactly one trailing newline (YAML spec)
    assert(p.descriptions("small_nations")
      == "Nations below the configured cutoff.\nSpans two lines.\n")
    val e = new Engine(spark, p,
      Target(Files.createTempDirectory("graft_anchor_wh").toString))
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.readModel("small_nations").count() == 10)
  }

  test("unit_tests yml: mocked given rows run the model SQL, failures skip the cone") {
    val proj = Files.createTempDirectory("graft_unit_proj")
    put(proj, "dbt_project.yml", "name: unit_demo\n")
    put(proj, "models/staging.sql",
      "SELECT n_nationkey AS id, n_name AS name " +
        "FROM {{ source('tpch', 'nation') }}")
    put(proj, "models/shouty.sql",
      """SELECT id, upper(name) AS shout
        |FROM {{ ref('staging') }} WHERE id < 100""".stripMargin)
    put(proj, "models/downstream.sql",
      "SELECT count(*) AS n FROM {{ ref('shouty') }}")
    put(proj, "models/schema.yml",
      s"""version: 2
         |sources:
         |  - name: tpch
         |    tables:
         |      - name: nation
         |        meta:
         |          external_location: $sf/nation.parquet
         |unit_tests:
         |  - name: shouty_uppercases
         |    model: shouty
         |    given:
         |      - input: ref('staging')
         |        rows:
         |          - {id: 1, name: algeria}
         |          - {id: 200, name: filtered_out}
         |    expect:
         |      rows:
         |        - {id: 1, shout: ALGERIA}
         |""".stripMargin)
    val (p, _) = ProjectLoader.load(proj.toString)
    assert(p.unitTests.size == 1)
    assert(p.unitTests.head.given.keySet == Set("staging"))
    val e = new Engine(spark, p,
      Target(Files.createTempDirectory("graft_unit_wh").toString))
    val (nodes, tests) = e.build()
    assert(tests.exists(t => t.name == "shouty_uppercases" &&
      t.status == "pass"), tests.toString)
    assert(nodes.forall(_.status == "success"), nodes.toString)

    // a FAILING unit test skips the model AND its descendants
    put(proj, "models/schema.yml",
      s"""version: 2
         |sources:
         |  - name: tpch
         |    tables:
         |      - name: nation
         |        meta:
         |          external_location: $sf/nation.parquet
         |unit_tests:
         |  - name: shouty_uppercases
         |    model: shouty
         |    given:
         |      - input: ref('staging')
         |        rows:
         |          - {id: 1, name: algeria}
         |    expect:
         |      rows:
         |        - {id: 1, shout: lowercase_is_wrong}
         |""".stripMargin)
    val (p2, _) = ProjectLoader.load(proj.toString)
    val e2 = new Engine(spark, p2,
      Target(Files.createTempDirectory("graft_unit_wh2").toString))
    val (nodes2, tests2) = e2.build()
    assert(tests2.exists(t => t.name == "shouty_uppercases" &&
      t.status == "error"), tests2.toString)
    assert(nodes2.find(_.name == "shouty").exists(_.status == "skipped"))
    assert(nodes2.find(_.name == "downstream").exists(_.status == "skipped"))
    assert(nodes2.find(_.name == "staging").exists(_.status == "success"))
  }

  test("unit_tests: csv fixtures and overrides (vars/env_vars)") {
    val proj = Files.createTempDirectory("graft_unit_csv")
    put(proj, "dbt_project.yml", "name: unitcsv\n")
    put(proj, "models/staging.sql",
      "SELECT n_nationkey AS id, n_name AS name " +
        "FROM {{ source('tpch', 'nation') }}")
    put(proj, "models/capped.sql",
      """SELECT id, name FROM {{ ref('staging') }}
        |WHERE id < {{ var('cap', '5') }}
        |  AND name != '{{ env_var('SKIP_NAME', 'none') }}'""".stripMargin)
    put(proj, "models/schema.yml",
      s"""version: 2
         |sources:
         |  - name: tpch
         |    tables:
         |      - name: nation
         |        meta:
         |          external_location: $sf/nation.parquet
         |unit_tests:
         |  - name: capped_respects_overrides
         |    model: capped
         |    overrides:
         |      vars:
         |        cap: '3'
         |      env_vars:
         |        SKIP_NAME: beta
         |    given:
         |      - input: ref('staging')
         |        format: csv
         |        rows: |
         |          id,name
         |          1,alpha
         |          2,beta
         |          7,gamma
         |    expect:
         |      format: csv
         |      rows: |
         |        id,name
         |        1,alpha
         |""".stripMargin)
    val (p, _) = ProjectLoader.load(proj.toString)
    val ut = p.unitTests.head
    assert(ut.vars == Map("cap" -> "3"))
    assert(ut.env == Map("SKIP_NAME" -> "beta"))
    assert(ut.given("staging").size == 3)
    assert(ut.expect == Seq(Map("id" -> "1", "name" -> "alpha")))
    val e = new Engine(spark, p,
      Target(Files.createTempDirectory("graft_unitcsv_wh").toString))
    val (_, tests) = e.build()
    assert(tests.exists(t => t.name == "capped_respects_overrides" &&
      t.status == "pass"), tests.toString)
    // csv edge cases: quoted cells with commas and escaped quotes parse;
    // an all-empty column still exists (as NULLs) because the HEADER
    // defines the column set; a typo'd rows key refuses loudly
    put(proj, "models/passthru.sql",
      "SELECT id, label, note FROM {{ ref('staging') }}")
    put(proj, "models/schema.yml",
      s"""version: 2
         |sources:
         |  - name: tpch
         |    tables:
         |      - name: nation
         |        meta:
         |          external_location: $sf/nation.parquet
         |unit_tests:
         |  - name: csv_quotes
         |    model: passthru
         |    given:
         |      - input: ref('staging')
         |        format: csv
         |        rows: |
         |          id,label,note
         |          1,"Smith, John",
         |          2,"says ""hi"" there",
         |    expect:
         |      format: csv
         |      rows: |
         |        id,label,note
         |        1,"Smith, John",
         |        2,"says ""hi"" there",
         |""".stripMargin)
    val (p3, _) = ProjectLoader.load(proj.toString)
    val utq = p3.unitTests.head
    assert(utq.given("staging").head("label") == "Smith, John")
    assert(utq.given("staging")(1)("label") == "says \"hi\" there")
    assert(utq.given("staging").head.contains("note")) // all-empty col kept
    assert(utq.given("staging").head("note") == null)
    val e3 = new Engine(spark, p3,
      Target(Files.createTempDirectory("graft_unitcsv_wh3").toString))
    assert(e3.build()._2.exists(t => t.name == "csv_quotes" &&
      t.status == "pass"), e3.build()._2.toString)
    put(proj, "models/schema.yml",
      s"""version: 2
         |sources:
         |  - name: tpch
         |    tables:
         |      - name: nation
         |        meta:
         |          external_location: $sf/nation.parquet
         |unit_tests:
         |  - name: typo
         |    model: passthru
         |    given:
         |      - input: ref('staging')
         |        rows:
         |          - {id: 1}
         |    expect:
         |      rowz:
         |        - {id: 1}
         |""".stripMargin)
    val typoErr = intercept[IllegalArgumentException](
      ProjectLoader.load(proj.toString))
    assert(typoErr.getMessage.contains("rows"), typoErr.getMessage)

    // overrides.macros refuses loudly
    put(proj, "models/schema.yml",
      s"""version: 2
         |sources:
         |  - name: tpch
         |    tables:
         |      - name: nation
         |        meta:
         |          external_location: $sf/nation.parquet
         |unit_tests:
         |  - name: bad
         |    model: capped
         |    overrides:
         |      macros:
         |        is_incremental: false
         |    given: []
         |    expect:
         |      rows: []
         |""".stripMargin)
    val err = intercept[IllegalArgumentException](
      ProjectLoader.load(proj.toString))
    assert(err.getMessage.contains("overrides.macros"), err.getMessage)
  }

  test("unit_tests: format sql fixtures and severity warn") {
    val proj = Files.createTempDirectory("graft_unit_sql")
    put(proj, "dbt_project.yml", "name: unitsql\n")
    put(proj, "models/staging.sql",
      "SELECT n_nationkey AS id, n_name AS name " +
        "FROM {{ source('tpch', 'nation') }}")
    put(proj, "models/doubled.sql",
      "SELECT id, id * 2 AS id2 FROM {{ ref('staging') }}")
    put(proj, "models/downstream.sql",
      "SELECT count(*) AS n FROM {{ ref('doubled') }}")
    def schemaYml(utBlock: String): String =
      s"""version: 2
         |sources:
         |  - name: tpch
         |    tables:
         |      - name: nation
         |        meta:
         |          external_location: $sf/nation.parquet
         |unit_tests:
         |$utBlock""".stripMargin
    // format: sql on BOTH given and expect — the fixture is an inline
    // SELECT the engine runs as the mock/expected frame
    put(proj, "models/schema.yml", schemaYml(
      """  - name: sql_fixtures
        |    model: doubled
        |    given:
        |      - input: ref('staging')
        |        format: sql
        |        rows: |
        |          SELECT 1 AS id, 'a' AS name
        |          UNION ALL SELECT 4 AS id, 'b' AS name
        |    expect:
        |      format: sql
        |      rows: |
        |        SELECT 1 AS id, 2 AS id2 UNION ALL SELECT 4 AS id, 8 AS id2
        |""".stripMargin))
    val (p, _) = ProjectLoader.load(proj.toString)
    val ut = p.unitTests.head
    assert(ut.givenSql.contains("staging") && ut.expectSql.isDefined)
    val e = new Engine(spark, p,
      Target(Files.createTempDirectory("graft_unitsql_wh").toString))
    val (_, tests) = e.build()
    assert(tests.exists(t => t.name == "sql_fixtures" && t.status == "pass"),
      tests.toString)
    // severity: warn — a MISMATCH reports 'warn' and the model's cone
    // still builds (an error-severity mismatch would skip it)
    put(proj, "models/schema.yml", schemaYml(
      """  - name: warn_mismatch
        |    model: doubled
        |    config:
        |      severity: warn
        |    given:
        |      - input: ref('staging')
        |        rows:
        |          - {id: 1, name: a}
        |    expect:
        |      rows:
        |        - {id: 1, id2: 99}
        |""".stripMargin))
    val (p2, _) = ProjectLoader.load(proj.toString)
    assert(p2.unitTests.head.severity == "warn")
    val e2 = new Engine(spark, p2,
      Target(Files.createTempDirectory("graft_unitsql_wh2").toString))
    val (nodes2, tests2) = e2.build()
    assert(tests2.exists(t => t.name == "warn_mismatch" && t.status == "warn"),
      tests2.toString)
    assert(nodes2.filter(n => Set("doubled", "downstream").contains(n.name))
      .forall(_.status == "success"), nodes2.toString)
    // an invalid severity refuses loudly
    put(proj, "models/schema.yml", schemaYml(
      """  - name: bad_sev
        |    model: doubled
        |    severity: whatever
        |    given: []
        |    expect:
        |      rows: []
        |""".stripMargin))
    val err = intercept[IllegalArgumentException](
      ProjectLoader.load(proj.toString))
    assert(err.getMessage.contains("severity"), err.getMessage)
  }

  test("source-level require_partition_filter loads and enforces") {
    val proj = Files.createTempDirectory("graft_srcguard")
    put(proj, "dbt_project.yml", "name: srcguard\n")
    // a PARTITIONED parquet source dir (status=... layout)
    val srcDir = Files.createTempDirectory("graft_guarded_src")
    spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus")
      .parquet(srcDir.toString)
    def write(modelSql: String): Unit = {
      put(proj, "models/reader.sql", modelSql)
      put(proj, "models/schema.yml",
        s"""version: 2
           |sources:
           |  - name: tpch
           |    tables:
           |      - name: orders_part
           |        config:
           |          require_partition_filter: true
           |        meta:
           |          external_location: $srcDir
           |""".stripMargin)
    }
    write("SELECT count(*) AS n FROM {{ source('tpch','orders_part') }} " +
      "WHERE o_orderstatus = 'F'")
    val (p, _) = ProjectLoader.load(proj.toString)
    assert(p.sources.head.requirePartitionFilter)
    val e = new Engine(spark, p,
      Target(Files.createTempDirectory("graft_srcguard_wh").toString))
    assert(e.build()._1.forall(_.status == "success"))
    // unpredicated read of the guarded source refuses
    write("SELECT count(*) AS n FROM {{ source('tpch','orders_part') }}")
    val (p2, _) = ProjectLoader.load(proj.toString)
    val e2 = new Engine(spark, p2,
      Target(Files.createTempDirectory("graft_srcguard_wh2").toString))
    val bad = e2.build()._1.find(_.name == "reader").get
    assert(bad.status != "success" &&
      bad.error.exists(_.contains("require_partition_filter")), bad)
  }

  test("dbt 1.9 YAML snapshots: relation + config incl. new_record and meta renames") {
    val proj = Files.createTempDirectory("graft_ymlsnap")
    put(proj, "dbt_project.yml", "name: ymlsnap\n")
    put(proj, "models/schema.yml",
      s"""version: 2
         |sources:
         |  - name: tpch
         |    tables:
         |      - name: nation
         |        meta:
         |          external_location: $sf/nation.parquet
         |snapshots:
         |  - name: nation_snap
         |    relation: source('tpch', 'nation')
         |    config:
         |      unique_key: n_nationkey
         |      strategy: check
         |      check_cols: [n_name, n_regionkey]
         |      hard_deletes: new_record
         |      snapshot_meta_column_names:
         |        dbt_valid_from: start_ts
         |        dbt_valid_to: end_ts
         |""".stripMargin)
    // dbt's documented home for YAML snapshots is snapshots/*.yml
    // (snapshot-paths) — a second one there must load too
    Files.createDirectories(proj.resolve("snapshots"))
    put(proj, "snapshots/more.yml",
      """snapshots:
        |  - name: nation_snap2
        |    relation: source('tpch', 'nation')
        |    config:
        |      unique_key: n_nationkey
        |      strategy: check
        |      check_cols: [n_name]
        |""".stripMargin)
    val (p, _) = ProjectLoader.load(proj.toString)
    assert(p.snapshots.map(_.name).sorted == Seq("nation_snap", "nation_snap2"))
    val sn = p.snapshots.find(_.name == "nation_snap").get
    assert(sn.name == "nation_snap")
    assert(sn.keys == Seq("n_nationkey"))
    assert(sn.strategy == graft.core.SnapshotStrategy.Check(
      Some(Seq("n_name", "n_regionkey"))))
    assert(sn.hardDeletes.contains("new_record"))
    assert(sn.metaColumnNames == Map(
      "dbt_valid_from" -> "start_ts", "dbt_valid_to" -> "end_ts"))
    val e = new Engine(spark, p,
      Target(Files.createTempDirectory("graft_ymlsnap_wh").toString))
    assert(e.build()._1.forall(_.status == "success"))
    val out = e.warehouse.read(e.relationFor("nation_snap"))
    assert(out.count() == 25)
    assert(out.columns.contains("start_ts") && out.columns.contains("end_ts"))
    assert(out.columns.contains("dbt_is_deleted"))
    assert(!out.columns.contains("dbt_valid_from"))
  }

  test("generic {% test %} blocks bind at column AND model level with kwargs") {
    val proj = Files.createTempDirectory("graft_gentest_spec")
    put(proj, "dbt_project.yml", "name: gentest_demo\n")
    put(proj, "macros/asserts.sql",
      """{% test at_most(model, column_name, ceiling) %}
        |SELECT * FROM {{ model }} WHERE {{ column_name }} > {{ ceiling }}
        |{% endtest %}
        |{% test row_count_under(model, max_rows=1000000) %}
        |SELECT count(*) AS n FROM {{ model }} HAVING count(*) >= {{ max_rows }}
        |{% endtest %}""".stripMargin)
    put(proj, "models/m.sql",
      "SELECT * FROM (VALUES (1), (2), (9)) AS t(v)")
    put(proj, "models/schema.yml",
      """version: 2
        |models:
        |  - name: m
        |    tests:
        |      - row_count_under:
        |          max_rows: 3
        |          severity: warn
        |    columns:
        |      - name: v
        |        tests:
        |          - at_most:
        |              ceiling: 5
        |""".stripMargin)
    val (p, _) = ProjectLoader.load(proj.toString)
    assert(p.tests.map(_.name).toSet ==
      Set("row_count_under_m", "at_most_m_v"))
    // both render through the singular-test path: templated SQL present
    assert(p.tests.forall(_.sql.nonEmpty))
    val e = new Engine(spark, p, Target(
      Files.createTempDirectory("graft_gentest_wh").toString, threads = 1))
    val (nodes, trs) = e.build()
    // dbt build semantics: the failing error-severity test marks its
    // node error; the warn-severity one does not
    assert(nodes.map(n => n.name -> n.status) == Seq("m" -> "error"),
      nodes.toString)
    val byName = trs.map(t => t.name -> t).toMap
    // 3 rows >= max_rows 3 → 1 failing row, severity warn
    assert(byName("row_count_under_m").status == "warn" &&
      byName("row_count_under_m").failures == 1, byName.toString)
    // v=9 > ceiling 5 → 1 failure at default error severity
    assert(byName("at_most_m_v").status == "error" &&
      byName("at_most_m_v").failures == 1, byName.toString)
    // a column-shaped builtin at model level refuses loudly
    put(proj, "models/schema.yml",
      "version: 2\nmodels:\n  - name: m\n    tests:\n      - unique\n")
    val err = intercept[IllegalArgumentException](
      ProjectLoader.load(proj.toString))
    assert(err.getMessage.contains("needs a column"), err.getMessage)
  }

  test("model versions: per-version nodes, config/tests fan-out, pinned + latest refs") {
    val proj = Files.createTempDirectory("graft_versions_spec")
    put(proj, "dbt_project.yml", "name: vdemo\n")
    put(proj, "models/m_v1.sql", "SELECT 1 AS a")
    put(proj, "models/m_v2.sql", "SELECT 1 AS a, 2 AS b")
    put(proj, "models/use_latest.sql", "SELECT * FROM {{ ref('m') }}")
    put(proj, "models/use_pinned.sql",
      "SELECT * FROM {{ ref('m', version=1) }}")
    put(proj, "models/schema.yml",
      """version: 2
        |models:
        |  - name: m
        |    config:
        |      materialized: view
        |    versions:
        |      - v: 1
        |      - v: 2
        |    columns:
        |      - name: a
        |        tests: [not_null]
        |""".stripMargin)
    val (p, _) = ProjectLoader.load(proj.toString)
    assert(p.models.map(_.name).toSet ==
      Set("m_v1", "m_v2", "use_latest", "use_pinned"))
    // yml config + column tests fan out to EVERY version
    assert(p.models.filter(_.name.startsWith("m_v"))
      .forall(_.config.materialized == "view"))
    assert(p.tests.map(_.name).toSet ==
      Set("not_null_m_v1_a", "not_null_m_v2_a"))
    // unpinned ref rewrote to the latest (default = max v), pinned to v1
    assert(p.models.find(_.name == "use_latest")
      .exists(_.rawSql.contains("ref('m_v2')")))
    assert(p.models.find(_.name == "use_pinned")
      .exists(_.rawSql.contains("ref('m_v1')")))
    val e = new Engine(spark, p, Target(
      Files.createTempDirectory("graft_versions_wh").toString, threads = 1))
    val (nodes, trs) = e.build()
    assert(nodes.forall(_.status == "success"), nodes.toString)
    assert(trs.size == 2 && trs.forall(_.status == "pass"))
    assert(e.readModel("use_latest").columns.toSeq == Seq("a", "b"))
    assert(e.readModel("use_pinned").columns.toSeq == Seq("a"))
    // loud failures: a pin to a missing version, a bad latest_version
    put(proj, "models/use_pinned.sql",
      "SELECT * FROM {{ ref('m', v=9) }}")
    val e1 = intercept[IllegalArgumentException](
      ProjectLoader.load(proj.toString))
    assert(e1.getMessage.contains("no such version"), e1.getMessage)
    put(proj, "models/use_pinned.sql", "SELECT 1 AS a")
    put(proj, "models/schema.yml",
      """version: 2
        |models:
        |  - name: m
        |    latest_version: 7
        |    versions:
        |      - v: 1
        |      - v: 2
        |""".stripMargin)
    val e2 = intercept[IllegalArgumentException](
      ProjectLoader.load(proj.toString))
    assert(e2.getMessage.contains("latest_version 7"), e2.getMessage)
  }

  test("selectors.yml structured form translates to the selector grammar") {
    val proj = Files.createTempDirectory("graft_selspec")
    put(proj, "dbt_project.yml", "name: seldemo\n")
    put(proj, "models/a.sql", "SELECT 1 AS x")
    put(proj, "models/b.sql", "SELECT * FROM {{ ref('a') }}")
    put(proj, "models/c.sql",
      "{{ config(tags=['daily']) }}SELECT * FROM {{ ref('b') }}")
    put(proj, "selectors.yml",
      """selectors:
        |  - name: nightly
        |    definition:
        |      union:
        |        - method: fqn
        |          value: a
        |          children: true
        |        - intersection:
        |            - method: tag
        |              value: daily
        |            - method: fqn
        |              value: c
        |        - exclude:
        |            - method: fqn
        |              value: b
        |""".stripMargin)
    val (p, _) = ProjectLoader.load(proj.toString)
    val sel = p.selectors.find(_.name == "nightly").getOrElse(
      throw new IllegalStateException("selector missing"))
    assert(sel.include == "a+ tag:daily,c", sel.toString)
    assert(sel.exclude == "b", sel.toString)
    val e = new Engine(spark, p, Target(
      Files.createTempDirectory("graft_selspec_wh").toString, threads = 1))
    // a+ = {a,b,c}; intersect-term adds c; exclude removes b
    assert(e.selectNodes(sel.include) -- e.selectNodes(sel.exclude) ==
      Set("a", "c"))
    // path: method selects by project-relative source path prefix, and
    // childrens_parents renders dbt's @ operator
    put(proj, "models/staging/stg_x.sql", "SELECT 2 AS y")
    put(proj, "selectors.yml",
      """selectors:
        |  - name: staged
        |    definition:
        |      union:
        |        - method: path
        |          value: models/staging
        |        - method: fqn
        |          value: b
        |          childrens_parents: true
        |""".stripMargin)
    val (p2, _) = ProjectLoader.load(proj.toString)
    val sel2 = p2.selectors.find(_.name == "staged").get
    assert(sel2.include == "path:models/staging @b", sel2.toString)
    val e2 = new Engine(spark, p2, Target(
      Files.createTempDirectory("graft_selspec_wh2").toString, threads = 1))
    // path → stg_x; @b → b + descendant c + their ancestors (a)
    assert(e2.selectNodes(sel2.include) == Set("stg_x", "a", "b", "c"))
    // a union nested inside an intersection refuses loudly
    put(proj, "selectors.yml",
      """selectors:
        |  - name: bad
        |    definition:
        |      intersection:
        |        - union:
        |            - method: fqn
        |              value: a
        |""".stripMargin)
    val err = intercept[IllegalArgumentException](
      ProjectLoader.load(proj.toString))
    assert(err.getMessage.contains("intersection components"),
      err.getMessage)
  }

  test("dbt-native failures are loud: missing name, unknown test kind, ref-less singular") {
    val proj = Files.createTempDirectory("graft_dbtbad")
    put(proj, "dbt_project.yml", "version: '1.0'\n")
    val e1 = intercept[IllegalArgumentException](ProjectLoader.load(proj.toString))
    assert(e1.getMessage.contains("'name' is required"))
    put(proj, "dbt_project.yml", "name: bad_demo\n")
    put(proj, "models/m.sql", "SELECT 1 AS one")
    put(proj, "models/schema.yml",
      """version: 2
        |models:
        |  - name: m
        |    columns:
        |      - name: one
        |        tests:
        |          - made_up_test
        |""".stripMargin)
    val e2 = intercept[IllegalArgumentException](ProjectLoader.load(proj.toString))
    assert(e2.getMessage.contains("made_up_test"), e2.getMessage)
    put(proj, "models/schema.yml", "version: 2\n")
    put(proj, "tests/orphan.sql", "SELECT 1 AS bad WHERE 1 = 0")
    val e3 = intercept[IllegalArgumentException](ProjectLoader.load(proj.toString))
    assert(e3.getMessage.contains("orphan"), e3.getMessage)
    Files.delete(proj.resolve("tests/orphan.sql"))
    // a malformed integer refuses, naming its key, instead of silently
    // dropping the limit / the freshness check / the pinned version
    def refuses(yml: String, key: String): Unit = {
      put(proj, "models/schema.yml", "version: 2\n" + yml)
      val e = intercept[IllegalArgumentException](ProjectLoader.load(proj.toString))
      assert(e.getMessage.contains(s"'$key'"), e.getMessage)
    }
    refuses(
      """models:
        |  - name: m
        |    columns:
        |      - name: one
        |        tests:
        |          - unique:
        |              limit: ten
        |""".stripMargin, "limit")
    refuses(
      s"""sources:
         |  - name: tpch
         |    tables:
         |      - name: orders
         |        meta:
         |          external_location: $sf/orders.parquet
         |        loaded_at_field: o_orderdate
         |        freshness:
         |          warn_after: {count: a day, period: hour}
         |""".stripMargin, "count")
    put(proj, "models/m_v2.sql", "SELECT 2 AS one")
    refuses(
      """models:
        |  - name: m
        |    latest_version: two
        |    versions:
        |      - v: 1
        |        defined_in: m
        |      - v: 2
        |""".stripMargin, "latest_version")
  }

  test("model hooks load from the +pre-hook tree, schema.yml config, and inline config()") {
    val proj = Files.createTempDirectory("graft_hooks")
    put(proj, "dbt_project.yml",
      """name: hookdemo
        |version: '1'
        |models:
        |  hookdemo:
        |    +post-hook:
        |      - 'SELECT 1'
        |      - 'SELECT count(*), 1 FROM {{ this }}'
        |""".stripMargin)
    put(proj, "models/sources.yml",
      s"""version: 2
         |sources:
         |  - name: tpch
         |    tables:
         |      - name: nation
         |        meta:
         |          external_location: $sf/nation.parquet
         |""".stripMargin)
    // tree hook (list) + schema.yml scalar hook + inline pre_hook
    put(proj, "models/a.sql",
      "{{ config(pre_hook='SELECT 1, 2') }}\n" +
        "SELECT n_nationkey FROM {{ source('tpch', 'nation') }}")
    put(proj, "models/b.sql",
      "SELECT n_name FROM {{ source('tpch', 'nation') }}")
    put(proj, "models/schema.yml",
      """version: 2
        |models:
        |  - name: b
        |    config:
        |      pre_hook: 'SELECT 42'
        |""".stripMargin)
    val (p, _) = ProjectLoader.load(proj.toString)
    val a = p.models.find(_.name == "a").get
    val b = p.models.find(_.name == "b").get
    // tree-level post-hooks land on every model in the project subtree
    assert(a.config.postHooks ==
      Seq("SELECT 1", "SELECT count(*), 1 FROM {{ this }}"))
    assert(b.config.postHooks == a.config.postHooks)
    assert(b.config.preHooks == Seq("SELECT 42"))
    // the inline config() refines at Engine.effectiveConfig time
    val eff = graft.compile.Compiler.parseInlineConfig(a.rawSql, a.config)
    assert(eff.preHooks == Seq("SELECT 1, 2"))
    assert(eff.postHooks == a.config.postHooks) // inline didn't touch them
    // and the project BUILDS with all hooks firing
    val e = new Engine(spark, p, Target(
      Files.createTempDirectory("graft_hooks_wh").toString))
    assert(e.build()._1.map(_.status).forall(_ == "success"))
  }

  test("dbt-native grants mapping flattens through both yml loaders") {
    // dbt's standard spelling is a YAML dict (privilege -> grantee list)
    // in dbt_project.yml's config tree AND in schema.yml model config;
    // both must flatten to the grants ledger, not silently drop
    val proj = Files.createTempDirectory("graft_grants_proj")
    put(proj, "dbt_project.yml",
      """name: gr_demo
        |models:
        |  gr_demo:
        |    +grants:
        |      select: [analyst, ml_team]
        |""".stripMargin)
    put(proj, "models/base.sql",
      "SELECT n_nationkey, n_name FROM {{ source('tpch', 'nation') }}")
    put(proj, "models/wide.sql",
      "SELECT n_nationkey FROM {{ ref('base') }}")
    put(proj, "models/schema.yml",
      s"""version: 2
         |sources:
         |  - name: tpch
         |    tables:
         |      - name: nation
         |        meta:
         |          external_location: $sf/nation.parquet
         |models:
         |  - name: base
         |    config:
         |      grants:
         |        insert: loader
         |""".stripMargin)
    val (p, _) = ProjectLoader.load(proj.toString)
    val e = new Engine(spark, p,
      Target(Files.createTempDirectory("graft_grants_wh").toString))
    assert(e.build()._1.forall(_.status == "success"))
    val (stmts, _) = e.catalogDdl()
    // tree-level dict applies to every model; schema.yml config overrides
    // its model's grants key wholesale (standard config merge)
    assert(stmts.contains("GRANT SELECT ON `wide` TO `analyst`"), stmts)
    assert(stmts.contains("GRANT SELECT ON `wide` TO `ml_team`"))
    assert(stmts.contains("GRANT INSERT ON `base` TO `loader`"))
  }

  test("dict-form hooks ({sql: ...}) parse in all four spellings; garbage loud") {
    // dbt's documented dict hook spelling — previously the collects
    // matched scalars only and DROPPED dict hooks silently (the same
    // partial-silent-drop class as mixed grants)
    val proj = Files.createTempDirectory("graft_hooks_dict")
    put(proj, "dbt_project.yml",
      """name: hk_demo
        |on-run-start: {sql: "SELECT 'start'"}
        |models:
        |  hk_demo:
        |    +post-hook:
        |      - SELECT 'a'
        |      - {sql: "SELECT 'b'", transaction: false}
        |    +pre-hook: {sql: "SELECT 'p'"}
        |""".stripMargin)
    put(proj, "models/base.sql", "SELECT 1 AS one")
    put(proj, "models/schema.yml",
      """version: 2
        |models:
        |  - name: base
        |    config:
        |      pre-hook: {sql: "SELECT 'c'"}
        |""".stripMargin)
    val (p, _) = ProjectLoader.load(proj.toString)
    assert(p.onRunStart == Seq("SELECT 'start'"))
    val cfg = p.models.find(_.name == "base").get.config
    assert(cfg.postHooks == Seq("SELECT 'a'", "SELECT 'b'"), cfg.postHooks)
    // schema.yml config overrides the tree's pre-hook key wholesale
    assert(cfg.preHooks == Seq("SELECT 'c'"), cfg.preHooks)
    // and the project still BUILDS with the hooks firing
    val e = new Engine(spark, p,
      Target(Files.createTempDirectory("graft_hooks_dict_wh").toString))
    assert(e.build()._1.forall(_.status == "success"))

    // a dict hook without 'sql' must fail loudly, not drop
    val bad = Files.createTempDirectory("graft_hooks_bad")
    put(bad, "dbt_project.yml",
      """name: hk_bad
        |models:
        |  hk_bad:
        |    +post-hook:
        |      - {grant: "SELECT"}
        |""".stripMargin)
    put(bad, "models/base.sql", "SELECT 1 AS one")
    val ex = intercept[IllegalArgumentException] {
      ProjectLoader.load(bad.toString)
    }
    assert(ex.getMessage.contains("sql"), ex.getMessage)
  }

  test("grants mapping refuses a MIXED grantee list instead of dropping") {
    // [analyst, {a: b}] must fail loudly — the old collect silently kept
    // only the scalar and emitted a partial ledger
    val proj = Files.createTempDirectory("graft_grants_mixed")
    put(proj, "dbt_project.yml",
      """name: gr_mixed
        |models:
        |  gr_mixed:
        |    +grants:
        |      select:
        |        - analyst
        |        - {a: b}
        |""".stripMargin)
    put(proj, "models/base.sql", "SELECT 1 AS one")
    val e = intercept[IllegalArgumentException] {
      ProjectLoader.load(proj.toString)
    }
    assert(e.getMessage.contains("grants"), e.getMessage)
    assert(e.getMessage.contains("select"), e.getMessage)
  }

  test("grants/labels refuse delimiter characters instead of re-splitting") {
    // the flattened pipe form is re-split on '|' then ':' (and grantee
    // lists on ','); a value carrying a delimiter — legal YAML — would
    // be silently re-split into DIFFERENT entries downstream. Must fail
    // loudly (fail-loudly-never-drop policy).
    def projWith(yml: String): java.nio.file.Path = {
      val p = Files.createTempDirectory("graft_delim")
      put(p, "dbt_project.yml", yml)
      put(p, "models/base.sql", "SELECT 1 AS one")
      p
    }
    val labelBad = projWith(
      """name: lb_bad
        |models:
        |  lb_bad:
        |    +labels:
        |      team: "a|team:x"
        |""".stripMargin)
    val e1 = intercept[IllegalArgumentException] {
      ProjectLoader.load(labelBad.toString)
    }
    assert(e1.getMessage.contains("labels"), e1.getMessage)
    val grantBad = projWith(
      """name: gr_bad
        |models:
        |  gr_bad:
        |    +grants:
        |      select:
        |        - "role:analyst,auditor"
        |""".stripMargin)
    val e2 = intercept[IllegalArgumentException] {
      ProjectLoader.load(grantBad.toString)
    }
    assert(e2.getMessage.contains("grantee"), e2.getMessage)
  }

  test("bigquery_options labels + kms_key_name load, export, catalog") {
    // reference bigquery_options (manifest.json:1 @15210): labels and
    // kms_key_name are inert in a parquet warehouse but a ported project
    // carrying them must NOT silently drop them — they ride the manifest's
    // node config and the DDL export as TBLPROPERTIES, like the TTLs
    val proj = Files.createTempDirectory("graft_labels_proj")
    put(proj, "dbt_project.yml",
      """name: lb_demo
        |models:
        |  lb_demo:
        |    +labels:
        |      team: core-data
        |      env: prod
        |""".stripMargin)
    put(proj, "models/base.sql",
      "SELECT n_nationkey, n_name FROM {{ source('tpch', 'nation') }}")
    put(proj, "models/tagged.sql",
      """{{ config(labels='cost_center:ml-421', kms_key_name='projects/p/locations/l/keyRings/r/cryptoKeys/k') }}
        |SELECT n_nationkey FROM {{ ref('base') }}""".stripMargin)
    put(proj, "models/schema.yml",
      s"""version: 2
         |sources:
         |  - name: tpch
         |    tables:
         |      - name: nation
         |        meta:
         |          external_location: $sf/nation.parquet
         |models:
         |  - name: base
         |    config:
         |      labels:
         |        owner: data-eng
         |""".stripMargin)
    val (p, _) = ProjectLoader.load(proj.toString)
    val dir = Files.createTempDirectory("graft_labels_wh").toString
    val e = new Engine(spark, p, Target(dir))
    assert(e.build()._1.forall(_.status == "success"))
    // schema.yml config overrides the tree's labels key wholesale
    // (standard config merge); the in-model config() wins for tagged
    val (stmts, _) = e.catalogDdl()
    val baseDdl = stmts.find(_.contains("VIEW `base`")).get
    assert(baseDdl.contains("'labels.owner'='data-eng'"), baseDdl)
    val tagDdl = stmts.find(_.contains("VIEW `tagged`")).get
    assert(tagDdl.contains("'labels.cost_center'='ml-421'"), tagDdl)
    assert(tagDdl.contains(
      "'kms_key_name'='projects/p/locations/l/keyRings/r/cryptoKeys/k'"),
      tagDdl)
    // tree-level labels reach models that declare none of their own
    e.writeManifest(s"$dir/manifest.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val nodes = om.readTree(new java.io.File(s"$dir/manifest.json"))
      .path("nodes")
    val tg = nodes.path("model.lb_demo.tagged").path("config")
    assert(tg.path("labels").path("cost_center").asText == "ml-421")
    assert(tg.path("kms_key_name").asText.endsWith("cryptoKeys/k"))
    val bs = nodes.path("model.lb_demo.base").path("config")
    assert(bs.path("labels").path("owner").asText == "data-eng")
  }
}
