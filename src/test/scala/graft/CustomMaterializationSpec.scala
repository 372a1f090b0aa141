package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.compile.Compiler
import graft.run._

/** Custom `{% materialization %}` blocks (dbt's extension protocol;
  * reference manifest materialization macros @125935 ff.): parsing,
  * adapter resolution, the statement-execution protocol, and the loud
  * failure modes.
  */
class CustomMaterializationSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def root(): String = Files.createTempDirectory("graft_custmat").toString

  private def mats(text: String): Map[String, String] =
    Compiler.selectMaterializations(Compiler.parseMaterializations(text))

  private def project(matText: String, modelSql: String): Project = Project(
    name = "p",
    sources = Seq(SourceDef("tpch", "nation", s"$sf/nation.parquet")),
    models = Seq(ModelDef("m", modelSql)),
    materializations = mats(matText))

  test("parseMaterializations: default + adapter forms, spark wins") {
    val defs = Compiler.parseMaterializations(
      """{% materialization a, default %}D{% endmaterialization %}
        |{% materialization a, adapter='spark' %}S{% endmaterialization %}
        |{% materialization b, adapter='bigquery' %}BQ{% endmaterialization %}
        |{%- materialization c -%}BARE{%- endmaterialization -%}""".stripMargin)
    assert(defs.map(_.name) == Seq("a", "a", "b", "c"))
    val m = Compiler.selectMaterializations(defs)
    assert(m("a") == "S") // adapter-specific wins over default
    assert(!m.contains("b")) // another adapter's block is invisible
    assert(m("c") == "BARE") // bare form reads as default
  }

  test("simple custom materialization: create-or-replace via the protocol") {
    val p = project(
      """{% materialization plain, default %}
        |  {{ run_hooks(pre_hooks) }}
        |  {% call statement('main') %}
        |    create or replace table {{ this }} as {{ sql }}
        |  {% endcall %}
        |  {{ run_hooks(post_hooks) }}
        |  {{ adapter.commit() }}
        |  {{ return({'relations': [this]}) }}
        |{% endmaterialization %}""".stripMargin,
      """{{ config(materialized='plain') }}
        |SELECT n_nationkey, n_name FROM {{ source('tpch','nation') }}
        |WHERE n_nationkey < 10""".stripMargin)
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.readModel("m").count() == 10)
    // rebuild is idempotent (or-replace swaps atomically)
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.readModel("m").count() == 10)
  }

  test("statement loop + config.require: one INSERT per configured period") {
    val p = project(
      """{% materialization by_key, default %}
        |  {% set keys = config.require('key_list') %}
        |  {% call statement('init') %}
        |    create or replace table {{ this }} as
        |    select * from ({{ sql }}) where 1 = 0
        |  {% endcall %}
        |  {% for k in keys %}
        |    {% call statement('slice') %}
        |      insert into {{ this }}
        |      select * from ({{ sql }}) where n_regionkey = {{ k }}
        |    {% endcall %}
        |  {% endfor %}
        |{% endmaterialization %}""".stripMargin,
      """{{ config(materialized='by_key', key_list=['0', '2']) }}
        |SELECT n_nationkey, n_regionkey FROM {{ source('tpch','nation') }}""".stripMargin)
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    val got = e.readModel("m")
    assert(got.count() == 10) // 5 nations per region x 2 regions
    assert(got.select("n_regionkey").distinct().count() == 2)
  }

  test("existence guard: load_relation decides first-build vs append") {
    val p = project(
      """{% materialization append_only, default %}
        |  {% if load_relation(this) is none %}
        |    {% call statement('first') %}
        |      create table {{ this }} as {{ sql }}
        |    {% endcall %}
        |  {% else %}
        |    {% call statement('more') %}
        |      insert into {{ this }} {{ sql }}
        |    {% endcall %}
        |  {% endif %}
        |{% endmaterialization %}""".stripMargin,
      """{{ config(materialized='append_only') }}
        |SELECT n_nationkey FROM {{ source('tpch','nation') }}""".stripMargin)
    val r = root()
    val e = new Engine(spark, p, Target(r))
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.readModel("m").count() == 25)
    val e2 = new Engine(spark, p, Target(r))
    assert(e2.build()._1.forall(_.status == "success"))
    assert(e2.readModel("m").count() == 50) // second run appended
  }

  test("unknown materialization without a block still refuses loudly") {
    val p = project(
      "{% materialization other, default %}X{% endmaterialization %}",
      "{{ config(materialized='nope') }} SELECT 1 AS x")
    val e = new Engine(spark, p, Target(root()))
    val results = e.build()._1
    assert(results.exists(_.status != "success"), results.toString)
  }

  test("rendered text outside statement blocks fails loudly") {
    val p = project(
      """{% materialization leaky, default %}
        |  create table {{ this }} as {{ sql }}
        |{% endmaterialization %}""".stripMargin,
      "{{ config(materialized='leaky') }} SELECT 1 AS x")
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.exists(_.status != "success"))
  }

  test("a materialization that builds nothing fails loudly") {
    val p = project(
      """{% materialization noop, default %}
        |  {% call statement('probe') %}
        |    select 1
        |  {% endcall %}
        |{% endmaterialization %}""".stripMargin,
      "{{ config(materialized='noop') }} SELECT 1 AS x")
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.exists(_.status != "success"))
  }

  test("config.require on an unset key names the problem") {
    val p = project(
      """{% materialization needy, default %}
        |  {% set k = config.require('missing_key') %}
        |  {% call statement('main') %}
        |    create table {{ this }} as {{ sql }}
        |  {% endcall %}
        |{% endmaterialization %}""".stripMargin,
      "{{ config(materialized='needy') }} SELECT 1 AS x")
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.exists(_.status != "success"))
  }

  test("config.get default + interpolation resolve in statement bodies") {
    val p = project(
      """{% materialization tagged, default %}
        |  {% call statement('main') %}
        |    create or replace table {{ this }} as
        |    select *, '{{ config.get('tag', 'untagged') }}' as tag
        |    from ({{ sql }})
        |  {% endcall %}
        |{% endmaterialization %}""".stripMargin,
      """{{ config(materialized='tagged') }}
        |SELECT n_nationkey FROM {{ source('tpch','nation') }}
        |WHERE n_nationkey = 0""".stripMargin)
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.readModel("m").collect().head.getString(1) == "untagged")
  }

  test("delete+insert and drop shapes route through the warehouse") {
    val p = project(
      """{% materialization del_ins, default %}
        |  {% if load_relation(this) is none %}
        |    {% call statement('first') %}
        |      create table {{ this }} as {{ sql }}
        |    {% endcall %}
        |  {% else %}
        |    {% call statement('clear') %}
        |      delete from {{ this }} where n_nationkey >= 20
        |    {% endcall %}
        |    {% call statement('reload') %}
        |      insert into {{ this }}
        |      select * from ({{ sql }}) where n_nationkey >= 20
        |    {% endcall %}
        |  {% endif %}
        |{% endmaterialization %}""".stripMargin,
      """{{ config(materialized='del_ins') }}
        |SELECT n_nationkey FROM {{ source('tpch','nation') }}""".stripMargin)
    val r = root()
    assert(new Engine(spark, p, Target(r)).build()._1
      .forall(_.status == "success"))
    val e2 = new Engine(spark, p, Target(r))
    assert(e2.build()._1.forall(_.status == "success"))
    assert(e2.readModel("m").count() == 25) // delete+insert is idempotent
  }

  test("build-into-temp-then-rename: make_temp_relation + ALTER TABLE RENAME") {
    val p = project(
      """{% materialization via_tmp, default %}
        |  {% call statement('build_tmp') %}
        |    create or replace table {{ make_temp_relation(this) }} as {{ sql }}
        |  {% endcall %}
        |  {% call statement('swap') %}
        |    alter table {{ make_temp_relation(this) }} rename to {{ this }}
        |  {% endcall %}
        |{% endmaterialization %}""".stripMargin,
      """{{ config(materialized='via_tmp') }}
        |SELECT n_nationkey FROM {{ source('tpch','nation') }}""".stripMargin)
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.readModel("m").count() == 25)
    // the temp relation does not survive the swap
    assert(!e.warehouse.exists(e.relationFor("m__graft_tmp")))
    // RERUN: the rename must REPLACE the existing live relation (a raw
    // fs.rename would move the temp INSIDE it and corrupt the table)
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.readModel("m").count() == 25)
  }

  test("session-scoped temp-view DDL stays legal in statements") {
    val p = project(
      """{% materialization via_view, default %}
        |  {% call statement('stage') %}
        |    create or replace temporary view __graft_custmat_v as {{ sql }}
        |  {% endcall %}
        |  {% call statement('main') %}
        |    create or replace table {{ this }} as
        |    select * from __graft_custmat_v
        |  {% endcall %}
        |  {% call statement('cleanup') %}
        |    drop view __graft_custmat_v
        |  {% endcall %}
        |{% endmaterialization %}""".stripMargin,
      """{{ config(materialized='via_view') }}
        |SELECT n_nationkey FROM {{ source('tpch','nation') }}""".stripMargin)
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.readModel("m").count() == 25)
  }

  test("unrecognized write shapes in statements refuse loudly (atomicity guard)") {
    val p = project(
      """{% materialization sneaky, default %}
        |  {% call statement('main') %}
        |    create or replace table {{ this }} as {{ sql }}
        |  {% endcall %}
        |  {% call statement('bad') %}
        |    update {{ this }} set x = 1
        |  {% endcall %}
        |{% endmaterialization %}""".stripMargin,
      "{{ config(materialized='sneaky') }} SELECT 1 AS x")
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.exists(_.status != "success"))
  }

  test("dbt-native project dir: materialization blocks load from macro dirs") {
    val dir = Files.createTempDirectory("graft_dbtmat")
    Files.writeString(dir.resolve("dbt_project.yml"),
      """name: matproj
        |version: '1.0'
        |profile: matproj
        |model-paths: ["models"]
        |macro-paths: ["macros"]
        |""".stripMargin)
    Files.createDirectories(dir.resolve("models"))
    Files.createDirectories(dir.resolve("macros"))
    Files.writeString(dir.resolve("macros/custom_mat.sql"),
      """{% materialization plain_copy, default %}
        |  {% call statement('main') %}
        |    create or replace table {{ this }} as {{ sql }}
        |  {% endcall %}
        |{% endmaterialization %}""".stripMargin)
    Files.writeString(dir.resolve("models/copied.sql"),
      """{{ config(materialized='plain_copy') }}
        |SELECT n_nationkey, n_name FROM {{ source('tpch', 'nation') }}""".stripMargin)
    Files.writeString(dir.resolve("models/schema.yml"),
      s"""version: 2
         |sources:
         |  - name: tpch
         |    tables:
         |      - name: nation
         |        meta:
         |          external_location: $sf/nation.parquet
         |""".stripMargin)
    val (p, _) = ProjectLoader.load(dir.toString)
    assert(p.materializations.contains("plain_copy"))
    val e = new Engine(spark, p, Target(root()))
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.readModel("copied").count() == 25)
  }
}
