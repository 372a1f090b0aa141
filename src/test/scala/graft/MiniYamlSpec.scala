package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.run.MiniYaml
import graft.run.MiniYaml.{Arr, Obj, Scalar}

/** The YAML reader behind dbt-native project ingestion — pinned against
  * the reference project's own files (verbatim copies below), the
  * block/flow shapes dbt docs use, YAML 1.1 comment/escape/document
  * rules, and the guards on outside input.
  */
class MiniYamlSpec extends AnyFunSuite {

  test("reference sources.yml: sources with jinja database and tables") {
    // verbatim from /root/reference/models/sources.yml (incl. the
    // trailing space after `sources:`)
    val y = MiniYaml.parse(
      """version: 2
        |
        |sources:
        |  - name: src_github
        |    database: "{{ env_var('DBT_CI_BIGQUERY_PROJECT_ID') }}"
        |    schema: github
        |    tables:
        |      - name: languages
        |""".stripMargin)
    assert(y.scalar("version").contains("2"))
    val Seq(src: Obj) = y.arr("sources"): @unchecked
    assert(src.scalar("name").contains("src_github"))
    assert(src.scalar("database")
      .contains("{{ env_var('DBT_CI_BIGQUERY_PROJECT_ID') }}"))
    assert(src.scalar("schema").contains("github"))
    val Seq(tbl: Obj) = src.arr("tables"): @unchecked
    assert(tbl.scalar("name").contains("languages"))
  }

  test("reference dbt_project.yml: paths, clean-targets, +config tree") {
    val y = MiniYaml.parse(
      """name: 'demo_ci'
        |version: '1.0.0'
        |config-version: 2
        |profile: 'demo_ci'
        |source-paths: ["models"]
        |analysis-paths: ["analysis"]
        |test-paths: ["tests"]
        |data-paths: ["data"]
        |macro-paths: ["macros"]
        |snapshot-paths: ["snapshots"]
        |target-path: "target"  # directory which will store compiled SQL files
        |clean-targets:         # directories to be removed by `dbt clean`
        |  - "target"
        |  - "dbt_modules"
        |models:
        |  demo_ci:
        |    +materialized: table
        |    # Config indicated by + and applies to all files under models/example/
        |""".stripMargin)
    assert(y.scalar("name").contains("demo_ci"))
    assert(y.arr("source-paths").map { case Scalar(v) => v } == Seq("models"))
    assert(y.arr("clean-targets").map { case Scalar(v) => v }
      == Seq("target", "dbt_modules"))
    val tree = y.obj("models").get.obj("demo_ci").get
    assert(tree.scalar("+materialized").contains("table"))
  }

  test("schema.yml: columns with scalar and mapping tests") {
    val y = MiniYaml.parse(
      """version: 2
        |models:
        |  - name: orders
        |    description: All orders
        |    config:
        |      materialized: view
        |    columns:
        |      - name: order_id
        |        description: PK
        |        tests:
        |          - unique
        |          - not_null
        |      - name: status
        |        tests:
        |          - accepted_values:
        |              values: ['placed', 'shipped']
        |          - relationships:
        |              to: ref('statuses')
        |              field: id
        |""".stripMargin)
    val Seq(m: Obj) = y.arr("models"): @unchecked
    assert(m.scalar("description").contains("All orders"))
    assert(m.obj("config").get.scalar("materialized").contains("view"))
    val cols = m.arr("columns").collect { case o: Obj => o }
    assert(cols.map(_.scalar("name").get) == Seq("order_id", "status"))
    assert(cols.head.arr("tests") == Seq(Scalar("unique"), Scalar("not_null")))
    val Seq(av: Obj, rel: Obj) = cols(1).arr("tests"): @unchecked
    assert(MiniYaml.scalars(av.obj("accepted_values").get.get("values").get)
      == Seq("placed", "shipped"))
    assert(rel.obj("relationships").get.scalar("to").contains("ref('statuses')"))
    assert(rel.obj("relationships").get.scalar("field").contains("id"))
  }

  test("flow mappings, empties, comments, and loud failures") {
    val y = MiniYaml.parse(
      """seeds:
        |  types: {id: bigint, name: string}
        |  none: {}
        |  empty_list: []
        |vars:
        |  url: https://example.com/x  # not a key split
        |""".stripMargin)
    val seeds = y.obj("seeds").get
    assert(seeds.obj("types").get.scalar("id").contains("bigint"))
    assert(seeds.obj("types").get.scalar("name").contains("string"))
    assert(seeds.get("none").contains(Obj(Nil)))
    assert(seeds.get("empty_list").contains(Arr(Nil)))
    assert(y.obj("vars").get.scalar("url").contains("https://example.com/x"))
    intercept[IllegalArgumentException](MiniYaml.parse("a:\n\tb: 1"))
    intercept[IllegalArgumentException](MiniYaml.parse("just a bare line"))
  }

  test("anchors + merge keys: the profiles.yml shared-defaults idiom") {
    val y = MiniYaml.parse(
      """defaults: &defaults
        |  type: spark
        |  threads: 4
        |  schema: main
        |my_profile:
        |  outputs:
        |    dev:
        |      <<: *defaults
        |      schema: dev_schema
        |    prod:
        |      <<: *defaults
        |      threads: 16
        |""".stripMargin)
    val dev = y.obj("my_profile").get.obj("outputs").get.obj("dev").get
    assert(dev.scalar("type").contains("spark"))
    assert(dev.scalar("threads").contains("4"))
    assert(dev.scalar("schema").contains("dev_schema")) // own key wins
    val prod = y.obj("my_profile").get.obj("outputs").get.obj("prod").get
    assert(prod.scalar("threads").contains("16"))
    assert(prod.scalar("schema").contains("main"))
  }

  test("scalar anchors, aliases in values and flow lists, merge lists") {
    val y = MiniYaml.parse(
      """base_schema: &sch analytics
        |a: &one
        |  x: 1
        |b: &two
        |  x: 2
        |  y: 3
        |merged:
        |  <<: [*one, *two]
        |copy: *sch
        |lst: [*sch, other]
        |""".stripMargin)
    assert(y.scalar("copy").contains("analytics"))
    assert(MiniYaml.scalars(y.get("lst").get) == Seq("analytics", "other"))
    val m = y.obj("merged").get
    assert(m.scalar("x").contains("1")) // earlier merge source wins
    assert(m.scalar("y").contains("3"))
    // an alias with no preceding anchor fails loudly, naming it
    val e = intercept[IllegalArgumentException](
      MiniYaml.parse("a: *ghost"))
    assert(e.getMessage.contains("ghost"), e.getMessage)
  }

  test("anchored sequence items alias whole mappings") {
    val y = MiniYaml.parse(
      """shared:
        |  - &col
        |    name: id
        |    tests: [unique]
        |again: *col
        |""".stripMargin)
    assert(y.obj("again").get.scalar("name").contains("id"))
  }

  test("anchor on a dash-line head-field value registers and strips") {
    // `- name: &a foo` — the schema.yml idiom; the anchor must bind the
    // VALUE (not leak into the scalar text)
    val y = MiniYaml.parse(
      """cols:
        |  - name: &keycol order_id
        |    tests: [unique]
        |  - name: other
        |ref: *keycol
        |""".stripMargin)
    val first = y.arr("cols").head.asInstanceOf[MiniYaml.Obj]
    assert(first.scalar("name").contains("order_id"))
    assert(y.scalar("ref").contains("order_id"))
  }

  test("folded scalar: n blank lines fold to n newlines, not n+1") {
    val y = MiniYaml.parse(
      """one_blank: >
        |  a
        |  b
        |
        |  c
        |two_blanks: >
        |  a
        |
        |
        |  c
        |""".stripMargin)
    assert(y.scalar("one_blank").contains("a b\nc\n"))
    assert(y.scalar("two_blanks").contains("a\n\nc\n"))
  }

  test("literal | block scalars keep newlines; > folds; - chomps; + keeps") {
    val y = MiniYaml.parse(
      """description: |
        |  line one
        |  line two
        |
        |  after blank
        |folded: >
        |  word one
        |  word two
        |chomped: |-
        |  no trailing
        |tail: 1
        |""".stripMargin)
    assert(y.scalar("description")
      .contains("line one\nline two\n\nafter blank\n"))
    assert(y.scalar("folded").contains("word one word two\n"))
    assert(y.scalar("chomped").contains("no trailing"))
    assert(y.scalar("tail").contains("1"))
    // a # inside a block scalar is CONTENT, not a comment
    val c = MiniYaml.parse("q: |\n  select 1 -- x\n  # not a comment\n")
    assert(c.scalar("q").contains("select 1 -- x\n# not a comment\n"))
    // |+ keeps the trailing blank lines
    assert(MiniYaml.parse("a: |+\n  x\n\nb: 1").scalar("a").contains("x\n\n"))
  }

  test("block scalar on a sequence item's dash line") {
    val y = MiniYaml.parse(
      """models:
        |  - description: |
        |      first
        |      second
        |    name: m1
        |""".stripMargin)
    val Seq(m: Obj) = y.arr("models"): @unchecked
    assert(m.scalar("description").contains("first\nsecond\n"))
    assert(m.scalar("name").contains("m1"))
  }

  test("a second document in one file is refused, not merged") {
    val e = intercept[IllegalArgumentException](
      MiniYaml.parse("a: 1\n---\nb: 2\n"))
    assert(e.getMessage.contains("single document"), e.getMessage)
  }

  test("an apostrophe in a plain scalar does not hide a trailing comment") {
    val y = MiniYaml.parse("description: don't  # note\n")
    assert(y.scalar("description").contains("don't"))
  }

  test("quoted scalars unescape '' and backslash escapes") {
    val y = MiniYaml.parse("s: 'it''s'\nd: \"a\\\"b\"\n")
    assert(y.scalar("s").contains("it's"))
    assert(y.scalar("d").contains("a\"b"))
  }

  test("multi-line plain scalars and nested flow collections parse") {
    val y = MiniYaml.parse(
      """d: this is
        |  continued
        |a: {b: [1, 2], c: 3}
        |""".stripMargin)
    assert(y.scalar("d").contains("this is continued"))
    val a = y.obj("a").get
    assert(MiniYaml.scalars(a.get("b").get) == Seq("1", "2"))
    assert(a.scalar("c").contains("3"))
  }

  test("scalars stay raw strings: no YAML 1.1 coercion") {
    val y = MiniYaml.parse("a: on\nb: yes\nc: 1.10\nd: ~\ne:\n")
    assert(Seq("a", "b", "c", "d", "e").map(y.scalar(_).get)
      == Seq("on", "yes", "1.10", "~", ""))
    assert(MiniYaml.parse("# only a comment\n") == Obj(Nil))
    assert(MiniYaml.parse("") == Obj(Nil))
  }

  test("a self-referencing alias is refused, not expanded") {
    val e = intercept[IllegalArgumentException](MiniYaml.parse("a: &x [*x]\n"))
    assert(e.getMessage.contains("line 1"), e.getMessage)
  }

  test("a billion-laughs document is refused at the alias limit") {
    // 9 levels, each a list of 10 aliases of the level below: 10^9 leaves
    val levels = (1 to 9).map(i =>
      s"l$i: &l$i [${Seq.fill(10)(s"*l${i - 1}").mkString(", ")}]")
    val doc = ("l0: &l0 [lol]" +: levels).mkString("\n")
    val e = intercept[IllegalArgumentException](MiniYaml.parse(doc))
    assert(e.getMessage.contains("aliases"), e.getMessage)
    // under the limit, 25 levels of 2 aliases (2^25 leaves) still convert
    // each node once: both items of a level are the same converted node
    val chain = (1 to 25).map(i => s"l$i: &l$i [*l${i - 1}, *l${i - 1}]")
    val y = MiniYaml.parse(("l0: &l0 [lol]" +: chain).mkString("\n"))
    val Seq(x1, x2) = y.arr("l25"): @unchecked
    assert(x1 eq x2)
  }
}
