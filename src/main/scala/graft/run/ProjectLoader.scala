package graft.run

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import graft.compile.Compiler
import graft.core.{ModelConfig, SnapshotStrategy}
import graft.dqtests.SchemaTests
import org.apache.spark.sql.DataFrame
import MiniYaml.{Arr, Obj, Scalar}

/** Loads a project directory written in dbt's own format: a
  * `dbt_project.yml` at its root, `.sql` models under the model paths,
  * version-2 `.yml` property files beside them, and the `seeds/`
  * (`data/`), `snapshots/`, `tests/`, `analyses/` (`analysis/`) and
  * `macros/` dirs. This is the reference repo's own layout, so a user of
  * the reference project can point graft at their checkout unchanged.
  *
  * Ingested surface:
  *   - `dbt_project.yml`: `name`, `vars:`, `on-run-start`/`on-run-end`,
  *     the path config keys (both dbt ≤0.x `source-paths`/`data-paths`
  *     and ≥1.0 `model-paths`/`seed-paths` spellings), the `models:`
  *     `+config` tree (deeper path wins; schema.yml `config:` wins over
  *     the tree; in-file `{{ config() }}` wins over both — dbt's
  *     precedence), and `seeds:` `+column_types`.
  *   - model-dir `.yml` docs (version 2): `sources:` (tables with
  *     `identifier`, `loaded_at_field`, `freshness:` warn/error_after,
  *     and a data path via `meta: external_location:` — the public
  *     dbt-duckdb convention — or `external: location:` with optional
  *     `file_format` and reader `options:`, dbt-external-tables),
  *     `models:` (description, `config:`, columns with descriptions +
  *     tests: unique / not_null / accepted_values / relationships and
  *     the `dbt_utils.` battery, each with
  *     severity/where/limit/store_failures/warn_if/error_if config),
  *     `exposures:` and `metrics:` (the dbt ≤1.5 metric spec).
  *   - snapshot-dir `.sql` `{% snapshot %}` blocks (timestamp + check
  *     strategies, `check_cols` `'all'` or a list,
  *     `invalidate_hard_deletes`).
  *   - test-dir `.sql` SINGULAR tests: the compiled result set is the
  *     failure set; the first `ref()` anchors DAG ordering.
  *   - model `versions:` + `latest_version` (dbt 1.5): each version is
  *     its own node `<base>_v<N>` (from `<base>_v<N>.sql` or
  *     `defined_in:`); yml config/tests/descriptions apply per version;
  *     `ref('base')` resolves to the latest, `ref('base', v=N)` pins.
  *   - macro-dir `{% test %}` blocks (GENERIC tests): schema.yml
  *     `tests:` entries naming them bind `model`/`column_name` + kwargs
  *     and evaluate through the singular-test path (failing rows),
  *     model-level or column-level.
  *   - analysis-dir and macro-dir `.sql` files (`{% macro %}` and
  *     `{% materialization %}` blocks), `{% docs %}` blocks in `.md`
  *     files, `packages.yml` (see [[packageMacros]]), `selectors.yml`
  *     and the dbt-mesh `dependencies.yml` `projects:` list.
  *
  * Targets are not part of the project: `profiles.yml` is read by the
  * CLI. A value of the wrong shape (a non-integer `limit:` or freshness
  * `count:`, a misspelt flag) fails the load with a message naming the
  * key; nothing is silently dropped.
  */
object ProjectLoader {

  def load(rootDir: String): (Project, Map[String, String]) = {
    val root = Paths.get(rootDir)
    val py = MiniYaml.parseFile(root.resolve("dbt_project.yml"))
    val name = py.scalar("name").getOrElse(throw new IllegalArgumentException(
      s"$rootDir/dbt_project.yml: 'name' is required"))

    def dirList(defaults: Seq[String], keys: String*): Seq[Path] = {
      // a bare scalar (`model-paths: my_models`) counts as a one-item
      // list — Obj.arr returns Nil for it, which would silently fall
      // back to the defaults (a full config drop)
      val declared = keys.flatMap(k => (py.get(k) match {
        case Some(Arr(items)) => items
        case Some(s: Scalar) => Seq(s)
        case Some(other) => throw new IllegalArgumentException(
          s"$k: expected a path or list of paths, got $other")
        case None => Nil
      }).map {
        case Scalar(v) => v
        case bad => throw new IllegalArgumentException(
          s"$k: path entries must be plain strings, got $bad")
      })
      (if (declared.nonEmpty) declared else defaults)
        .map(root.resolve).filter(Files.isDirectory(_))
    }
    val modelDirs = dirList(Seq("models"), "model-paths", "source-paths")
    val seedDirs = dirList(Seq("seeds", "data"), "seed-paths", "data-paths")
    val snapDirs = dirList(Seq("snapshots"), "snapshot-paths")
    val testDirs = dirList(Seq("tests"), "test-paths")
    val analysisDirs =
      dirList(Seq("analyses", "analysis"), "analysis-paths")
    val macroDirs = dirList(Seq("macros"), "macro-paths")

    def listRec(dir: Path, suffix: String): Seq[Path] = {
      val walk = Files.walk(dir)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(suffix))
        .toIndexedSeq.sortBy(_.toString)
      finally walk.close()
    }
    def stem(p: Path): String = {
      val f = p.getFileName.toString
      f.substring(0, f.lastIndexOf('.'))
    }

    val vars: Map[String, String] = py.obj("vars")
      .map(_.entries.collect { case (k, Scalar(v)) => k -> v }.toMap)
      .getOrElse(Map.empty)
    // dbt hooks come in two documented spellings: a bare SQL string and
    // the dict form `{sql: "...", transaction: bool}` (transaction is a
    // warehouse-transaction knob dbt-bigquery itself ignores — the SQL
    // is what materializes). Anything else must fail loudly, not drop.
    def hookSql(n: MiniYaml.Node, ctx: String): String = n match {
      case Scalar(v) if v.trim.nonEmpty => v
      case o: Obj => o.scalar("sql").filter(_.trim.nonEmpty).getOrElse(
        throw new IllegalArgumentException(
          s"$ctx: dict-form hook needs a non-empty 'sql' key"))
      case other => throw new IllegalArgumentException(
        s"$ctx: hook entries must be SQL strings or {sql: ...} maps, " +
          s"got $other")
    }
    def hookList(key: String): Seq[String] = py.get(key) match {
      case Some(Scalar(v)) if v.nonEmpty => Seq(v)
      case Some(Arr(items)) => items.map(hookSql(_, key))
      case Some(o: Obj) => Seq(hookSql(o, key))
      case Some(_) => Nil // empty scalar
      case None => Nil
    }

    // dbt's NATIVE grants spelling is a YAML mapping of privilege →
    // grantee list; flatten it to the pipe form applyConfigKv parses
    // ('select:a,b|insert:c'). Silently dropping the mapping (the old
    // behavior: the collects matched scalars only) is the exact
    // silently-dropped-config failure the scalar parsers refuse loudly.
    // the pipe form is re-split by applyConfigKv on '|' then ':' — a
    // key or value carrying either delimiter (legal YAML) would be
    // silently re-split into DIFFERENT entries downstream. Fail loudly
    // instead (BigQuery's label charset forbids both anyway).
    def noDelims(what: String, s: String): String = {
      if (s.contains("|") || s.contains(":"))
        throw new IllegalArgumentException(
          s"$what '$s' may not contain ':' or '|' — these are the " +
            "flattened-config delimiters and would silently re-split " +
            "into different entries")
      s
    }
    def noComma(what: String, s: String): String = {
      if (s.contains(","))
        throw new IllegalArgumentException(
          s"$what '$s' may not contain ',' — it is the grantee-list " +
            "delimiter and would silently re-split into different grantees")
      s
    }

    def flattenGrants(o: Obj): String = o.entries.map {
      case (p, Arr(items)) =>
        // every item must be a non-empty scalar grantee — a mixed list
        // like [analyst, {a: b}] must fail loudly, not silently drop the
        // non-scalar entry (the same partial-silent-drop the scalar
        // parsers refuse)
        val gs = items.map {
          case Scalar(v) if v.trim.nonEmpty =>
            noDelims("grants: grantee", noComma("grants: grantee", v.trim))
          case bad => throw new IllegalArgumentException(
            s"grants: privilege '$p' grantee list holds a non-scalar or " +
              s"empty entry ($bad) — grantees must be plain names")
        }
        require(gs.nonEmpty, s"grants: privilege '$p' needs at least one grantee")
        s"${noDelims("grants: privilege", p)}:${gs.mkString(",")}"
      case (p, Scalar(v)) if v.trim.nonEmpty =>
        s"${noDelims("grants: privilege", p)}:${
          noDelims("grants: grantee", noComma("grants: grantee", v.trim))}"
      case (p, _) => throw new IllegalArgumentException(
        s"grants: privilege '$p' expects a grantee or a list of grantees")
    }.mkString("|")

    // BigQuery labels arrive as a YAML mapping key → value (reference
    // bigquery_options @15210); flatten to the pipe form applyConfigKv
    // parses ('team:core|env:prod'). Values must be scalars — anything
    // else fails loudly, same policy as grants above.
    def flattenLabels(o: Obj): String = o.entries.map {
      case (k, Scalar(v)) =>
        s"${noDelims("labels: key", k)}:${noDelims("labels: value", v.trim)}"
      case (k, _) => throw new IllegalArgumentException(
        s"labels: '$k' expects a scalar value")
    }.mkString("|")

    // a YAML tag list in the pipe form applyConfigKv splits
    def tagList(items: Seq[MiniYaml.Node]): String = items.map {
      case Scalar(v) if v.trim.nonEmpty && !v.contains("|") => v.trim
      case bad => throw new IllegalArgumentException(
        s"tags: entries must be non-empty names without '|', got $bad")
    }.mkString("|")
    // dbt adds the tags of every config level together (project tree
    // levels, schema.yml); every other key of a deeper level replaces
    def mergeKv(base: Map[String, String],
                over: Map[String, String]): Map[String, String] =
      base ++ over ++ (for (a <- base.get("tags"); b <- over.get("tags"))
        yield "tags" -> s"$a|$b")

    // ------------------------- models + the dbt_project.yml config tree
    def plusKv(o: Obj): Map[String, String] = o.entries.collect {
      case (k, Scalar(v)) if k.startsWith("+") => k.drop(1) -> v
      case ("+tags", Arr(items)) => "tags" -> tagList(items)
      // hook configs may be yml LISTS of SQL statements — encode them
      // HookSep-joined, the multi-hook convention applyConfigKv decodes
      // (`|`/`,` occur in real SQL,  cannot)
      case (k, Arr(items)) if k.startsWith("+") &&
          Compiler.hookKeys.contains(k.drop(1)) =>
        k.drop(1) -> items.map(hookSql(_, k)).mkString(Compiler.HookSep)
      // dict-form single hook (`+post-hook: {sql: ..., transaction: ...}`)
      case (k, o: Obj) if k.startsWith("+") &&
          Compiler.hookKeys.contains(k.drop(1)) =>
        k.drop(1) -> hookSql(o, k)
      case ("+grants", g: Obj) => "grants" -> flattenGrants(g)
      case ("+labels", l: Obj) => "labels" -> flattenLabels(l)
      // other flow-mapping configs (e.g. +column_types: {id: bigint})
      // handled by the dedicated seeds walk; scalar configs only here
    }.toMap
    def treeKv(tree: Option[Obj], steps: Seq[String]): Map[String, String] = {
      var acc = tree.map(plusKv).getOrElse(Map.empty)
      var node = tree
      steps.foreach { s =>
        node = node.flatMap(_.obj(s))
        node.foreach(o => acc = mergeKv(acc, plusKv(o)))
      }
      acc
    }
    val modelTree = py.obj("models")
    val modelFiles = modelDirs.flatMap(d => listRec(d, ".sql").map(d -> _))
    val dupModels = modelFiles.groupBy(f => stem(f._2)).filter(_._2.size > 1)
    require(dupModels.isEmpty,
      s"duplicate model names: ${dupModels.keys.mkString(", ")}")
    // per-model config kv from the tree, refined below by schema.yml
    val treeCfg: Map[String, Map[String, String]] = modelFiles.map {
      case (dir, p) =>
        val rel = dir.relativize(p).getParent
        val subdirs =
          if (rel == null) Nil
          else rel.iterator().asScala.map(_.toString).toSeq
        stem(p) -> treeKv(modelTree, name +: subdirs)
    }.toMap

    // --------------------------------- model-dir .yml property files
    val ymlDocs: Seq[Obj] = modelDirs
      .flatMap(d => listRec(d, ".yml") ++ listRec(d, ".yaml"))
      .filterNot(_.getFileName.toString == "dbt_project.yml")
      .map(MiniYaml.parseFile)

    def objScalar(o: Obj, keys: String*): Option[String] =
      keys.iterator.flatMap(o.scalar).nextOption()

    // a declared integer must parse; a typo must not silently turn the
    // setting off
    def intOf(key: String, v: String, ctx: String): Int =
      v.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$ctx: '$key' expects an integer, got '$v'"))

    // freshness: {warn_after: {count: N, period: hour|day}, ...} → hours
    def freshnessH(o: Obj, key: String, ctx: String): Option[Int] =
      o.obj("freshness").flatMap(_.obj(key)).flatMap { f =>
        for {
          n <- f.scalar("count").map(intOf("count", _, s"$ctx freshness $key"))
          p <- f.scalar("period")
        } yield p match {
          case "hour" => n
          case "day" => n * 24
          case other => throw new IllegalArgumentException(
            s"freshness period '$other' unsupported (hour|day)")
        }
      }

    val sources: Seq[SourceDef] = ymlDocs.flatMap(_.arr("sources")).collect {
      case src: Obj =>
        val sName = src.scalar("name").getOrElse(throw new
            IllegalArgumentException("source entry needs a name"))
        val db = src.scalar("database").getOrElse("")
        val schema = src.scalar("schema").getOrElse(sName)
        src.arr("tables").collect { case tbl: Obj =>
          val tName = tbl.scalar("name").getOrElse(throw new
              IllegalArgumentException(s"source '$sName': table needs a name"))
          val ident = tbl.scalar("identifier").getOrElse(tName)
          val ext = tbl.obj("meta").flatMap(_.scalar("external_location"))
            .orElse(tbl.obj("external").flatMap(_.scalar("location")))
          // no declared location → the warehouse-style path text; a read
          // fails loudly there with the full coordinates in the message
          val path = ext match {
            case Some(l) if l.startsWith("/") || l.contains("{{") => l
            case Some(l) => root.resolve(l).toString
            case None => Seq(db, schema, ident).filter(_.nonEmpty)
              .mkString("/")
          }
          val fmt = tbl.obj("external").flatMap(_.scalar("file_format"))
            .getOrElse(if (path.endsWith(".csv")) "csv" else "parquet")
          val ctx = s"source '$sName.$tName'"
          // reader options (dbt-external-tables `external: options:`)
          val options = tbl.obj("external").flatMap(_.obj("options"))
            .map(_.entries.map {
              case (k, Scalar(v)) => k -> v
              case (k, _) => throw new IllegalArgumentException(
                s"$ctx: external option '$k' expects a scalar value")
            }.toMap).getOrElse(Map.empty[String, String])
          SourceDef(sName, tName, path,
            loadedAtField = objScalar(tbl, "loaded_at_field")
              .orElse(objScalar(src, "loaded_at_field")),
            eventTime = objScalar(tbl, "event_time")
              .orElse(tbl.obj("config").flatMap(_.scalar("event_time"))),
            warnAfterH = freshnessH(tbl, "warn_after", ctx)
              .orElse(freshnessH(src, "warn_after", ctx)),
            errorAfterH = freshnessH(tbl, "error_after", ctx)
              .orElse(freshnessH(src, "error_after", ctx)),
            filter = tbl.obj("freshness").flatMap(_.scalar("filter")),
            format = fmt,
            options = options,
            // reference bigquery_options @15210: table- or source-level
            // `require_partition_filter` (config: block or bare key)
            requirePartitionFilter = Seq(
              objScalar(tbl, "require_partition_filter"),
              tbl.obj("config").flatMap(_.scalar("require_partition_filter")),
              objScalar(src, "require_partition_filter"),
              src.obj("config").flatMap(_.scalar("require_partition_filter")))
              .flatten.headOption.exists(_.toLowerCase match {
                case "true" => true
                case "false" => false
                case other => throw new IllegalArgumentException(
                  s"source '$sName.$tName': require_partition_filter " +
                    s"expects true|false, got '$other'")
              }))
        }
    }.flatten

    // ------------------------------------- macros, packages, analyses
    // (loaded before the yml walk: schema.yml tests may reference
    // macro-dir generic-test blocks)
    val macroFiles = macroDirs.flatMap(d => listRec(d, ".sql"))
      .map(Files.readString(_))
    val macroDefs = macroFiles.flatMap(Compiler.parseMacros)
    val dupMacros = macroDefs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dupMacros.isEmpty,
      s"duplicate macro definitions: ${dupMacros.mkString(", ")}")
    val pkgMacros = packageMacros(root, macroDefs.map(_.name).toSet)
    val macros = pkgMacros ++ macroDefs.map(m => m.name -> m).toMap

    // custom {% materialization %} blocks live in the same macro dirs
    // (dbt's extension surface); adapter resolution spark-over-default
    val materializations = Compiler.selectMaterializations(
      macroFiles.flatMap(Compiler.parseMaterializations))

    // generic ({% test %}) definitions — looked up by schema.yml test
    // entries whose name is not a builtin
    val genericTests: Map[String, Compiler.MacroDef] = {
      val defs = macroFiles.flatMap(Compiler.parseGenericTests)
      val dups = defs.groupBy(_.name).filter(_._2.size > 1).keys
      require(dups.isEmpty,
        s"duplicate generic test definitions: ${dups.mkString(", ")}")
      defs.map(t => t.name -> t).toMap
    }

    val analyses = analysisDirs.flatMap(listRec(_, ".sql"))
      .map(p => ModelDef(stem(p), Files.readString(p)))

    // models: descriptions, config, column tests
    val descriptions = Map.newBuilder[String, String]
    val ymlCfg = Map.newBuilder[String, Map[String, String]]
    val tests = Seq.newBuilder[TestDef]
    val testConfigKeys = Set("severity", "where", "limit", "store_failures",
      "store_failures_as", "warn_if", "error_if")
    def testCfg(o: Obj): Map[String, String] = o.entries.collect {
      case (k, Scalar(v)) if testConfigKeys.contains(k) => k -> v
    }.toMap ++ o.obj("config").map(_.entries.collect {
      case (k, Scalar(v)) if testConfigKeys.contains(k) => k -> v
    }.toMap).getOrElse(Map.empty)
    def withCfg(base: TestDef, kv: Map[String, String]): TestDef = {
      kv.get("warn_if").foreach(TestDef.threshold)
      kv.get("error_if").foreach(TestDef.threshold)
      base.copy(
        severity = kv.getOrElse("severity", base.severity),
        where = kv.get("where").orElse(base.where),
        limit = kv.get("limit").map(intOf("limit", _, s"test '${base.name}'"))
          .orElse(base.limit),
        storeFailures =
          kv.get("store_failures").fold(base.storeFailures)(_ == "true"),
        storeFailuresAs =
          kv.get("store_failures_as").orElse(base.storeFailuresAs),
        warnIf = kv.get("warn_if").orElse(base.warnIf),
        errorIf = kv.get("error_if").orElse(base.errorIf))
    }
    val refRe: Regex = """ref\(\s*'([^']+)'\s*\)""".r
    val srcRe: Regex = """source\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)""".r
    // a generic ({% test %}) use: `model` binds the owner's relation
    // call, `column_name` the column (column-scoped uses only); every
    // other non-config key is a macro kwarg — numeric scalars splice
    // bare, strings as the YAML text (dbt renders str kwargs unquoted
    // too; test bodies quote where a literal is meant), lists as Jinja
    // list literals so `{% for %}` bodies expand
    def genericTestDef(mac: Compiler.MacroDef, owner: String, col: String,
                       kwargs: Map[String, String]): TestDef = {
      val modelJinja =
        if (owner.startsWith("source:")) {
          val Array(sn, tn) = owner.stripPrefix("source:").split("\\.", 2)
          s"{{ source('$sn', '$tn') }}"
        } else s"{{ ref('$owner') }}"
      val bindings = Map("model" -> modelJinja) ++
        (if (col.nonEmpty) Map("column_name" -> col) else Map.empty) ++
        kwargs
      TestDef(Seq(mac.name, owner, col).filter(_.nonEmpty).mkString("_"),
        owner, df => df,
        sql = Some(Compiler.renderGenericTest(mac, bindings)))
    }
    def columnTests(owner: String, col: String,
                    items: Seq[MiniYaml.Node]): Unit = items.foreach { item =>
        // a bare test name is the same test with no arguments
        val (kind, body) = item match {
          case Scalar(k) => (k, Obj(Nil))
          case o: Obj if o.entries.nonEmpty => o.entries.head match {
            case (k, b: Obj) => (k, b)
            case (k, _) => (k, Obj(Nil))
          }
          case other => throw new IllegalArgumentException(
            s"unsupported test entry on $owner.$col: $other")
        }
        val at = s"test '$kind' on $owner${if (col.nonEmpty) s".$col" else ""}"
        def needsCol(): Unit = require(col.nonEmpty,
          s"test '$kind' on $owner needs a column")
        // dbt_utils arguments: an unknown one refuses, because dropping
        // it would run a different test than the yml declares
        def utilsArgs(known: String*): Unit = {
          val unknown = body.entries.map(_._1).filterNot(k =>
            known.contains(k) || testConfigKeys.contains(k) || k == "config")
          require(unknown.isEmpty, s"$at: unsupported argument(s) " +
            s"${unknown.mkString(", ")} (supported: ${known.mkString(", ")})")
        }
        def need(k: String): String = body.scalar(k).getOrElse(
          throw new IllegalArgumentException(s"$at needs $k:"))
        def num(k: String, v: String): Double = v.trim.toDoubleOption
          .getOrElse(throw new IllegalArgumentException(
            s"$at: '$k' expects a number, got '$v'"))
        def list(k: String): Seq[String] = {
          val vs = body.get(k).map(MiniYaml.scalars).getOrElse(Nil)
          require(vs.nonEmpty, s"$at needs $k:")
          vs
        }
        def utils(f: DataFrame => DataFrame): TestDef = TestDef(
          Seq("dbt_utils", kind.stripPrefix("dbt_utils."), owner, col)
            .filter(_.nonEmpty).mkString("_"), owner, f)
        val base = kind match {
          case "unique" => needsCol()
            TestDef(s"unique_${owner}_$col", owner,
              df => SchemaTests.unique(df, col))
          case "not_null" => needsCol()
            TestDef(s"not_null_${owner}_$col", owner,
              df => SchemaTests.notNull(df, col))
          case "accepted_values" => needsCol()
            val values = body.get("values").map(MiniYaml.scalars)
              .getOrElse(Nil)
            require(values.nonEmpty,
              s"accepted_values on $owner.$col needs values")
            TestDef(s"accepted_values_${owner}_$col", owner,
              df => SchemaTests.acceptedValues(df, col, values))
          case "relationships" => needsCol()
            val to = body.scalar("to").getOrElse(throw new
                IllegalArgumentException(
                  s"relationships on $owner.$col needs to:"))
            val field = body.scalar("field").getOrElse(throw new
                IllegalArgumentException(
                  s"relationships on $owner.$col needs field:"))
            val parent = to.trim match {
              case refRe(m) => m
              case srcRe(s, t) => s"source:$s.$t"
              case other => throw new IllegalArgumentException(
                s"relationships to: must be ref('m') or source('s','t'), " +
                  s"got '$other'")
            }
            TestDef(s"relationships_${owner}_$col", owner, df => df,
              relationship = Some(RelationshipDef(parent, col, field)))
          case other if genericTests.contains(other) =>
            def ylit(v: String): String =
              if (v.matches("""-?\d+(\.\d+)?""") || v == "true" || v == "false") v
              else "'" + v.replace("'", "''") + "'"
            val kwargs = body.entries.collect {
              case (k, Scalar(v))
                  if !testConfigKeys.contains(k) && k != "config" => k -> v
              case (k, Arr(vs)) if !testConfigKeys.contains(k) =>
                // a silently-dropped list item would run the test against
                // a SMALLER value set than the yml declares (e.g. an
                // accepted_values list quietly losing an entry)
                k -> vs.map {
                  case Scalar(v) => ylit(v)
                  case bad => throw new IllegalArgumentException(
                    s"test kwarg '$k' on $owner.$col: list items must be " +
                      s"scalars, got $bad")
                }.mkString("[", ", ", "]")
            }.toMap
            genericTestDef(genericTests(other), owner, col, kwargs)
          // ---- the dbt-utils battery, under dbt_utils' own names
          case "dbt_utils.accepted_range" => needsCol()
            utilsArgs("min_value", "max_value", "inclusive")
            require(!body.scalar("inclusive").contains("false"),
              s"$at: inclusive: false is unsupported")
            val lo = body.scalar("min_value").map(num("min_value", _))
            val hi = body.scalar("max_value").map(num("max_value", _))
            require(lo.isDefined || hi.isDefined,
              s"$at needs min_value: or max_value:")
            utils(df => SchemaTests.acceptedRange(df, col, lo, hi))
          case "dbt_utils.unique_combination_of_columns" =>
            utilsArgs("combination_of_columns")
            val cols = list("combination_of_columns")
            utils(df => SchemaTests.uniqueCombination(df, cols))
          case "dbt_utils.expression_is_true" => utilsArgs("expression")
            // column-level use prefixes the column, as dbt-utils does
            val e = (if (col.nonEmpty) s"$col " else "") + need("expression")
            utils(df => SchemaTests.expressionIsTrue(df,
              org.apache.spark.sql.functions.expr(e)))
          case "dbt_utils.not_accepted_values" => needsCol()
            utilsArgs("values")
            val values = list("values")
            utils(df => SchemaTests.notAcceptedValues(df, col, values))
          case "dbt_utils.not_null_proportion" => needsCol()
            utilsArgs("at_least", "at_most")
            // proportions in [0, 1] → the basis points SchemaTests takes
            def bp(k: String, v: String): Int = {
              val d = num(k, v)
              require(d >= 0 && d <= 1, s"$at: '$k' must be in [0, 1], got '$v'")
              math.round(d * 10000).toInt
            }
            val atLeast = bp("at_least", need("at_least"))
            val atMost = body.scalar("at_most").map(bp("at_most", _))
              .getOrElse(10000)
            utils(df => SchemaTests.notNullProportion(df, col, atLeast, atMost))
          case "dbt_utils.at_least_one" => needsCol(); utilsArgs()
            utils(df => SchemaTests.atLeastOne(df, col))
          case "dbt_utils.not_constant" => needsCol(); utilsArgs()
            utils(df => SchemaTests.notConstant(df, col))
          case "dbt_utils.sequential_values" => needsCol()
            utilsArgs("interval")
            val interval = body.scalar("interval")
              .map(intOf("interval", _, at).toLong).getOrElse(1L)
            utils(df => SchemaTests.sequentialValues(df, col, interval))
          case "dbt_utils.mutually_exclusive_ranges" =>
            utilsArgs("lower_bound_column", "upper_bound_column",
              "partition_by", "gaps")
            require(body.scalar("gaps").forall(_ == "allowed"),
              s"$at: only gaps: allowed is supported")
            val (lower, upper) =
              (need("lower_bound_column"), need("upper_bound_column"))
            val partitionBy = need("partition_by").split(",").iterator
              .map(_.trim).filter(_.nonEmpty).toIndexedSeq
            utils(df => SchemaTests.mutuallyExclusiveRanges(df, lower, upper,
              partitionBy, Nil))
          case other => throw new IllegalArgumentException(
            s"unsupported schema test '$other' on $owner.$col — not a " +
              s"builtin and no {% test $other %} block in the macro paths")
        }
        tests += withCfg(base, testCfg(body))
    }
    // model VERSIONS (dbt 1.5 `versions:` + `latest_version`): each
    // version is its own graph node named `<base>_v<N>` (dbt's default
    // identifier), sourced from `<base>_v<N>.sql` or the entry's
    // `defined_in:` file; yml config/descriptions/tests apply to EVERY
    // version; unpinned `ref('base')` resolves to the latest version,
    // `ref('base', v=N)` pins (both rewritten textually at load time so
    // the DAG, compiled SQL, and state checksums all see real nodes)
    val versionedB =
      Map.newBuilder[String, (Int, Seq[(Int, String)])]
    ymlDocs.foreach { y =>
      y.arr("models").foreach {
        case m: Obj =>
          val mName = m.scalar("name").getOrElse(throw new
              IllegalArgumentException("model doc entry needs a name"))
          val versions = m.arr("versions").collect { case vo: Obj =>
            val v = vo.scalar("v").flatMap(_.toIntOption).getOrElse(
              throw new IllegalArgumentException(
                s"model '$mName': versions entries need integer v:"))
            (v, vo.scalar("defined_in").getOrElse(s"${mName}_v$v"))
          }
          require(versions.map(_._1).distinct.size == versions.size,
            s"model '$mName': duplicate version numbers")
          if (versions.nonEmpty) {
            val latest = m.scalar("latest_version")
              .map(intOf("latest_version", _, s"model '$mName'"))
              .getOrElse(versions.map(_._1).max)
            require(versions.exists(_._1 == latest),
              s"model '$mName': latest_version $latest is not among " +
                s"versions ${versions.map(_._1).sorted.mkString(", ")}")
            versionedB += mName -> (latest, versions)
          }
          val owners =
            if (versions.isEmpty) Seq(mName)
            else versions.map { case (v, _) => s"${mName}_v$v" }
          owners.foreach { owner =>
            m.scalar("description").filter(_.nonEmpty)
              .foreach(d => descriptions += owner -> d)
            m.obj("config").foreach(c =>
              ymlCfg += owner -> c.entries.collect {
                case (k, Scalar(v)) => k -> v
                case ("tags", Arr(items)) => "tags" -> tagList(items)
                // hook lists / dict-form hooks, HookSep-joined (see plusKv)
                case (k, Arr(items)) if Compiler.hookKeys.contains(k) =>
                  k -> items.map(hookSql(_, s"$mName.$k"))
                    .mkString(Compiler.HookSep)
                case (k, o: Obj) if Compiler.hookKeys.contains(k) =>
                  k -> hookSql(o, s"$mName.$k")
                case ("grants", g: Obj) => "grants" -> flattenGrants(g)
                case ("labels", l: Obj) => "labels" -> flattenLabels(l)
              }.toMap)
            // model-LEVEL tests (no column binding — generic tests and
            // table-shaped builtins; column-shaped builtins refuse
            // loudly)
            columnTests(owner, "",
              m.arr("tests") ++ m.arr("data_tests"))
            m.arr("columns").foreach {
              case c: Obj =>
                val cName = c.scalar("name").getOrElse(throw new
                    IllegalArgumentException(s"$mName: column needs a name"))
                c.scalar("description").filter(_.nonEmpty)
                  .foreach(d => descriptions += s"$owner.$cName" -> d)
                columnTests(owner, cName,
                  c.arr("tests") ++ c.arr("data_tests"))
              case _ => ()
            }
          }
        case _ => ()
      }
      // tests declared under source tables bind to `source:<s>.<t>`
      y.arr("sources").foreach {
        case src: Obj =>
          val sName = src.scalar("name").getOrElse("")
          src.arr("tables").foreach {
            case tbl: Obj =>
              val owner = s"source:$sName.${tbl.scalar("name").getOrElse("")}"
              columnTests(owner, "",
                tbl.arr("tests") ++ tbl.arr("data_tests"))
              tbl.arr("columns").foreach {
                case c: Obj => columnTests(owner,
                  c.scalar("name").getOrElse(""),
                  c.arr("tests") ++ c.arr("data_tests"))
                case _ => ()
              }
            case _ => ()
          }
        case _ => ()
      }
    }
    val ymlCfgMap = ymlCfg.result()
    val versioned = versionedB.result()
    // version-file stem → graph node name (`defined_in:` files rename)
    val fileRename: Map[String, String] = versioned.flatMap {
      case (base, (_, vs)) =>
        vs.map { case (v, fstem) => fstem -> s"${base}_v$v" }
    }
    fileRename.foreach { case (fstem, node) =>
      require(modelFiles.exists(f => stem(f._2) == fstem),
        s"versioned model '$node': no model file '$fstem.sql'")
    }
    val braceRefRe: Regex = """\{\{\s*ref\(\s*'([^']+)'\s*\)\s*\}\}""".r
    val verRefRe: Regex =
      ("""\{\{\s*ref\(\s*'([^']+)'\s*,\s*(?:v|version)\s*=\s*(\d+)""" +
        """\s*\)\s*\}\}""").r
    def rewriteVersionedRefs(sql: String): String = {
      val s1 = verRefRe.replaceAllIn(sql, m => {
        val (base, v) = (m.group(1), m.group(2).toInt)
        val (_, vs) = versioned.getOrElse(base,
          throw new IllegalArgumentException(
            s"ref('$base', v=$v): '$base' declares no versions"))
        require(vs.exists(_._1 == v),
          s"ref('$base', v=$v): no such version (have " +
            s"${vs.map(_._1).sorted.mkString(", ")})")
        Regex.quoteReplacement(s"{{ ref('${base}_v$v') }}")
      })
      if (versioned.isEmpty) s1
      else braceRefRe.replaceAllIn(s1, m => Regex.quoteReplacement(
        versioned.get(m.group(1)) match {
          case Some((latest, _)) => s"{{ ref('${m.group(1)}_v$latest') }}"
          case None => m.matched
        }))
    }
    def latestOf(name: String): String =
      versioned.get(name).fold(name) { case (l, _) => s"${name}_v$l" }

    val models = modelFiles.map { case (_, p) =>
      val nm = fileRename.getOrElse(stem(p), stem(p))
      val kv = mergeKv(treeCfg(stem(p)), ymlCfgMap.getOrElse(nm, Map.empty))
      ModelDef(nm, rewriteVersionedRefs(Files.readString(p)),
        Compiler.applyConfigKv(kv, ModelConfig()))
    }
    // model name -> project-relative source path (the `path:` selector)
    val modelPaths: Map[String, String] = modelFiles.map { case (_, p) =>
      fileRename.getOrElse(stem(p), stem(p)) ->
        root.relativize(p).toString
    }.toMap
    require(models.map(_.name).distinct.size == models.size,
      "versioned rename collides with an existing model name: " +
        models.map(_.name).groupBy(identity).filter(_._2.size > 1)
          .keys.mkString(", "))

    // exposures: name, depends_on [ref('m')], owner {name,email}, url
    val exposures = ymlDocs.flatMap(_.arr("exposures")).collect {
      case e: Obj =>
        // a bare scalar dep counts as a one-item list (Obj.arr returns
        // Nil for it — the exposure would silently lose its lineage edge)
        val deps = (e.get("depends_on") match {
          case Some(Arr(items)) => items
          case Some(n) => Seq(n)
          case None => Nil
        }).map {
          case Scalar(v) =>
            v.trim match { case refRe(m) => m; case other => other }
          // a dropped dep is a silently missing lineage edge
          case bad => throw new IllegalArgumentException(
            s"exposure depends_on entries must be ref('...') strings, " +
              s"got $bad")
        }
        ExposureDef(e.scalar("name").getOrElse("exposure"),
          deps.map(latestOf),
          owner = e.obj("owner").flatMap(o =>
            o.scalar("name").orElse(o.scalar("email"))).getOrElse(""),
          url = e.scalar("url").getOrElse(""))
    }

    // metrics (dbt ≤1.5 spec): model ref, calculation_method, expression,
    // timestamp, dimensions; `filters:` entries join with AND
    val metrics = ymlDocs.flatMap(_.arr("metrics")).collect {
      case m: Obj =>
        val mName = m.scalar("name").getOrElse(throw new
            IllegalArgumentException("metrics entry needs a name"))
        def need(k: String): String = m.scalar(k).filter(_.trim.nonEmpty)
          .getOrElse(throw new IllegalArgumentException(
            s"metric '$mName': '$k' is required"))
        val model = need("model").trim match {
          case refRe(x) => latestOf(x)
          case other => throw new IllegalArgumentException(
            s"metric '$mName': model must be ref('x'), got '$other'")
        }
        val filters = m.arr("filters").map {
          case f: Obj => Seq("field", "operator", "value").map(k =>
            f.scalar(k).getOrElse(throw new IllegalArgumentException(
              s"metric '$mName': filters entries need field, operator " +
                "and value"))).mkString(" ")
          case bad => throw new IllegalArgumentException(
            s"metric '$mName': filters entries must be mappings, got $bad")
        }
        MetricDef(mName, model, need("calculation_method"),
          need("expression"), need("timestamp"),
          m.get("dimensions").map(MiniYaml.scalars).getOrElse(Nil),
          if (filters.isEmpty) None else Some(filters.mkString(" AND ")))
    }

    // dependencies.yml `projects:` (dbt mesh) plus each upstream's
    // deployment coordinates: the projects a two-arg ref('p', 'm')
    // resolves into
    val dependencies = {
      val f = root.resolve("dependencies.yml")
      if (!Files.exists(f)) Nil
      else MiniYaml.parseFile(f).arr("projects").map {
        case d: Obj =>
          val dName = d.scalar("name").getOrElse(throw new
              IllegalArgumentException(
                "dependencies.yml: projects entries need a name"))
          DependencyDef(dName,
            d.scalar("warehouse_root").getOrElse(throw new
              IllegalArgumentException(
                s"dependencies.yml: project '$dName' needs warehouse_root")),
            d.scalar("database").getOrElse("analytics"),
            d.scalar("schema").getOrElse("main"))
        case bad => throw new IllegalArgumentException(
          s"dependencies.yml: projects entries must be mappings, got $bad")
      }
    }

    // -------------------------------------------- unit tests (dbt 1.8)
    // `unit_tests:` yml: given mocked inputs -> expect rows per model.
    // Input spellings `ref('x')` / `source('a','b')` normalize to the
    // Engine.runUnitTest keys (`x` / `source:a.b`).
    def rowMaps(o: Obj, key: String, what: String)
        : Either[String, Seq[Map[String, String]]] = {
      // `format: csv` fixtures ride a block scalar: header line + rows,
      // empty cells -> NULL — dbt 1.8's inline-csv spelling. Quote-aware
      // split: a double-quoted cell may contain commas, `""` escapes a
      // literal quote, and the wrapping quotes strip. The HEADER defines
      // the column set — an all-empty column still exists (as NULLs) in
      // the mock relation.
      def splitCsvLine(l: String): Seq[String] = {
        val out = Seq.newBuilder[String]
        val sb = new StringBuilder
        var inQ = false
        var i = 0
        while (i < l.length) {
          val c = l.charAt(i)
          if (inQ) {
            if (c == '"') {
              if (i + 1 < l.length && l.charAt(i + 1) == '"') {
                sb.append('"'); i += 1
              } else inQ = false
            } else sb.append(c)
          } else c match {
            case '"' => inQ = true
            case ',' => out += sb.result().trim; sb.clear()
            case _ => sb.append(c)
          }
          i += 1
        }
        out += sb.result().trim
        out.result()
      }
      def csvRows(text: String): Seq[Map[String, String]] = {
        val lines = text.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
        require(lines.nonEmpty, s"$what: empty csv fixture")
        val header = splitCsvLine(lines.head)
        lines.tail.map { l =>
          val cells = splitCsvLine(l)
          require(cells.length == header.length,
            s"$what: csv row '$l' has ${cells.length} cells, header " +
              s"has ${header.length}")
          // keep EVERY header column; empty cell = NULL (mockFrame
          // renders a null-valued key as a NULL literal)
          header.zip(cells.map(c => if (c.isEmpty) null else c)).toMap
        }
      }
      // Left(select) for `format: sql` fixtures (dbt 1.8: the rows value
      // is an inline SELECT the engine runs as the mock/expected frame),
      // Right(rows) for dict/csv literal fixtures.
      def items(fmt: String, n: MiniYaml.Node)
          : Either[String, Seq[Map[String, String]]] = (fmt, n) match {
        case ("dict", Arr(xs)) => Right(xs.map {
          case r: Obj => r.entries.collect {
            case (k, Scalar(v)) => k -> v
          }.toMap
          case other => throw new IllegalArgumentException(
            s"$what: rows entries must be mappings, got $other")
        })
        case ("csv", Scalar(text)) if text.nonEmpty => Right(csvRows(text))
        case ("sql", Scalar(text)) if text.trim.nonEmpty => Left(text.trim)
        case ("sql", _) => throw new IllegalArgumentException(
          s"$what: format sql needs the SELECT as the rows value " +
            "(block scalar or string)")
        case (_, Scalar("")) => Right(Nil)
        case ("dict", other) => throw new IllegalArgumentException(
          s"$what: expected a rows list, got $other")
        case (otherFmt, _) => throw new IllegalArgumentException(
          s"$what: unsupported fixture format '$otherFmt' — " +
            "supported: dict (row mappings), csv (block-scalar text), " +
            "sql (inline SELECT)")
      }
      o.get(key) match {
        // `expect:` nests its list under `rows:` (format: alongside it);
        // `given` entries carry `rows:`/`format:` directly. A mapping
        // WITHOUT a rows key is a typo ('rowz:'), not the zero-rows
        // contract — refuse, never silently assert emptiness.
        case Some(inner: Obj) =>
          val rows = inner.get("rows").getOrElse(
            throw new IllegalArgumentException(
              s"$what: no 'rows:' key under '$key' (keys present: " +
                s"${inner.entries.map(_._1).mkString(", ")}) — spell " +
                "an empty expectation as 'rows: []'"))
          items(inner.scalar("format").getOrElse("dict"), rows)
        case Some(node) => items(o.scalar("format").getOrElse("dict"), node)
        case None => Right(Nil)
      }
    }
    val unitTests = ymlDocs.flatMap(_.arr("unit_tests")).collect {
      case ut: Obj =>
        val utName = ut.scalar("name").getOrElse(throw
          new IllegalArgumentException("unit_tests entry without a name"))
        val model = latestOf(ut.scalar("model").getOrElse(throw
          new IllegalArgumentException(s"unit test '$utName': no model")))
        val givenPairs = ut.arr("given").collect {
          case g: Obj =>
            val input = g.scalar("input").getOrElse(throw
              new IllegalArgumentException(
                s"unit test '$utName': given entry without input")).trim
            val key = input match {
              case refRe(m) => latestOf(m)
              case srcRe(s, t) => s"source:$s.$t"
              case other => throw new IllegalArgumentException(
                s"unit test '$utName': input must be ref('x') or " +
                  s"source('a','b'), got '$other'")
            }
            key -> rowMaps(g, "rows", s"unit test '$utName' given $input")
        }
        val given = givenPairs.collect { case (k, Right(rows)) => k -> rows }.toMap
        val givenSql = givenPairs.collect { case (k, Left(sql)) => k -> sql }.toMap
        // `rows:` arrives nested under `expect:` — the key itself is
        // REQUIRED (dbt errors on a unit test without expect): an
        // absent/typo'd key must not silently become the
        // expect-zero-rows contract, which `rows: []` spells explicitly
        require(ut.get("expect").isDefined,
          s"unit test '$utName': no 'expect:' key — a unit test must " +
            "state its expected rows (use 'expect: {rows: []}' to " +
            "assert zero rows)")
        // overrides (dbt 1.8): vars/env_vars the model compiles with
        // inside this test; macro overrides are out of scope — refuse
        // loudly rather than silently compiling with the real macro
        val ov = ut.obj("overrides")
        require(ov.forall(_.obj("macros").isEmpty),
          s"unit test '$utName': overrides.macros is unsupported — " +
            "test the macro through a model that calls it")
        def ovMap(k: String): Map[String, String] =
          ov.flatMap(_.obj(k)).map(_.entries.collect {
            case (n, Scalar(v)) => n -> v }.toMap).getOrElse(Map.empty)
        // unit-test severity (`config: severity: warn` or top-level
        // `severity:`): a warn-level expect mismatch REPORTS but does not
        // fail the build or skip the model's cone
        val severity = ut.obj("config").flatMap(_.scalar("severity"))
          .orElse(ut.scalar("severity")).getOrElse("error").toLowerCase
        require(Set("warn", "error").contains(severity),
          s"unit test '$utName': severity must be warn|error, got '$severity'")
        val (expectRows, expectSql) =
          rowMaps(ut, "expect", s"unit test '$utName' expect") match {
            case Right(rows) => (rows, None)
            case Left(sql) => (Nil, Some(sql))
          }
        UnitTestDef(utName, model, given, expectRows,
          vars = ovMap("vars"), env = ovMap("env_vars"),
          givenSql = givenSql, expectSql = expectSql, severity = severity)
    }

    // ------------------------------------------------------------ seeds
    val seedTree = py.obj("seeds").flatMap(_.obj(name))
    def seedTypes(seed: String): Map[String, String] =
      seedTree.flatMap(_.obj(seed)).flatMap(_.get("+column_types")).map {
        case o: Obj => o.entries.collect { case (k, Scalar(v)) => k -> v }.toMap
        case _ => Map.empty[String, String]
      }.getOrElse(Map.empty)
    val seeds = seedDirs.flatMap(listRec(_, ".csv")).map(p =>
      SeedDef(stem(p), p.toString, seedTypes(stem(p))))

    // ------------------------------------------------- snapshot blocks
    def snapshotStrategy(snapName: String,
        kv: Map[String, String]): SnapshotStrategy = kv.get("strategy") match {
      case Some("check") => SnapshotStrategy.Check(
        kv.get("check_cols").map(_.split("\\|").toSeq)
          .filterNot(_ == Seq("all")))
      case _ => SnapshotStrategy.Timestamp(kv.getOrElse("updated_at",
        throw new IllegalArgumentException(
          s"snapshot $snapName: updated_at required")))
    }
    def snapshotDef(snapName: String, body: String,
        kv: Map[String, String],
        metaNames: Map[String, String]): SnapshotDef =
      SnapshotDef(snapName, rewriteVersionedRefs(body),
        kv.get("unique_key").map(_.split("\\|").toSeq).getOrElse(
          throw new IllegalArgumentException(
            s"snapshot $snapName: unique_key required")),
        snapshotStrategy(snapName, kv),
        invalidateHardDeletes =
          kv.get("invalidate_hard_deletes").contains("true"),
        hardDeletes = kv.get("hard_deletes"),
        validToCurrent = kv.get("dbt_valid_to_current"),
        metaColumnNames = metaNames)
    val snapshotBlockRe: Regex =
      """(?s)\{%-?\s*snapshot\s+([A-Za-z_]\w*)\s*-?%\}(.*?)\{%-?\s*endsnapshot\s*-?%\}""".r
    val blockSnapshots = snapDirs.flatMap(listRec(_, ".sql")).flatMap { p =>
      snapshotBlockRe.findAllMatchIn(Files.readString(p)).map { m =>
        val (snapName, body) = (m.group(1), m.group(2))
        snapshotDef(snapName, body, Compiler.parseSnapshotConfig(body),
          Map.empty)
      }
    }
    // dbt 1.9 YAML-defined snapshots: `snapshots:` entries with a
    // `relation:` (ref/source call text — becomes the snapshot's SELECT)
    // and a `config:` mapping; snapshot_meta_column_names rides as a
    // nested mapping (canonical -> custom). dbt's documented home for
    // these is snapshots/*.yml (snapshot-paths), which the model-dir
    // ymlDocs walk does NOT cover — scan it too, or the canonical
    // layout silently loads zero snapshots.
    val snapYmlDocs: Seq[Obj] = snapDirs
      .flatMap(d => listRec(d, ".yml") ++ listRec(d, ".yaml"))
      .map(MiniYaml.parseFile)
    val ymlSnapshots = (ymlDocs ++ snapYmlDocs)
      .flatMap(_.arr("snapshots")).collect {
      case sn: Obj if sn.scalar("relation").isDefined =>
        val snapName = sn.scalar("name").getOrElse(throw
          new IllegalArgumentException("snapshots entry without a name"))
        val relCall = sn.scalar("relation").get.trim
        require(relCall.startsWith("ref(") || relCall.startsWith("source("),
          s"snapshot $snapName: relation must be ref('x') or " +
            s"source('a','b'), got '$relCall'")
        val cfg = sn.obj("config").getOrElse(Obj(Nil))
        val kv = cfg.entries.collect {
          case (k, Scalar(v)) => k -> v
          case (k, Arr(xs)) => k -> xs.collect {
            case Scalar(v) => v }.mkString("|")
        }.toMap
        val metaNames = cfg.obj("snapshot_meta_column_names")
          .map(_.entries.collect { case (k, Scalar(v)) => k -> v }.toMap)
          .getOrElse(Map.empty[String, String])
        snapshotDef(snapName, s"SELECT * FROM {{ $relCall }}", kv, metaNames)
    }
    val snapshots = blockSnapshots ++ ymlSnapshots

    // ------------------------------------------------- singular tests
    val singular = testDirs.flatMap(listRec(_, ".sql")).map { p =>
      val sql = rewriteVersionedRefs(Files.readString(p))
      val (refs, srcs) = Compiler.dependencies(sql)
      val anchor = refs.headOption.orElse(
        srcs.headOption.map { case (s, t) => s"source:$s.$t" })
        .getOrElse(throw new IllegalArgumentException(
          s"singular test ${stem(p)} references no ref()/source() — " +
            "nothing to test"))
      TestDef(stem(p), anchor, df => df, sql = Some(sql))
    }

    // selectors.yml: named selector compositions. The scalar
    // `definition:` form maps onto the engine's selector grammar
    // directly; the STRUCTURED method/value tree translates to the same
    // grammar: top-level `union:` terms join by space, `intersection:`
    // of leaves joins by comma, leaf `method`/`value` (+ parents/
    // children[_depth]) renders the +N prefixes/suffixes, and
    // `exclude:` components collect into the selector's exclude half.
    // Deeper nesting (a union inside an intersection) has no flat
    // grammar equivalent and refuses loudly.
    def selectorLeaf(o: Obj, selName: String): String = {
      // every key must be understood — silently dropping a flag narrows
      // the selection dbt would make
      val known = Set("method", "value", "parents", "children",
        "parents_depth", "children_depth", "childrens_parents")
      val unknown = o.entries.map(_._1).filterNot(known.contains)
      require(unknown.isEmpty,
        s"selectors.yml: '$selName' leaf has unsupported key(s) " +
          s"${unknown.mkString(", ")} (supported: ${known.toSeq.sorted
            .mkString(", ")})")
      Seq("parents", "children").foreach { side =>
        require(o.scalar(s"${side}_depth").isEmpty ||
          o.scalar(side).contains("true"),
          s"selectors.yml: '$selName' sets ${side}_depth without " +
            s"$side: true")
      }
      val value = o.scalar("value").getOrElse(
        throw new IllegalArgumentException(
          s"selectors.yml: '$selName' leaf needs value:"))
      val core = o.scalar("method").getOrElse("fqn") match {
        case "fqn" => value
        case "tag" => s"tag:$value"
        case "path" => s"path:$value"
        case "config.materialized" => s"config.materialized:$value"
        case "exposure" => s"exposure:$value"
        case "source" => s"source:$value"
        case other => throw new IllegalArgumentException(
          s"selectors.yml: '$selName' uses unsupported method '$other' " +
            "(supported: fqn, tag, path, config.materialized, exposure, " +
            "source)")
      }
      // childrens_parents is dbt's @ operator (descendants + ALL their
      // ancestors) — it subsumes parents/children and takes no depth
      if (o.scalar("childrens_parents").contains("true")) {
        require(Seq("parents", "children", "parents_depth",
          "children_depth").forall(o.scalar(_).isEmpty),
          s"selectors.yml: '$selName' combines childrens_parents with " +
            "parents/children flags — @ already includes both")
        s"@$core"
      } else {
        val pfx =
          if (o.scalar("parents").contains("true"))
            o.scalar("parents_depth").getOrElse("") + "+"
          else ""
        val sfx =
          if (o.scalar("children").contains("true"))
            "+" + o.scalar("children_depth").getOrElse("")
          else ""
        pfx + core + sfx
      }
    }
    // returns (include terms, exclude terms)
    def selectorNode(n: MiniYaml.Node,
                     selName: String): (Seq[String], Seq[String]) = n match {
      case Scalar(v) =>
        require(v.trim.nonEmpty,
          s"selectors.yml: selector '$selName' has an empty definition")
        (Seq(v), Nil)
      case o: Obj if o.get("union").isDefined =>
        val parts = o.arr("union").map(selectorNode(_, selName))
        (parts.flatMap(_._1), parts.flatMap(_._2))
      case o: Obj if o.get("intersection").isDefined =>
        val leaves = o.arr("intersection").map {
          case l: Obj if l.scalar("value").isDefined => selectorLeaf(l, selName)
          case Scalar(v) => v
          case _ => throw new IllegalArgumentException(
            s"selectors.yml: '$selName' intersection components must be " +
              "method/value leaves (nested unions have no flat equivalent)")
        }
        (Seq(leaves.mkString(",")), Nil)
      case o: Obj if o.get("exclude").isDefined =>
        val ex = o.arr("exclude").map {
          case l: Obj => selectorLeaf(l, selName)
          case Scalar(v) => v
          case _ => throw new IllegalArgumentException(
            s"selectors.yml: '$selName' exclude components must be leaves")
        }
        (Nil, ex)
      case o: Obj if o.scalar("value").isDefined =>
        (Seq(selectorLeaf(o, selName)), Nil)
      case other => throw new IllegalArgumentException(
        s"selectors.yml: '$selName' has an unsupported definition node: " +
          other)
    }
    val selectors = {
      val f = root.resolve("selectors.yml")
      if (!Files.exists(f)) Nil
      else MiniYaml.parseFile(f).arr("selectors").collect {
        case s: Obj =>
          val n = s.scalar("name").getOrElse(throw new
              IllegalArgumentException("selectors.yml: entry needs a name"))
          s.scalar("definition").filter(_.nonEmpty) match {
            case Some(defn) =>
              SelectorDef(n, defn, exclude = s.scalar("exclude").getOrElse(""))
            case None =>
              val tree = s.get("definition").getOrElse(
                throw new IllegalArgumentException(
                  s"selectors.yml: selector '$n' needs a definition"))
              val (inc, exc) = selectorNode(tree, n)
              require(inc.nonEmpty,
                s"selectors.yml: selector '$n' selects nothing")
              SelectorDef(n, inc.mkString(" "),
                exclude = (exc ++ s.scalar("exclude").toSeq).mkString(" "))
          }
      }
    }

    // docs blocks land in descriptions via doc()
    val docsBlocks = {
      val all = (modelDirs.flatMap(d => listRec(d, ".md")) ++
        Option(root.resolve("docs")).filter(Files.isDirectory(_)).toSeq
          .flatMap(listRec(_, ".md")))
        .flatMap(p => Compiler.parseDocsBlocks(Files.readString(p)))
      val dups = all.groupBy(_._1).filter(_._2.size > 1).keys
      require(dups.isEmpty,
        s"duplicate {% docs %} block names: ${dups.mkString(", ")}")
      all.toMap
    }
    val resolvedDescriptions = descriptions.result().map { case (k, v) =>
      k -> Compiler.resolveDocRefs(v, docsBlocks)
    }

    // versioned-base references outside model SQL resolve to the latest
    // version: relationship test parents (`to: ref('base')`) and
    // generic/singular test templated SQL
    val allTests = (tests.result() ++ singular).map { t0 =>
      val t1 = t0.relationship.fold(t0)(r => t0.copy(relationship =
        Some(r.copy(parentModel = latestOf(r.parentModel)))))
      t1.sql.fold(t1)(q => t1.copy(sql = Some(rewriteVersionedRefs(q))))
    }

    (Project(name, sources, models, seeds, snapshots,
      allTests,
      onRunStart = hookList("on-run-start"),
      onRunEnd = hookList("on-run-end"),
      macros = macros, vars = vars, exposures = exposures,
      metrics = metrics, dependencies = dependencies,
      selectors = selectors,
      analyses = analyses.map(a =>
        a.copy(rawSql = rewriteVersionedRefs(a.rawSql))),
      descriptions = resolvedDescriptions,
      modelPaths = modelPaths,
      materializations = materializations,
      unitTests = unitTests),
      Map("name" -> name) ++ py.scalar("profile").map("profile" -> _))
  }

  /** Package macros. `packages.yml` `- local:` entries load from their
    * directory (package name = directory basename, sanitized to an
    * identifier); `- package:` (hub) / `- git:` / `- tarball:` entries
    * load from a vendored mirror at `packages/<basename>` (the `dbt deps`
    * output convention) and otherwise refuse loudly — the loader never
    * fetches, and silently skipping a declared dependency would surface
    * later as a confusing unknown-macro failure. With no packages.yml,
    * every subdirectory of packages/ autoloads. Each package contributes
    * the `.sql` files of `<dir>/macros`. Resolution order is dbt's:
    * project macro > package macro; a package macro is callable bare
    * when exactly one package defines that name AND the project does
    * not, and always as `{{ <package>.<macro>(...) }}`
    * (Compiler.macroCallRe). A bare call to a name two packages define
    * fails loudly in expandMacros with the candidate namespaces.
    */
  private def packageMacros(root: Path, projectNames: Set[String])
      : Map[String, Compiler.MacroDef] = {
    val pkgDirs: Seq[(String, Path)] = {
      val ymlPath = root.resolve("packages.yml")
      val declared: Seq[(String, Path)] =
        if (!Files.exists(ymlPath)) Nil
        else MiniYaml.parseFile(ymlPath).arr("packages").map {
          case item: Obj => item.entries.collectFirst {
            case (k @ ("local" | "package" | "git" | "hub" | "tarball"),
                Scalar(v)) => k -> v
          } match {
            case Some(("local", d)) =>
              val p0 = Paths.get(d)
              val dir = if (p0.isAbsolute) p0 else root.resolve(p0)
              require(Files.isDirectory(dir),
                s"packages.yml: local package directory not found: $dir")
              val name = dir.getFileName.toString.replaceAll("\\W", "_")
              name -> dir
            case Some((kind, what)) =>
              val base = what.split("/").last.stripSuffix(".git")
                .replaceAll("\\W", "_")
              val mirror = root.resolve("packages").resolve(base)
              if (Files.isDirectory(mirror)) base -> mirror
              else throw new IllegalArgumentException(
                s"packages.yml: '$kind: $what' needs network access to " +
                  s"fetch and no vendored mirror exists — either vendor " +
                  s"the package at $mirror (the packages/ mirror " +
                  "convention) or declare it with 'local:'")
            case None => throw new IllegalArgumentException(
              "packages.yml: an entry needs one of local/package/git/" +
                s"hub/tarball: ${item.entries.map(_._1).mkString(", ")}")
          }
          case bad => throw new IllegalArgumentException(
            s"packages.yml: packages entries must be mappings, got $bad")
        }
      if (declared.nonEmpty) declared
      else if (Files.isDirectory(root.resolve("packages")))
        Files.list(root.resolve("packages")).iterator.asScala.toSeq
          .filter(Files.isDirectory(_)).sortBy(_.getFileName.toString)
          .map(p => p.getFileName.toString -> p)
      else Nil
    }
    val dupPkg = pkgDirs.groupBy(_._1).filter(_._2.size > 1).keys
    require(dupPkg.isEmpty, s"duplicate package names: ${dupPkg.mkString(", ")}")
    val pkgMacroDefs: Seq[(String, Compiler.MacroDef)] =
      pkgDirs.flatMap { case (pkg, dir) =>
        val macroDir = dir.resolve("macros")
        val defs =
          if (!Files.isDirectory(macroDir)) Nil
          else Files.list(macroDir).iterator.asScala.toSeq
            .filter(_.toString.endsWith(".sql")).sortBy(_.toString)
            .flatMap(p => Compiler.parseMacros(Files.readString(p)))
        val dups = defs.groupBy(_.name).filter(_._2.size > 1).keys
        require(dups.isEmpty,
          s"package '$pkg': duplicate macro definitions: ${dups.mkString(", ")}")
        defs.map(pkg -> _)
      }
    // bare alias only when exactly one package defines the name AND the
    // project does not (project shadows package, like dbt)
    val bareFromPkgs = pkgMacroDefs.groupBy(_._2.name).collect {
      case (n, Seq((_, d))) if !projectNames.contains(n) => n -> d
    }
    bareFromPkgs ++
      pkgMacroDefs.map { case (p, d) => s"$p.${d.name}" -> d }.toMap
  }
}
