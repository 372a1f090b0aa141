package graft.run

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.core.SnapshotStrategy
import graft.dqtests.SchemaTests

/** Loads a project from a directory — the dbt-project-on-disk UX
  * (reference layout: dbt_project.yml + models dir (.sql files) + sources +
  * seeds dir (.csv files); `/root/reference/dbt_project.yml:15-20` path config).
  *
  * Formats are deliberately line-based (no YAML parser in a zero-dep
  * build):
  *
  * {{{
  * project.conf    name=demo  database=analytics  schema=main  threads=4
  * sources.conf    tpch customer /data/customer.parquet
  *                 tpch orders /data/orders.parquet o_orderdate 24 72
  * models x.sql    SQL with {{ ref/source/config/env_var/this }}
  * seeds y.csv     header CSV (name = file stem)
  * tests.conf      unique orders_model o_orderkey
  *                 not_null orders_model o_custkey
  *                 accepted_values orders_model o_orderstatus O,F,P
  *                 relationships orders_model o_custkey customers c_custkey
  * }}}
  */
object ProjectLoader {

  def load(dir: String): (Project, Map[String, String]) = {
    val root = Paths.get(dir)
    // a dbt-NATIVE project (dbt_project.yml at the root — the reference
    // repo's own layout) loads through the yml ingestion path
    if (Files.exists(root.resolve("dbt_project.yml")) &&
        !Files.exists(root.resolve("project.conf")))
      return DbtProjectLoader.load(dir)
    val conf = parseConf(root.resolve("project.conf"))
    val name = conf.getOrElse("name", root.getFileName.toString)

    val sources = readLines(root.resolve("sources.conf")).map { l =>
      // trailing optional freshness filter may contain spaces → quoted
      // token, e.g.: tpch orders /d/orders.parquet o_orderdate 24 72
      //              'o_orderstatus = ''O'''
      // format=json / options=header:true,delimiter:; tokens may appear
      // anywhere after the path (non-parquet external sources)
      val raw = tokenize(l)
      val fmt = raw.find(_.startsWith("format="))
        .map(_.stripPrefix("format=")).getOrElse("parquet")
      val opts = raw.find(_.startsWith("options="))
        .map(_.stripPrefix("options=").split(",").iterator
          .map(_.split(":", 2)).collect { case Array(k, v) => k -> v }
          .toMap).getOrElse(Map.empty[String, String])
      // value parsed, not token-matched: '=True'/'=false' must resolve,
      // and anything else fail loudly rather than silently dropping the
      // guard the user asked for
      val rpf = raw.find(_.startsWith("require_partition_filter="))
        .map(_.stripPrefix("require_partition_filter=").toLowerCase match {
          case "true" => true
          case "false" => false
          case other => throw new IllegalArgumentException(
            s"require_partition_filter expects true|false, got '$other'")
        }).getOrElse(false)
      val parts = raw.filterNot(t =>
        t.startsWith("format=") || t.startsWith("options=") ||
          t.startsWith("require_partition_filter="))
      SourceDef(parts(0), parts(1), parts(2),
        if (parts.length > 3) Some(parts(3)) else None,
        if (parts.length > 4) Some(parts(4).toInt) else None,
        if (parts.length > 5) Some(parts(5).toInt) else None,
        if (parts.length > 6) Some(unquote(parts(6))) else None,
        format = fmt, options = opts, requirePartitionFilter = rpf)
    }

    val models = listFiles(root.resolve("models"), ".sql").map { p =>
      ModelDef(stem(p), Files.readString(p))
    }

    // analyses: compiled-only SQL (reference `analysis/.gitkeep` slot;
    // dbt accepts both dir spellings across versions)
    val analyses =
      (listFiles(root.resolve("analyses"), ".sql") ++
        listFiles(root.resolve("analysis"), ".sql")).map { p =>
        ModelDef(stem(p), Files.readString(p))
      }

    // macros/*.sql: {% macro name(params) %} body {% endmacro %} blocks,
    // any number per file (dbt macro search path dbt_project.yml:15-20;
    // the reference reserves the dir via macros/.gitkeep)
    val macroFileTexts = listFiles(root.resolve("macros"), ".sql")
      .map(Files.readString(_))
    val macroDefs = macroFileTexts
      .flatMap(graft.compile.Compiler.parseMacros)
    val dupMacros = macroDefs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dupMacros.isEmpty,
      s"duplicate macro definitions: ${dupMacros.mkString(", ")}")
    // custom {% materialization %} blocks live in the same macro dirs
    // (dbt's extension surface); adapter resolution spark-over-default
    val materializations = graft.compile.Compiler.selectMaterializations(
      macroFileTexts.flatMap(graft.compile.Compiler.parseMaterializations))

    // Package imports (dbt packages.yml / `dbt deps`; the reference's own
    // 184-macro surface ships as exactly such packages —
    // manifest.json:1 $.macros key prefixes `macro.dbt.` /
    // `macro.dbt_bigquery.`). packages.conf lines: `<name> [<dir>]`
    // (dir defaults to packages/<name>); with no packages.conf, every
    // subdirectory of packages/ loads as a package. Each package
    // contributes `<dir>/macros/*.sql`. Resolution order is dbt's:
    // project macro > package macro; a package macro is callable bare
    // when exactly one package defines that name, and always as
    // `{{ <package>.<macro>(...) }}` (Compiler.macroCallRe). A bare call
    // to a name two packages define fails loudly in expandMacros with
    // the candidate namespaces.
    val macros = packageMacros(root, macroDefs.map(_.name).toSet) ++
      macroDefs.map(m => m.name -> m).toMap

    // per-seed column_types (reference seeds `column_types` config in
    // dbt_project.yml): project.conf lines `seed_types.<seed>=col=type,...`
    val seeds = listFiles(root.resolve("seeds"), ".csv").map { p =>
      val types = conf.get(s"seed_types.${stem(p)}").map {
        _.split(",").iterator.map(_.trim).map(_.split("=", 2)).collect {
          case Array(c, t) => c -> t
        }.toMap
      }.getOrElse(Map.empty[String, String])
      SeedDef(stem(p), p.toString, types)
    }

    val snapshots = listFiles(root.resolve("snapshots"), ".sql").map { p =>
      val sql = Files.readString(p)
      // snapshot config rides in the same inline config() block:
      // {{ config(unique_key='id', strategy='timestamp', updated_at='ts') }}
      val kv = configKv(sql)
      val strategy = kv.get("strategy") match {
        case Some("check") => SnapshotStrategy.Check(
          kv.get("check_cols").map(_.split("\\|").toSeq))
        case _ => SnapshotStrategy.Timestamp(
          kv.getOrElse("updated_at",
            throw new IllegalArgumentException(s"${stem(p)}: updated_at required")))
      }
      SnapshotDef(stem(p), sql,
        kv.get("unique_key").map(_.split("\\|").toSeq).getOrElse(
          throw new IllegalArgumentException(s"${stem(p)}: unique_key required")),
        strategy,
        invalidateHardDeletes = kv.get("invalidate_hard_deletes").contains("true"),
        hardDeletes = kv.get("hard_deletes"),
        validToCurrent = kv.get("dbt_valid_to_current"))
    }

    val tests = readLines(root.resolve("tests.conf")).zipWithIndex.map {
      case (l, i) =>
        // trailing k=v tokens are test configs (reference schema.yml test
        // config: severity / where / limit / store_failures / warn_if /
        // error_if). A value containing spaces is single-quoted, e.g.
        // where='o_orderkey > 0' (quoting preserves every character —
        // the old `~`→space shorthand corrupted predicates with a literal
        // `~`; it remains only for UNQUOTED values, documented legacy).
        // Only the KNOWN config keys are treated as config, so positional
        // values may contain '=' (e.g. accepted_values lists).
        val configKeys = Set("severity", "where", "limit", "store_failures",
          "warn_if", "error_if")
        val tokens = tokenize(l)
        val (kvTokens, parts) = tokens.partition(t =>
          t.contains("=") && configKeys.contains(t.takeWhile(_ != '=')))
        val kv = kvTokens.map(_.split("=", 2)).collect {
          case Array(k, v) if v.startsWith("'") => k -> unquote(v)
          case Array(k, v) => k -> v.replace("~", " ") // legacy shorthand
        }.toMap
        val (kind, model) = (parts(0), parts(1))
        val testName = s"${kind}_${model}_$i"
        val base = kind match {
          case "unique" =>
            TestDef(testName, model, df => SchemaTests.unique(df, parts(2)))
          case "not_null" =>
            TestDef(testName, model, df => SchemaTests.notNull(df, parts(2)))
          case "accepted_values" =>
            TestDef(testName, model, df =>
              SchemaTests.acceptedValues(df, parts(2), parts(3).split(",").toSeq))
          case "accepted_range" =>
            // accepted_range <model> <col> <min|null> [<max|null>]
            TestDef(testName, model, df => SchemaTests.acceptedRange(df,
              parts(2),
              parts.lift(3).filter(_ != "null").map(_.toDouble),
              parts.lift(4).filter(_ != "null").map(_.toDouble)))
          case "unique_combination" =>
            // unique_combination <model> <col1,col2,...>
            TestDef(testName, model, df => SchemaTests.uniqueCombination(df,
              parts(2).split(",").toIndexedSeq))
          case "relationships" =>
            // `relationships child_model fk parent_model pk` — the parent is
            // a model/seed NAME, resolved at run time by Engine.readModel
            // (reference schema.yml `relationships: {to: ref(...), field}`)
            TestDef(testName, model, df => df,
              relationship = Some(RelationshipDef(parts(3), parts(2), parts(4))))
          // -------- the rest of the dbt-utils battery, declaratively
          case "expression_is_true" =>
            // expression_is_true <model> '<boolean sql expr>'
            TestDef(testName, model, df => SchemaTests.expressionIsTrue(df,
              org.apache.spark.sql.functions.expr(unquote(parts(2)))))
          case "not_accepted_values" =>
            TestDef(testName, model, df =>
              SchemaTests.notAcceptedValues(df, parts(2), parts(3).split(",").toSeq))
          case "not_null_proportion" =>
            // not_null_proportion <model> <col> <at_least_bp> [<at_most_bp>]
            TestDef(testName, model, df => SchemaTests.notNullProportion(df,
              parts(2), parts(3).toInt,
              parts.lift(4).map(_.toInt).getOrElse(10000)))
          case "at_least_one" =>
            TestDef(testName, model, df => SchemaTests.atLeastOne(df, parts(2)))
          case "not_constant" =>
            TestDef(testName, model, df => SchemaTests.notConstant(df, parts(2)))
          case "sequential_values" =>
            // sequential_values <model> <col> [<interval>]
            TestDef(testName, model, df => SchemaTests.sequentialValues(df,
              parts(2), parts.lift(3).map(_.toLong).getOrElse(1L)))
          case "mutually_exclusive_ranges" =>
            // mutually_exclusive_ranges <model> <lower> <upper>
            //   <part1,part2> <tie1,tie2>
            TestDef(testName, model, df =>
              SchemaTests.mutuallyExclusiveRanges(df, parts(2), parts(3),
                parts(4).split(",").toIndexedSeq,
                parts.lift(5).map(_.split(",").toIndexedSeq).getOrElse(Nil)))
          case other =>
            throw new IllegalArgumentException(s"unknown test kind $other")
        }
        // fail fast on a malformed threshold (load time, not first run)
        kv.get("warn_if").foreach(TestDef.threshold)
        kv.get("error_if").foreach(TestDef.threshold)
        base.copy(
          severity = kv.getOrElse("severity", base.severity),
          where = kv.get("where").orElse(base.where),
          limit = kv.get("limit").map(_.toInt).orElse(base.limit),
          storeFailures = kv.get("store_failures").fold(base.storeFailures)(_ == "true"),
          storeFailuresAs =
            kv.get("store_failures_as").orElse(base.storeFailuresAs),
          warnIf = kv.get("warn_if").orElse(base.warnIf),
          errorIf = kv.get("error_if").orElse(base.errorIf))
    }

    // project vars (dbt_project.yml `vars:`): project.conf lines
    // `var.<name>=<value>`; `--vars` CLI overrides land in Target.vars
    val vars = conf.collect {
      case (k, v) if k.startsWith("var.") => k.stripPrefix("var.") -> v
    }

    // exposures.conf: `name dep1,dep2 [owner] [url]` per line (dbt
    // exposures — declared downstream consumers, never built)
    val exposures = readLines(root.resolve("exposures.conf")).map { l =>
      val parts = tokenize(l)
      ExposureDef(parts(0),
        parts(1).split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq,
        owner = if (parts.length > 2) unquote(parts(2)) else "",
        url = if (parts.length > 3) unquote(parts(3)) else "")
    }

    // dependencies.conf: `name warehouse_root [database] [schema]` per
    // line (dbt mesh dependencies.yml + deployment coordinates) — the
    // upstream projects two-arg ref('name', 'model') calls resolve into.
    // Later tokens are ignored (older files carry a commit-mode token).
    val dependencies = readLines(root.resolve("dependencies.conf")).map { l =>
      val parts = tokenize(l)
      require(parts.length >= 2,
        s"dependencies.conf: need name warehouse_root, got: $l")
      DependencyDef(parts(0), parts(1),
        if (parts.length > 2) parts(2) else "analytics",
        if (parts.length > 3) parts(3) else "main")
    }

    // metrics.conf: `name model calculation expr time_dim [dim1,dim2]
    // [where='...']` per line (the dbt metric schema's
    // calculation_method / expression / timestamp / dimensions / filters)
    val metrics = readLines(root.resolve("metrics.conf")).map { l =>
      val parts = tokenize(l)
      require(parts.length >= 5,
        s"metrics.conf: need name model calculation expr time_dim, got: $l")
      val whereKv = parts.drop(5).find(_.startsWith("where="))
        .map(t => unquote(t.stripPrefix("where=")))
      val dims = parts.drop(5).filterNot(_.startsWith("where="))
        .headOption.map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      MetricDef(parts(0), parts(1), parts(2), unquote(parts(3)), parts(4),
        dims, whereKv)
    }

    // selectors.conf: `name '<include>' ['<exclude>']` per line (dbt
    // selectors.yml — saved compositions of the full selector grammar;
    // quote expressions containing spaces)
    val selectors = readLines(root.resolve("selectors.conf")).map { l =>
      val parts = tokenize(l)
      require(parts.length >= 2,
        s"selectors.conf: need name '<include>' ['<exclude>'], got: $l")
      SelectorDef(parts(0), unquote(parts(1)),
        if (parts.length > 2) unquote(parts(2)) else "")
    }
    val dupSel = selectors.groupBy(_.name).filter(_._2.size > 1).keys
    require(dupSel.isEmpty,
      s"duplicate selector names: ${dupSel.mkString(", ")}")

    // dbt docs blocks: `{% docs name %}…{% enddocs %}` in any .md under
    // models/ or docs/ (dbt's docs-paths default is the model paths);
    // referenced from descriptions via `{{ doc('name') }}`
    val docsBlocks: Map[String, String] = {
      val all = (listFiles(root.resolve("models"), ".md") ++
        listFiles(root.resolve("docs"), ".md"))
        .flatMap(p => graft.compile.Compiler.parseDocsBlocks(
          Files.readString(p)))
      val dups = all.groupBy(_._1).filter(_._2.size > 1).keys
      require(dups.isEmpty,
        s"duplicate {% docs %} block names: ${dups.mkString(", ")}")
      all.toMap
    }

    // descriptions.conf: `<model> '<text>'` or `<model>.<column> '<text>'`
    // per line (dbt schema.yml `description:` analogue — B37 docs).
    // `{{ doc('name') }}` sites resolve against the docs blocks at load
    // time, so downstream consumers (catalog, persist_docs COMMENT) see
    // plain text.
    val descriptions = readLines(root.resolve("descriptions.conf")).map { l =>
      val parts = tokenize(l)
      require(parts.length >= 2,
        s"descriptions.conf: need <model>[.<column>] '<text>', got: $l")
      parts(0) -> graft.compile.Compiler.resolveDocRefs(
        unquote(parts.drop(1).mkString(" ")), docsBlocks)
    }.toMap

    // hooks.conf: `start <sql>` / `end <sql>` per line (dbt_project.yml
    // on-run-start / on-run-end)
    val hookLines = readLines(root.resolve("hooks.conf")).map { l =>
      l.split("\\s+", 2) match {
        case Array(kind @ ("start" | "end"), sql) => kind -> sql
        case _ => throw new IllegalArgumentException(
          s"hooks.conf: expected 'start <sql>' or 'end <sql>', got: $l")
      }
    }
    val onRunStart = hookLines.collect { case ("start", s) => s }
    val onRunEnd = hookLines.collect { case ("end", s) => s }

    (Project(name, sources, models, seeds, snapshots, tests,
      onRunStart, onRunEnd, macros, vars, exposures, metrics,
      dependencies, selectors, analyses, descriptions,
      materializations = materializations), conf)
  }

  /** Package-macro loading, shared with [[DbtProjectLoader]].
    * Declarations: packages.conf lines `<name> [<dir>]` (dir defaults to
    * packages/<name>); dbt-native packages.yml `- local:` entries load
    * from their directory (package name = directory basename, sanitized
    * to an identifier) while `- package:` (hub) / `- git:` entries
    * refuse loudly — this environment has zero egress, and silently
    * skipping a declared dependency would surface later as a confusing
    * unknown-macro failure. A name declared in BOTH files takes
    * packages.conf's directory. With neither file, every subdirectory of
    * packages/ autoloads. Resolution order is dbt's: project macro >
    * package macro; a package macro is callable bare when exactly one
    * package defines that name AND the project does not, and always as
    * `{{ <package>.<macro>(...) }}`.
    */
  private[run] def packageMacros(root: Path, projectNames: Set[String])
      : Map[String, graft.compile.Compiler.MacroDef] = {
    val pkgDirs: Seq[(String, Path)] = {
      val declared = readLines(root.resolve("packages.conf")).map { l =>
        val parts = tokenize(l)
        val name = parts(0)
        require(name.matches("[A-Za-z_]\\w*"),
          s"packages.conf: package name '$name' must be an identifier")
        val dir = if (parts.length > 1) {
          val p = Paths.get(unquote(parts(1)))
          if (p.isAbsolute) p else root.resolve(p)
        } else root.resolve("packages").resolve(name)
        require(Files.isDirectory(dir),
          s"packages.conf: package '$name' directory not found: $dir")
        name -> dir
      }
      val fromYml: Seq[(String, Path)] = {
        val ymlPath = root.resolve("packages.yml")
        if (!Files.exists(ymlPath)) Nil
        else {
          val entryRe = """^-\s*(local|package|git|hub|tarball)\s*:\s*(.+?)\s*$""".r
          readLines(ymlPath).flatMap {
            case entryRe("local", dir0) =>
              val p0 = Paths.get(unquote(dir0))
              val dir = if (p0.isAbsolute) p0 else root.resolve(p0)
              require(Files.isDirectory(dir),
                s"packages.yml: local package directory not found: $dir")
              val name = dir.getFileName.toString.replaceAll("\\W", "_")
              Some(name -> dir)
            case entryRe(kind, what0) =>
              // remote entries (hub/git/tarball) resolve OFFLINE when a
              // vendored mirror exists at packages/<basename> — the
              // `dbt deps`-output convention, so a project checked in
              // WITH its deps loads unchanged; otherwise refuse naming
              // the exact directory that would fix it
              val what = unquote(what0)
              val base = what.split("/").last.stripSuffix(".git")
                .replaceAll("\\W", "_")
              val mirror = root.resolve("packages").resolve(base)
              if (Files.isDirectory(mirror)) Some(base -> mirror)
              else throw new IllegalArgumentException(
                s"packages.yml: '$kind: $what' needs network access to " +
                  s"fetch and no vendored mirror exists — either vendor " +
                  s"the package at $mirror (the packages/ mirror " +
                  "convention) or declare it with 'local:'/packages.conf")
            case _ => None // top-level `packages:` key, version/rev lines
          }
        }
      }
      val merged = declared ++
        fromYml.filterNot(y => declared.exists(_._1 == y._1))
      if (merged.nonEmpty) merged
      else if (Files.isDirectory(root.resolve("packages")))
        Files.list(root.resolve("packages")).iterator.asScala.toSeq
          .filter(Files.isDirectory(_)).sortBy(_.getFileName.toString)
          .map(p => p.getFileName.toString -> p)
      else Nil
    }
    val dupPkg = pkgDirs.groupBy(_._1).filter(_._2.size > 1).keys
    require(dupPkg.isEmpty, s"duplicate package names: ${dupPkg.mkString(", ")}")
    val pkgMacroDefs: Seq[(String, graft.compile.Compiler.MacroDef)] =
      pkgDirs.flatMap { case (pkg, dir) =>
        val defs = listFiles(dir.resolve("macros"), ".sql")
          .flatMap(p => graft.compile.Compiler.parseMacros(Files.readString(p)))
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

  private def configKv(sql: String): Map[String, String] = {
    // (?s): config blocks span lines (Compiler.configRe agrees)
    val re = """(?s)\{\{\s*config\((.*?)\)\s*\}\}""".r
    re.findFirstMatchIn(sql).map(_.group(1)).map {
      _.split(",").iterator.map(_.trim).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k.trim -> v.trim.stripPrefix("'").stripSuffix("'"))
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)
  }

  /** Whitespace tokenizer that keeps single-quoted spans intact (quotes
    * included — [[unquote]] strips them). `''` inside a quoted span is an
    * escaped literal quote, SQL-style.
    */
  private[run] def tokenize(l: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var inQ = false
    l.foreach {
      case '\'' => inQ = !inQ; sb.append('\'')
      case c if c.isWhitespace && !inQ =>
        if (sb.nonEmpty) { out += sb.result(); sb.clear() }
      case c => sb.append(c)
    }
    if (sb.nonEmpty) out += sb.result()
    out.result()
  }

  /** Strip one level of single quotes and unescape `''` → `'`. */
  private[run] def unquote(v: String): String =
    if (v.length >= 2 && v.startsWith("'") && v.endsWith("'"))
      v.substring(1, v.length - 1).replace("''", "'")
    else v

  private def parseConf(p: Path): Map[String, String] =
    readLines(p).flatMap { l =>
      l.split("=", 2) match {
        case Array(k, v) => Some(k.trim -> v.trim)
        case _ => None
      }
    }.toMap

  private def readLines(p: Path): Seq[String] =
    if (!Files.exists(p)) Nil
    else Files.readAllLines(p).asScala.toSeq.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))

  private def listFiles(dir: Path, suffix: String): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator.asScala.toSeq
      .filter(_.toString.endsWith(suffix)).sortBy(_.toString)

  private def stem(p: Path): String = {
    val n = p.getFileName.toString
    n.substring(0, n.lastIndexOf('.'))
  }
}
