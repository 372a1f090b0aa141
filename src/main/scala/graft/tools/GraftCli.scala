package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.run.{Engine, ProjectLoader, StateSelector, Target}

/** `dbt`-style CLI over a project directory (SURVEY §3 entry points):
  *
  * {{{
  * runMain graft.tools.GraftCli <projectDir> <warehouseRoot> <command> [flags]
  *   build            seeds+models+snapshots+tests in DAG order
  *                    (--run-results p writes dbt's run_results.json v6)
  *   retry            re-run a recorded run's error+skipped cone
  *                    (--run-results p, written by a prior build)
  *   run-operation    invoke a user macro standalone: run-operation <name>
  *                    [--args k=v ...]
  *   clone            zero-copy the selected nodes' relations from
  *                    another warehouse root into this target
  *                    (--from-root <root>; dbt clone --state)
  *   metric           query a declared metric (semantic layer):
  *                    --name revenue [--grain month] [--dims d1,d2]
  *                    [--start ts] [--end ts]
  *   show             preview a model or inline templated SQL
  *                    (--select m | --inline 'SELECT ...'; --limit N)
  *   export           write a built model in another format
  *                    (--select m --out path [--format csv|json|parquet])
  *   docs             write dbt's catalog.json v1 (--out p; footer stats,
  *                    no table scans) and manifest.json v12 beside it
  *   list             print (selected) nodes with kind/materialization/tags
  *   lineage          Graphviz DOT of the (selected) lineage graph
  *   debug            resolved config + source-path/warehouse checks
  *                    (dbt debug; exit 1 on any failed check)
  *   ddl              print CREATE VIEW DDL registering the warehouse's
  *                    current committed state in an EXTERNAL engine/session
  *                    (point-in-time export; skips report to stderr)
  *   compile          emit dbt's manifest.json v12, the slim-CI state
  *                    (no execution)
  *   test             only the declared tests
  *   freshness        source freshness vs thresholds
  *   catalog          tables (footer row counts, bytes, partitions) + durable views
  *   compact          coalesce crowded partition leaves / version dirs
  *                    (--max-files N, default 8; --zorder c1,c2 re-clusters
  *                    an unpartitioned table on the interleaved key)
  *   expire-snapshots drop closed history months < --keep-from yyyy-MM
  *   adopt            serve the target schema's plain-parquet dirs that
  *                    an older release wrote: one zero-copy manifest
  *                    commit each, pointing at the files in place
  *   gc               sweep crashed writers' orphaned uncommitted version
  *                    dirs (--older-than 7d / 12h / 90m)
  *   vacuum           enforce declared bigquery_options TTLs: drop tables
  *                    past hours_to_expiration (clock resets per rebuild)
  *                    and partitions past partition_expiration_days
  *                    (--as-of <epoch-ms|ISO instant> pins "now")
  *   maintain         vector-index upkeep: read each index's drift
  *                    ledger, refit past --drift-threshold (default 1.2),
  *                    reap retired generations (--grace <N>{d|h|m} delays
  *                    file drops for in-flight readers; --dry-run reports
  *                    without acting)
  *   versions         retained commit history per table
  *   rollback         re-point a table at an old commit (--table t --to N;
  *                    metadata-only, history stays linear for audit)
  *   delete           row-level equality delete, no rewrite (--table t
  *                    --where col=v[,col2=v2] --key-cols k1[,k2]: removes
  *                    every row sharing the matched keys; logical until
  *                    compact + gc age the old files out)
  * flags:
  *   --select <sel>     dbt selector: names, `*` globs, tag:x,
  *                      +model/model+ closures (optional depth 2+m/m+1);
  *                      space-separated terms union, commas intersect;
  *                      repeatable (repeats union)
  *   --selector <name>  run a NAMED selector from selectors.yml;
  *                      mutually exclusive with --select
  *   --target <name>    named output of the project's profile in
  *                      profiles.yml (database/schema/threads); default
  *                      from the profile's `target:`
  *   --profiles-dir <d> where to look for profiles.yml first (dbt's
  *                      --profiles-dir; falls back to the project dir)
  *   --threads <n>      node-pool width override (wins over the target)
  *   --exclude <sel>    subtract these nodes from the selection (same
  *                      grammar; applies to --state selection too)
  *   --state <manifest> slim CI: select state:modified+ vs that manifest
  *                      (v12, as compile writes it)
  *   --defer <root>     resolve unselected upstream refs to this warehouse
  *   --full-refresh     rebuild incrementals from scratch
  *   --fail-fast        stop scheduling new nodes after the first error
  *   --empty            dbt 1.8 schema-only dry run: refs/sources compile
  *                      to zero-row subqueries (use a scratch schema)
  *   --manifest <path>  where compile writes the manifest
  *   --env K=V          env_var bindings (repeatable)
  *   --vars K=V         var() overrides (repeatable; wins over
  *                      dbt_project.yml `vars:`); also accepts
  *                      dbt's dict spelling --vars '{key: value, k: v}'
  * }}}
  */
object GraftCli {
  def main(args: Array[String]): Unit = {
    val (positional, flags) = parseArgs(args.toList)
    require(positional.length >= 3,
      "usage: GraftCli <projectDir> <warehouseRoot> <command> [flags]")
    val Seq(projectDir, whRoot, command) = positional.take(3)

    // getOrCreate may ADOPT a caller's live session (embedded use: specs,
    // notebooks) — only a session this main itself created gets stopped
    // on the way out, or the caller's later queries die mid-flight
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (project, projectConf) = ProjectLoader.load(projectDir)
    val env = flags.getOrElse("env", Nil)
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    // --vars accepts both the repeated k=v spelling and dbt's YAML
    // flow-dict spelling: --vars '{key: value, other: 2}'
    val cliVars = flags.getOrElse("vars", Nil).flatMap { v0 =>
      val v = v0.trim
      def unq(s: String) = {
        val t = s.trim
        if ((t.startsWith("'") && t.endsWith("'") && t.length >= 2) ||
            (t.startsWith("\"") && t.endsWith("\"") && t.length >= 2))
          t.substring(1, t.length - 1)
        else t
      }
      if (v.startsWith("{")) {
        require(v.endsWith("}"), s"--vars dict '$v' is unterminated")
        // quote-protected comma split: a quoted value may contain commas
        graft.compile.Compiler.splitArgs(v.substring(1, v.length - 1))
          .map { kv =>
            kv.split(":", 2) match {
              case Array(k, value) => unq(k) -> unq(value)
              case _ => throw new IllegalArgumentException(
                s"--vars dict entry '$kv' must be 'key: value'")
            }
          }
      } else v.split("=", 2) match {
        case Array(k, value) => Seq(k -> value)
        case _ => throw new IllegalArgumentException(
          s"--vars '$v' must be k=v or a '{key: value}' dict")
      }
    }.toMap
    // named targets from profiles.yml (--profiles-dir <dir>, then the
    // project dir; the reference declares TWO targets — `ci` and
    // `ci-with-pr`, test_profiles/profiles.yml:2,16). The active target
    // is --target, else the profile's `target:`.
    val conf = profilesConf(projectDir,
      flags.get("profiles-dir").flatMap(_.headOption),
      projectConf.get("profile"))
    val tc = resolveTargetConf(conf,
      flags.get("target").flatMap(_.headOption))
    val target = Target(whRoot,
      database = tc("database").getOrElse("analytics"),
      schema = tc("schema").getOrElse("main"),
      // {{ target.name }}: the active target's name (dbt's env switch)
      name = flags.get("target").flatMap(_.headOption)
        .orElse(conf.get("target")).getOrElse("default"),
      // --threads wins over the target (dbt's global flag)
      threads = flags.get("threads").flatMap(_.headOption)
        .orElse(tc("threads")).getOrElse("4").toInt,
      env = env,
      vars = cliVars,
      empty = flags.contains("empty"),
      // join ALL collected tokens (like --select): `--sample 30 days`
      // arrives as two values; headOption would silently keep '30' and
      // surface as a confusing parse error downstream
      sample = flags.get("sample").filter(_.nonEmpty).map(_.mkString(" ")))
    val engine = new Engine(spark, project, target)

    val select: Option[Set[String]] =
      flags.get("state").flatMap(_.headOption).map { prev =>
        val cur = Files.createTempFile("graft_manifest", ".json")
        val sel = try {
          engine.writeManifest(cur.toString)
          StateSelector.modifiedPlus(cur.toString, prev)
        } finally Files.delete(cur)
        println(s"state:modified+ selected: ${sel.toSeq.sorted.mkString(", ")}")
        sel
      }.orElse(flags.get("selector").flatMap(_.headOption).map { name =>
        // dbt errors on --select + --selector together; same here
        require(!flags.contains("select"),
          "--select and --selector are mutually exclusive")
        val nodes = engine.selectByName(name)
        println(s"selector '$name': ${nodes.toSeq.sorted.mkString(", ")}")
        nodes
      }).orElse(flags.get("select").flatMap(_.headOption).map { sel =>
        // full dbt selector semantics (Engine.selectNodes): names, globs,
        // tag:, +closures; space-separated values union, commas intersect.
        // Repeat --select or quote a space-separated value for unions.
        val nodes = engine.selectNodes(
          (sel +: flags.getOrElse("select", Nil).drop(1)).mkString(" "))
        println(s"selected: ${nodes.toSeq.sorted.mkString(", ")}")
        nodes
      }).map { nodes =>
        // --exclude subtracts (same grammar; applies to state: selection
        // and --select alike — dbt semantics: exclude wins)
        flags.get("exclude").map(_.mkString(" ")) match {
          case Some(ex) if ex.nonEmpty =>
            val out = nodes -- engine.selectNodes(ex)
            println(s"after --exclude: ${out.toSeq.sorted.mkString(", ")}")
            out
          case _ => nodes
        }
      }

    // a selector that matches nothing is almost always a typo'd name —
    // dbt warns the same way; the build itself still runs (empty = no-op)
    select.filter(_.isEmpty).foreach(_ => System.err.println(
      "[graft] WARNING: selection matched no nodes"))

    def report(nodes: Seq[graft.dag.Dag.NodeResult],
               tests: Seq[engine.TestResult]): Unit = {
      nodes.foreach(n => println(
        f"${n.status.toUpperCase}%-8s ${n.name}%-32s ${n.durationMs} ms" +
          n.error.map(e => s"  ($e)").getOrElse("")))
      tests.foreach(t => println(
        f"${t.status.toUpperCase}%-8s test:${t.name}%-27s ${t.failures} failures"))
      // dbt's run_results.json v6: read by `retry` and by external CI
      // tooling alike
      flags.get("run-results").flatMap(_.headOption).foreach { p =>
        engine.writeDbtRunResults(p, nodes, tests)
        println(s"run results written: $p")
      }
      if (nodes.exists(_.status == "error")) sys.exit(1)
    }

    command match {
      case "build" =>
        val (nodes, tests) = engine.build(select,
          flags.get("defer").flatMap(_.headOption),
          flags.contains("full-refresh"),
          failFast = flags.contains("fail-fast"))
        report(nodes, tests)
      case "retry" =>
        // `dbt retry`: re-run a recorded run's error+skipped cone
        val rr = flags.get("run-results").flatMap(_.headOption).getOrElse {
          System.err.println("retry requires --run-results <path>")
          sys.exit(2)
        }
        val sel = engine.retrySelection(rr)
        println(s"retrying: ${sel.toSeq.sorted.mkString(", ")}")
        val (nodes, tests) = engine.build(Some(sel),
          flags.get("defer").flatMap(_.headOption),
          flags.contains("full-refresh"))
        report(nodes, tests)
      case "clone" =>
        // `dbt clone --state <root>`: zero-copy the selected nodes'
        // relations from another warehouse root into this target
        val from = flags.get("from-root").flatMap(_.headOption).getOrElse {
          System.err.println("clone requires --from-root <warehouse root>")
          sys.exit(2)
        }
        val sel = flags.get("select").map(_.mkString(" ")).getOrElse("*")
        engine.cloneFromState(sel, from).foreach { case (n, st) =>
          println(s"$n: $st")
        }
      case "show" =>
        // `dbt show`: preview a model (--select m) or an inline templated
        // query (--inline 'SELECT ... {{ ref(...) }}'), --limit N rows
        val limit = flags.get("limit").flatMap(_.headOption)
          .map(_.toInt).getOrElse(5)
        val df = flags.get("inline").flatMap(_.headOption) match {
          case Some(sql) => engine.renderInline(sql)
          case None =>
            val m = flags.get("select").flatMap(_.headOption).getOrElse {
              System.err.println("show requires --select <model> or --inline <sql>")
              sys.exit(2)
            }
            engine.readModel(m)
        }
        df.show(limit, truncate = false)
      case "export" =>
        // write a built model out in another format — the sink side of
        // the multi-format source axis (csv exports carry a header)
        val m = flags.get("select").flatMap(_.headOption).getOrElse {
          System.err.println("export requires --select <model>")
          sys.exit(2)
        }
        val out = flags.get("out").flatMap(_.headOption).getOrElse {
          System.err.println("export requires --out <path>")
          sys.exit(2)
        }
        val fmt = flags.get("format").flatMap(_.headOption).getOrElse("csv")
        val w = engine.readModel(m).write.mode("overwrite").format(fmt)
        (if (fmt == "csv") w.option("header", "true") else w).save(out)
        println(s"exported $m -> $out ($fmt)")
      case "metric" =>
        // semantic layer: metric --name revenue [--grain month]
        // [--dims d1,d2] [--start ts] [--end ts]
        val mname = flags.get("name").flatMap(_.headOption).getOrElse {
          System.err.println("metric requires --name <metric>")
          sys.exit(2)
        }
        engine.queryMetric(mname,
          flags.get("grain").flatMap(_.headOption).getOrElse("month"),
          flags.get("dims").flatMap(_.headOption)
            .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
          flags.get("start").flatMap(_.headOption),
          flags.get("end").flatMap(_.headOption))
          .orderBy("metric_time").show(100, truncate = false)
      case "run-operation" =>
        // `dbt run-operation <macro> --args k=v` (repeatable)
        val mac = positional.lift(3).getOrElse {
          System.err.println("run-operation requires a macro name")
          sys.exit(2)
        }
        val macArgs = flags.getOrElse("args", Nil)
          .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
        engine.runOperation(mac, macArgs).show(50, truncate = false)
      case "lineage" =>
        // Graphviz DOT of the (selected) project lineage — pipe to
        // `dot -Tsvg` for dbt-docs' graph without a web server
        print(engine.lineageDot(select))
      case "list" =>
        // `dbt list`: print the (selected) nodes with kind + config —
        // the selector debugging tool
        val sel = select.getOrElse(
          (project.seeds.map(_.name) ++ project.models.map(_.name) ++
            project.snapshots.map(_.name)).toSet)
        project.seeds.filter(s => sel(s.name)).foreach(s =>
          println(f"seed     ${s.name}"))
        project.models.filter(m => sel(m.name)).foreach { m =>
          val cfg = graft.compile.Compiler.parseInlineConfig(m.rawSql, m.config)
          val tags = if (cfg.tags.isEmpty) ""
                     else cfg.tags.toSeq.sorted.mkString(" [", ",", "]")
          println(f"model    ${m.name}%-32s ${cfg.materialized}$tags")
        }
        project.snapshots.filter(s => sel(s.name)).foreach(s =>
          println(f"snapshot ${s.name}"))
        project.exposures.foreach(e =>
          println(f"exposure ${e.name}%-32s -> ${e.dependsOn.mkString(", ")}"))
      case "debug" =>
        // `dbt debug`: resolved config + connectivity-style checks
        // (source paths readable, warehouse root writable, project
        // parse already succeeded by reaching here). Exit 1 on any FAIL.
        println(s"project:   ${project.name} ($projectDir)")
        println(s"warehouse: $whRoot")
        println(s"target:    database=${target.database} " +
          s"schema=${target.resolvedSchema} threads=${target.threads}")
        println(s"nodes:     ${project.models.size} models, " +
          s"${project.seeds.size} seeds, ${project.snapshots.size} " +
          s"snapshots, ${project.tests.size} tests, " +
          s"${project.analyses.size} analyses")
        var bad = 0
        project.sources.foreach { sd =>
          val ok = try {
            new java.io.File(sd.path).exists() ||
              sd.path.contains("://") // remote URIs: existence is a read
          } catch { case _: Throwable => false }
          if (!ok) bad += 1
          println(f"  ${if (ok) "OK  " else "FAIL"} source " +
            s"${sd.sourceName}.${sd.tableName} -> ${sd.path}")
        }
        val whOk = try {
          Files.createDirectories(java.nio.file.Paths.get(whRoot)); true
        } catch { case _: Throwable => bad += 1; false }
        println(s"  ${if (whOk) "OK  " else "FAIL"} warehouse root writable")
        if (bad > 0) { System.err.println(s"[graft] debug: $bad check(s) failed"); sys.exit(1) }
      case "ddl" =>
        // external-engine registration: point-in-time CREATE VIEW DDL
        // over the current committed state (skips go to stderr, loudly)
        val (stmts, skipped) = engine.catalogDdl()
        stmts.foreach(s => println(s + ";\n"))
        skipped.foreach(r => System.err.println(s"[graft] ddl skipped: $r"))
      case "docs" =>
        // `dbt docs generate`: catalog v1 (footer stats only) at --out,
        // manifest v12 beside it
        val out = java.nio.file.Paths.get(flags.get("out").flatMap(_.headOption)
          .getOrElse(s"$whRoot/catalog.json")).toAbsolutePath
        val manifest = out.resolveSibling("manifest.json")
        engine.writeDbtCatalog(out.toString)
        engine.writeManifest(manifest.toString)
        println(s"docs written: $out, $manifest")
      case "compile" =>
        val out = flags.get("manifest").flatMap(_.headOption)
          .getOrElse(s"$whRoot/manifest.json")
        engine.writeManifest(out)
        println(s"manifest written: $out")
        // dbt's target/compiled: every model rendered in parse-phase
        // mode (execute=false), so run_query/star/get_column_values
        // probes never require a built warehouse — this is the slim-CI
        // "compile master before anything is built" path
        val sqlDir = flags.get("sql-out").flatMap(_.headOption)
          .getOrElse(s"$whRoot/compiled_models")
        Files.createDirectories(java.nio.file.Paths.get(sqlDir))
        val compiled = engine.compiledModels
        compiled.foreach { case (n, sql) =>
          Files.writeString(java.nio.file.Paths.get(sqlDir, s"$n.sql"), sql)
        }
        println(s"compiled ${compiled.size} models -> $sqlDir")
        // analyses compile alongside the manifest (dbt's target/compiled)
        val analyses = engine.compiledAnalyses
        if (analyses.nonEmpty) {
          val dir = flags.get("analyses-out").flatMap(_.headOption)
            .getOrElse(s"$whRoot/compiled_analyses")
          Files.createDirectories(java.nio.file.Paths.get(dir))
          analyses.foreach { case (n, sql) =>
            Files.writeString(java.nio.file.Paths.get(dir, s"$n.sql"), sql)
          }
          println(s"compiled ${analyses.size} analyses -> $dir")
        }
      case "test" =>
        // dbt test --select: only tests attached to selected nodes run
        // (source tests run on a full invocation, not under a model
        // selection — the build() source-test scoping rule)
        val toRun = project.tests.filter(t =>
          select.forall(sel => sel.contains(t.modelName)))
        val results = toRun.map(engine.runTest)
        results.foreach(t => println(f"${t.status.toUpperCase}%-8s ${t.name}%-32s ${t.failures} failures"))
        if (results.exists(_.status == "error")) sys.exit(1)
      case "freshness" =>
        engine.checkFreshness().foreach { case (src, st) =>
          println(f"${st.toUpperCase}%-8s $src")
        }
        // dbt's sources.json v3 artifact (--out <path>, optional)
        flags.get("out").flatMap(_.headOption).foreach { p =>
          engine.writeDbtSources(p)
          println(s"sources artifact written: $p")
        }
      case "catalog" =>
        // footer/filesystem metadata only — no table scans
        val (db, sch) = (target.database, target.resolvedSchema)
        engine.warehouse.catalogInfo(db, sch).foreach {
          case (rel, rows, bytes, parts) =>
            val pinfo = if (parts.isEmpty) "" else s"  [${parts.size} partitions]"
            println(f"TABLE    ${rel.identifier}%-32s $rows%10d rows ${bytes}%12d bytes$pinfo")
        }
        engine.warehouse.listViews(db, sch).foreach { v =>
          println(f"VIEW     ${v.identifier}%-32s (durable definition)")
        }
      case "compact" =>
        // maintenance pass: coalesce crowded partition leaves of every
        // partitioned relation in the target schema (cold leaves and
        // unpartitioned tables are never opened)
        val maxFiles = flags.get("max-files").flatMap(_.headOption)
          .map(_.toInt).getOrElse(8)
        val (db, sch) = (target.database, target.resolvedSchema)
        engine.warehouse.listRelations(db, sch).foreach { rel =>
          if (engine.warehouse.listPartitions(rel).nonEmpty) {
            // partition columns recovered from the layout itself: probe
            // nesting depth, then read the key names off a leaf path
            var depth = 1
            while (engine.warehouse.listPartitionPaths(rel, depth + 1).nonEmpty)
              depth += 1
            val cols = engine.warehouse.listPartitionPaths(rel, depth).head
              .split("/").toIndexedSeq.map(_.takeWhile(_ != '='))
            val done = engine.warehouse.compactPartitions(rel, cols, maxFiles)
            if (done.nonEmpty)
              println(s"COMPACT  ${rel.identifier}: ${done.size} leaves rewritten")
          } else if (engine.warehouse.compactTable(rel, maxFiles,
                       flags.get("zorder").flatMap(_.headOption)
                         .map(_.split(",").toIndexedSeq).getOrElse(Nil)))
            // unpartitioned manifest table whose appended/streamed version
            // dirs exceed the threshold: rewritten as one entry
            // (--zorder c1,c2 re-clusters on the interleaved key too)
            println(s"COMPACT  ${rel.identifier}: version dirs rewritten as one")
        }
      case "expire-snapshots" =>
        // retention: drop closed-history months older than --keep-from
        val keepFrom = flags.get("keep-from").flatMap(_.headOption)
          .getOrElse {
            System.err.println("expire-snapshots requires --keep-from yyyy-MM")
            sys.exit(2)
          }
        val snapper = new graft.materialize.Snapshotter(engine.warehouse)
        project.snapshots.foreach { sn =>
          val dropped = snapper.expireClosedHistory(
            engine.relationFor(sn.name), keepFrom)
          if (dropped.nonEmpty)
            println(s"EXPIRED  ${sn.name}: ${dropped.sorted.mkString(", ")}")
        }
      case "adopt" =>
        // nothing adopts implicitly: a read or a non-rebuild write of a
        // plain-layout dir refuses until this commits its first manifest
        val (db, sch) = (target.database, target.resolvedSchema)
        engine.warehouse.listRelations(db, sch).foreach { rel =>
          if (engine.warehouse.adopt(rel))
            println(s"ADOPTED  ${rel.identifier}")
        }
      case "gc" =>
        // retention sweep for crashed writers: an uncommitted version dir
        // on a table nobody writes again survives commit-time GC forever;
        // this reclaims it by AGE (never touching dirs young enough to be
        // an in-flight write)
        val olderThan = flags.get("older-than").flatMap(_.headOption)
          .getOrElse {
            System.err.println("gc requires --older-than <N>{d|h|m}")
            sys.exit(2)
          }
        val ms = parseDurationMs(olderThan)
        val (db, sch) = (target.database, target.resolvedSchema)
        engine.warehouse.listRelations(db, sch).foreach { rel =>
          val dropped = engine.warehouse.gcOrphanVersions(rel, ms)
          if (dropped.nonEmpty)
            println(s"GC       ${rel.identifier}: ${dropped.size} orphaned " +
              s"version dirs removed (${dropped.mkString(", ")})")
        }
      case "vacuum" =>
        // declared-TTL enforcement (bigquery_options @15210); --as-of
        // pins the evaluation instant for deterministic retention runs
        val asOf = flags.get("as-of").flatMap(_.headOption).map { v =>
          v.toLongOption.getOrElse(java.time.Instant.parse(v).toEpochMilli)
        }.getOrElse(System.currentTimeMillis())
        val report = engine.vacuum(asOf)
        if (report.isEmpty) println("vacuum: nothing expired")
        else report.foreach(println)
      case "maintain" =>
        val threshold = flags.get("drift-threshold").flatMap(_.headOption)
          .flatMap(_.toDoubleOption).getOrElse(1.2)
        val grace = flags.get("grace").flatMap(_.headOption)
          .map(parseDurationMs).getOrElse(0L)
        val only = flags.get("index").flatMap(_.headOption)
        maintain(engine.warehouse, threshold, grace,
          dry = flags.contains("dry-run"), only = only)
          .foreach(println)
      case "versions" =>
        // retained undo window per table: what a rollback can target
        val (db, sch) = (target.database, target.resolvedSchema)
        engine.warehouse.listRelations(db, sch).foreach { rel =>
          val vs = engine.warehouse.listVersions(rel)
          if (vs.nonEmpty)
            println(f"VERSIONS ${rel.identifier}%-32s head=${vs.max} " +
              s"retained=${vs.mkString(", ")}")
        }
      case "rollback" =>
        val tbl = flags.get("table").flatMap(_.headOption).getOrElse {
          System.err.println("rollback requires --table <name> --to <seq>")
          sys.exit(2)
        }
        val to = flags.get("to").flatMap(_.headOption)
          .flatMap(_.toLongOption).getOrElse {
            System.err.println("rollback requires --to <seq>")
            sys.exit(2)
          }
        val rel = engine.relationFor(tbl)
        engine.warehouse.rollbackTo(rel, to)
        println(s"ROLLBACK ${rel.identifier}: head now serves commit $to " +
          s"(new commit ${engine.warehouse.listVersions(rel).max})")
      case "delete" =>
        import org.apache.spark.sql.functions.{col, lit}
        def need(flag: String): String =
          flags.get(flag).flatMap(_.headOption).getOrElse {
            System.err.println(
              "delete requires --table t --where col=v[,col2=v2] " +
                "--key-cols k1[,k2]")
            sys.exit(2)
          }
        val rel = engine.relationFor(need("table"))
        val cond = need("where").split(",").toIndexedSeq.map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) => col(k) === lit(v)
            case _ =>
              System.err.println(s"bad --where clause '$kv': want col=value")
              sys.exit(2)
          }
        }.reduce(_ && _)
        val keyCols = need("key-cols").split(",").toIndexedSeq
        val n = engine.warehouse.deleteWhere(rel, cond, keyCols)
        println(s"DELETE   ${rel.identifier}: $n delete keys committed " +
          "(logical until compact + gc rewrite the data)")
      case "alter-type" =>
        // deliberate type migration (B33 alter_column_type): atomic full
        // rewrite with the column cast, ANSI-loud on lost values — the
        // operation the snapshot/microbatch type-drift guards point to
        val a = flags.get("table").flatMap(_.headOption)
          .zip(flags.get("column").flatMap(_.headOption))
          .zip(flags.get("type").flatMap(_.headOption))
        a match {
          case Some(((t, c), ty)) =>
            engine.warehouse.alterColumnType(engine.relationFor(t), c, ty)
            println(s"ALTER    $t.$c -> $ty (full rewrite committed)")
          case None =>
            System.err.println(
              "alter-type requires --table t --column c --type ddl")
            sys.exit(2)
        }
      case other =>
        System.err.println(s"unknown command: $other"); sys.exit(2)
    }
    if (!preExisting) spark.stop()
  }

  /** Drift-driven VectorIndex upkeep (the operational loop around
    * `Similarity.VectorIndex.drift/refit/gc`): appends encode against
    * frozen centroids, so recall decays as the appended distribution
    * drifts; past `threshold` a refit re-anchors it, below it retired
    * generations whose `graceMs` drain window lapsed are reaped. `k` is
    * derived from the live generation's centroid count, so maintain
    * never changes an index's geometry. Returns the report lines (the
    * CLI prints them; specs assert on them).
    */
  private[graft] def maintain(wh: graft.core.Warehouse, threshold: Double,
      graceMs: Long, dry: Boolean, only: Option[String]): Seq[String] = {
    import graft.core.Relation
    val names = wh.listRelations("idx", "ann").map(_.identifier)
      .filter(_.endsWith("__centroids"))
      .map(_.stripSuffix("__centroids").replaceAll("__g\\d+$", ""))
      .distinct.sorted
    val selected = only match {
      case Some(one) =>
        require(names.contains(one), s"maintain: no vector index '$one' " +
          s"(found: ${names.mkString(", ")})")
        Seq(one)
      case None => names
    }
    if (selected.isEmpty) return Seq("MAINTAIN no vector indexes found")
    selected.map { n =>
      val probe = new graft.ops.Similarity.VectorIndex(wh, n)
      val g = probe.currentGen()
      val centRel = Relation("idx", "ann",
        if (g == 0L) s"${n}__centroids" else s"${n}__g${g}__centroids")
      val k = wh.read(centRel).count().toInt
      val idx = new graft.ops.Similarity.VectorIndex(wh, n, k = k,
        retireGraceMs = graceMs)
      scala.util.Try(idx.drift()) match {
        case scala.util.Failure(e) =>
          s"MAINTAIN $n: skipped (${e.getMessage})"
        case scala.util.Success(d) =>
          if (d.ratio >= threshold) {
            if (dry)
              f"MAINTAIN $n: drift ${d.ratio}%.3f >= $threshold%.2f — " +
                s"would refit (gen $g, dry run)"
            else {
              idx.refit()
              f"MAINTAIN $n: drift ${d.ratio}%.3f >= $threshold%.2f — " +
                s"refit gen $g -> ${g + 1}"
            }
          } else {
            val reaped = if (dry) Nil else idx.gc()
            f"MAINTAIN $n: drift ${d.ratio}%.3f < $threshold%.2f — ok" +
              (if (reaped.nonEmpty)
                s" (reaped generations ${reaped.mkString(", ")})"
              else "")
          }
      }
    }
  }

  /** `7d` / `12h` / `90m` / bare minutes → milliseconds. */
  private[tools] def parseDurationMs(s: String): Long = {
    val (num, unit) = s.span(c => c.isDigit)
    val n = num.toLongOption.getOrElse {
      System.err.println(s"bad duration '$s': want <N>{d|h|m}"); sys.exit(2)
    }
    unit match {
      case "d" => n * 86400000L
      case "h" => n * 3600000L
      case "m" | "" => n * 60000L
      case u =>
        System.err.println(s"bad duration unit '$u': want d, h or m")
        sys.exit(2)
    }
  }

  /** dbt `profiles.yml` ingestion (the reference ships
    * `test_profiles/profiles.yml:1` with targets `ci` and `ci-with-pr`):
    * the selected profile's `outputs` become `target.<name>.<key>`
    * entries for [[resolveTargetConf]]. Key mapping:
    * `dataset`/`schema` → schema (jinja like
    * `dbt_ci_pr_{{ env_var('PR_NUMBER') }}` stays templated —
    * `Target.resolvedSchema` resolves it against the run env),
    * `project`/`database` → database, `threads` → threads; the
    * profile's `target:` key is the default target name. Searched in
    * `--profiles-dir`, then the project dir.
    */
  private[graft] def profilesConf(projectDir: String,
      profilesDir: Option[String],
      profileName: Option[String]): Map[String, String] = {
    import java.nio.file.{Files, Paths}
    import graft.run.MiniYaml
    import graft.run.MiniYaml.Obj
    val file = (profilesDir.toSeq :+ projectDir)
      .map(d => Paths.get(d, "profiles.yml")).find(Files.exists(_))
    file.fold(Map.empty[String, String]) { f =>
      val y = MiniYaml.parseFile(f)
      // only mappings WITH an outputs: block are profiles — dbt's
      // top-level `config:` (and any other metadata mapping) must not
      // shadow the single real profile in the no-name auto-selection
      val profiles = y.entries.collect {
        case (n, o: Obj) if o.obj("outputs").isDefined => n -> o
      }
      val prof = profileName.flatMap(n => profiles.find(_._1 == n)) match {
        case Some(p) => Some(p._2)
        case None if profileName.isEmpty && profiles.size == 1 =>
          Some(profiles.head._2)
        case None if profileName.isDefined => throw new
            IllegalArgumentException(s"profiles.yml at $f has no profile " +
              s"'${profileName.get}' (found: ${profiles.map(_._1).mkString(", ")})")
        case None => None
      }
      prof.fold(Map.empty[String, String]) { p =>
        val outs = p.obj("outputs").map(_.entries).getOrElse(Nil)
        val entries = outs.collect { case (out, o: Obj) =>
          Seq(
            o.scalar("schema").orElse(o.scalar("dataset"))
              .map(v => s"target.$out.schema" -> v),
            o.scalar("database").orElse(o.scalar("project"))
              .map(v => s"target.$out.database" -> v),
            o.scalar("threads").map(v => s"target.$out.threads" -> v)
          ).flatten
        }.flatten.toMap
        entries ++ p.scalar("target").map("target" -> _)
      }
    }
  }

  /** The active target's settings: the `target.<name>.<key>` entry of
    * [[profilesConf]], where `<name>` is --target, else the profile's
    * `target:`, else none (every key unset: the engine defaults). An
    * explicitly requested target the profile does not declare fails
    * loudly (dbt's unknown-target error).
    */
  private[graft] def resolveTargetConf(conf: Map[String, String],
                                       requested: Option[String])
      : String => Option[String] = {
    requested.foreach { t =>
      require(conf.keys.exists(_.startsWith(s"target.$t.")),
        s"unknown target '$t' (profiles.yml declares no output '$t')")
    }
    val name = requested.orElse(conf.get("target"))
    k => name.flatMap(t => conf.get(s"target.$t.$k"))
  }

  private def parseArgs(args: List[String])
      : (Seq[String], Map[String, Seq[String]]) = {
    val pos = scala.collection.mutable.ArrayBuffer.empty[String]
    val flags = scala.collection.mutable.Map.empty[String, Seq[String]]
      .withDefaultValue(Nil)
    var rest = args
    while (rest.nonEmpty) rest match {
      case "--full-refresh" :: tl =>
        flags("full-refresh") = Seq("true"); rest = tl
      case "--fail-fast" :: tl =>
        flags("fail-fast") = Seq("true"); rest = tl
      case "--empty" :: tl =>
        flags("empty") = Seq("true"); rest = tl
      case "--sample" :: v :: tl =>
        // unquoted `--sample 30 days` arrives as two tokens; the unit must
        // ride with the number or it falls through as a stray positional
        // and the user gets a baffling "expected '<n> <unit>', got '30'"
        val (value, after) = tl match {
          case u :: tl2 if v.matches("\\d+") &&
              u.matches("(?i)(hour|day|month|year)s?") => (s"$v $u", tl2)
          case _ => (v, tl)
        }
        flags("sample") = flags("sample") :+ value; rest = after
      case f :: v :: tl if f.startsWith("--") =>
        val k = f.stripPrefix("--"); flags(k) = flags(k) :+ v; rest = tl
      case p :: tl => pos += p; rest = tl
    }
    (pos.toSeq, flags.toMap)
  }
}
