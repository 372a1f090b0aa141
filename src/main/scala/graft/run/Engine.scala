package graft.run

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, current_timestamp, lit}
import graft.compile.Compiler
import graft.core._
import graft.dag.Dag
import graft.dqtests.SchemaTests
import graft.materialize.{Materializer, Snapshotter}

/** Project definition — the engine-facing mirror of the reference's
  * dbt_project.yml + models/ + schema.yml + sources.yml surface.
  */
final case class SourceDef(sourceName: String, tableName: String, path: String,
                           loadedAtField: Option[String] = None,
                           warnAfterH: Option[Int] = None,
                           errorAfterH: Option[Int] = None,
                           // freshness row filter (reference
                           // `default__collect_freshness` @192559: `where
                           // {{ filter }}` before the max(loaded_at) agg) —
                           // judge freshness on a partition subset
                           filter: Option[String] = None,
                           // source file format (dbt external-table
                           // `external.file_format`): parquet | csv |
                           // json | orc | text — parquet compiles to the
                           // direct `parquet.`path`` relation (scan
                           // pushdown intact); other formats register a
                           // reader-backed temp view
                           format: String = "parquet",
                           // reader options (csv header/delimiter, json
                           // multiLine, …)
                           options: Map[String, String] = Map.empty,
                           // dbt `event_time` config (the 1.9 key shared
                           // by microbatch and --sample): the column that
                           // places each row in time — sampling windows
                           // filter on it
                           eventTime: Option[String] = None,
                           // `require_partition_filter` (reference
                           // bigquery_options @15210): reads of this
                           // source must carry a partition predicate —
                           // see plans/PartitionFilterGuard
                           requirePartitionFilter: Boolean = false)

final case class ModelDef(name: String, rawSql: String,
                          config: ModelConfig = ModelConfig())

final case class SeedDef(name: String, csvPath: String,
                         columnTypes: Map[String, String] = Map.empty)

/** dbt exposure — a declared DOWNSTREAM consumer (dashboard, notebook,
  * ML job) that depends on models but is never built. Gives the graph
  * its sinks: `exposure:name` selects the exposure's declared parents
  * (so `+exposure:name` is "everything this dashboard needs"), and the
  * manifest records the dependency for impact analysis.
  */
final case class ExposureDef(name: String, dependsOn: Seq[String],
                             owner: String = "", url: String = "")

/** A named selector (dbt `selectors.yml`): a saved composition of the
  * [[Engine.selectNodes]] grammar under a project-level name, so CI jobs
  * say `--selector nightly` instead of repeating the expression. The
  * exclude half applies after include — dbt's `exclude:` semantics.
  */
final case class SelectorDef(name: String, include: String,
                             exclude: String = "")

/** A registered upstream project deployment (dbt mesh `dependencies.yml`
  * + deployment coordinates): two-arg `ref('<name>', 'model')` calls
  * resolve READ-ONLY into this project's warehouse. Cross-project refs
  * are how a platform team publishes curated models other teams build
  * on without sharing a project or a schedule.
  */
final case class DependencyDef(name: String, warehouseRoot: String,
                               database: String = "analytics",
                               schema: String = "main")

/** A declared metric (the dbt metrics / semantic-layer shape: a named
  * aggregation over one model with a time dimension and allowed group-by
  * dimensions — `calculation_method`, `expression`, `timestamp`,
  * `dimensions`, `filters` of dbt's metric schema). Consumers ask for
  * (metric, grain, dims) and get governed SQL instead of hand-writing
  * the aggregate — the "define revenue once" layer.
  */
final case class MetricDef(name: String, model: String,
                           calculation: String, // count | count_distinct |
                                                // sum | average | min | max
                           expression: String,
                           timeDim: String,
                           dims: Seq[String] = Nil,
                           filter: Option[String] = None)

final case class SnapshotDef(name: String, rawSql: String, keys: Seq[String],
                             strategy: SnapshotStrategy,
                             invalidateHardDeletes: Boolean = false,
                             // dbt 1.9 hard_deletes: ignore | invalidate
                             // | new_record (None = legacy flag above)
                             hardDeletes: Option[String] = None,
                             // dbt 1.9 dbt_valid_to_current sentinel
                             validToCurrent: Option[String] = None,
                             // dbt 1.9 snapshot_meta_column_names
                             // (canonical -> custom)
                             metaColumnNames: Map[String, String] = Map.empty)

/** `relationships` test target (reference schema.yml
  * `relationships: {to: ref('parent'), field: pk}` @199544): the parent is
  * a MODEL NAME resolved at run time through `Engine.readModel`, so
  * declarative projects (schema.yml) can express referential integrity
  * without a DataFrame in hand.
  */
final case class RelationshipDef(parentModel: String, fk: String, pk: String)

/** A declared schema test bound to a model (reference schema.yml tests). */
final case class TestDef(name: String, modelName: String,
                         test: DataFrame => DataFrame,
                         severity: String = "error", // error | warn
                         where: Option[String] = None,
                         limit: Option[Int] = None,
                         storeFailures: Boolean = false,
                         // dbt 1.6 store_failures_as: 'table' stores the
                         // failing ROWS (same as storeFailures=true),
                         // 'view' a durable re-evaluating view of the
                         // test SQL (SQL-defined tests only), 'ephemeral'
                         // explicitly stores nothing
                         storeFailuresAs: Option[String] = None,
                         // declarative thresholds on the failure count
                         // (reference `default__get_test_sql` @56739
                         // warn_if/error_if config, e.g. ">10"); None =
                         // the dbt default "!=0"
                         warnIf: Option[String] = None,
                         errorIf: Option[String] = None,
                         // when set, `test` is ignored and the failing set
                         // is the anti-join child.fk → parent.pk
                         relationship: Option[RelationshipDef] = None,
                         // dbt SINGULAR test (tests/*.sql): templated SQL
                         // whose result set IS the failing rows. When set,
                         // `test`/`relationship` are ignored; `modelName`
                         // is the first ref (for DAG ordering only).
                         sql: Option[String] = None)

object TestDef {
  /** Parse a `warn_if`/`error_if` threshold (`">10"`, `"<= 5"`, `"!=0"`)
    * into a predicate on the failure count.
    */
  def threshold(spec: String): Long => Boolean = {
    val re = """\s*(>=|<=|!=|=|>|<)\s*(\d+)\s*""".r
    spec match {
      case re(op, num) =>
        val k = num.toLong
        op match {
          case ">"  => _ > k
          case ">=" => _ >= k
          case "<"  => _ < k
          case "<=" => _ <= k
          case "="  => _ == k
          case "!=" => _ != k
        }
      case other => throw new IllegalArgumentException(
        s"bad warn_if/error_if threshold: '$other' (expected e.g. '>10')")
    }
  }
}

/** A dbt 1.8 unit test (`unit_tests:` yml): run the model's SQL over
  * LITERAL mocked inputs and compare against literal expected rows —
  * logic verification with zero warehouse data. `given` maps each input
  * (key `"x"` for `ref('x')`, `"source:a.b"` for `source('a','b')` —
  * the Engine.runUnitTest convention) to mock rows; every direct
  * dependency must be mocked (an unmocked ref fails loudly rather than
  * silently reading production — dbt renders an unmocked input empty,
  * which hides bugs; loud is safer). Row maps: missing keys are NULL;
  * values type by literal shape (numbers/booleans bare, anything else
  * string). `expect` rows compare as an unordered multiset over exactly
  * the expected columns (extra result columns are ignored, dbt's
  * contract: specify only what you care about).
  */
final case class UnitTestDef(name: String, model: String,
                             given: Map[String, Seq[Map[String, String]]],
                             expect: Seq[Map[String, String]],
                             // dbt 1.8 `overrides:` — vars/env_vars the
                             // model compiles with INSIDE this test only
                             // (macro overrides are out of scope and the
                             // loader refuses them loudly)
                             vars: Map[String, String] = Map.empty,
                             env: Map[String, String] = Map.empty,
                             // `format: sql` fixtures (dbt 1.8): the
                             // given/expect value is an inline SELECT the
                             // engine runs as the mock/expected frame —
                             // disjoint from the literal-rows maps above
                             givenSql: Map[String, String] = Map.empty,
                             expectSql: Option[String] = None,
                             // severity: a warn-level expect mismatch is
                             // reported (status 'warn'), never fatal and
                             // never skips the model's descendant cone
                             severity: String = "error")

final case class Project(name: String,
                         sources: Seq[SourceDef] = Nil,
                         models: Seq[ModelDef] = Nil,
                         seeds: Seq[SeedDef] = Nil,
                         snapshots: Seq[SnapshotDef] = Nil,
                         tests: Seq[TestDef] = Nil,
                         // project-level run hooks (reference `on-run-start`
                         // / `on-run-end` keys of dbt_project.yml, executed
                         // through the same run_hooks surface @59759)
                         onRunStart: Seq[String] = Nil,
                         onRunEnd: Seq[String] = Nil,
                         // user-defined macros (reference slot
                         // macros/.gitkeep, dbt macro search path
                         // dbt_project.yml:15-20) — parameterized SQL
                         // fragments expanded before builtin resolution
                         macros: Map[String, Compiler.MacroDef] = Map.empty,
                         // project variables (dbt_project.yml `vars:`) —
                         // `{{ var('name', default) }}` in model SQL;
                         // Target.vars (the --vars CLI analogue) overrides
                         vars: Map[String, String] = Map.empty,
                         // declared downstream consumers (dbt exposures)
                         exposures: Seq[ExposureDef] = Nil,
                         // declared metrics (dbt semantic layer)
                         metrics: Seq[MetricDef] = Nil,
                         // upstream project deployments (dbt mesh)
                         dependencies: Seq[DependencyDef] = Nil,
                         // named selector compositions (dbt selectors.yml)
                         selectors: Seq[SelectorDef] = Nil,
                         // analysis files (compiled, never materialized;
                         // ModelDef reused for its name+rawSql shape)
                         analyses: Seq[ModelDef] = Nil,
                         // dbt description docs (schema.yml
                         // `description:`): key `model` or
                         // `model.column` -> text; always surfaced in the
                         // docs catalog, and emitted as DDL COMMENTs for
                         // models with config persist_docs='true' (B37)
                         descriptions: Map[String, String] = Map.empty,
                         // model name -> project-relative source path
                         // (dbt's `path:` selector method; empty for
                         // embedded projects built from inline SQL)
                         modelPaths: Map[String, String] = Map.empty,
                         // custom {% materialization name, default %}
                         // blocks from macro dirs (name -> body, adapter
                         // already resolved spark-over-default): a model
                         // whose `materialized:` names one dispatches to
                         // Engine.runCustomMaterialization
                         materializations: Map[String, String] = Map.empty,
                         // dbt 1.8 unit tests (`unit_tests:` yml): mocked
                         // given-rows -> expect-rows per model, run BEFORE
                         // the DAG builds — a failing unit test skips its
                         // model's cone exactly like a failing source test
                         unitTests: Seq[UnitTestDef] = Nil)

/** Runtime target — the profiles.yml analogue (database/schema namespace,
  * thread width, env). Per-PR namespacing (reference profiles.yml:20
  * `dbt_ci_pr_{{ env_var('PR_NUMBER') }}`) is just a schema template
  * resolved through the same env map.
  */
final case class Target(warehouseRoot: String,
                        database: String = "analytics",
                        schema: String = "main",
                        // the profile target's NAME ({{ target.name }} —
                        // dbt's env switch); GraftCli sets it from
                        // --target, embedded uses keep the default
                        name: String = "default",
                        threads: Int = 4,
                        env: Map[String, String] = Map.empty,
                        // run-level var overrides (`dbt build --vars ...`)
                        vars: Map[String, String] = Map.empty,
                        // dbt 1.8 `--empty`: every ref()/source() compiles
                        // wrapped in a zero-row subquery — a schema-only
                        // dry run that exercises the full compile +
                        // materialize path without reading source data
                        // (point it at a scratch schema; like dbt, the
                        // empty build REPLACES what it writes)
                        empty: Boolean = false,
                        // dbt 1.10 `--sample`: every ref()/source() WITH a
                        // declared event_time compiles wrapped in a time
                        // window — the fast dev build over a data slice.
                        // Spellings: 'YYYY-MM-DD..YYYY-MM-DD' (start
                        // inclusive, end exclusive) or '<n> <unit>'
                        // relative to the run start (unit: hour|day|
                        // month|year). Relations without event_time pass
                        // through whole, exactly as in dbt.
                        sample: Option[String] = None) {
  def resolvedSchema: String = {
    // generate_schema_name_for_env equivalent: allow env-templated schemas.
    // An unset env var THROWS (matching Compiler's env_var): silently
    // substituting the var name would send every misconfigured run's
    // writes to one shared literal schema, defeating per-PR namespacing.
    val envRe = """\{\{\s*env_var\(\s*'([^']+)'\s*\)\s*\}\}""".r
    envRe.replaceAllIn(schema, m =>
      scala.util.matching.Regex.quoteReplacement(env.getOrElse(m.group(1),
        throw new IllegalArgumentException(
          s"schema template references unset env var '${m.group(1)}'"))))
  }
}

/** The orchestrator (SURVEY §3): compile → DAG → materialize → test, plus
  * manifest emission and slim-CI selection.
  */
final class Engine(spark: SparkSession, project0: Project, target: Target) {

  // dbt run context: one id + start instant per engine invocation
  // ({{ invocation_id }} / {{ run_started_at }} — the audit columns)
  val invocationId: String = java.util.UUID.randomUUID().toString
  val runStartedAt: java.time.Instant = java.time.Instant.now()

  /** The macro-expanded project: user macros resolve FIRST (before
    * ref/source/env_var), so a macro body may itself `ref()` another
    * model — the DAG, the compiled SQL, AND the state:modified checksums
    * all see the expanded text (an edited macro therefore flags every
    * model using it as modified, which raw-text checksums would miss).
    */
  val project: Project =
    if (project0.macros.isEmpty) project0
    else project0.copy(
      models = project0.models.map(m =>
        m.copy(rawSql = Compiler.expandMacros(m.rawSql, project0.macros))),
      snapshots = project0.snapshots.map(s =>
        s.copy(rawSql = Compiler.expandMacros(s.rawSql, project0.macros))),
      onRunStart = project0.onRunStart
        .map(Compiler.expandMacros(_, project0.macros)),
      onRunEnd = project0.onRunEnd
        .map(Compiler.expandMacros(_, project0.macros)))

  val warehouse = new Warehouse(spark, target.warehouseRoot)
  private val mat = new Materializer(warehouse)
  private val snap = new Snapshotter(warehouse)

  /** dbt var precedence: `--vars` (Target) overrides dbt_project.yml. */
  private val mergedVars: Map[String, String] = project.vars ++ target.vars

  def relationFor(model: String): Relation =
    Relation(target.database, target.resolvedSchema, model)

  private def sourceDef(s: String, t: String): SourceDef =
    project.sources.find(x => x.sourceName == s && x.tableName == t)
      .getOrElse(throw new IllegalArgumentException(s"unknown source $s.$t"))

  /** Read a declared source with its format + reader options. */
  private def readSource(sd: SourceDef): DataFrame =
    spark.read.format(sd.format).options(sd.options).load(sd.path)

  /** SQL relation text for a source: parquet-without-options compiles to
    * the direct path relation (filter/column pushdown reaches the scan),
    * which [[Warehouse.resolveSql]] resolves when the SQL runs — a plain
    * parquet file to a view over it with its footer schema pinned, so
    * analysis launches no schema-inference job; other formats / optioned
    * readers register a reader-backed temp view (pushdown still applies
    * through the view — it is the same DataSource scan node).
    */
  private def sourceText(s: String, t: String): String = {
    val sd = sourceDef(s, t)
    if (sd.format == "parquet" && sd.options.isEmpty)
      Compiler.pathRelation(sd.path)
    else {
      val vn = Warehouse.tempViewName(s"graft_src_${s}_$t", s"$s $t")
      readSource(sd).createOrReplaceTempView(vn)
      "`" + vn + "`"
    }
  }

  /** Where a ref() resolves: normally this target; under --defer, models
    * NOT selected in this run read from the deferred (prod) root when the
    * local relation doesn't exist (SURVEY §3.2 step 3). Either way the
    * SQL names a warehouse path; [[Warehouse.resolveSql]] chases it to
    * the committed version when the SQL runs.
    */
  private def refText(model: String, selected: Set[String],
                      deferRoot: Option[String]): String = {
    val local = relationFor(model)
    val root = deferRoot match {
      case Some(prod) if !selected.contains(model) && !warehouse.exists(local) =>
        prod
      case _ => target.warehouseRoot
    }
    val base = Compiler.pathRelation(local.pathUnder(root))
    // a materialized_view whose definition decomposed (avg → sum+count
    // partials) stores the physical partial table; refs read the
    // DECLARED shape back through the projection subquery
    mvProjection(model).map(p => s"(SELECT $p FROM $base)").getOrElse(base)
  }

  /** Cross-project ref resolution (dbt mesh): read the upstream
    * deployment's relation. Always read-only — a cross-project ref never
    * adds a build edge here, exactly like dbt (the upstream runs on its
    * own schedule).
    */
  private def crossRefText(proj: String, model: String): String = {
    val dep = project.dependencies.find(_.name == proj).getOrElse(
      throw new IllegalArgumentException(
        s"cross-project ref('$proj', '$model'): no dependency named " +
          s"'$proj' (registered: ${project.dependencies.map(_.name).mkString(", ")})"))
    Compiler.pathRelation(
      Relation(dep.database, dep.schema, model).pathUnder(dep.warehouseRoot))
  }

  /** The declared-shape SELECT list of a `materialized_view` model whose
    * stored table carries decomposed partials (avg), rebuilt from the
    * model definition. None for identity shapes, non-MV models, and when
    * the definition cannot be analyzed yet (compile before the source
    * exists — compile artifacts then reference the raw table, which is
    * also the identity answer for every non-avg definition). Memoized:
    * the projection is a pure function of the model SQL.
    */
  private val mvProjCache =
    scala.collection.concurrent.TrieMap.empty[String, Option[String]]
  private def mvProjection(name: String): Option[String] =
    mvProjCache.get(name).getOrElse {
      project.models.find(mm => mm.name == name &&
          effectiveConfig(mm).materialized == "materialized_view") match {
        case None => mvProjCache.put(name, None); None
        case Some(mm) =>
          scala.util.Try {
            val df = spark.sql(warehouse.resolveSql(
              compileSql(mm, Set.empty, None, fullRefresh = false)))
            graft.plans.AggViewRewrite.extractSpec(df)
              .flatMap { case (_, _, outs) =>
                graft.plans.AggViewRewrite.projectionSql(outs)
              }
          } match {
            case scala.util.Success(proj) =>
              mvProjCache.put(name, proj); proj
            case scala.util.Failure(_) =>
              // analysis failed TRANSIENTLY (e.g. compile before the
              // MV's source exists): answer None for now but do NOT
              // memoize it — a later ref after the source builds must
              // recompute the declared projection, or every consumer
              // would silently read the stored decomposed partials
              None
          }
      }
    }

  private def viewName(model: String): String =
    s"${project.name}_${target.resolvedSchema}_$model"

  private def allNodes: Seq[String] =
    project.seeds.map(_.name) ++ project.models.map(_.name) ++
      project.snapshots.map(_.name)

  private def parentsOf: Map[String, Seq[String]] = {
    val known = allNodes.toSet
    (project.models.map { m =>
      val (refs, _) = Compiler.dependencies(m.rawSql)
      m.name -> refs.filter(known.contains)
    } ++ project.snapshots.map { s =>
      val (refs, _) = Compiler.dependencies(s.rawSql)
      s.name -> refs.filter(known.contains)
    } ++ project.seeds.map(_.name -> Seq.empty[String])).toMap
  }

  private def effectiveConfig(m: ModelDef): ModelConfig =
    Compiler.parseInlineConfig(m.rawSql, m.config)

  /** Graphviz DOT of the project lineage (sources → seeds/models/
    * snapshots → exposures), optionally restricted to a selected node
    * set — `dbt docs`' lineage graph as a pipeable artifact
    * (`dot -Tsvg`). Node shape encodes kind; edges point data-flow
    * downstream.
    */
  def lineageDot(selected: Option[Set[String]] = None): String = {
    val keep: String => Boolean = selected.fold((_: String) => true)(s => s)
    def q(s: String) = "\"" + s.replace("\"", "\\\"") + "\""
    val sb = new StringBuilder("digraph lineage {\n  rankdir=LR;\n")
    project.seeds.filter(s => keep(s.name)).foreach(s =>
      sb ++= s"  ${q(s.name)} [shape=folder];\n")
    project.models.filter(m => keep(m.name)).foreach { m =>
      val mat = effectiveConfig(m).materialized
      val shape = if (mat == "view" || mat == "ephemeral") "ellipse" else "box"
      sb ++= s"  ${q(m.name)} [shape=$shape, label=${q(s"${m.name}\\n$mat")}];\n"
    }
    project.snapshots.filter(s => keep(s.name)).foreach(s =>
      sb ++= s"  ${q(s.name)} [shape=box3d];\n")
    val srcNodes = scala.collection.mutable.LinkedHashSet.empty[String]
    (project.models.map(m => m.name -> m.rawSql) ++
      project.snapshots.map(s => s.name -> s.rawSql)).foreach {
      case (n, sql) if keep(n) =>
        val (refs, srcs) = Compiler.dependencies(sql)
        refs.filter(keep).foreach(r => sb ++= s"  ${q(r)} -> ${q(n)};\n")
        srcs.foreach { case (sn, tn) =>
          val id = s"source:$sn.$tn"
          srcNodes += id
          sb ++= s"  ${q(id)} -> ${q(n)};\n"
        }
      case _ => ()
    }
    srcNodes.foreach(id => sb ++= s"  ${q(id)} [shape=cylinder];\n")
    project.exposures.foreach { e =>
      val deps = e.dependsOn.filter(keep)
      if (deps.nonEmpty) {
        sb ++= s"  ${q("exposure:" + e.name)} [shape=note];\n"
        deps.foreach(d => sb ++= s"  ${q(d)} -> ${q("exposure:" + e.name)};\n")
      }
    }
    sb ++= "}\n"
    sb.toString
  }

  /** The --sample window as a SQL predicate over `et` — absolute
    * `start..end` (end-exclusive) or `<n> <unit>` back from the run
    * start. A constant predicate by construction, so it reaches the
    * parquet scan as a pushed filter.
    */
  private def samplePredicate(spec: String, et: String): String = {
    val absRe = """(\d{4}-\d{2}-\d{2})\.\.(\d{4}-\d{2}-\d{2})""".r
    val relRe = """(?i)(\d+)\s+(hour|day|month|year)s?""".r
    spec.trim match {
      case absRe(a, b) =>
        s"`$et` >= TIMESTAMP '$a 00:00:00' AND `$et` < TIMESTAMP '$b 00:00:00'"
      case relRe(n, u) =>
        // dbt's relative window is [run_start - n, run_start): the upper
        // bound matters — without it future-dated rows leak in. The anchor
        // literal is formatted in the SESSION timezone (that's how Spark
        // will interpret the TIMESTAMP literal); UTC-formatting it would
        // shift the window by the session offset.
        val zone = java.time.ZoneId.of(
          spark.conf.get("spark.sql.session.timeZone",
            java.util.TimeZone.getDefault.getID))
        val end = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(zone)
          .format(runStartedAt)
        s"`$et` >= TIMESTAMP '$end' - INTERVAL $n ${u.toUpperCase} " +
          s"AND `$et` < TIMESTAMP '$end'"
      case other => throw new IllegalArgumentException(
        s"--sample: expected 'YYYY-MM-DD..YYYY-MM-DD' or '<n> <unit>', " +
          s"got '$other'")
    }
  }

  /** Ephemeral AND view models are logical: their refs inline as CTEs of
    * the referencing model's compiled SQL. (Ephemeral: dbt semantics.
    * Views: our warehouse is path-addressed parquet with no metastore, so
    * a persistent view IS its definition — inlining gives identical
    * semantics and works across engine invocations/slim-CI runs, where a
    * session temp view would not.)
    */
  private def isInlined(name: String): Boolean =
    project.models.exists(m => m.name == name && {
      val mt = effectiveConfig(m).materialized
      mt == "ephemeral" || mt == "view"
    })

  /** Transitive inlined (ephemeral/view) dependencies, leaves first. */
  private def inlinedClosure(rawSql: String): Seq[String] = {
    val (refs, _) = Compiler.dependencies(rawSql)
    refs.filter(isInlined).flatMap { r =>
      val m = project.models.find(_.name == r).get
      inlinedClosure(m.rawSql) :+ r
    }.distinct
  }

  def compileSql(m: ModelDef, selected: Set[String],
                 deferRoot: Option[String], fullRefresh: Boolean,
                 executeMode: Boolean = true,
                 // materialization-body mode: fetchless {% call
                 // statement %} blocks are deferred ACTIONS the caller
                 // executes in document order, not probes
                 deferFetchless: Boolean = false): String = {
    val cfg = effectiveConfig(m)
    val self = relationFor(m.name)
    val isIncr = cfg.materialized == "incremental" &&
      warehouse.exists(self) && !fullRefresh // reference is_incremental @157947
    // `_dbt_max_partition` (reference bq_insert_overwrite @34992): for an
    // incremental run of a partitioned model whose SQL actually references
    // it, fetch the target's max partition once (control-plane scalar,
    // = run_query(...)[0][0]) and substitute it as a LITERAL — the single
    // most important incremental optimization at scale, because a constant
    // predicate partition-prunes the source scan where a scalar subquery
    // would not. Gated on the reference so plain incremental compiles stay
    // metadata-only.
    val maxPart: Option[String] =
      if (isIncr && Compiler.referencesMaxPartition(m.rawSql))
        cfg.partitionBy.headOption.flatMap(pc => mat.maxPartitionLiteral(self, pc))
      else None
    // --empty (dbt 1.8): wrap every NON-INLINED ref and every source in a
    // zero-row subquery; inlined CTEs get empty inputs transitively
    val emptyWrap: String => String =
      if (target.empty) rel => s"(SELECT * FROM $rel WHERE 1 = 0)"
      else identity
    // --sample (dbt 1.10): wrap relations WITH a declared event_time in
    // the window predicate — a CONSTANT range, so Catalyst pushes it to
    // the scan and partition-prunes; event_time-less relations pass
    // through whole (dbt's contract). --empty dominates when both set.
    def sampleWrap(rel: String, eventTime: Option[String]): String =
      (target.sample, eventTime.filter(_.nonEmpty)) match {
        case (Some(spec), Some(et)) if !target.empty =>
          s"(SELECT * FROM $rel WHERE ${samplePredicate(spec, et)})"
        case _ => rel
      }
    def modelEventTime(r: String): Option[String] =
      project.models.find(_.name == r)
        .map(mm => effectiveConfig(mm).eventTime)
    val ctx = Compiler.ResolveCtx(
      refTarget = r =>
        if (isInlined(r)) s"__cte__$r"
        else sampleWrap(emptyWrap(refText(r, selected, deferRoot)),
          modelEventTime(r)),
      sourceTarget = (s, t) => sampleWrap(emptyWrap(sourceText(s, t)),
        sourceDef(s, t).eventTime),
      crossRefTarget = (p, mm) => emptyWrap(crossRefText(p, mm)),
      thisTarget = Compiler.pathRelation(self.pathUnder(target.warehouseRoot)),
      thisVals = Map("database" -> self.database,
        "schema" -> self.schema, "identifier" -> self.identifier),
      env = target.env,
      isIncremental = isIncr,
      vars = mergedVars,
      targetVals = Map("name" -> target.name,
        "database" -> target.database, "schema" -> target.resolvedSchema),
      maxPartition = maxPart,
      invocationId = Some(invocationId),
      runStartedAt = Some(runStartedAt))
    // dbt-utils get_column_values: resolve introspective set bindings
    // against the BUILT upstream (a DAG edge guarantees it exists; the
    // probe is one control-plane distinct over a single column, bounded
    // by max_records) — the values become a literal {% set %} list the
    // control-flow subset expands. Same relation resolution as the
    // body's refs, so --defer and non-parquet sources behave identically.
    def introRelText(kind: String, a: String, b: Option[String],
                     what: String): String = kind match {
      case "ref" =>
        require(!isInlined(a),
          s"$what over ephemeral '$a' is unsupported — materialize it")
        refText(a, selected, deferRoot)
      case "this" => ctx.thisTarget // run_query('… from ' ~ this) probes
      case _ => sourceText(a, b.getOrElse(throw new IllegalArgumentException(
        s"$what: source('$a') needs a table name")))
    }
    // run_query (dbt's general introspective probe): execute the
    // assembled SQL against the warehouse with a hard row cap — the
    // result is compile-time control-plane data spliced into SQL text,
    // so anything large belongs in a model, not a probe. Fails loudly
    // at cap+1 rather than silently truncating.
    def execRunQuery(q: String): Compiler.QueryResult = {
      // parse-phase rendering (dbt's execute=false): run_query returns
      // the none-analogue — an empty result — and NEVER touches the
      // warehouse, so compiling a probe-bearing model does not require
      // its upstream to exist. Guarded probes ({% if execute %}) are
      // already dead text by this point (resolveExecuteBlocks).
      if (!executeMode)
        return Compiler.QueryResult(IndexedSeq.empty, IndexedSeq.empty)
      val cap = 500
      val df = spark.sql(warehouse.resolveSql(q))
      val rows = df.limit(cap + 1).collect()
      require(rows.length <= cap,
        s"run_query returned more than $cap rows — introspective compile " +
          "probes must be control-plane-sized; use a model")
      Compiler.QueryResult(df.columns.toIndexedSeq,
        rows.toIndexedSeq.map(r =>
          (0 until r.length).map(i => String.valueOf(r.get(i)))))
    }
    def resolveIntrospection(sql0raw: String,
        configKvs: Map[String, String] = Compiler.inlineConfigKvs(m.rawSql))
        : (String, Map[String, Compiler.QueryResult]) = {
      // comments strip and raw bodies tokenize FIRST: a statement/
      // run_query inside a {# comment #} must never execute and a
      // {% raw %} body must survive every probe pass verbatim. When the
      // project has macros this already happened in expandMacros
      // (idempotent — protected text has no raw blocks or comments left
      // to match); when it has none, the project-level expansion is
      // skipped and this is the only protection point. compile()'s
      // restoreRaw decodes the tokens at the end.
      // config.get/require read the model's OWN raw config kvs — dbt
      // models occasionally read their config back (the materialization
      // protocol shares the same resolver).
      val sql0 = Compiler.resolveConfigCalls(
        Compiler.protectRawAndStripComments(sql0raw), configKvs)
      // decide is_incremental() branches BEFORE probing: Jinja is lazy,
      // so a run_query inside a non-taken branch must never execute —
      // the canonical `max(ts) from {{ this }}` guard would otherwise
      // fail on every full-refresh build against a not-yet-built target.
      // In parse-phase (compile-artifact) mode the {% if execute %}
      // guards close FIRST for the same reason.
      // statically-decidable generic {% if %} branches prune BEFORE any
      // probe executes — a statement/run_query (or DML) inside a dead
      // set-literal branch must never run (lazy Jinja)
      val sqlIncr = Compiler.resolveStaticIfBlocks(
        Compiler.resolveIncrementalBlocks(
          Compiler.resolveExecuteBlocks(Compiler.normalizeUtilCalls(sql0),
            executeMode), ctx.isIncremental),
        vars = mergedVars, env = target.env)
      // relation-existence introspection (load_relation /
      // adapter.get_relation + `is [not] none`) resolves BEFORE probes
      // for the same laziness reason — the canonical existence guard
      // wraps a probe of the maybe-missing relation. Parse phase
      // returns None for everything, exactly dbt's contract.
      val sqlRel =
        if (!Compiler.hasRelationLookups(sqlIncr)) sqlIncr
        else Compiler.resolveRelationLookups(sqlIncr, (kind, a, b) =>
          if (!executeMode) None
          else kind match {
            case "this" =>
              val r = relationFor(m.name)
              if (warehouse.exists(r)) Some(Compiler.pathRelation(
                r.pathUnder(target.warehouseRoot))) else None
            case "ref" =>
              val r = relationFor(a)
              if (warehouse.exists(r)) Some(Compiler.pathRelation(
                r.pathUnder(target.warehouseRoot)))
              else deferRoot match {
                // --defer parity: the existence guard must agree with
                // where ref() itself resolves, or the canonical
                // `load_relation(ref(x)) is not none` guard takes the
                // missing-branch while the ref would read prod data
                case Some(prod) if !selected.contains(a) &&
                    warehouse.at(prod).exists(r) =>
                  Some(Compiler.pathRelation(r.pathUnder(prod)))
                case _ => None
              }
            case "source" =>
              val sd = project.sources.find(x =>
                x.sourceName == a && x.tableName == b.getOrElse(""))
              sd.filter(d => java.nio.file.Files.exists(
                  java.nio.file.Paths.get(d.path)))
                .map(_ => sourceText(a, b.get))
            case other => throw new IllegalArgumentException(
              s"relation lookup kind '$other' unsupported")
          })
      val (sqlRq0, tables0) = Compiler.resolveRunQueries(sqlRel,
        (kind, a, b) => introRelText(kind, a, b, "run_query"), execRunQuery,
        deferFetchless)
      // adapter.get_columns_in_relation bindings ride the same
      // QueryResult machinery (rows = (name, dtype) per column);
      // parse phase binds [] — dbt's execute=false contract
      val (sqlRq, colTables) = Compiler.resolveGetColumns(sqlRq0,
        (kind, a, b) =>
          if (!executeMode) Nil
          else spark.sql(warehouse.resolveSql(
            s"SELECT * FROM ${introRelText(kind, a, b,
              "get_columns_in_relation")} LIMIT 0")).schema.fields
            .map(f => f.name -> f.dataType.sql.toLowerCase).toSeq)
      val tables = tables0 ++ colTables
      val sql = Compiler.resolveColumnValues(sqlRq, (kind, a, b, column, maxN) =>
        // dbt-utils parity: default order is count(*) DESC (the pivot
        // columns land most-frequent-first); the value itself is the
        // deterministic tie-break dbt-utils lacks. Parse-phase
        // (compile-artifact) rendering returns the empty default —
        // dbt-utils' own `if not execute` arm — without touching the
        // warehouse.
        if (!executeMode) IndexedSeq.empty
        else spark.sql(warehouse.resolveSql(
          s"SELECT `$column` AS v " +
            s"FROM ${introRelText(kind, a, b, "get_column_values")} " +
            s"WHERE `$column` IS NOT NULL GROUP BY `$column` " +
            s"ORDER BY count(*) DESC, v ASC LIMIT $maxN"))
          .collect().map(r => String.valueOf(r.get(0))).toIndexedSeq)
      // star()/union_relations(): schema only — resolveSql + limit 0
      // keeps both metadata-only
      def schemaOf(kind: String, a: String, b: Option[String], what: String) =
        spark.sql(warehouse.resolveSql(
          s"SELECT * FROM ${introRelText(kind, a, b, what)} LIMIT 0")).schema
      val sql2 = Compiler.resolveStar(sql, (kind, a, b) =>
        // parse phase: dbt-utils star returns the literal '*'
        if (!executeMode) IndexedSeq("*")
        else schemaOf(kind, a, b, "star").fields.map(_.name).toIndexedSeq)
      val sql2f = Compiler.resolveFilteredColumns(sql2, (kind, a, b) =>
        if (!executeMode) Nil // parse phase binds []
        else schemaOf(kind, a, b, "get_filtered_columns_in_relation")
          .fields.map(_.name).toIndexedSeq)
      // get_relations_by_pattern: SQL LIKE patterns over the warehouse's
      // existing relations in the target database (schemas enumerated,
      // then identifiers; exclude subtracts). Execute-mode empty matches
      // fail loudly; parse phase binds [] → placeholder rendering.
      val sql2b = Compiler.resolveRelationsByPattern(sql2f, (sp, tp, ex) =>
        if (!executeMode) Nil
        else {
          // SQL LIKE → regex, WITH backslash escapes (`shard\_%` means a
          // literal underscore — the standard dbt spelling)
          def likeRe(p: String) = {
            val sb = new StringBuilder("^(?i)")
            var i = 0
            while (i < p.length) {
              p.charAt(i) match {
                case '\\' if i + 1 < p.length =>
                  sb.append(java.util.regex.Pattern
                    .quote(p.charAt(i + 1).toString)); i += 1
                case '%' => sb.append(".*")
                case '_' => sb.append(".")
                case c => sb.append(java.util.regex.Pattern.quote(c.toString))
              }
              i += 1
            }
            (sb.append("$")).result().r
          }
          val (sRe, tRe) = (likeRe(sp), likeRe(tp))
          val exRe = ex.filter(_.nonEmpty).map(likeRe)
          def excluded(ident: String) =
            exRe.exists(_.pattern.matcher(ident).matches())
          val rels = warehouse.listSchemas(target.database)
            .filter(sc => sRe.pattern.matcher(sc).matches())
            .flatMap(sc => warehouse.listRelations(target.database, sc))
            .filter(r => tRe.pattern.matcher(r.identifier).matches())
            .filterNot(r => excluded(r.identifier))
            .sortBy(_.fqName)
          require(rels.nonEmpty, s"get_relations_by_pattern('$sp', " +
            s"'$tp'${ex.fold("")(e => s", '$e'")}): no relations match " +
            s"in database '${target.database}' — the shards must be " +
            "built before the model that unions them")
          // a PARTIAL match is silent wrong data: every PROJECT model
          // whose relation matches the pattern must already exist (a
          // pattern carries no static DAG edge, so a same-build race
          // could otherwise union half the shards and succeed)
          val missingShards = project.models.map(pm => relationFor(pm.name))
            .filterNot(_ == relationFor(m.name)) // not the model compiling
            .filter(r => r.database == target.database &&
              sRe.pattern.matcher(r.schema).matches() &&
              tRe.pattern.matcher(r.identifier).matches() &&
              !excluded(r.identifier))
            .filterNot(r => rels.contains(r))
          require(missingShards.isEmpty,
            s"get_relations_by_pattern('$sp', '$tp'): project models " +
              s"${missingShards.map(_.identifier).mkString(", ")} match " +
              "the pattern but are not built yet — build the shards in " +
              "an earlier stage (patterns carry no DAG edge)")
          rels.map { r =>
            val text = Compiler.pathRelation(
              r.pathUnder(target.warehouseRoot))
            (r.fqName, text,
              spark.sql(warehouse.resolveSql(
                s"SELECT * FROM $text LIMIT 0")).schema.fields
                .map(f => f.name -> f.dataType.sql).toIndexedSeq)
          }
        })
      // parse phase: schema fetches return EMPTY without touching the
      // warehouse — the resolvers render star placeholders, so a
      // compile against an unbuilt upstream never queries it
      val sql3 = Compiler.resolveUnionRelations(sql2b, (kind, a, b) =>
        (introRelText(kind, a, b, "union_relations"),
          if (!executeMode) Nil
          else schemaOf(kind, a, b, "union_relations").fields
            .map(f => f.name -> f.dataType.sql).toIndexedSeq))
      (Compiler.resolveUnpivot(sql3, (kind, a, b) =>
        (introRelText(kind, a, b, "unpivot"),
          if (!executeMode) Nil
          else schemaOf(kind, a, b, "unpivot").fields
            .map(f => f.name -> f.dataType.sql).toIndexedSeq)), tables)
    }
    // a {% call set_sql_header(config) %} block is NOT model body — the
    // engine executes it separately before the build (runSqlHeader)
    val (resolved, tables) =
      resolveIntrospection(Compiler.extractSqlHeader(m.rawSql)._2)
    val body = Compiler.compile(resolved, ctx.copy(queryResults = tables))
    val ephemerals = inlinedClosure(m.rawSql)
    if (ephemerals.isEmpty) body
    else {
      val ctes = ephemerals.map { e =>
        val eDef = project.models.find(_.name == e).get
        val (eResolved, eTables) = resolveIntrospection(
          Compiler.extractSqlHeader(eDef.rawSql)._2,
          Compiler.inlineConfigKvs(eDef.rawSql))
        val sql = Compiler.compile(eResolved, ctx.copy(queryResults = eTables))
        s"__cte__$e AS ($sql)"
      }.mkString(", ")
      // merge with an outer WITH if the model itself starts with one
      // (any whitespace after the keyword, case-insensitive)
      val trimmed = body.trim
      val startsWithWith = trimmed.length > 4 &&
        trimmed.substring(0, 4).equalsIgnoreCase("WITH") &&
        trimmed.charAt(4).isWhitespace
      if (startsWithWith)
        s"WITH $ctes, ${trimmed.substring(4).trim}"
      else s"WITH $ctes $trimmed"
    }
  }

  /** Pre/post hooks (reference `run_hooks` @59759): arbitrary SQL around
    * the materialization, with the same template resolution as model SQL.
    * No transactions exist on a parquet warehouse — hooks are sequential,
    * non-atomic (documented limitation, SURVEY §2 B44).
    */
  private def runHooks(hooks: Seq[String], modelName: String): Unit =
    hooks.foreach { h0 =>
      val h = Compiler.expandMacros(h0, project.macros)
      spark.sql(warehouse.resolveSql(Compiler.compile(h, Compiler.ResolveCtx(
        refTarget = r => Compiler.pathRelation(
          relationFor(r).pathUnder(target.warehouseRoot)),
        sourceTarget = (s, t) => sourceText(s, t),
        thisTarget = Compiler.pathRelation(
          relationFor(modelName).pathUnder(target.warehouseRoot)),
        thisVals = {
          val r = relationFor(modelName)
          Map("database" -> r.database, "schema" -> r.schema,
            "identifier" -> r.identifier)
        },
        env = target.env, isIncremental = false,
        vars = mergedVars,
        // the same run context model SQL gets — the standard dbt
        // audit-hook idiom logs {{ invocation_id }} / {{ target.schema }}
        targetVals = Map("name" -> target.name,
          "database" -> target.database, "schema" -> target.resolvedSchema),
        invocationId = Some(invocationId),
        runStartedAt = Some(runStartedAt)))))
      ()
    }

  /** Project-level hooks (reference on-run-start/on-run-end): same template
    * surface as model hooks minus `{{ this }}` (no node scope). A failing
    * on-run-start aborts the run, mirroring the reference.
    */
  private def runProjectHooks(hooks: Seq[String]): Unit =
    hooks.foreach { h =>
      spark.sql(warehouse.resolveSql(Compiler.compile(h, Compiler.ResolveCtx(
        refTarget = r => Compiler.pathRelation(
          relationFor(r).pathUnder(target.warehouseRoot)),
        sourceTarget = (s, t) => sourceText(s, t),
        thisTarget = "", env = target.env, isIncremental = false,
        vars = mergedVars,
        targetVals = Map("name" -> target.name,
          "database" -> target.database, "schema" -> target.resolvedSchema),
        invocationId = Some(invocationId),
        runStartedAt = Some(runStartedAt)))))
      ()
    }

  /** dbt `set_sql_header` / `sql_header` config (reference
    * `macro.dbt.set_sql_header`, manifest.json:1): per-model session DDL
    * executed BEFORE the model body — BigQuery's temp-UDF hook. The Spark
    * analogue is session-scoped statements only: `CREATE [OR REPLACE]
    * TEMPORARY FUNCTION` (Spark 4 SQL UDFs), `CREATE [OR REPLACE]
    * TEMPORARY VIEW`, and `SET`. Anything else is refused loudly — a
    * header that created DURABLE state would leak outside the model's
    * run, which dbt's contract (the header rides the model's own job)
    * never allows.
    *
    * Scoping: the SparkSession is shared across the node pool, so header
    * state is contained two ways — [[withSqlHeader]] SERIALIZES
    * header-bearing model builds under one lock (dbt's own shape: one
    * connection per model thread, and headers ride that connection), and
    * every statement records its inverse (SET → restore/unset the prior
    * value, temp function/view → drop) which runs after the model's
    * materialization completes, so nothing a header sets survives the
    * model's run.
    */
  private val sqlHeaderRw =
    new java.util.concurrent.locks.ReentrantReadWriteLock()
  private def runSqlHeader(modelName: String, header: String): () => Unit = {
    val compiled = Compiler.compile(
      Compiler.expandMacros(header, project.macros), Compiler.ResolveCtx(
        refTarget = r => Compiler.pathRelation(
          relationFor(r).pathUnder(target.warehouseRoot)),
        sourceTarget = (s, t) => sourceText(s, t),
        thisTarget = Compiler.pathRelation(
          relationFor(modelName).pathUnder(target.warehouseRoot)),
        env = target.env, isIncremental = false, vars = mergedVars,
        targetVals = Map("name" -> target.name,
          "database" -> target.database, "schema" -> target.resolvedSchema),
        invocationId = Some(invocationId),
        runStartedAt = Some(runStartedAt)))
    // object names: bare word, dotted, or backquoted (passed through
    // verbatim to the DROP); IF NOT EXISTS forms supported
    val nameP = """((?:`[^`]+`|[\w.]+))"""
    val funcRe = ("""(?is)^create\s+(?:or\s+replace\s+)?temp(?:orary)?""" +
      """\s+function\s+(?:if\s+not\s+exists\s+)?""" + nameP + """[\s(].*""").r
    val viewRe = ("""(?is)^create\s+(?:or\s+replace\s+)?temp(?:orary)?""" +
      """\s+view\s+(?:if\s+not\s+exists\s+)?""" + nameP + """[\s(].*""").r
    // SET key=value (key = any non-space/'=' run: hyphenated hadoop keys
    // etc.); a bare `SET key` only READS a conf — no state, no inverse
    val setRe = """(?is)^set\s+([^=\s]+)\s*=.*""".r
    val setReadRe = """(?is)^set\s+[^=\s]+$""".r
    val undo = scala.collection.mutable.ListBuffer.empty[() => Unit]
    // an inverse that throws must neither mask the real failure nor
    // abort the remaining undos — log and keep unwinding
    def unwind(): Unit = undo.toList.reverse.foreach { f =>
      try f() catch { case e: Exception =>
        System.err.println(
          s"[graft] sql_header cleanup for '$modelName' failed: ${e.getMessage}")
      }
    }
    try splitStatements(compiled).foreach { st =>
      val inverse: Option[() => Unit] = st match {
        case funcRe(name) =>
          Some(() => { spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS $name"); () })
        case viewRe(name) =>
          Some(() => { spark.sql(s"DROP VIEW IF EXISTS $name"); () })
        case setRe(key) =>
          val prior = spark.conf.getOption(key)
          Some(() => prior match {
            case Some(v) => spark.conf.set(key, v)
            case None => try spark.conf.unset(key) catch { case _: Exception => () }
          })
        case _ if setReadRe.findFirstIn(st).isDefined => Some(() => ())
        case _ => None
      }
      require(inverse.isDefined,
        s"model '$modelName': sql_header statements must be session-scoped " +
          "(CREATE TEMPORARY FUNCTION/VIEW or SET) — durable DDL in a " +
          s"header would outlive the model's run: ${st.take(120)}")
      // record the inverse BEFORE executing: if a LATER statement fails,
      // everything already executed still unwinds (re-undoing a failed
      // statement is harmless — DROP IF EXISTS / restore-the-same-value)
      undo += inverse.get
      spark.sql(warehouse.resolveSql(st))
      ()
    } catch { case e: Throwable => unwind(); throw e }
    () => unwind()
  }

  /** Quote- and comment-aware `;` split: a semicolon inside a '…' or
    * "…" string literal (doubled-quote escapes), a `…` backquoted
    * identifier, or a `--` line comment is content, not a separator.
    */
  private def splitStatements(sql: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var quote: Char = 0 // 0 = outside; else the active quote char
    var inComment = false
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inComment) {
        sb.append(c)
        if (c == '\n') inComment = false
      } else if (quote != 0) {
        sb.append(c)
        if (c == quote) {
          if (i + 1 < sql.length && sql.charAt(i + 1) == quote) {
            sb.append(quote); i += 1 // '' / "" escape
          } else quote = 0
        }
      } else c match {
        case '\'' | '"' | '`' => quote = c; sb.append(c)
        case '-' if i + 1 < sql.length && sql.charAt(i + 1) == '-' =>
          inComment = true; sb.append(c)
        case ';' => out += sb.result(); sb.clear()
        case _ => sb.append(c)
      }
      i += 1
    }
    out += sb.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Run `body` with `header` active: header statements execute first,
    * the whole unit serializes against other header-bearing work, and
    * the header's session state is undone afterward whatever happens.
    */
  private def withSqlHeader[A](modelName: String, header: Option[String])
      (body: => A): A = header match {
    case None =>
      // session confs are GLOBAL to the shared SparkSession: a
      // header-free model running concurrently with a header-bearing one
      // would silently execute under the header's SET (timezone, ANSI,
      // parser policy). Read-lock: header-free builds stay parallel with
      // each other, but never overlap a header window. Zero contention
      // for projects with no sql_header (the write lock is never taken).
      sqlHeaderRw.readLock.lock()
      try body finally sqlHeaderRw.readLock.unlock()
    case Some(h) =>
      sqlHeaderRw.writeLock.lock()
      try {
        val cleanup = runSqlHeader(modelName, h)
        try body finally cleanup()
      } finally sqlHeaderRw.writeLock.unlock()
  }

  /** Guarded relations for [[graft.plans.PartitionFilterGuard]] — the
    * guard set is build-constant, so it is computed ONCE (effectiveConfig
    * re-parses inline config; per-node recomputation would be
    * O(nodes × models) regex work under the executor). Pure collection:
    * per-model config VALIDATION lives in [[validatePartitionGuard]] so
    * a misconfiguration fails the guarded model's OWN node, not whichever
    * node happens to touch the lazy val first.
    */
  private lazy val allPartitionGuards
      : Seq[(String, graft.plans.PartitionFilterGuard.Guard)] =
    project.models.iterator
      .filter(mm => effectiveConfig(mm).requirePartitionFilter)
      .map(mm => mm.name -> graft.plans.PartitionFilterGuard.Guard(
        warehouse.path(relationFor(mm.name)), s"model '${mm.name}'"))
      .toSeq ++
    project.sources.iterator.filter(_.requirePartitionFilter)
      .map(sd => s"source:${sd.sourceName}.${sd.tableName}" ->
        graft.plans.PartitionFilterGuard.Guard(
          sd.path, s"source '${sd.sourceName}.${sd.tableName}'"))
      .toSeq

  /** A guarded model must be a partitioned table/incremental: a view or
    * ephemeral inlines as a CTE (no scan of its own for the guard to
    * match — the predicate requirement falls through to the underlying
    * scans instead), and an unpartitioned table could never satisfy the
    * predicate requirement. Checked while building the guarded model
    * itself so the error lands on the RIGHT node.
    */
  private def validatePartitionGuard(name: String, c: ModelConfig): Unit =
    if (c.requirePartitionFilter) {
      val tableBacked = Set("table", "incremental").contains(c.materialized)
      val partitioned = c.partitionBy.nonEmpty ||
        c.incrementalStrategy == IncrementalStrategy.Microbatch
      require(tableBacked && partitioned,
        s"model '$name': require_partition_filter needs a partitioned " +
          s"table/incremental materialization (got materialized=" +
          s"'${c.materialized}', partition_by=" +
          s"[${c.partitionBy.mkString(",")}]) — a view/ephemeral inlines " +
          "with no scan of its own, and an unpartitioned table can never " +
          "satisfy the guard")
    }

  /** The guard set minus the node being built itself (incremental/
    * snapshot maintenance legitimately probes its own target — the
    * _dbt_max_partition fetch, merge reads).
    */
  private def partitionGuards(excluding: String)
      : Seq[graft.plans.PartitionFilterGuard.Guard] =
    allPartitionGuards.collect { case (owner, g) if owner != excluding => g }

  private def runNode(name: String, selected: Set[String],
                      deferRoot: Option[String], fullRefresh: Boolean): Unit = {
    project.seeds.find(_.name == name).foreach { sd =>
      mat.seed(spark, sd.csvPath, relationFor(sd.name), sd.columnTypes); ()
    }
    project.models.find(_.name == name).foreach { m =>
      val cfg = effectiveConfig(m)
      validatePartitionGuard(m.name, cfg)
      runHooks(cfg.preHooks, m.name)
      // sql_header wraps compile + materialization as ONE unit: an
      // introspection probe in the body (run_query) may already call a
      // header-declared temp function, and the header's session state is
      // undone — and the unit serialized vs other header work — once the
      // materialization lands (see runSqlHeader's scoping note)
      withSqlHeader(m.name,
          cfg.sqlHeader.orElse(Compiler.extractSqlHeader(m.rawSql)._1)) {
      val compiled = compileSql(m, selected, deferRoot, fullRefresh)
      if (compiled.contains("[DBT__PARTITION_DATE]")) {
        // B2 legacy per-date partition loop (reference
        // `materialization_table_bigquery` partitions branch @48682 +
        // `make_date_partitioned_table` @47149): one query per configured
        // date, the placeholder substituted as raw text, each result
        // landing in that date's partition. Only the `table`
        // materialization supports it, as in dbt-bigquery 0.x.
        require(cfg.materialized == "table",
          s"${m.name}: [DBT__PARTITION_DATE] requires materialized='table' " +
            s"(got '${cfg.materialized}')")
        mat.datePartitionedTable(spark, compiled, relationFor(m.name), cfg,
          DateUtils.expandPartitionDates(cfg.partitions),
          warehouse.resolveSql)
        warehouse.dropView(relationFor(m.name))
      } else {
      // model contract (dbt 1.5): schema validated at analysis time,
      // not_null raise-on-null wrapped into the write pass itself
      val df = graft.materialize.Contracts.enforce(
        spark.sql(warehouse.resolveSql(compiled)),
        cfg.contract, cfg.notNull, m.name)
      // require_partition_filter guards (plan-time, no job): reads of a
      // guarded upstream must be partition-pruned. Self-reads exempt
      // (incremental maintenance probes its own target by design);
      // --full-refresh exempt (a deliberate, flagged full reprocess).
      if (!fullRefresh)
        graft.plans.PartitionFilterGuard.assertPruned(
          df, partitionGuards(excluding = m.name))
      cfg.materialized match {
        case "view" =>
          mat.view(df, viewName(m.name))
          // durable catalog entry: external/later sessions reconstruct the
          // view from its compiled definition (reference views @84061 are
          // persistent objects, not session state)
          warehouse.saveViewDef(relationFor(m.name), compiled)
          // stale if formerly a table: external readers and get_catalog
          // must not see BOTH a parquet table and a view for one name
          // (reference handle_existing_table @50828 drops the old relation
          // on a materialization switch)
          warehouse.drop(relationFor(m.name))
        case "incremental" =>
          mat.incremental(df, relationFor(m.name), cfg, fullRefresh)
          warehouse.dropView(relationFor(m.name)) // stale if formerly a view
        case "materialized_view" =>
          // Reference behavior: BigQuery materialized views — a declared
          // aggregate over ONE base table that the warehouse refreshes
          // incrementally and serves transparently to matching queries.
          // Here: extract the (keys, aggs) spec back out of the model's
          // analyzed plan, fold deltas via maintainAggView (self-healing
          // on non-append sources), and register the serving rewrite.
          if (fullRefresh) warehouse.drop(relationFor(m.name))
          val (refs, _) = Compiler.dependencies(m.rawSql)
          // the source must be WAREHOUSE-TABLE-backed: maintenance reads
          // manifest seqs of the ref'd relation, and over a view-backed
          // model it would silently no-op (no manifest → latest seq 0) and
          // only fail later as a missing relation downstream
          val srcMat = project.models.find(_.name == refs.headOption.orNull)
            .map(sm => effectiveConfig(sm).materialized)
          require(refs.size == 1 &&
              (srcMat.contains("table") || srcMat.contains("incremental")),
            s"${m.name}: materialized_view must aggregate exactly one " +
              s"ref()'d table/incremental model, got refs=$refs " +
              s"(materialized=${srcMat.getOrElse("<none>")})")
          val srcRel = relationFor(refs.head)
          val (keys, aggSpec, _) = graft.plans.AggViewRewrite.extractSpec(df)
            .getOrElse(throw new IllegalArgumentException(
              s"${m.name}: materialized_view must be a GROUP BY over plain " +
                "columns with count/sum/min/max/avg measures and no WHERE — " +
                "declare anything else as a plain table/incremental model"))
          warehouse.maintainAggView(srcRel, relationFor(m.name),
            s"mv_${m.name}", keys, aggSpec, cfg.partitionBy)
          graft.plans.AggViewRewrite.install(spark)
          graft.plans.AggViewRewrite.register(graft.plans.AggViewRewrite.ViewSpec(
            warehouse, srcRel, relationFor(m.name), s"mv_${m.name}",
            keys, aggSpec))
          warehouse.dropView(relationFor(m.name)) // stale if formerly a view
        case "ephemeral" => () // inlined by ref() of downstream models
        case "table" =>
          mat.table(df, relationFor(m.name), cfg)
          warehouse.dropView(relationFor(m.name)) // stale if formerly a view
        // a model whose materialized: names a user {% materialization %}
        // block dispatches to the custom protocol (dbt's extension
        // surface — the reference manifest carries 7 materialization
        // macros as data, e.g. @125935); an unknown name with NO block
        // still refuses loudly instead of silently building a table
        case other if project.materializations.contains(other) =>
          runCustomMaterialization(m, other, compiled, cfg,
            selected, deferRoot, fullRefresh)
          warehouse.dropView(relationFor(m.name)) // stale if formerly a view
        case other => throw new IllegalArgumentException(
          s"model '${m.name}': unknown materialization '$other' — " +
            "supported: table, view, incremental, materialized_view, " +
            s"ephemeral, or a {% materialization $other, default %} " +
            "block in the project's macro dirs (none is defined)")
      }
      }
      } // withSqlHeader
      runHooks(cfg.postHooks, m.name)
    }
    project.snapshots.find(_.name == name).foreach { sn =>
      val df = spark.sql(warehouse.resolveSql(compileSql(
        ModelDef(sn.name, sn.rawSql), selected, deferRoot, fullRefresh)))
      if (!fullRefresh)
        graft.plans.PartitionFilterGuard.assertPruned(
          df, partitionGuards(excluding = sn.name))
      snap.snapshot(df, relationFor(sn.name), sn.keys, sn.strategy,
        invalidateHardDeletes = sn.invalidateHardDeletes,
        hardDeletes = sn.hardDeletes,
        validToCurrent = sn.validToCurrent,
        metaNames = sn.metaColumnNames)
    }
  }

  /** Execute a custom `{% materialization %}` block (dbt's extension
    * protocol; reference manifest materialization macros @125935 ff.).
    * The body renders through the SAME pipeline as model SQL — comments/
    * raw protection, static-if + incremental decisions, run_query /
    * statement(fetch_result=true) probes, control-flow expansion,
    * ref/source/this/config resolution — with `{{ sql }}` bound to the
    * model's compiled SELECT and config.get/require resolved against the
    * model's raw config kvs. Fetchless `{% call statement %}` blocks are
    * NOT probes: they survive rendering (duplicated per loop iteration
    * by control-flow expansion — the insert_by_period shape) and execute
    * here in document order through the warehouse's atomic machinery.
    * Hooks and the return value are served natively by runNode, so
    * run_hooks()/return() sites strip during preparation. is_incremental()
    * is FALSE inside custom materializations (dbt checks
    * materialized == 'incremental'); bodies use load_relation(this)
    * existence guards instead, which resolve through the normal
    * introspection path.
    */
  private def runCustomMaterialization(m: ModelDef, matName: String,
      compiledSelect: String, cfg: ModelConfig, selected: Set[String],
      deferRoot: Option[String], fullRefresh: Boolean): Unit = {
    val body = project.materializations(matName)
    val kvs = Compiler.inlineConfigKvs(m.rawSql)
    val prepped0 = Compiler.prepareMaterializationBody(
      body, compiledSelect, kvs, fullRefresh)
    // {{ make_temp_relation(this) }} (reference @194314): a
    // __graft_tmp-suffixed sibling relation — the build-into-temp-then-
    // rename idiom; resolves HERE because only the engine knows the
    // path. The suffix is deliberately DISJOINT from writeAtomic's
    // internal __dbt_tmp/__dbt_backup scratch names: a create-as-select
    // whose SOURCE is the user temp must not have its input deleted by
    // the writer's own scratch cleanup.
    val prepped = """\{\{\s*make_temp_relation\(\s*this\s*\)\s*\}\}""".r
      .replaceAllIn(prepped0, scala.util.matching.Regex.quoteReplacement(
        Compiler.pathRelation(relationFor(m.name).suffixed("__graft_tmp")
          .pathUnder(target.warehouseRoot))))
    val rendered = compileSql(ModelDef(m.name, prepped), selected,
      deferRoot, fullRefresh, deferFetchless = true)
    val (stmts, leftover) = Compiler.extractStatementBlocks(rendered)
    val residue = leftover.replace(";", " ").trim
    require(residue.isEmpty,
      s"materialization '$matName' (model '${m.name}') rendered text " +
        "outside {% call statement %} blocks — unsupported protocol " +
        s"surface: ${residue.linesIterator.map(_.trim)
          .filter(_.nonEmpty).take(3).mkString(" | ")}")
    require(stmts.nonEmpty,
      s"materialization '$matName' (model '${m.name}') rendered zero " +
        "statements — nothing would be built")
    stmts.foreach { case (stmtName, sql) =>
      execMaterializationStatement(m.name, cfg, matName, stmtName, sql)
    }
    require(warehouse.exists(relationFor(m.name)),
      s"materialization '$matName' (model '${m.name}') completed without " +
        s"creating ${relationFor(m.name).fqName} — a materialization " +
        "must build its own relation")
  }

  // `parquet.`<root>/db/schema/identifier`` — a compiled relation site
  // pointing INSIDE this engine's warehouse, recoverable as a Relation
  // so statement DDL routes through the warehouse's atomic machinery
  private lazy val warehouseRelRe =
    ("""^parquet\.`""" + java.util.regex.Pattern.quote(target.warehouseRoot) +
      """/([^`/]+)/([^`/]+)/([^`/]+)`$""").r

  private def relFromSqlText(text: String): Option[Relation] =
    text.trim match {
      case warehouseRelRe(d, s, i) => Some(Relation(d, s, i))
      case _ => None
    }

  private val matCreateRe =
    ("""(?is)^create\s+(or\s+replace\s+)?table\s+(if\s+not\s+exists\s+)?""" +
      """(parquet\.`[^`]+`)\s+as\s+(.*)$""").r
  private val matInsertRe =
    """(?is)^insert\s+(into|overwrite)\s+(?:table\s+)?(parquet\.`[^`]+`)\s+((?:select|with)\b.*)$""".r
  private val matDeleteRe =
    """(?is)^delete\s+from\s+(parquet\.`[^`]+`)\s+where\s+(.*)$""".r
  private val matDropRe =
    """(?is)^drop\s+table\s+(if\s+exists\s+)?(parquet\.`[^`]+`)$""".r
  private val matTruncateRe =
    """(?is)^truncate\s+table\s+(parquet\.`[^`]+`)$""".r
  private val matRenameRe =
    """(?is)^alter\s+table\s+(parquet\.`[^`]+`)\s+rename\s+to\s+(parquet\.`[^`]+`)$""".r

  /** One materialization statement. DDL/DML shapes over warehouse
    * relations route through the Warehouse API — create-as-select is the
    * same atomic swap as the native table materialization (layout opts
    * from the model config), insert-into is a manifest append, delete is
    * an exact anti-filter rewrite (SQL semantics: NULL predicate keeps
    * the row), drop/truncate are metadata ops. Anything else executes
    * verbatim via spark.sql — SELECT-shaped side-effect-free statements
    * are legal no-ops, unknown DDL fails with Spark's own error plus
    * this context.
    */
  private def execMaterializationStatement(modelName: String,
      cfg: ModelConfig, matName: String, stmtName: String,
      sql0: String): Unit = {
    val sql = sql0.trim.stripSuffix(";").trim
    def relOf(text: String): Relation = relFromSqlText(text).getOrElse(
      throw new IllegalArgumentException(
        s"materialization '$matName' statement('$stmtName'): target " +
          s"$text is not a relation of this warehouse — statements may " +
          "only write {{ this }} or warehouse relations"))
    def frame(select: String): DataFrame =
      spark.sql(warehouse.resolveSql(select))
    sql match {
      case matCreateRe(orReplace, ifNotExists, relText, select) =>
        val rel = relOf(relText)
        val exists = warehouse.exists(rel)
        if (exists && ifNotExists != null && orReplace == null) ()
        else {
          require(!exists || orReplace != null,
            s"materialization '$matName' statement('$stmtName'): " +
              s"${rel.fqName} already exists (use CREATE OR REPLACE " +
              "or IF NOT EXISTS)")
          warehouse.writeAtomic(frame(select), rel,
            partitionCols = cfg.partitionBy, clusterCols = cfg.clusterBy,
            zorderCols = cfg.zorderBy)
        }
      case matInsertRe(mode, relText, select) =>
        if (mode.equalsIgnoreCase("overwrite"))
          warehouse.writeAtomic(frame(select), relOf(relText),
            partitionCols = cfg.partitionBy, clusterCols = cfg.clusterBy,
            zorderCols = cfg.zorderBy)
        else warehouse.append(frame(select), relOf(relText),
          partitionCols = cfg.partitionBy)
      case matDeleteRe(relText, pred) =>
        val rel = relOf(relText)
        val keep = org.apache.spark.sql.functions.not(
          org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.expr(pred),
            org.apache.spark.sql.functions.lit(false)))
        warehouse.writeAtomic(warehouse.read(rel).filter(keep), rel,
          partitionCols = cfg.partitionBy, clusterCols = cfg.clusterBy,
          zorderCols = cfg.zorderBy)
      case matDropRe(ifExists, relText) =>
        val rel = relOf(relText)
        require(ifExists != null || warehouse.exists(rel),
          s"materialization '$matName' statement('$stmtName'): " +
            s"DROP TABLE ${rel.fqName}: relation does not exist")
        warehouse.drop(rel)
      case matTruncateRe(relText) =>
        warehouse.truncate(relOf(relText))
      case matRenameRe(fromText, toText) =>
        // the build-into-temp-then-rename idiom of real custom
        // materializations. A rename ONTO an existing relation must
        // replace it (fs.rename would instead move the source INSIDE
        // the live directory and silently corrupt it) — do the same
        // backup dance as the native table swap.
        val (from, to) = (relOf(fromText), relOf(toText))
        val backup = to.suffixed("__graft_mat_backup")
        // crash recovery FIRST: an attempt that died between the two
        // renames left the ONLY copy parked at backup — restore it;
        // blindly dropping backup here would destroy that sole copy
        if (warehouse.exists(backup) && !warehouse.exists(to))
          warehouse.rename(backup, to)
        if (warehouse.exists(backup)) warehouse.drop(backup)
        if (warehouse.exists(to)) warehouse.rename(to, backup)
        try warehouse.rename(from, to)
        catch {
          case e: Exception =>
            // the live table is parked at backup — put it back before
            // surfacing the failure, or the relation vanishes
            if (!warehouse.exists(to) && warehouse.exists(backup))
              warehouse.rename(backup, to)
            throw e
        }
        if (warehouse.exists(backup)) warehouse.drop(backup)
      case other =>
        // a WRITE shape the router did not recognize must never execute
        // verbatim: Spark would write directly into the live relation
        // directory, bypassing the warehouse's atomic machinery (or fail
        // cryptically against a read-only view) —
        // refuse loudly naming the supported shapes. Session-scoped
        // metadata DDL writes NO storage and stays legal: temp views
        // (the standard dbt-spark materialization idiom) and their drops.
        val isSessionDdl = other.matches(
          """(?is)^create\s+(or\s+replace\s+)?temp(orary)?\s+view\b.*""") ||
          other.matches("""(?is)^drop\s+view\b.*""")
        require(isSessionDdl || !other.matches(
          """(?is)^\s*(insert|update|delete|create|drop|truncate|alter|merge)\b.*"""),
          s"materialization '$matName' statement('$stmtName') " +
            s"(model '$modelName'): unsupported write statement shape — " +
            "supported: CREATE [OR REPLACE] TABLE <rel> AS <select>, " +
            "INSERT INTO|OVERWRITE <rel> <select>, DELETE FROM <rel> " +
            "WHERE <pred>, DROP/TRUNCATE TABLE <rel>. Statement was: " +
            other.linesIterator.take(2).mkString(" ").take(160))
        // side-effect-free statements (SELECT probes etc.): take(1),
        // never collect — the result is discarded
        try { spark.sql(warehouse.resolveSql(other)).take(1); () }
        catch { case e: Exception => throw new IllegalArgumentException(
          s"materialization '$matName' statement('$stmtName') failed " +
            s"(model '$modelName'): ${e.getMessage}", e)
        }
    }
  }

  final case class TestResult(name: String, model: String, failures: Long,
                              status: String) // pass | warn | error

  def runTest(t: TestDef): TestResult = {
    // dbt SINGULAR test: the compiled SQL's result set IS the failure set
    t.sql.foreach { q =>
      val df0 = renderInline(q)
      val df = t.where.fold(df0)(w => df0.filter(w))
      return finishTest(t, df)
    }
    // dbt tests bind to models OR declared sources (schema.yml tests
    // under a source table): `source:<src>.<table>` reads the raw source
    val base =
      if (t.modelName.startsWith("source:")) {
        val Array(sn, tn) = t.modelName.stripPrefix("source:").split("\\.", 2)
        readSource(sourceDef(sn, tn))
      } else readModel(t.modelName)
    val filtered = t.where.fold(base)(w => base.filter(w))
    val applied = t.relationship match {
      case Some(r) =>
        // parent may be a model/seed name or a declared source
        // (`source:<src>.<table>` — reference `to: source(...)`)
        val parent =
          if (r.parentModel.startsWith("source:")) {
            val Array(sn, tn) =
              r.parentModel.stripPrefix("source:").split("\\.", 2)
            readSource(sourceDef(sn, tn))
          } else readModel(r.parentModel)
        SchemaTests.relationships(filtered, r.fk, parent, r.pk)
      case None => t.test(filtered)
    }
    finishTest(t, applied)
  }

  /** Shared tail of test evaluation: limit, store_failures, and dbt's
    * get_test_sql severity/threshold semantics (severity=warn never
    * errors; error_if judged first, then warn_if; both default "!=0").
    */
  private def finishTest(t: TestDef,
                         applied: DataFrame): TestResult = {
    val failing = t.limit.fold(applied)(l => applied.limit(l))
    val n = failing.count()
    val failRel = relationFor(s"${t.name}__failures")
    // store_failures_as (dbt 1.6) refines store_failures: 'table' is the
    // classic rows snapshot; 'view' saves a durable RE-EVALUATING view
    // of the test's compiled SQL (so the audit relation tracks the live
    // data — only meaningful for SQL-defined tests: singular / generic
    // {% test %} blocks); 'ephemeral' explicitly stores nothing even
    // when store_failures is on
    t.storeFailuresAs.getOrElse(
        if (t.storeFailures) "table" else "") match {
      case "" | "ephemeral" => ()
      case "table" =>
        if (n > 0) // reference should_store_failures @67089
          warehouse.writeAtomic(failing, failRel)
      case "view" =>
        val q = t.sql.getOrElse(throw new IllegalArgumentException(
          s"test '${t.name}': store_failures_as='view' needs a " +
            "SQL-defined test (singular or generic {% test %} block) — " +
            "builtin column tests have no SQL text; use 'table'"))
        val body = compileInline(q)
        warehouse.saveViewDef(failRel,
          t.where.fold(body)(w => s"SELECT * FROM ($body) WHERE $w"))
      case other => throw new IllegalArgumentException(
        s"test '${t.name}': store_failures_as must be " +
          s"table|view|ephemeral, got '$other'")
    }
    val warnHit = TestDef.threshold(t.warnIf.getOrElse("!=0"))(n)
    val errorHit = TestDef.threshold(t.errorIf.getOrElse("!=0"))(n)
    val status =
      if (t.severity == "warn") { if (warnHit) "warn" else "pass" }
      else if (errorHit) "error"
      else if (warnHit) "warn"
      else "pass"
    TestResult(t.name, t.modelName, n, status)
  }

  // ------------------------------------------------------ node selection

  /** dbt-style graph selectors (the everyday `--select` surface the
    * reference CI composes around `state:modified` —
    * `ci_incr_test_w_container.yml:34`):
    *
    *  - `name` — exact node; `stg_*` — name glob
    *  - `tag:x` — models tagged `x` (`config(tags='a|b')`)
    *  - `path:models/staging` — models by project-relative source path
    *    prefix (dbt-native projects; a trailing slash-star is tolerated)
    *  - `config.materialized:v` — models materialized as `v`
    *  - `resource_type:model|seed|snapshot` — nodes by kind
    *  - `exposure:name` — the exposure's declared parents (compose
    *    `+exposure:name` for the dashboard's full upstream)
    *  - `source:src` / `source:src.table` — models reading the source
    *  - `+name` / `name+` / `+name+` — ancestors / descendants / both;
    *    `2+name`, `name+1` bound the traversal depth (dbt's `n+` form)
    *  - `@name` — the node, its descendants, and the ancestors of all of
    *    those (dbt's at-operator)
    *  - space-separated terms UNION; `,`-joined atoms inside one term
    *    INTERSECT (dbt semantics)
    *
    * Returns node names resolvable by [[build]]'s `select`. Selecting a
    * node does NOT auto-include its ancestors (same as dbt: use `+name`
    * when upstream state is not already built).
    */
  /** Resolve a project-level named selector (`--selector` / dbt
    * selectors.yml) through the same grammar as [[selectNodes]]; the
    * exclude half subtracts after include resolves.
    */
  def selectByName(name: String): Set[String] = {
    val sel = project.selectors.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"no selector named '$name' (have: " +
          s"${project.selectors.map(_.name).mkString(", ")})"))
    val inc = selectNodes(sel.include)
    if (sel.exclude.trim.isEmpty) inc else inc -- selectNodes(sel.exclude)
  }

  def selectNodes(selector: String): Set[String] = {
    val nodes = allNodes
    val parents = parentsOf
    val children = nodes.map(n => n -> parents.collect {
      case (c, ps) if ps.contains(n) => c
    }.toSeq).toMap
    def closure(seed: Set[String], edges: Map[String, Seq[String]],
                depth: Int): Set[String] = {
      var acc = Set.empty[String]
      var frontier = seed
      var d = 0
      while (frontier.nonEmpty && d < depth) {
        frontier = frontier.flatMap(n => edges.getOrElse(n, Nil)) -- acc -- seed
        acc ++= frontier
        d += 1
      }
      acc
    }
    def base(b: String): Set[String] =
      if (b.startsWith("tag:")) {
        val t = b.stripPrefix("tag:")
        project.models.filter(m => effectiveConfig(m).tags.contains(t))
          .map(_.name).toSet
      } else if (b.startsWith("path:")) {
        // dbt's path method: project-relative source-path PREFIX (a
        // trailing glob is tolerated — `path:models/staging/*` ≡ the
        // directory prefix). Embedded projects carry no paths → empty.
        val p = b.stripPrefix("path:").stripSuffix("*").stripSuffix("/")
        project.modelPaths.collect {
          case (n, mp) if mp == p || mp.startsWith(p + "/") => n
        }.toSet
      } else if (b.startsWith("config.materialized:")) {
        // dbt's config-value method (everyday form:
        // `--select config.materialized:incremental`)
        val v = b.stripPrefix("config.materialized:")
        project.models.filter(m => effectiveConfig(m).materialized == v)
          .map(_.name).toSet
      } else if (b.startsWith("exposure:")) {
        // an exposure is a sink, never built: its selection resolves to
        // the declared parents, so `+exposure:dash` = everything the
        // dashboard needs
        val n = b.stripPrefix("exposure:")
        project.exposures.find(_.name == n)
          .map(_.dependsOn.filter(allNodes.toSet).toSet)
          .getOrElse(throw new IllegalArgumentException(
            s"unknown exposure '$n'"))
      } else if (b.startsWith("resource_type:")) {
        b.stripPrefix("resource_type:") match {
          case "model" => project.models.map(_.name).toSet
          case "seed" => project.seeds.map(_.name).toSet
          case "snapshot" => project.snapshots.map(_.name).toSet
          case other => throw new IllegalArgumentException(
            s"resource_type selector: unknown type '$other'")
        }
      } else if (b.startsWith("source:")) {
        // models reading the named source directly (dbt `source:src` /
        // `source:src.table` selects via the source's children; the
        // caller composes `+` for deeper descendants)
        val spec = b.stripPrefix("source:")
        // snapshots read sources too — their rawSql carries the same
        // source() calls the dependency extractor understands
        (project.models.map(m => m.name -> m.rawSql) ++
          project.snapshots.map(sn => sn.name -> sn.rawSql))
          .filter { case (_, sql) =>
            val (_, srcs) = Compiler.dependencies(sql)
            srcs.exists { case (sn, tn) => spec == sn || spec == s"$sn.$tn" }
          }.map(_._1).toSet
      } else {
        val re = ("^" + java.util.regex.Pattern.quote(b)
          .replace("*", "\\E.*\\Q") + "$").r
        nodes.filter(n => re.findFirstIn(n).isDefined).toSet
      }
    val atomRe = """^(?:(\d*)\+)?(.+?)(?:\+(\d*))?$""".r
    def depthOf(s: String): Int =
      if (s == null) 0 else if (s.isEmpty) Int.MaxValue else s.toInt
    def atom(a: String): Set[String] =
      if (a.startsWith("@")) {
        // dbt's at-operator: the node, its descendants, AND the ancestors
        // of all of those — "everything needed to build this node's
        // downstream from scratch" (the CI shape for a changed shared
        // model whose consumers join other upstreams)
        val seed = base(a.stripPrefix("@"))
        val down = seed ++ closure(seed, children, Int.MaxValue)
        down ++ closure(down, parents, Int.MaxValue)
      } else a match {
        case atomRe(anc, b, desc) =>
          val seed = base(b)
          seed ++
            (if (anc != null) closure(seed, parents, depthOf(anc)) else Set.empty) ++
            (if (desc != null) closure(seed, children, depthOf(desc)) else Set.empty)
        case _ => base(a)
      }
    selector.trim.split("\\s+").filter(_.nonEmpty).map { term =>
      term.split(",").filter(_.nonEmpty).map(atom)
        .reduceOption(_ intersect _).getOrElse(Set.empty)
    }.foldLeft(Set.empty[String])(_ union _)
  }

  /** [[build]] over a selector string — `dbt build --select <selector>
    * [--exclude <selector>]`. Exclusion uses the same selector grammar
    * and subtracts from the selected set (dbt semantics: exclude wins).
    */
  def buildSelected(selector: String,
                    deferRoot: Option[String] = None,
                    fullRefresh: Boolean = false,
                    exclude: Option[String] = None)
      : (Seq[Dag.NodeResult], Seq[TestResult]) =
    build(Some(selectNodes(selector) --
      exclude.map(selectNodes).getOrElse(Set.empty)), deferRoot, fullRefresh)

  /** dbt 1.6 `dbt clone --state <fromRoot>`: materialize the selected
    * nodes into THIS target as clones of their relations under
    * `fromRoot` (the prod/state warehouse root). Table-backed nodes
    * zero-copy via [[Warehouse.cloneFrom]] (one manifest write pointing
    * at prod's version dirs — the CI shape: clone prod into a PR schema,
    * then build only modified models on top with --defer); view models
    * re-create from their durable compiled definition, dbt's "views
    * clone as views". Returns (node, outcome) per selected node:
    * `cloned`, `cloned_view`, or `missing` (no prod relation — dbt
    * skips those too).
    */
  def cloneFromState(selector: String, fromRoot: String): Seq[(String, String)] = {
    val srcWh = warehouse.at(fromRoot)
    val buildable = (project.models.map(_.name) ++ project.seeds.map(_.name) ++
      project.snapshots.map(_.name)).toSet
    selectNodes(selector).intersect(buildable).toSeq.sorted.map { n =>
      val rel = relationFor(n)
      srcWh.readViewDef(rel) match {
        case Some(defSql) =>
          warehouse.saveViewDef(rel, defSql)
          warehouse.drop(rel) // a stale table must not shadow the view
          (n, "cloned_view")
        case None if srcWh.exists(rel) =>
          warehouse.cloneFrom(srcWh, rel, rel)
          warehouse.dropView(rel) // a stale view must not shadow the table
          (n, "cloned")
        case None => (n, "missing")
      }
    }
  }

  /** Query a declared metric (the dbt semantic-layer ask: "revenue by
    * month by status" without hand-writing the aggregate). Validates the
    * request against the metric's declaration — an undeclared dimension
    * or grain fails loudly, which is the governance point — then emits
    * one grouped aggregate over the model:
    * `date_trunc(grain, timeDim) AS metric_time, dims…, CALC(expr) AS
    * <name>`. Time bounds land as pushed-down filters. Works over any
    * materialization (views compile on the fly via [[readModel]]).
    */
  def queryMetric(name: String, grain: String = "month",
                  dims: Seq[String] = Nil,
                  start: Option[String] = None,
                  end: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val m = project.metrics.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown metric '$name' " +
        s"(declared: ${project.metrics.map(_.name).mkString(", ")})"))
    require(Set("day", "week", "month", "quarter", "year").contains(grain),
      s"metric grain must be day|week|month|quarter|year, got '$grain'")
    val undeclared = dims.filterNot(m.dims.contains)
    require(undeclared.isEmpty,
      s"metric '$name' does not declare dimension(s) " +
        s"${undeclared.mkString(", ")} (declared: ${m.dims.mkString(", ")})")
    val base0 = readModel(m.model)
    val base1 = m.filter.fold(base0)(f => base0.filter(expr(f)))
    val t = col(m.timeDim).cast("timestamp")
    val base2 = start.fold(base1)(v =>
      base1.filter(t >= lit(v).cast("timestamp")))
    val base = end.fold(base2)(v => base2.filter(t < lit(v).cast("timestamp")))
    val calcCol = m.calculation match {
      case "count" => count(expr(m.expression))
      case "count_distinct" => countDistinct(expr(m.expression))
      case "sum" => sum(expr(m.expression))
      case "average" => avg(expr(m.expression))
      case "min" => min(expr(m.expression))
      case "max" => max(expr(m.expression))
      case other => throw new IllegalArgumentException(
        s"metric '$name': unsupported calculation '$other'")
    }
    base.groupBy(date_trunc(grain, t).as("metric_time") +: dims.map(col): _*)
      .agg(calcCol.as(m.name))
  }

  /** `dbt show --inline`: run an ad-hoc templated query against the built
    * warehouse — full macro/ref/source/var resolution, no node scope
    * (`{{ this }}` REJECTED loudly, is_incremental() false). View and
    * ephemeral refs inline as parenthesized subqueries of their compiled
    * definitions — they have no data path to point at. The REPL surface
    * for a project: preview a model (`SELECT * FROM {{ ref('m') }}`),
    * poke a source, exercise a macro.
    */
  /** Compiled text of a node-less SQL template (inline queries, analysis
    * files): macros expanded, refs/sources/env/vars resolved — dbt's
    * `target/compiled` artifact shape; nothing executes.
    */
  def compileInline(sqlTemplate: String): String = {
    require(!sqlTemplate.contains("{{ this }}") &&
      !"""\{\{\s*this\s*\}\}""".r.findFirstIn(sqlTemplate).isDefined,
      "inline queries have no node scope: {{ this }} is unavailable")
    val expanded = Compiler.expandMacros(sqlTemplate, project.macros)
    Compiler.compile(expanded,
      Compiler.ResolveCtx(
        refTarget = r =>
          if (isInlined(r)) {
            val m = project.models.find(_.name == r).getOrElse(
              throw new IllegalArgumentException(s"unknown model '$r'"))
            "(" + compileSql(m, Set.empty, None, fullRefresh = false) + ")"
          } else Compiler.pathRelation(
            relationFor(r).pathUnder(target.warehouseRoot)),
        sourceTarget = (s, t) => sourceText(s, t),
        crossRefTarget = crossRefText,
        thisTarget = "", env = target.env, isIncremental = false,
        vars = mergedVars,
        invocationId = Some(invocationId),
        runStartedAt = Some(runStartedAt)))
  }

  def renderInline(sqlTemplate: String): DataFrame =
    spark.sql(warehouse.resolveSql(compileInline(sqlTemplate)))

  /** dbt `analysis` nodes (the reference reserves the dir —
    * `analysis/.gitkeep`, `analysis-paths` in dbt_project.yml:15-20):
    * project-compiled SQL that never materializes; the compiled text IS
    * the artifact (`dbt compile` emits it). */
  def compiledAnalyses: Map[String, String] =
    project.analyses.map(a => a.name -> compileInline(a.rawSql)).toMap

  /** `dbt compile`'s target/compiled model artifacts, rendered in dbt's
    * PARSE phase (`execute = false`): `{% if execute %}` guards close,
    * `run_query` probes return the none-analogue without touching the
    * warehouse, dbt-utils `star` renders `*` and `get_column_values`
    * its empty default — so a probe-bearing model compiles against a
    * not-yet-built warehouse instead of hard-failing (reference
    * `statement` @21499 no-ops when execute is falsy; `dbt compile` is
    * what slim CI runs against a fresh master checkout BEFORE anything
    * is built — `ci_incr_test_checkout_master_no_container.yml:40`).
    */
  def compiledModels: Map[String, String] =
    project.models.map(m =>
      m.name -> compileSql(m, selected = project.models.map(_.name).toSet,
        deferRoot = None, fullRefresh = false, executeMode = false)).toMap

  /** `dbt build`: seeds+models+snapshots in DAG order, each model's tests
    * immediately after it (SURVEY §3.1 step 6).
    */
  /** dbt 1.6 model governance: a `private` model may only be ref()'d
    * from its own group — validated UP FRONT like dbt's parse phase, so
    * a boundary violation fails before any node runs.
    */
  private def validateAccess(): Unit = {
    val cfgOf = project.models.map(m => m.name -> effectiveConfig(m)).toMap
    project.models.foreach { m =>
      val (refs, _) = Compiler.dependencies(m.rawSql)
      refs.foreach(r => cfgOf.get(r).foreach { rc =>
        if (rc.access == "private" && rc.group != cfgOf(m.name).group)
          throw new IllegalArgumentException(
            s"model '${m.name}' (group '${cfgOf(m.name).group}') cannot " +
              s"ref private model '$r' (group '${rc.group}')")
      })
    }
  }

  def build(select: Option[Set[String]] = None,
            deferRoot: Option[String] = None,
            fullRefresh: Boolean = false,
            failFast: Boolean = false)
      : (Seq[Dag.NodeResult], Seq[TestResult]) = {
    validateAccess()
    runProjectHooks(project.onRunStart)
    val nodes0 = allNodes
    // a relationships test makes its child node depend on the parent model
    // (dbt attaches the test to BOTH models for exactly this ordering)
    val known = nodes0.toSet
    val testEdges = project.tests.flatMap(t =>
      t.relationship.collect {
        case r if known.contains(r.parentModel) => t.modelName -> r.parentModel
      }).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val parents = parentsOf.map { case (n, ps) =>
      n -> (ps ++ testEdges.getOrElse(n, Nil)).distinct
    }
    val nodes = select match {
      case None => nodes0
      case Some(sel) => nodes0.filter(sel.contains)
    }
    val selected = nodes.toSet
    val testResults = new java.util.concurrent.ConcurrentLinkedQueue[TestResult]()
    // Source tests run FIRST — sources precede every node in dbt's DAG.
    // A failing error-severity source test does NOT abort the run: it
    // records like any test failure and SKIPS the broken source's
    // downstream cone within the selection, so unrelated branches still
    // build, on-run-end hooks still fire, and run-results (which retry
    // needs) still get written — dbt's failure semantics, not a crash.
    // dbt's selected-tests semantics: under an explicit selection, only
    // source tests whose source feeds the selected subtree run — a build
    // of an unrelated branch must not scan (or record results for) every
    // declared source. A full build (select = None) still runs them all.
    val brokenSources = project.tests
      .filter(_.modelName.startsWith("source:"))
      .filter(t => select.isEmpty ||
        selectNodes(t.modelName + "+").exists(selected.contains))
      .flatMap { t =>
        // a THROWING source test (missing source file, bad where clause)
        // is contained exactly like a failing one — the documented
        // contract is that source failures skip their cone, never abort
        // the run (on-run-end + run_results must still happen)
        val r = try runTest(t) catch {
          case e: Exception =>
            System.err.println(
              s"[graft:test] ${t.name} ERRORED — ${e.getMessage}")
            TestResult(t.name, t.modelName, 0L, "error")
        }
        testResults.add(r)
        if (r.status == "error") {
          val Array(sn, tn) = t.modelName.stripPrefix("source:").split("\\.", 2)
          Some((sn, tn))
        } else None
      }.toSet
    // the skip cone is exactly the `source:x.y+` selector: direct
    // readers (models AND snapshots) plus their descendant closure —
    // one graph machinery, not a second hand-rolled copy
    val skippedBySource: Set[String] =
      brokenSources.flatMap { case (sn, tn) =>
        selectNodes(s"source:$sn.$tn+")
      }.intersect(selected)
    // dbt 1.8 unit tests run BEFORE anything builds (they read only
    // mocked inputs); a failing one skips its model's descendant cone —
    // the same semantics as a failing source test, because a model whose
    // LOGIC is proven wrong must not materialize, nor anything fed by it
    val brokenUnits: Set[String] = project.unitTests
      .filter(ut => selected.contains(ut.model))
      .flatMap { ut =>
        // a MALFORMED unit test (bad mock column -> AnalysisException,
        // unknown model, empty given) is contained exactly like a
        // failing one: record the error, skip only this model's cone —
        // never abort the whole run (every other failure class is
        // per-node)
        val r = try runUnitTest(ut) catch {
          case e: Exception =>
            System.err.println(
              s"[graft:unit] ${ut.name} ERRORED — ${e.getMessage}")
            TestResult(ut.name, ut.model, 0L, "error")
        }
        testResults.add(r)
        if (r.status == "error") Some(ut.model) else None
      }.toSet
    val skippedByUnit: Set[String] =
      brokenUnits.flatMap(mn => selectNodes(mn + "+")).intersect(selected)
    val skipped = skippedBySource ++ skippedByUnit
    val runnable = nodes.filterNot(skipped.contains)
    val nodeResults = Dag.run(runnable,
      parents.view.mapValues(_.filter(n =>
        selected.contains(n) && !skipped.contains(n))).toMap,
      target.threads, failFast) { n =>
      runNode(n, selected -- skipped, deferRoot, fullRefresh)
      project.tests.filter(_.modelName == n).foreach { t =>
        val r = runTest(t)
        testResults.add(r)
        if (r.status == "error")
          throw new IllegalStateException(s"test ${t.name} failed: ${r.failures} rows")
      }
    } ++ skipped.toSeq.sorted.map(n =>
      Dag.NodeResult(n, "skipped", 0L,
        Some(if (skippedBySource.contains(n))
          "upstream source failed its test"
        else "a unit test failed on this model or an upstream")))
    // tests attached to skipped nodes record as skipped — dbt's
    // run_results semantics; a retry pass must see them as pending work,
    // not absent
    skipped.toSeq.sorted.foreach(n =>
      project.tests.filter(_.modelName == n).foreach(t =>
        testResults.add(TestResult(t.name, n, 0L, "skipped"))))
    runProjectHooks(project.onRunEnd)
    import scala.jdk.CollectionConverters._
    (nodeResults, testResults.asScala.toSeq)
  }

  def readModel(name: String): DataFrame =
    project.models.find(m => m.name == name && {
      val mt = effectiveConfig(m).materialized
      mt == "view" || mt == "ephemeral"
    }) match {
      case Some(m) =>
        // registered temp view if this session built it, else compile on
        // the fly (views/ephemerals are logical — always reconstructible)
        if (spark.catalog.tableExists(viewName(name))) spark.table(viewName(name))
        else spark.sql(warehouse.resolveSql(
          compileSql(m, Set.empty, None, fullRefresh = false)))
      case None =>
        val rel = relationFor(name)
        if (warehouse.exists(rel)) mvProjection(name) match {
          case Some(p) => spark.sql(warehouse.resolveSql(s"SELECT $p FROM " +
            Compiler.pathRelation(rel.pathUnder(target.warehouseRoot))))
          case None => warehouse.read(rel)
        }
        else warehouse.readView(rel).getOrElse(warehouse.read(rel))
    }

  /** Source freshness command (SURVEY §2 B36). */
  def checkFreshness(): Seq[(String, String)] =
    project.sources.filter(_.loadedAtField.isDefined).map { s =>
      // the declared filter scopes WHICH rows are judged (reference
      // @192559 `where {{ filter }}`) — e.g. only the live partition
      val df = s.filter.foldLeft(readSource(s))(_ filter _)
      val row = SchemaTests.freshness(df, s.loadedAtField.get,
          current_timestamp(), s.warnAfterH.getOrElse(Int.MaxValue),
          s.errorAfterH.getOrElse(Int.MaxValue))
        .select(col("max_loaded_at_ms"), col("status")).collect().head
      // an EMPTY source (or a filter matching nothing) has no loaded_at
      // to judge — the stalest possible state must not read as 'pass'
      // (writeDbtSources reports the same row as a runtime error)
      val status = if (row.isNullAt(0)) "runtime error" else row.getString(1)
      (s"${s.sourceName}.${s.tableName}", status)
    }

  final case class UnitTestResult(name: String, model: String,
                                  passed: Boolean,
                                  missing: Seq[String],
                                  unexpected: Seq[String])

  /** dbt 1.8 unit tests: run ONE model's SQL against MOCK inputs and
    * compare to expected rows — logic testing with zero warehouse
    * access, the modern dbt surface for testing a model's SQL before any
    * data exists. `given` maps each of the model's direct dependencies
    * (`"model_name"` for ref(), `"source:src.table"` for source()) to a
    * mock frame; every direct dependency must be mocked (an unmocked ref
    * fails loudly rather than silently reading production). Comparison
    * is order-insensitive multiset equality over the EXPECT frame's
    * columns (dbt semantics: expected rows pin only the columns they
    * declare); the result carries up to 5 missing/unexpected rows for
    * the failure message.
    */
  def runUnitTest(name: String, modelName: String,
                  given: Map[String, DataFrame],
                  expect: DataFrame,
                  vars: Map[String, String] = Map.empty,
                  env: Map[String, String] = Map.empty): UnitTestResult = {
    val m = project.models.find(_.name == modelName).getOrElse(
      throw new IllegalArgumentException(s"unit test '$name': unknown model '$modelName'"))
    val out = runUnitTestFrame(name, m, given, vars, env)
    val cols = expect.columns.toIndexedSeq
    def canon(df: DataFrame): Seq[String] =
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("\u0001")).toSeq.sorted
    val got = canon(out)
    val want = canon(expect)
    UnitTestResult(name, modelName, got == want,
      missing = want.diff(got).take(5), unexpected = got.diff(want).take(5))
  }

  /** The shared unit-test compile+run: every ref/source resolves to its
    * mock temp view (unmocked inputs fail loudly — real data never leaks
    * into a unit test).
    */
  private def runUnitTestFrame(name: String, m: ModelDef,
      given: Map[String, DataFrame],
      extraVars: Map[String, String] = Map.empty,
      extraEnv: Map[String, String] = Map.empty): DataFrame = {
    val safe = s"${name}_${m.name}".replaceAll("[^A-Za-z0-9_]", "_")
    val views = given.zipWithIndex.map { case ((k, df), i) =>
      val vn = s"__graft_unit_${safe}_$i"
      df.createOrReplaceTempView(vn)
      k -> s"`$vn`"
    }.toMap
    val ctx = Compiler.ResolveCtx(
      refTarget = r => views.getOrElse(r, throw new IllegalArgumentException(
        s"unit test '$name': no mock for ref('$r')")),
      sourceTarget = (sn, tn) => views.getOrElse(s"source:$sn.$tn",
        throw new IllegalArgumentException(
          s"unit test '$name': no mock for source('$sn', '$tn')")),
      thisTarget = "", env = target.env ++ extraEnv, isIncremental = false,
      vars = mergedVars ++ extraVars,
      // a model selecting '{{ invocation_id }}' or {{ target.name }} is
      // still unit-testable — omitting these skipped its whole cone
      targetVals = Map("name" -> target.name,
          "database" -> target.database, "schema" -> target.resolvedSchema),
        invocationId = Some(invocationId),
        runStartedAt = Some(runStartedAt))
    // the header must be active for the body's whole LIFETIME here, not
    // just analysis: the caller collects/counts the returned frame after
    // this scope, and a header SET (e.g. a parser policy) changes
    // EXECUTION behavior — so with a header present the tiny mock frame
    // materializes eagerly (localCheckpoint) before cleanup restores the
    // session state
    val (header, bodySql) = Compiler.extractSqlHeader(m.rawSql)
    val hdr = effectiveConfig(m).sqlHeader.orElse(header)
    withSqlHeader(m.name, hdr) {
      val df = spark.sql(Compiler.compile(bodySql, ctx))
      if (hdr.isDefined) df.localCheckpoint(true) else df
    }
  }

  /** Build an inline mock frame from literal row maps (the `unit_tests:`
    * yml `rows:` shape). Columns = union of the rows' keys in first
    * appearance order; a key a row omits is NULL; values type by literal
    * shape (integers/decimals/booleans bare, everything else string).
    */
  private def mockFrame(what: String,
      rows: Seq[Map[String, String]]): DataFrame = {
    require(rows.nonEmpty,
      s"$what: empty mock rows — zero-row inputs need at least the " +
        "columns; give one row of NULLs and filter, or mock a real row")
    val cols = rows.flatMap(_.keys).distinct
    def lit(v: String): String =
      if (v == null || v == "null" || v == "NULL") "NULL"
      else if (v.matches("""-?\d+(\.\d+)?""") ||
        v == "true" || v == "false") v
      else "'" + v.replace("'", "''") + "'"
    val selects = rows.map(r => cols.map(c =>
      s"${lit(r.getOrElse(c, null))} AS `$c`").mkString("SELECT ", ", ", ""))
    spark.sql(selects.mkString("\nUNION ALL\n"))
  }

  /** The yml-ingestion bridge: literal given/expect rows to the
    * DataFrame runner, result folded into the TestResult shape so unit
    * tests ride the same run-results/retry artifacts as schema tests.
    */
  def runUnitTest(ut: UnitTestDef): TestResult = {
    // a mismatch under severity=warn REPORTS but never fails the build
    // (and build() only skips the model's cone on 'error')
    val failStatus = if (ut.severity == "warn") "warn" else "error"
    val given = ut.given.map { case (k, rows) =>
      k -> mockFrame(s"unit test '${ut.name}' given '$k'", rows)
    } ++ ut.givenSql.map { case (k, sql) =>
      // `format: sql` mock: the fixture IS a SELECT (runs against
      // nothing — literal rows via SELECT/UNION ALL/VALUES)
      k -> spark.sql(sql)
    }
    // `expect: rows: []` — the model must return ZERO rows over the mocks
    if (ut.expect.isEmpty && ut.expectSql.isEmpty) {
      val m = project.models.find(_.name == ut.model).getOrElse(
        throw new IllegalArgumentException(
          s"unit test '${ut.name}': unknown model '${ut.model}'"))
      val n = runUnitTestFrame(ut.name, m, given, ut.vars, ut.env).count()
      return TestResult(ut.name, ut.model, failures = n,
        status = if (n == 0) "pass" else failStatus)
    }
    val expectFrame = ut.expectSql match {
      case Some(sql) => spark.sql(sql)
      case None => mockFrame(s"unit test '${ut.name}' expect", ut.expect)
    }
    val r = runUnitTest(ut.name, ut.model, given, expectFrame,
      vars = ut.vars, env = ut.env)
    if (!r.passed)
      System.err.println(s"[graft:unit] ${ut.name} " +
        s"${if (ut.severity == "warn") "WARNED" else "FAILED"} — missing: " +
        s"${r.missing.mkString("; ")} unexpected: ${r.unexpected.mkString("; ")}")
    TestResult(ut.name, ut.model,
      failures = (r.missing.size + r.unexpected.size).toLong,
      status = if (r.passed) "pass" else failStatus)
  }

  /** `dbt run-operation <macro> --args {...}`: invoke a user macro
    * standalone — the admin-task surface (grants, maintenance SQL,
    * ad-hoc backfills) dbt projects drive through macros. The macro
    * expands with the given args (values splice verbatim — quote string
    * literals), resolves ref/source/env_var like a hook, executes, and
    * returns the result frame (run_query-style fetchable).
    */
  def runOperation(name: String, args: Map[String, String] = Map.empty): DataFrame = {
    require(project.macros.contains(name),
      s"run-operation: unknown macro '$name' " +
        s"(known: ${project.macros.keys.toSeq.sorted.mkString(", ")})")
    val call = s"{{ $name(${args.map { case (k, v) => s"$k=$v" }.mkString(", ")}) }}"
    val sql = Compiler.expandMacros(call, project.macros)
    spark.sql(warehouse.resolveSql(Compiler.compile(sql, Compiler.ResolveCtx(
      refTarget = r => Compiler.pathRelation(
        relationFor(r).pathUnder(target.warehouseRoot)),
      sourceTarget = (s, t) => sourceText(s, t),
      thisTarget = "", env = target.env, isIncremental = false,
      // '(resolves) like a hook' includes project vars and run context —
      // a grant macro using var('admin_group') must work here too
      vars = mergedVars,
      targetVals = Map("name" -> target.name,
          "database" -> target.database, "schema" -> target.resolvedSchema),
        invocationId = Some(invocationId),
        runStartedAt = Some(runStartedAt)))))
  }

  // --------------------------------------------------------- run artifacts
  /** `dbt retry` selection from a v6 `run_results.json`
    * ([[writeDbtRunResults]]): the nodes a recorded run errored on or
    * skipped (successes never re-run). Because [[Dag.run]] marks a
    * failed node's blocked children `skipped`, error+skipped IS the
    * failure's downstream cone; a test failure throws inside its model's
    * node, so the model re-runs — and its tests with it. Each
    * `unique_id` maps back to a node name through [[uniqueIdOf]]; ids of
    * tests, and of nodes this project no longer has, select nothing.
    */
  def retrySelection(path: String): Set[String] = {
    val byId = (project.seeds.map(_.name) ++ project.models.map(_.name) ++
      project.snapshots.map(_.name)).map(n => uniqueIdOf(n) -> n).toMap
    val results = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).path("results")
    import scala.jdk.CollectionConverters._
    results.elements().asScala
      .filter(r => Set("error", "skipped")(r.path("status").asText))
      .flatMap(r => byId.get(r.path("unique_id").asText)).toSet
  }

  /** [[build]] of a failed run's retry set. No-op (empty build) when the
    * recorded run fully succeeded.
    */
  def buildRetry(runResultsPath: String,
                 deferRoot: Option[String] = None,
                 fullRefresh: Boolean = false)
      : (Seq[Dag.NodeResult], Seq[TestResult]) =
    build(Some(retrySelection(runResultsPath)), deferRoot, fullRefresh)

  /** `graft vacuum`: enforce the declared bigquery_options TTLs
    * (reference @15210) against the warehouse's committed state.
    * `hours_to_expiration` drops the WHOLE relation once its newest
    * commit is older than the window (a rebuilt model resets the clock,
    * like BigQuery's expiration_timestamp moving on CREATE OR REPLACE);
    * `partition_expiration_days` retires partitions whose newest data
    * version aged out ([[graft.core.Warehouse.expirePartitions]] —
    * stream watermarks/checkpoint metadata survive the commit).
    * `asOfMs` is a parameter so retention tests pin time instead of
    * mocking the clock. Returns human-readable report lines.
    */
  def vacuum(asOfMs: Long = System.currentTimeMillis()): Seq[String] = {
    val out = Seq.newBuilder[String]
    project.models.foreach { m =>
      val cfg = effectiveConfig(m)
      val rel = relationFor(m.name)
      if ((cfg.hoursToExpiration.isDefined ||
          cfg.partitionExpirationDays.isDefined) && warehouse.exists(rel)) {
        cfg.hoursToExpiration.foreach { h =>
          warehouse.lastCommitMs(rel).foreach { t =>
            if (asOfMs - t > (h * 3600000.0).toLong) {
              warehouse.drop(rel)
              out += s"DROPPED  ${m.name}: table expired " +
                s"(hours_to_expiration=$h, last build ${asOfMs - t} ms ago)"
            }
          }
        }
        if (warehouse.exists(rel)) cfg.partitionExpirationDays.foreach { dd =>
          val dropped = warehouse.expirePartitions(
            rel, (dd * 86400000.0).toLong, asOfMs)
          if (dropped.nonEmpty)
            out += s"EXPIRED  ${m.name}: ${dropped.mkString(", ")}"
        }
      }
    }
    out.result()
  }

  /** Point-in-time DDL for EXTERNAL engines/sessions — closes the
    * path-addressed warehouse's discoverability gap: `CREATE OR REPLACE
    * VIEW` statements (ANSI-ish Spark SQL) over the CURRENT committed
    * state, so any Spark session (or an engine with parquet path
    * tables) registers the warehouse without knowing graft's layout.
    * Tables expand to their committed (version, partition) slices with
    * partition values re-attached as literals CAST to the reader
    * schema's types — replaced partitions and multi-version appends
    * read exactly like graft's own reader. Durable view models re-emit
    * their compiled SQL with intra-warehouse path references rewritten
    * to the exported names (a raw `.view.sql` over a manifest table
    * root would read every version). Returns (statements, skipped):
    * not exportable — reported, never silent — are relations with
    * pending row-delete entries (positional masks; compact retires
    * them) and materialized_view models (their stored shape is internal
    * partials). This is an EXPORT, not a live pointer: re-run after
    * builds.
    */
  def catalogDdl(): (Seq[String], Seq[String]) = {
    val stmts = Seq.newBuilder[String]
    val skipped = Seq.newBuilder[String]
    def ident(n: String): String = "`" + n.replace("`", "") + "`"
    def sliceSql(rel: Relation): Option[String] =
      warehouse.externalSlices(rel) match {
        case Left(reason) => skipped += reason; None
        case Right(slices) if slices.isEmpty =>
          // an all-empty refresh leaves a committed manifest with zero
          // data entries — no dir union can express "empty with schema"
          skipped += s"${rel.fqName}: no committed data entries"; None
        case Right(slices) =>
          val types: Map[String, String] =
            warehouse.read(rel).schema.fields
              .map(f => f.name -> f.dataType.sql).toMap
          Some(slices.map { case (dir, kvs) =>
            val lits = kvs.map { case (k, v) =>
              if (v == "__HIVE_DEFAULT_PARTITION__")
                s"CAST(NULL AS ${types.getOrElse(k, "STRING")}) AS ${ident(k)}"
              else
                s"CAST('${v.replace("'", "''")}' AS " +
                  s"${types.getOrElse(k, "STRING")}) AS ${ident(k)}"
            }
            val sel = ("*" +: lits).mkString(", ")
            s"SELECT $sel FROM parquet.`$dir`"
          }.mkString("\nUNION ALL\n"))
      }
    // B37 persist_docs: a model configured persist_docs='true' carries
    // its schema.yml relation description as a COMMENT clause
    // (column comments stay in the docs catalog — the export's column
    // order is the slice files', which a column list must not re-pin)
    val persist: Map[String, Boolean] =
      project.models.map(m => m.name -> effectiveConfig(m).persistDocs).toMap
    def commentClause(name: String): String =
      if (!persist.getOrElse(name, false)) ""
      else project.descriptions.get(name)
        .map(d => s" COMMENT '${d.replace("'", "''")}'").getOrElse("")
    val cfgOf: Map[String, ModelConfig] =
      project.models.map(m => m.name -> effectiveConfig(m)).toMap
    // TTLs ride the export as TBLPROPERTIES so an external engine (and a
    // reader of the DDL) sees the declared retention; vacuum enforces it
    def fmtNum(d: Double): String =
      if (d == math.floor(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    def propsClause(name: String): String = {
      val c = cfgOf.get(name)
      def esc(s: String) = s.replace("'", "''")
      val kvs =
        c.flatMap(_.hoursToExpiration)
          .map(h => s"'hours_to_expiration'='${fmtNum(h)}'").toSeq ++
        c.flatMap(_.partitionExpirationDays)
          .map(dd => s"'partition_expiration_days'='${fmtNum(dd)}'").toSeq ++
        // bigquery_options labels + kms_key_name (@15210): inert in a
        // path warehouse, but the port must not lose them — ride the
        // export as namespaced TBLPROPERTIES like the TTLs do
        c.map(_.labels).getOrElse(Nil)
          .map { case (k, v) => s"'labels.${esc(k)}'='${esc(v)}'" } ++
        c.flatMap(_.kmsKeyName)
          .map(k => s"'kms_key_name'='${esc(k)}'").toSeq
      if (kvs.isEmpty) "" else kvs.mkString(" TBLPROPERTIES (", ", ", ")")
    }
    // grants ledger: each declared privilege becomes an emitted GRANT the
    // external engine can apply (a path warehouse has no ACL store)
    def grantStmts(name: String): Seq[String] =
      cfgOf.get(name).map(_.grants).getOrElse(Nil).flatMap { case (priv, gs) =>
        gs.map(g =>
          s"GRANT ${priv.toUpperCase} ON ${ident(name)} TO ${ident(g)}")
      }
    // tables first: the view pass below rewrites path references to them
    val tableNames = Seq.newBuilder[(String, String)] // (table path, ident)
    val nodes =
      project.seeds.map(_.name -> "seed") ++
        project.snapshots.map(_.name -> "snapshot") ++
        project.models.map(m => m.name -> effectiveConfig(m).materialized)
    nodes.foreach { case (name, kind) =>
      val rel = relationFor(name)
      kind match {
        case "ephemeral" => () // inlined, nothing on disk by design
        case "materialized_view" =>
          skipped += s"${rel.fqName}: materialized_view stores internal " +
            "partials — read through graft"
        case "view" =>
          () // handled after tables (needs the rewrite table)
        case _ if !warehouse.exists(rel) =>
          skipped += s"${rel.fqName}: not built"
        case _ =>
          sliceSql(rel).foreach { body =>
            tableNames += ((warehouse.path(rel), ident(name)))
            stmts += s"CREATE OR REPLACE VIEW ${ident(name)}" +
              s"${commentClause(name)}${propsClause(name)} AS\n$body"
            stmts ++= grantStmts(name)
          }
      }
    }
    val rewrites = tableNames.result()
    project.models.foreach { m =>
      if (effectiveConfig(m).materialized == "view") {
        val rel = relationFor(m.name)
        warehouse.readViewDef(rel) match {
          case None => skipped += s"${rel.fqName}: no durable view definition"
          case Some(defSql) =>
            val rewritten = rewrites.foldLeft(defSql) { case (acc, (p, id)) =>
              acc.replace(s"parquet.`$p`", id)
            }
            stmts += s"CREATE OR REPLACE VIEW ${ident(m.name)}" +
              s"${commentClause(m.name)}${propsClause(m.name)} AS\n$rewritten"
            stmts ++= grantStmts(m.name)
        }
      }
    }
    (stmts.result(), skipped.result())
  }

  // ------------------------------------------------------ dbt artifacts
  // dbt's PUBLISHED artifact shapes (field names from dbt's public
  // schemas at schemas.getdbt.com — manifest v12, catalog v1,
  // run_results v6, sources v3): external dbt tooling (docs UI, CI
  // scripts keyed on unique_ids) reads graft's output directly, and slim
  // CI diffs the same manifest dbt commits as its state.

  /** dbt unique_id for a project node (models/seeds/snapshots get their
    * resource-type prefix; sources the 4-part source id).
    */
  private def uniqueIdOf(name: String): String =
    if (project.seeds.exists(_.name == name)) s"seed.${project.name}.$name"
    else if (project.snapshots.exists(_.name == name))
      s"snapshot.${project.name}.$name"
    else s"model.${project.name}.$name"

  private def artifactMetadata(schemaUrl: String): String = {
    import Js._
    obj(
      "dbt_schema_version" -> q(schemaUrl),
      "dbt_version" -> q("1.10.0"),
      "generated_at" -> q(java.time.format.DateTimeFormatter.ISO_INSTANT
        .format(runStartedAt)),
      "invocation_id" -> q(invocationId),
      "env" -> "{}",
      "project_name" -> q(project.name),
      "adapter_type" -> q("spark"))
  }

  /** `manifest.json` in dbt's published v12 shape — the `dbt compile`
    * artifact (SURVEY §3.3) and the slim-CI state [[StateSelector]]
    * diffs: `nodes` keyed by unique_id with resource_type/package_name/
    * checksum/config/depends_on/raw_code, `sources`, `macros`,
    * `exposures`, and the parent/child maps dbt tooling navigates by.
    * A model's `config` is its whole resolved [[ModelConfig]]
    * ([[Js.config]]), so a config-only change is a state change.
    */
  def writeManifest(path: String): Unit = {
    import Js._
    val parents = parentsOf
    val allNames = (project.models.map(_.name) ++ project.seeds.map(_.name)
      ++ project.snapshots.map(_.name))
    // parents as unique_ids: ref()'d nodes, then the sources read
    val rawOf = (project.models.map(m => m.name -> m.rawSql) ++
      project.snapshots.map(s => s.name -> s.rawSql)).toMap
    val parentIds: Map[String, Seq[String]] = allNames.map { n =>
      n -> (parents.getOrElse(n, Nil).map(uniqueIdOf) ++
        rawOf.get(n).toSeq.flatMap(sql => Compiler.dependencies(sql)._2.map {
          case (s, t) => s"source.${project.name}.$s.$t" })).distinct
    }.toMap
    def nodeEntry(name: String, resourceType: String, rawCode: String,
                  cfg: ModelConfig, checksum: String): (String, String) = {
      val uid = s"$resourceType.${project.name}.$name"
      val rel = relationFor(name)
      uid -> obj(
        "unique_id" -> q(uid),
        "name" -> q(name),
        "resource_type" -> q(resourceType),
        "package_name" -> q(project.name),
        "path" -> q(s"$name.sql"),
        "original_file_path" -> q(s"models/$name.sql"),
        "database" -> q(rel.database),
        "schema" -> q(rel.schema),
        "alias" -> q(rel.identifier),
        "fqn" -> arr(Seq(q(project.name), q(name))),
        "checksum" -> obj("name" -> q("sha256"), "checksum" -> q(checksum)),
        "config" -> config(cfg),
        "tags" -> value(cfg.tags),
        "depends_on" -> obj(
          "macros" -> "[]",
          "nodes" -> arr(parentIds(name).map(q))),
        "raw_code" -> q(rawCode))
    }
    val nodes =
      project.models.map(m => nodeEntry(m.name, "model", m.rawSql,
        effectiveConfig(m), Compiler.checksum(m.rawSql))) ++
      project.seeds.map(s => nodeEntry(s.name, "seed", "",
        ModelConfig(materialized = "seed"),
        Compiler.checksum(Files.readString(Paths.get(s.csvPath))))) ++
      project.snapshots.map(s => nodeEntry(s.name, "snapshot", s.rawSql,
        ModelConfig(materialized = "snapshot"), Compiler.checksum(s.rawSql)))
    val sources = project.sources.map { s =>
      val uid = s"source.${project.name}.${s.sourceName}.${s.tableName}"
      uid -> obj(
        "unique_id" -> q(uid),
        "name" -> q(s.tableName),
        "source_name" -> q(s.sourceName),
        "resource_type" -> q("source"),
        "package_name" -> q(project.name),
        "database" -> q(target.database),
        "schema" -> q(target.resolvedSchema),
        "identifier" -> q(s.tableName),
        "loaded_at_field" -> s.loadedAtField.map(q).getOrElse("null"))
    }
    val macros = project.macros.toSeq.sortBy(_._1).map { case (n, md) =>
      val uid = s"macro.${project.name}.$n"
      uid -> obj(
        "unique_id" -> q(uid),
        "name" -> q(n),
        "resource_type" -> q("macro"),
        "package_name" -> q(project.name),
        "macro_sql" -> q(md.body))
    }
    val exposures = project.exposures.map { e =>
      val uid = s"exposure.${project.name}.${e.name}"
      uid -> obj(
        "unique_id" -> q(uid),
        "name" -> q(e.name),
        "resource_type" -> q("exposure"),
        "package_name" -> q(project.name),
        "owner" -> obj("name" -> q(e.owner), "email" -> "null"),
        "url" -> q(e.url),
        "depends_on" -> obj("macros" -> "[]",
          "nodes" -> arr(e.dependsOn.map(d => q(uniqueIdOf(d))))))
    }
    // parent/child maps over node+source unique_ids (dbt tooling walks
    // lineage through these, not depends_on; `state:modified+` walks
    // child_map)
    val parentMap = allNames.map(n => uniqueIdOf(n) -> arr(parentIds(n).map(q)))
    val childMap = allNames.map { n =>
      uniqueIdOf(n) -> arr(allNames.filter(c =>
        parents.getOrElse(c, Nil).contains(n)).map(c => q(uniqueIdOf(c))))
    }
    Files.writeString(Paths.get(path), obj(
      "metadata" -> artifactMetadata(
        "https://schemas.getdbt.com/dbt/manifest/v12.json"),
      "nodes" -> obj(nodes: _*),
      "sources" -> obj(sources: _*),
      "macros" -> obj(macros: _*),
      "exposures" -> obj(exposures: _*),
      "parent_map" -> obj(parentMap: _*),
      "child_map" -> obj(childMap: _*)))
    ()
  }

  /** `sources.json` in dbt's published v3 shape (the `dbt source
    * freshness` artifact): per declared-freshness source, max_loaded_at /
    * snapshotted_at / the age in seconds, dbt's status vocabulary
    * (pass|warn|error — dbt spells pass and error as given and the rest
    * of the tooling keys on `status`), and the declared criteria.
    * Completes the artifact family (manifest v12, catalog v1,
    * run_results v6). One footer-light aggregate per source, same plan
    * as [[checkFreshness]].
    */
  def writeDbtSources(path: String): Unit = {
    import Js._
    val snapAt = java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(java.time.Instant.now())
    val results = project.sources.filter(_.loadedAtField.isDefined).map { s =>
      val df = s.filter.foldLeft(readSource(s))(_ filter _)
      val row = SchemaTests.freshness(df, s.loadedAtField.get,
          current_timestamp(), s.warnAfterH.getOrElse(Int.MaxValue),
          s.errorAfterH.getOrElse(Int.MaxValue))
        .select(col("max_loaded_at_ms"), col("hours_late"), col("status"))
        .head()
      // an empty (or fully filtered-out) source has no max(loaded_at):
      // dbt's artifact records the failure as status "runtime error" with
      // a null max_loaded_at — not an engine crash
      val empty = row.isNullAt(0)
      val maxLoadedIso =
        if (empty) null
        else java.time.format.DateTimeFormatter.ISO_INSTANT
          .format(java.time.Instant.ofEpochMilli(row.getLong(0)))
      def crit(h: Option[Int]): String = h.map(v =>
        obj("count" -> v.toString, "period" -> q("hour"))).getOrElse("null")
      obj(
        "unique_id" -> q(s"source.${project.name}.${s.sourceName}.${s.tableName}"),
        "status" -> q(if (empty) "runtime error" else row.getString(2)),
        "max_loaded_at" -> (if (empty) "null" else q(maxLoadedIso)),
        "snapshotted_at" -> q(snapAt),
        "max_loaded_at_time_ago_in_s" ->
          (if (empty) "null" else (row.getLong(1) * 3600.0).toString),
        "criteria" -> obj(
          "warn_after" -> crit(s.warnAfterH),
          "error_after" -> crit(s.errorAfterH),
          "filter" -> s.filter.map(q).getOrElse("null")),
        "adapter_response" -> "{}",
        "timing" -> "[]",
        "thread_id" -> q("main"),
        "execution_time" -> "0.0")
    }
    Files.writeString(Paths.get(path), obj(
      "metadata" -> artifactMetadata(
        "https://schemas.getdbt.com/dbt/sources/v3.json"),
      "results" -> arr(results),
      "elapsed_time" -> "0.0"))
    ()
  }

  /** `run_results.json` in dbt's published v6 shape: `results[]` keyed by
    * unique_id with dbt's status vocabulary (node success/error/skipped;
    * test pass/fail/warn/error), so CI tooling that parses dbt run
    * results (retry filters, status dashboards) reads graft runs
    * directly; [[retrySelection]] reads it back for `graft retry`.
    */
  def writeDbtRunResults(path: String, nodes: Seq[Dag.NodeResult],
                         tests: Seq[TestResult],
                         elapsedS: Double = 0.0): Unit = {
    import Js._
    def result(uid: String, status: String, execS: Double,
               failures: Option[Long], message: Option[String]): String =
      obj(
        "unique_id" -> q(uid),
        "status" -> q(status),
        "timing" -> "[]",
        "thread_id" -> q("main"),
        "execution_time" -> execS.toString,
        "adapter_response" -> "{}",
        "message" -> message.map(q).getOrElse("null"),
        "failures" -> failures.map(_.toString).getOrElse("null"))
    val nodeResults = nodes.map { n =>
      result(uniqueIdOf(n.name), n.status, n.durationMs / 1000.0,
        None, n.error)
    }
    val testResults = tests.map { t =>
      // dbt test statuses: pass | fail | warn | error. graft's TestResult
      // uses 'error' for BOTH a clean run with failing rows (dbt 'fail')
      // and a broken test query (dbt 'error'); the failure count
      // discriminates — a broken query never counted any rows
      val status = t.status match {
        case "error" if t.failures > 0 => "fail"
        case other => other
      }
      result(s"test.${project.name}.${t.name}", status, 0.0,
        Some(t.failures), None)
    }
    Files.writeString(Paths.get(path), obj(
      "metadata" -> artifactMetadata(
        "https://schemas.getdbt.com/dbt/run-results/v6.json"),
      "results" -> arr(nodeResults ++ testResults),
      "elapsed_time" -> elapsedS.toString,
      "args" -> "{}"))
    ()
  }

  /** `catalog.json` in dbt's published v1 shape: `nodes` keyed by
    * unique_id, each with `metadata` (type/schema/name/database/comment),
    * positional `columns`, and dbt's `stats` entries (row_count/bytes
    * from parquet footers — no scan).
    */
  def writeDbtCatalog(path: String): Unit = {
    import Js._
    def stat(id: String, label: String, value: String, include: Boolean) =
      id -> obj("id" -> q(id), "label" -> q(label), "value" -> value,
        "include" -> include.toString, "description" -> "null")
    def comment(key: String): String =
      project.descriptions.get(key).map(q).getOrElse("null")
    val byIdentifier = project.models.map(m =>
      relationFor(m.name).identifier -> m.name).toMap ++
      project.seeds.map(s => relationFor(s.name).identifier -> s.name) ++
      project.snapshots.map(s => relationFor(s.name).identifier -> s.name)
    // a table carries its columns and footer stats (rows, bytes); a
    // view is listed with neither
    def entry(rel: Relation, kind: String,
              stats: Option[(Long, Long)]): Option[(String, String)] =
      byIdentifier.get(rel.identifier).map { name =>
        val uid = uniqueIdOf(name)
        val cols = if (stats.isEmpty) Nil
          else warehouse.schemaOf(rel).fields.toSeq.zipWithIndex.map {
            case (f, i) => f.name -> obj(
              "type" -> q(f.dataType.sql),
              "index" -> (i + 1).toString,
              "name" -> q(f.name),
              "comment" -> comment(s"${rel.identifier}.${f.name}"))
          }
        uid -> obj(
          "unique_id" -> q(uid),
          "metadata" -> obj(
            "type" -> q(kind),
            "schema" -> q(rel.schema),
            "name" -> q(rel.identifier),
            "database" -> q(rel.database),
            "comment" -> comment(rel.identifier),
            "owner" -> "null"),
          "columns" -> obj(cols: _*),
          "stats" -> obj(
            stat("has_stats", "Has Stats?", stats.isDefined.toString,
              include = false) +:
            stats.toSeq.flatMap { case (rows, bytes) => Seq(
              stat("row_count", "Row Count", rows.toString, include = true),
              stat("bytes", "Approximate Size", bytes.toString,
                include = true)) }: _*))
      }
    val tables = warehouse.catalogInfo(target.database, target.resolvedSchema)
      .flatMap { case (rel, rows, bytes, _) =>
        entry(rel, "table", Some((rows, bytes))) }
    val views = warehouse.listViews(target.database, target.resolvedSchema)
      .flatMap(entry(_, "view", None))
    Files.writeString(Paths.get(path), obj(
      "metadata" -> artifactMetadata(
        "https://schemas.getdbt.com/dbt/catalog/v1.json"),
      "nodes" -> obj(tables ++ views: _*),
      "sources" -> "{}",
      "errors" -> "null"))
    ()
  }
}

/** The JSON writer of the dbt artifacts and of `graft.Verify`'s
  * `oracle_sql.json`.
  */
private[graft] object Js {
  /** A JSON string literal. Escapes quote, backslash and EVERY control
    * char (< 0x20): multi-line SQL stays valid on one line.
    */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

  private def snake(s: String): String =
    s.replaceAll("(?<=[a-z0-9])(?=[A-Z])", "_").toLowerCase

  /** A Scala config value as JSON: options unwrap to the value or null,
    * sets are sorted arrays, case objects their snake_cased names.
    */
  def value(v: Any): String = v match {
    case s: String => q(s)
    case None => "null"
    case Some(x) => value(x)
    case xs: Set[_] => arr(xs.toSeq.map(value).sorted)
    case xs: Seq[_] => arr(xs.map(value))
    case p: Product => q(snake(p.productPrefix))
    case x => x.toString
  }

  // key/value-list fields (labels, grants, contract) are objects in
  // dbt's config even when empty, so their shape comes from the type
  private val pairFields: Set[String] = classOf[ModelConfig].getDeclaredFields
    .filter(_.getGenericType.getTypeName.contains("scala.Tuple2"))
    .map(_.getName).toSet

  /** Manifest v12 node `config`: every [[ModelConfig]] field under its
    * snake_cased name. A change to any field is a `state:modified`
    * change, like dbt's `modified.configs`.
    */
  def config(c: ModelConfig): String =
    obj(c.productElementNames.zip(c.productIterator).map {
      case (k, kvs: Seq[_]) if pairFields(k) => snake(k) -> obj(kvs.map {
        case (key, v) => key.toString -> value(v) }: _*)
      case (k, v) => snake(k) -> value(v)
    }.toSeq: _*)
}

/** Slim-CI state selection (SURVEY §3.2): diff two v12 manifests
  * ([[Engine.writeManifest]]) and select modified nodes and, for
  * `state:modified+`, their downstream closure. A node is modified when
  * it is new, or its body checksum or its `config` differs — dbt's
  * `modified.body` plus `modified.configs`.
  */
object StateSelector {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  import scala.jdk.CollectionConverters._

  /** A dbt manifest. Anything else — a run_results file, `{}` — is
    * refused rather than read as "no previous state", which would select
    * every node.
    */
  private def read(path: String): JsonNode = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    if (!root.path("metadata").path("dbt_schema_version").asText
        .contains("/manifest/") || !root.path("nodes").isObject)
      throw new IllegalArgumentException(
        s"$path is not a dbt manifest: it needs a manifest " +
          "metadata.dbt_schema_version and a nodes object")
    root
  }

  /** unique_ids of the nodes new or changed vs the previous state. */
  private def changed(cur: JsonNode, prev: JsonNode): Set[String] =
    cur.path("nodes").fields.asScala.filter { e =>
      val p = prev.path("nodes").path(e.getKey)
      p.isMissingNode ||
        p.path("checksum").path("checksum") != e.getValue.path("checksum").path("checksum") ||
        p.path("config") != e.getValue.path("config")
    }.map(_.getKey).toSet

  private def names(cur: JsonNode, ids: Set[String]): Set[String] =
    ids.map(cur.path("nodes").path(_).path("name").asText)

  def modified(currentPath: String, previousPath: String): Set[String] = {
    val cur = read(currentPath)
    names(cur, changed(cur, read(previousPath)))
  }

  /** `state:modified+`: the modified nodes and every node downstream of
    * them along the current manifest's `child_map`.
    */
  def modifiedPlus(currentPath: String, previousPath: String): Set[String] = {
    val cur = read(currentPath)
    def expand(frontier: Set[String], acc: Set[String]): Set[String] =
      if (frontier.isEmpty) acc
      else {
        val next = frontier.flatMap(id => cur.path("child_map").path(id)
          .elements.asScala.map(_.asText)) -- acc
        expand(next, acc ++ next)
      }
    val mod = changed(cur, read(previousPath))
    names(cur, expand(mod, mod))
  }
}
