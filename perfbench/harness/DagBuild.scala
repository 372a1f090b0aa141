package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.dag.Dag
import graft.run.{Engine, ProjectLoader, StateSelector, Target}

/** `dag_build`: the reference's CI path. Each pass is a full `dbt build`
  * invocation into a fresh prod root, then a slim-CI invocation of the
  * edited project: `state:modified+` against the prod manifest, built
  * with `--defer` to that root. Both run in the engine's default commit
  * mode. */
final class DagBuild(spark: SparkSession, a: Map[String, String], out: Main.Out, body: Body) {
  private val work = a("work")
  private val projFull = a("proj_full")
  private val projCi = a("proj_ci")
  private val tracer = body.tracer

  private def invoke(projDir: String, root: String,
                     select: (Engine, String) => Option[Set[String]],
                     deferRoot: Option[String]): (Engine, Seq[Dag.NodeResult], Double) = {
    val t0 = System.nanoTime()
    val ((p, _), loadS) = Main.timed(ProjectLoader.load(projDir))
    val e = new Engine(spark, p, Target(root, threads = Main.Threads))
    new File(root).mkdirs()
    val manifest = s"$root/manifest.json"
    val (sel, selectS) = Main.timed(select(e, manifest))
    val ((nodes, tests), buildS) = Main.timed(e.build(sel, deferRoot))
    val (_, artS) = Main.timed {
      if (deferRoot.isEmpty) e.writeManifest(manifest)
      e.writeDbtRunResults(s"$root/run_results.json", nodes, tests, buildS)
    }
    val wall = Main.secondsSince(t0)
    Nodes.record(out, nodes, tests)
    tracer.foreach { t =>
      t.add("run.load_s", loadS); t.add("run.select_s", selectS); t.add("run.artifacts_s", artS)
      Nodes.layer(t, p, nodes, buildS)
    }
    (e, nodes, wall)
  }

  def run(): Unit = {
    // warm-up: a build of one model per layer with its upstream, so the
    // timed pass runs every code path warm
    val (_, warmS) = Main.timed(invoke(projFull, s"$work/wh/warm", (e, _) => Some(warmSet(e)), None))
    out.sample("warmup_s", warmS)
    Main.rm(new File(s"$work/wh/warm"))
    out.attempted = 0; out.failed = 0; out.errors.clear()
    var last: Option[(Engine, String)] = None
    body.loop { p =>
      val prod = s"$work/wh/p$p/prod"
      val ci = s"$work/wh/p$p/ci"
      val (pe, nodes, buildS) = invoke(projFull, prod, (_, _) => None, None)
      nodes.foreach(n => out.sample("node_s", n.durationMs / 1000.0))
      // the first pass's outputs go to the DuckDB check, read back
      // between the invocations and outside their clocks: the CI engine
      // shares the session and re-registers the edited views
      if (p == 0) exportOutputs("full", pe, _ => true)
      val (ce, _, ciS) = invoke(projCi, ci, { (e, m) =>
        e.writeManifest(m)
        Some(StateSelector.modifiedPlus(m, s"$prod/manifest.json"))
      }, Some(prod))
      if (p == 0) exportOutputs("ci", ce, cone.contains)
      out.sample("build_s", buildS)
      out.sample("ci_build_s", ciS)
      tracer.foreach { t =>
        val written = Main.dirFiles(new File(s"$work/wh/p$p"))
        t.add("wh.files_written", written.size)
        t.add("wh.mb_written", written.map(_.length).sum / 1048576.0)
      }
      last.foreach { case (_, r) => Main.rm(new File(r)) }
      last = Some((pe, s"$work/wh/p$p"))
      buildS + ciS
    }
    val (pe, root) = last.get
    val onDisk = Main.dirFiles(new File(root))
    out.sample("warehouse_mb", onDisk.map(_.length).sum / 1048576.0)
    out.layer("wh.files_on_disk") = onDisk.size
    tracer.foreach(_ => Nodes.afterBody(out, pe))
  }

  private val cone = a("cone").split(",").toSet

  private def warmSet(e: Engine): Set[String] = {
    val par = Nodes.parents(e.project)
    def up(n: String): Set[String] = par.getOrElse(n, Nil).toSet.flatMap(up) + n
    val names = par.keys.toSeq.sorted
    Seq("stg_", "int_", "jin_", "mart_", "cust_snap").flatMap(p => names.find(_.startsWith(p))).toSet.flatMap(up)
  }

  private def exportOutputs(tag: String, e: Engine, keep: String => Boolean): Unit = {
    val kinds = Nodes.kinds(e.project)
    Main.inParallel(kinds.keys.toSeq.sorted.filter(n => kinds(n) != "ephemeral" && keep(n)))(
      n => Main.export(out, work, s"$tag/$n", e.readModel(n)))
  }
}
