package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.compile.Compiler
import graft.dag.Dag
import graft.run.{Engine, Project}

/** One benchmark run inside one JVM: drives the engine through its public
  * API the way a dbt user does, times each invocation from outside, and
  * writes `result.json` (samples, counts, exported outputs) for
  * `run.py`, which checks the outputs against DuckDB and prints metrics.
  *
  * Arguments are `key=value`: workload, work (scratch dir), seconds,
  * trace (0|1), and the workload's generated inputs.
  */
object Main {
  val Threads = 4

  /** What a run reports back; serialized by [[Json]]. */
  final class Out {
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val exports = mutable.ArrayBuffer.empty[(String, String)]
    def exported(name: String, dir: String): Unit = synchronized { exports += name -> dir; () }
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var setupDoneMs = 0L
    def sample(k: String, v: Double): Unit = { samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v; () }
    def count(ok: Boolean, what: => String): Unit = synchronized {
      attempted += 1
      if (!ok) { failed += 1; if (errors.size < 20) errors += what }
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).map(x => x(0) -> x(1)).toMap
    val work = a("work")
    val spark = session(work)
    val out = new Out
    val tracer = if (a("trace") == "1") Some(new Tracer(spark)) else None
    val body = new Body(a("seconds").toDouble, tracer, out)
    try a("workload") match {
      case "dag_build" => new DagBuild(spark, a, out, body).run()
      case "incremental_cycles" => new IncrementalCycles(spark, a, out, body).run()
      case "classes" => Classes.load(spark, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      tracer.foreach { t =>
        out.layer ++= t.totals.map { case (k, v) => k -> v / math.max(1, t.passes) }
        out.layer("trace.passes") = t.passes.toDouble
        out.layer("jvm.heap_peak_mb") = t.heapPeak
        out.layer("trace.wall_s") = t.tracedWallS / math.max(1, t.passes)
      }
      Files.writeString(Paths.get(work, "result.json"), Json.of(out))
      spark.stop()
    }
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secondsSince(t0))
  }

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(); ()
  }

  def dirFiles(root: File): Seq[File] =
    if (!root.exists) Nil
    else Files.walk(root.toPath).iterator().asScala.map(_.toFile).filter(_.isFile).toSeq

  /** Runs `f` over `xs` on [[Threads]] threads. */
  def inParallel[A](xs: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads)
    try xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Writes a result as parquet for the DuckDB check in `run.py`; a
    * result that cannot be read is a failed operation. */
  def export(out: Out, work: String, name: String, df: => DataFrame): Unit = {
    val dir = s"$work/out/$name"
    try {
      df.write.mode("overwrite").parquet(dir)
      out.exported(name, dir)
    } catch { case e: Exception => out.count(ok = false, s"export $name: ${e.getMessage.take(300)}") }
    ()
  }
}

/** The class-loading run that `build.py` records into the JVM's
  * class-data-sharing archive: the common query shapes of the engine
  * (parquet write and read, join, aggregate, window, SQL text), so that
  * the classes they need are archived. */
object Classes {
  def load(spark: SparkSession, work: String): Unit = {
    import org.apache.spark.sql.functions.{col, row_number, sum}
    import org.apache.spark.sql.expressions.Window
    val dir = s"$work/classes"
    spark.range(2000).selectExpr("id", "id % 7 AS k", "CAST(id AS DOUBLE) / 3 AS v", "CAST(id AS STRING) AS s")
      .write.mode("overwrite").parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    t.join(t.groupBy("k").agg(sum("v").as("sv")), "k")
      .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy(col("id").desc)))
      .filter(col("rn") <= 3).write.mode("overwrite").parquet(s"$dir/u")
    t.createOrReplaceTempView("classes_t")
    spark.sql("SELECT k, count(*) AS n, max(s) AS s FROM classes_t WHERE v > 10 GROUP BY k ORDER BY k").collect()
    ()
  }
}

/** The closed-loop timed body: passes run back to back until `seconds`
  * are spent (at least one). A traced run makes at least three passes
  * and traces the odd ones; `trace.overhead` compares the traced passes
  * with the untraced ones after pass 0, which runs colder than the rest. */
final class Body(seconds: Double, val tracer: Option[Tracer], out: Main.Out) {
  def loop(pass: Int => Double): Unit = {
    out.setupDoneMs = System.currentTimeMillis()
    val started = System.nanoTime()
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val minPasses = if (tracer.isDefined) 3 else 1
    var p = 0
    while (p < minPasses || Main.secondsSince(started) < seconds) {
      val trace = tracer.isDefined && p % 2 == 1
      if (trace) tracer.get.begin()
      val wall = pass(p)
      out.sample("pass_s", wall)
      if (trace) { tracer.get.end(wall); traced += wall } else if (p > 0) untraced += wall
      p += 1
    }
    if (tracer.isDefined)
      out.layer("trace.overhead") = Stats.median(traced.toSeq) / Stats.median(untraced.toSeq) - 1
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => " "; case c => c.toString
  } + "\""
  private def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
  def of(o: Main.Out): String = {
    val samples = o.samples.map { case (k, v) => s"${q(k)}: ${v.map(num).mkString("[", ", ", "]")}" }
    val layer = o.layer.map { case (k, v) => s"${q(k)}: ${num(v)}" }
    val exports = o.exports.map { case (k, v) => s"${q(k)}: ${q(v)}" }
    s"""{"attempted": ${o.attempted}, "failed": ${o.failed}, "setup_done_ms": ${o.setupDoneMs},
       |"errors": ${o.errors.map(q).mkString("[", ", ", "]")},
       |"samples": {${samples.mkString(", ")}},
       |"layer": {${layer.mkString(", ")}},
       |"exports": {${exports.mkString(", ")}}}""".stripMargin
  }
}

/** Node bookkeeping shared by the engine workloads: statuses count as
  * operations, durations feed the node metrics and the per-kind layer
  * split. */
object Nodes {
  def kinds(p: Project): Map[String, String] =
    p.models.map(m => m.name -> Compiler.parseInlineConfig(m.rawSql, m.config).materialized).toMap ++
      p.seeds.map(_.name -> "seed") ++ p.snapshots.map(_.name -> "snapshot")

  def parents(p: Project): Map[String, Seq[String]] = {
    val known = (p.models.map(_.name) ++ p.seeds.map(_.name) ++ p.snapshots.map(_.name)).toSet
    (p.models.map(m => m.name -> Compiler.dependencies(m.rawSql)._1.filter(known)) ++
      p.snapshots.map(s => s.name -> Compiler.dependencies(s.rawSql)._1.filter(known)) ++
      p.seeds.map(_.name -> Seq.empty[String])).toMap
  }

  def record(out: Main.Out, nodes: Seq[Dag.NodeResult], tests: Seq[Engine#TestResult]): Unit = {
    nodes.foreach(n => out.count(n.status == "success", s"node ${n.name}: ${n.status} ${n.error.getOrElse("")}"))
    tests.foreach(t => out.count(t.status != "error", s"test ${t.name}: ${t.status} (${t.failures} rows)"))
  }

  /** Per-layer DAG and materialization figures of one traced build. */
  def layer(t: Tracer, p: Project, nodes: Seq[Dag.NodeResult], wallS: Double): Unit = {
    val k = kinds(p)
    val dur = nodes.map(n => n.name -> n.durationMs / 1000.0).toMap
    val par = parents(p)
    val memo = mutable.Map.empty[String, Double]
    def finish(n: String): Double = memo.getOrElseUpdate(n,
      dur.getOrElse(n, 0.0) + par.getOrElse(n, Nil).filter(dur.contains).map(finish).foldLeft(0.0)(math.max))
    val critical = if (dur.isEmpty) 0.0 else dur.keys.map(finish).max
    val sum = dur.values.sum
    def add(key: String, v: Double): Unit = t.add(key, v)
    add("dag.nodes", nodes.size)
    add("dag.node_sum_s", sum)
    add("dag.critical_path_s", critical)
    add("dag.build_wall_s", wallS)
    add("dag.slack_s", wallS - math.max(critical, sum / Main.Threads))
    Seq("table", "view", "incremental", "snapshot", "materialized_view", "seed").foreach { kind =>
      val name = if (kind == "materialized_view") "mv" else kind
      val ns = nodes.filter(n => k.get(n.name).contains(kind))
      add(s"mat.${name}_s", ns.map(_.durationMs / 1000.0).sum)
      add(s"mat.${name}_n", ns.size)
    }
  }

  /** Calls that run inside `build()` and cannot be timed from outside
    * there, timed on their own after the traced body: compile of every
    * model, every declared test, and the DAG scheduler with a no-op body. */
  def afterBody(out: Main.Out, e: Engine): Unit = {
    val (compiled, compileS) = Main.timed(e.compiledModels)
    out.layer("compile.s") = compileS
    out.layer("compile.ms_per_model") = compileS * 1000 / math.max(1, compiled.size)
    val (results, dqS) = Main.timed(e.project.tests.map(e.runTest))
    out.layer("dq.tests") = results.size
    out.layer("dq.s") = dqS
    out.layer("dq.failures") = results.map(_.failures).sum.toDouble
    val par = parents(e.project)
    val (_, noopS) = Main.timed(Dag.run(par.keys.toSeq, par, Main.Threads)(_ => ()))
    out.layer("dag.noop_run_ms") = noopS * 1000
  }
}
