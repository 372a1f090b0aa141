package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.run.{Engine, ProjectLoader, Target}

/** `incremental_cycles`: the write path beside reads. Each pass is one
  * production cycle: a `dbt build` of the merge / insert_overwrite / two
  * SCD-2 snapshots / materialized_view project over that cycle's source
  * rows, a fixed read set, then the LLM-data stage ([[Operators]]). The
  * build of cycle 0 and the stage's warm-up are set-up. The
  * materialized_view needs the manifest commit mode, which `run.py`
  * selects through `GRAFT_COMMIT_MODE`. */
final class IncrementalCycles(spark: SparkSession, a: Map[String, String], out: Main.Out, body: Body) {
  private val work = a("work")
  private val root = s"$work/wh/cycles"
  private val keys0 = a("keys0").toLong
  private val step = a("step").toLong
  private val maxCycles = a("cycles").toInt
  private val tracer = body.tracer
  private val (project, _) = ProjectLoader.load(a("proj"))
  private val operators = new Operators(spark, a, out, tracer)

  private def engine(cycle: Int): Engine =
    new Engine(spark, project, Target(root, threads = Main.Threads,
      env = Map("CYCLE" -> cycle.toString, "CUTOFF" -> (keys0 + cycle * step).toString)))

  private def cycle(c: Int): (Engine, Double) = {
    val e = engine(c)
    val ((nodes, tests), s) = Main.timed(e.build())
    Nodes.record(out, nodes, tests)
    tracer.foreach(t => Nodes.layer(t, project, nodes, s))
    (e, s)
  }

  /** The post-cycle reads, six rounds of: a point lookup by key, an
    * aggregate the materialized view can serve, and the snapshot's
    * current rows. */
  private def reads(e: Engine, c: Int): Double =
    (1 to ReadRounds).map(r => readRound(e, c, r)).sum

  private val ReadRounds = 6

  private def readRound(e: Engine, c: Int, round: Int): Double = {
    val cutoff = keys0 + c * step
    val key = (c * 7919L + round * 104729L) % cutoff
    val rows0 = tracer.map(_.recordsReadNow).getOrElse(0L)
    val (hit, s1) = Main.timed(e.readModel("orders_merge").filter(col("o_orderkey") === key).collect())
    out.count(hit.length == 1, s"point lookup of key $key returned ${hit.length} rows")
    val (agg, s2) = Main.timed {
      val df = e.renderInline(
        "SELECT o_orderstatus, count(*) AS n, sum(cents) AS cents FROM {{ ref('orders_merge') }} GROUP BY o_orderstatus")
      (df.collect(), df.inputFiles.exists(_.contains("orders_status_mv")))
    }
    val n = agg._1.map(_.getLong(1)).sum
    out.count(n == cutoff, s"aggregate read counted $n orders, expected $cutoff")
    val (open, s3) = Main.timed(e.readModel("orders_snap_ts").filter("dbt_valid_to IS NULL").count())
    out.count(open == cutoff, s"snapshot has $open open rows, expected $cutoff")
    Seq(s1, s2, s3).foreach(out.sample("read_s", _))
    tracer.foreach { t =>
      t.add("plans.mv_reads", 1)
      t.add("plans.mv_hits", if (agg._2) 1 else 0)
      t.add("read.rows_scanned", (t.recordsReadNow - rows0).toDouble)
      t.add("read.rows_returned", (hit.length + agg._1.length + 1).toDouble)
    }
    s1 + s2 + s3
  }

  def run(): Unit = {
    // set-up: cycle 0, one round of the reads over it and the operator
    // stage's warm-up, so the timed reads and entries run warm
    val (_, warmS) = Main.timed { readRound(cycle(0)._1, 0, 0); operators.warmUp() }
    out.samples.remove("read_s")
    out.sample("warmup_s", warmS)
    var c = 0
    var last = engine(0)
    body.loop { p =>
      c += 1
      require(c <= maxCycles, s"more than $maxCycles cycles generated")
      val before = tracer.map(_ => files())
      val (e, buildS) = cycle(c)
      tracer.foreach { t =>
        val now = files()
        val added = now -- before.get.keySet
        t.add("wh.files_written", added.size)
        t.add("wh.mb_written", added.values.sum / 1048576.0)
      }
      val readS = reads(e, c)
      val opsS = operators.pass(p)
      out.sample("cycle_s", buildS)
      out.sample("ops_s", opsS)
      last = e
      buildS + readS + opsS
    }
    out.sample("last_cycle", c)
    operators.verify()
    val onDisk = files()
    out.sample("warehouse_mb", onDisk.values.sum / 1048576.0)
    tracer.foreach { _ =>
      out.layer("wh.files_on_disk") = onDisk.size
      out.layer("wh.versions") = (project.models.map(_.name) ++ project.snapshots.map(_.name))
        .map(n => last.warehouse.listVersions(last.relationFor(n)).size).sum
      Nodes.afterBody(out, last)
    }
    Seq("orders_merge", "lineitem_part", "orders_status_mv", "orders_snap_ts", "orders_snap_chk")
      .foreach(n => Main.export(out, work, n, last.readModel(n)))
  }

  private def files(): Map[String, Long] =
    Main.dirFiles(new File(root)).map(f => f.getPath -> f.length).toMap
}
