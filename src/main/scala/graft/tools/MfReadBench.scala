package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.core.{ModelConfig, Relation, Warehouse}
import graft.materialize.Materializer

/** Dev measurement (not library surface): how manifest-read cost scales
  * with the number of version dirs the data straddles — the scenario a
  * years-old daily-merge table creates. Writes N partition-scoped merges
  * (one new version dir each), then times the committed read, which since
  * ManifestFileIndex is a single scan relation however large N grows.
  *
  * Usage: runMain graft.tools.MfReadBench [nMerges]
  */
object MfReadBench {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(100)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_mfbench").toString)
    val m = new Materializer(wh)
    val r = Relation("db", "sch", "t_daily")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      partitionBy = Seq("day"), partitionKeysStable = true)
    val t0 = System.nanoTime()
    (1 to n).foreach { i =>
      m.incremental(Seq((i.toLong, f"d$i%05d", i.toDouble))
        .toDF("id", "day", "score"), r, cfg)
    }
    val tw = (System.nanoTime() - t0) / 1e9
    val versions = wh.manifestEntries(r).get.map(_._1).distinct.size
    def time[T](body: => T): (T, Double) = {
      val s = System.nanoTime(); val v = body
      (v, (System.nanoTime() - s) / 1e9)
    }
    // planning + execution of the committed read, and a pruned read
    val (_, warm) = time(wh.read(r).count())
    val (cnt, full) = time(wh.read(r).count())
    val (one, pruned) = time(
      wh.read(r).filter($"day" === f"d${n / 2}%05d").count())
    val scans = wh.read(r).queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.size
    // the pre-FileIndex union shape, reconstructed for contrast: one
    // parquet relation per version group, unioned by name
    val (_, unionRead) = time {
      val base = new org.apache.hadoop.fs.Path(wh.path(r), "_graft")
      wh.manifestEntries(r).get.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (dir, es) =>
          spark.read.option("basePath", s"$base/$dir")
            .parquet(es.map(e => s"$base/$dir/${e._2}"): _*)
        }
        .reduce(_.unionByName(_, allowMissingColumns = true))
        .count()
    }
    // footer-stats paths: driver loop vs executor job over the same files
    // (the job's win scales with per-open metadata latency — local FS is
    // its floor; object-store round trips multiply the serial cost only)
    spark.conf.set("graft.footer.parallelThreshold", Int.MaxValue.toString)
    val (frSerial, footerSerial) = time(wh.footerRows(r))
    spark.conf.set("graft.footer.parallelThreshold", "0")
    val (frParallel, footerParallel) = time(wh.footerRows(r))
    spark.conf.unset("graft.footer.parallelThreshold")
    require(frSerial == frParallel,
      s"footer paths disagree: $frSerial vs $frParallel")
    // file skipping from the per-version-dir stats sidecars: a point query
    // on id (each merge's file holds exactly one id here) should PLAN only
    // the in-range file(s), not schedule a task per file — the zone-map
    // effect. Contrast against a stats-blind instance on the same root.
    // collect() alone misses scans under AQE — descend through the
    // adaptive root and materialized query stages explicitly
    def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansIn(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansIn(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scansIn)
    }
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      // collect(), not count(): count() builds a SEPARATE QueryExecution,
      // leaving this df's plan unexecuted and its metrics at zero
      df.collect()
      scansIn(df.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
    }
    val mid = (n / 2).toLong
    val (skipFiles, skipRead) = time(
      plannedFiles(wh.read(r).filter($"id" === mid)))
    spark.conf.set("graft.stats.enabled", "false")
    val whBlind = new Warehouse(spark, wh.root)
    val (blindFiles, blindRead) = time(
      plannedFiles(whBlind.read(r).filter($"id" === mid)))
    spark.conf.unset("graft.stats.enabled")
    // bloom skipping: N appended dirs of INTERLEAVED ids — every dir's
    // min/max range covers the probe, so range stats are structurally
    // blind here and any pruning is the bloom sidecar's alone
    val rb = Relation("db", "sch", "t_bloomed")
    spark.conf.set("graft.bloom.cols", "id")
    val rowsPer = 200
    val tb0 = System.nanoTime()
    (0 until n).foreach { i =>
      wh.append((0 until rowsPer).map(j => (j.toLong * n + i, i.toLong))
        .toDF("id", "src").coalesce(1), rb)
    }
    val tbw = (System.nanoTime() - tb0) / 1e9
    spark.conf.unset("graft.bloom.cols")
    val probe = (rowsPer / 2).toLong * n + (n / 2) // lives in ONE dir
    val (bloomFiles, bloomRead) = time(
      plannedFiles(wh.read(rb).filter($"id" === probe)))
    spark.conf.set("graft.bloom.enabled", "false")
    val whNb = new Warehouse(spark, wh.root)
    val (nbFiles, nbRead) = time(
      plannedFiles(whNb.read(rb).filter($"id" === probe)))
    spark.conf.unset("graft.bloom.enabled")
    println(f"""{"merges":$n,"version_dirs":$versions,"rows":$cnt,""" +
      f""""scan_nodes":$scans,"write_total_s":$tw%.1f,""" +
      f""""read_warm_s":$warm%.2f,"read_s":$full%.2f,""" +
      f""""pruned_rows":$one,"pruned_read_s":$pruned%.2f,""" +
      f""""union_read_s":$unionRead%.2f,""" +
      f""""footer_rows":$frSerial,"footer_serial_s":$footerSerial%.2f,""" +
      f""""footer_parallel_s":$footerParallel%.2f,""" +
      f""""skip_planned_files":$skipFiles,"skip_read_s":$skipRead%.2f,""" +
      f""""blind_planned_files":$blindFiles,"blind_read_s":$blindRead%.2f,""" +
      f""""bloom_write_total_s":$tbw%.1f,""" +
      f""""bloom_planned_files":$bloomFiles,"bloom_read_s":$bloomRead%.2f,""" +
      f""""nobloom_planned_files":$nbFiles,"nobloom_read_s":$nbRead%.2f}""")
    spark.stop()
  }
}
