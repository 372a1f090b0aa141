package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.materialize.Snapshotter
import graft.run._
import graft.streaming.StreamingJobs

/** Planning a scan launches no Spark job: manifest reads take their
  * schema from driver-read footers, plain parquet sources resolve to
  * views with their footer schema pinned, and the snapshot clock is
  * collected from a local relation. Jobs are counted by [[SparkJobs]].
  */
class ZeroJobPlanningSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def df(rows: Seq[(Long, String, Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "name", "score")
  }

  private def jobsDuring[T](body: => T): (Int, T) = SparkJobs.during(spark)(body)

  /** A single parquet file at `<dir>/<name>` holding `data`. */
  private def parquetFile(data: DataFrame, dir: String, name: String): String = {
    val out = tmp("graft_zj_write")
    data.coalesce(1).write.mode("overwrite").parquet(out)
    val part = Files.list(Paths.get(out))
    val file = try part.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      finally part.close()
    val dst = Paths.get(dir, name)
    Files.copy(file, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dst.toString
  }

  implicit private class IterOps[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext = it.hasNext; def next() = it.next()
    }
  }

  test("manifest read spanning two version groups plans with zero jobs") {
    val root = tmp("graft_zj_wh")
    val r = Relation("db", "sch", "t")
    val w = new Warehouse(spark, root)
    w.append(df(Seq((1L, "a", 1.0))), r)
    w.append(df(Seq((2L, "b", 2.0))), r)
    val entries = w.manifestEntries(r).get
    assert(entries.map(_._1).distinct.size == 2, entries)
    // a fresh instance: its read cache is cold, so the relation is built
    val (jobs, schema) = jobsDuring(new Warehouse(spark, root).read(r).schema)
    assert(jobs == 0, s"$jobs jobs to plan a manifest read")
    assert(schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(new Warehouse(spark, root).read(r).count() == 2)
  }

  test("an 81-leaf partitioned write runs no Spark job after its write job") {
    val w = new Warehouse(spark, tmp("graft_zj_wh81"))
    // jobs of a partitioned write of n one-file leaves; the write itself
    // is a rebalance and a write job, whatever n is
    def writeJobs(n: Int): Int = {
      val r = Relation("db", "sch", s"t$n")
      val (jobs, _) = jobsDuring(w.writeAtomic(
        df((1L to n.toLong).map(i => (i, s"p$i", i.toDouble))), r,
        partitionCols = Seq("name")))
      assert(w.manifestEntries(r).get.size == n)
      assert(w.footerRows(r) == n.toLong)
      jobs
    }
    // 81 leaves is past the 64 at which the footer opens once ran as a
    // job of their own; 3 leaves never did
    val (few, many) = (writeJobs(3), writeJobs(81))
    assert(many == few, s"$many jobs for 81 leaves, $few for 3")
  }

  test("analysing a plain parquet source through resolveSql launches no job") {
    val dir = tmp("graft_zj_src")
    val src = parquetFile(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))), dir, "src.parquet")
    val w = new Warehouse(spark, tmp("graft_zj_wh"))
    val sql = s"SELECT * FROM parquet.`$src`"
    assert(w.resolveSql(sql) != sql, "the source file was not resolved to a view")
    val (jobs, analyzed) = jobsDuring(
      spark.sql(w.resolveSql(sql)).queryExecution.analyzed)
    assert(jobs == 0, s"$jobs jobs to analyse a source read")
    assert(analyzed.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    // the same rows as the path-addressed read
    assert(spark.sql(w.resolveSql(sql)).collect().toSet ==
      spark.sql(sql).collect().toSet)
  }

  test("directory and missing parquet paths pass through resolveSql unchanged") {
    val w = new Warehouse(spark, tmp("graft_zj_wh"))
    val dirSrc = tmp("graft_zj_dirsrc")
    df(Seq((1L, "a", 1.0))).write.mode("overwrite").parquet(dirSrc)
    Seq(dirSrc, s"$dirSrc/no_such_file.parquet").foreach { p =>
      val sql = s"SELECT * FROM parquet.`$p`"
      assert(w.resolveSql(sql) == sql)
    }
  }

  test("the snapshot clock is collected without a job") {
    val (jobs, ts) = jobsDuring(Snapshotter.clock(spark, current_timestamp()))
    assert(jobs == 0, s"$jobs jobs to read the clock")
    assert(math.abs(ts.getTime - System.currentTimeMillis()) < 60000L)
    val pinned = Snapshotter.clock(spark, lit("2024-01-02 03:04:05"))
    assert(pinned == java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))
  }

  test("schema evolution: a manifest straddling an added column keeps both, oldest first") {
    val root = tmp("graft_zj_evo")
    val r = Relation("db", "sch", "evo")
    val w = new Warehouse(spark, root)
    w.append(df(Seq((1L, "a", 1.0))), r)
    // the new (nullable) column comes FIRST in the newer write; the
    // merged schema still lists the oldest group's columns first
    w.append(df(Seq((2L, "b", 2.0))).select(concat(col("name"), lit("x")).as("extra"),
      col("id"), col("name"), col("score")), r)
    val read = new Warehouse(spark, root).read(r)
    assert(read.columns.toSeq == Seq("id", "name", "score", "extra"))
    val rows = read.collect().map(x =>
      (x.getAs[Long]("id"), Option(x.getAs[String]("extra")))).toSet
    assert(rows == Set((1L, None), (2L, Some("bx"))))
    // a NON-nullable added column (a literal): the older files lack it,
    // so the read must take it as nullable or the vectorized reader
    // refuses the older files
    val rn = Relation("db", "sch", "evo_nn")
    w.writeAtomic(df(Seq((1L, "a", 1.0))), rn)
    w.append(df(Seq((2L, "b", 2.0))).withColumn("extra", lit("x")), rn)
    val readNn = new Warehouse(spark, root).read(rn)
    assert(readNn.columns.toSeq == Seq("id", "name", "score", "extra"))
    assert(readNn.collect().map(x =>
      (x.getAs[Long]("id"), Option(x.getAs[String]("extra")))).toSet ==
      Set((1L, None), (2L, Some("x"))))
  }

  test("resolveSql registers a relation's view once per committed version") {
    val root = tmp("graft_zj_view")
    val r = Relation("db", "sch", "tv")
    val w = new Warehouse(spark, root)
    w.writeAtomic(df(Seq((1L, "a", 1.0))), r)
    val sql = s"SELECT * FROM parquet.`${w.path(r)}`"
    val resolved = w.resolveSql(sql)
    assert(resolved != sql, "the relation was not resolved to a view")
    val vn = resolved.substring(resolved.indexOf('`') + 1, resolved.lastIndexOf('`'))
    val catalog = spark.sessionState.catalog
    val first = catalog.getRawTempView(vn).get
    assert(w.resolveSql(sql) == resolved)
    assert(catalog.getRawTempView(vn).get eq first,
      "an unchanged relation was registered again")
    w.append(df(Seq((2L, "b", 2.0))), r)
    assert(w.resolveSql(sql) == resolved)
    val second = catalog.getRawTempView(vn).get
    assert(!(second eq first), "a new commit was not registered")
    assert(spark.sql(resolved).count() == 2)
    // a registration made behind the warehouse's back is replaced
    spark.range(1).createOrReplaceTempView(vn)
    w.resolveSql(sql)
    assert(spark.sql(resolved).count() == 2)
  }

  test("a source rewritten in place with a new column is re-read by the next build") {
    val dir = tmp("graft_zj_rewrite")
    val src = parquetFile(df(Seq((1L, "a", 1.0))), dir, "src.parquet")
    val p = Project(name = "p",
      sources = Seq(SourceDef("raw", "src", src)),
      models = Seq(ModelDef("m",
        "{{ config(materialized='table') }}\nSELECT * FROM {{ source('raw', 'src') }}")))
    val e = new Engine(spark, p, Target(tmp("graft_zj_eng")))
    assert(e.build()._1.forall(_.status == "success"))
    assert(e.readModel("m").columns.toSeq == Seq("id", "name", "score"))
    parquetFile(df(Seq((2L, "b", 2.0), (3L, "c", 3.0)))
      .withColumn("added", lit(7)), dir, "src.parquet")
    assert(e.build()._1.forall(_.status == "success"))
    val m = e.readModel("m")
    assert(m.columns.toSeq == Seq("id", "name", "score", "added"))
    assert(m.collect().map(_.getAs[Int]("added")).toSeq == Seq(7, 7))
  }

  test("a filter on a resolved source still reaches the scan's PushedFilters") {
    val dir = tmp("graft_zj_push")
    val src = parquetFile(df(Seq((1L, "a", 1.0), (3L, "c", 3.0))), dir, "src.parquet")
    val w = new Warehouse(spark, tmp("graft_zj_wh"))
    val q = spark.sql(w.resolveSql(s"SELECT name FROM parquet.`$src` WHERE id = 3"))
    assert(q.collect().map(_.getString(0)).toSeq == Seq("c"))
    val scan = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("EqualTo(id,3)"), pushed)
  }

  test("a failing start() leaves the session's shuffle width unchanged") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("graft.stream.statePartitions", "1")
    try {
      // Complete mode over a stream with no aggregation: start() refuses
      val stream = spark.readStream.format("rate").load()
      intercept[Exception] {
        StreamingJobs.runToMemory(spark, stream, "zj_bad_start",
          OutputMode.Complete())
      }
      assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    } finally spark.conf.unset("graft.stream.statePartitions")
  }

  test("src/main plans scans from footers: no inference or range(1) job comes back") {
    // these calls launch a Spark job only to learn a schema or a clock;
    // either reappearing in core or materialize brings the job back
    val banned = Seq("inferSchema(", ".range(1)")
    val roots = Seq("src/main/scala/graft/core", "src/main/scala/graft/materialize")
    val sources = roots.flatMap { r =>
      val walk = Files.walk(Paths.get(r))
      try walk.iterator().asScala.filter(p =>
          Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
        finally walk.close()
    }
    assert(sources.nonEmpty, "src/main not found from the test working dir")
    // parquet's one-argument open builds default read options, which
    // parse a fresh Hadoop Configuration on every footer open
    val open = "ParquetFileReader.open("
    def oneArgOpen(text: String): Boolean =
      Iterator.iterate(text.indexOf(open))(i => text.indexOf(open, i + 1))
        .takeWhile(_ >= 0).exists { i =>
          val args = text.drop(i + open.length)
          val depths = args.scanLeft(1) {
            case (d, '(') => d + 1; case (d, ')') => d - 1; case (d, _) => d }
          val end = depths.indexOf(0) - 1
          !args.take(end).zip(depths).exists { case (c, d) => c == ',' && d == 1 }
        }
    val hits = for {
      p <- sources
      text = new String(Files.readAllBytes(p), "UTF-8")
      b <- banned.filter(text.contains) ++
        Seq(s"one-argument $open").filter(_ => oneArgOpen(text))
    } yield s"$p: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
