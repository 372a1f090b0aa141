package graft

import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.core._
import graft.materialize._
import graft.streaming.StreamingJobs

/** The warehouse's local IO and a streaming sink's writes start no OS
  * process. Hadoop's stock local filesystem forks `chmod` per created
  * file and `ls -ld` per permission read when no native library is
  * loaded; the JDK's own flight recorder records every process start
  * (`jdk.ProcessStart`) with its command line. Commands carry the path
  * they act on, so each assertion looks only at commands that name the
  * dir under test — process starts of other code in the JVM cannot make
  * it fail.
  */
class ProcessStartSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Commands of the processes started while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out: JPath = Files.createTempFile("graft_process_starts", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(out); () }
  }

  test("the recorder sees the stock local filesystem's forks") {
    assume(!NativeIO.isAvailable, "native Hadoop IO is loaded: nothing forks")
    val dir = Files.createTempDirectory("graft_ps_stock").toString
    val stock = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val cmds = processStarts {
      stock.create(new Path(dir, "f.txt"), true).close()
      stock.listFiles(new Path(dir), true).next().getPermission
      ()
    }
    assert(cmds.exists(_.contains(dir)), cmds)
  }

  test("writes, merges, compaction, snapshots and view defs fork nothing " +
       "under the warehouse root") {
    val root = Files.createTempDirectory("graft_ps_wh").toString
    val wh = new Warehouse(spark, root)
    val s = spark
    import s.implicits._
    val rel = Relation("db", "s", "parts")
    val snapRel = Relation("db", "s", "snap")
    def ts(d: String) = Timestamp.valueOf(s"$d 00:00:00")
    val cmds = processStarts {
      wh.writeAtomic((0L until 200L).map(i => (i, s"v$i", i % 20)).toDF("id", "v", "p"),
        rel, partitionCols = Seq("p"))
      wh.append(Seq((1000L, "a", 3L)).toDF("id", "v", "p"), rel, Seq("p"))
      wh.replacePartitions(Seq((2000L, "r", 4L), (2001L, "r", 5L)).toDF("id", "v", "p"),
        rel, Seq("p"))
      assert(wh.compactPartitions(rel, Seq("p"), maxFiles = 1).nonEmpty)
      val snap = new Snapshotter(wh)
      val strat = SnapshotStrategy.Timestamp("updated_at")
      snap.snapshot(Seq((1L, "a", ts("2024-01-01")), (2L, "b", ts("2024-02-01")))
        .toDF("id", "payload", "updated_at"), snapRel, Seq("id"), strat)
      snap.snapshot(Seq((1L, "a2", ts("2024-03-01")), (2L, "b", ts("2024-02-01")),
          (3L, "c", ts("2024-03-01"))).toDF("id", "payload", "updated_at"),
        snapRel, Seq("id"), strat)
      wh.saveViewDef(Relation("db", "s", "v"), "SELECT 1 AS one")
    }
    assert(wh.read(rel).count() == 183L) // 200 + 1 appended - 2 x 10 replaced + 2
    assert(wh.read(snapRel).count() == 4L)
    val underRoot = cmds.filter(_.contains(root))
    assert(underRoot.isEmpty,
      s"${underRoot.size} process starts name the warehouse root, e.g. " +
        underRoot.take(3).mkString("; "))
  }

  test("a streaming sink's per-batch parquet writes fork nothing under the sink") {
    val src = Files.createTempDirectory("graft_ps_stream").resolve("in").toString
    spark.range(20).selectExpr("id", "id % 3 AS k").write.parquet(src)
    val stream = spark.readStream.schema("id BIGINT, k BIGINT").parquet(src)
    var rows = 0L
    val cmds = processStarts {
      rows = StreamingJobs.runToMemory(spark, stream, "ps_sink", OutputMode.Append())
        .count()
    }
    assert(rows == 20L)
    val underSink = cmds.filter(_.contains("sink_ps_sink"))
    assert(underSink.isEmpty,
      s"${underSink.size} process starts name the sink dir, e.g. " +
        underSink.take(3).mkString("; "))
  }
}
