package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Z-order write clustering ([[ZOrder]]): the interleaved key matches the
  * driver-side reference bit-for-bit, degenerate dimensions degrade to
  * rank 0 instead of failing, and end-to-end a z-ordered table's
  * FileStats ranges let a box query plan a fraction of the files a
  * linear layout plans — with identical rows either way (layout can
  * never change results).
  */
class ZOrderSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("zvalue expression matches the reference interleave on a 2-D grid") {
    val s = spark; import s.implicits._
    val bits = 4 // 16x16 rank space over a 16x16 grid: rank == value
    val df = (for (x <- 0 until 16; y <- 0 until 16) yield (x, y))
      .toDF("x", "y")
    val z = ZOrder.zvalue(
      Seq((col("x").cast("double"), (0.0, 15.0)),
          (col("y").cast("double"), (0.0, 15.0))), bits)
    df.select(col("x"), col("y"), z.as("z")).collect().foreach { r =>
      val expect = ZOrder.interleaveRef(
        Seq(r.getInt(0).toLong, r.getInt(1).toLong), bits)
      assert(r.getLong(2) == expect, s"(${r.getInt(0)},${r.getInt(1)})")
    }
    // interleaving is monotone in each dim with the other fixed at 0
    assert(ZOrder.interleaveRef(Seq(3L, 0L), 4) <
      ZOrder.interleaveRef(Seq(4L, 0L), 4))
  }

  test("degenerate dimensions rank 0; unsupported types refuse loudly") {
    val s = spark; import s.implicits._
    val df = Seq((1.0, 7L, "a"), (1.0, 9L, "b"))
      .toDF("const", "v", "name")
    // constant column: min==max is a degenerate range, whole dim ranks 0;
    // the OTHER dim must still spread
    val z = ZOrder.zvalue(
      Seq((col("const"), (1.0, 1.0)), (col("v").cast("double"), (7.0, 9.0))),
      bits = 2)
    val zs = df.select(z).as[Long].collect().toSet
    assert(zs.size == 2, "non-degenerate dim must still discriminate")
    // nulls rank 0 (lowest corner), no NPE
    val zn = Seq[(java.lang.Double, java.lang.Long)]((null, 8L))
      .toDF("const", "v")
      .select(ZOrder.zvalue(Seq((col("const"), (0.0, 1.0)),
        (col("v").cast("double"), (7.0, 9.0))), 2))
      .as[Long].head()
    assert(zn >= 0L)
    intercept[IllegalArgumentException] {
      ZOrder.layout(df, Seq("name"), Some(2))
    }
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.metrics("numFiles").value }.sum
  }

  test("box query on a z-ordered table plans a fraction of a linear layout's files") {
    val s = spark; import s.implicits._
    // 64x64 grid, hash-scrambled input order so layout does the work
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong))
      .toDF("x", "y")
      .repartition(8, expr("hash(x, y)"))
    val root = Files.createTempDirectory("graft_zorder").toString
    val wh = new Warehouse(spark, root)
    spark.conf.set("graft.zorder.partitions", "16")
    try {
      val rz = Relation("db", "sch", "t_z")
      wh.writeAtomic(grid, rz, zorderCols = Seq("x", "y"))
      val rl = Relation("db", "sch", "t_linear")
      // linear contrast: range-distributed + sorted on x only
      wh.writeAtomic(grid.repartitionByRange(16, col("x"))
        .sortWithinPartitions("x"), rl)

      // stripe on the SECOND dimension: linear-by-x has y spanning the
      // full domain in every file — nothing skips; z-order confines y
      val zPlanned = plannedFiles(wh.read(rz).filter($"y" < 16L))
      val lPlanned = plannedFiles(wh.read(rl).filter($"y" < 16L))
      assert(lPlanned == 16L, s"linear layout must plan all files, got $lPlanned")
      assert(zPlanned * 2 <= lPlanned,
        s"z-order must plan at most half the files: $zPlanned vs $lPlanned")

      // 2-D box: both dims constrained — z-order locality compounds
      val box = $"x" < 16L && $"y" < 16L
      val zBox = plannedFiles(wh.read(rz).filter(box))
      assert(zBox <= 4L, s"16x16 box over 16 files must plan <=4, got $zBox")

      // layout never changes results
      assert(wh.read(rz).filter(box).count() == 256L)
      assert(wh.read(rz).orderBy("x", "y").collect().toSeq ==
        wh.read(rl).orderBy("x", "y").collect().toSeq)
    } finally spark.conf.unset("graft.zorder.partitions")
  }

  test("z-order file-skip fraction holds at 10x the rows (SCALE.md datapoint)") {
    val s = spark; import s.implicits._
    // same box query, 1× and 10× row counts, same file count: the
    // planned-file FRACTION must hold at both scales, so the pruned box
    // read is ∝ selected region, not table size — the property that
    // makes the sf0.1→sf1 bench pair (1.81 s → 8.39 s write-dominated,
    // read leg constant-ish) extrapolate to 100 TB.
    spark.conf.set("graft.zorder.partitions", "16")
    val root = Files.createTempDirectory("graft_zorder10x").toString
    val wh = new Warehouse(spark, root)
    try {
      for ((side, tag) <- Seq((64, "x1"), (202, "x10"))) {
        val grid = (for (x <- 0 until side; y <- 0 until side)
          yield (x.toLong, y.toLong)).toDF("x", "y")
          .repartition(8, expr("hash(x, y)"))
        val r = Relation("db", "sch", s"t_z_$tag")
        wh.writeAtomic(grid, r, zorderCols = Seq("x", "y"))
        val q = side / 4 // box = 1/16 of the area at either scale
        val planned = plannedFiles(
          wh.read(r).filter($"x" < q.toLong && $"y" < q.toLong))
        assert(planned <= 4L,
          s"$tag: quarter-side box over 16 z-ordered files must plan <=4, " +
            s"got $planned")
        assert(wh.read(r).filter($"x" < q.toLong && $"y" < q.toLong)
          .count() == q.toLong * q)
      }
    } finally spark.conf.unset("graft.zorder.partitions")
  }

  test("compactTable --zorder: appends re-cluster into a skippable layout") {
    val s = spark; import s.implicits._
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_zcompact").toString)
    val r = Relation("db", "sch", "t_stream_z")
    // streamed appends arrive in TIME order: every batch holds the full
    // x/y domain, so pre-compaction nothing can skip on content keys
    spark.conf.set("graft.zorder.partitions", "16")
    try {
      (0 until 8).foreach { b =>
        val batch = (for (x <- 0 until 64; y <- 0 until 64
                          if (x * 64 + y) % 8 == b)
          yield (x.toLong, y.toLong)).toDF("x", "y")
          // hash-scrambled split: BOTH files span the full x/y domain, so
          // pre-compaction min/max sidecars cannot skip either
          .repartition(2, expr("hash(x, y)"))
        assert(wh.appendStreamBatch(batch, r, "s", b.toLong))
      }
      val before = plannedFiles(wh.read(r).filter($"x" < 16L && $"y" < 16L))
      assert(before == 16L,
        s"time-ordered appends must plan every file, got $before")

      assert(wh.compactTable(r, maxEntries = 2, zorderCols = Seq("x", "y")))
      // one entry, identical rows, watermark survives — same contract as
      // plain compaction
      assert(wh.manifestEntries(r).get.map(_._1).distinct.size == 1)
      assert(wh.read(r).count() == 64L * 64L)
      assert(wh.streamWatermark(r, "s").contains(7L))
      // and now the box query skips: the z-curve confined both dims
      val after = plannedFiles(wh.read(r).filter($"x" < 16L && $"y" < 16L))
      assert(after * 2 <= before,
        s"z-ordered compaction must halve planned files: $after vs $before")
    } finally spark.conf.unset("graft.zorder.partitions")
  }

  test("z-order layout costs exactly one range exchange; partitioned writes z-sort in place") {
    val s = spark; import s.implicits._
    val df = (0 until 256).map(i => (i.toLong, (i * 37 % 256).toLong))
      .toDF("a", "b")
    val laid = ZOrder.layout(df, Seq("a", "b"), Some(4))
    val p = laid.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 1, s"one exchange expected:\n$p")
    assert(p.contains("rangepartitioning"), s"range distribution expected:\n$p")

    // partitioned + zorderCols: partition dirs intact, rows intact
    val root = Files.createTempDirectory("graft_zorder_part").toString
    val wh = new Warehouse(spark, root)
    val r = Relation("db", "sch", "t_zp")
    val part = df.withColumn("side", when($"a" % 2 === 0, "even").otherwise("odd"))
    wh.writeAtomic(part, r, partitionCols = Seq("side"), zorderCols = Seq("a", "b"))
    assert(wh.read(r).count() == 256L)
    assert(wh.listPartitions(r).toSet == Set("side=even", "side=odd"))
    intercept[IllegalArgumentException] {
      wh.writeAtomic(df, Relation("db", "sch", "t_bad"),
        clusterCols = Seq("a"), zorderCols = Seq("b"))
    }
  }
}
