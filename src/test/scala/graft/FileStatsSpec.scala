package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Planning-time file skipping from per-file column ranges ([[FileStats]]):
  * the sidecar format round-trips, the `mayContain` evaluator is
  * conservative (skips only on proof), and end-to-end a filtered manifest
  * read plans only the files whose recorded ranges can match — with the
  * kill switch (`graft.stats.enabled=false`) restoring the unskipped scan
  * and identical rows.
  */
class FileStatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val resolver: (String, String) => Boolean = _.equalsIgnoreCase(_)

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def localFs =
    new Path("/").getFileSystem(new org.apache.hadoop.conf.Configuration())

  // ------------------------------------------------------------ sidecar IO

  test("sidecar round-trips, including tab/newline string bounds and unknown null counts") {
    val stats: FileStats.PerFile = Map(
      "part-0001.parquet" -> Map(
        "id" -> FileStats.Col("int64", hasNulls = false, nullsKnown = true,
          Some("100"), Some("200")),
        "name" -> FileStats.Col("string", hasNulls = true, nullsKnown = true,
          Some(b64("a\tb\nc")), Some(b64("züm"))),
        "allnull" -> FileStats.Col("double", hasNulls = true, nullsKnown = true,
          None, None)),
      "part-0002.parquet" -> Map(
        // unknown null count is only ever recorded as conservatively
        // nullable — (hasNulls=false, nullsKnown=false) is unrepresentable
        "score" -> FileStats.Col("double", hasNulls = true, nullsKnown = false,
          Some("-1.5"), Some("3.25"))))
    val dir = new Path(Files.createTempDirectory("graft_stats").toString)
    FileStats.write(localFs, dir, stats)
    assert(FileStats.read(localFs, dir).contains(stats))
  }

  test("torn or truncated sidecar is rejected whole, never half-parsed") {
    val dir = new Path(Files.createTempDirectory("graft_stats_torn").toString)
    FileStats.write(localFs, dir, Map(
      "f.parquet" -> Map("id" -> FileStats.Col("int64", hasNulls = false,
        nullsKnown = true, Some("1"), Some("2")))))
    val p = java.nio.file.Paths.get(dir.toString, FileStats.SidecarName)
    val bytes = java.nio.file.Files.readAllBytes(p)
    java.nio.file.Files.write(p, bytes.dropRight(3)) // tear the trailer
    assert(FileStats.read(localFs, dir).isEmpty)
    assert(FileStats.read(localFs, new Path(dir, "missing")).isEmpty)
  }

  // -------------------------------------------------------- mayContain

  private val cols: Map[String, FileStats.Col] = Map(
    "id" -> FileStats.Col("int64", hasNulls = false, nullsKnown = true,
      Some("100"), Some("200")),
    "name" -> FileStats.Col("string", hasNulls = false, nullsKnown = true,
      Some(b64("b")), Some(b64("f"))),
    "maybe" -> FileStats.Col("double", hasNulls = true, nullsKnown = true,
      Some("0.0"), Some("1.0")),
    "allnull" -> FileStats.Col("int32", hasNulls = true, nullsKnown = true,
      None, None))

  private val id = AttributeReference("id", LongType)()
  private val name = AttributeReference("name", StringType)()
  private val maybe = AttributeReference("maybe", DoubleType)()
  private val allnull = AttributeReference("allnull", IntegerType)()
  private def may(e: Expression): Boolean = FileStats.mayContain(cols, e, resolver)

  test("mayContain prunes only on proof: range comparisons") {
    assert(may(EqualTo(id, Literal(150L))))
    assert(may(EqualTo(id, Literal(100L))) && may(EqualTo(id, Literal(200L))))
    assert(!may(EqualTo(id, Literal(99L))) && !may(EqualTo(id, Literal(201L))))
    assert(!may(EqualTo(Literal(5L), id))) // flipped sides
    assert(!may(GreaterThan(id, Literal(200L))))
    assert(may(GreaterThanOrEqual(id, Literal(200L))))
    assert(!may(LessThan(id, Literal(100L))))
    assert(may(LessThanOrEqual(id, Literal(100L))))
    assert(!may(LessThan(Literal(300L), id))) // 300 < id is id > 300
    assert(may(GreaterThan(Literal(300L), id))) // 300 > id is id < 300
    // strings compare in UTF8String (unsigned byte) order
    assert(may(EqualTo(name, Literal("cat"))))
    assert(!may(EqualTo(name, Literal("a"))))
    assert(!may(GreaterThanOrEqual(name, Literal("g"))))
  }

  test("mayContain: null predicates, IN, conjunctions, and the conservative default") {
    assert(!may(IsNull(id)) && may(IsNull(maybe)) && may(IsNull(allnull)))
    assert(may(IsNotNull(id)) && !may(IsNotNull(allnull)))
    assert(may(In(id, Seq(Literal(1L), Literal(150L)))))
    assert(!may(In(id, Seq(Literal(1L), Literal(99L)))))
    assert(!may(And(EqualTo(id, Literal(150L)), EqualTo(name, Literal("a")))))
    assert(may(Or(EqualTo(id, Literal(1L)), EqualTo(name, Literal("cat")))))
    // unknown column, unknown shape, cross-type literal: always keep
    assert(may(EqualTo(AttributeReference("ghost", LongType)(), Literal(1L))))
    assert(may(EqualTo(Abs(id), Literal(1L))))
    assert(may(EqualTo(id, Literal("150")))) // string literal vs int64 stats
  }

  test("collect caps recorded columns deterministically by name") {
    val dir = Files.createTempDirectory("graft_stats_cap").toString
    spark.range(10).select(
      col("id").as("e"), col("id").as("a"), col("id").as("c"),
      col("id").as("b"), col("id").as("d"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val files = localFs.listStatus(new Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
    assert(files.size == 1)
    val (rows, stats) = FileStats.footer(
      spark.sparkContext.hadoopConfiguration, files.head, maxCols = 2)
    assert(rows == 10L)
    assert(stats.keySet == Set("a", "b"))
    val a = stats("a")
    assert(a.min.contains("0") && a.max.contains("9"))
  }

  // ------------------------------------------------------- end to end

  private def scanOf(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.head
  }

  test("manifest read plans only in-range files; kill switch restores full scan, same rows") {
    val root = Files.createTempDirectory("graft_stats_wh").toString
    val wh = new Warehouse(spark, root)
    val r = Relation("db", "sch", "t_skip")
    val s = spark; import s.implicits._
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1)
    wh.writeAtomic(batch(1, 100), r)
    wh.append(batch(1001, 1100), r)
    wh.append(batch(2001, 2100), r)

    // the write path left one sidecar per version dir
    val mfRoot = new Path(wh.path(r), "_graft")
    val sidecars = localFs.listStatus(mfRoot).filter(_.isDirectory)
      .map(d => localFs.exists(new Path(d.getPath, FileStats.SidecarName)))
    assert(sidecars.length == 3 && sidecars.forall(identity),
      "every version dir must carry a stats sidecar")

    val low = scanOf(wh.read(r).filter($"id" <= 100L))
    assert(low.metrics("numFiles").value == 1,
      s"one of three files is in range, planned ${low.metrics("numFiles").value}")
    val two = scanOf(wh.read(r).filter($"id" >= 1001L))
    assert(two.metrics("numFiles").value == 2)
    val none = scanOf(wh.read(r).filter($"id" === 5000L))
    assert(none.metrics("numFiles").value == 0)
    // lexicographically "n2050" sits inside the first file's [n1, n99]
    // string range but past the second's [n1001, n1100] max — string
    // bounds prune exactly that one
    val str = scanOf(wh.read(r).filter($"name" === "n2050"))
    assert(str.metrics("numFiles").value == 2,
      "string bounds must skip the n1001..n1100 file")

    // rows are identical with skipping off — a fresh instance, cache apart
    assert(wh.read(r).filter($"id" <= 100L).count() == 100)
    spark.conf.set("graft.stats.enabled", "false")
    try {
      val wh2 = new Warehouse(spark, root)
      val off = scanOf(wh2.read(r).filter($"id" <= 100L))
      assert(off.metrics("numFiles").value == 3,
        "kill switch must disable skipping")
      assert(wh2.read(r).filter($"id" <= 100L).count() == 100)
    } finally spark.conf.unset("graft.stats.enabled")
  }

  test("skipping composes with partition pruning across version dirs") {
    val root = Files.createTempDirectory("graft_stats_part").toString
    val wh = new Warehouse(spark, root)
    val r = Relation("db", "sch", "t_skip_part")
    val s = spark; import s.implicits._
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, if (i % 2 == 0) "even" else "odd"))
        .toDF("id", "side").repartition(1)
    wh.writeAtomic(batch(1, 100), r, partitionCols = Seq("side"))
    wh.append(batch(1001, 1100), r, partitionCols = Seq("side"))
    // 2 partitions x 2 version dirs = 4 files; partition filter keeps 2,
    // stats filter keeps 1
    val both = scanOf(wh.read(r).filter($"side" === "even" && $"id" > 1000L))
    assert(both.metrics("numFiles").value == 1,
      s"partition pruning + file skipping must plan 1 of 4 files, " +
        s"planned ${both.metrics("numFiles").value}")
    assert(wh.read(r).filter($"side" === "even" && $"id" > 1000L).count() == 50)
  }

  test("same-named files across partition leaves keep their own stats") {
    // one task writes EVERY leaf of a partitioned write, so the same
    // part-00000-<jobUUID> file name lands in both side=a and side=b.
    // Their id ranges are DISJOINT: a bare-name-keyed stats map (the
    // pre-fix format) collapses the two files into one entry and applies
    // one leaf's range to the other — wrongly skipping it. The
    // dir-relative compound key must keep both, with pruning still live.
    val root = Files.createTempDirectory("graft_stats_collide").toString
    val wh = new Warehouse(spark, root)
    val r = Relation("db", "sch", "t_collide")
    val s = spark; import s.implicits._
    val df = ((1L to 50L).map(i => (i, "a")) ++
      (1001L to 1050L).map(i => (i, "b")))
      .toDF("id", "side").coalesce(1)
    wh.writeAtomic(df, r, partitionCols = Seq("side"))
    // correctness: every row reachable through a data-column filter
    assert(wh.read(r).filter($"id" >= 1001L).count() == 50)
    assert(wh.read(r).filter($"id" <= 50L).count() == 50)
    // and the skipping itself still fires per file
    assert(scanOf(wh.read(r).filter($"id" >= 1001L))
      .metrics("numFiles").value == 1)
    assert(scanOf(wh.read(r).filter($"id" <= 50L))
      .metrics("numFiles").value == 1)
  }
}
