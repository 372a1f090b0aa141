package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Per-version-dir Bloom sidecars ([[BloomStats]]): point-lookup file
  * skipping where min/max ranges can't help — interleaved keys give every
  * dir the SAME range, so any pruning observed here is the bloom's alone.
  */
class BloomSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private lazy val localFs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("sidecar round-trip; torn sidecar rejected whole") {
    val s = spark; import s.implicits._
    val df = (1L to 100L).map(i => (i, s"k$i")).toDF("id", "name")
    val blooms = BloomStats.build(df, Seq("id", "name", "missing"), 100L, 0.01)
    assert(blooms.keySet == Set("id", "name"))
    assert(blooms("id").mightContainLong(42L))
    assert(blooms("name").mightContainString("k42"))
    assert(!blooms("id").mightContainLong(5000L) ||
      !blooms("name").mightContainString("k5000")) // both FP simultaneously: ~0

    val dir = new Path(Files.createTempDirectory("graft_bloom_rt").toString)
    BloomStats.write(localFs, dir, blooms)
    val back = BloomStats.read(localFs, dir).get
    assert(back.keySet == Set("id", "name"))
    assert(back("id").mightContainLong(42L) && !back("id").mightContainLong(987654L))

    // torn: drop the trailer
    val p = new Path(dir, BloomStats.SidecarName)
    val txt = new String(
      org.apache.commons.io.IOUtils.toByteArray(localFs.open(p)), "UTF-8")
    val out = localFs.create(p, true)
    out.write(txt.substring(0, txt.lastIndexOf("end ")).getBytes("UTF-8"))
    out.close()
    assert(BloomStats.read(localFs, dir).isEmpty, "torn sidecar must parse to None")
  }

  test("provesAbsent: And prunes on either side, Or needs both, In needs all") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val s = spark; import s.implicits._
    val blooms = BloomStats.build(
      (1L to 50L).map(i => (i, s"k$i")).toDF("id", "name"),
      Seq("id", "name"), 50L, 0.001)
    val id = AttributeReference("id", LongType)()
    val name = AttributeReference("name", StringType)()
    val rsv: (String, String) => Boolean = _.equalsIgnoreCase(_)
    def eqL(v: Long) = EqualTo(id, Literal(v, LongType))
    def eqS(v: String) = EqualTo(name, Literal(UTF8String.fromString(v), StringType))
    assert(BloomStats.provesAbsent(blooms, eqL(9999L), rsv))
    assert(!BloomStats.provesAbsent(blooms, eqL(7L), rsv))
    assert(BloomStats.provesAbsent(blooms, And(eqL(7L), eqS("nope")), rsv))
    assert(!BloomStats.provesAbsent(blooms, Or(eqL(9999L), eqL(7L)), rsv))
    assert(BloomStats.provesAbsent(blooms, Or(eqL(9999L), eqS("nope")), rsv))
    assert(!BloomStats.provesAbsent(blooms,
      In(id, Seq(Literal(9999L, LongType), Literal(7L, LongType))), rsv))
    assert(BloomStats.provesAbsent(blooms,
      In(id, Seq(Literal(9999L, LongType), Literal(8888L, LongType))), rsv))
    // a null literal disables the whole In (null semantics: no proof)
    assert(!BloomStats.provesAbsent(blooms,
      In(id, Seq(Literal(9999L, LongType), Literal(null, LongType))), rsv))
    // unconfigured column proves nothing
    val other = AttributeReference("other", LongType)()
    assert(!BloomStats.provesAbsent(blooms, EqualTo(other, Literal(1L, LongType)), rsv))
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.head
  }

  test("point lookups plan only bloom-positive dirs; ranges alone cannot prune here") {
    val root = Files.createTempDirectory("graft_bloom_wh").toString
    val s = spark; import s.implicits._
    spark.conf.set("graft.bloom.fpp", "0.001")
    try {
      val wh = new Warehouse(spark, root)
      val r = Relation("db", "sch", "t_bloom")
      // dir k holds ids ≡ k (mod 5) over 0..499: every dir spans ~the
      // whole [k, 495+k] range — min/max stats are structurally blind
      (0 to 4).foreach { k =>
        wh.append((0L to 499L).filter(_ % 5 == k)
          .map(i => (i, s"key_$i")).toDF("id", "name").coalesce(1), r,
          bloomCols = Seq("id", "name"))
      }
      val one = scanOf(wh.read(r).filter($"id" === 7L))
      assert(one.metrics("numFiles").value == 1,
        s"id=7 lives in exactly one dir, planned ${one.metrics("numFiles").value} of 5")
      val two = scanOf(wh.read(r).filter($"id".isin(7L, 103L)))
      assert(two.metrics("numFiles").value == 2,
        "IN over two residue classes must plan two dirs")
      val zero = scanOf(wh.read(r).filter($"id" === 9999L))
      assert(zero.metrics("numFiles").value == 0, "absent key plans nothing")
      val str = scanOf(wh.read(r).filter($"name" === "key_103"))
      assert(str.metrics("numFiles").value == 1, "string probe prunes too")
      // a pure range filter must not even load the sidecars — and cannot
      // prune, since every dir's range covers it
      val rng = scanOf(wh.read(r).filter($"id" >= 250L && $"id" <= 260L))
      assert(rng.metrics("numFiles").value == 5,
        "interleaved ranges prove min/max alone cannot skip here")

      // kill switch: full scan, same rows
      spark.conf.set("graft.bloom.enabled", "false")
      try {
        val wh2 = new Warehouse(spark, root)
        val off = scanOf(wh2.read(r).filter($"id" === 7L))
        assert(off.metrics("numFiles").value == 5)
        assert(wh2.read(r).filter($"id" === 7L).count() == 1)
      } finally spark.conf.unset("graft.bloom.enabled")
      assert(wh.read(r).filter($"id" === 7L).count() == 1)
      assert(wh.read(r).filter($"id".isin(7L, 103L)).count() == 2)
    } finally spark.conf.unset("graft.bloom.fpp")
  }

  test("compaction rebuilds the bloom for the merged dir") {
    // no session conf: the appends ask for the bloom, and compaction
    // must keep it on the dir that replaces theirs
    val root = Files.createTempDirectory("graft_bloom_cmp").toString
    val s = spark; import s.implicits._
    val wh = new Warehouse(spark, root)
    val r = Relation("db", "sch", "t_bloom_cmp")
    // even ids only: an odd id is absent but inside every range, so
    // only the bloom can prune its probe
    (0 to 4).foreach { k =>
      wh.append((0L to 99L).filter(_ % 5 == k).map(i => (2 * i, i)).toDF("id", "v"), r,
        bloomCols = Seq("id"))
    }
    assert(wh.compactTable(r, maxEntries = 2))
    assert(wh.bloomsFor(r, "id").exists(_.size == 1),
      "the compacted dir must carry a fresh bloom")
    val hit = scanOf(wh.read(r).filter($"id" === 14L))
    assert(hit.metrics("numFiles").value >= 1)
    assert(wh.read(r).filter($"id" === 14L).count() == 1)
    val miss = scanOf(wh.read(r).filter($"id" === 77L))
    assert(miss.metrics("numFiles").value == 0,
      "an absent in-range key must be pruned by the compacted dir's bloom")
    assert(wh.read(r).filter($"id" === 77L).count() == 0)
  }
}
