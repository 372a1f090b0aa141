package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Zero-copy clone (`dbt clone` / Delta shallow clone): the manifest-
  * pointer mechanics the o_clone lifecycle query can't isolate —
  * zero data files written, pinning against later source commits,
  * independent evolution, clone-of-clone, and an adopted plain-layout
  * source, whose entries point into its relation dir.
  */
class CloneSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def wh() =
    new Warehouse(spark, Files.createTempDirectory("graft_clone").toString)

  private def parquetFilesUnder(root: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(root)).map(_.getPath)
      .filter(_.endsWith(".parquet"))
  }

  test("manifest clone writes no data files; reads match; later source commits don't leak") {
    val src = wh(); val dst = wh()
    val r = Relation("wh", "main", "t")
    src.writeAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), r)
    dst.cloneFrom(src, r, r)
    // zero-copy: not a single parquet file under the clone's root
    assert(parquetFilesUnder(dst.root).isEmpty)
    assert(dst.read(r).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // source moves on — the clone stays pinned at clone-time state
    src.append(Seq((3L, "c")).toDF("id", "s"), r)
    src.writeAtomic(Seq((9L, "z")).toDF("id", "s"), r)
    assert(dst.read(r).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("clone evolves independently; source never sees clone writes") {
    val src = wh(); val dst = wh()
    val r = Relation("wh", "main", "t")
    src.writeAtomic(Seq((1L, "a")).toDF("id", "s"), r)
    dst.cloneFrom(src, r, r)
    dst.append(Seq((2L, "b")).toDF("id", "s"), r)
    assert(dst.read(r).count() == 2)
    assert(src.read(r).count() == 1)
    // an overwrite on the clone drops the pointers entirely — fully local
    dst.writeAtomic(Seq((7L, "x")).toDF("id", "s"), r)
    assert(dst.read(r).as[(Long, String)].collect().toSet == Set((7L, "x")))
    assert(src.read(r).count() == 1)
  }

  test("clone of a clone; partitioned source keeps partition entries") {
    val a = wh(); val b = wh(); val c = wh()
    val r = Relation("wh", "main", "p")
    a.writeAtomic(Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("id", "k"),
      r, partitionCols = Seq("k"))
    b.cloneFrom(a, r, r)
    c.cloneFrom(b, r, r)
    assert(parquetFilesUnder(c.root).isEmpty)
    assert(c.read(r).as[(Long, String)].collect().toSet ==
      Set((1L, "x"), (2L, "y"), (3L, "x")))
    // partition pruning still works through the absolute pointers
    assert(c.read(r).filter($"k" === "x").count() == 2)
  }

  test("an adopted plain-layout source clones as pointers: zero files written, pinned") {
    val src = wh(); val dst = wh()
    val r = Relation("wh", "main", "t")
    // a relation written before the manifest protocol: bare parquet files
    Seq((1L, "a")).toDF("id", "s").write.parquet(src.path(r))
    // no manifest to point through: refused, naming the way out
    val e = intercept[IllegalStateException](dst.cloneFrom(src, r, r))
    assert(e.getMessage.contains("`adopt`"), e.getMessage)
    assert(src.adopt(r))
    dst.cloneFrom(src, r, r)
    assert(parquetFilesUnder(dst.root).isEmpty)
    assert(dst.manifestEntries(r).contains(Seq((src.path(r), ""))))
    assert(dst.read(r).as[(Long, String)].collect().toSet == Set((1L, "a")))
    src.append(Seq((2L, "b")).toDF("id", "s"), r)
    assert(dst.read(r).as[(Long, String)].collect().toSet == Set((1L, "a")))
  }
}
