package graft

import java.nio.file.{Files, Paths, Path => JPath}
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.core._

/** [[NioLocalFileSystem]] writes what the stock local filesystem writes
  * (paths, bytes, `.crc` siblings, mode bits) and reports the same
  * permission, owner and group through every status call; a session's
  * own `fs.file.impl` wins over it.
  */
class LocalFsParitySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val conf = new Configuration() // umask 022, Hadoop's default
  private def initialized(f: LocalFileSystem): LocalFileSystem = {
    f.initialize(java.net.URI.create("file:///"), conf); f
  }
  private lazy val stock = initialized(new LocalFileSystem())
  private lazy val nio = initialized(new NioLocalFileSystem)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0xfff

  /** Every path under `root`, relative, with its mode and file bytes. */
  private def tree(root: String, rename: String => String = identity)
      : Map[String, (Int, Option[Seq[Byte]])] = {
    val r = Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator().asScala.filter(_ != r).map { p =>
      rename(r.relativize(p).toString) -> (mode(p),
        if (Files.isRegularFile(p)) Some(Files.readAllBytes(p).toSeq) else None)
    }.toMap
    finally walk.close()
  }

  private def writeTree(fs: FileSystem, root: String): Unit = {
    fs.mkdirs(new Path(root, "a/b"))
    Seq("a/x.txt", "a/b/y.txt", "z.txt").foreach { f =>
      val out = fs.create(new Path(root, f), true)
      try out.write(s"body of $f".getBytes("UTF-8")) finally out.close()
    }
  }

  test("the same tree, bytes, .crc files and mode bits as the stock FS") {
    val a = Files.createTempDirectory("graft_fs_stock").toString
    val b = Files.createTempDirectory("graft_fs_nio").toString
    writeTree(stock, a)
    writeTree(nio, b)
    val (ta, tb) = (tree(a), tree(b))
    assert(ta.keySet.contains("a/.x.txt.crc"))
    assert(ta == tb)
    assert(tb("a/x.txt")._1 == Integer.parseInt("644", 8))
    assert(tb("a/.x.txt.crc")._1 == Integer.parseInt("644", 8))
    assert(tb("a/b")._1 == Integer.parseInt("755", 8))
  }

  test("a Spark write job with the local IO options writes the stock tree") {
    val s = spark
    import s.implicits._
    val df = (0 until 40).map(i => (i.toLong, s"v$i", i % 4)).toDF("id", "v", "p")
      .coalesce(2)
    val a = Files.createTempDirectory("graft_job_stock").toString + "/out"
    val b = Files.createTempDirectory("graft_job_nio").toString + "/out"
    val opts = Warehouse.localIoOptions(spark, b)
    assert(opts("fs.file.impl") == classOf[NioLocalFileSystem].getName)
    df.write.partitionBy("p").parquet(a)
    df.write.options(opts).partitionBy("p").parquet(b)
    // part file names carry the write job's id
    val jobId = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    val (ta, tb) = (tree(a, jobId.replaceAllIn(_, "<job>")),
      tree(b, jobId.replaceAllIn(_, "<job>")))
    assert(ta.keySet.exists(_.endsWith(".parquet.crc")))
    assert(ta.keySet.contains("_SUCCESS"))
    assert(ta == tb)
  }

  private def ownership(st: FileStatus): (FsPermission, String, String) =
    (st.getPermission, st.getOwner, st.getGroup)

  test("permission, owner and group match the stock FS for every status call") {
    val root = Files.createTempDirectory("graft_fs_status").toString
    writeTree(stock, root)
    val paths = Seq("a", "a/b", "a/x.txt", "a/.x.txt.crc", "z.txt")
      .map(p => new Path(root, p))
    paths.foreach { p =>
      assert(ownership(nio.getFileStatus(p)) == ownership(stock.getFileStatus(p)), p)
    }
    // the raw listing shows the .crc siblings the checksummed one hides
    def at(d: String) = if (d.isEmpty) new Path(root) else new Path(root, d)
    def rawListed(fs: LocalFileSystem, d: String) =
      fs.getRaw.listStatus(at(d))
        .map(st => st.getPath.getName -> ownership(st)).toMap
    def listed(fs: FileSystem, d: String) =
      fs.listStatus(at(d)).map(st => st.getPath.getName -> ownership(st)).toMap
    def located(fs: FileSystem) = {
      val it = fs.listFiles(new Path(root), true)
      val b = Map.newBuilder[String, (FsPermission, String, String)]
      while (it.hasNext) { val st = it.next(); b += st.getPath.toString -> ownership(st) }
      b.result()
    }
    assert(rawListed(nio, "a").contains(".x.txt.crc"))
    assert(rawListed(nio, "a") == rawListed(stock, "a"))
    Seq("", "a", "a/b").foreach(d => assert(listed(nio, d) == listed(stock, d), d))
    assert(located(nio).size == 3)
    assert(located(nio) == located(stock))
    assert(located(nio).values.forall(_._1 == new FsPermission(Integer.parseInt("644", 8).toShort)))
  }

  test("a session's own fs.file.impl is the one the warehouse uses") {
    val hc = spark.sparkContext.hadoopConfiguration
    val root = Files.createTempDirectory("graft_fs_own").toString
    hc.set("fs.file.impl", classOf[RecordingLocalFs].getName)
    hc.set("fs.file.impl.disable.cache", "true")
    try {
      val wh = new Warehouse(spark, root)
      assert(Warehouse.localIoOptions(spark, root).isEmpty)
      assert(wh.fs.isInstanceOf[RecordingLocalFs])
      val s = spark
      import s.implicits._
      wh.writeAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
        Relation("db", "s", "t"))
      val created = RecordingLocalFs.created.asScala.filter(_.contains(root))
      assert(created.exists(_.endsWith(".parquet")), created) // write tasks
      assert(created.exists(_.contains("_graft_stats")), created) // driver
      assert(wh.read(Relation("db", "s", "t")).count() == 2L)
    } finally {
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
    }
    assert(new Warehouse(spark, root).fs.isInstanceOf[NioLocalFileSystem])
  }
}

/** A session-registered local filesystem that records what it creates. */
class RecordingLocalFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    RecordingLocalFs.created.add(f.toString)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object RecordingLocalFs {
  val created: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
}
