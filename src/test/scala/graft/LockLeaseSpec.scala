package graft

import java.io.{ByteArrayOutputStream, FilterOutputStream, IOException, OutputStream}
import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** The writer-lock lease (heartbeat) and the object-store claim-verify:
  * the two concurrency holes the round-7 audit named. A LIVE holder whose
  * write outlives `graft.lock.stale.ms` must never be stale-broken (the
  * heartbeat refreshes the lease), release must never free another
  * writer's lock (rename-verify-delete), and a check-then-create
  * filesystem racing two claims must still converge to exactly one
  * winner (claim-verify reads the surviving bytes back).
  */
class LockLeaseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def freshWh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_lease_wh").toString)
  def rel(n: String): Relation = Relation("db", "sch", n)

  def df(rows: Seq[(Long, String, Double)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "name", "score")
  }

  /** Run `body` with an artificially small stale threshold. */
  private def withStaleMs[T](ms: Long)(body: => T): T = {
    val prev = sys.props.get("graft.lock.stale.ms")
    sys.props("graft.lock.stale.ms") = ms.toString
    try body
    finally prev match {
      case Some(v) => sys.props("graft.lock.stale.ms") = v
      case None => sys.props.remove("graft.lock.stale.ms"); ()
    }
  }

  test("live holder outliving stale.ms is NOT broken: lease heartbeat") {
    // stale threshold 400 ms; holder A's critical section takes 2 s — a
    // 5x overstay, the shape of a multi-hour 100 TB write against the
    // 30-min production threshold. Writer B contends the whole time.
    // Without the heartbeat B stale-breaks A mid-write and the two swap
    // protocols interleave; with it B must wait for A's release.
    withStaleMs(400) {
      val wh = freshWh(); val r = rel("t_lease")
      val aExit = new java.util.concurrent.atomic.AtomicLong(0)
      val bEnter = new java.util.concurrent.atomic.AtomicLong(0)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val aInside = new CountDownLatch(1)
      val a = new Thread(() => {
        try wh.withRelationLock(r) {
          aInside.countDown()
          Thread.sleep(2000) // >> stale.ms: only the heartbeat keeps us alive
          aExit.set(System.nanoTime())
        } catch { case t: Throwable => errs.add(t) }
      })
      val b = new Thread(() => {
        try {
          aInside.await(5, TimeUnit.SECONDS)
          wh.withRelationLock(r) { bEnter.set(System.nanoTime()) }
        } catch { case t: Throwable => errs.add(t) }
      })
      a.start(); b.start(); a.join(15000); b.join(15000)
      assert(errs.isEmpty, s"no writer may fail: ${errs.toArray.toSeq}")
      assert(aExit.get != 0 && bEnter.get != 0, "both sections must run")
      assert(bEnter.get > aExit.get,
        "B entered the critical section while live holder A was inside — " +
          "the lease heartbeat failed to keep A's lock fresh")
    }
  }

  test("heartbeat refreshes the lock timestamp while held") {
    withStaleMs(300) {
      val wh = freshWh(); val r = rel("t_beat")
      val lock = Paths.get(wh.path(r) + ".lock")
      wh.withRelationLock(r) {
        Thread.sleep(1000) // several beat intervals (stale.ms / 3 = 100 ms)
        val content = new String(Files.readAllBytes(lock), "UTF-8")
        val ts = content.split(" ")(1).toLong
        assert(System.currentTimeMillis - ts < 300,
          s"lock timestamp is ${System.currentTimeMillis - ts} ms old — " +
            "the heartbeat is not refreshing the lease")
      }
      assert(!Files.exists(lock), "lock must be released")
    }
  }

  test("release never frees another writer's lock (rename-verify)") {
    val wh = freshWh(); val r = rel("t_rel")
    val lock = Paths.get(wh.path(r) + ".lock")
    wh.withRelationLock(r) {
      // simulate the double fault: our lock stale-broken and re-acquired
      // by another writer while we are alive (possible only if our own
      // heartbeat also failed). Our release must detect foreign bytes
      // and restore them, not delete them.
      Files.write(lock,
        s"other-writer-token ${System.currentTimeMillis}".getBytes("UTF-8"))
    }
    assert(Files.exists(lock), "release deleted another writer's lock")
    val content = new String(Files.readAllBytes(lock), "UTF-8")
    assert(content.startsWith("other-writer-token"),
      s"surviving lock must be the other writer's, got: $content")
    Files.delete(lock) // cleanup
  }

  test("stale dead-holder lock is still broken under the lease protocol") {
    withStaleMs(300) {
      val wh = freshWh(); val r = rel("t_dead")
      val lock = Paths.get(wh.path(r) + ".lock")
      Files.createDirectories(lock.getParent)
      val old = System.currentTimeMillis - 10000
      Files.write(lock, s"dead-writer-token $old".getBytes("UTF-8"))
      // no heartbeat refreshes the dead holder's lease: acquire succeeds
      wh.writeAtomic(df(Seq((1L, "a", 1.0))), r)
      assert(wh.read(r).count() == 1)
      assert(!Files.exists(lock))
    }
  }

  test("both writers' rows survive overstaying writes under contention") {
    // the end-to-end shape of the verdict scenario: two incremental
    // writers whose WRITES outlive stale.ms, interleaved; every row must
    // survive (the old blind stale-break let writer B clobber writer A's
    // swap mid-flight)
    withStaleMs(300) {
      val wh = freshWh(); val r = rel("t_overstay")
      val m = new graft.materialize.Materializer(wh)
      val cfg = ModelConfig(
        materialized = "incremental", uniqueKey = Seq("id"))
      m.incremental(df(Seq((0L, "seed", 0.0))), r, cfg)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (1 to 2).map { w =>
        new Thread(() => {
          try (1 to 2).foreach { i =>
            wh.withRelationLock(r) {
              // hold the lock well past stale.ms around the real merge
              Thread.sleep(500)
              m.incremental(df(Seq((w * 10L + i, s"w$w", i.toDouble))), r, cfg)
            }
          } catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(30000))
      assert(errs.isEmpty, s"writers must not fail: ${errs.toArray.toSeq}")
      val ids = wh.read(r).collect().map(_.getLong(0)).toSet
      assert(ids == Set(0L, 11L, 12L, 21L, 22L),
        s"rows lost under overstay contention: $ids")
    }
  }

  // ===================================================== claim-verify

  /** A filesystem whose create-if-absent is deliberately check-then-
    * create (the s3a-without-conditional-writes shape): both racers pass
    * the exists check together (barrier), each close() is an atomic PUT
    * (temp + ATOMIC_MOVE — object visibility), last PUT wins, and the
    * verify read (open) waits until both PUTs landed so the race is
    * deterministic and maximally adversarial.
    */
  final class CheckThenCreateFs(targetName: String) extends RawLocalFileSystem {
    val enterCreate = new CyclicBarrier(2)
    val bothPut = new CountDownLatch(2)
    initialize(URI.create("file:///"), new Configuration())

    override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                        bufferSize: Int, replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream =
      if (f.getName == targetName && !overwrite) {
        if (exists(f)) throw new IOException(s"$f exists")
        // widen the check-to-write window until BOTH racers are inside
        enterCreate.await(5, TimeUnit.SECONDS)
        val buf = new ByteArrayOutputStream()
        val put: OutputStream = new FilterOutputStream(buf) {
          override def write(b: Array[Byte], off: Int, len: Int): Unit =
            buf.write(b, off, len)
          override def close(): Unit = {
            val tgt = Paths.get(f.toUri.getPath)
            val tmp = tgt.resolveSibling(
              tgt.getFileName.toString + ".put-" + Thread.currentThread.getId)
            Files.createDirectories(tgt.getParent)
            Files.write(tmp, buf.toByteArray)
            Files.move(tmp, tgt, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
            bothPut.countDown()
          }
        }
        new FSDataOutputStream(put, null)
      } else super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)

    override def open(f: Path, bufferSize: Int): FSDataInputStream = {
      if (f.getName == targetName) bothPut.await(5, TimeUnit.SECONDS)
      super.open(f, bufferSize)
    }
  }

  test("claim-verify: racing check-then-create claims converge to ONE winner") {
    val wh = freshWh()
    val mfName = "m000000000001.manifest"
    val racy = new CheckThenCreateFs(mfName)
    wh.claimFsOverride = Some(racy)
    try {
      val p = new Path(wh.path(rel("t_cas")) + "/_graft/" + mfName)
      val bodyA = "graftmf1\nvA-aaaa\t\nend 1\n".getBytes("UTF-8")
      val bodyB = "graftmf1\nvB-bbbb\t\nend 1\n".getBytes("UTF-8")
      val results = new java.util.concurrent.ConcurrentHashMap[String, Boolean]
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val ta = new Thread(() =>
        try results.put("A", wh.createExclusive(p, bodyA))
        catch { case t: Throwable => errs.add(t) })
      val tb = new Thread(() =>
        try results.put("B", wh.createExclusive(p, bodyB))
        catch { case t: Throwable => errs.add(t) })
      ta.start(); tb.start(); ta.join(10000); tb.join(10000)
      assert(errs.isEmpty, s"claims must not throw: ${errs.toArray.toSeq}")
      val winners = results.entrySet.iterator
      var won = List.empty[String]
      while (winners.hasNext) {
        val e = winners.next(); if (e.getValue) won ::= e.getKey
      }
      assert(won.size == 1,
        s"exactly one racer must win the claim, got winners: $won " +
          s"(results: $results)")
      // the surviving manifest is the WINNER's, complete and untorn
      val content = Files.readAllBytes(Paths.get(p.toUri.getPath))
      val expected = if (won.head == "A") bodyA else bodyB
      assert(java.util.Arrays.equals(content, expected),
        "surviving manifest must be exactly the winner's bytes")
    } finally wh.claimFsOverride = None
  }

  test("claim-verify still claims cleanly with no contention") {
    // the non-racing path through the non-local branch must behave like
    // the local O_EXCL path: first claim wins, repeat claim loses
    val wh = freshWh()
    val fsOverride = new RawLocalFileSystem()
    fsOverride.initialize(URI.create("file:///"), new Configuration())
    wh.claimFsOverride = Some(fsOverride)
    try {
      val p = new Path(wh.path(rel("t_single")) + "/_graft/m000000000001.manifest")
      assert(wh.createExclusive(p, "graftmf1\nend 0\n".getBytes("UTF-8")))
      assert(!wh.createExclusive(p, "graftmf1\nend 0\n".getBytes("UTF-8")),
        "second claim of an existing path must lose")
    } finally wh.claimFsOverride = None
  }

  test("manifest-mode materializations work end-to-end through claim-verify") {
    // the whole commit protocol routed through the non-local claim path
    // (claim-verify on every manifest CAS and lock claim)
    val wh = freshWh()
    val fsOverride = new RawLocalFileSystem()
    fsOverride.initialize(URI.create("file:///"), new Configuration())
    wh.claimFsOverride = Some(fsOverride)
    try {
      val m = new graft.materialize.Materializer(wh)
      val r = rel("t_e2e")
      val cfg = ModelConfig(
        materialized = "incremental", uniqueKey = Seq("id"))
      m.incremental(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))), r, cfg)
      m.incremental(df(Seq((2L, "b2", 2.5), (3L, "c", 3.0))), r, cfg)
      val out = wh.read(r).collect()
        .map(x => (x.getAs[Long]("id"), x.getAs[String]("name"))).toSet
      assert(out == Set((1L, "a"), (2L, "b2"), (3L, "c")))
    } finally wh.claimFsOverride = None
  }
}
