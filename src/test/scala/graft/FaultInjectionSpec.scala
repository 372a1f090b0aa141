package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.materialize._

/** Systematic crash-consistency sweep of the warehouse commit protocol.
  *
  * Every mutation path announces named fault points ([[Warehouse.faultPoint]])
  * at each externally visible filesystem transition. For each protocol
  * operation this spec:
  *
  *  1. TRACES one clean run to enumerate the exact fault points on its
  *     path (so newly added seams are swept automatically — the sweep can
  *     never silently under-cover a protocol change);
  *  2. for EVERY point index i, rebuilds the fixture from scratch, aborts
  *     the operation at firing #i (simulating a crash there — the lock is
  *     released, which models crash + stale-lock expiry, the end state
  *     [[LockLeaseSpec]] proves reachable), then asserts:
  *       - '''no torn read''': a cold re-open (fresh Warehouse instance,
  *         empty caches) reads EXACTLY the pre-state or the post-state
  *         multiset — never a mixture, never a duplicate, never a
  *         resurrected deleted row;
  *       - '''retry convergence''': re-running the same operation cold
  *         lands the exact post-state;
  *       - '''GC safety''': every version dir the latest manifest
  *         references exists on disk after crash AND after retry — GC
  *         never collects referenced data.
  *
  * The r17 hand-found race classes ride as explicit regression rows:
  * TTL-expiry CAS-retry unlink (expire-vs-refresh interleaving via the
  * same seam used as a RACE injector, not a crash), a retry that
  * crashes too (double crash), and the exactly-once stream watermark
  * (crash anywhere in appendStreamBatch + replay of the same batch id
  * must never double-append).
  */
class FaultInjectionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def df(ids: Long*): DataFrame = {
    val s = spark; import s.implicits._
    ids.map(i => (i, s"n$i")).toDF("id", "name").coalesce(1)
  }
  private def pdf(rows: (Long, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("id", "dt").coalesce(1)
  }

  private final class Crash(val point: String, val idx: Int)
    extends RuntimeException(s"injected crash at $point#$idx")

  /** Run `op` with a recording handler; returns the ordered fault trace. */
  private def trace(op: => Unit): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    Warehouse.faultHandler = n => { buf += n; () }
    try op finally Warehouse.faultHandler = Warehouse.NoFault
    buf.toSeq
  }

  /** Run `op`, throwing at fault-point firing #i; asserts the crash
    * actually landed (the path reached point i).
    */
  private def crashAt(i: Int, label: String)(op: => Unit): String = {
    var c = -1
    var fired: Option[String] = None
    Warehouse.faultHandler = n => {
      c += 1
      if (c == i) { fired = Some(n); throw new Crash(n, i) }
    }
    try {
      val thrown =
        try { op; false }
        catch { case _: Crash => true }
      assert(thrown, s"$label: run completed without reaching point #$i")
    } finally Warehouse.faultHandler = Warehouse.NoFault
    fired.get
  }

  /** Crash at the first firing of the NAMED point. */
  private def crashAtPoint(point: String, label: String)(op: => Unit): Unit = {
    Warehouse.faultHandler = n => if (n == point) throw new Crash(n, -1)
    try {
      val thrown =
        try { op; false }
        catch { case _: Crash => true }
      assert(thrown, s"$label: run completed without reaching point $point")
    } finally Warehouse.faultHandler = Warehouse.NoFault
  }

  /** One protocol operation under sweep. `before`/`after` are expected
    * row-id MULTISETS (sorted) — a mixture, loss, duplicate, or
    * resurrected delete can never equal either.
    */
  private case class Scenario(
      name: String,
      setup: Warehouse => Unit,
      op: Warehouse => Unit,
      before: Seq[Long],
      after: Seq[Long],
      // pre-state may legitimately not exist (e.g. clone target)
      mayNotExist: Boolean = false,
      // crash the first retry again at the same point before the clean
      // retry: the second crash must keep every guarantee of the first
      crashRetry: Boolean = false,
      // expected retry result when the crash landed AT/AFTER the commit
      // point: a non-idempotent op (plain append) legitimately re-applies
      // — the documented reason the watermarked appendStreamBatch exists
      retryAfterCommit: Option[Seq[Long]] = None)

  private val R = Relation("db", "s", "t")

  private def mkWh(root: String): Warehouse = new Warehouse(spark, root)

  private def ids(wh: Warehouse): Seq[Long] =
    wh.read(R).select("id").collect().map(_.getLong(0)).toSeq.sorted

  /** Every version dir the newest manifest references must exist. */
  private def assertReferencedExist(wh: Warehouse, label: String): Unit =
    wh.manifestEntries(R).foreach(_.foreach { case (d, _) =>
      val p =
        if (d.startsWith("/")) java.nio.file.Paths.get(d)
        else java.nio.file.Paths.get(wh.path(R), "_graft", d)
      assert(Files.exists(p), s"$label: GC collected referenced dir $d")
    })

  private def sweep(sc: Scenario): Unit = {
    // -- enumerate the path's fault points on a throwaway fixture
    val root0 = Files.createTempDirectory(s"graft_fi_${sc.name}_t").toString
    val wh0 = mkWh(root0)
    sc.setup(wh0)
    val points = trace { sc.op(wh0) }
    assert(points.nonEmpty, s"${sc.name}: no fault points on path — seam missing")
    assert(ids(wh0) == sc.after, s"${sc.name}: clean run post-state wrong")
    info(s"${sc.name}: ${points.length} points [${points.mkString(", ")}]")

    for (i <- points.indices) {
      val root = Files.createTempDirectory(s"graft_fi_${sc.name}_$i").toString
      val wh = mkWh(root)
      sc.setup(wh)
      val at = crashAt(i, sc.name)(sc.op(wh))
      val label = s"${sc.name} @$at#$i"
      // -- torn-read check on a COLD instance (no caches): the relation
      // is READABLE at every crash point, as the old or the new snapshot
      def assertNotTorn(what: String): Unit = {
        val cold = mkWh(root)
        if (cold.exists(R)) {
          val seen = ids(cold)
          assert(seen == sc.before || seen == sc.after,
            s"$what: torn read $seen (expected ${sc.before} or ${sc.after})")
        } else assert(sc.mayNotExist, s"$what: relation unreadable after crash")
        assertReferencedExist(cold, s"$what (post-crash)")
      }
      assertNotTorn(label)
      if (sc.crashRetry) {
        crashAt(i, s"$label retry")(sc.op(mkWh(root)))
        assertNotTorn(s"$label, retry crashed too")
      }
      // -- retry converges
      val committedIdx = points.indexOf("commit.committed")
      val postCommit = committedIdx >= 0 && i >= committedIdx
      val expectRetry =
        if (postCommit) sc.retryAfterCommit.getOrElse(sc.after) else sc.after
      val retry = mkWh(root)
      sc.op(retry)
      assert(ids(retry) == expectRetry,
        s"$label: retry diverged: ${ids(retry)} (expected $expectRetry)")
      assertReferencedExist(retry, s"$label (post-retry)")
    }
  }

  // ========================================================== sweeps

  test("manifest: full overwrite survives a crash at every point") {
    sweep(Scenario("mf-overwrite",
      setup = wh => wh.writeAtomic(df(1, 2), R),
      op = wh => wh.writeAtomic(df(3, 4), R),
      before = Seq(1L, 2L), after = Seq(3L, 4L)))
  }

  test("manifest: overwrite with retention GC on the path") {
    // 4th overwrite expires manifest 1 and its version dir — the
    // gc.manifest-delete / gc.vdir-delete points must be on this trace
    val sc = Scenario("mf-overwrite-gc",
      setup = wh => { wh.writeAtomic(df(1), R); wh.writeAtomic(df(2), R)
        wh.writeAtomic(df(3), R) },
      op = wh => wh.writeAtomic(df(4, 5), R),
      before = Seq(3L), after = Seq(4L, 5L))
    val root0 = Files.createTempDirectory("graft_fi_gcprobe").toString
    val wh0 = mkWh(root0); sc.setup(wh0)
    val pts = trace { sc.op(wh0) }
    assert(pts.contains("gc.manifest-delete") && pts.contains("gc.vdir-delete"),
      s"retention GC points missing from trace: $pts")
    sweep(sc)
  }

  test("manifest: overwrite whose retry crashes too still converges") {
    // a retry that dies at the same point as the first run: each crash
    // leaves at most an orphan version dir, never a torn or lost table
    sweep(Scenario("mf-overwrite-2x",
      setup = wh => wh.writeAtomic(df(1, 2), R),
      op = wh => wh.writeAtomic(df(3, 4), R),
      before = Seq(1L, 2L), after = Seq(3L, 4L), crashRetry = true))
  }

  test("manifest: append survives a crash at every point") {
    sweep(Scenario("mf-append",
      setup = wh => wh.writeAtomic(df(1, 2), R),
      op = wh => wh.append(df(3), R),
      before = Seq(1L, 2L), after = Seq(1L, 2L, 3L),
      // plain append is NOT idempotent: a retry of a crash that landed
      // after the commit re-appends (the caller cannot know). That is
      // precisely the gap appendStreamBatch's watermark closes — proven
      // in the exactly-once test below.
      retryAfterCommit = Some(Seq(1L, 2L, 3L, 3L))))
  }

  test("manifest: equality delete survives a crash at every point") {
    sweep(Scenario("mf-delete",
      setup = wh => wh.writeAtomic(df(1, 2, 3), R),
      op = wh => { wh.deleteKeys(R, df(2).select("id")); () },
      before = Seq(1L, 2L, 3L), after = Seq(1L, 3L)))
  }

  test("manifest: compaction materializing deletes never resurrects rows") {
    // pre-state already has the delete APPLIED (reads are delete-aware),
    // so before == after: every crash point must read exactly this set —
    // a resurrected id=2 or a lost id=5 can never equal it
    sweep(Scenario("mf-compact",
      setup = wh => {
        wh.writeAtomic(df(1, 2, 3, 4), R)
        wh.deleteKeys(R, df(2).select("id"))
        wh.append(df(5), R)
      },
      op = wh => { wh.compactTable(R, maxEntries = 1); () },
      before = Seq(1L, 3L, 4L, 5L), after = Seq(1L, 3L, 4L, 5L)))
  }

  test("manifest: partition replacement survives a crash at every point") {
    sweep(Scenario("mf-replace",
      setup = wh => wh.writeAtomic(
        pdf((1L, "a"), (2L, "a"), (3L, "b")), R, partitionCols = Seq("dt")),
      op = wh => wh.replacePartitions(pdf((30L, "b"), (31L, "b")), R, Seq("dt")),
      before = Seq(1L, 2L, 3L), after = Seq(1L, 2L, 30L, 31L)))
  }

  test("manifest: rollback survives a crash at every point") {
    sweep(Scenario("mf-rollback",
      setup = wh => { wh.writeAtomic(df(1, 2), R); wh.writeAtomic(df(3), R) },
      op = wh => wh.rollbackTo(R, wh.listVersions(R).min),
      before = Seq(3L), after = Seq(1L, 2L)))
  }

  test("manifest: zero-copy clone survives a crash at every point") {
    val SRC = Relation("db", "s", "src")
    sweep(Scenario("mf-clone",
      setup = wh => wh.writeAtomic(df(1, 2),
        SRC) /* target R starts absent */,
      op = wh => wh.cloneFrom(wh, SRC, R),
      before = Nil, after = Seq(1L, 2L),
      mayNotExist = true))
  }

  test("adopt: a crash before its manifest lands leaves the dir un-adopted; a rerun adopts it") {
    // a plain-layout dir is not readable before adopt, so the sweep's
    // read-the-pre-state check does not apply: each crash must leave
    // either the un-adopted dir (files intact, reads refused) or the
    // adopted relation, and a rerun must adopt it
    def plain(wh: Warehouse): Unit =
      df(1, 2).write.parquet(wh.path(R))
    val root0 = Files.createTempDirectory("graft_fi_adopt_t").toString
    val wh0 = mkWh(root0); plain(wh0)
    val points = trace { wh0.adopt(R); () }
    assert(points.contains("commit.claim"), points)
    for (i <- points.indices) {
      val root = Files.createTempDirectory(s"graft_fi_adopt_$i").toString
      val wh = mkWh(root); plain(wh)
      val at = crashAt(i, "adopt") { wh.adopt(R); () }
      val cold = mkWh(root)
      assert(cold.exists(R), s"adopt @$at#$i: the dir vanished")
      if (cold.manifestEntries(R).isEmpty) {
        val e = intercept[IllegalStateException](cold.read(R))
        assert(e.getMessage.contains("`adopt`"), e.getMessage)
        assert(spark.read.parquet(wh.path(R)).count() == 2)
      } else assert(ids(cold) == Seq(1L, 2L), s"adopt @$at#$i: torn read")
      val retry = mkWh(root)
      retry.adopt(R)
      assert(ids(retry) == Seq(1L, 2L), s"adopt @$at#$i: rerun diverged")
      assertReferencedExist(retry, s"adopt @$at#$i (post-retry)")
    }
  }

  test("manifest: TTL expiry survives a crash at every point") {
    def stale(wh: Warehouse): Unit = {
      wh.writeAtomic(pdf((1L, "old"), (2L, "new")), R, partitionCols = Seq("dt"))
      // age the dt=old leaf of the committed version dir
      val mf = java.nio.file.Paths.get(wh.path(R), "_graft")
      val s = Files.list(mf)
      val vdirs = try {
        val it = s.iterator()
        val b = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
        while (it.hasNext) { val p = it.next(); if (Files.isDirectory(p)) b += p }
        b.toSeq
      } finally s.close()
      vdirs.foreach { v =>
        val oldLeaf = v.resolve("dt=old")
        if (Files.exists(oldLeaf))
          Files.setLastModifiedTime(oldLeaf,
            java.nio.file.attribute.FileTime.fromMillis(1000L))
      }
    }
    sweep(Scenario("mf-ttl",
      setup = stale,
      op = wh => { wh.expirePartitions(R, ttlMs = 60000L,
        asOfMs = System.currentTimeMillis()); () },
      before = Seq(1L, 2L), after = Seq(2L)))
  }

  test("exactly-once: stream batch replay after a crash at every point") {
    // the core exactly-once claim: whatever point the writer dies at,
    // re-delivering the SAME batch id can never double its rows, and the
    // committed watermark always agrees with the committed data
    val sc = Scenario("mf-stream",
      setup = wh => { wh.appendStreamBatch(df(1, 2), R, "src", 0L); () },
      op = wh => { wh.appendStreamBatch(df(3, 4), R, "src", 1L); () },
      before = Seq(1L, 2L), after = Seq(1L, 2L, 3L, 4L))
    sweep(sc)
    // watermark/data agreement at each crash point, checked explicitly
    val root0 = Files.createTempDirectory("graft_fi_stream_t").toString
    val wh0 = mkWh(root0); sc.setup(wh0)
    val points = trace { sc.op(wh0) }
    for (i <- points.indices) {
      val root = Files.createTempDirectory(s"graft_fi_stream_$i").toString
      val wh = mkWh(root); sc.setup(wh)
      crashAt(i, "mf-stream-wm")(sc.op(wh))
      val cold = mkWh(root)
      val mark = cold.streamWatermark(R, "src")
      val seen = ids(cold)
      if (mark.contains(1L)) assert(seen == sc.after,
        s"watermark says batch 1 committed but rows are $seen")
      else assert(seen == sc.before,
        s"watermark ${mark} yet rows are $seen — marker/data split commit")
      // replay of batch 1 on the cold instance: appended exactly once
      cold.appendStreamBatch(df(3, 4), R, "src", 1L)
      assert(ids(cold) == sc.after, s"replay duplicated rows: ${ids(cold)}")
      assert(mkWh(root).streamWatermark(R, "src").contains(1L))
    }
  }

  test("manifest: orphan-vdir vacuum survives a crash at every point") {
    // an orphan = a writer that crashed after its data write, before its
    // manifest claim (exactly what crashing mf.overwrite.data-written
    // leaves behind). The sweep: age the orphan, vacuum it, crash at
    // every vacuum point, assert committed data untouched throughout and
    // the retry completes the reclaim.
    def setupWithOrphan(wh: Warehouse): Unit = {
      wh.writeAtomic(df(1, 2), R)
      crashAtPoint("mf.overwrite.data-written", "orphan-setup")(
        wh.writeAtomic(df(9), R))
      // age every unreferenced version dir past the sweep horizon
      val mf = java.nio.file.Paths.get(wh.path(R), "_graft")
      val referenced = wh.manifestEntries(R).getOrElse(Nil).map(_._1).toSet
      val s = Files.list(mf)
      try {
        val it = s.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (Files.isDirectory(p) &&
              !referenced.contains(p.getFileName.toString))
            Files.setLastModifiedTime(p,
              java.nio.file.attribute.FileTime.fromMillis(1000L))
        }
      } finally s.close()
    }
    sweep(Scenario("mf-orphan-gc",
      setup = setupWithOrphan,
      op = wh => { wh.gcOrphanVersions(R, olderThanMs = 60000L); () },
      before = Seq(1L, 2L), after = Seq(1L, 2L)))
    // and the reclaim actually happened: no unreferenced vdirs remain
    val root = Files.createTempDirectory("graft_fi_orphan_post").toString
    val wh = mkWh(root)
    setupWithOrphan(wh)
    val removed = wh.gcOrphanVersions(R, olderThanMs = 60000L)
    assert(removed.nonEmpty, "vacuum reclaimed nothing — orphan not seen")
  }

  // ============================================= race rows via the seam

  test("race: TTL expiry CAS-retry must not unlink a racing refresh (r17)") {
    // the seam as a RACE injector: just before the expire's manifest
    // claim, a 'concurrent' writer refreshes the very partition being
    // expired. The expire loses the CAS, retries, and MUST recompute its
    // expired set from the fresh state — the r17 bug re-applied the
    // stale set and silently unlinked the refreshed data.
    val root = Files.createTempDirectory("graft_fi_race").toString
    val wh = mkWh(root)
    wh.writeAtomic(pdf((1L, "old"), (2L, "new")), R, partitionCols = Seq("dt"))
    val mf = java.nio.file.Paths.get(wh.path(R), "_graft")
    val s = Files.list(mf)
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val p = it.next()
        val leaf = p.resolve("dt=old")
        if (Files.isDirectory(p) && Files.exists(leaf))
          Files.setLastModifiedTime(leaf,
            java.nio.file.attribute.FileTime.fromMillis(1000L))
      }
    } finally s.close()
    val other = mkWh(root)
    var injected = false
    Warehouse.faultHandler = n => {
      if (n == "commit.claim" && !injected) {
        injected = true
        Warehouse.faultHandler = Warehouse.NoFault // no recursion
        other.replacePartitions(pdf((10L, "old"), (11L, "old")), R, Seq("dt"))
        // re-arm nothing: one interleaving is the scenario
      }
    }
    try wh.expirePartitions(R, ttlMs = 60000L,
      asOfMs = System.currentTimeMillis())
    finally Warehouse.faultHandler = Warehouse.NoFault
    assert(injected, "race was never injected — commit.claim not reached")
    val cold = mkWh(root)
    assert(ids(cold) == Seq(2L, 10L, 11L),
      s"racing refresh of dt=old was unlinked by the expiry: ${ids(cold)}")
    assertReferencedExist(cold, "ttl-race")
  }

  // ==================================== end-to-end: SCD-2 snapshot RMW

  test("snapshot RMW: crash at every warehouse point, retry converges") {
    val s = spark; import s.implicits._
    def ts(x: String) = Timestamp.valueOf(x)
    def src(rows: Seq[(Long, String, Timestamp)]) =
      rows.toDF("id", "payload", "updated_at").coalesce(1)
    val strat = SnapshotStrategy.Timestamp("updated_at")
    val v1 = Seq((1L, "a", ts("2024-01-01 00:00:00")),
                 (2L, "b", ts("2024-01-01 00:00:00")))
    val v2 = Seq((1L, "a2", ts("2024-02-01 00:00:00")),
                 (2L, "b", ts("2024-01-01 00:00:00")),
                 (3L, "c", ts("2024-02-01 00:00:00")))
    val now = lit(ts("2024-02-02 00:00:00"))
    def state(wh: Warehouse): Seq[String] = {
      val snap = new Snapshotter(wh)
      snap.read(R).collect().map(_.toString).toSeq.sorted
    }
    // no-crash baseline
    val rootB = Files.createTempDirectory("graft_fi_snapb").toString
    val whB = mkWh(rootB)
    val snapB = new Snapshotter(whB)
    snapB.snapshot(src(v1), R, Seq("id"), strat, now = now)
    val preState = state(whB)
    snapB.snapshot(src(v2), R, Seq("id"), strat, now = now)
    val postState = state(whB)
    assert(preState != postState)
    // enumerate points of the 2nd (read-modify-write) snapshot run
    val root0 = Files.createTempDirectory("graft_fi_snapt").toString
    val wh0 = mkWh(root0)
    new Snapshotter(wh0).snapshot(src(v1), R, Seq("id"), strat, now = now)
    val points = trace {
      new Snapshotter(wh0).snapshot(src(v2), R, Seq("id"), strat, now = now)
    }
    assert(points.nonEmpty)
    info(s"snapshot RMW: ${points.length} points [${points.mkString(", ")}]")
    for (i <- points.indices) {
      val root = Files.createTempDirectory(s"graft_fi_snap_$i").toString
      val wh = mkWh(root)
      new Snapshotter(wh).snapshot(src(v1), R, Seq("id"), strat, now = now)
      val at = crashAt(i, "snap")(
        new Snapshotter(wh).snapshot(src(v2), R, Seq("id"), strat, now = now))
      // torn-read: the SCD-2 table is a consistent snapshot at all times
      val cold = mkWh(root)
      val seen = state(cold)
      assert(seen == preState || seen == postState,
        s"snap @$at#$i: torn SCD-2 state")
      // retry: idempotent re-run of the same source lands the post state
      val retry = mkWh(root)
      new Snapshotter(retry).snapshot(src(v2), R, Seq("id"), strat, now = now)
      assert(state(retry) == postState, s"snap @$at#$i: retry diverged")
    }
  }
}
