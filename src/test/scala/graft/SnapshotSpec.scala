package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.materialize._

/** SCD-2 invariants (SURVEY §5): per key, exactly one current row
  * (dbt_valid_to IS NULL) and non-overlapping validity intervals; hard
  * deletes close the current row only when invalidate_hard_deletes is on.
  */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def freshWh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_snap_wh").toString)

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  def src(rows: Seq[(Long, String, Timestamp)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "payload", "updated_at")
  }

  def assertInvariants(wh: Warehouse, r: Relation): Unit = {
    val snap = wh.read(r).cache()
    val perKeyCurrent = snap.filter(col("dbt_valid_to").isNull)
      .groupBy("id").count().filter(col("count") =!= 1).count()
    assert(perKeyCurrent == 0, "exactly one current row per key")
    val overlaps = snap.alias("a").join(snap.alias("b"),
      col("a.id") === col("b.id") &&
        col("a.dbt_scd_id") =!= col("b.dbt_scd_id") &&
        col("a.dbt_valid_from") < coalesce(col("b.dbt_valid_to"), lit(ts("9999-01-01 00:00:00"))) &&
        col("b.dbt_valid_from") < coalesce(col("a.dbt_valid_to"), lit(ts("9999-01-01 00:00:00"))))
      .count()
    assert(overlaps == 0, "validity intervals must not overlap")
    snap.unpersist(); ()
  }

  test("timestamp strategy: update opens new version, unchanged rows untouched") {
    val wh = freshWh(); val snap = new Snapshotter(wh)
    val r = Relation("db", "s", "snap1")
    val strat = SnapshotStrategy.Timestamp("updated_at")
    snap.snapshot(src(Seq(
      (1L, "a", ts("2024-01-01 00:00:00")),
      (2L, "b", ts("2024-01-01 00:00:00")))), r, Seq("id"), strat)
    snap.snapshot(src(Seq(
      (1L, "a2", ts("2024-02-01 00:00:00")), // changed + advanced
      (2L, "b", ts("2024-01-01 00:00:00")),  // unchanged
      (3L, "c", ts("2024-02-01 00:00:00")))), r, Seq("id"), strat)
    val out = wh.read(r)
    assert(out.count() == 4) // 1 closed + 1 new for id=1, untouched id=2, new id=3
    val id1 = out.filter(col("id") === 1).collect()
    assert(id1.length == 2)
    val current = id1.find(_.getAs[Timestamp]("dbt_valid_to") == null).get
    assert(current.getAs[String]("payload") == "a2")
    assertInvariants(wh, r)
  }

  test("timestamp strategy is idempotent on identical reruns") {
    val wh = freshWh(); val snap = new Snapshotter(wh)
    val r = Relation("db", "s", "snap2")
    val strat = SnapshotStrategy.Timestamp("updated_at")
    val s1 = src(Seq((1L, "a", ts("2024-01-01 00:00:00"))))
    snap.snapshot(s1, r, Seq("id"), strat)
    snap.snapshot(s1, r, Seq("id"), strat)
    snap.snapshot(s1, r, Seq("id"), strat)
    assert(wh.read(r).count() == 1)
    assertInvariants(wh, r)
  }

  test("check strategy: only checked columns trigger versions; NULL-safe") {
    val wh = freshWh(); val snap = new Snapshotter(wh)
    val r = Relation("db", "s", "snap3")
    val strat = SnapshotStrategy.Check(Some(Seq("payload")))
    val t1 = lit("2024-01-01 00:00:00").cast("timestamp")
    val t2 = lit("2024-02-01 00:00:00").cast("timestamp")
    val s = spark; import s.implicits._
    val r1 = Seq((1L, Some("a")), (2L, None: Option[String])).toDF("id", "payload")
    val r2 = Seq((1L, None: Option[String]), (2L, None: Option[String])).toDF("id", "payload")
    snap.snapshot(r1, r, Seq("id"), strat, now = t1)
    snap.snapshot(r2, r, Seq("id"), strat, now = t2)
    val out = wh.read(r)
    // id=1: a -> NULL is a change (null-safe); id=2: NULL -> NULL is not
    assert(out.filter(col("id") === 1).count() == 2)
    assert(out.filter(col("id") === 2).count() == 1)
    assertInvariants(wh, r)
  }

  test("hard deletes close the current row only when enabled") {
    val wh = freshWh(); val snap = new Snapshotter(wh)
    val strat = SnapshotStrategy.Timestamp("updated_at")
    val s1 = src(Seq((1L, "a", ts("2024-01-01 00:00:00")),
      (2L, "b", ts("2024-01-01 00:00:00"))))
    val s2 = src(Seq((1L, "a", ts("2024-01-01 00:00:00")))) // id=2 vanished

    val rOff = Relation("db", "s", "snap4_off")
    snap.snapshot(s1, rOff, Seq("id"), strat)
    snap.snapshot(s2, rOff, Seq("id"), strat)
    assert(wh.read(rOff).filter(col("id") === 2 && col("dbt_valid_to").isNull)
      .count() == 1) // default: deletion ignored, row stays current

    val rOn = Relation("db", "s", "snap4_on")
    snap.snapshot(s1, rOn, Seq("id"), strat)
    snap.snapshot(s2, rOn, Seq("id"), strat,
      now = lit("2024-03-01 00:00:00").cast("timestamp"),
      invalidateHardDeletes = true)
    val closed = wh.read(rOn).filter(col("id") === 2).collect()
    assert(closed.length == 1 && closed.head.getAs[Timestamp]("dbt_valid_to") != null)
    assertInvariants(wh, rOn)
  }

  test("hard_deletes=new_record: deletion rows track, reappearing keys re-version") {
    val wh = freshWh(); val snap = new Snapshotter(wh)
    val strat = SnapshotStrategy.Timestamp("updated_at")
    val r = Relation("db", "s", "snap_newrec")
    val s1 = src(Seq((1L, "a", ts("2024-01-01 00:00:00")),
      (2L, "b", ts("2024-01-01 00:00:00"))))
    snap.snapshot(s1, r, Seq("id"), strat,
      hardDeletes = Some("new_record"))
    // every first-run row carries the flag, 'False'
    assert(wh.read(r).filter(col("dbt_is_deleted") === "False").count() == 2)

    // id=2 vanishes: its row closes AND a 'True' tracking row opens with
    // the last-known payload, versioned at transaction time
    val s2 = src(Seq((1L, "a", ts("2024-01-01 00:00:00"))))
    snap.snapshot(s2, r, Seq("id"), strat,
      now = lit("2024-03-01 00:00:00").cast("timestamp"),
      hardDeletes = Some("new_record"))
    val afterDel = wh.read(r).filter(col("id") === 2).collect()
    assert(afterDel.length == 2, afterDel.mkString("; "))
    val delRow = afterDel.find(_.getAs[Timestamp]("dbt_valid_to") == null).get
    assert(delRow.getAs[String]("dbt_is_deleted") == "True")
    assert(delRow.getAs[String]("payload") == "b") // last-known values
    assert(delRow.getAs[Timestamp]("dbt_valid_from") == ts("2024-03-01 00:00:00"))

    // id=2 REAPPEARS with identical data: the deletion row closes and a
    // fresh 'False' version opens (monotone intervals, transaction time)
    snap.snapshot(s1, r, Seq("id"), strat,
      now = lit("2024-04-01 00:00:00").cast("timestamp"),
      hardDeletes = Some("new_record"))
    val afterBack = wh.read(r).filter(col("id") === 2)
    assert(afterBack.count() == 3)
    val cur = afterBack.filter(col("dbt_valid_to").isNull).collect()
    assert(cur.length == 1 && cur.head.getAs[String]("dbt_is_deleted") == "False")
    assert(cur.head.getAs[Timestamp]("dbt_valid_from") == ts("2024-04-01 00:00:00"))
    assertInvariants(wh, r)
  }

  test("new_record: a key that STAYS deleted gains no phantom versions") {
    val wh = freshWh(); val snap = new Snapshotter(wh)
    val strat = SnapshotStrategy.Timestamp("updated_at")
    val r = Relation("db", "s", "snap_staydel")
    val s1 = src(Seq((1L, "a", ts("2024-01-01 00:00:00")),
      (2L, "b", ts("2024-01-01 00:00:00"))))
    val s2 = src(Seq((1L, "a", ts("2024-01-01 00:00:00"))))
    snap.snapshot(s1, r, Seq("id"), strat, hardDeletes = Some("new_record"))
    snap.snapshot(s2, r, Seq("id"), strat,
      now = lit("2024-02-01 00:00:00").cast("timestamp"),
      hardDeletes = Some("new_record"))
    // two more runs with the key still absent: the open 'True' tracking
    // row must NOT re-delete — exactly 2 versions of id=2, forever
    snap.snapshot(s2, r, Seq("id"), strat,
      now = lit("2024-03-01 00:00:00").cast("timestamp"),
      hardDeletes = Some("new_record"))
    snap.snapshot(s2, r, Seq("id"), strat,
      now = lit("2024-04-01 00:00:00").cast("timestamp"),
      hardDeletes = Some("new_record"))
    val v2 = wh.read(r).filter(col("id") === 2).collect()
    assert(v2.length == 2, v2.mkString("; "))
    assert(v2.count(_.getAs[String]("dbt_is_deleted") == "True") == 1)
    assertInvariants(wh, r)
  }

  test("hard_deletes toggled new_record -> ignore keeps working (flag carried)") {
    val wh = freshWh(); val snap = new Snapshotter(wh)
    val strat = SnapshotStrategy.Timestamp("updated_at")
    val r = Relation("db", "s", "snap_toggleoff")
    snap.snapshot(src(Seq((1L, "a", ts("2024-01-01 00:00:00")))), r,
      Seq("id"), strat, hardDeletes = Some("new_record"))
    assert(wh.read(r).columns.contains("dbt_is_deleted"))
    // config toggled back to ignore; a CHANGED row must still insert —
    // the stored relation carries dbt_is_deleted, new versions gain it
    // as 'False' instead of throwing unresolved-column
    snap.snapshot(src(Seq((1L, "a2", ts("2024-02-01 00:00:00")))), r,
      Seq("id"), strat)
    val v1 = wh.read(r).filter(col("id") === 1).collect()
    assert(v1.length == 2, v1.mkString("; "))
    val cur = v1.find(_.getAs[Timestamp]("dbt_valid_to") == null).get
    assert(cur.getAs[String]("payload") == "a2")
    assert(cur.getAs[String]("dbt_is_deleted") == "False")
    assertInvariants(wh, r)
  }

  test("a widened source column type refuses; a narrower one casts up losslessly") {
    val wh = freshWh(); val snap = new Snapshotter(wh)
    val strat = SnapshotStrategy.Timestamp("updated_at")
    val r = Relation("db", "s", "snap_typedrift")
    val s = spark; import s.implicits._
    def srcTyped(big: Boolean, v: Long, at: String) = {
      val df = Seq((1L, v, ts(at))).toDF("id", "n", "updated_at")
      if (big) df else df.withColumn("n", col("n").cast("int"))
    }
    snap.snapshot(srcTyped(big = false, 7L, "2024-01-01 00:00:00"), r,
      Seq("id"), strat) // stored n: int
    // int -> long widening must refuse loudly (closed leaves would keep
    // the old parquet type while touched leaves take the new one)
    val e = intercept[IllegalStateException] {
      snap.snapshot(srcTyped(big = true, 5000000000L, "2024-02-01 00:00:00"),
        r, Seq("id"), strat)
    }
    assert(e.getMessage.contains("n(") && e.getMessage.contains("widened"),
      e.getMessage)
    // the narrow direction is fine: rebuild stored-as-long, then an
    // int-typed source run casts up and versions normally
    val r2 = Relation("db", "s", "snap_typedrift2")
    snap.snapshot(srcTyped(big = true, 5000000000L, "2024-01-01 00:00:00"),
      r2, Seq("id"), strat)
    snap.snapshot(srcTyped(big = false, 9L, "2024-02-01 00:00:00"),
      r2, Seq("id"), strat)
    val cur = wh.read(r2).filter(col("dbt_valid_to").isNull).collect()
    assert(cur.length == 1 && cur.head.getAs[Long]("n") == 9L)
    assertInvariants(wh, r2)
  }

  test("dbt_valid_to_current sentinel marks open rows; both spellings stay current") {
    val wh = freshWh(); val snap = new Snapshotter(wh)
    val strat = SnapshotStrategy.Timestamp("updated_at")
    val r = Relation("db", "s", "snap_sentinel")
    val sentinel = "9999-12-31 00:00:00"
    // run 1 WITHOUT the config (open rows get NULL), run 2 WITH it —
    // dbt never rewrites history on a config change, so both spellings
    // of "open" must keep working
    snap.snapshot(src(Seq((1L, "a", ts("2024-01-01 00:00:00")),
      (2L, "b", ts("2024-01-01 00:00:00")))), r, Seq("id"), strat)
    snap.snapshot(src(Seq((1L, "a2", ts("2024-02-01 00:00:00")),
      (2L, "b", ts("2024-01-01 00:00:00")))), r, Seq("id"), strat,
      validToCurrent = Some(sentinel))
    val out = wh.read(r)
    // the new current version carries the sentinel, not NULL
    val curNew = out.filter(col("id") === 1 && col("payload") === "a2").collect()
    assert(curNew.length == 1 &&
      curNew.head.getAs[Timestamp]("dbt_valid_to") == ts(sentinel))
    // the untouched pre-config current row keeps its NULL and stays open
    val curOld = out.filter(col("id") === 2).collect()
    assert(curOld.length == 1 &&
      curOld.head.getAs[Timestamp]("dbt_valid_to") == null)
    // a third run must still see BOTH as current (no duplicate versions)
    snap.snapshot(src(Seq((1L, "a2", ts("2024-02-01 00:00:00")),
      (2L, "b", ts("2024-01-01 00:00:00")))), r, Seq("id"), strat,
      validToCurrent = Some(sentinel))
    assert(wh.read(r).count() == 3) // idempotent: 2 current + 1 closed
  }

  test("snapshot_meta_column_names stores custom spellings end-to-end") {
    val wh = freshWh(); val snap = new Snapshotter(wh)
    val strat = SnapshotStrategy.Timestamp("updated_at")
    val r = Relation("db", "s", "snap_meta")
    val names = Map("dbt_valid_from" -> "start_ts", "dbt_valid_to" -> "end_ts",
      "dbt_scd_id" -> "row_key")
    snap.snapshot(src(Seq((1L, "a", ts("2024-01-01 00:00:00")))),
      r, Seq("id"), strat, metaNames = names)
    snap.snapshot(src(Seq((1L, "a2", ts("2024-02-01 00:00:00")))),
      r, Seq("id"), strat, metaNames = names)
    val out = wh.read(r)
    assert(Seq("start_ts", "end_ts", "row_key", "dbt_updated_at")
      .forall(out.columns.contains), out.columns.mkString(", "))
    assert(!out.columns.contains("dbt_valid_from"))
    assert(out.filter(col("end_ts").isNull).count() == 1)
    assert(out.count() == 2)
  }

  /** (path → (length, mtime)) of the parquet files under partition
    * `prefix`, across every version dir the current manifest maps it to.
    */
  def partitionFiles(wh: Warehouse, r: Relation,
                     prefix: String): Map[String, (Long, Long)] = {
    import org.apache.hadoop.fs.Path
    val base = new Path(wh.path(r), "_graft")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Map.newBuilder[String, (Long, Long)]
    wh.manifestEntries(r).getOrElse(Nil)
      .filter(e => e._2 == prefix || e._2.startsWith(prefix + "/"))
      .foreach { case (v, part) =>
        val it = fs.listFiles(new Path(new Path(base, v), part), true)
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet"))
            out += st.getPath.toString -> (st.getLen, st.getModificationTime)
        }
      }
    out.result()
  }

  test("closed history buckets are never rewritten by later runs") {
    val wh = freshWh(); val snap = new Snapshotter(wh)
    val r = Relation("db", "s", "snap_hist")
    val strat = SnapshotStrategy.Timestamp("updated_at")
    snap.snapshot(src(Seq(
      (1L, "a", ts("2024-01-10 00:00:00")),
      (2L, "b", ts("2024-01-10 00:00:00")))), r, Seq("id"), strat)
    // run 2 closes id=1 with valid_to in 2024-02 → bucket "2024-02"
    snap.snapshot(src(Seq(
      (1L, "a2", ts("2024-02-05 00:00:00")),
      (2L, "b", ts("2024-01-10 00:00:00")))), r, Seq("id"), strat)
    def filesOf(bucket: String): Map[String, (Long, Long)] =
      partitionFiles(wh, r, s"${Snapshotter.BUCKET}=$bucket")
    val before = filesOf("2024-02")
    assert(before.nonEmpty)
    // run 3 closes id=2 with valid_to in 2024-04 → only "current" and
    // "2024-04" may change; the 2024-02 files must be byte-identical
    snap.snapshot(src(Seq(
      (1L, "a2", ts("2024-02-05 00:00:00")),
      (2L, "b2", ts("2024-04-20 00:00:00")))), r, Seq("id"), strat)
    assert(filesOf("2024-04").nonEmpty)
    assert(filesOf("2024-02") == before,
      "closed 2024-02 bucket was rewritten by a run that did not touch it")
    assert(wh.read(r).count() == 4) // 2 closed + 2 current
    assertInvariants(wh, r)
  }

  test("delta-source run rewrites only the touched current sub-buckets") {
    val wh = freshWh()
    val snap = new Snapshotter(wh, subBuckets = Some(8))
    val r = Relation("db", "s", "snap_sub")
    val strat = SnapshotStrategy.Timestamp("updated_at")
    snap.snapshot(src((1L to 16L).map(i =>
      (i, s"p$i", ts("2024-01-10 00:00:00")))), r, Seq("id"), strat)
    def currentLeafFiles(): Map[String, (Long, Long)] =
      partitionFiles(wh, r, s"${Snapshotter.BUCKET}=${Snapshotter.CURRENT}")
    val before = currentLeafFiles()
    assert(before.keys.map(_.split("/").init.last).toSet.size > 2,
      "16 keys should spread over >2 of the 8 sub-buckets")
    // DELTA source: only the changed row reaches the run (the shape the
    // leaf-scoped rewrite exists for) — only the old row's sub-bucket and
    // the new version's sub-bucket may change
    snap.snapshot(src(Seq((1L, "p1x", ts("2024-02-05 00:00:00")))),
      r, Seq("id"), strat)
    val after = currentLeafFiles()
    val changedSubs = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
      .map(_.split("/").init.last).toSet
    assert(changedSubs.size <= 2,
      s"delta of one key must touch ≤2 sub-buckets, touched: $changedSubs")
    assert(before.exists { case (k, v) => after.get(k).contains(v) },
      "at least one untouched current leaf must keep its exact files")
    assert(wh.read(r).count() == 17) // 16 current + 1 closed version
    val id1 = wh.read(r).filter(col("id") === 1).collect()
    assert(id1.count(_.getAs[Timestamp]("dbt_valid_to") == null) == 1)
    assertInvariants(wh, r)
  }

  test("change detection reads a partition-pruned current slice") {
    val wh = freshWh(); val snap = new Snapshotter(wh)
    val r = Relation("db", "s", "snap_prune")
    val strat = SnapshotStrategy.Timestamp("updated_at")
    snap.snapshot(src(Seq(
      (1L, "a", ts("2024-01-10 00:00:00")),
      (2L, "b", ts("2024-01-10 00:00:00")))), r, Seq("id"), strat)
    snap.snapshot(src(Seq(
      (1L, "a2", ts("2024-02-05 00:00:00")),
      (2L, "b", ts("2024-01-10 00:00:00")))), r, Seq("id"), strat)
    // the exact read the next run's change detection performs: the bucket
    // filter must reach the scan as a PartitionFilter (pruned dirs), not
    // a post-scan predicate over the whole history
    val plan = wh.read(r)
      .filter(col(Snapshotter.BUCKET) === Snapshotter.CURRENT)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains(Snapshotter.BUCKET),
      s"current-slice read must partition-prune:\n$plan")
  }

  test("a run that closes every row drops the stale current partition") {
    val wh = freshWh(); val snap = new Snapshotter(wh)
    val r = Relation("db", "s", "snap_allclosed")
    val strat = SnapshotStrategy.Timestamp("updated_at")
    snap.snapshot(src(Seq((1L, "a", ts("2024-01-10 00:00:00")))), r, Seq("id"), strat)
    // hard-delete the only row: current partition must not survive stale
    snap.snapshot(src(Nil), r, Seq("id"), strat,
      now = lit("2024-03-01 00:00:00").cast("timestamp"),
      invalidateHardDeletes = true)
    val out = wh.read(r).collect()
    assert(out.length == 1 && out.head.getAs[Timestamp]("dbt_valid_to") != null)
  }

  test("as-of-key point lookup plans a fraction of the history files (layout + key sidecars)") {
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_snap_pt").toString)
    val snap = new Snapshotter(wh, subBuckets = Some(4))
    val r = Relation("db", "s", "snap_pt")
    val strat = SnapshotStrategy.Timestamp("updated_at")
    def rows(ks: Range, month: Int, tag: String) =
      src(ks.map(k => (k.toLong, s"$tag$k",
        ts(f"2024-$month%02d-01 00:00:00"))))
    snap.snapshot(rows(1 to 200, 1, "a"), r, Seq("id"), strat)
    // delta-shaped runs: disjoint key bands close into different months —
    // the snapshot write sorts leaves by (id, dbt_valid_from) and ships
    // key-column sidecars, so a point probe must skip the closure files
    // whose key ranges/blooms prove the key absent
    snap.snapshot(rows(1 to 50, 2, "b"), r, Seq("id"), strat)
    snap.snapshot(rows(51 to 100, 3, "c"), r, Seq("id"), strat)
    snap.snapshot(rows(101 to 150, 4, "d"), r, Seq("id"), strat)
    assertInvariants(wh, r)
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.metrics("numFiles").value }.sum
    }
    val all = plannedFiles(snap.read(r))
    val probe = plannedFiles(snap.read(r).filter(col("id") === 120L))
    assert(probe < all, s"probe planned $probe of $all files — no skipping")
    assert(probe * 2 <= all, s"probe planned $probe of $all files")
    // the pruned probe still returns the key's full history
    val hist = snap.read(r).filter(col("id") === 120L).collect()
    assert(hist.length == 2)
    assert(hist.count(_.getAs[Timestamp]("dbt_valid_to") == null) == 1)
  }

  test("multi-column keys: string keys cluster-sort, numeric keys z-order — both write") {
    val s = spark; import s.implicits._
    val strat = SnapshotStrategy.Timestamp("updated_at")
    // string key pair: ZOrder can't quantize strings — the layout must
    // fall back to the lexicographic cluster sort, not crash the write
    val whS = new Warehouse(spark,
      Files.createTempDirectory("graft_snap_mk").toString)
    val snapS = new Snapshotter(whS)
    val rs = Relation("db", "s", "snap_strkeys")
    def srcS(tag: String, t: String) =
      Seq(("us", "a", tag, ts(t)), ("eu", "b", tag, ts(t)))
        .toDF("region", "code", "payload", "updated_at")
    snapS.snapshot(srcS("v1", "2024-01-01 00:00:00"), rs,
      Seq("region", "code"), strat)
    snapS.snapshot(srcS("v2", "2024-02-01 00:00:00"), rs,
      Seq("region", "code"), strat)
    val outS = whS.read(rs)
    assert(outS.count() == 4)
    assert(outS.filter(col("dbt_valid_to").isNull).count() == 2)
    // numeric key pair: the z-order path
    val whN = new Warehouse(spark,
      Files.createTempDirectory("graft_snap_mkn").toString)
    val snapN = new Snapshotter(whN)
    val rn = Relation("db", "s", "snap_numkeys")
    def srcN(tag: String, t: String) =
      (1L to 20L).map(i => (i, i % 3, tag, ts(t)))
        .toDF("k1", "k2", "payload", "updated_at")
    snapN.snapshot(srcN("v1", "2024-01-01 00:00:00"), rn, Seq("k1", "k2"), strat)
    snapN.snapshot(srcN("v2", "2024-02-01 00:00:00"), rn, Seq("k1", "k2"), strat)
    val outN = whN.read(rn)
    assert(outN.count() == 40)
    assert(outN.filter(col("dbt_valid_to").isNull).count() == 20)
  }

  test("retention drops only closed months older than the cutoff") {
    val wh = freshWh(); val snap = new Snapshotter(wh)
    val r = Relation("db", "s", "snap_ret")
    val strat = SnapshotStrategy.Timestamp("updated_at")
    snap.snapshot(src(Seq((1L, "a", ts("2024-01-10 00:00:00")))), r, Seq("id"), strat)
    snap.snapshot(src(Seq((1L, "a2", ts("2024-02-05 00:00:00")))), r, Seq("id"), strat)
    snap.snapshot(src(Seq((1L, "a3", ts("2024-05-20 00:00:00")))), r, Seq("id"), strat)
    assert(wh.read(r).count() == 3) // 2 closed (Feb, May) + 1 current
    assert(snap.expireClosedHistory(r, "2024-03") == Seq("2024-02"))
    val left = snap.read(r).collect()
      .map(x => (x.getAs[String]("payload"),
        x.getAs[Timestamp]("dbt_valid_to") == null)).toSet
    // Feb closure gone; May closure and the current row survive
    assert(left == Set(("a2", false), ("a3", true)))
    assert(snap.expireClosedHistory(r, "2024-03").isEmpty) // idempotent
  }

  test("NULL-key rows follow dbt's plain-= join: they insert on every run") {
    val s = spark
    import s.implicits._
    val wh = freshWh(); val snap = new Snapshotter(wh)
    val strat = SnapshotStrategy.Timestamp("updated_at")
    val r = Relation("db", "s", "snap_nullkey")
    def run(rows: Seq[(Option[Long], String, Timestamp)]) =
      snap.snapshot(rows.toDF("id", "payload", "updated_at"), r, Seq("id"), strat)
    run(Seq((Some(1L), "a", ts("2024-01-01 00:00:00")),
      (None, "n1", ts("2024-01-01 00:00:00"))))
    // second run carries the same NULL-key row: dbt's `=` key join never
    // matches a NULL key, so it inserts AGAIN (documented footgun — NOT
    // a <=> cross-match against the existing NULL-key row)
    run(Seq((Some(1L), "a", ts("2024-01-01 00:00:00")),
      (None, "n1", ts("2024-01-02 00:00:00"))))
    val nullRows = wh.read(r).filter(col("id").isNull).collect()
    assert(nullRows.length == 2, s"expected 2 inserted NULL-key versions, got ${nullRows.length}")
    assert(nullRows.forall(_.getAs[Timestamp]("dbt_valid_to") == null))
    // the non-NULL key stayed single-current and unchanged
    assert(wh.read(r).filter(col("id") === 1).count() == 1)
  }

  test("compactPartitions keeps the snapshot's key blooms: a point probe still prunes") {
    // no session conf: the snapshot writes ask for the key blooms, and
    // the compaction rewrite must keep them on its merged dir
    val wh = freshWh(); val snap = new Snapshotter(wh, subBuckets = Some(2))
    val r = Relation("db", "s", "snap_cmp")
    val strat = SnapshotStrategy.Timestamp("updated_at")
    // even keys only: an odd key is absent yet inside every file's range
    def rows(ks: Seq[Int], month: Int, tag: String) =
      src(ks.map(k => (2L * k, s"$tag$k", ts(f"2024-$month%02d-01 00:00:00"))))
    snap.snapshot(rows(1 to 100, 1, "a"), r, Seq("id"), strat)
    snap.snapshot(rows(1 to 40, 2, "b"), r, Seq("id"), strat)
    snap.snapshot(rows(41 to 80, 3, "c"), r, Seq("id"), strat)
    assert(wh.bloomsFor(r, "id").isDefined)
    val pcols = Seq(Snapshotter.BUCKET, Snapshotter.SUB)
    assert(wh.compactPartitions(r, pcols, maxFiles = 0).nonEmpty)
    assert(wh.bloomsFor(r, "id").isDefined,
      "compaction left the merged dir without the key bloom")
    assertInvariants(wh, r)
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.metrics("numFiles").value }.sum
    }
    assert(plannedFiles(snap.read(r)) > 0)
    assert(plannedFiles(snap.read(r).filter(col("id") === 77L)) == 0,
      "the absent key's probe was not pruned by the bloom")
    assert(snap.read(r).filter(col("id") === 60L).count() == 2)
  }
}
