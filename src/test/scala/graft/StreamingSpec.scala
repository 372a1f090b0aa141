package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Events, TData}
import graft.streaming.StreamingJobs

/** Streaming results must equal their batch counterparts on a finite
  * source — one logic definition, two execution modes.
  */
class StreamingSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** readStream needs a directory; stage the single events parquet into one. */
  lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft_stream")
    Files.copy(Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("streaming hourly windows equal the batch tumbling-window result") {
    val stream = StreamingJobs.hourlyWindows(
      StreamingJobs.readEvents(spark, streamDir))
    val got = StreamingJobs.runToMemory(spark, stream, "hourly_out",
        OutputMode.Complete())
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val want = Events.hourlyWindows(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == want)
  }

  test("flatMapGroupsWithState closes sessions as the watermark advances") {
    // two files => two micro-batches (maxFilesPerTrigger=1): the second
    // carries a far-future sentinel that advances the watermark past every
    // real session's gap, firing all event-time timeouts
    val dir = Files.createTempDirectory("graft_stream_fmgws")
    Files.copy(Paths.get(s"$sf/events.parquet"),
      dir.resolve("part-0-events.parquet"))
    // sentinel in the same physical ts shape as the staged corpus file
    TData.events(spark, sf).limit(1)
      .select(col("event_id"),
        StreamingJobs.tsInShape(
          StreamingJobs.probeTsType(spark, dir.toString),
          unix_millis(col("ts")) + 10000000000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.parquet(dir.resolve("part-1-sentinel").toString)
    // stage the sentinel file after the events file
    val sentinelFile = Files.list(dir.resolve("part-1-sentinel")).iterator()
      .asScala.find(_.toString.endsWith(".parquet")).get
    Files.move(sentinelFile, dir.resolve("part-9-sentinel.parquet"))

    val src = StreamingJobs.readEvents(spark, dir.toString,
      Map("maxFilesPerTrigger" -> "1"))
    StreamingJobs.runToMemory(spark,
      StreamingJobs.closedSessions(spark, src).toDF(),
      "closed_sessions", OutputMode.Append())

    val got = spark.table("closed_sessions")
      .groupBy("user_id").agg(sum("n_events").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every real event lands in some closed session (sentinel user's own
    // last session may stay open; exclude that user)
    val sentinelUser = TData.events(spark, sf).limit(1)
      .collect().head.getAs[Long]("user_id")
    val want = TData.events(spark, sf).groupBy("user_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    want.foreach { case (u, n) =>
      if (u != sentinelUser) assert(got.get(u).contains(n), s"user $u")
    }
  }

  test("sessionization survives cross-batch out-of-order events") {
    // one user; batches arrive as [0min, 20min], then a LATE 12min event
    // (inside the 10-min watermark), then 45min + a far-future sentinel.
    // All four real events are within 30-min gaps of each other in EVENT
    // time, so they are ONE session — a buggy implementation that rewinds
    // lastMs to the late event (20 -> 12) would split at 45min (33 > 30).
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_stream_ooo")
    val uid = 424242L
    val sentinelUid = 555555L // a DIFFERENT user: a same-user sentinel would
    // re-register uid's group timeout to the sentinel session's far future
    def writeBatch(name: String, minutes: Seq[Long], user: Long = uid): Unit = {
      minutes.map(m => (m, m * 60L * 1000000000L, user, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(dir.resolve(s"stage_$name").toString)
      val f = Files.list(dir.resolve(s"stage_$name")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(f, dir.resolve(s"$name.parquet")); ()
    }
    // timeline starts at 60min: epoch-0 events sit exactly at the initial
    // watermark and are dropped as late before the stateful operator
    writeBatch("batch-1", Seq(60L, 80L))
    writeBatch("batch-2", Seq(72L))          // late but inside watermark
    writeBatch("batch-3", Seq(105L))         // would split if lastMs rewound
    writeBatch("batch-4", Seq(100000L), sentinelUid) // advances the watermark

    val src = spark.readStream
      .schema(StreamingJobs.rawSchema(org.apache.spark.sql.types.LongType))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    StreamingJobs.runToMemory(spark,
      StreamingJobs.closedSessions(spark, src).toDF(),
      "ooo_sessions", OutputMode.Append())

    val closed = spark.table("ooo_sessions")
      .filter(col("user_id") === uid)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(closed == Seq((60L * 60000, 4L)),
      s"want one session (start 60min, 4 events), got $closed")
  }

  test("stream-stream join matches across micro-batches; out-of-window never joins") {
    // click arrives in batch 1, its purchase in batch 2 (8 min later —
    // in-window): the join's buffered click state must carry across the
    // batch boundary. A second purchase at +20 min is OUTSIDE the 10-min
    // range bound and must never pair despite matching the key.
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_stream_ssj")
    val uid = 77L
    def writeBatch(name: String, rows: Seq[(Long, Long, String)]): Unit = {
      rows.map { case (id, min, typ) =>
        (id, min * 60L * 1000000000L, uid, typ, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(dir.resolve(s"stage_$name").toString)
      val f = Files.list(dir.resolve(s"stage_$name")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(f, dir.resolve(s"$name.parquet")); ()
    }
    writeBatch("batch-1", Seq((1L, 60L, "click")))
    writeBatch("batch-2", Seq((2L, 68L, "purchase"),  // in-window, cross-batch
                              (3L, 80L, "purchase"))) // out-of-window
    val src = spark.readStream
      .schema(StreamingJobs.rawSchema(org.apache.spark.sql.types.LongType))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    StreamingJobs.runToMemory(spark,
      StreamingJobs.clickAttribution(src), "ssj_pairs", OutputMode.Append())
    val pairs = spark.table("ssj_pairs")
      .collect().map(r => (r.getAs[Long]("click_id"),
        r.getAs[Long]("purchase_id"))).toSet
    assert(pairs == Set((1L, 2L)),
      s"want exactly the in-window cross-batch pair, got $pairs")
  }

  test("sessionization stopped mid-stream resumes from the checkpoint") {
    // a session left OPEN across a stop/restart must survive in the state
    // store: the restarted query extends it with new events and closes it
    // with the same membership an uninterrupted run would produce
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_stream_restart")
    val ckpt = Files.createTempDirectory("graft_stream_restart_ckpt").toString
    val outDir = Files.createTempDirectory("graft_stream_restart_out").toString
    val uid = 777L
    val sentinelUid = 888L
    def writeBatch(name: String, minutes: Seq[Long], user: Long = uid): Unit = {
      minutes.map(m => (m, m * 60L * 1000000000L, user, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(dir.resolve(s"stage_$name").toString)
      val f = Files.list(dir.resolve(s"stage_$name")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(f, dir.resolve(s"$name.parquet")); ()
    }
    def runQuery(): Unit = {
      val src = spark.readStream
        .schema(StreamingJobs.rawSchema(org.apache.spark.sql.types.LongType))
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString)
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      val q = StreamingJobs.closedSessions(spark, src).toDF()
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    writeBatch("batch-1", Seq(60L, 70L)) // session opens: [60, 70]
    runQuery() // first incarnation processes batch-1, then STOPS
    // arrives only after the restart: 80 extends the surviving session,
    // 150 opens a second one, the sentinel closes everything
    writeBatch("batch-2", Seq(80L, 150L))
    writeBatch("batch-3", Seq(100000L), sentinelUid)
    runQuery() // second incarnation resumes from the checkpoint
    val got = spark.read.parquet(outDir).filter(col("user_id") === uid)
      .collect().map(r => (r.getAs[Long]("session_start_ms") / 60000,
        r.getAs[Long]("n_events"))).toSet
    // state loss at the restart would instead emit (60,2) and (80,1)
    assert(got == Set((60L, 3L), (150L, 1L)), s"got $got")
  }

  test("foreachBatch warehouse sink ingests exactly-once across a restart") {
    import graft.core.{Relation, Warehouse}
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_sink_src")
    val ckpt = Files.createTempDirectory("graft_sink_ckpt").toString
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_sink_wh").toString)
    val r = Relation("db", "sch", "t_ingest")
    def writeFile(name: String, ids: Seq[Long]): Unit = {
      ids.map(i => (i, i)).toDF("id", "v")
        .coalesce(1).write.parquet(dir.resolve(s"stage_$name").toString)
      val f = Files.list(dir.resolve(s"stage_$name")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(f, dir.resolve(s"$name.parquet")); ()
    }
    def runQuery(): Unit = {
      val src = spark.readStream
        .schema("id LONG, v LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString)
      val q = src.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(StreamingJobs.warehouseSink(wh, r, "ingest"))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    writeFile("f1", Seq(1L, 2L, 3L))
    writeFile("f2", Seq(4L, 5L))
    runQuery() // two micro-batches (maxFilesPerTrigger=1): ids 0 and 1
    assert(wh.read(r).count() == 5)
    val wm = wh.streamWatermark(r, "ingest")
    assert(wm.exists(_ >= 1L), s"watermark after two batches: $wm")

    // crash replay: the checkpoint's last batch is re-delivered on a
    // restart that died before committing offsets — simulate the exact
    // foreachBatch call Spark would make; the sink must no-op it
    val replay = spark.read.parquet(dir.resolve("f2.parquet").toString)
    StreamingJobs.warehouseSink(wh, r, "ingest")(replay, wm.get)
    assert(wh.read(r).count() == 5, "replayed batch must not duplicate rows")

    writeFile("f3", Seq(6L))
    runQuery() // restarted incarnation picks up only the new file
    assert(wh.read(r).count() == 6)
    assert(wh.read(r).select("id").as[Long].collect().sorted.toSeq ==
      (1L to 6L))
  }

  test("fuzzy-gated ingestion: stream gated against the index, exactly-once, crash heals") {
    import graft.core.{Relation, Warehouse}
    import graft.ops.TextOps
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_fz_src")
    val ckpt = Files.createTempDirectory("graft_fz_ckpt").toString
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_fz_wh").toString)
    val rel = Relation("db", "sch", "t_docs")
    val shRel = Relation("idx", "mh", "docs__shingles")
    val bandRel = Relation("idx", "mh", "docs__bands")
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val idx = new TextOps.FuzzyIndex(wh, "docs")
    idx.build(Seq((1L, words("alpha", 40)), (2L, words("beta", 40)))
      .toDF("doc_id", "text"))
    def writeFile(name: String, rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text")
        .coalesce(1).write.parquet(dir.resolve(s"stage_$name").toString)
      val f = Files.list(dir.resolve(s"stage_$name")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(f, dir.resolve(s"$name.parquet")); ()
    }
    def corpusIds: Seq[Long] =
      wh.read(rel).select("doc_id").as[Long].collect().sorted.toSeq
    val sink = StreamingJobs.fuzzyIngestSink(wh, idx, rel, "ingest")
    def runQuery(): Unit = {
      val src = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString)
      val q = src.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // batch 0: near-dup of indexed doc 1 + a novel doc; batch 1: near-dup
    // of the doc batch 0 JUST admitted (the index must have grown) + novel
    writeFile("f1", Seq((100L, words("alpha", 40)), (101L, words("delta", 40))))
    writeFile("f2", Seq((200L, "zz yy " + words("delta", 40)),
      (201L, words("eps", 40))))
    runQuery()
    assert(corpusIds == Seq(101L, 201L),
      s"near-dups must be rejected, novels admitted: $corpusIds")
    // checkpoint-restart replay of the last batch: nothing changes in the
    // corpus OR either index relation
    val wm = wh.streamWatermark(rel, "ingest").get
    val (shN, bdN) = (wh.read(shRel).count(), wh.read(bandRel).count())
    sink(spark.read.parquet(dir.resolve("f2.parquet").toString), wm)
    assert(corpusIds == Seq(101L, 201L))
    assert(wh.read(shRel).count() == shN, "replay must not grow the shingle index")
    assert(wh.read(bandRel).count() == bdN, "replay must not grow the band index")
    // partial crash: corpus append committed, the process died before the
    // index absorbed the batch; replaying the same (batch, id) heals —
    // corpus no-ops on its watermark, the index commits
    val b2 = Seq((300L, words("zeta", 40))).toDF("doc_id", "text")
    wh.appendStreamBatch(b2, rel, "ingest", wm + 1)
    sink(b2, wm + 1)
    assert(corpusIds == Seq(101L, 201L, 300L))
    // and the healed index gates the next batch against the crashed doc
    sink(Seq((400L, "qq rr " + words("zeta", 40)), (401L, words("theta", 40)))
      .toDF("doc_id", "text"), wm + 2)
    assert(corpusIds == Seq(101L, 201L, 300L, 401L),
      "near-dup of the healed doc must be rejected")
  }

  test("streaming CDC pipeline: file-fed change batches fold exactly-once across a restart") {
    import graft.core.{ModelConfig, Relation, Warehouse}
    import graft.materialize.Materializer
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_cdc_src")
    val ckpt = Files.createTempDirectory("graft_cdc_ckpt").toString
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_cdc_whs").toString)
    val m = new Materializer(wh)
    val r = Relation("db", "sch", "t_cdc_stream")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"))
    def writeFile(name: String, rows: Seq[(Long, Double, String, Long)]): Unit = {
      rows.toDF("id", "v", "_op", "_seq")
        .coalesce(1).write.parquet(dir.resolve(s"stage_$name").toString)
      val f = Files.list(dir.resolve(s"stage_$name")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(f, dir.resolve(s"$name.parquet")); ()
    }
    def runQuery(): Unit = {
      val src = spark.readStream
        .schema("id LONG, v DOUBLE, _op STRING, _seq LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString)
      val q = src.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(StreamingJobs.cdcSink(m, r, cfg, "repl"))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def state(): Set[(Long, Double)] =
      wh.read(r).select($"id", $"v").as[(Long, Double)].collect().toSet

    writeFile("c1", Seq((1L, 1.0, "I", 1L), (2L, 2.0, "I", 2L)))
    writeFile("c2", Seq((2L, 2.5, "U", 3L), (3L, 3.0, "I", 4L)))
    runQuery() // two micro-batches: insert {1,2}, then update 2 + insert 3
    assert(state() == Set((1L, 1.0), (2L, 2.5), (3L, 3.0)))
    val wm = wh.streamWatermark(r, "repl").get

    // crash replay of the checkpoint's last batch must not re-fold
    val replay = spark.read.parquet(dir.resolve("c2.parquet").toString)
    StreamingJobs.cdcSink(m, r, cfg, "repl")(replay, wm)
    assert(state() == Set((1L, 1.0), (2L, 2.5), (3L, 3.0)))

    // restart picks up only the new file: delete 1, late-stale update of
    // 2 (seq 1 < the landed seq 3) still overwrites — CDC folds WITHIN a
    // batch; cross-batch ordering is the feed's contract (batch ids are
    // the replication stream's order)
    writeFile("c3", Seq((1L, 0.0, "D", 5L), (3L, 3.5, "U", 6L)))
    runQuery()
    assert(state() == Set((2L, 2.5), (3L, 3.5)))
    assert(wh.streamWatermark(r, "repl").exists(_ > wm))
  }

  test("beyond-watermark event never rewrites an already-emitted session") {
    // Append-mode output is immutable: once the watermark passes a
    // session's gap and the session EMITS (state removed), an event older
    // than the watermark — even one falling INSIDE the emitted session's
    // time range — must not rewrite that emission. With an event-time
    // watermark defined, Spark filters beyond-watermark rows from the
    // flatMapGroupsWithState input, so the late event is DROPPED before
    // the state machine: emitted history stands, and no contradictory
    // session appears. (Events late relative to the PREVIOUS batch but
    // inside the current watermark still merge — pinned by the
    // out-of-order test above. The watermark lags one batch — it advances
    // only AFTER the batch carrying the far-future sentinel — so the
    // close fires in the sentinel's FOLLOWING batch, which is why two
    // sentinel batches precede the late event; in the sentinel's own
    // batch the 65min event would still be on time and would merge.)
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_stream_late")
    val uid = 31337L
    val sentinelUid = 41414L
    def writeBatch(name: String, minutes: Seq[Long], user: Long = uid): Unit = {
      minutes.map(m => (m, m * 60L * 1000000000L, user, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(dir.resolve(s"stage_$name").toString)
      val f = Files.list(dir.resolve(s"stage_$name")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(f, dir.resolve(s"$name.parquet")); ()
    }
    writeBatch("batch-1", Seq(60L, 70L))             // session [60, 70]
    writeBatch("batch-2", Seq(100000L), sentinelUid) // wm still 60min here
    writeBatch("batch-3", Seq(100001L), sentinelUid) // wm -> ~99990min: EMITS (60,2)
    writeBatch("batch-4", Seq(65L)) // inside the EMITTED session's range,
    // ~99925min beyond the watermark: filtered before the state machine

    val src = spark.readStream
      .schema(StreamingJobs.rawSchema(org.apache.spark.sql.types.LongType))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    StreamingJobs.runToMemory(spark,
      StreamingJobs.closedSessions(spark, src).toDF(),
      "late_sessions", OutputMode.Append())
    val got = spark.table("late_sessions").filter(col("user_id") === uid)
      .collect().map(r => (r.getAs[Long]("session_start_ms") / 60000,
        r.getAs[Long]("n_events"))).toSeq.sorted
    assert(got == Seq((60L, 2L)),
      s"emitted history must stand; the beyond-watermark event is dropped: $got")
  }

  test("sessionization runs on the RocksDB state store, surviving a restart") {
    // The scale-path state backend: HDFS-backed state keeps every key in
    // executor heap, RocksDB spills to local disk — the difference between
    // OOM and steady state at 10^8 active sessions. Same stop/restart
    // scenario as the checkpoint test, but under RocksDBStateStoreProvider,
    // proving the session state machine round-trips through RocksDB
    // serialization and its checkpoint format recovers across incarnations.
    val s = spark
    import s.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = Files.createTempDirectory("graft_stream_rocksdb")
      val ckpt = Files.createTempDirectory("graft_stream_rocksdb_ckpt").toString
      val outDir = Files.createTempDirectory("graft_stream_rocksdb_out").toString
      val uid = 999L
      val sentinelUid = 1111L
      def writeBatch(name: String, minutes: Seq[Long], user: Long = uid): Unit = {
        minutes.map(m => (m, m * 60L * 1000000000L, user, "click", 1.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.parquet(dir.resolve(s"stage_$name").toString)
        val f = Files.list(dir.resolve(s"stage_$name")).iterator().asScala
          .find(_.toString.endsWith(".parquet")).get
        Files.move(f, dir.resolve(s"$name.parquet")); ()
      }
      def runQuery(): Unit = {
        val src = spark.readStream
          .schema(StreamingJobs.rawSchema(org.apache.spark.sql.types.LongType))
          .option("maxFilesPerTrigger", "1")
          .parquet(dir.toString)
          .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        val q = StreamingJobs.closedSessions(spark, src).toDF()
          .writeStream.outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .format("parquet").option("path", outDir)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      writeBatch("batch-1", Seq(60L, 70L))
      runQuery() // first incarnation, then STOP with the session open
      writeBatch("batch-2", Seq(80L, 150L))
      writeBatch("batch-3", Seq(100000L), sentinelUid)
      runQuery() // resumes the RocksDB-held state from the checkpoint
      val got = spark.read.parquet(outDir).filter(col("user_id") === uid)
        .collect().map(r => (r.getAs[Long]("session_start_ms") / 60000,
          r.getAs[Long]("n_events"))).toSet
      assert(got == Set((60L, 3L), (150L, 1L)), s"got $got")
      // the state checkpoint must actually be RocksDB's format: zip
      // snapshots (+ optional changelogs), not the HDFS provider's .delta
      val stateFiles = Files.walk(Paths.get(ckpt, "state")).iterator().asScala
        .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
      assert(stateFiles.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
        s"no RocksDB artifacts under $ckpt/state: $stateFiles")
      assert(!stateFiles.exists(_.endsWith(".delta")),
        s"HDFS-provider .delta files found — RocksDB provider not in effect")
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("streaming dedup drops re-delivered events, state bounded by watermark") {
    // duplicate delivery: the same events file staged twice
    val dir = Files.createTempDirectory("graft_stream_dedup")
    Files.copy(Paths.get(s"$sf/events.parquet"), dir.resolve("delivery-1.parquet"))
    Files.copy(Paths.get(s"$sf/events.parquet"), dir.resolve("delivery-2.parquet"))
    val stream = StreamingJobs.dedupedEvents(
      StreamingJobs.readEvents(spark, dir.toString))
    val got = StreamingJobs.runToMemory(spark, stream, "dedup_out",
      OutputMode.Append())
    val want = TData.events(spark, sf).count()
    assert(got.count() == want)
    assert(got.select("event_id").distinct().count() == want)
  }

  test("stateful user stats equal the batch per-user aggregate") {
    StreamingJobs.runToMemory(spark,
      StreamingJobs.userRunningStats(spark,
        StreamingJobs.readEvents(spark, streamDir)).toDF(),
      "user_stats", OutputMode.Update())
    // update mode: keep the LAST emitted row per user
    val got = spark.table("user_stats")
      .groupBy("user_id").agg(max("n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = TData.events(spark, sf).groupBy("user_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }
}
