package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.materialize._

/** The warehouse commit protocol: versioned data
  * dirs + numbered manifest files, commit = atomic create-if-absent of the
  * next manifest. Mirrors MaterializeSpec's crash-window battery for the
  * strategy where the crash windows are DIFFERENT: there are no renames,
  * so the failure modes are orphan version dirs (write finished, commit
  * never happened) and truncated manifests (commit half-written) — both
  * must be invisible to readers and reclaimed by GC.
  */
class ManifestCommitSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def freshWh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_mf_wh").toString)
  def rel(n: String): Relation = Relation("db", "sch", n)

  def df(rows: Seq[(Long, String, Double)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "name", "score")
  }

  private def mfDir(wh: Warehouse, r: Relation) =
    Paths.get(wh.path(r), "_graft")

  private def listMf(wh: Warehouse, r: Relation): Seq[String] = {
    val d = mfDir(wh, r)
    if (!Files.exists(d)) Nil
    else {
      val s = Files.list(d)
      try s.iterator().asScala().map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
  }
  implicit private class IterOps[T](it: java.util.Iterator[T]) {
    def asScala(): Iterator[T] = new Iterator[T] {
      def hasNext = it.hasNext; def next() = it.next()
    }
  }

  test("table swap: reader sees exactly the committed version, old GC'd") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t1")
    m.table(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))), r)
    m.table(df(Seq((3L, "c", 3.0))), r)
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(3L))
    // no sibling tmp/backup relations ever exist under this protocol
    assert(wh.listRelations("db", "sch").map(_.identifier) == Seq("t1"))
    // enough commits retire the first version's dir and manifest
    m.table(df(Seq((4L, "d", 4.0))), r)
    m.table(df(Seq((5L, "e", 5.0))), r)
    val names = listMf(wh, r)
    assert(names.count(_.endsWith(".manifest")) == 3, s"retention: $names")
    assert(names.count(_.startsWith("v")) == 3, s"GC kept: $names")
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(5L))
  }

  test("orphan version dir (crash before commit) is invisible and GC'd") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_orph")
    // a writer that crashed after its data write but before its manifest:
    // version dir present, no manifest referencing it
    val orphan = mfDir(wh, r).resolve("v000000000001-deadbeef")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    assert(!wh.exists(r), "uncommitted data must not make the table exist")
    m.table(df(Seq((1L, "a", 1.0))), r)
    assert(wh.read(r).count() == 1)
    // commits numbered past the retention window reclaim the orphan
    m.table(df(Seq((2L, "b", 2.0))), r)
    m.table(df(Seq((3L, "c", 3.0))), r)
    m.table(df(Seq((4L, "d", 4.0))), r)
    assert(!Files.exists(orphan), "orphan version dir must be GC'd")
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(4L))
  }

  test("truncated manifest (crash mid-commit) falls back to previous version") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_trunc")
    m.table(df(Seq((1L, "a", 1.0))), r)
    m.table(df(Seq((2L, "b", 2.0))), r)
    // a half-written next manifest: header + entry but no `end` trailer
    Files.write(mfDir(wh, r).resolve("m000000000003.manifest"),
      "graftmf1\nv000000000003-dead\t\n".getBytes("UTF-8"))
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(2L),
      "reader must resolve the last COMPLETE manifest")
    // and the next commit claims seq 4, superseding the broken 3
    m.table(df(Seq((5L, "e", 5.0))), r)
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(5L))
  }

  test("partition-scoped merge: untouched partition files stay byte-identical") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_scope")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      partitionBy = Seq("name"), partitionKeysStable = true)
    m.incremental(df(Seq((1L, "p1", 1.0), (2L, "p2", 2.0))), r, cfg)
    val e1 = wh.manifestEntries(r).get
    val p1dir = e1.find(_._2 == "name=p1").get
    val p1files = {
      val d = Paths.get(wh.path(r), "_graft", p1dir._1, p1dir._2)
      val s = Files.list(d)
      try s.iterator().asScala()
        .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p)))
        .toSeq.sortBy(_._1)
      finally s.close()
    }
    m.incremental(df(Seq((20L, "p2", 20.0))), r, cfg)
    val e2 = wh.manifestEntries(r).get
    // p1's entry still points at the ORIGINAL version dir
    assert(e2.find(_._2 == "name=p1").get == p1dir)
    assert(e2.find(_._2 == "name=p2").get._1 != p1dir._1)
    val p1after = {
      val d = Paths.get(wh.path(r), "_graft", p1dir._1, p1dir._2)
      val s = Files.list(d)
      try s.iterator().asScala()
        .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p)))
        .toSeq.sortBy(_._1)
      finally s.close()
    }
    assert(p1after == p1files, "untouched partition data must not be rewritten")
    val out = wh.read(r).collect()
      .map(x => (x.getAs[Long]("id"), x.getAs[String]("name"))).toSet
    // merge semantics: key 20 upserts into p2, key 2 (not in the
    // increment) survives inside the REPLACED partition's new version
    assert(out == Set((1L, "p1"), (2L, "p2"), (20L, "p2")))
  }

  test("static insert_overwrite drops pinned values, appends out-of-list rows") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_static")
    val base = ModelConfig(materialized = "incremental",
      incrementalStrategy = IncrementalStrategy.InsertOverwrite,
      partitionBy = Seq("name"))
    m.incremental(df(Seq((1L, "p1", 1.0), (2L, "p2", 2.0), (3L, "p3", 3.0))),
      r, base)
    // pinned list (p1,p2): p1 replaced by increment, p2 dropped (no rows),
    // p3 untouched, p4 appends to its own (new) partition
    m.incremental(df(Seq((10L, "p1", 10.0), (40L, "p4", 40.0))), r,
      base.copy(partitions = Seq("p1", "p2")))
    val out = wh.read(r).collect()
      .map(x => (x.getAs[String]("name"), x.getAs[Long]("id"))).toSet
    assert(out == Set(("p1", 10L), ("p3", 3L), ("p4", 40L)))
    assert(wh.listPartitions(r).toSet == Set("name=p1", "name=p3", "name=p4"))
  }

  test("append accumulates version entries; compaction consolidates them") {
    val wh = freshWh(); val r = rel("t_app")
    wh.append(df(Seq((1L, "p1", 1.0))), r, Seq("name"))
    wh.append(df(Seq((2L, "p1", 2.0))), r, Seq("name"))
    wh.append(df(Seq((3L, "p1", 3.0))), r, Seq("name"))
    assert(wh.manifestEntries(r).get.count(_._2 == "name=p1") == 3)
    assert(wh.read(r).count() == 3)
    val compacted = wh.compactPartitions(r, Seq("name"), maxFiles = 2)
    assert(compacted == Seq("name=p1"))
    assert(wh.manifestEntries(r).get.count(_._2 == "name=p1") == 1)
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("dropPartitions is a metadata-only commit") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_dropp")
    m.table(df(Seq((1L, "p1", 1.0), (2L, "p2", 2.0))), r,
      ModelConfig(partitionBy = Seq("name")))
    wh.dropPartitions(r, "name", Seq("p1"))
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(2L))
    assert(wh.listPartitions(r) == Seq("name=p2"))
    assert(wh.footerRows(r) == 1L)
  }

  test("schema evolution (append_new_columns) rewrites through the manifest") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_evo")
    val s = spark
    import s.implicits._
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      onSchemaChange = OnSchemaChange.AppendNewColumns)
    m.incremental(Seq((1L, "a")).toDF("id", "name"), r, cfg)
    m.incremental(Seq((2L, "b", 9.0)).toDF("id", "name", "extra"), r, cfg)
    val out = wh.read(r)
    assert(out.columns.toSeq == Seq("id", "name", "extra"))
    assert(out.filter(col("id") === 1L).select("extra").collect().head.isNullAt(0))
  }

  /** The parquet files under `dir`, recursively (`_graft/` included). */
  private def parquetUnder(dir: String): Seq[java.nio.file.Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala().filter(_.toString.endsWith(".parquet"))
      .toList.sortBy(_.toString)
    finally s.close()
  }

  /** A flat and a partitioned dir in the plain layout older releases
    * wrote: bare parquet files or `k=v` dirs, no `_graft/`.
    */
  private def plainDirs(wh: Warehouse): (Relation, Relation) = {
    val flat = rel("t_flat"); val parted = rel("t_parted")
    df(Seq((1L, "a", 1.0), (2L, "b", 2.0))).write.parquet(wh.path(flat))
    df(Seq((1L, "a", 1.0), (2L, "b", 2.0))).write.partitionBy("name")
      .parquet(wh.path(parted))
    (flat, parted)
  }

  private def refusedNamingAdopt(body: => Any): Unit = {
    val e = intercept[IllegalStateException](body)
    assert(e.getMessage.contains("`adopt`") &&
      e.getMessage.contains("--full-refresh"), e.getMessage)
  }

  test("a plain-layout dir reads only after adopt, as spark.read.parquet does") {
    val wh = freshWh(); val (flat, parted) = plainDirs(wh)
    Seq(flat, parted).foreach { r =>
      assert(wh.exists(r)) // an incremental build must not rebuild over it
      refusedNamingAdopt(wh.read(r))
      val files = parquetUnder(wh.path(r))
      // the TTL clock keeps the dir's mtime, the value it had before
      assert(wh.lastCommitMs(r).isEmpty)
      val mtime = Files.getLastModifiedTime(Paths.get(wh.path(r))).toMillis
      assert(wh.adopt(r))
      assert(wh.lastCommitMs(r).contains(mtime))
      // zero-copy: the same data files, nothing new under _graft/
      assert(parquetUnder(wh.path(r)) == files)
      val plain = spark.read.parquet(wh.path(r))
      val cold = new Warehouse(spark, wh.root)
      assert(cold.read(r).schema == plain.schema)
      assert(cold.read(r).collect().toSeq.map(_.toString).sorted ==
        plain.collect().toSeq.map(_.toString).sorted)
      // adopting again is a no-op: no second commit
      assert(!wh.adopt(r))
      assert(wh.listVersions(r) == Seq(1L))
    }
    assert(wh.manifestEntries(flat).contains(Seq(("..", ""))))
    assert(wh.manifestEntries(parted).contains(
      Seq(("..", "name=a"), ("..", "name=b"))))
    assert(wh.listPartitions(parted) == Seq("name=a", "name=b"))
    assert(wh.partitionColumns(parted) == Seq("name"))
    // nothing to adopt: an absent relation, or one with a manifest
    assert(!wh.adopt(rel("t_absent")) && !wh.exists(rel("t_absent")))
  }

  test("plain-layout dir: non-rebuild writes only after adopt, keeping its rows") {
    val wh = freshWh(); val m = new Materializer(wh)
    val (flat, parted) = plainDirs(wh)
    def ids(r: Relation) = wh.read(r).collect().map(_.getAs[Long]("id")).toSet
    val appendCfg = ModelConfig(materialized = "incremental")
    val mergeCfg = ModelConfig(materialized = "incremental",
      uniqueKey = Seq("id"), partitionBy = Seq("name"),
      partitionKeysStable = true)
    // append strategy (merge, no unique key) and a partitioned merge
    // would each commit a manifest without the plain rows
    refusedNamingAdopt(m.incremental(df(Seq((3L, "c", 3.0))), flat, appendCfg))
    refusedNamingAdopt(m.incremental(df(Seq((3L, "b", 3.0))), parted, mergeCfg))
    refusedNamingAdopt(wh.dropPartitions(parted, "name", Seq("a")))
    refusedNamingAdopt(wh.deleteKeys(flat, df(Seq((1L, "a", 1.0))).select("id")))
    // materializations that choose between a rebuild and a scoped
    // replace by layout: no manifest must not read as "empty, rebuild"
    refusedNamingAdopt(m.incremental(df(Nil), parted, ModelConfig(
      materialized = "incremental",
      incrementalStrategy = IncrementalStrategy.Microbatch,
      eventTime = "id", batchSize = "day", begin = "2024-01-01")))
    refusedNamingAdopt(m.datePartitionedTable(spark,
      "SELECT 1L AS id, 'a' AS name, 1.0D AS score", flat,
      ModelConfig(materialized = "table"), Seq("20240101")))
    assert(wh.manifestEntries(flat).isEmpty && wh.manifestEntries(parted).isEmpty)
    assert(wh.adopt(flat) && wh.adopt(parted))
    m.incremental(df(Seq((3L, "c", 3.0))), flat, appendCfg)
    m.incremental(df(Seq((3L, "b", 3.0))), parted, mergeCfg)
    wh.dropPartitions(parted, "name", Seq("a"))
    wh.deleteKeys(flat, df(Seq((1L, "a", 1.0))).select("id"))
    assert(ids(flat) == Set(2L, 3L))   // 1 deleted, 3 appended
    assert(ids(parted) == Set(2L, 3L)) // name=a dropped, 3 merged into b
    // the untouched plain files are still the ones the entries point at
    assert(wh.manifestEntries(flat).get.head == ("..", ""))
    // a full refresh still gives a plain dir its first manifest too
    val fr = rel("t_flat_fr")
    df(Seq((1L, "a", 1.0))).write.parquet(wh.path(fr))
    m.incremental(spark.read.parquet(wh.path(fr)), fr, appendCfg,
      fullRefresh = true)
    m.incremental(df(Seq((3L, "c", 3.0))), fr, appendCfg)
    assert(ids(fr) == Set(1L, 3L))
  }

  test("an adopted relation survives rename") {
    val wh = freshWh(); val (flat, parted) = plainDirs(wh)
    Seq(flat, parted).foreach { r =>
      wh.adopt(r)
      wh.append(df(Seq((3L, "c", 3.0))), r,
        partitionCols = if (r == parted) Seq("name") else Nil)
      val moved = r.suffixed("_moved")
      wh.rename(r, moved)
      assert(!wh.exists(r))
      assert(new Warehouse(spark, wh.root).read(moved)
        .collect().map(_.getAs[Long]("id")).toSet == Set(1L, 2L, 3L))
    }
  }

  test("footer stats list an adopted flat dir as reads do: no _graft/ double count") {
    val wh = freshWh(); val r = rel("t_flat")
    df(Seq((1L, "a", 1.0), (2L, "b", 2.0))).write.parquet(wh.path(r))
    wh.adopt(r)
    wh.append(df(Seq((3L, "c", 3.0))), r)
    // the adopted entry is the relation dir, which holds _graft/: a
    // recursive walk would count the appended file twice (4 rows)
    assert(wh.footerRows(r) == 3L)
    val cat = wh.catalogInfo("db", "sch")
    assert(cat.map(t => (t._1.identifier, t._2)) == Seq((r.identifier, 3L)))
    assert(cat.head._3 == parquetUnder(wh.path(r)).map(Files.size).sum)
  }

  test("adopt refuses a dir mixing flat files with partition dirs") {
    val wh = freshWh(); val r = rel("t_mixed")
    df(Seq((1L, "a", 1.0))).write.parquet(wh.path(r))
    df(Seq((2L, "b", 2.0))).write.parquet(wh.path(r) + "/name=b")
    val e = intercept[IllegalStateException](wh.adopt(r))
    assert(e.getMessage.contains("cannot adopt") &&
      e.getMessage.contains("both parquet files and k=v"), e.getMessage)
    assert(wh.manifestEntries(r).isEmpty)
  }

  test("a manifest entry with no readable footer fails naming the relation") {
    val wh = freshWh(); val r = rel("t_nofooter")
    wh.writeAtomic(df(Seq((1L, "a", 1.0))), r)
    parquetUnder(wh.path(r)).foreach(Files.delete)
    val e = intercept[IllegalStateException](
      new Warehouse(spark, wh.root).read(r))
    assert(e.getMessage.contains(r.fqName) &&
      e.getMessage.contains("no schema to read"), e.getMessage)
  }

  test("a swap sibling an older release left behind blocks every write") {
    val tmp = Files.createTempDirectory("graft_mf_legacy_b").toString
    val wh = new Warehouse(spark, tmp); val r = rel("t_swapped")
    // crashed between the rename-away and the rename-in: the rows live
    // only in <rel>__dbt_backup, and the relation itself is missing
    df(Seq((1L, "a", 1.0))).write.parquet(wh.path(r.suffixed("__dbt_backup")))
    assert(!wh.exists(r))
    val e = intercept[IllegalStateException](
      wh.writeAtomic(df(Seq((9L, "z", 9.0))), r))
    assert(e.getMessage.contains("__dbt_backup"), e.getMessage)
    assert(!wh.exists(r))
    assert(spark.read.parquet(wh.path(r.suffixed("__dbt_backup"))).count() == 1)
  }

  test("manifest read is ONE scan relation, however many version dirs") {
    // N partition-scoped merges park N partitions in N distinct version
    // dirs; a union-shaped read would be an N-arm Union of N parquet
    // relations — plan size growing with merge COUNT (thousands for a
    // years-old daily-merge table). The ManifestFileIndex must present
    // them as a single FileSourceScan.
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_onescan")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      partitionBy = Seq("name"), partitionKeysStable = true)
    (1 to 6).foreach { i =>
      m.incremental(df(Seq((i.toLong, s"p$i", i.toDouble))), r, cfg)
    }
    val entries = wh.manifestEntries(r).get
    assert(entries.map(_._1).distinct.size >= 5,
      s"precondition: data must straddle many version dirs, got $entries")
    val d = wh.read(r)
    assert(d.count() == 6)
    assert(d.collect().map(x =>
      (x.getAs[Long]("id"), x.getAs[String]("name"))).toSet ==
      (1 to 6).map(i => (i.toLong, s"p$i")).toSet)
    val exec = d.queryExecution.executedPlan
    val scans = exec.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1, s"want one scan node, got:\n$exec")
    assert(!exec.toString.contains("Union"),
      s"manifest read must not union version dirs:\n$exec")
    // partition columns keep Spark's directory-read types (string here)
    assert(d.schema("name").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("partition pruning prunes across version dirs in the manifest index") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_prune")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      partitionBy = Seq("name"), partitionKeysStable = true)
    (1 to 5).foreach { i =>
      m.incremental(df(Seq((i.toLong, s"p$i", i.toDouble))), r, cfg)
    }
    val pruned = wh.read(r).filter(col("name") === "p3")
    assert(pruned.collect().map(_.getAs[Long]("id")).toSeq == Seq(3L))
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.head
    // the filter must reach the scan as a PartitionFilter and cut the
    // file set to the one in-scope partition's file(s), out of 5
    assert(scan.metadata("PartitionFilters").contains("name"),
      s"partition filter missing: ${scan.metadata}")
    assert(scan.metrics("numFiles").value == 1,
      s"pruned scan must read 1 file, read ${scan.metrics("numFiles").value}")
  }

  test("dynamic partition pruning reaches the manifest index at runtime") {
    // the 100 TB star-join shape: a fact table partitioned by day joined
    // to a filtered dim — the day set is only known at RUNTIME, so
    // planning-time pruning can't help; Spark's DPP injects the dim's
    // day set as a dynamicpruning IN filter into the fact scan, and
    // ManifestFileIndex.listFiles must honor it like any partition
    // filter. dim must be file-backed: a LocalRelation dim gets its
    // filter constant-folded away and DPP sees no selective predicate.
    val wh = freshWh(); val r = rel("t_dpp")
    val s = spark; import s.implicits._
    val facts = (1 to 1000).map(i => (i.toLong, s"d${i % 10}", i * 1.0))
      .toDF("id", "day", "v")
    wh.writeAtomic(facts, r, partitionCols = Seq("day"))
    val dimPath = Files.createTempDirectory("graft_dpp_dim").toString
    Seq(("d3", "keep"), ("d4", "drop")).toDF("day", "tag")
      .write.mode("overwrite").parquet(dimPath)
    // DPP's default mode (reuseBroadcastOnly) rides the dim's broadcast
    // exchange; another suite in the shared session may have disabled
    // auto-broadcast (BucketingSpec forces SMJ), so pin it here
    val prevBjt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
    val dim = spark.read.parquet(dimPath).filter($"tag" === "keep")
    val joined = wh.read(r).join(dim, Seq("day"))
    assert(joined.count() == 100L)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    joined.collect()
    val factScan = scans(joined.queryExecution.executedPlan)
      .find(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning")))
      .getOrElse(fail("no dynamicpruning filter reached the manifest scan"))
    assert(factScan.metrics("numFiles").value == 1,
      s"DPP must cut the fact scan to d3's file, " +
        s"read ${factScan.metrics("numFiles").value} of 10")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBjt)
  }

  /** A relation partitioned on `name` with one row and one
    * per-partition manifest entry for each of `n` leaves `name=p1..pn`:
    * a first incremental build, then a partition-scoped merge of
    * `p1..p3`, so the entries span two version dirs.
    */
  private def leafRelation(wh: Warehouse, r: Relation, n: Int): Set[(Long, String)] = {
    val m = new Materializer(wh)
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      partitionBy = Seq("name"), partitionKeysStable = true)
    m.incremental(df((1 to n).map(i => (i.toLong, s"p$i", i.toDouble))), r, cfg)
    m.incremental(df((1 to 3).map(i => (i.toLong, s"p$i", -i.toDouble))), r, cfg)
    val entries = wh.manifestEntries(r).get
    assert(entries.size == n && entries.forall(_._2.startsWith("name=")), entries)
    assert(entries.map(_._1).distinct.size == 2, entries)
    (1 to n).map(i => (i.toLong, s"p$i")).toSet
  }

  /** The leaf dirs of `r`'s latest manifest, one per entry. */
  private def leafDirs(wh: Warehouse, r: Relation): Seq[String] =
    wh.manifestEntries(r).get.map { case (v, part) =>
      mfDir(wh, r).resolve(v).resolve(part).toString }

  test("parallel entry listing (many entries) reads identically to serial") {
    // the warehouse lists its entries serially on the driver; Spark's own
    // file index lists past spark.sql.sources.parallelPartitionDiscovery
    // .threshold (32) paths in a Spark job. At 5 and 70 entries (70 is
    // past the 64 at which the warehouse once moved its own listing to a
    // job) both listings must read the same rows
    Seq(5, 70).foreach { n =>
      val wh = freshWh(); val r = rel(s"t_plist$n")
      val expected = leafRelation(wh, r, n)
      // fresh Warehouse: wh's per-seq read cache would otherwise serve
      // the frame the merge built and skip the listing
      val wh2 = new Warehouse(spark, wh.root)
      val serial = wh2.read(r).collect()
        .map(x => (x.getAs[Long]("id"), x.getAs[String]("name"), x.getAs[Double]("score")))
        .toSet
      assert(serial.map(t => (t._1, t._2)) == expected)
      // an explicit schema keeps schema inference out of the job count:
      // the only job left is the listing itself
      val (jobs, byIndex) = SparkJobs.during(spark)(
        spark.read.schema("id long, score double").parquet(leafDirs(wh, r): _*))
      assert(jobs == (if (n > 32) 1 else 0), s"$jobs listing jobs for $n entries")
      val parallel = byIndex
        .withColumn("name", regexp_extract(input_file_name(), "/name=([^/]+)/", 1))
        .collect()
        .map(x => (x.getAs[Long]("id"), x.getAs[String]("name"), x.getAs[Double]("score")))
        .toSet
      assert(parallel == serial, "the two listings read different rows")
      // pruning still works through the listed FileStatuses
      val pruned = wh2.read(r).filter(col("name") === "p2")
      assert(pruned.collect().map(_.getAs[Long]("id")).toSeq == Seq(2L))
      val scan = pruned.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.head
      assert(scan.metrics("numFiles").value == 1)
    }
  }

  test("parallel footer stats equal the serial path (rows, bytes, partitions)") {
    // footer stats are read serially on the driver; the rows they report
    // must equal what a Spark job counts over the same relation, the
    // bytes the sizes of its files, the partitions its leaves
    Seq(5, 70).foreach { n =>
      val wh = freshWh(); val r = rel(s"t_fstat$n")
      leafRelation(wh, r, n)
      val data = new Warehouse(spark, wh.root).read(r)
      val rows = wh.footerRows(r)
      assert(rows == data.count() && rows == n.toLong, "footerRows of the relation")
      val sub = wh.footerRows(r, "name=p3")
      assert(sub == data.filter(col("name") === "p3").count() && sub == 1L,
        "footerRows of one subtree")
      val files = leafDirs(wh, r).flatMap { d =>
        val s = Files.list(Paths.get(d))
        // the `.crc` checksum sidecars are hidden from Hadoop listings
        try s.iterator().asScala().filter(f =>
          Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")).toList
        finally s.close()
      }
      val cat = wh.catalogInfo("db", "sch")
      assert(cat.map(t => (t._1.identifier, t._2)) == Seq((r.identifier, rows)))
      assert(cat.head._3 == files.map(Files.size).sum, cat)
      assert(cat.head._4 == (1 to n).map(i => s"name=p$i").sorted, cat)
    }
  }

  test("planning a read of 70 per-partition entries launches no Spark job") {
    val wh = freshWh(); val r = rel("t_plan70")
    leafRelation(wh, r, 70)
    // a fresh instance: its read cache is cold, so the relation is built
    val (jobs, schema) = SparkJobs.during(spark)(new Warehouse(spark, wh.root).read(r).schema)
    assert(jobs == 0, s"$jobs jobs to plan a read of 70 entries")
    assert(schema.fieldNames.toSet == Set("id", "name", "score"))
  }

  test("read cache never serves stale data across drop + recreate") {
    // a drop restarts manifest seqs at 1, so seq-equality alone would
    // collide with the cached pre-drop plan; drop must evict
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_cache")
    m.table(df(Seq((1L, "a", 1.0))), r)
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(1L))
    wh.drop(r)
    m.table(df(Seq((9L, "z", 9.0))), r)
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(9L),
      "stale cached read after drop+recreate")
    // and ordinary commits invalidate via the seq bump
    m.table(df(Seq((7L, "q", 7.0))), r)
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(7L))
  }

  test("interleaved writers serialize on the relation lock — no lost update") {
    val wh = freshWh(); val r = rel("t_race")
    val m = new Materializer(wh)
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"))
    m.incremental(df(Seq((0L, "seed", 0.0))), r, cfg)
    // two writers, each read-modify-writing disjoint keys: without the
    // lock a racing merge reads a stale target and drops the other's rows
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1 to 2).map { w =>
      new Thread(() => {
        try (1 to 3).foreach { i =>
          m.incremental(df(Seq((w * 10L + i, s"w$w", i.toDouble))), r, cfg)
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"writers must not fail: ${errs.toArray.toSeq}")
    val ids = wh.read(r).collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 11L, 12L, 13L, 21L, 22L, 23L),
      "every writer's rows must survive the interleaving")
    // the lock file is released
    assert(!Files.exists(Paths.get(wh.path(r) + ".lock")))
  }

  test("stream batch append is exactly-once: replays skip, watermarks survive other commits") {
    val wh = freshWh(); val r = rel("t_stream")
    val b0 = df(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val b1 = df(Seq((3L, "c", 3.0)))

    assert(wh.appendStreamBatch(b0, r, "src", 0L))
    assert(wh.streamWatermark(r, "src").contains(0L))
    assert(wh.read(r).count() == 2)

    // checkpoint replay after a crash: same batch id arrives again —
    // detected, nothing written, no duplicate rows
    assert(!wh.appendStreamBatch(b0, r, "src", 0L))
    assert(wh.read(r).count() == 2)

    assert(wh.appendStreamBatch(b1, r, "src", 1L))
    assert(wh.read(r).count() == 3)
    // a LATE replay of an already-superseded batch is also a no-op
    assert(!wh.appendStreamBatch(b0, r, "src", 0L))

    // an unrelated data commit must CARRY the watermark forward — losing
    // it would turn the next replay into duplicates
    wh.append(df(Seq((9L, "z", 9.0))), r)
    assert(wh.streamWatermark(r, "src").contains(1L))
    assert(!wh.appendStreamBatch(b1, r, "src", 1L))

    // a second stream keeps an INDEPENDENT watermark on the same table
    assert(wh.streamWatermark(r, "other").isEmpty)
    assert(wh.appendStreamBatch(b1, r, "other", 0L))
    assert(wh.streamWatermark(r, "other").contains(0L))
    assert(wh.streamWatermark(r, "src").contains(1L))
    assert(wh.read(r).count() == 5)
  }

  test("incremental consumer: delta-only reads, exactly-once checkpoint, loud lag failure") {
    val wh = freshWh(); val src = rel("t_src"); val dst = rel("t_dst")
    var lastDeltaIds: Set[Long] = Set.empty
    def step(): Option[Long] =
      wh.processIncrement(src, dst, "c1") { delta =>
        lastDeltaIds = delta.collect().map(_.getLong(0)).toSet
        delta.filter(col("score") > 0)
      }

    // consumer before the source's first commit: clean no-op
    assert(step().isEmpty)

    wh.writeAtomic(df(Seq((1L, "a", 1.0), (2L, "b", -2.0))), src)
    assert(step().contains(1L))
    assert(lastDeltaIds == Set(1L, 2L), "first run processes the full snapshot")
    assert(wh.read(dst).collect().map(_.getLong(0)).toSet == Set(1L))
    assert(wh.consumerCheckpoint(dst, "c1").contains(1L))

    // nothing new at the source: the rerun must not touch dst at all
    val entriesBefore = wh.manifestEntries(dst)
    assert(step().isEmpty)
    assert(wh.manifestEntries(dst) == entriesBefore,
      "a no-op run must not even commit a manifest")

    // append a second batch: ONLY its rows may reach the transform
    wh.append(df(Seq((3L, "c", 3.0), (4L, "d", -4.0))), src)
    assert(step().contains(2L))
    assert(lastDeltaIds == Set(3L, 4L), s"delta run read $lastDeltaIds")
    assert(wh.read(dst).collect().map(_.getLong(0)).toSet == Set(1L, 3L))

    // an unrelated dst commit carries the checkpoint forward
    wh.append(df(Seq((9L, "z", 9.0))), dst)
    assert(wh.consumerCheckpoint(dst, "c1").contains(2L))
    assert(step().isEmpty)

    // a consumer lagging past src's retained manifest window must fail
    // LOUDLY (silently skipping unretained deltas would drop rows)
    (1 to 4).foreach(k => wh.append(df(Seq((100L + k, "x", 1.0))), src))
    intercept[IllegalArgumentException] { step() }
  }

  test("compactTable: one entry, same rows, metadata carried, partitioned refused") {
    val wh = freshWh(); val r = rel("t_compact")
    (0 to 4).foreach { k =>
      assert(wh.appendStreamBatch(df(Seq((k.toLong, s"n$k", k * 1.0))), r, "s", k.toLong))
    }
    assert(wh.manifestEntries(r).get.map(_._1).distinct.size == 5)
    val before = wh.read(r).collect().map(t => (t.getLong(0), t.getString(1))).toSet

    assert(wh.compactTable(r, maxEntries = 2))
    assert(wh.manifestEntries(r).get.map(_._1).distinct.size == 1)
    assert(wh.read(r).collect().map(t => (t.getLong(0), t.getString(1))).toSet == before)
    // the exactly-once watermark must survive compaction — otherwise a
    // restart after compaction would re-ingest every batch
    assert(wh.streamWatermark(r, "s").contains(4L))
    assert(!wh.appendStreamBatch(df(Seq((0L, "dup", 0.0))), r, "s", 4L))
    // already compact: no rewrite
    assert(!wh.compactTable(r, maxEntries = 2))

    // partitioned entries must be routed to compactPartitions instead
    val rp = rel("t_compact_part")
    (0 to 2).foreach { k =>
      wh.append(df(Seq((k.toLong, "a", 1.0), (k.toLong, "b", 2.0))), rp,
        partitionCols = Seq("name"))
    }
    val err = intercept[IllegalArgumentException] {
      wh.compactTable(rp, maxEntries = 1)
    }
    assert(err.getMessage.contains("compactPartitions"))
  }

  test("time travel: readAt resolves retained commits, rollback is metadata-only") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_tt")
    m.table(df(Seq((1L, "a", 1.0))), r)
    m.table(df(Seq((2L, "b", 2.0))), r)
    m.table(df(Seq((3L, "c", 3.0))), r)
    val versions = wh.listVersions(r)
    assert(versions == Seq(1L, 2L, 3L))
    // snapshot reads: each retained commit is independently readable
    assert(wh.readAt(r, 1L).collect().map(_.getLong(0)).toSet == Set(1L))
    assert(wh.readAt(r, 2L).collect().map(_.getLong(0)).toSet == Set(2L))
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(3L))
    // an unretained / never-committed seq fails loudly
    intercept[IllegalArgumentException](wh.readAt(r, 99L))
    // rollback: new commit re-pointing at seq 2's data, nothing rewritten
    wh.rollbackTo(r, 2L)
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(2L),
      "head must serve the rolled-back-to version")
    assert(wh.listVersions(r).max == 4L, "rollback is a NEW linear commit")
    // the bad commit (3) stays in the retained window for audit
    assert(wh.readAt(r, 3L).collect().map(_.getLong(0)).toSet == Set(3L))
    // and writing after a rollback proceeds normally
    m.table(df(Seq((5L, "e", 5.0))), r)
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(5L))
  }

  test("changelog read: appended-delta between two commits, checkpoint style") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_cdc")
    m.table(df(Seq((1L, "a", 1.0))), r)                 // seq 1
    wh.append(df(Seq((2L, "b", 2.0))), r)               // seq 2
    wh.append(df(Seq((3L, "c", 3.0), (4L, "d", 4.0))), r) // seq 3
    // a consumer checkpointed at 1 sees exactly the two appended batches
    assert(wh.readAppendedBetween(r, 1L, 3L).collect().map(_.getLong(0)).toSet
      == Set(2L, 3L, 4L))
    assert(wh.readAppendedBetween(r, 2L, 3L).collect().map(_.getLong(0)).toSet
      == Set(3L, 4L))
    // no new commits since the checkpoint: empty, schema intact
    val none = wh.readAppendedBetween(r, 2L, 3L).limit(0)
    assert(none.schema == wh.read(r).schema)
    // an overwrite surfaces its rewritten entries as additions (upper
    // bound — never a silent drop)
    m.table(df(Seq((9L, "z", 9.0))), r)                 // seq 4 replaces all
    assert(wh.readAppendedBetween(r, 3L, 4L).collect().map(_.getLong(0)).toSet
      == Set(9L))
    // a checkpoint older than the retained window fails loudly
    intercept[IllegalArgumentException](wh.readAppendedBetween(r, 0L, 4L))
    intercept[IllegalArgumentException](wh.readAppendedBetween(r, 4L, 4L))
  }

  test("gcOrphanVersions sweeps aged uncommitted dirs, spares live ones") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_gc")
    m.table(df(Seq((1L, "a", 1.0))), r)
    val live = wh.manifestEntries(r).get.head._1
    // a crashed writer's orphan: uncommitted, referenced by no manifest
    val oldOrphan = mfDir(wh, r).resolve("v000000000009-deadbeef")
    Files.createDirectories(oldOrphan)
    Files.write(oldOrphan.resolve("junk.parquet"), Array[Byte](1))
    Files.setLastModifiedTime(oldOrphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 3600_000))
    // a YOUNG orphan — could be an in-flight writer mid-data-write
    val youngOrphan = mfDir(wh, r).resolve("v000000000010-cafebabe")
    Files.createDirectories(youngOrphan)
    val swept = wh.gcOrphanVersions(r, olderThanMs = 600_000)
    assert(swept == Seq("v000000000009-deadbeef"), s"swept: $swept")
    assert(!Files.exists(oldOrphan), "aged orphan must be removed")
    assert(Files.exists(youngOrphan), "young dir may be in-flight — spare it")
    assert(Files.exists(mfDir(wh, r).resolve(live)),
      "committed version dir must never be swept")
    assert(wh.read(r).count() == 1)
  }

  test("a stale lock (dead holder) is broken, not waited on forever") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_stale")
    val lock = Paths.get(wh.path(r) + ".lock")
    Files.createDirectories(lock.getParent)
    val old = System.currentTimeMillis - 2L * 3600 * 1000
    Files.write(lock, s"dead-writer-token $old".getBytes("UTF-8"))
    m.table(df(Seq((1L, "a", 1.0))), r) // must break the stale lock
    assert(wh.read(r).count() == 1)
    assert(!Files.exists(lock))
  }

  test("a consumer checkpoint AHEAD of the source head fails loudly") {
    val wh = freshWh()
    val src = rel("inc_src"); val dst = rel("inc_dst")
    wh.writeAtomic(df(Seq((1L, "a", 1.0))), src)
    wh.writeAtomic(df(Seq((2L, "b", 2.0))), src) // bump src past seq 1
    wh.writeAtomic(df(Seq((3L, "c", 3.0))), src)
    assert(wh.processIncrement(src, dst, "c1")(identity).isDefined)
    // drop + recreate the source: manifest seqs RESTART below the stored
    // checkpoint — 'nothing new' forever would silently wedge the consumer
    wh.drop(src)
    wh.writeAtomic(df(Seq((9L, "z", 9.0))), src)
    val e = intercept[IllegalStateException] {
      wh.processIncrement(src, dst, "c1")(identity)
    }
    assert(e.getMessage.contains("ahead"), e.getMessage)
    assert(e.getMessage.contains("c1"), e.getMessage)
  }

  test("read() of an all-expired relation refuses loudly, not AnalysisException") {
    val wh = freshWh(); val r = rel("t_all_gone")
    val s = spark; import s.implicits._
    wh.writeAtomic(Seq((1L, 10L)).toDF("id", "p"), r, partitionCols = Seq("p"))
    wh.dropPartitions(r, "p", Seq("10"))
    // three more metadata commits age the last data-bearing manifest out
    // of the retention window — the schema becomes unrecoverable
    (1 to 3).foreach(i => wh.commitMeta(r, Map(s"k$i" -> "v")))
    val e = intercept[IllegalStateException] { wh.read(r).count() }
    assert(e.getMessage.contains("unrecoverable"), e.getMessage)
  }

  test("pbackup dirs left by a crashed older-release merge never list") {
    // the retired rename protocol parked partitions in <model>__dbt_pbackup
    // and a crash could leave it on disk: it must never surface as a
    // relation (a pattern-driven cleanup would drop the only surviving
    // copy of the crashed partition)
    val wh = freshWh()
    val r = rel("real_model")
    wh.writeAtomic(df(Seq((1L, "a", 1.0))), r)
    Files.createDirectories(
      Paths.get(wh.path(rel("real_model__dbt_pbackup"))))
    val names = wh.listRelations("db", "sch").map(_.identifier)
    assert(names.contains("real_model"), names.toString)
    assert(!names.exists(_.endsWith("__dbt_pbackup")), names.toString)
  }

  test("src/main carries one commit protocol: no mode switch comes back") {
    // the retired rename protocol was selected by these names; any of
    // them reappearing means a second commit protocol is growing back
    val banned = Seq("CommitMode", "usesManifest", "graft.commit.mode",
      "GRAFT_COMMIT_MODE")
    val walk = Files.walk(Paths.get("src/main"))
    val sources = try walk.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty, "src/main not found from the test working dir")
    val hits = for {
      p <- sources
      text = new String(Files.readAllBytes(p), "UTF-8")
      b <- banned if text.contains(b)
    } yield s"$p: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
