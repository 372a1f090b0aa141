package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.materialize._

class MaterializeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def freshWh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_test_wh").toString)
  def rel(n: String): Relation = Relation("db", "sch", n)

  import scala.jdk.CollectionConverters._

  /** Version dirs of `r` that no manifest on disk references — what a
    * write that never committed leaves behind.
    */
  def uncommittedVersionDirs(wh: Warehouse, r: Relation): Set[String] = {
    val d = java.nio.file.Paths.get(wh.path(r), "_graft")
    val ls = Files.list(d)
    val names = try ls.iterator().asScala.map(_.getFileName.toString).toList
                finally ls.close()
    val referenced = names.filter(_.endsWith(".manifest"))
      .flatMap(m => Files.readAllLines(d.resolve(m)).asScala.map(_.split("\t")(0)))
      .toSet
    names.filter(_.matches("v[0-9]{12}-.*")).toSet -- referenced
  }

  def df(rows: Seq[(Long, String, Double)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "name", "score")
  }

  test("table: atomic swap leaves no tmp/backup and replaces contents") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t1")
    m.table(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))), r)
    m.table(df(Seq((3L, "c", 3.0))), r)
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(3L))
    assert(uncommittedVersionDirs(wh, r).isEmpty)
    assert(wh.listRelations("db", "sch").map(_.identifier) == Seq("t1"))
  }

  test("incremental merge: upsert on key, history preserved") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("inc1")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"))
    m.incremental(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))), r, cfg)
    m.incremental(df(Seq((2L, "b2", 20.0), (3L, "c", 3.0))), r, cfg)
    val out = wh.read(r).collect().map(x => (x.getLong(0), x.getString(1))).toMap
    assert(out == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("incremental merge without unique key is append-only") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("inc2")
    val cfg = ModelConfig(materialized = "incremental")
    m.incremental(df(Seq((1L, "a", 1.0))), r, cfg)
    m.incremental(df(Seq((1L, "a", 1.0))), r, cfg)
    assert(wh.read(r).count() == 2)
  }

  test("full refresh rebuilds from scratch") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("inc3")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"))
    m.incremental(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))), r, cfg)
    m.incremental(df(Seq((9L, "z", 9.0))), r, cfg, fullRefresh = true)
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(9L))
  }

  test("insert_overwrite replaces only incoming partitions") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("inc4")
    val cfg = ModelConfig(materialized = "incremental",
      incrementalStrategy = IncrementalStrategy.InsertOverwrite,
      partitionBy = Seq("name"))
    m.incremental(df(Seq((1L, "p1", 1.0), (2L, "p2", 2.0))), r, cfg)
    m.incremental(df(Seq((30L, "p2", 30.0))), r, cfg)
    // partition column lands at the end of the read-back schema → by name
    val out = wh.read(r).collect()
      .map(x => (x.getAs[String]("name"), x.getAs[Long]("id"))).toSet
    assert(out == Set(("p1", 1L), ("p2", 30L)))
    assert(wh.listPartitions(r).toSet == Set("name=p1", "name=p2"))
  }

  test("insert_overwrite with a changed partition spec demands a full refresh") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("inc7")
    val byName = ModelConfig(materialized = "incremental",
      incrementalStrategy = IncrementalStrategy.InsertOverwrite,
      partitionBy = Seq("name"))
    m.incremental(df(Seq((1L, "p1", 1.0), (2L, "p2", 2.0))), r, byName)
    assert(wh.listPartitions(r).forall(_.startsWith("name=")))
    // same strategy, different partition column: a normal incremental run
    // carries FILTERED sql — rebuilding from it would lose history, so the
    // engine refuses and the user reruns with full_refresh
    val byScore = byName.copy(partitionBy = Seq("score"))
    intercept[IllegalStateException] {
      m.incremental(df(Seq((3L, "p3", 9.0))), r, byScore)
    }
    assert(wh.listPartitions(r).forall(_.startsWith("name="))) // untouched
    m.incremental(df(Seq((3L, "p3", 9.0))), r, byScore, fullRefresh = true)
    assert(wh.listPartitions(r).forall(_.startsWith("score=")))
    assert(wh.read(r).collect().map(_.getAs[Long]("id")).toSet == Set(3L))
  }

  test("on_schema_change=ignore drops new columns, fail throws") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("inc5")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"))
    m.incremental(df(Seq((1L, "a", 1.0))), r, cfg)
    val wide = df(Seq((2L, "b", 2.0))).withColumn("extra", lit(7))
    m.incremental(wide, r, cfg) // ignore: extra silently dropped
    assert(!wh.read(r).columns.contains("extra"))
    intercept[IllegalStateException] {
      m.incremental(wide, r, cfg.copy(onSchemaChange = OnSchemaChange.Fail))
    }
  }

  test("on_schema_change=sync_all_columns adopts source schema, drops removed") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("inc6")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      onSchemaChange = OnSchemaChange.SyncAllColumns)
    m.incremental(df(Seq((1L, "a", 1.0))), r, cfg)
    val reshaped = df(Seq((2L, "b", 2.0))).drop("score").withColumn("extra", lit(7))
    m.incremental(reshaped, r, cfg)
    val out = wh.read(r)
    assert(out.columns.toSet == Set("id", "name", "extra"))
    val byId = out.collect().map(x =>
      x.getLong(0) -> Option(x.getAs[Any]("extra"))).toMap
    assert(byId(1L).isEmpty && byId(2L).contains(7))
  }

  // -------- B33/B48 type-change reconciliation (expand_target_column_types
  // @139412, diff_column_data_types @132239): a type-grown increment WIDENS
  // the target instead of being narrowed into it.

  def idv(rows: Seq[(Int, Int)]) = {
    val s = spark; import s.implicits._
    rows.toDF("id", "v") // both int-typed
  }
  def idvLong(rows: Seq[(Int, Long)]) = {
    val s = spark; import s.implicits._
    rows.toDF("id", "v") // v long-typed
  }

  test("type widen: long increment into int target widens target (ignore)") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("tw1")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"))
    m.incremental(idv(Seq((1, 10), (2, 20))), r, cfg)
    assert(wh.read(r).schema("v").dataType.typeName == "integer")
    val big = 5000000000L // > 2^31: would wrap/null under a narrowing cast
    m.incremental(idvLong(Seq((2, big), (3, 30L))), r, cfg)
    val out = wh.read(r)
    assert(out.schema("v").dataType.typeName == "long")
    val byId = out.collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(byId == Map(1 -> 10L, 2 -> big, 3 -> 30L))
  }

  test("type widen composes with append_new_columns") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("tw2")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      onSchemaChange = OnSchemaChange.AppendNewColumns)
    m.incremental(idv(Seq((1, 10))), r, cfg)
    val inc = idvLong(Seq((2, 5000000000L))).withColumn("extra", lit("x"))
    m.incremental(inc, r, cfg)
    val out = wh.read(r)
    assert(out.schema("v").dataType.typeName == "long")
    assert(out.columns.contains("extra"))
    val byId = out.collect().map(x =>
      x.getInt(0) -> (x.getLong(1), Option(x.getAs[String]("extra")))).toMap
    assert(byId == Map(1 -> (10L, None), 2 -> (5000000000L, Some("x"))))
  }

  test("type widen under sync_all_columns never narrows a common column") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("tw3")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      onSchemaChange = OnSchemaChange.SyncAllColumns)
    m.incremental(idvLong(Seq((1, 5000000000L))), r, cfg) // v long in history
    // increment carries v as int (narrower) + a new column; sync must keep
    // v LONG (history holds > 2^31) while adopting the new column set
    m.incremental(idv(Seq((2, 20))).withColumn("extra", lit(1)), r, cfg)
    val out = wh.read(r)
    assert(out.schema("v").dataType.typeName == "long")
    assert(out.collect().map(_.getAs[Long]("v")).toSet == Set(5000000000L, 20L))
  }

  test("on_schema_change=fail trips on a pure type change") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("tw4")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      onSchemaChange = OnSchemaChange.Fail)
    m.incremental(idv(Seq((1, 10))), r, cfg)
    val e = intercept[IllegalStateException] {
      m.incremental(idvLong(Seq((2, 20L))), r, cfg)
    }
    assert(e.getMessage.contains("v") && e.getMessage.toLowerCase.contains("int"))
  }

  test("narrower increment casts up losslessly, no target rewrite") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("tw5")
    for (policy <- Seq(OnSchemaChange.Ignore, OnSchemaChange.AppendNewColumns)) {
      val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
        onSchemaChange = policy)
      m.incremental(idvLong(Seq((1, 5000000000L))), r, cfg, fullRefresh = true)
      m.incremental(idv(Seq((2, 20))), r, cfg) // int increment into long target
      val out = wh.read(r)
      assert(out.schema("v").dataType.typeName == "long")
      assert(out.collect().map(_.getAs[Long]("v")).toSet ==
        Set(5000000000L, 20L))
    }
  }

  test("incompatible type change fails loudly under every policy") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("tw6")
    val s = spark; import s.implicits._
    val strInc = Seq((2, "oops")).toDF("id", "v")
    for (policy <- Seq(OnSchemaChange.Ignore, OnSchemaChange.AppendNewColumns,
        OnSchemaChange.SyncAllColumns, OnSchemaChange.Fail)) {
      val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
        onSchemaChange = policy)
      m.incremental(idv(Seq((1, 10))), r, cfg, fullRefresh = true)
      val e = intercept[IllegalStateException] { m.incremental(strInc, r, cfg) }
      assert(e.getMessage.contains("v"))
    }
  }

  test("append-only merge with a widened type rewrites to one schema") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("tw7")
    val cfg = ModelConfig(materialized = "incremental") // no unique key
    m.incremental(idv(Seq((1, 10))), r, cfg)
    m.incremental(idvLong(Seq((2, 5000000000L))), r, cfg)
    val out = wh.read(r)
    assert(out.schema("v").dataType.typeName == "long")
    assert(out.collect().map(_.getAs[Long]("v")).toSet == Set(10L, 5000000000L))
  }

  test("seed honors column_types overrides") {
    val wh = freshWh(); val m = new Materializer(wh)
    val csv = Files.createTempFile("seed", ".csv")
    Files.writeString(csv, "k,v\n1,x\n2,y\n")
    val out = m.seed(spark, csv.toString, rel("seed1"), Map("k" -> "bigint"))
    assert(out.schema("k").dataType.typeName == "long")
    assert(out.count() == 2)
  }

  test("seed fully covered by column_types reads once, no inference mistyping") {
    val wh = freshWh(); val m = new Materializer(wh)
    val csv = Files.createTempFile("seed_cov", ".csv")
    // "007" is the inference tripwire: an inferSchema pass reads it as
    // int 7, and the subsequent cast to string yields "7" — only the
    // explicit-schema single-pass read preserves the raw value
    Files.writeString(csv, "k,v\n007,1\n042,2\n")
    val out = m.seed(spark, csv.toString, rel("seed_cov"),
      Map("k" -> "string", "v" -> "bigint"))
    assert(out.schema("k").dataType.typeName == "string")
    assert(out.schema("v").dataType.typeName == "long")
    assert(out.collect().map(_.getString(0)).toSet == Set("007", "042"))
  }

  test("alterColumnType: deliberate migration rewrites atomically, loud on lost values") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("alt1")
    m.table(idv(Seq((1, 10), (2, 20))), r,
      ModelConfig(partitionBy = Seq("id")))
    wh.alterColumnType(r, "v", "bigint")
    val out = wh.read(r)
    assert(out.schema("v").dataType.typeName == "long")
    assert(out.collect().map(_.getAs[Long]("v")).toSet == Set(10L, 20L))
    // partition layout preserved
    assert(wh.listPartitions(r).forall(_.startsWith("id=")))
    // the widened relation now absorbs >2^31 increments natively
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      partitionBy = Seq("id"))
    m.incremental(idvLong(Seq((3, 5000000000L))), r, cfg)
    assert(wh.read(r).filter(col("id") === 3).head().getAs[Long]("v") ==
      5000000000L)
    // a narrowing migration that would lose a value fails LOUDLY and the
    // relation is untouched
    val r2 = rel("alt2")
    m.table(idvLong(Seq((1, 5000000000L))), r2)
    intercept[Exception] { wh.alterColumnType(r2, "v", "int") }
    assert(wh.read(r2).head().getAs[Long]("v") == 5000000000L)
    // partition columns refuse (layout migration, not a cast)
    val e = intercept[IllegalArgumentException] {
      wh.alterColumnType(r, "id", "bigint")
    }
    assert(e.getMessage.contains("partition column"), e.getMessage)
    // unknown column names fail with the column list
    assert(intercept[IllegalArgumentException] {
      wh.alterColumnType(r, "nope", "int")
    }.getMessage.contains("no column"))
  }

  test("seed agate-parity: t/f booleans upgrade, overrides still win, text stays text") {
    val wh = freshWh(); val m = new Materializer(wh)
    val csv = Files.createTempFile("seed_agate", ".csv")
    Files.writeString(csv,
      "k,flag,day,memo\n1,t,2024-05-06,n\n2,f,2024-06-07,note\n")
    val out = m.seed(spark, csv.toString, rel("seed_ag"))
    assert(out.schema("flag").dataType.typeName == "boolean")
    assert(out.schema("day").dataType.typeName == "date")
    // memo holds 'n' AND 'note' — not all boolean spellings → string
    assert(out.schema("memo").dataType.typeName == "string")
    assert(out.filter(col("flag")).count() == 1)
    // an explicit column_types override beats the agate upgrade
    val out2 = m.seed(spark, csv.toString, rel("seed_ag2"),
      Map("flag" -> "string"))
    assert(out2.schema("flag").dataType.typeName == "string")
    assert(out2.collect().map(_.getAs[String]("flag")).toSet == Set("t", "f"))
  }

  test("truncate keeps schema, drops rows; rename moves relation") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t2")
    m.table(df(Seq((1L, "a", 1.0))), r)
    wh.truncate(r)
    assert(wh.read(r).count() == 0 && wh.read(r).columns.length == 3)
    val r2 = rel("t2_renamed")
    wh.rename(r, r2)
    assert(!wh.exists(r) && wh.exists(r2))
  }

  test("int-range bucket partitioning derives pruneable buckets") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("rb")
    val src = df(Seq((5L, "a", 1.0), (1500L, "b", 2.0), (2500L, "c", 3.0)))
    val bucketed = m.withRangeBucket(src, "id", start = 0, interval = 1000)
    m.table(bucketed, r, ModelConfig(partitionBy = Seq("_bucket")))
    assert(wh.listPartitions(r).toSet ==
      Set("_bucket=0", "_bucket=1", "_bucket=2"))
  }

  test("maxPartition exposes _dbt_max_partition literal") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t3")
    m.table(df(Seq((1L, "a", 1.0), (5L, "b", 2.0))), r)
    assert(m.maxPartition(r, "id").contains(5L))
    assert(m.maxPartition(rel("absent"), "id").isEmpty)
  }

  test("insert_overwrite onto a mismatched layout refuses (no silent history loss)") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("inc9")
    // first materialized as a plain table (flat parquet files)
    m.table(df(Seq((1L, "p1", 1.0), (2L, "p2", 2.0))), r)
    // then switched to insert_overwrite with partition_by: the increment
    // is filtered SQL — rebuilding from it would silently drop (1,"p1").
    // The engine must demand a full refresh instead.
    val cfg = ModelConfig(materialized = "incremental",
      incrementalStrategy = IncrementalStrategy.InsertOverwrite,
      partitionBy = Seq("name"))
    val ex = intercept[IllegalStateException] {
      m.incremental(df(Seq((30L, "p2", 30.0))), r, cfg)
    }
    assert(ex.getMessage.contains("full_refresh"))
    // history intact, layout untouched
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // the sanctioned path: full refresh rebuilds from the (unfiltered) df
    m.incremental(df(Seq((1L, "p1", 1.0), (30L, "p2", 30.0))), r, cfg,
      fullRefresh = true)
    assert(wh.listPartitions(r).toSet == Set("name=p1", "name=p2"))
  }

  test("insert_overwrite static partitions mode replaces exactly the pinned list") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("inc10")
    val cfg0 = ModelConfig(materialized = "incremental",
      incrementalStrategy = IncrementalStrategy.InsertOverwrite,
      partitionBy = Seq("name"))
    m.incremental(df(Seq((1L, "p1", 1.0), (2L, "p2", 2.0), (3L, "p3", 3.0))),
      r, cfg0)
    // Reference semantics (bq_insert_overwrite @34992, merge ON FALSE:
    // the list scopes only the DELETE branch). Static list pins p2 AND
    // p3: p2 gets the new row, p3 has no increment rows so it is
    // DELETED; p4 is outside the list so its increment row still
    // INSERTS (appends to p4); p1 is untouched — byte-identical files.
    val p1Files = partFiles(wh, r, "name=p1")
    val cfg = cfg0.copy(partitions = Seq("p2", "p3"))
    m.incremental(df(Seq((20L, "p2", 20.0), (40L, "p4", 40.0))), r, cfg)
    val out = wh.read(r).collect()
      .map(x => (x.getAs[String]("name"), x.getAs[Long]("id"))).toSet
    assert(out == Set(("p1", 1L), ("p2", 20L), ("p4", 40L)))
    assert(wh.listPartitions(r).toSet == Set("name=p1", "name=p2", "name=p4"))
    assert(partFiles(wh, r, "name=p1") == p1Files) // path+len+mtime identical
  }

  /** (path, length, mtime) of every data file of one leaf partition,
    * across every version dir the current manifest maps it to.
    */
  def partFiles(wh: Warehouse, r: Relation, dir: String): Set[(String, Long, Long)] = {
    val base = new org.apache.hadoop.fs.Path(wh.path(r), "_graft")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    wh.manifestEntries(r).getOrElse(Nil).filter(_._2 == dir).flatMap { e =>
      fs.listStatus(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(base, e._1), dir)).filter(_.isFile)
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
    }.toSet
  }

  test("partitioned merge rewrites only the increment's partitions") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("inc11")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      incrementalStrategy = IncrementalStrategy.DeleteInsert,
      partitionBy = Seq("name"))
    m.incremental(df(Seq((1L, "p1", 1.0), (2L, "p2", 2.0), (3L, "p3", 3.0))),
      r, cfg)
    val p1Files = partFiles(wh, r, "name=p1")
    val p3Files = partFiles(wh, r, "name=p3")
    // increment touches only p2 (upsert id=2, insert id=20)
    m.incremental(df(Seq((2L, "p2", 22.0), (20L, "p2", 20.0))), r, cfg)
    val out = wh.read(r).collect()
      .map(x => (x.getLong(0), x.getAs[Double]("score"))).toMap
    assert(out == Map(1L -> 1.0, 2L -> 22.0, 3L -> 3.0, 20L -> 20.0))
    // untouched partitions keep their exact files: no full-table rewrite
    assert(partFiles(wh, r, "name=p1") == p1Files)
    assert(partFiles(wh, r, "name=p3") == p3Files)
    assert(uncommittedVersionDirs(wh, r).isEmpty)
  }

  test("partitioned merge_update_columns rewrites only touched partitions") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("inc12")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      incrementalStrategy = IncrementalStrategy.Merge,
      mergeUpdateColumns = Seq("score"), partitionBy = Seq("name"))
    m.incremental(df(Seq((1L, "p1", 1.0), (2L, "p2", 2.0))), r, cfg)
    val p1Files = partFiles(wh, r, "name=p1")
    m.incremental(df(Seq((2L, "p2", 22.0))), r, cfg)
    val out = wh.read(r).collect()
      .map(x => (x.getLong(0), x.getAs[Double]("score"))).toMap
    assert(out == Map(1L -> 1.0, 2L -> 22.0))
    assert(partFiles(wh, r, "name=p1") == p1Files)
  }

  test("multi-column partitioned merge swaps only the touched leaf dirs") {
    val s = spark; import s.implicits._
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("inc_mc")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      incrementalStrategy = IncrementalStrategy.DeleteInsert,
      partitionBy = Seq("d", "h"))
    def mdf(rows: Seq[(Long, String, Int, Double)]) =
      rows.toDF("id", "d", "h", "score")
    m.incremental(mdf(Seq(
      (1L, "d1", 0, 1.0), (2L, "d1", 1, 2.0), (3L, "d2", 0, 3.0))), r, cfg)
    val keepA = partFiles(wh, r, "d=d1/h=0")
    val keepB = partFiles(wh, r, "d=d2/h=0")
    // increment touches only the d1/h=1 leaf: its SIBLING d1/h=0 and the
    // other date d2/h=0 must keep their exact files
    m.incremental(mdf(Seq((2L, "d1", 1, 22.0), (20L, "d1", 1, 20.0))), r, cfg)
    val out = wh.read(r).collect()
      .map(x => (x.getAs[Long]("id"), x.getAs[Double]("score"))).toMap
    assert(out == Map(1L -> 1.0, 2L -> 22.0, 3L -> 3.0, 20L -> 20.0))
    assert(partFiles(wh, r, "d=d1/h=0") == keepA)
    assert(partFiles(wh, r, "d=d2/h=0") == keepB)
    assert(uncommittedVersionDirs(wh, r).isEmpty)
  }

  test("merge detects a key that moved partitions and removes its old row") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("inc_mv")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      incrementalStrategy = IncrementalStrategy.DeleteInsert,
      partitionBy = Seq("name"))
    m.incremental(df(Seq((1L, "p1", 1.0), (2L, "p2", 2.0))), r, cfg)
    // id=1 MOVES from partition p1 to p2: the scoped path would only read
    // p2 and leave the stale (1, p1) row — the guard must fall back to the
    // full-table merge and the key must exist exactly once
    m.incremental(df(Seq((1L, "p2", 10.0))), r, cfg)
    val rows = wh.read(r).collect()
      .map(x => (x.getAs[Long]("id"), x.getAs[String]("name"),
        x.getAs[Double]("score")))
    assert(rows.count(_._1 == 1L) == 1, s"moved key duplicated: ${rows.toSeq}")
    assert(rows.toSet == Set((1L, "p2", 10.0), (2L, "p2", 2.0)))
  }

  test("partition_keys_stable skips the guard and keeps the scoped path") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("inc_st")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      incrementalStrategy = IncrementalStrategy.DeleteInsert,
      partitionBy = Seq("name"), partitionKeysStable = true)
    m.incremental(df(Seq((1L, "p1", 1.0), (2L, "p2", 2.0))), r, cfg)
    val p1Files = partFiles(wh, r, "name=p1")
    // same moved key as above, but the model PROMISED stability: the
    // scoped path runs unguarded — p1 is never opened, so the stale row
    // survives (the documented opt-in trade, mirroring dbt's
    // incremental_predicates footgun)
    m.incremental(df(Seq((1L, "p2", 10.0))), r, cfg)
    assert(partFiles(wh, r, "name=p1") == p1Files)
    val ids = wh.read(r).collect()
      .map(x => (x.getAs[Long]("id"), x.getAs[String]("name"))).toSet
    assert(ids == Set((1L, "p1"), (1L, "p2"), (2L, "p2")))
  }

  test("compaction rewrites only crowded leaves, preserving rows and cold leaves") {
    val wh = freshWh(); val r = rel("t_compact")
    // four appends pile four files into each touched partition
    (1 to 4).foreach { i =>
      wh.append(df(Seq((i.toLong, "hot", i.toDouble))), r, Seq("name"))
    }
    wh.append(df(Seq((99L, "cold", 9.9))), r, Seq("name"))
    val coldFiles = partFiles(wh, r, "name=cold")
    assert(partFiles(wh, r, "name=hot").size == 4)
    val rewritten = wh.compactPartitions(r, Seq("name"), maxFiles = 2)
    assert(rewritten == Seq("name=hot"))
    assert(partFiles(wh, r, "name=hot").size == 1)
    assert(partFiles(wh, r, "name=cold") == coldFiles) // never opened
    val out = wh.read(r).collect()
      .map(x => (x.getAs[Long]("id"), x.getAs[String]("name"))).toSet
    assert(out == Set((1L, "hot"), (2L, "hot"), (3L, "hot"), (4L, "hot"),
      (99L, "cold")))
    // below threshold: a second pass is a no-op
    assert(wh.compactPartitions(r, Seq("name"), maxFiles = 2).isEmpty)
  }

  test("dropPartitions matches literal '+' and does not confuse it with space") {
    val s = spark
    import s.implicits._
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("t_plus")
    val d = Seq((1L, "a+b"), (2L, "a b"), (3L, "c")).toDF("id", "name")
    wh.writeAtomic(d, r, Seq("name"))
    // 'a b' must NOT match the 'a+b' dir (URLDecoder would have); 'a+b'
    // must match its own dir
    wh.dropPartitions(r, "name", Seq("a b"))
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    wh.dropPartitions(r, "name", Seq("a+b"))
    assert(wh.read(r).collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("freshness floors hours_late for a fresh-ahead source") {
    val s = spark
    import s.implicits._
    import graft.dqtests.SchemaTests
    val df0 = Seq("2024-03-01 00:30:00").toDF("loaded")
      .select(col("loaded").cast("timestamp"))
    val row = SchemaTests.freshness(df0, "loaded",
      lit("2024-03-01 00:00:00").cast("timestamp"), 24, 72).collect().head
    assert(row.getAs[Long]("hours_late") == -1L) // floor(-0.5), not trunc(0)
    assert(row.getAs[String]("status") == "pass")
  }

  test("insert_overwrite + append_new_columns rewrites to one consistent schema") {
    val s = spark
    import s.implicits._
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("inc8")
    val cfg = ModelConfig(materialized = "incremental",
      incrementalStrategy = IncrementalStrategy.InsertOverwrite,
      partitionBy = Seq("name"),
      onSchemaChange = OnSchemaChange.AppendNewColumns)
    m.incremental(df(Seq((1L, "p1", 1.0), (2L, "p2", 2.0))), r, cfg)
    // evolved increment: new column `extra` arrives for partition p2 only
    val evolved = Seq((30L, "p2", 30.0, "x"))
      .toDF("id", "name", "score", "extra")
    m.incremental(evolved, r, cfg)
    val out = wh.read(r)
    // the UNTOUCHED partition p1 must also expose the evolved schema (a
    // dynamic in-place overwrite would have left it on the old parquet
    // schema and a default read would drop `extra` or misorder columns)
    assert(out.columns.toSet == Set("id", "name", "score", "extra"))
    val rows = out.collect().map(x =>
      (x.getAs[String]("name"), x.getAs[Long]("id"), x.getAs[String]("extra"))).toSet
    assert(rows == Set(("p1", 1L, null), ("p2", 30L, "x")))
  }

  test("catalogInfo reads row counts from footers without a Spark job") {
    val wh = freshWh(); val m = new Materializer(wh)
    m.table(df((1L to 57L).map(i => (i, s"n$i", i.toDouble))), rel("cat1"))
    m.table(df(Seq((1L, "a", 1.0))), rel("cat2"))
    // 70 files, past the 64 at which footer opens once ran as a job
    wh.writeAtomic(df((1L to 70L).map(i => (i, s"n$i", i.toDouble))), rel("cat3"),
      partitionCols = Seq("name"))
    spark.sparkContext.setJobGroup("catalog_info_check", "catalog stats")
    val info = wh.catalogInfo("db", "sch")
    spark.sparkContext.clearJobGroup()
    val byName = info.map(t => t._1.identifier -> t._2).toMap
    assert(byName == Map("cat1" -> 57L, "cat2" -> 1L, "cat3" -> 70L))
    assert(info.forall(_._3 > 0L)) // byte size from filesystem
    Thread.sleep(500) // listener bus drain
    assert(spark.sparkContext.statusTracker
      .getJobIdsForGroup("catalog_info_check").isEmpty,
      "catalogInfo must not launch a Spark job (footer metadata only)")
  }

  test("cluster_by sorts rows within each written file") {
    val wh = freshWh(); val r = rel("clus1")
    // scrambled input: (i*37) % 101 is a permutation of 0..100
    val rows = (0L until 101L).map(i => ((i * 37L) % 101L, s"n$i", i.toDouble))
    wh.writeAtomic(df(rows).repartition(4), r, clusterCols = Seq("id"))
    val walk = Files.walk(java.nio.file.Paths.get(wh.path(r)))
    val files = try walk.iterator().asScala.map(_.toFile)
      .filter(_.getName.endsWith(".parquet")).toList
      finally walk.close()
    assert(files.nonEmpty)
    files.foreach { f =>
      val ids = spark.read.parquet(f.getAbsolutePath)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted, s"file ${f.getName} not sorted: ${ids.take(10)}")
    }
    // read-back is still complete
    assert(wh.read(r).count() == 101)
  }

  test("incremental_predicates bound the merge probe to the declared window") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("incp")
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"),
      incrementalStrategy = IncrementalStrategy.DeleteInsert,
      incrementalPredicates = Seq("DBT_INTERNAL_DEST.score >= 10"))
    m.incremental(df(Seq((1L, "old", 1.0), (2L, "old", 20.0))), r,
      cfg.copy(incrementalPredicates = Nil))
    // id=2 is in-window (score 20 ≥ 10): upserts. id=1 is OUT of the
    // declared window (score 1): never probed, old row survives — and
    // the increment row for it still inserts, which is exactly dbt's
    // documented duplicate-on-broken-promise semantics.
    m.incremental(df(Seq((1L, "new", 100.0), (2L, "new", 200.0))), r, cfg)
    val out = wh.read(r).collect()
      .map(x => (x.getLong(0), x.getString(1))).toSeq.sorted
    assert(out == Seq((1L, "new"), (1L, "old"), (2L, "new")))
  }

  test("legacy partitions loop: backfill, per-date replace, truncate, untouched byte-identity") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("ploop")
    val s = spark
    import s.implicits._
    Seq((1L, "20240101"), (2L, "20240102"), (3L, "20240102"), (4L, "20240103"))
      .toDF("id", "day").createOrReplaceTempView("ploop_src")
    val sql = "SELECT id FROM ploop_src WHERE day = '[DBT__PARTITION_DATE]'"
    val cfg = ModelConfig(materialized = "table")
    val dates = graft.run.DateUtils.expandPartitionDates(Seq("20240101..20240103"))
    assert(dates == Seq("20240101", "20240102", "20240103"))
    m.datePartitionedTable(spark, sql, r, cfg, dates)
    // backfill: 3 date partitions, DATE-typed partition column
    assert(wh.listPartitions(r).toSet == Set(
      "_partition_date=2024-01-01", "_partition_date=2024-01-02",
      "_partition_date=2024-01-03"))
    val read1 = wh.read(r)
    assert(read1.schema("_partition_date").dataType ==
      org.apache.spark.sql.types.DateType)
    assert(read1.collect().map(x => (x.getAs[Long]("id"),
      x.getAs[java.sql.Date]("_partition_date").toString)).toSet ==
      Set((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-02"),
        (4L, "2024-01-03")))
    // re-run days 2–3 against changed source data: day 2 is REPLACED,
    // day 3 now yields no rows → partition dropped (decorator
    // WRITE_TRUNCATE); day 1 is never read or rewritten
    val d1Files = partFiles(wh, r, "_partition_date=2024-01-01")
    Seq((20L, "20240102")).toDF("id", "day")
      .createOrReplaceTempView("ploop_src")
    m.datePartitionedTable(spark, sql, r, cfg, Seq("20240102", "20240103"))
    assert(wh.read(r).collect().map(x => (x.getAs[Long]("id"),
      x.getAs[java.sql.Date]("_partition_date").toString)).toSet ==
      Set((1L, "2024-01-01"), (20L, "2024-01-02")))
    assert(partFiles(wh, r, "_partition_date=2024-01-01") == d1Files)
    // empty partitions list fails loudly
    val ex = intercept[IllegalArgumentException] {
      m.datePartitionedTable(spark, sql, r, cfg, Nil)
    }
    assert(ex.getMessage.contains("partitions"))
  }

  test("inline config parses a partitions list (pipe-separated, range form preserved)") {
    val cfg = graft.compile.Compiler.parseInlineConfig(
      "{{ config(materialized='table', partitions='20240101..20240103|20240110') }} SELECT 1",
      ModelConfig())
    assert(cfg.partitions == Seq("20240101..20240103", "20240110"))
    assert(graft.run.DateUtils.expandPartitionDates(cfg.partitions) ==
      Seq("20240101", "20240102", "20240103", "20240110"))
  }

  test("inline require_partition_filter parses strictly: true|false only") {
    def parse(v: String) = graft.compile.Compiler.parseInlineConfig(
      s"{{ config(materialized='table', require_partition_filter=$v) }} SELECT 1",
      ModelConfig())
    assert(parse("true").requirePartitionFilter)
    assert(parse("True").requirePartitionFilter) // python-bool spelling
    assert(!parse("false").requirePartitionFilter)
    assert(!parse("FALSE").requirePartitionFilter)
    // any other spelling must FAIL, not silently drop the safety guard
    val e = intercept[IllegalArgumentException] { parse("yes") }
    assert(e.getMessage.contains("require_partition_filter"), e.getMessage)
    intercept[IllegalArgumentException] { parse("1") }
  }

  test("inline grants: duplicate privileges merge; empty grantee lists refuse") {
    def parse(v: String) = graft.compile.Compiler.parseInlineConfig(
      s"{{ config(materialized='table', grants='$v') }} SELECT 1",
      ModelConfig()).grants
    // 'select:a|select:b' must merge, not emit duplicate JSON keys in the
    // manifest (standard parsers keep only the last duplicate key)
    assert(parse("select:a|select:b|insert:c") ==
      Seq("select" -> Seq("a", "b"), "insert" -> Seq("c")))
    assert(parse("select:a,b,a") == Seq("select" -> Seq("a", "b")))
    // a whitespace/comma-only grantee list must fail loudly, not parse OK
    // and then emit zero GRANT statements
    intercept[IllegalArgumentException] { parse("select: ,") }
    intercept[IllegalArgumentException] { parse("select:") }
  }

  test("auto-widening is restricted to provably lossless promotions") {
    val wh = freshWh(); val m = new Materializer(wh)
    val s = spark; import s.implicits._
    val cfg = ModelConfig(materialized = "incremental", uniqueKey = Seq("id"))
    // float increment into a LONG target: Catalyst's numericPrecedence
    // ranks float ABOVE long, so the "tightest common type" is FLOAT —
    // following it would rewrite stored longs to float (exact only to
    // 2^24). Must fail loudly; history untouched.
    val r = rel("tw8")
    m.incremental(Seq((1, 16777217L)).toDF("id", "v"), r, cfg)
    val e = intercept[IllegalStateException] {
      m.incremental(Seq((2, 2.5f)).toDF("id", "v"), r, cfg)
    }
    assert(e.getMessage.contains("full_refresh"), e.getMessage)
    assert(wh.read(r).schema("v").dataType.typeName == "long")
    assert(wh.read(r).head().getAs[Long]("v") == 16777217L)
    // long + double: the common type double is lossy above 2^53 — refused
    val e2 = intercept[IllegalStateException] {
      m.incremental(Seq((2, 2.5d)).toDF("id", "v"), r, cfg)
    }
    assert(e2.getMessage.contains("v"))
    // int + double IS lossless (32-bit int < 53-bit mantissa): widens
    val r2 = rel("tw9")
    m.incremental(Seq((1, 10)).toDF("id", "v"), r2, cfg)
    m.incremental(Seq((2, 2.5d)).toDF("id", "v"), r2, cfg)
    assert(wh.read(r2).schema("v").dataType.typeName == "double")
    assert(wh.read(r2).collect().map(_.getAs[Double]("v")).toSet ==
      Set(10.0, 2.5))
    // sync_all_columns passes through the same gate
    val cfgSync = cfg.copy(onSchemaChange = OnSchemaChange.SyncAllColumns)
    val r3 = rel("tw10")
    m.incremental(Seq((1, 5000000000L)).toDF("id", "v"), r3, cfgSync)
    intercept[IllegalStateException] {
      m.incremental(Seq((2, 2.5f)).toDF("id", "v"), r3, cfgSync)
    }
    assert(wh.read(r3).schema("v").dataType.typeName == "long")
  }

  test("expirePartitions drops stale leaves by version-dir mtime") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("exp1")
    val s = spark; import s.implicits._
    m.table(Seq((1, "a"), (2, "b")).toDF("v", "pk"), r,
      ModelConfig(partitionBy = Seq("pk")))
    val now = System.currentTimeMillis()
    // age one leaf artificially (local FS): pk=a "written" 8 days ago
    val (vdir, _) = wh.manifestEntries(r).get.find(_._2 == "pk=a").get
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(wh.path(r), "_graft", vdir, "pk=a"),
      java.nio.file.attribute.FileTime.fromMillis(now - 8L * 86400000L))
    val dropped = wh.expirePartitions(r, 7L * 86400000L, now)
    assert(dropped == Seq("pk=a"), dropped.toString)
    assert(wh.read(r).select("pk").distinct().collect()
      .map(_.getString(0)).toSet == Set("b"))
    assert(wh.expirePartitions(r, 7L * 86400000L, now).isEmpty)
  }

  test("alterColumnType: multi-column partition layout fully preserved and guarded") {
    val wh = freshWh(); val m = new Materializer(wh); val r = rel("alt3")
    val s = spark; import s.implicits._
    val d = Seq((1, "a", 10), (2, "b", 20)).toDF("id", "grp", "v")
    m.table(d, r, ModelConfig(partitionBy = Seq("id", "grp")))
    assert(wh.partitionColumns(r) == Seq("id", "grp"))
    wh.alterColumnType(r, "v", "bigint")
    val out = wh.read(r)
    assert(out.schema("v").dataType.typeName == "long")
    // BOTH partition levels survive the rewrite — first-level dirs alone
    // would silently flatten the layout to id-only
    val leaves = wh.listPartitionPaths(r, 2)
    assert(leaves.nonEmpty && leaves.forall(p =>
      p.startsWith("id=") && p.contains("/grp=")), leaves.toString)
    assert(out.collect().map(x => (x.getAs[Int]("id"),
      x.getAs[String]("grp"), x.getAs[Long]("v"))).toSet ==
      Set((1, "a", 10L), (2, "b", 20L)))
    // the SECOND-level partition column is refused, not just the first
    val e = intercept[IllegalArgumentException] {
      wh.alterColumnType(r, "grp", "string")
    }
    assert(e.getMessage.contains("partition column"), e.getMessage)
  }
}
