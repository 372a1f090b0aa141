package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.csv.GraftCsvInference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.materialize.Materializer

/** A seed's types come from [[GraftCsvInference]], read once on the
  * driver. Each fixture checks it against Spark's own reader: the schema
  * `inferSchema` gives, the agate-boolean decision of a
  * `collect_set(lower(trim(c)))` over the inferred read, and the rows a
  * seed stores when it is loaded through those two (the oracle below).
  */
class SeedInferenceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshWh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_seed_wh").toString)

  private def csvFile(content: String): String = {
    val f = Files.createTempFile("graft_seed", ".csv")
    Files.write(f, content.getBytes(StandardCharsets.UTF_8))
    f.toString
  }

  private val AgateSpellings = Set("true", "t", "yes", "y", "false", "f", "no", "n")

  /** The inferred-string columns whose distinct `lower(trim(_))` values
    * are all agate spellings, computed by a Spark job over `inferred`.
    */
  private def oracleBooleans(inferred: DataFrame): Set[String] = {
    val strCols = inferred.schema.fields.filter(_.dataType == StringType).map(_.name)
    if (strCols.isEmpty) Set.empty
    else {
      val distincts = inferred.select(strCols.map(c =>
        collect_set(lower(trim(col(c)))).as(c)).toIndexedSeq: _*).head()
      strCols.filter { c =>
        val vs = distincts.getAs[scala.collection.Seq[String]](c).toSet
        vs.nonEmpty && vs.subsetOf(AgateSpellings)
      }.toSet
    }
  }

  /** The seed frame built from Spark's reader alone: a header read, an
    * `inferSchema` read and the `collect_set` boolean check.
    */
  private def oracleSeed(path: String, columnTypes: Map[String, String]): DataFrame = {
    val base = spark.read.option("header", "true")
    val header = base.csv(path).schema.fieldNames.toIndexedSeq
    val byLower = columnTypes.map { case (k, v) => k.toLowerCase -> v }
    if (header.nonEmpty && header.forall(c => byLower.contains(c.toLowerCase)))
      base.schema(StructType(header.map(c =>
        StructField(c, DataType.fromDDL(byLower(c.toLowerCase)))))).csv(path)
    else {
      val inferred = base.option("inferSchema", "true").csv(path)
      val boolCols = inferred.schema.fieldNames.filter(oracleBooleans(inferred))
        .filterNot(c => byLower.contains(c.toLowerCase))
      val refined = boolCols.foldLeft(inferred) { (df, c) =>
        df.withColumn(c, when(col(c).isNull, lit(null).cast("boolean"))
          .otherwise(lower(trim(col(c))).isin("true", "t", "yes", "y")))
      }
      columnTypes.foldLeft(refined) { case (df, (c, t)) =>
        df.withColumn(c, col(c).cast(t))
      }
    }
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private case class Fixture(name: String, content: String,
                             columnTypes: Map[String, String] = Map.empty)

  private val fixtures = Seq(
    Fixture("int, long, decimal overflow and doubles",
      "i,l,dec,d,e\n" +
        "1,1,1,1.5,-2\n" +
        "2,3000000000,99999999999999999999,2.25,1e10\n" +
        "-3,4,5,-3.75,7\n"),
    Fixture("ISO dates and timestamps",
      "day,ts,t2,mixed\n" +
        "2024-01-02,2024-01-02 03:04:05,2024-01-02T03:04:05,2024-01-02\n" +
        "2024-02-29,2024-02-03 04:05:06.123,2024-02-03T04:05:06Z,2024-02-03 04:05:06\n"),
    Fixture("true/false and agate spellings in mixed case with spaces",
      "native,agate,spaced,upper,text,one\n" +
        "true,t, Yes ,N,yes it is,y\n" +
        "False,F,no  ,Y,n,\n" +
        "TRUE, n,  t,YES,t,\n"),
    Fixture("whitespace-only, empty and quoted-empty cells",
      "k,flag,note,blank,allnull,tab\n" +
        "1,t,\"   \",   ,,\tt\n" +
        "2,\"\",n,t,\"\",f\n" +
        "3,,,f,,t\n" +
        "4,f,\"\",,,f\n"),
    Fixture("CRLF line endings and leading blank lines",
      "\r\n\r\nk,flag,day\r\n1,y,2024-01-02\r\n\r\n2,n,2024-01-03\r\n"),
    Fixture("a body line equal to the header",
      "k,flag,other\n1,t,y\nk,flag,other\n2,f,n\n"),
    Fixture("a header-only file", "a,b,c\n"),
    Fixture("duplicate and blank header names",
      "a,A,,b,b\n1,t,x,2,y\n3,f,z,4,n\n"),
    Fixture("a partial column_types",
      "id,flag,code,amount,memo\n1,t,007,1.5,yes\n2,f,042,2.5,no\n",
      Map("code" -> "string", "flag" -> "string", "amount" -> "decimal(10,2)")),
    Fixture("a full column_types",
      "k,v,flag\n007,1,t\n042,2,f\n",
      Map("k" -> "string", "v" -> "bigint", "flag" -> "string"))
  )

  fixtures.zipWithIndex.foreach { case (fx, n) =>
    test(s"${fx.name}: schema, agate booleans and stored rows match Spark's reader") {
      val path = csvFile(fx.content)
      val got = GraftCsvInference.infer(spark, path)
      val inferred = spark.read.option("header", "true")
        .option("inferSchema", "true").csv(path)
      assert(got.schema.fieldNames.toSeq == spark.read.option("header", "true").csv(path)
        .schema.fieldNames.toSeq)
      assert(got.schema == inferred.schema)
      assert(got.agateBooleans == oracleBooleans(inferred))

      val wh = freshWh()
      val stored = new Materializer(wh)
        .seed(spark, path, Relation("db", "sch", s"seed_$n"), fx.columnTypes)
      val ref = Relation("db", "sch", s"oracle_$n")
      wh.writeAtomic(oracleSeed(path, fx.columnTypes), ref)
      val expected = wh.read(ref)
      assert(stored.schema == expected.schema)
      assert(rowsOf(stored) == rowsOf(expected))
    }
  }

  test("the fixtures exercise both decisions and every inferred type") {
    val all = fixtures.map(fx => GraftCsvInference.infer(spark, csvFile(fx.content)))
    val types = all.flatMap(_.schema.fields.map(_.dataType.typeName)).toSet
    assert(Set("integer", "long", "decimal(20,0)", "double", "date", "timestamp",
      "boolean", "string").subsetOf(types), types)
    assert(all.exists(_.agateBooleans.nonEmpty))
    assert(all.exists(i => i.schema.exists(f =>
      f.dataType == StringType && !i.agateBooleans(f.name))))
  }

  test("an inferred seed with a boolean upgrade loads in one Spark job, its write") {
    val path = csvFile("k,flag,day\n1,t,2024-01-02\n2,no,2024-01-03\n")
    val m = new Materializer(freshWh())
    val (jobs, out) = SparkJobs.during(spark)(
      m.seed(spark, path, Relation("db", "sch", "seed_jobs")))
    assert(jobs == 1, s"$jobs jobs to load an inferred seed")
    assert(out.schema("flag").dataType.typeName == "boolean")
  }

  test("a fully overridden seed loads in one Spark job, its write") {
    val path = csvFile("k,v\n007,1\n042,2\n")
    val m = new Materializer(freshWh())
    val (jobs, out) = SparkJobs.during(spark)(m.seed(spark, path,
      Relation("db", "sch", "seed_jobs_cov"), Map("k" -> "string", "v" -> "bigint")))
    assert(jobs == 1, s"$jobs jobs to load an overridden seed")
    assert(out.collect().map(_.getString(0)).toSet == Set("007", "042"))
  }
}
