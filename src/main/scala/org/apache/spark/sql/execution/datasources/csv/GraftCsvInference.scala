package org.apache.spark.sql.execution.datasources.csv

import java.util.Locale

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.types.{DataType, NullType, StringType, StructType}

/** Forwarding shim, the sibling of `GraftFooterSchema`: Spark's CSV schema
  * inference (`TextInputCSVDataSource.inferFromDataset`) runs as two
  * Spark jobs, a `take(1)` for the header and an `aggregate` over every
  * line. A seed is small by dbt's contract (its loader, agate, holds it in
  * memory), so graft reads the file once on the driver through the same
  * pieces: the options the CSV reader builds, its line reader, its
  * comment/empty/header filters, its univocity settings and its per-row
  * type inference. The schema is the one the reader would infer.
  */
object GraftCsvInference {

  /** agate's Boolean spellings, compared after Spark's `lower(trim(_))`. */
  val AgateTrue: Set[String] = Set("true", "t", "yes", "y")
  val AgateFalse: Set[String] = Set("false", "f", "no", "n")
  private val AgateSpellings = AgateTrue ++ AgateFalse

  /** The schema `spark.read.option("header", "true").option("inferSchema",
    * "true")` infers (its field names are the header as the reader names
    * it, `makeSafeHeader`), and the inferred-string columns whose every
    * non-null value is an agate Boolean spelling (at least one value).
    */
  final case class Inferred(schema: StructType, agateBooleans: Set[String])

  def infer(spark: SparkSession, csvPath: String): Inferred = {
    val conf = spark.sessionState.conf
    val opts = new CSVOptions(Map("header" -> "true", "inferSchema" -> "true"),
      conf.csvColumnPruning, conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val path = new Path(csvPath)
    val st = path.getFileSystem(hadoopConf).getFileStatus(path)
    val file = PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath),
      0L, st.getLen, Array.empty[String], st.getModificationTime, st.getLen)
    val reader = new HadoopFileLinesReader(file, opts.lineSeparatorInRead, hadoopConf)
    try {
      val lines = CSVUtils.filterCommentAndEmpty(
        reader.map(t => new String(t.getBytes, 0, t.getLength, opts.charset)), opts)
      val parser = new CsvParser(opts.asParserSettings)
      val first = if (lines.hasNext) {
        val l = lines.next()
        Option(parser.parseLine(l)).map(l -> _)
      } else None
      first match {
        case None => Inferred(new StructType(), Set.empty)
        case Some((firstLine, firstRow)) =>
          val header = CSVUtils.makeSafeHeader(firstRow, conf.caseSensitiveAnalysis, opts)
          val inference = new CSVInferSchema(opts)
          val types = Array.fill[DataType](header.length)(NullType)
          // per column: some value was a spelling / no value was anything else
          val sawSpelling = Array.fill(header.length)(false)
          val allSpellings = Array.fill(header.length)(true)
          lines.foreach { line =>
            val tokens = parser.parseLine(line)
            if (tokens != null) {
              // inference skips every body line equal to the header
              // (`CSVUtils.filterHeaderLine`); the data read keeps them
              if (line != firstLine) inference.inferRowType(types, tokens)
              var i = 0
              while (i < header.length) {
                if (allSpellings(i) && i < tokens.length && tokens(i) != null &&
                    tokens(i) != opts.nullValue) {
                  if (AgateSpellings(sparkTrim(tokens(i)).toLowerCase(Locale.ROOT)))
                    sawSpelling(i) = true
                  else allSpellings(i) = false
                }
                i += 1
              }
            }
          }
          val fields = inference.toStructFields(types, header)
          val booleans = fields.indices.collect {
            case i if fields(i).dataType == StringType && sawSpelling(i) &&
                allSpellings(i) => fields(i).name
          }
          Inferred(StructType(fields), booleans.toSet)
      }
    } finally reader.close()
  }

  /** Spark SQL's `trim`: strips only the space character. */
  private def sparkTrim(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e)
  }
}
