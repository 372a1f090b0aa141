package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Forwarding shim, the sibling of `GraftPartitionParsing`: the footer
  * readers and the schema merge Spark's parquet schema inference uses
  * are package-private, and the inference itself wraps them in a Spark
  * job. Graft already holds the exact files whose footers define a
  * schema (one sample per manifest version group, or a single source
  * file), so it reads those few footers on the driver with the same
  * converter and the same merge, and plans the scan without a job.
  */
object GraftFooterSchema {

  /** The Spark schema of each file's footer, merged left to right in
    * `files` order — the order decides column order: a column first seen
    * in a later file is appended after every earlier file's columns.
    * Every field is nullable, as Spark's own `DataSource` reads files: a
    * column that only later files carry is null in the earlier ones.
    * None when `files` is empty (or every footer is skipped as corrupt
    * under `spark.sql.files.ignoreCorruptFiles`). Throws when two
    * footers disagree on a column's type, like the merge it mirrors.
    */
  def merged(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(conf)
    ParquetFileFormat.readParquetFootersInParallel(
        spark.sessionState.newHadoopConf(), files, conf.ignoreCorruptFiles)
      .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .reduceLeftOption(_.merge(_, conf.caseSensitiveAnalysis))
      .map(_.asNullable)
  }
}
