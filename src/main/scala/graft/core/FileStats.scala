package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file column min/max statistics for manifest-committed data —
  * the file-skipping layer of the commit protocol (the role Iceberg/Delta
  * give their per-file metadata).
  *
  * Parquet already prunes ROW GROUPS from footer stats, but only after a
  * task was scheduled and the footer fetched: at 100 TB a time-range query
  * over an append-mode table still schedules one task per file and pays
  * one metadata round trip each, just to discover most files are out of
  * range. Recording each file's column ranges ONCE at write time (the
  * writer just produced the footers; reading them back is O(KB) per file)
  * lets [[ManifestFileIndex]] drop out-of-range files at PLANNING time —
  * zero tasks, zero footer reads for the skipped ones. The dominant win is
  * the common layout where a column correlates with commit order (event
  * time, ingestion date, monotonic ids): a day's query over years of
  * appends plans only the day's files.
  *
  * Storage is a sidecar file `_graft_stats` at the VERSION DIR root —
  * never in the manifest (which would bloat every CAS body and need
  * carry-forward logic on each commit). A version dir is immutable, so its
  * sidecar is written once before the commit and travels with the dir
  * through commits, rollbacks, time travel, and GC for free. The leading
  * underscore keeps every parquet reader (and [[Warehouse.listEntries]]'s
  * `.parquet` filter) blind to it. A torn or missing sidecar only costs
  * skipping — reads stay correct, files are just not pruned.
  *
  * Format (line-oriented, trailer-guarded like the manifest):
  * {{{
  * graftstats1
  * <fileName>\t<column>\t<type>\t<nulls 0|1|?>\t<minEnc>\t<maxEnc>
  * ...
  * end <lineCount>
  * }}}
  * Numeric min/max encode as decimal strings; strings as Base64 of UTF-8
  * bytes (tab/newline-proof). Only top-level columns whose parquet
  * primitive ordering matches the Catalyst internal value ordering are
  * recorded: INT32 (int/date — internal days), INT64 (long / TIMESTAMP
  * MICROS — internal micros), FLOAT, DOUBLE, UTF8 BINARY (UTF8String
  * compares byte-wise unsigned, the same order as parquet UNSIGNED binary
  * stats). INT96 timestamps, decimals, unsigned ints and nested fields are
  * deliberately absent — absent columns simply never skip.
  */
object FileStats {

  val SidecarName = "_graft_stats"

  /** One column's range in one file. `nullsKnown=false` means the footer
    * did not record a null count — IsNull can then never prune.
    * min/max are None for an all-null (or statless) column.
    */
  final case class Col(t: String, hasNulls: Boolean, nullsKnown: Boolean,
                       min: Option[String], max: Option[String])

  /** version-dir-RELATIVE file path -> column -> range. Keys must be
    * relative to the version dir (partition subdirs included, e.g.
    * `p=3/part-00000-<uuid>.c000.snappy.parquet`), NOT bare file names: a
    * partitioned write reuses one `part-NNNNN-<jobUUID>` name across every
    * leaf dir a task writes, so bare names collide WITHIN a version dir
    * and a name-keyed merge would apply one leaf's ranges to another
    * leaf's file — a wrong skip. Merging across version dirs
    * ([[Warehouse]]'s `readStats`) prefixes each key with its dir name,
    * and the scan-side lookup reconstructs the same compound key.
    */
  type PerFile = Map[String, Map[String, Col]]

  /** The sidecar key of `file` inside version dir `base` — the path
    * relative to the (qualification-normalized) base, falling back to the
    * bare name when `file` is not under `base` (never true for files the
    * warehouse wrote; the fallback only keeps stats advisory on a layout
    * surprise).
    */
  def relKey(base: Path, file: Path): String = {
    val b = base.toUri.getPath
    val f = file.toUri.getPath
    if (f.startsWith(b + "/")) f.substring(b.length + 1) else file.getName
  }

  // ---------------------------------------------------------- collect

  /** One open of a parquet file's footer: its record count and its
    * per-column row group stats merged into one range per column (at most
    * `maxCols` columns, none when it is 0; unsupported or stat-less
    * columns are absent). Throws when the footer cannot be read.
    *
    * The read options are built from `conf`, the caller's conf. Parquet's
    * one-argument `open` builds default options, and those parse a fresh
    * Hadoop `Configuration` from the classpath XML on every call: that
    * parse, not the footer read, is most of an open's cost.
    */
  def footer(conf: Configuration, st: FileStatus,
             maxCols: Int): (Long, Map[String, Col]) = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val rd = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
      HadoopReadOptions.builder(conf).build())
    try (rd.getRecordCount,
      if (maxCols <= 0) Map.empty[String, Col]
      else collectFooter(rd.getFooter, maxCols))
    finally rd.close()
  }

  private[core] def collectFooter(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      maxCols: Int): Map[String, Col] = {
    import scala.jdk.CollectionConverters._
    val blocks = footer.getBlocks.asScala.toSeq
    if (blocks.isEmpty) return Map.empty
    // per-row-group (column -> (t, hasNulls, nullsKnown, min, max)) merged
    val merged = scala.collection.mutable.Map.empty[String, Col]
    val dropped = scala.collection.mutable.Set.empty[String]
    for (b <- blocks; c <- b.getColumns.asScala) {
      if (c.getPath.size == 1) {
        val name = c.getPath.toDotString
        if (!dropped(name)) typedRange(c) match {
          case None => dropped += name; merged.remove(name)
          case Some(r) =>
            merged(name) = merged.get(name).fold(r)(mergeCol(_, r))
        }
      }
    }
    // deterministic cap: widest-alphabetical is arbitrary; take by name so
    // reruns produce identical sidecars
    if (merged.size <= maxCols) merged.toMap
    else merged.toSeq.sortBy(_._1).take(maxCols).toMap
  }

  private def mergeCol(a: Col, b: Col): Col = Col(
    a.t,
    a.hasNulls || b.hasNulls,
    a.nullsKnown && b.nullsKnown,
    (a.min, b.min) match {
      case (Some(x), Some(y)) => Some(minOf(a.t, x, y))
      case (x, y) => x.orElse(y)
    },
    (a.max, b.max) match {
      case (Some(x), Some(y)) => Some(maxOf(a.t, x, y))
      case (x, y) => x.orElse(y)
    })

  private def minOf(t: String, x: String, y: String): String =
    if (cmpEnc(t, x, y) <= 0) x else y
  private def maxOf(t: String, x: String, y: String): String =
    if (cmpEnc(t, x, y) >= 0) x else y

  /** Supported-type range of one column chunk; None = column unsupported
    * or this row group's stats unusable (poisons the whole file's column —
    * a partial range would skip wrongly).
    */
  private def typedRange(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Option[Col] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val stats = c.getStatistics
    if (stats == null || stats.isEmpty) return None
    val pt = c.getPrimitiveType
    val logical = pt.getLogicalTypeAnnotation
    val t: String = pt.getPrimitiveTypeName match {
      case INT32 => logical match {
        case null => "int32"
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => "int32"
        case a: LogicalTypeAnnotation.IntLogicalTypeAnnotation if a.isSigned => "int32"
        case _ => return None // uint / decimal-on-int32: ordering differs
      }
      case INT64 => logical match {
        case null => "int64"
        case a: LogicalTypeAnnotation.IntLogicalTypeAnnotation if a.isSigned => "int64"
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS => "int64"
        case _ => return None // millis timestamps / uint64 / decimal
      }
      case FLOAT => "float"
      case DOUBLE => "double"
      case BINARY => logical match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => "string"
        case _ => return None
      }
      case _ => return None // INT96, BOOLEAN, FIXED_LEN_BYTE_ARRAY
    }
    val nullsKnown = stats.isNumNullsSet
    val hasNulls = !nullsKnown || stats.getNumNulls > 0
    if (!stats.hasNonNullValue)
      // all-null (or value-less) chunk: a range-less column that can still
      // answer IsNull/IsNotNull
      return Some(Col(t, hasNulls = true, nullsKnown, None, None))
    val (mn, mx) = (stats.genericGetMin.asInstanceOf[AnyRef],
      stats.genericGetMax.asInstanceOf[AnyRef])
    def enc(v: AnyRef): Option[String] = (t, v) match {
      case ("int32", i: Integer) => Some(i.toString)
      case ("int64", l: java.lang.Long) => Some(l.toString)
      case ("float", f: java.lang.Float) =>
        if (f.isNaN) None else Some(f.toString)
      case ("double", d: java.lang.Double) =>
        if (d.isNaN) None else Some(d.toString)
      case ("string", b: org.apache.parquet.io.api.Binary) =>
        Some(java.util.Base64.getEncoder.encodeToString(b.getBytes))
      case _ => None
    }
    (enc(mn), enc(mx)) match {
      case (Some(a), Some(b)) => Some(Col(t, hasNulls, nullsKnown, Some(a), Some(b)))
      case _ => None // NaN bounds or type surprise: unusable
    }
  }

  // ---------------------------------------------------- sidecar IO

  def write(fs: FileSystem, vdir: Path, stats: PerFile): Unit = {
    if (stats.isEmpty) return
    val lines = stats.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
      cols.toSeq.sortBy(_._1).map { case (col, r) =>
        val nulls = if (!r.nullsKnown) "?" else if (r.hasNulls) "1" else "0"
        s"$f\t$col\t${r.t}\t$nulls\t${r.min.getOrElse("")}\t${r.max.getOrElse("")}"
      }
    }
    val body = ("graftstats1" +: lines)
      .mkString("", "\n", s"\nend ${lines.length}\n")
    val out = fs.create(new Path(vdir, SidecarName), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** Parse a sidecar body; None on a missing header or torn trailer. */
  private[core] def parse(text: String): Option[PerFile] = {
    val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
    if (lines.isEmpty || lines.head != "graftstats1") return None
    lines.last match {
      case s if s.startsWith("end ") &&
        s.stripPrefix("end ").trim == (lines.length - 2).toString =>
        val rows = lines.slice(1, lines.length - 1).flatMap { l =>
          l.split("\t", -1) match {
            case Array(f, col, t, nulls, mn, mx) =>
              Some((f, col, Col(t,
                hasNulls = nulls != "0", nullsKnown = nulls != "?",
                Option(mn).filter(_.nonEmpty), Option(mx).filter(_.nonEmpty))))
            case _ => None
          }
        }
        Some(rows.groupBy(_._1).map { case (f, rs) =>
          f -> rs.map(r => r._2 -> r._3).toMap
        })
      case _ => None
    }
  }

  def read(fs: FileSystem, vdir: Path): Option[PerFile] =
    try {
      val p = new Path(vdir, SidecarName)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val text =
          try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
          finally in.close()
        parse(text)
      }
    } catch { case _: java.io.IOException => None }

  // ------------------------------------------------------ evaluation

  /** Conservative skip test: false ONLY when `cols` proves no row of the
    * file can satisfy `filter`. Anything unrecognized — an expression
    * shape outside the supported set, a column without stats, a type
    * mismatch — returns true (keep the file). This is the same
    * contract as parquet's own row-group filter, one level up.
    */
  def mayContain(cols: Map[String, Col], filter: Expression,
                 resolver: (String, String) => Boolean): Boolean = {
    def colOf(a: AttributeReference): Option[Col] =
      cols.collectFirst { case (n, c) if resolver(n, a.name) => c }
    // encoded-vs-internal comparison; None = incomparable (keep)
    def cmpLit(c: Col, v: Any, dt: DataType): Option[(Int, Int)] = {
      // returns (cmp(min, v), cmp(max, v))
      for {
        mn <- c.min; mx <- c.max
        r <- cmpInternal(c.t, mn, mx, v, dt)
      } yield r
    }
    def eval(e: Expression): Boolean = e match {
      case And(l, r) => eval(l) && eval(r)
      case Or(l, r) => eval(l) || eval(r)
      case EqualTo(a: AttributeReference, Literal(v, dt)) if v != null => eq(a, v, dt)
      case EqualTo(Literal(v, dt), a: AttributeReference) if v != null => eq(a, v, dt)
      case EqualNullSafe(a: AttributeReference, Literal(v, dt)) =>
        if (v == null) colOf(a).forall(_.hasNulls) else eq(a, v, dt)
      case EqualNullSafe(Literal(v, dt), a: AttributeReference) =>
        if (v == null) colOf(a).forall(_.hasNulls) else eq(a, v, dt)
      case GreaterThan(a: AttributeReference, Literal(v, dt)) if v != null =>
        colOf(a).flatMap(c => cmpLit(c, v, dt)).forall { case (_, cmpMax) => cmpMax > 0 }
      case GreaterThan(Literal(v, dt), a: AttributeReference) if v != null =>
        eval(LessThan(a, Literal(v, dt)))
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) if v != null =>
        colOf(a).flatMap(c => cmpLit(c, v, dt)).forall { case (_, cmpMax) => cmpMax >= 0 }
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) if v != null =>
        eval(LessThanOrEqual(a, Literal(v, dt)))
      case LessThan(a: AttributeReference, Literal(v, dt)) if v != null =>
        colOf(a).flatMap(c => cmpLit(c, v, dt)).forall { case (cmpMin, _) => cmpMin < 0 }
      case LessThan(Literal(v, dt), a: AttributeReference) if v != null =>
        eval(GreaterThan(a, Literal(v, dt)))
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) if v != null =>
        colOf(a).flatMap(c => cmpLit(c, v, dt)).forall { case (cmpMin, _) => cmpMin <= 0 }
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference) if v != null =>
        eval(GreaterThan(a, Literal(v, dt)))
      case In(a: AttributeReference, list) if list.forall {
        case Literal(v, _) => v != null; case _ => false } =>
        list.exists { case Literal(v, dt) => eq(a, v, dt); case _ => true }
      case InSet(a: AttributeReference, set) if !set.contains(null) =>
        set.exists(v => eq(a, v, a.dataType))
      case IsNull(a: AttributeReference) => colOf(a).forall(_.hasNulls)
      case IsNotNull(a: AttributeReference) =>
        // min/max present => non-null values exist; a range-less column
        // with a KNOWN null count is all-null => prune
        colOf(a).forall(c => c.min.nonEmpty || !c.nullsKnown)
      case _ => true
    }
    def eq(a: AttributeReference, v: Any, dt: DataType): Boolean =
      colOf(a).flatMap(c => cmpLit(c, v, dt)).forall {
        case (cmpMin, cmpMax) => cmpMin <= 0 && cmpMax >= 0
      }
    eval(filter)
  }

  /** (cmp(min, v), cmp(max, v)) with v a Catalyst INTERNAL value, or None
    * when the stats type and the literal type don't line up.
    */
  private def cmpInternal(t: String, mnEnc: String, mxEnc: String,
                          v: Any, dt: DataType): Option[(Int, Int)] =
    (t, dt, v) match {
      case ("int32", (IntegerType | DateType | ShortType | ByteType), i: Int) =>
        Some((mnEnc.toInt.compare(i), mxEnc.toInt.compare(i)))
      case ("int32", ShortType, s: Short) =>
        Some((mnEnc.toInt.compare(s.toInt), mxEnc.toInt.compare(s.toInt)))
      case ("int32", ByteType, b: Byte) =>
        Some((mnEnc.toInt.compare(b.toInt), mxEnc.toInt.compare(b.toInt)))
      case ("int64", (LongType | TimestampType | TimestampNTZType), l: Long) =>
        Some((mnEnc.toLong.compare(l), mxEnc.toLong.compare(l)))
      case ("float", FloatType, f: Float) if !f.isNaN =>
        Some((java.lang.Float.compare(mnEnc.toFloat, f),
          java.lang.Float.compare(mxEnc.toFloat, f)))
      case ("double", DoubleType, d: Double) if !d.isNaN =>
        Some((java.lang.Double.compare(mnEnc.toDouble, d),
          java.lang.Double.compare(mxEnc.toDouble, d)))
      case ("string", StringType, u: UTF8String) =>
        val dec = java.util.Base64.getDecoder
        Some((UTF8String.fromBytes(dec.decode(mnEnc)).compareTo(u),
          UTF8String.fromBytes(dec.decode(mxEnc)).compareTo(u)))
      case _ => None
    }

  /** Ordering over the ENCODED representation (sidecar merge only). */
  private def cmpEnc(t: String, x: String, y: String): Int = t match {
    case "int32" => x.toInt.compare(y.toInt)
    case "int64" => x.toLong.compare(y.toLong)
    case "float" => java.lang.Float.compare(x.toFloat, y.toFloat)
    case "double" => java.lang.Double.compare(x.toDouble, y.toDouble)
    case "string" =>
      val dec = java.util.Base64.getDecoder
      UTF8String.fromBytes(dec.decode(x)).compareTo(UTF8String.fromBytes(dec.decode(y)))
    case _ => 0
  }
}
