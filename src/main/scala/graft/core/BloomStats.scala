package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Per-version-dir Bloom filters for POINT-LOOKUP file skipping — the
  * complement of [[FileStats]]: min/max ranges prune range predicates but
  * are useless against equality on a high-cardinality key whose values
  * interleave across files (a uuid or hashed id spans ~the full range in
  * EVERY file). A Bloom filter answers the other question — "can this
  * key possibly be here?" — so `WHERE id = ?` / `IN (…)` over years of
  * appended batches plans only the version dirs that might hold the key.
  *
  * Granularity is deliberately the VERSION DIR, not the file: per-file
  * blooms sized for 100 MB+ files are MBs each, and a planning-time
  * driver load of thousands of them is its own scale problem (engines
  * that go per-file embed the bloom in the file and pay the probe at
  * TASK time instead). One bloom per dir per column keeps the driver
  * cost bounded by the retained dir count, and matches the access
  * pattern this layer exists for: append/stream/CDC ingestion where each
  * dir is one batch and the question is "which batches ever saw key K".
  * [[Warehouse.compactTable]] keeps the dir count itself bounded, and
  * re-blooms the columns its input dirs carried.
  *
  * Sidecar `_graft_bloom` at the version dir root, trailer-guarded like
  * the stats sidecar; torn or missing = no skipping, never wrong
  * results. Build is opt-in per column (the writer's `bloomCols`) because
  * it costs one extra scan of the just-written data; that scan is planned
  * from the files the write step already listed, with no inference job,
  * and sized from the footers it already read. Supported column
  * types: integral (hashed as long) and string (hashed as UTF-8 bytes)
  * — the probe side hashes Catalyst internal values identically, which
  * is the correctness-critical contract pinned in BloomSpec.
  *
  * Format:
  * {{{
  * graftbloom1
  * <column>\t<base64(BloomFilter.writeTo bytes)>
  * ...
  * end <lineCount>
  * }}}
  */
object BloomStats {

  val SidecarName = "_graft_bloom"

  private def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** One distributed pass over `df` building a bloom per requested
    * column (unsupported/absent columns are silently skipped — opt-in
    * stats, same contract as the range sidecar). Per-partition local
    * blooms merge in a tree: the driver receives O(treeDepth) filters,
    * not one per task.
    */
  def build(df: DataFrame, cols: Seq[String], expectedItems: Long,
            fpp: Double): Map[String, BloomFilter] = {
    val fields = df.schema.fields
    val usable = cols.flatMap(c =>
      fields.find(f => f.name.equalsIgnoreCase(c) && supported(f.dataType))
        .map(_.name))
    if (usable.isEmpty) return Map.empty
    val proj = df.select(usable.map(org.apache.spark.sql.functions.col): _*)
    val types: Array[DataType] = proj.schema.fields.map(_.dataType)
    val n = usable.length
    val items = math.max(1L, expectedItems)
    val merged = proj.rdd.mapPartitions { it =>
      val acc = Array.fill(n)(BloomFilter.create(items, fpp))
      it.foreach { row =>
        var i = 0
        while (i < n) {
          if (!row.isNullAt(i)) types(i) match {
            case StringType  => acc(i).putString(row.getString(i))
            case LongType    => acc(i).putLong(row.getLong(i))
            case IntegerType => acc(i).putLong(row.getInt(i).toLong)
            case ShortType   => acc(i).putLong(row.getShort(i).toLong)
            case ByteType    => acc(i).putLong(row.getByte(i).toLong)
            case _           => ()
          }
          i += 1
        }
      }
      Iterator.single(acc)
    }.treeReduce({ (a, b) =>
      var i = 0
      while (i < n) { a(i).mergeInPlace(b(i)); i += 1 }
      a
    }, depth = 2)
    usable.zip(merged).toMap
  }

  // ---------------------------------------------------- sidecar IO

  def write(fs: FileSystem, vdir: Path, blooms: Map[String, BloomFilter]): Unit = {
    if (blooms.isEmpty) return
    val enc = java.util.Base64.getEncoder
    val lines = blooms.toSeq.sortBy(_._1).map { case (c, b) =>
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      s"$c\t${enc.encodeToString(bos.toByteArray)}"
    }
    val body = ("graftbloom1" +: lines)
      .mkString("", "\n", s"\nend ${lines.length}\n")
    val out = fs.create(new Path(vdir, SidecarName), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** None on missing header, torn trailer, or any undecodable filter —
    * a bloom that fails to parse must cost skipping, never correctness.
    */
  private[core] def parse(text: String): Option[Map[String, BloomFilter]] =
    try {
      val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
      if (lines.isEmpty || lines.head != "graftbloom1") return None
      lines.last match {
        case s if s.startsWith("end ") &&
          s.stripPrefix("end ").trim == (lines.length - 2).toString =>
          val dec = java.util.Base64.getDecoder
          Some(lines.slice(1, lines.length - 1).map { l =>
            l.split("\t", 2) match {
              case Array(c, b64) =>
                c -> BloomFilter.readFrom(
                  new java.io.ByteArrayInputStream(dec.decode(b64)))
              case _ => return None
            }
          }.toMap)
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  def read(fs: FileSystem, vdir: Path): Option[Map[String, BloomFilter]] =
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

  /** Quick structural test: does `filter` contain any equality-shaped
    * node a bloom could ever answer? Gates the lazy sidecar load — a
    * pure range scan must not pay even one sidecar read.
    */
  def hasEqualityShape(e: Expression): Boolean = e match {
    case And(l, r) => hasEqualityShape(l) || hasEqualityShape(r)
    case Or(l, r) => hasEqualityShape(l) || hasEqualityShape(r)
    case _: EqualTo | _: EqualNullSafe | _: In | _: InSet => true
    case _ => false
  }

  /** True iff the blooms PROVE no row of the dir can satisfy `filter` —
    * the dual of [[FileStats.mayContain]]'s keep-test. Conservative in
    * the same direction: anything unrecognized proves nothing (keep).
    * And(l,r) is absent when EITHER side is absent; Or needs both; an
    * IN list is absent only when every member misses.
    */
  def provesAbsent(blooms: Map[String, BloomFilter], filter: Expression,
                   resolver: (String, String) => Boolean): Boolean = {
    def bloomOf(a: AttributeReference): Option[BloomFilter] =
      blooms.collectFirst { case (n, b) if resolver(n, a.name) => b }
    // internal-value probe, hashed exactly as the build side hashes the
    // external value (integrals as long; strings as UTF-8 bytes)
    def miss(a: AttributeReference, v: Any): Boolean =
      bloomOf(a).exists(b => v match {
        case i: Int         => !b.mightContainLong(i.toLong)
        case l: Long        => !b.mightContainLong(l)
        case s: Short       => !b.mightContainLong(s.toLong)
        case by: Byte       => !b.mightContainLong(by.toLong)
        case u: UTF8String  => !b.mightContainBinary(u.getBytes)
        case _              => false
      })
    def absent(e: Expression): Boolean = e match {
      case And(l, r) => absent(l) || absent(r)
      case Or(l, r) => absent(l) && absent(r)
      case EqualTo(a: AttributeReference, Literal(v, _)) if v != null => miss(a, v)
      case EqualTo(Literal(v, _), a: AttributeReference) if v != null => miss(a, v)
      case EqualNullSafe(a: AttributeReference, Literal(v, _)) if v != null => miss(a, v)
      case EqualNullSafe(Literal(v, _), a: AttributeReference) if v != null => miss(a, v)
      case In(a: AttributeReference, list) if list.nonEmpty && list.forall {
        case Literal(v, _) => v != null; case _ => false } =>
        list.forall { case Literal(v, _) => miss(a, v); case _ => false }
      case InSet(a: AttributeReference, set) if set.nonEmpty && !set.contains(null) =>
        set.forall(v => miss(a, v))
      case _ => false
    }
    absent(filter)
  }
}
