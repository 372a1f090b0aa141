package graft.core

import java.util.UUID
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterSchema
import org.apache.spark.sql.functions.{concat, expr, lit, raise_error, when}
import org.apache.spark.sql.types.StructType

/** Path-addressed parquet warehouse with a manifest commit protocol.
  *
  * Replaces the reference's BigQuery dataset catalog: a relation is a
  * directory `root/database/schema/identifier`. The reference's table
  * materialization (`materialization_table_default` @125935) commits by
  * swapping `__dbt_tmp`/`__dbt_backup` relations; here every write lands
  * in an IMMUTABLE versioned data directory under the relation's
  * `_graft/` subdirectory, and the commit is the atomic creation of the
  * next numbered manifest file mapping each partition path to the
  * version directory holding its rows. Readers resolve the highest
  * complete manifest — there is no rename, no in-place mutation, and no
  * window where the table is absent, on a local disk, HDFS or an object
  * store alike. A crash before the manifest lands leaves an invisible
  * orphan directory. A partition-scoped merge commits a manifest whose
  * untouched entries still point at their old version directories, so a
  * daily merge never copies years of history.
  *
  * Every table this warehouse serves has a manifest. A relation dir that
  * an older release wrote as plain parquet (no `_graft/`) is served only
  * after [[adopt]] commits a first manifest whose entries point at its
  * own files in place. Until then [[exists]] still reports it, so an
  * incremental build does not rebuild over its rows; [[read]] refuses,
  * and so does every write but a full rebuild.
  *
  * Concurrency: every mutating operation takes a per-relation lock file
  * (atomic create-if-absent, stale-broken by age), and manifest commits
  * are additionally compare-and-swap — a racing writer that loses the
  * manifest-create re-reads the fresh state and reapplies, so interleaved
  * builds serialize instead of corrupting.
  *
  * Scale: all data movement is executor-side `DataFrameWriter` parquet IO;
  * the driver only issues metadata operations. `partitionBy`/`clusterBy`
  * map to directory partitioning + `sortWithinPartitions` so downstream
  * reads get partition pruning and row-group skipping.
  *
  * Local IO: on a `file:` root, Hadoop's stock local filesystem starts an
  * OS process per file it creates (`chmod`) and per file status whose
  * permission it reads (`ls -ld`, e.g. every `listFiles` entry) when no
  * native `libhadoop` is loaded — milliseconds each, on the driver
  * between jobs and in the write tasks. So the warehouse's own IO and its
  * write jobs run on [[NioLocalFileSystem]], the same filesystem with
  * those two steps done in process; the files, bytes and modes written
  * are the same. A session that registers its own `fs.file.impl` keeps it.
  */
final class Warehouse(val spark: SparkSession, val root: String) {

  /** The filesystem of every driver-side IO of this warehouse: the
    * session's own for a non-`file` root or a registered `fs.file.impl`,
    * else one [[NioLocalFileSystem]] (see the class doc).
    */
  private[graft] def fs: FileSystem =
    if (localIoOptions.isEmpty)
      new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    else localFs

  private lazy val localFs: FileSystem = {
    val f = new NioLocalFileSystem
    f.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    f
  }

  private def localIoOptions: Map[String, String] =
    Warehouse.localIoOptions(spark, root)

  /** The parquet write of a fresh version dir — every data write of the
    * warehouse goes through here. The [[localIoOptions]] reach the job's
    * Hadoop conf, so its tasks, parquet's output files and the output
    * committer run on the same filesystem as the driver side.
    */
  private def writeVersionDir(w: DataFrameWriter[Row], vdir: Path): Unit =
    w.options(localIoOptions).parquet(vdir.toString)

  def path(rel: Relation): String = rel.pathUnder(root)

  def exists(rel: Relation): Boolean =
    // a dir holding only uncommitted version dirs (crashed write) is NOT
    // a table; a committed manifest or not-yet-adopted plain data is
    fs.exists(new Path(path(rel))) &&
      (latestManifest(rel).isDefined || legacyHasData(rel))

  /** Fails as [[read]] does when `rel` is a plain-layout dir not yet
    * adopted: for a layout-driven choice between a rebuild and a scoped
    * replace, which must not take the missing manifest for an empty table
    * and rebuild over its rows.
    */
  private[graft] def refuseUnadopted(rel: Relation): Unit =
    if (latestManifest(rel).isEmpty && exists(rel)) throw noTable(rel)

  /** The failure for a relation with no complete manifest: a plain-layout
    * dir awaiting [[adopt]], or nothing at all.
    */
  private def noTable(rel: Relation): IllegalStateException =
    new IllegalStateException(
      if (legacyHasData(rel)) s"${rel.fqName} holds plain parquet written " +
        "by an older release and no manifest. Run `adopt` to serve those " +
        "files in place (no copy), or rebuild the relation once with " +
        "--full-refresh"
      else s"${rel.fqName}: no table at ${path(rel)}")

  /** Committed manifest data is IMMUTABLE per manifest, so the
    * constructed read DataFrame (file listings + partition parsing +
    * footer schema) is reusable until the next commit — and a single
    * model build reads its sources and target many times (exists,
    * schemaOf, the data itself). Keyed by relation path, valid only
    * while the manifest IDENTITY matches — the seq plus a digest of the
    * entry list, not the bare seq: multi-writer operation is supported
    * (relation lock file), and a drop+recreate by ANOTHER process
    * restarts seqs, so an equal seq alone could alias a different
    * committed state and serve listings of deleted version dirs. Entry
    * lists discriminate because version-dir names embed a per-writer
    * random UUID. [[drop]]/[[rename]] by this instance still evict
    * explicitly (cheap, and keeps the common case exact).
    */
  private val readCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]

  /** Cache identity of a committed manifest: seq + entry-list digest. */
  private def manifestIdentity(seq: Long, entries: Seq[(String, String)]): String = {
    // a REAL digest, not Seq.hashCode: the identity guards the read cache
    // against a cross-process drop-and-recreate where seqs restart — a
    // 32-bit collision there would serve a cached frame over GC'd dirs
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.foreach { case (d, p) =>
      md.update(s"$d\u0000$p\u0001".getBytes("UTF-8")) } // NUL/SOH framing
    s"$seq#${entries.length}#${md.digest().map("%02x".format(_)).mkString}"
  }

  private[core] def invalidateRead(rel: Relation): Unit = {
    readCache.remove(path(rel)); ()
  }

  def read(rel: Relation): DataFrame =
    latestManifest(rel) match {
      case Some((seq, entries)) if dataEntries(entries).nonEmpty =>
        val key = path(rel)
        val id = manifestIdentity(seq, entries)
        val hit = readCache.get(key)
        if (hit != null && hit._1 == id) hit._2
        else {
          val df = readEntries(rel, entries)
          readCache.put(key, (id, df))
          df
        }
      case Some((seq, _)) =>
        // every data entry dropped (delete entries may remain): recover
        // the schema from the newest retained manifest that still has data
        manifestsDescending(rel).filter(_._1 < seq)
          .flatMap { case (_, p) => parseManifest(p) }
          .map(dataEntries)
          .find(_.nonEmpty)
          .map(e => readDataEntries(rel, e).limit(0))
          .getOrElse(throw new IllegalStateException(
            s"${rel.fqName}: every data entry was dropped/expired and " +
              "no retained manifest still carries one — the schema is " +
              "unrecoverable. Rebuild the relation (or read a version " +
              "via readAt before the expiry commit aged out)."))
      case None => throw noTable(rel)
    }

  def schemaOf(rel: Relation): StructType = read(rel).schema

  /** The per-version-dir bloom filters covering `colName` across the
    * relation's CURRENT data entries — `Some(filters)` only when EVERY
    * contributing version dir carries a bloom for the column (an
    * absence proof over a partial set proves nothing), `Some(Nil)` for
    * an empty table, `None` otherwise (no manifest, pre-bloom writes,
    * adopted files).
    * A value absent from every filter is PROVABLY not stored; a hit is
    * only a candidate (delete entries and bloom fpp both
    * over-approximate) — verify candidates with an exact probe. Used by
    * append-only ingestion guards (e.g. KeywordIndex's doc_id guard) to
    * test a batch against a corpus-sized relation in O(batch).
    */
  def bloomsFor(rel: Relation, colName: String)
      : Option[Seq[org.apache.spark.util.sketch.BloomFilter]] =
    latestManifest(rel).flatMap { case (_, entries) =>
      val data = dataEntries(entries)
      if (data.isEmpty) Some(Nil)
      else {
        val perVdir = data.map(_._1).distinct
          .map(d => BloomStats.read(fs, new Path(mfDir(rel), d))
            .flatMap(_.collectFirst {
              case (c, b) if c.equalsIgnoreCase(colName) => b
            }))
        if (perVdir.forall(_.isDefined)) Some(perVdir.flatten) else None
      }
    }

  def drop(rel: Relation): Unit = withRelationLock(rel) {
    invalidateRead(rel)
    val p = new Path(path(rel))
    if (fs.exists(p)) {
      Warehouse.faultPoint("drop.delete")
      fs.delete(p, true); ()
    }
  }

  /** Reference `rename_relation` @183544. Manifest entries are relative
    * to the relation dir, so a whole-dir rename moves versions intact.
    * Both endpoints are locked (in path order, so two concurrent renames
    * over the same pair cannot deadlock) — a rename racing a writer on
    * either side would otherwise move a half-written table.
    */
  def rename(from: Relation, to: Relation): Unit = {
    val (first, second) =
      if (path(from) <= path(to)) (from, to) else (to, from)
    withRelationLock(first) { withRelationLock(second) {
      invalidateRead(from); invalidateRead(to)
      fs.mkdirs(new Path(path(to)).getParent)
      Warehouse.faultPoint("rename.rename")
      if (!fs.rename(new Path(path(from)), new Path(path(to))))
        throw new IllegalStateException(
          s"rename ${from.fqName} -> ${to.fqName} failed")
    } }
  }

  /** Reference `truncate_relation` @181945: keep schema, remove rows. */
  def truncate(rel: Relation): Unit = {
    val df = read(rel)
    writeAtomic(df.limit(0), rel)
  }

  /** B33 `alter_column_type` (reference @178640: tmp column, copy, drop,
    * rename — the SQL-warehouse dance): on parquet the same contract is
    * one atomic full rewrite with the column cast. The deliberate
    * type-migration operation the schema-drift guards (snapshots,
    * microbatch) direct users to. ANSI-checked: a value the new type
    * cannot hold fails the rewrite instead of silently wrapping/nulling —
    * exactly the corruption the automatic paths refuse to risk. Preserves
    * the existing partition layout.
    */
  def alterColumnType(rel: Relation, column: String, newType: String): Unit = {
    val df = read(rel)
    require(df.columns.exists(_.equalsIgnoreCase(column)),
      s"alterColumnType: ${rel.fqName} has no column '$column' " +
        s"(columns: ${df.columns.mkString(", ")})")
    // ALL partition keys, from full leaf paths — first-level dirs alone
    // would silently drop the deeper keys of a multi-column layout from
    // both the refusal check and the rewrite's partitioning
    val partCols = partitionColumns(rel)
    require(!partCols.exists(_.equalsIgnoreCase(column)),
      s"alterColumnType: '$column' is a partition column of ${rel.fqName} — " +
        "repartitioning is a layout migration, rebuild the relation instead")
    org.apache.spark.sql.types.DataType.fromDDL(newType) // validates the DDL
    // try_cast + raise-on-lost-value (the Contracts.enforce pattern):
    // loud regardless of the session's ANSI mode, whole-stage codegen'd
    val tryCast = expr(s"try_cast(`$column` AS $newType)")
    val cast = df.withColumn(column,
      when(df(column).isNotNull && tryCast.isNull,
        raise_error(concat(
          lit(s"alterColumnType ${rel.fqName}.$column: value "),
          df(column).cast("string"),
          lit(s" does not fit $newType"))))
        .otherwise(tryCast))
    writeAtomic(cast, rel, partitionCols = partCols)
  }

  // ===================================================== manifest protocol

  /** Everything the manifest protocol writes lives under this single
    * subdirectory of the relation dir, so directory-listing metadata ops
    * (listRelations, partition discovery fallbacks) never see it.
    */
  private val MfDir = "_graft"
  /** The version dir of an [[adopt]]ed relation's entries: entry dirs
    * resolve against `_graft/`, so this is the relation dir itself.
    */
  private val AdoptedDir = ".."
  private val ManifestName = """m(\d{12})\.manifest""".r
  private val VersionName = """v(\d{12})-.*""".r
  /** Committed manifests retained for in-flight readers (and the version
    * dirs they reference); older ones are GC'd on commit.
    */
  private val KeepManifests = 3

  /** Partition-path marker of an equality-DELETE entry: the version dir
    * holds key tuples to subtract (schema = key columns), not data. The
    * marker can never collide with a real partition path (those are empty
    * or `k=v…`) and delete dirs ride the same naming/GC/retention as data
    * dirs. See [[deleteKeys]] for the full contract.
    */
  private[graft] val DeleteMarker = "!del"
  private def isDeleteEntry(e: (String, String)): Boolean = e._2 == DeleteMarker
  /** The data (non-delete) entries of a manifest entry list. */
  private[graft] def dataEntries(entries: Seq[(String, String)]): Seq[(String, String)] =
    entries.filterNot(isDeleteEntry)

  private def mfDir(rel: Relation): Path = new Path(path(rel), MfDir)
  private def manifestPath(rel: Relation, seq: Long): Path =
    new Path(mfDir(rel), f"m$seq%012d.manifest")

  /** (seq, path) of every manifest file, newest first. */
  private def manifestsDescending(rel: Relation): Seq[(Long, Path)] = {
    val d = mfDir(rel)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestName(n) if st.isFile => Some((n.toLong, st.getPath))
        case _ => None
      }
    }.sortBy(-_._1)
  }

  /** Parse a manifest: `graftmf1` header, optional `!<key>\t<value>`
    * METADATA lines (carried forward commit to commit — the streaming
    * sink's exactly-once watermarks live here, atomic with the entry
    * list they describe), `<versionDir>\t<partitionPath>` entry lines,
    * `end <count>` trailer covering both kinds. The trailer makes a
    * partially written file detectable — an incomplete manifest parses
    * to None and the reader falls back to the previous seq, which is
    * what makes the small-file write safe even where create+write+close
    * is not atomic.
    */
  private def parseManifestLines(p: Path): Option[Seq[String]] =
    try {
      val in = fs.open(p)
      val text =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
      if (lines.isEmpty || lines.head != "graftmf1") None
      else lines.last match {
        case s if s.startsWith("end ") =>
          val mid = lines.slice(1, lines.length - 1)
          if (s.stripPrefix("end ").trim == mid.length.toString) Some(mid)
          else None
        case _ => None
      }
    } catch { case _: java.io.IOException => None }

  private def parseManifest(p: Path): Option[Seq[(String, String)]] =
    parseManifestLines(p).map(_.filterNot(_.startsWith("!")).map { l =>
      val t = l.split("\t", -1)
      (t(0), if (t.length > 1) t(1) else "")
    })

  private def parseManifestMeta(p: Path): Option[Map[String, String]] =
    parseManifestLines(p).map(_.filter(_.startsWith("!")).flatMap { l =>
      l.stripPrefix("!").split("\t", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap)

  /** Committed (versionDir, partitionPath) entries of the current
    * manifest — observability for tests and ops tooling; None when the
    * relation has no complete manifest.
    */
  def manifestEntries(rel: Relation): Option[Seq[(String, String)]] =
    latestManifest(rel).map(_._2)

  /** Time travel: the retained, complete commits of a relation, oldest
    * first — each is a seq a [[readAt]] can resolve. Retention is
    * [[KeepManifests]] deep (commit-time GC prunes beyond it), so this is
    * a bounded undo window, not unbounded history. A relation with no
    * manifest has no history: empty.
    */
  def listVersions(rel: Relation): Seq[Long] =
    manifestsDescending(rel)
      .flatMap { case (seq, p) => parseManifest(p).map(_ => seq) }
      .sorted

  /** Read the relation AS OF committed manifest `seq` — the manifest
    * protocol's immutable version dirs give snapshot reads for free
    * (the same mechanism that lets in-flight readers survive a
    * concurrent commit). Fails loudly when `seq` is not a retained,
    * complete commit: silently substituting another version would be a
    * correctness trap in an audit/rollback workflow.
    */
  def readAt(rel: Relation, seq: Long): DataFrame = {
    val entries = entriesAt(rel, seq)
    if (dataEntries(entries).isEmpty) read(rel).limit(0)
    else readEntries(rel, entries)
  }

  /** The entry list of retained committed manifest `seq`, or a loud
    * failure — time-travel callers must never silently get another
    * version.
    */
  private def entriesAt(rel: Relation, seq: Long): Seq[(String, String)] =
    manifestsDescending(rel)
      .collectFirst { case (s, p) if s == seq => parseManifest(p) }
      .flatten
      .getOrElse(throw new IllegalArgumentException(
        s"${rel.fqName} has no retained complete manifest $seq " +
          s"(retained: ${listVersions(rel).mkString(", ")})"))

  /** Changelog read: the rows ADDED between retained commits `fromSeq`
    * (exclusive) and `toSeq` (inclusive) — the entries `toSeq` references
    * that `fromSeq` does not. For append-mode tables this is exactly the
    * incremental delta, so a downstream consumer can checkpoint a seq and
    * process only new data per run — at 100 TB the difference between a
    * full rescan and reading one batch. Overwrite-style commits replace
    * entries rather than add them; rewritten entries surface as additions
    * (their rows are new versions), which is the honest upper bound —
    * this method never silently drops a change.
    */
  def readAppendedBetween(rel: Relation, fromSeq: Long, toSeq: Long): DataFrame = {
    require(fromSeq < toSeq,
      s"readAppendedBetween wants fromSeq < toSeq, got $fromSeq >= $toSeq")
    val before = entriesAt(rel, fromSeq).toSet
    val added = entriesAt(rel, toSeq).filterNot(before)
    // a delete-only delta adds no rows (changelog reads surface ADDITIONS;
    // deletes between the seqs affect rows outside `added`, never inside
    // it — a delete entry orders after the data it subtracts, which is all
    // in `before`)
    if (dataEntries(added).isEmpty) read(rel).limit(0)
    else readEntries(rel, added)
  }

  /** The appended delta `(fromSeq, toSeq]` as a DataFrame, ONLY when the
    * range is PROVABLY append-only from manifest history alone: every
    * `fromSeq` entry survives at `toSeq` (an overwrite/rollback drops
    * entries) and no `toSeq` entry is a delete. None otherwise — the
    * caller (the agg-view rewrite's stale-serving path) must fall back
    * to the source scan rather than risk folding a delta that replaced
    * or subtracted rows the view already counted.
    */
  private[graft] def appendOnlyDelta(rel: Relation, fromSeq: Long,
                                     toSeq: Long): Option[DataFrame] = {
    if (fromSeq >= toSeq) return None
    // one directory listing, one parse per seq: this runs inside the
    // optimizer rule on every candidate aggregate, so the metadata cost
    // must stay at its floor
    val mfs = manifestsDescending(rel)
    def at(seq: Long): Option[Seq[(String, String)]] =
      mfs.collectFirst { case (s, p) if s == seq => parseManifest(p) }.flatten
    (at(fromSeq), at(toSeq)) match {
      case (Some(before), Some(after))
          if after.size >= before.size && after.take(before.size) == before &&
            !after.drop(before.size).exists(isDeleteEntry) =>
        val added = after.drop(before.size)
        if (dataEntries(added).isEmpty) Some(read(rel).limit(0))
        else Some(readEntries(rel, added))
      case _ => None
    }
  }

  /** Whether `(fromSeq, toSeq]` on `rel` is PROVABLY append-only from
    * manifest history: the fromSeq entry list survives at toSeq as an
    * unchanged PREFIX (overwrite, rollback, and compaction all drop,
    * replace, or reorder entries — and delete application is
    * position-sensitive, so order matters, not just membership), and
    * nothing appended past it is a delete entry. A delete that happened
    * BEFORE fromSeq stays in the prefix and disproves nothing — appended
    * data orders after it and is untouched by it. The proof's consumers
    * ([[appendOnlyDelta]], [[maintainAggView]]'s self-healing refresh)
    * treat a false as "fold nothing incrementally", never as an error.
    */
  private def provablyAppendOnly(rel: Relation, fromSeq: Long,
                                 toSeq: Long): Boolean = {
    val before = entriesAt(rel, fromSeq)
    val after = entriesAt(rel, toSeq)
    after.size >= before.size && after.take(before.size) == before &&
      !after.drop(before.size).exists(isDeleteEntry)
  }

  /** Roll the relation back to committed `seq`: a NEW manifest commit
    * carrying the old commit's entries — metadata-only (no data moves),
    * history stays linear (the bad commit remains in the retained window
    * for audit), and commit-time GC keeps every version dir the new head
    * references. The standard undo for a bad load under snapshot
    * semantics.
    */
  def rollbackTo(rel: Relation, seq: Long): Unit = withRelationLock(rel) {
    val entries = entriesAt(rel, seq)
    commitEntries(rel)(_ => entries)
  }

  /** Zero-copy clone (`dbt clone` / Delta shallow clone): commit a
    * manifest on `dst` whose entries POINT AT the source's current
    * version dirs — absolute paths, which [[listEntries]]' `new
    * Path(parent, child)` resolution already honors — so the clone costs
    * one manifest write whatever the table size. The CI shape this
    * serves: clone prod's relations into a PR schema, then build only
    * the modified models on top.
    *
    * Clone semantics after the fact:
    *  - the clone is PINNED at the source's clone-time state — later
    *    source commits never leak in (their entries aren't referenced);
    *  - writes to the clone land as local version dirs next to the
    *    absolute pointers; overwrites replace the pointers entirely;
    *  - the clone's GC only scans its own directory, so it can never
    *    collect source data — but dropping the SOURCE (or its retention
    *    GC retiring the referenced dirs after [[KeepManifests]] further
    *    commits) breaks the clone's reads, exactly the documented
    *    `VACUUM`-breaks-shallow-clones caveat Delta has. Re-clone or
    *    deep-copy (`writeAtomic(read)`) to outlive the source.
    *
    * An adopted source clones the same way: its entries resolve to its
    * relation dir. A source with no manifest fails as [[read]] does.
    */
  def cloneFrom(srcWh: Warehouse, src: Relation, dst: Relation): Unit =
    withRelationLock(dst) {
      val entries = srcWh.latestManifest(src).map(_._2)
        .getOrElse(throw srcWh.noTable(src))
      val absolute = entries.map { case (v, p) =>
        (new Path(srcWh.mfDir(src), v).toString, p)
      }
      commitEntries(dst, rebuild = true)(_ => absolute)
      invalidateRead(dst)
    }

  /** Adopt a relation dir that an older release wrote as plain parquet:
    * one manifest commit whose entries point at the dir's own files in
    * place — `("..", "")` for a flat dir, one `("..", "k=v/…")` per leaf
    * of a partitioned one. Entries resolve against `_graft/`, so `..` is
    * the relation dir itself, and [[rename]] and [[cloneFrom]] carry them
    * like any other entry. No data file is copied, renamed or rewritten.
    * The commit stamps `built_at_ms` with the dir's modification time, so
    * the TTL clock ([[lastCommitMs]]) keeps the value it had before.
    *
    * Returns false, committing nothing, when the relation already has a
    * manifest or holds no plain data. A dir that mixes flat parquet files
    * with `k=v` dirs, or whose leaves sit at different depths, is refused:
    * no one read can serve both shapes.
    */
  def adopt(rel: Relation): Boolean = withRelationLock(rel) {
    if (latestManifest(rel).isDefined || !legacyHasData(rel)) false
    else {
      val dir = new Path(path(rel))
      val builtAt = fs.getFileStatus(dir).getModificationTime
      def refuse(why: String) =
        throw new IllegalStateException(s"${rel.fqName}: cannot adopt: $why")
      def leaves(d: Path, part: String): Seq[String] = {
        val kids = fs.listStatus(d).toSeq
        val dirs = kids.filter(st =>
          st.isDirectory && st.getPath.getName.contains("="))
        if (dirs.isEmpty) Seq(part)
        else if (kids.exists(st =>
            st.isFile && st.getPath.getName.endsWith(".parquet")))
          refuse(s"$d holds both parquet files and k=v partition dirs")
        else dirs.flatMap { st =>
          val n = st.getPath.getName
          leaves(st.getPath, if (part.isEmpty) n else s"$part/$n")
        }
      }
      val parts = leaves(dir, "").sorted
      if (parts.map(_.count(_ == '/')).distinct.size > 1)
        refuse(s"its partition leaves sit at different depths: " +
          parts.mkString(", "))
      commitEntries(rel, _ + ("built_at_ms" -> builtAt.toString),
        rebuild = true)(_ => parts.map((AdoptedDir, _)))
      invalidateRead(rel)
      true
    }
  }

  /** Newest COMPLETE manifest: (seq, entries). */
  private def latestManifest(rel: Relation): Option[(Long, Seq[(String, String)])] =
    manifestsDescending(rel).iterator
      .flatMap { case (seq, p) => parseManifest(p).map((seq, _)) }
      .nextOption()

  /** The entry list of the newest complete manifest; empty for none. */
  private def currentEntries(rel: Relation): Seq[(String, String)] =
    latestManifest(rel).map(_._2).getOrElse(Nil)

  /** (seq, qualified version dirs of the current manifest's DATA entries)
    * — the scan identity [[graft.plans.AggViewRewrite]] matches against.
    * Mirrors [[readDataEntries]]' basePaths construction exactly, so a
    * full current-manifest read compares equal while a delta read
    * ([[readAppendedBetween]]), a time-traveled read, or a post-delete
    * grouped read (subset basePaths per group) never does — those scans
    * must not be served from a summary view.
    */
  private[graft] def currentManifestState(rel: Relation): Option[(Long, Set[Path])] =
    latestManifest(rel).map { case (seq, entries) =>
      (seq, ManifestFileIndex.qualifyAll(spark,
        dataEntries(entries).map(e => new Path(mfDir(rel), e._1)).toSet))
    }

  /** Newest COMPLETE manifest's metadata map (empty for none). */
  private def latestMeta(rel: Relation): Map[String, String] =
    manifestsDescending(rel).iterator
      .flatMap { case (_, p) => parseManifestMeta(p) }
      .nextOption().getOrElse(Map.empty)

  /** Atomic create-if-absent — the claim primitive under both the
    * manifest CAS and the writer lock. Hadoop's LOCAL FileSystem
    * implements `create(p, overwrite=false)` as check-then-create (two
    * racing threads/processes can both pass the exists check), so the
    * file scheme goes through `O_EXCL` (`CREATE_NEW`) instead; HDFS
    * `create` is namenode-atomic. Object stores are the treacherous
    * case: s3a maps `create(p, false)` to check-then-PUT unless S3
    * conditional writes (If-None-Match) are enabled — the exact
    * non-atomicity the local branch works around — so non-local claims
    * are CLAIM-VERIFIED: after the create succeeds, read the path back
    * and only report the claim won when the surviving bytes are OURS
    * (last-PUT-wins means exactly one racer's bytes survive; bodies are
    * writer-unique — lock tokens and version-dir names embed UUIDs).
    * Deployments should still enable the store's native precondition
    * (S3 conditional writes, GCS `ifGenerationMatch=0`) — claim-verify
    * converts a lost race into a clean false, but only the store-native
    * precondition closes the read-back consistency window entirely.
    * Returns false when the path already exists or the race was lost.
    * The claim (file creation) is what's atomic — a reader that catches
    * the content mid-write must tolerate it (manifests: trailer check;
    * locks: unparsable timestamp → brief retry).
    */
  private[graft] def createExclusive(p: Path, body: Array[Byte]): Boolean = {
    val scheme = Option(p.toUri.getScheme).getOrElse(
      Option(new Path(root).toUri.getScheme).getOrElse("file"))
    if (scheme == "file" && claimFsOverride.isEmpty) {
      try {
        val jp = java.nio.file.Paths.get(p.toUri.getPath)
        java.nio.file.Files.createDirectories(jp.getParent)
        java.nio.file.Files.write(jp, body,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    } else {
      val created =
        try {
          claimFs.mkdirs(p.getParent)
          val out = claimFs.create(p, false)
          try out.write(body) finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      created && {
        try java.util.Arrays.equals(readBytes(claimFs, p).orNull, body)
        catch { case _: java.io.IOException => false }
      }
    }
  }

  /** FileSystem used by the claim primitive — a test seam so a spec can
    * inject a deliberately racy (check-then-create) filesystem and prove
    * claim-verify still converges to one winner. When set, the claim
    * path treats the store as non-local (claim-verify active).
    */
  private[graft] var claimFsOverride: Option[org.apache.hadoop.fs.FileSystem] = None

  private def claimFs: org.apache.hadoop.fs.FileSystem =
    claimFsOverride.getOrElse(fs)

  private def readBytes(fsys: org.apache.hadoop.fs.FileSystem,
                        p: Path): Option[Array[Byte]] =
    try {
      val in = fsys.open(p)
      try Some(org.apache.commons.io.IOUtils.toByteArray(in))
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Atomic claim of manifest `seq` via [[createExclusive]]. Returns
    * false when another writer already holds that seq.
    */
  private def writeManifestIfAbsent(rel: Relation, seq: Long,
                                    entries: Seq[(String, String)],
                                    meta: Map[String, String] = Map.empty): Boolean = {
    require(meta.forall { case (k, v) =>
      !k.contains("\n") && !v.contains("\n") && !k.contains("\t") },
      "manifest metadata keys/values must be line-safe")
    val metaLines = meta.toSeq.sortBy(_._1).map { case (k, v) => s"!$k\t$v" }
    val entryLines = entries.map { case (d, part) => s"$d\t$part" }
    val mid = metaLines ++ entryLines
    val body = ("graftmf1" +: mid)
      .mkString("", "\n", s"\nend ${mid.length}\n")
    createExclusive(manifestPath(rel, seq), body.getBytes("UTF-8"))
  }

  /** Semantics-preserving cleanup applied to every committed entry list:
    * a delete entry subtracts keys only from data entries BEFORE it
    * (position ordering, see [[readWithDeletes]]), so a delete with no
    * earlier data entry is dead weight — typical after an overwrite or a
    * compaction replaced all pre-delete data. Dropping it here unreferences
    * its dir, which retention GC then ages out.
    */
  private def normalizeEntries(es: Seq[(String, String)]): Seq[(String, String)] = {
    var seenData = false
    es.filter { e =>
      if (!isDeleteEntry(e)) { seenData = true; true } else seenData
    }
  }

  /** Optimistic-concurrency commit: transform the current entry list and
    * claim the next seq; a lost race re-reads and reapplies. `f` (and
    * `metaF`, which transforms the carried-forward metadata map) must be
    * pure functions of the previous state. Metadata is carried forward
    * by DEFAULT: a plain data commit must never drop another writer's
    * stream watermarks. `rebuild` marks a commit whose entries replace
    * the relation's whole content (full overwrite, clone).
    */
  private def commitEntries(rel: Relation,
                            metaF: Map[String, String] => Map[String, String] =
                              identity,
                            rebuild: Boolean = false)
                           (f: Seq[(String, String)] => Seq[(String, String)]): Unit = {
    var attempts = 0
    while (attempts < 50) {
      assertLockIntact(path(rel)) // zombie-writer fence (stale-broken lock)
      val maxSeen = manifestsDescending(rel).headOption.map(_._1).getOrElse(0L)
      val latest = latestManifest(rel)
      if (latest.isEmpty) refuseHidingLegacyRows(rel, rebuild)
      val cur = latest.map(_._2).getOrElse(Nil)
      val next = maxSeen + 1
      Warehouse.faultPoint("commit.claim")
      if (writeManifestIfAbsent(rel, next, normalizeEntries(f(cur)),
          metaF(latestMeta(rel)))) {
        Warehouse.faultPoint("commit.committed")
        gcVersions(rel, next); return
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"manifest commit on ${rel.fqName}: lost ${attempts} CAS races — " +
        "pathological writer contention")
  }

  /** Guard for the FIRST commit of a relation, which builds on an empty
    * entry list. Older releases wrote plain parquet dirs and committed by
    * swapping `<rel>__dbt_tmp`/`<rel>__dbt_backup`/`<rel>__dbt_pbackup`
    * siblings. A commit that keeps prior entries (append, merge, delete,
    * metadata) would publish a manifest without the legacy rows and hide
    * them from every reader; only [[adopt]] or a full rebuild may give
    * such a relation its first manifest. A swap sibling left by an
    * interrupted older-release write may hold the only copy of some rows,
    * so it blocks every commit until someone moves it back or deletes it.
    */
  private def refuseHidingLegacyRows(rel: Relation, rebuild: Boolean): Unit = {
    val leftovers = Seq("__dbt_backup", "__dbt_pbackup")
      .map(s => path(rel.suffixed(s))).filter(p => fs.exists(new Path(p)))
    if (leftovers.nonEmpty) throw new IllegalStateException(
      s"${rel.fqName}: ${leftovers.mkString(" and ")}, left by an " +
        "interrupted swap of an older release, may hold the only copy of " +
        s"some rows; move them back into ${path(rel)} or delete the " +
        "leftover, then retry")
    if (!rebuild && legacyHasData(rel)) throw noTable(rel)
  }

  /** New immutable data dir for a write that intends to commit at about
    * `seq` (the embedded number only drives GC ordering; the uuid keeps
    * racing writers' dirs distinct).
    */
  private def newVersionDir(rel: Relation, seq: Long): Path =
    new Path(mfDir(rel),
      f"v$seq%012d-${UUID.randomUUID.toString.take(8)}")

  /** Absolute path of one manifest entry's data. */
  private def entryPath(rel: Relation, e: (String, String)): Path = {
    val vdir = new Path(mfDir(rel), e._1)
    if (e._2.isEmpty) vdir else new Path(vdir, e._2)
  }

  /** Retention GC after committing `latest`: manifests older than the
    * retained window go, then version dirs that are (a) not referenced by
    * any retained manifest and (b) numbered inside the expired window —
    * the numbering guard keeps a racing writer's not-yet-committed dir
    * (always numbered >= the current head) safe from deletion.
    */
  private def gcVersions(rel: Relation, latest: Long): Unit = {
    val cutoff = latest - (KeepManifests - 1)
    val (kept, expired) = manifestsDescending(rel).partition(_._1 >= cutoff)
    expired.foreach { case (_, p) =>
      Warehouse.faultPoint("gc.manifest-delete")
      fs.delete(p, false)
    }
    val referenced = kept.flatMap { case (_, p) =>
      parseManifest(p).getOrElse(Nil).map(_._1)
    }.toSet
    val d = mfDir(rel)
    if (fs.exists(d)) fs.listStatus(d).foreach { st =>
      st.getPath.getName match {
        case VersionName(n) if st.isDirectory &&
          n.toLong < cutoff && !referenced.contains(st.getPath.getName) =>
          Warehouse.faultPoint("gc.vdir-delete")
          fs.delete(st.getPath, true); ()
        case _ => ()
      }
    }
  }

  /** Read of the manifest's entries as ONE scan relation
    * ([[ManifestFileIndex]]): after N partition-scoped merges the manifest
    * references up to N distinct version dirs, and a union-of-version-dirs
    * read would be an N-arm `Union` of N parquet relations — plan size and
    * Catalyst analysis cost growing with merge COUNT, a scale killer for a
    * years-old daily-merge table. The file index hands Spark every leaf
    * file in a single `HadoopFsRelation` with partition values parsed by
    * Spark's own multi-basePath discovery, so partition pruning and file
    * skipping behave exactly like a plain directory read no matter how
    * many versions the data straddles.
    */
  private def readEntries(rel: Relation, entries: Seq[(String, String)]): DataFrame =
    if (!entries.exists(isDeleteEntry)) readDataEntries(rel, entries)
    else readWithDeletes(rel, entries)

  private def readDataEntries(rel: Relation, entries: Seq[(String, String)]): DataFrame = {
    val leaves = listEntries(rel, entries)
    val basePaths = entries.map(e => new Path(mfDir(rel), e._1)).toSet
    val stats = readStats(entries.map(_._1).distinct.map(d => new Path(mfDir(rel), d)))
    ManifestFileIndex.relation(spark, rel.fqName, leaves, basePaths, stats)
  }

  /** Entry-list position gives delete ordering: a delete entry subtracts
    * matching keys from the data entries BEFORE it in the list only, so a
    * row re-appended after its key was deleted survives — a later append's
    * entries land after every existing delete entry. Data entries are
    * grouped by how many deletes precede them (≤ m+1 groups for m delete
    * commits, all sharing the data scan shape), each group anti-joined
    * against its applicable deletes, and the groups unioned. Delete key
    * sets are tiny next to the data — AQE picks broadcast anti-joins — and
    * [[compactTable]]/[[compactPartitions]] materialize deletes away, so m
    * stays small in steady state.
    */
  private def readWithDeletes(rel: Relation,
                              entries: Seq[(String, String)]): DataFrame = {
    val indexed = entries.zipWithIndex
    val dels = indexed.filter(e => isDeleteEntry(e._1)).sortBy(_._2)
    val datas = indexed.filterNot(e => isDeleteEntry(e._1))
    require(datas.nonEmpty,
      s"${rel.fqName}: manifest holds only delete entries — no data to read")
    val delPositions = dels.map(_._2)
    val groups = datas.groupBy { case (_, p) => delPositions.count(_ < p) }
      .toSeq.sortBy(_._1)
    groups.map { case (nBefore, items) =>
      val df = readDataEntries(rel, items.map(_._1))
      dels.drop(nBefore).foldLeft(df) { (acc, del) =>
        antiJoinDelete(rel, acc, del._1._1)
      }
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Subtract one delete dir's keys from `df`. The delete parquet's
    * SCHEMA is the key column list; matching is null-safe (`<=>`), so a
    * null key deletes null-keyed rows — the equality-delete contract.
    * A delete column absent from the data schema is corruption (schema
    * drift after the delete): fail loudly rather than keep everything.
    */
  private def antiJoinDelete(rel: Relation, df: DataFrame,
                             delDir: String): DataFrame = {
    val delDf = spark.read.parquet(new Path(mfDir(rel), delDir).toString)
    val missing = delDf.columns.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"${rel.fqName}: delete entry $delDir keys ${missing.mkString(",")} " +
        s"absent from data schema ${df.columns.mkString(",")}")
    val cond = delDf.columns.map(k => df(k) <=> delDf(k)).reduce(_ && _)
    df.join(delDf, cond, "left_anti")
  }

  /** Merge the [[FileStats]] sidecars of the referenced version dirs for
    * planning-time file skipping. File names embed the write job's UUID,
    * so they are unique across version dirs and a flat merge is safe. One
    * driver read per version dir — bounded by the retained version count,
    * which [[compactPartitions]] keeps small — and a missing or torn
    * sidecar contributes nothing (its files just aren't skipped).
    * `graft.stats.enabled=false` bypasses stats on read as well as write,
    * the kill switch for ruling skipping out of a correctness question.
    */
  private def readStats(vdirs: Seq[Path]): FileStats.PerFile =
    if (spark.conf.getOption("graft.stats.enabled").contains("false")) Map.empty
    else vdirs.foldLeft(Map.empty: FileStats.PerFile) { (acc, d) =>
      // compound key <vdirName>/<dir-relative path>: sidecar keys are
      // relative to their own version dir; the dir-name prefix keeps the
      // flat merge collision-free and matches the scan-side lookup
      FileStats.read(fs, d).fold(acc)(m =>
        acc ++ m.map { case (k, v) => s"${d.getName}/$k" -> v })
    }

  /** The one after-write step of every data commit: list the fresh
    * version dir `vdir` once and open each parquet footer once, then feed
    * three consumers from that pass, all BEFORE the manifest commit (so
    * the sidecars are immutable alongside their data and travel through
    * commits, time travel and GC with the dir):
    *  - the `_graft_stats` sidecar ([[FileStats]]) of per-file column
    *    ranges — `graft.stats.enabled` (default true), at most
    *    [[Warehouse.StatsMaxCols]] columns;
    *  - the `_graft_bloom` sidecar ([[BloomStats]]) on the writer's
    *    `bloomCols`, sized from the footers' record counts;
    *  - the result: the commit's entry paths — the written leaf
    *    partition paths `depth` levels below `vdir`, or the whole dir
    *    (`""`) when `depth` is 0.
    * Both sidecars are best-effort: a failure costs skipping, never the
    * write.
    */
  private def afterWrite(vdir: Path, depth: Int,
                         bloomCols: Seq[String] = Nil): Seq[String] = {
    val files = filesUnder(vdir).filter(_.getPath.getName.endsWith(".parquet"))
    val statsOn = !spark.conf.getOption("graft.stats.enabled").contains("false")
    // bloomCols = per-write request (e.g. snapshot key columns) — an
    // explicit parameter, not a session-conf toggle, so concurrent
    // writes of other relations on the same session are unaffected
    val cols =
      if (spark.conf.getOption("graft.bloom.enabled").contains("false")) Nil
      else bloomCols.distinct
    if (statsOn || cols.nonEmpty) {
      val footers =
        try footersOf(files, if (statsOn) Warehouse.StatsMaxCols else 0)
        catch { case scala.util.control.NonFatal(_) => Nil }
      if (statsOn) try {
        FileStats.write(fs, vdir, footers.collect {
          case (st, _, c) if c.nonEmpty => FileStats.relKey(vdir, st.getPath) -> c
        }.toMap)
      } catch { case scala.util.control.NonFatal(_) => () }
      writeBloomSidecar(vdir, files, footers.map(_._2).sum, cols)
    }
    if (depth == 0) Seq("")
    else files.map(f => FileStats.relKey(vdir, f.getPath.getParent)).distinct
      .filter { p =>
        val segs = p.split("/")
        segs.length == depth && segs.forall(_.contains("="))
      }.sorted
  }

  /** Each parquet file's footer record count and column ranges (none
    * when `maxCols` is 0; see [[FileStats.footer]]), in the order of
    * `files`. Footers are O(KB) metadata regardless of file size: one
    * open per file, in a loop on the driver, with the session's Hadoop
    * conf. No Spark job at any file count: with the read options built
    * from that conf an open costs under a millisecond on the local
    * filesystem, less than a job's scheduling would add per file.
    * Throws when a footer cannot be read.
    */
  private def footersOf(files: Seq[FileStatus], maxCols: Int)
      : Seq[(FileStatus, Long, Map[String, FileStats.Col])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { st =>
      val (n, c) = FileStats.footer(conf, st, maxCols)
      (st, n, c)
    }
  }

  /** Per-entry leaf dirs + their parquet files, in entry order. A
    * whole-dir entry (`part == ""`) of a PARTITIONED write is expanded to
    * its physical leaf dirs first: manifests legitimately mix whole-dir
    * entries (full refresh) with per-partition entries (later scoped
    * merges), and partition discovery needs uniform leaf depth. One
    * listing per leaf, on the driver: a local listing costs well under a
    * millisecond, far less than the Spark job that would carry it.
    */
  private def listEntries(rel: Relation,
                          entries: Seq[(String, String)]): Seq[(Path, Array[FileStatus])] = {
    val fsys = fs
    def expand(d: Path): Seq[Path] = {
      val parts = fsys.listStatus(d).filter(s =>
        s.isDirectory && s.getPath.getName.contains("="))
      if (parts.isEmpty) Seq(d)
      else parts.toSeq.flatMap(s => expand(s.getPath))
    }
    entries.flatMap { e =>
      val dir = entryPath(rel, e)
      // A committed manifest entry whose version dir is GONE is
      // corruption (GC race, external deletion) — FAIL, never silently
      // read the relation minus those rows. A partial committed read
      // served as complete is strictly worse than an error.
      if (!fsys.exists(dir))
        throw new IllegalStateException(
          s"manifest of ${rel.fqName} references missing version dir $dir — " +
            "GC race or corrupted layout; refusing a silent partial read")
      (if (e._2.isEmpty) expand(dir) else Seq(dir)).map { d =>
        (d, fsys.listStatus(d).filter(st =>
          st.isFile && st.getPath.getName.endsWith(".parquet")))
      }
    }
  }

  private def doubleConf(name: String, default: Double): Double =
    spark.conf.getOption(name).map { v =>
      v.toDoubleOption.getOrElse(throw new IllegalArgumentException(
        s"session conf $name must be a number, got '$v'"))
    }.getOrElse(default)

  /** Opt-in point-lookup sidecar ([[BloomStats]]) of [[afterWrite]]:
    * when `cols` is non-empty, one extra scan of the freshly written
    * `files` — planned through [[ManifestFileIndex.relation]], so no
    * schema-inference job — builds a per-column Bloom filter sized to
    * the dir's `rows` (capped at [[Warehouse.BloomMaxItems]], fpp
    * `graft.bloom.fpp`). Best-effort like the range sidecar.
    */
  private def writeBloomSidecar(vdir: Path, files: Seq[FileStatus],
                                rows: Long, cols: Seq[String]): Unit =
    if (cols.nonEmpty && rows > 0) try {
      val df = ManifestFileIndex.relation(spark, vdir.toString,
        files.groupBy(_.getPath.getParent).toSeq.map { case (d, fls) =>
          (d, fls.toArray) },
        Set(vdir))
      BloomStats.write(fs, vdir, BloomStats.build(df, cols,
        math.min(rows, Warehouse.BloomMaxItems),
        doubleConf("graft.bloom.fpp", 0.05)))
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Plain-layout data at the relation root: a table an older release
    * wrote before the manifest protocol, served once [[adopt]]ed.
    */
  private def legacyHasData(rel: Relation): Boolean = {
    val p = new Path(path(rel))
    fs.exists(p) && fs.listStatus(p).exists(st =>
      (st.isFile && st.getPath.getName.endsWith(".parquet")) ||
        (st.isDirectory && st.getPath.getName.contains("=")))
  }

  // ==================================================== per-relation lock

  /** Run `body` holding the relation's writer lock: an atomic
    * create-if-absent lock FILE next to the relation dir, stale-broken by
    * age (`graft.lock.stale.ms`, default 30 min — a crashed writer must
    * not wedge the warehouse forever), reentrant within a thread. While
    * held, a daemon heartbeat re-writes the holder timestamp every
    * `stale.ms / 3`, so a LIVE writer whose data write outlives the stale
    * threshold — routine for a 100 TB full refresh — is never broken;
    * stale-break only ever fires on a holder whose heartbeat stopped
    * (crashed process / dead JVM). The lock serializes read-modify-write
    * cycles (merge reads the target it is about to replace); physical
    * commit atomicity never depends on it — the manifest CAS provides it.
    */
  def withRelationLock[T](rel: Relation)(body: => T): T = {
    val key = path(rel)
    val held = Warehouse.heldLocks.get()
    if (held.contains(key)) body
    else {
      val token = acquireLock(key)
      held.update(key, token)
      try body
      finally { held.remove(key); releaseLock(key, token) }
    }
  }

  private def lockFile(key: String) = new Path(key + ".lock")

  /** Live heartbeat threads, keyed by lock path. */
  private val lockHeartbeats =
    new java.util.concurrent.ConcurrentHashMap[String, Thread]

  /** Lock paths whose heartbeat observed the lock stale-broken while this
    * writer was still alive (clock skew beyond `graft.lock.stale.ms`, a
    * long GC/VM pause, or heartbeat writes failing long enough for a
    * waiter to break in). Best-effort FENCE: the commit paths consult
    * this before publishing, so a zombie writer aborts loudly instead of
    * racing the new holder's commit. */
  private val lostLocks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Throw if this thread thinks it holds `key` but the heartbeat saw the
    * lock broken — committing now would interleave with the new holder. */
  private def assertLockIntact(key: String): Unit =
    if (Warehouse.heldLocks.get().contains(key) && lostLocks.contains(key))
      throw new IllegalStateException(
        s"relation lock on $key was stale-broken while this writer was " +
          "alive (clock skew or a long pause) — aborting the publish " +
          "instead of racing the new lock holder")

  private def lockStaleMs: Long =
    sys.props.getOrElse("graft.lock.stale.ms", "1800000").toLong

  private def readLockContent(p: Path): Option[String] =
    readBytes(fs, p).map(new String(_, "UTF-8"))

  /** Overwrite-in-place of a lock file this writer already owns (the
    * heartbeat refresh). Plain overwrite is safe here: only the owner
    * refreshes, and waiters tolerate a torn read as "unparsable → brief
    * retry".
    */
  private def overwriteLock(p: Path, body: String): Unit = {
    val scheme = Option(p.toUri.getScheme).getOrElse(
      Option(new Path(root).toUri.getScheme).getOrElse("file"))
    if (scheme == "file") {
      java.nio.file.Files.write(java.nio.file.Paths.get(p.toUri.getPath),
        body.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
        java.nio.file.StandardOpenOption.WRITE)
      ()
    } else {
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Lease heartbeat: refresh the held lock's timestamp every
    * `stale.ms / 3` (three missed beats before anyone may break us). The
    * thread stops itself if the lock no longer carries our token — the
    * anomalous already-lost case; refreshing then would clobber the new
    * holder's lock.
    */
  private def startLockHeartbeat(key: String, token: String,
                                 staleMs: Long): Unit = {
    val p = lockFile(key)
    val interval = math.max(staleMs / 3, 10L)
    val t = new Thread(() => {
      try {
        var live = true
        while (live) {
          Thread.sleep(interval)
          readLockContent(p) match {
            case Some(s) if s.startsWith(token) =>
              try overwriteLock(p, s"$token ${System.currentTimeMillis}")
              catch { case _: java.io.IOException => () } // retry next beat
            case _ =>
              System.err.println(
                s"[graft] lock heartbeat on $key: lock no longer ours — " +
                  "stale-broken while alive? stopping refresh")
              lostLocks.add(key) // fence: commit paths abort (assertLockIntact)
              live = false
          }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lock-heartbeat-${token.take(8)}")
    t.setDaemon(true)
    t.start()
    lockHeartbeats.put(key, t)
    ()
  }

  private def acquireLock(key: String): String = {
    val token = UUID.randomUUID.toString
    val timeoutMs = sys.props.getOrElse("graft.lock.timeout.ms", "120000").toLong
    val staleMs = lockStaleMs
    val deadline = System.currentTimeMillis + timeoutMs
    val p = lockFile(key)
    while (true) {
      val claimed = createExclusive(p,
        s"$token ${System.currentTimeMillis}".getBytes("UTF-8"))
      if (claimed) {
        lostLocks.remove(key) // a fresh claim resets any prior fence
        startLockHeartbeat(key, token, staleMs); return token
      }
      // stale detection: a holder whose heartbeat stopped leaves an aging
      // timestamp behind
      val content = readLockContent(p)
      val ts = content.flatMap(_.split(" ").lift(1)).flatMap(_.toLongOption)
      ts match {
        case Some(t) if System.currentTimeMillis - t > staleMs =>
          // Atomic break: RENAME the stale lock aside before deleting.
          // A blind delete lets two waiters both observe staleness, one
          // delete-and-claim, and the second delete the FIRST's fresh
          // claim — two live holders. Rename can only succeed for one
          // breaker; after parking, re-verify the parked content is the
          // stale lock observed (not a fresh claim that slid in between
          // read and rename) and restore it if not.
          val parked = new Path(p.getParent,
            p.getName + s".brk-${UUID.randomUUID.toString.take(8)}")
          val renamed = try fs.rename(p, parked)
                        catch { case _: java.io.IOException => false }
          if (renamed) {
            val parkedContent = readLockContent(parked)
            if (parkedContent == content) { fs.delete(parked, false); () }
            else {
              // a fresh lock slid in: put it back; if the slot was
              // re-claimed meanwhile this is a double fault — log loudly,
              // the parked holder's heartbeat will notice and stop
              if (!fs.rename(parked, p))
                System.err.println(
                  s"[graft] lock break race on $key: parked a fresh lock " +
                    s"and could not restore it (left at $parked)")
            }
          }
        case None if !fs.exists(p) => () // released between claim and read
        case _ => Thread.sleep(50)
      }
      if (System.currentTimeMillis > deadline)
        throw new IllegalStateException(
          s"writer lock on $key: not acquired within ${timeoutMs}ms " +
            s"(holder alive? stale threshold ${staleMs}ms)")
    }
    token // unreachable
  }

  private def releaseLock(key: String, token: String): Unit = {
    // stop the lease refresh first: a beat between release-read and
    // release-delete would resurrect the file
    Option(lockHeartbeats.remove(key)).foreach { t =>
      t.interrupt()
      try t.join(2000) catch { case _: InterruptedException => () }
    }
    val p = lockFile(key)
    // Atomic release: rename our lock aside, verify the parked bytes are
    // OURS, then delete. The old read-check-delete had a window where the
    // lock could be stale-broken and re-acquired between our read and our
    // delete — the delete then freed ANOTHER writer's lock. Rename makes
    // the claim-to-delete exclusive: only one party can move the file.
    val parked = new Path(p.getParent, p.getName + s".rel-${token.take(8)}")
    try {
      if (!fs.rename(p, parked)) return // already broken and freed
      val s = readLockContent(parked)
      if (s.exists(_.startsWith(token))) { fs.delete(parked, false); () }
      else {
        // not ours — with the heartbeat this needs a double fault to
        // reach; restore the rightful holder's lock and log loudly
        if (!fs.rename(parked, p))
          System.err.println(
            s"[graft] lock release race on $key: parked another writer's " +
              s"lock and could not restore it (left at $parked)")
        else
          System.err.println(
            s"[graft] lock release on $key: lock was not ours (stale-" +
              "broken while alive?) — restored the current holder's lock")
      }
    } catch { case _: java.io.IOException => () }
  }

  // ========================================================== write paths

  /** Shuffle rows to their partition value before a partitioned write:
    * without it every upstream task writes a file into EVERY partition dir
    * it touches — tasks × partitions small files, the classic partitioned-
    * write explosion at scale. After alignment each partition value lands
    * in one task → one file. (A pathologically huge single partition would
    * want an extra salt column for multiple writers; that's the caller's
    * skew decision, not the default.)
    */
  private def partitionAligned(df: DataFrame, partitionCols: Seq[String]): DataFrame =
    if (partitionCols.isEmpty) df
    else df.repartition(partitionCols.map(df.col): _*)

  /** Output-file sizing for UNPARTITIONED writes: a rebalance shuffle
    * that AQE sizes to `advisoryPartitionSizeInBytes` — one file per
    * advisory chunk instead of one per upstream task. Without it a write
    * inherits the source parallelism: a control-plane frame (stats rows,
    * codebooks, df tables) lands as `defaultParallelism` near-empty
    * files, each paying task launch + footer + stats-sidecar + listing
    * cost on every later read — and a big frame can just as easily land
    * as too FEW giant files. The partitioned paths already shuffle via
    * [[partitionAligned]] (an AQE-coalescible exchange), so this covers
    * only the unpartitioned branch.
    *
    * Scoped to frames that actually NEED it — an unconditional rebalance
    * measured as a net LOSS (+0.15–0.25 s per write across the o_*
    * engine-model writes, ~+6 s on the suite): most write inputs either
    * already contain a shuffle (whose output AQE coalescing has already
    * sized) or are a single-split scan, and re-exchanging those is pure
    * overhead. So the rebalance applies only when the plan is
    * SHUFFLE-FREE end to end (no aggregate/join/window/distinct/global
    * sort/set-op — nothing for AQE to size), fans out over more than a
    * handful of partitions, and the per-partition estimate is far below
    * the advisory chunk (the shredded-output signature: parallelized
    * local data, many-tiny-file scans). A frame already ENDING in an
    * explicit distribution (repartition/repartitionByRange/coalesce,
    * optionally under a partition-local sort) is the caller declaring its
    * own layout and is never touched.
    */
  private def sizedForWrite(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val opt = df.queryExecution.optimizedPlan
    def explicitlyDistributed(p: LogicalPlan): Boolean = p match {
      case _: RepartitionOperation => true
      case _: RebalancePartitions => true
      case s: Sort if !s.global => explicitlyDistributed(s.child)
      case pr: Project => explicitlyDistributed(pr.child)
      case _ => false
    }
    if (explicitlyDistributed(df.queryExecution.logical)) return df
    // Never reorder a frame that carries FLOATING-POINT columns (the
    // rebalance is a perf measure and must not become a correctness
    // trade): a rebalance changes row order, and the only way row order
    // can reach an observable result
    // in this engine is through an order-sensitive float accumulation
    // downstream — the r18 10× sweep caught round(sum(double),2)
    // flipping a last-ulp rounding boundary when a staged table's rows
    // were re-dealt. A DETERMINISTIC reorder does not fix this: round 19
    // re-tried the float frames with a canonical layout (REBALANCE on
    // all columns + sortWithinPartitions on all columns — row order a
    // pure function of the data) and the 10× sweep reproduced the
    // identical flip (o_dbt_native_project, …044.6 vs oracle …044.59):
    // the hazard is not nondeterminism but ANY order other than the
    // arrival order the oracle's sequential sum happens to agree with
    // at 1e11 magnitudes. Integer, string, decimal and boolean frames
    // are order-free by construction and stay eligible.
    def hasFloat(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case DoubleType | FloatType => true
        case ArrayType(e, _) => hasFloat(e)
        case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
        case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
        case _ => false
      }
    }
    if (df.schema.fields.exists(f => hasFloat(f.dataType))) return df
    val shuffles = opt.exists {
      case _: Aggregate | _: Join | _: Window | _: Distinct => true
      case s: Sort => s.global
      case _: RepartitionOperation | _: RebalancePartitions => true
      case _: Intersect | _: Except => true
      case _ => false
    }
    if (shuffles) return df
    // partition count from the INTERNAL-row RDD: the plan is shuffle-free
    // (guarded above), so this is pure planning — and unlike `df.rdd` it
    // skips building the external-row deserializer chain, which at
    // hundreds of small writes per suite run was measurable driver time
    val nParts = df.queryExecution.toRdd.getNumPartitions
    val advisory = spark.sessionState.conf.getConfString(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    val advisoryBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(advisory)
    val tiny = opt.stats.sizeInBytes / math.max(1, nParts) <
      advisoryBytes / 8
    if (nParts > 4 && tiny) df.hint("rebalance") else df
  }

  private def clusteredWriter(df: DataFrame, partitionCols: Seq[String],
                              clusterCols: Seq[String],
                              zorderCols: Seq[String] = Nil,
                              layoutWhen: Option[Column] = None): DataFrame = {
    require(clusterCols.isEmpty || zorderCols.isEmpty,
      "cluster_by and zorder_by are mutually exclusive layouts")
    if (zorderCols.nonEmpty) {
      // unpartitioned: the z-curve IS the distribution — range-shuffle on
      // the interleaved key so each write task owns a contiguous region.
      // partitioned: rows stay aligned to their dirs; z-sort within.
      if (partitionCols.isEmpty)
        ZOrder.layout(df, zorderCols,
          spark.conf.getOption("graft.zorder.partitions").map(_.toInt))
      else ZOrder.sortOnly(partitionAligned(df, partitionCols), zorderCols,
        layoutWhen)
    } else {
      val aligned =
        if (partitionCols.isEmpty) sizedForWrite(df)
        else partitionAligned(df, partitionCols)
      if (clusterCols.nonEmpty) {
        // scoped layout: rows outside `layoutWhen` take NULL sort keys —
        // they skip the comparison work and keep arrival order, while
        // in-scope rows (per dir, thanks to the alignment) sort exactly
        // as in the unconditional path
        val keys = clusterCols.map(aligned.col)
        val sortCols = layoutWhen
          .map(p => keys.map(k => when(p, k))).getOrElse(keys)
        aligned.sortWithinPartitions(sortCols: _*)
      } else aligned
    }
  }

  /** CTAS + atomic commit (`materialization_table_default` @125935).
    *
    * The dataframe may READ FROM `rel` itself (incremental/snapshot
    * rewrites): the plan materializes fully into the new version dir
    * before the commit, so read-modify-write on one relation is safe.
    */
  def writeAtomic(df: DataFrame, rel: Relation,
                  partitionCols: Seq[String] = Nil,
                  clusterCols: Seq[String] = Nil,
                  zorderCols: Seq[String] = Nil,
                  bloomCols: Seq[String] = Nil): Unit = withRelationLock(rel) {
    overwriteManifest(df, rel, partitionCols, clusterCols, zorderCols,
      identity, bloomCols)
  }

  /** Full overwrite with a metadata transform applied in
    * the SAME commit — the primitive behind [[writeAtomic]] (identity
    * meta) and [[maintainAggView]] (checkpoint rides the rewrite).
    * Caller holds the relation lock. The plan materializes fully into
    * the new version dir before the commit, so `df` may read `rel`.
    */
  private def overwriteManifest(df: DataFrame, rel: Relation,
                                partitionCols: Seq[String],
                                clusterCols: Seq[String],
                                zorderCols: Seq[String],
                                metaF: Map[String, String] => Map[String, String],
                                bloomCols: Seq[String] = Nil): Unit = {
    val vdir = newVersionDir(rel,
      manifestsDescending(rel).headOption.map(_._1).getOrElse(0L) + 1)
    val writer = clusteredWriter(df, partitionCols, clusterCols, zorderCols)
      .write.mode("overwrite")
    val w2 = if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
             else writer
    writeVersionDir(w2, vdir)
    Warehouse.faultPoint("mf.overwrite.data-written")
    val parts = afterWrite(vdir, partitionCols.length, bloomCols)
    val entries = (if (parts.isEmpty) Seq("") else parts)
      .map(p => (vdir.getName, p))
    // stamp the REBUILD instant: `hours_to_expiration` measures from the
    // last full rebuild (BigQuery resets expiration_timestamp on CREATE
    // OR REPLACE, and DML never extends it) — without the stamp, every
    // later append/expiry commit would reset the clock via manifest
    // mtime and a table with regular appends could never expire
    commitEntries(rel, metaF.andThen(
      _ + ("built_at_ms" -> System.currentTimeMillis().toString)),
      rebuild = true)(_ => entries)
  }

  /** Append without touching existing files (merge `ON FALSE` append-only
    * path, reference `default__get_merge_sql` @89014 when no unique_key):
    * a new version dir and a manifest whose prior entries are untouched —
    * a partition's rows may span several version dirs until
    * [[compactPartitions]] consolidates them.
    */
  def append(df: DataFrame, rel: Relation, partitionCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil): Unit =
    withRelationLock(rel) {
      appendVersionDir(df, rel, partitionCols, bloomCols = bloomCols)
    }

  /** Exactly-once streaming ingestion watermark: the highest batch id of
    * `sourceId` whose rows are COMMITTED in this relation, or None if the
    * source has never committed. The watermark is a metadata line in the
    * manifest itself, so it becomes visible in exactly the same CAS
    * commit as the batch's entry list — there is no window where the
    * data is in but the marker is not (or vice versa), which is the
    * whole exactly-once argument. Carried forward by every other commit.
    */
  def streamWatermark(rel: Relation, sourceId: String): Option[Long] =
    latestMeta(rel).get(s"stream.$sourceId").map(_.toLong)

  /** All committed stream watermarks of a relation (sourceId → batchId). */
  def streamWatermarks(rel: Relation): Map[String, Long] =
    latestMeta(rel).collect {
      case (k, v) if k.startsWith("stream.") =>
        k.stripPrefix("stream.") -> v.toLong
    }

  /** Fold stream watermarks into `rel`'s manifest in one metadata-only
    * commit, max-merged with any already present. Used when a
    * generation swap re-homes a streamed relation (VectorIndex.refit):
    * the successor relation must inherit the predecessor's replay
    * watermarks, or a checkpoint restart after the swap would replay its
    * last batch as new rows. Call AFTER the successor's first data
    * write (a metadata-only manifest on an empty relation has no schema
    * to recover).
    */
  def carryStreamWatermarks(rel: Relation, marks: Map[String, Long]): Unit =
    withRelationLock(rel) {
      if (marks.nonEmpty)
        commitEntries(rel, m => marks.foldLeft(m) { case (acc, (s, b)) =>
          val key = s"stream.$s"
          val merged = math.max(b,
            acc.get(key).map(_.toLong).getOrElse(Long.MinValue))
          acc + (key -> merged.toString)
        })(identity)
    }

  /** Idempotent micro-batch append — the `foreachBatch` sink body for
    * Structured Streaming ingestion. Returns
    * false (and writes NOTHING) when `batchId` is at or below the
    * committed watermark: after a crash-and-restart, Spark re-delivers
    * the last batch from the checkpoint, and this is what makes the
    * replay a no-op instead of duplicate rows. Batch ids per source must
    * be monotonically increasing — exactly what `foreachBatch` provides.
    * The orphaned version dir of a writer that crashed BETWEEN data
    * write and manifest commit is invisible to readers and swept by GC,
    * so the replayed batch re-writes cleanly.
    */
  def appendStreamBatch(df: DataFrame, rel: Relation, sourceId: String,
                        batchId: Long,
                        partitionCols: Seq[String] = Nil): Boolean =
    withRelationLock(rel) {
      require(!sourceId.contains("\t") && !sourceId.contains("\n"),
        s"stream source id must be line-safe: $sourceId")
      if (streamWatermark(rel, sourceId).exists(_ >= batchId)) false
      else {
        appendVersionDir(df, rel, partitionCols,
          m => m + (s"stream.$sourceId" -> batchId.toString))
        true
      }
    }

  /** Shared append body: write `df` into a fresh version
    * dir, then CAS-commit its entries appended to the previous list,
    * with `metaF` applied to the carried-forward metadata in the SAME
    * commit. Caller holds the relation lock.
    */
  private def appendVersionDir(df: DataFrame, rel: Relation,
                               partitionCols: Seq[String],
                               metaF: Map[String, String] => Map[String, String] =
                                 identity,
                               bloomCols: Seq[String] = Nil): Unit = {
    val vdir = newVersionDir(rel,
      manifestsDescending(rel).headOption.map(_._1).getOrElse(0L) + 1)
    val sized =
      if (partitionCols.isEmpty) sizedForWrite(df)
      else partitionAligned(df, partitionCols)
    val writer = sized.write.mode("overwrite")
    val w2 = if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
             else writer
    writeVersionDir(w2, vdir)
    Warehouse.faultPoint("mf.append.data-written")
    val parts = afterWrite(vdir, partitionCols.length, bloomCols)
    val entries = (if (parts.isEmpty) Nil else parts)
      .map(p => (vdir.getName, p))
    commitEntries(rel, metaF)(_ ++ entries)
  }

  /** The source-manifest seq this consumer has fully processed INTO
    * `rel`, or None for a consumer that has never committed. Stored as
    * manifest metadata of the DOWNSTREAM table — the offset commits in
    * the same CAS write as the rows derived from it (Kafka-style
    * "offsets live with the output" exactly-once).
    */
  def consumerCheckpoint(rel: Relation, consumerId: String): Option[Long] =
    latestMeta(rel).get(s"consumer.$consumerId").map(_.toLong)

  /** (rel's newest committed seq, the consumer checkpoint THAT commit
    * carries) — both parsed from the SAME manifest file, so a caller can
    * pin a read of `rel` ([[readAt]] at the returned seq) that is
    * guaranteed consistent with the checkpoint it based a decision on.
    * [[AggViewRewrite]] needs exactly this: checkpoint and view data read
    * separately race a concurrent [[maintainAggView]] commit — a view
    * that already folded the delta must not be unioned with that delta
    * again. None when `rel` has no complete manifest.
    */
  private[graft] def pinnedConsumerState(rel: Relation, consumerId: String)
      : Option[(Long, Option[Long])] =
    manifestsDescending(rel).iterator.flatMap { case (seq, p) =>
      parseManifest(p).map { _ =>
        (seq, parseManifestMeta(p).getOrElse(Map.empty)
          .get(s"consumer.$consumerId").map(_.toLong))
      }
    }.nextOption()

  /** Exactly-once incremental table-to-table pipeline step: read only
    * the rows `src` gained since this consumer's last committed
    * checkpoint, apply `transform`, and append the result to `dst` with
    * the new checkpoint (src's pinned head seq) committed ATOMICALLY in
    * the same manifest write. Returns the seq now checkpointed, or None
    * when src has nothing new — so a scheduler can run this every few
    * minutes and each run costs O(new data), never O(corpus): at 100 TB
    * the difference between an incremental pipeline and a daily rescan.
    *
    * Crash safety is the [[appendStreamBatch]] argument: dying between
    * the data write and the commit leaves an orphaned version dir no
    * reader sees (GC sweeps it); the rerun re-reads the SAME delta
    * because the checkpoint only advances with the commit. First run
    * (no checkpoint) processes the full src snapshot at its pinned seq.
    * `transform` must be row-local (filter/project/enrich) for
    * append-into-dst to equal transform-of-whole-src; aggregating
    * consumers should write to a dedicated dst and recompute group
    * state downstream. A checkpoint older than src's retained manifest
    * window fails loudly (readAppendedBetween) rather than silently
    * skipping rows — size `KeepManifests` retention to cover the
    * longest consumer outage, or full-refresh dst.
    */
  def processIncrement(src: Relation, dst: Relation, consumerId: String,
                       partitionCols: Seq[String] = Nil)
                      (transform: DataFrame => DataFrame): Option[Long] =
    withRelationLock(dst) {
      require(!consumerId.contains("\t") && !consumerId.contains("\n"),
        s"consumer id must be line-safe: $consumerId")
      // pin src's head ONCE: everything below reads the entries of this
      // seq, so a concurrent src commit mid-run cannot tear the delta
      val srcSeq = latestManifest(src).map(_._1).getOrElse(0L)
      val from = consumerCheckpoint(dst, consumerId)
      // a checkpoint AHEAD of the head means the source was dropped and
      // recreated (seqs restarted) — "nothing new" forever would silently
      // wedge the consumer on the rebuilt source's data
      from.filter(_ > srcSeq).foreach(p => throw new IllegalStateException(
        s"consumer '$consumerId' checkpoint $p is ahead of ${src.fqName}'s " +
          s"head $srcSeq — the source was dropped and recreated; rebuild " +
          "the consumer (or clear its checkpoint) before resuming"))
      if (srcSeq == 0L || from.exists(_ >= srcSeq)) None
      else {
        val delta = from match {
          case None    => readAt(src, srcSeq)
          case Some(p) => readAppendedBetween(src, p, srcSeq)
        }
        appendVersionDir(transform(delta), dst, partitionCols,
          m => m + (s"consumer.$consumerId" -> srcSeq.toString))
        Some(srcSeq)
      }
    }

  /** Incrementally-maintained aggregate view — the AGGREGATING consumer
    * [[processIncrement]] rules out (its transform must be row-local).
    * Maintains `dst` = `src` grouped by `keyCols` with `aggs`, each run
    * folding only the delta: partial-aggregate the new rows, merge with
    * the current view state by key, and commit the rewritten view WITH
    * the consumer checkpoint in the same CAS write ([[overwriteManifest]]
    * — crash-replays re-fold the same delta onto the same view state,
    * exactly-once without idempotency assumptions on the aggregates).
    * Per-run cost is O(delta + view size), never O(source): at 100 TB
    * the view (one row per key group) is orders of magnitude smaller
    * than the corpus it summarizes, which is the whole point — reading
    * the 1 GB view plus today's 10 GB delta instead of rescanning 100
    * TB. `partitionCols` (⊆ keyCols) partitions large views.
    *
    * `aggs` are (alias, fn, col) with fn ∈ count|sum|min|max — the
    * decomposable set whose partials merge losslessly (count folds by
    * sum; avg = maintain sum and count, divide on read). `col = "*"`
    * counts rows. The incremental fold applies only when the
    * checkpoint→head range is provably append-only from manifest
    * history ([[provablyAppendOnly]]); after an overwrite, rollback,
    * compaction, or delete on the source the run SELF-HEALS with a full
    * recompute of the current snapshot (which also retracts min/max
    * correctly) and incremental folding resumes on the next append-only
    * run. Returns the newly checkpointed src seq, or None when src has
    * nothing new.
    */
  def maintainAggView(src: Relation, dst: Relation, consumerId: String,
                      keyCols: Seq[String],
                      aggs: Seq[(String, String, String)],
                      partitionCols: Seq[String] = Nil): Option[Long] =
    withRelationLock(dst) {
      require(!consumerId.contains("\t") && !consumerId.contains("\n"),
        s"consumer id must be line-safe: $consumerId")
      require(keyCols.nonEmpty, "maintainAggView requires group keys")
      require(aggs.nonEmpty, "maintainAggView requires aggregates")
      val fns = Set("count", "sum", "min", "max")
      aggs.foreach { case (alias, fn, _) =>
        require(fns.contains(fn),
          s"agg fn '$fn' (alias $alias) not decomposable; supported: $fns")
        require(!keyCols.contains(alias), s"agg alias $alias collides with a key")
      }
      require(aggs.map(_._1).distinct.size == aggs.size, "duplicate agg aliases")
      import org.apache.spark.sql.functions.{col => c, count, sum, min, max, lit}
      val srcSeq = latestManifest(src).map(_._1).getOrElse(0L)
      val from = consumerCheckpoint(dst, consumerId)
      // a checkpoint AHEAD of the head means the source was dropped and
      // recreated (seqs restarted) — "nothing new" forever would silently
      // wedge the consumer on the rebuilt source's data
      from.filter(_ > srcSeq).foreach(p => throw new IllegalStateException(
        s"consumer '$consumerId' checkpoint $p is ahead of ${src.fqName}'s " +
          s"head $srcSeq — the source was dropped and recreated; rebuild " +
          "the consumer (or clear its checkpoint) before resuming"))
      if (srcSeq == 0L || from.exists(_ >= srcSeq)) None
      else {
        // Self-healing refresh: the incremental fold is only sound when
        // the checkpoint→head range PROVABLY appended (an overwrite,
        // rollback, compaction, or delete on the source would make
        // changed rows surface as additions and double-count — or
        // silently under-count after deletes). When the manifest history
        // disproves append-only-ness, rebuild the view from the current
        // snapshot instead: O(source) once, correct always — the
        // incremental path resumes at the next append-only run.
        val incremental =
          from.exists(p => provablyAppendOnly(src, p, srcSeq))
        val delta = from match {
          case Some(p) if incremental => readAppendedBetween(src, p, srcSeq)
          case _ => readAt(src, srcSeq)
        }
        val partialExprs = aggs.map {
          case (alias, "count", "*")  => count(lit(1)).as(alias)
          case (alias, "count", colN) => count(c(colN)).as(alias)
          case (alias, "sum", colN)   => sum(c(colN)).as(alias)
          case (alias, "min", colN)   => min(c(colN)).as(alias)
          case (alias, "max", colN)   => max(c(colN)).as(alias)
        }
        val partial = delta.groupBy(keyCols.map(c): _*)
          .agg(partialExprs.head, partialExprs.tail: _*)
        // merge partials into the view state: counts FOLD BY SUM, the
        // rest by their own fn (sum/min/max are associative-commutative)
        val combineExprs = aggs.map {
          case (alias, "count", _) => sum(c(alias)).as(alias)
          case (alias, "sum", _)   => sum(c(alias)).as(alias)
          case (alias, "min", _)   => min(c(alias)).as(alias)
          case (alias, "max", _)   => max(c(alias)).as(alias)
        }
        val newView =
          if (from.isEmpty || !incremental || !exists(dst)) partial
          else read(dst).unionByName(partial)
            .groupBy(keyCols.map(c): _*)
            .agg(combineExprs.head, combineExprs.tail: _*)
        overwriteManifest(newView, dst, partitionCols, Nil, Nil,
          m => m + (s"consumer.$consumerId" -> srcSeq.toString))
        Some(srcSeq)
      }
    }

  /** Metadata-only commit: merge `kvs` into the carried-forward manifest
    * metadata without touching the entry list. Used by idempotent
    * appliers (CDC) that mark a batch AFTER its data commit: unlike
    * [[appendStreamBatch]] (a non-idempotent append, whose marker must
    * ride the data commit), an idempotent apply tolerates the crash
    * window between data and marker — the replay re-applies to the same
    * result, then re-marks.
    */
  def commitMeta(rel: Relation, kvs: Map[String, String]): Unit =
    withRelationLock(rel) {
      commitEntries(rel, m => m ++ kvs)(identity)
    }

  /** Row-level EQUALITY DELETE without rewriting a single data file — the
    * GDPR/right-to-be-forgotten shape: deleting 0.001% of a 100 TB table
    * must not cost a 100 TB rewrite. `keys` (distinct-ed here) is written
    * as a small parquet version dir and committed as a `!del` entry whose
    * schema IS the key column list; every read anti-joins it against the
    * data entries committed BEFORE it (entry-list position, see
    * [[readWithDeletes]]), so rows re-appended after the delete survive.
    * Matching is null-safe (`<=>`). The delete rides the ordinary CAS
    * commit — atomic, snapshot-isolated, time-travelable (a pre-delete
    * seq still shows the rows) — and is physically materialized the next
    * time [[compactTable]]/[[compactPartitions]] rewrites the data.
    * Returns the number of distinct delete keys committed (0 = no
    * commit). Key columns must exist in the table schema. NOTE: this is
    * logical deletion at read level; the bytes remain on disk until a
    * compaction rewrite + retention GC age out the old dirs — compliance
    * deletion must run compaction + [[expireSnapshots]] afterwards.
    */
  def deleteKeys(rel: Relation, keys: DataFrame): Long = withRelationLock(rel) {
    val schema = schemaOf(rel).fieldNames.toSet
    val missing = keys.columns.filterNot(schema.contains)
    require(keys.columns.nonEmpty && missing.isEmpty,
      s"delete keys ${missing.mkString(",")} not in ${rel.fqName} schema")
    val distinctKeys = keys.distinct()
    val vdir = newVersionDir(rel,
      manifestsDescending(rel).headOption.map(_._1).getOrElse(0L) + 1)
    writeVersionDir(distinctKeys.write.mode("overwrite"), vdir)
    Warehouse.faultPoint("mf.delete.keys-written")
    val n = footerRowsOf(filesUnder(vdir))
    if (n == 0L) { fs.delete(vdir, true); 0L }
    else {
      commitEntries(rel)(_ :+ (vdir.getName, DeleteMarker))
      n
    }
  }

  /** [[deleteKeys]] driven by a predicate: deletes EVERY row whose
    * `keyCols` tuple matches any row satisfying `cond` — the predicate
    * selects keys, and the delete is by key (so a condition on non-key
    * columns removes all rows sharing the matched keys; for exact
    * predicate deletion make `keyCols` the full row identity).
    */
  def deleteWhere(rel: Relation, cond: org.apache.spark.sql.Column,
                  keyCols: Seq[String]): Long =
    deleteKeys(rel,
      read(rel).filter(cond).select(keyCols.map(org.apache.spark.sql.functions.col): _*))

  /** Small-file compaction for an UNPARTITIONED manifest table — the
    * partitioned sibling is [[compactPartitions]]. Streaming ingestion
    * ([[appendStreamBatch]]) and incremental consumers commit one
    * version dir per batch; past `maxEntries` dirs this rewrites the
    * whole table into one fresh version dir and commits it as the sole
    * entry (metadata — watermarks, checkpoints — carried forward, so
    * compaction can never reopen the exactly-once dedup door). Output
    * file granularity comes from the SCAN's bin-packing: Spark packs
    * the small inputs into ~`maxPartitionBytes` splits and each task
    * writes one file — no extra shuffle, right-sized files at any
    * scale. Old dirs stay until retention GC ages them out, so
    * in-flight snapshot readers are never yanked. Returns true when a
    * rewrite happened.
    *
    * `zorderCols` re-clusters while compacting (the OPTIMIZE … ZORDER BY
    * shape): a stream of appends arrives in TIME order, so point/range
    * predicates on content keys plan every batch dir; the compaction is
    * the one moment the whole table rewrites anyway, and layering the
    * z-curve on it makes the per-file min/max + bloom sidecars selective
    * for free. Costs one range exchange on the interleaved key (vs none
    * plain) — the explicit trade for skippable files.
    */
  def compactTable(rel: Relation, maxEntries: Int = 8,
                   zorderCols: Seq[String] = Nil): Boolean =
    withRelationLock(rel) {
      val cur = currentEntries(rel)
      // delete entries force a rewrite regardless of dir count: compaction
      // is also how equality deletes get physically materialized
      if (cur.map(_._1).distinct.size <= maxEntries &&
          !cur.exists(isDeleteEntry)) false
      else {
        require(dataEntries(cur).forall(_._2.isEmpty),
          s"${rel.fqName} has partitioned entries; use compactPartitions")
        val vdir = newVersionDir(rel,
          manifestsDescending(rel).headOption.map(_._1).getOrElse(0L) + 1)
        // readEntries applies any delete entries, so the rewrite
        // MATERIALIZES them — the sole entry below carries no deletes
        writeVersionDir(
          clusteredWriter(readEntries(rel, cur), Nil, Nil, zorderCols)
            .write.mode("overwrite"), vdir)
        Warehouse.faultPoint("mf.compact.data-written")
        afterWrite(vdir, 0, sharedBloomCols(rel, dataEntries(cur).map(_._1)))
        commitEntries(rel)(_ => Seq((vdir.getName, "")))
        true
      }
    }

  /** Schema directories under one database (get_relations_by_pattern's
    * schema_pattern scan surface).
    */
  def listSchemas(database: String): Seq[String] = {
    val p = new Path(s"$root/$database")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
  }

  /** Reference `list_relations_without_caching` @189819 over one schema. */
  def listRelations(database: String, schema: String): Seq[Relation] = {
    val p = new Path(s"$root/$database/$schema")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(st => Relation(database, schema, st.getPath.getName))
      // swap scratch dirs of the retired rename protocol: a crashed run
      // of an older release can leave them behind, and surfacing one as
      // a relation would let a pattern-driven cleanup drop the only
      // surviving copy of a crashed partition
      .filterNot(r => r.identifier.endsWith("__dbt_tmp") ||
        r.identifier.endsWith("__dbt_backup") ||
        r.identifier.endsWith("__dbt_pbackup"))
  }

  // ------------------------------------------------------------- views
  /** Durable view catalog (reference `create_view_as` @84061: views are
    * persistent catalog objects). A path-addressed warehouse has no
    * metastore, so a view IS its compiled definition: stored as a sibling
    * FILE `<identifier>.view.sql` (never mistaken for a table directory by
    * [[listRelations]]), readable by ANY later session or external engine
    * — not just the one that registered the temp view.
    */
  def saveViewDef(rel: Relation, compiledSql: String): Unit = {
    val p = new Path(path(rel) + ".view.sql")
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(compiledSql.getBytes("UTF-8")) finally out.close()
  }

  /** The relation's CURRENT committed state as external-reader slices:
    * `Right(Seq((dir, partitionKVs)))` — plain parquet dirs whose union
    * (with the partition values re-attached, since an entry dir sits
    * BELOW its partition path) IS the table as graft reads it: the
    * current manifest's data entries — replaced partitions and
    * multi-version appends resolve exactly like [[read]]. `Left(reason)`
    * when no path union can represent the state: pending row-delete
    * entries mask
    * rows positionally, so external readers must go through graft until
    * a [[compactPartitions]] pass retires them. Feeds
    * [[graft.run.Engine.catalogDdl]] — the point-in-time export for
    * engines outside this library.
    */
  def externalSlices(rel: Relation)
      : Either[String, Seq[(String, Seq[(String, String)])]] =
    latestManifest(rel) match {
      case None => Left(s"${rel.fqName}: no committed manifest")
      case Some((_, entries)) if entries.exists(isDeleteEntry) =>
        Left(s"${rel.fqName}: pending row-delete entries — compact first")
      case Some((_, entries)) =>
        Right(dataEntries(entries).map { case (v, part) =>
          val dir =
            if (part.isEmpty) new Path(mfDir(rel), v)
            else new Path(new Path(mfDir(rel), v), part)
          val kvs =
            if (part.isEmpty) Seq.empty[(String, String)]
            else part.split("/").toSeq.map { seg =>
              val i = seg.indexOf('=')
              (seg.substring(0, i),
                Warehouse.unescapePathName(seg.substring(i + 1)))
            }
          (dir.toString, kvs)
        })
    }

  def readViewDef(rel: Relation): Option[String] = {
    val p = new Path(path(rel) + ".view.sql")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  /** Reconstruct a durable view as a DataFrame (compiled SQL references
    * warehouse paths, so it resolves in any session; the paths resolve
    * through [[resolveSql]] to the current committed version).
    */
  def readView(rel: Relation): Option[DataFrame] =
    readViewDef(rel).map(s => spark.sql(resolveSql(s)))

  /** Rewrite `parquet.`root/db/schema/id`` table references into
    * pointer-resolved temp views: a manifest-committed relation under ANY
    * warehouse root (this one, a --defer state root, a cross-project
    * upstream) reads its current committed version, and a durable view
    * of another root reads its definition. A single parquet FILE (a
    * declared source) resolves to a temp view over that file with its
    * footer schema pinned ([[sourceFileView]]). Other paths (directory
    * sources, plain-layout dirs not yet [[adopt]]ed, missing paths) pass
    * through untouched, for Spark to read as it finds them. Compiled SQL
    * stays path-addressed on disk — the stable, engine-agnostic form —
    * and the pointer is chased at EXECUTION time, in the executing
    * session, so a view compiled yesterday reads today's committed
    * version instead of a GC'd version dir.
    */
  def resolveSql(sqlText: String): String =
    Warehouse.PathRelation.replaceAllIn(sqlText, m =>
      scala.util.matching.Regex.quoteReplacement({
        val p = m.group(1)
        plainFile(p) match {
          case Some(st) => sourceFileView(p, st)
          case None => relationAt(p).flatMap { case (w, rel) =>
            w.tempViewOf(rel, viewsToo = w ne this)
          }
        }
      }.getOrElse(m.matched)))

  /** `p`'s status when it names an existing plain file. */
  private def plainFile(p: String): Option[FileStatus] =
    try {
      val path = new Path(p)
      Some(path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(path)).filter(_.isFile)
    } catch { case _: java.io.FileNotFoundException => None }

  /** A parquet source file as a temp view. Analysing ``parquet.`file` ``
    * infers the file's schema with a Spark job on every analysis; the
    * view instead reads the file with the schema of its footer, read once
    * on the driver, pinned. The view's frame is cached per path and
    * reused while the file's length and mtime stay the same, so a source
    * rewritten in place is re-read with its new schema; the view name
    * carries path, length and mtime, so a name never stands for two
    * versions of a file. None when the footer yields no schema or cannot
    * be read — the path then passes through, and Spark reports the bad
    * file.
    */
  private def sourceFileView(p: String, st: FileStatus): Option[String] = {
    val stamp = (st.getLen, st.getModificationTime)
    val vn = Warehouse.tempViewName(s"graft_file_${st.getPath.getName}",
      s"$p\u0000${stamp._1}\u0000${stamp._2}")
    val hit = sourceViews.get(p)
    if (hit != null && hit._1 == stamp) {
      if (spark.sessionState.catalog.getTempView(vn).isEmpty)
        hit._2.createOrReplaceTempView(vn)
      Some("`" + vn + "`")
    } else
      scala.util.Try(GraftFooterSchema.merged(spark, Seq(st))).toOption
        .flatten.map { schema =>
          val d = spark.read.schema(schema).parquet(p)
          d.createOrReplaceTempView(vn)
          sourceViews.put(p, (stamp, d))
          "`" + vn + "`"
        }
  }

  private val sourceViews =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), DataFrame)]

  /** The warehouse and relation a `root/db/schema/id` path names (a
    * three-segment absolute path has an empty root and names none).
    */
  private def relationAt(p: String): Option[(Warehouse, Relation)] =
    p.split("/", -1) match {
      case segs if segs.length >= 4 && !segs.takeRight(3).exists(_.isEmpty) =>
        val Array(db, sch, id) = segs.takeRight(3)
        val r = segs.dropRight(3).mkString("/")
        Option.when(r.nonEmpty)(
          (if (r == root) this else at(r), Relation(db, sch, id)))
      case _ => None
    }

  /** `rel`'s current committed version (or, with `viewsToo`, its durable
    * view) registered as a temp view named by its path; None otherwise.
    */
  private def tempViewOf(rel: Relation, viewsToo: Boolean): Option[String] = {
    val df =
      if (latestManifest(rel).isDefined) Some(read(rel))
      else if (viewsToo) readView(rel)
      else None
    df.map { d =>
      val vn = Warehouse.tempViewName(
        s"graft_mf_${rel.database}_${rel.schema}_${rel.identifier}", path(rel))
      // each registration is a command the planner runs: register only
      // when the view is absent, stands for another frame (a new commit),
      // or was replaced behind this warehouse's back
      val catalog = spark.sessionState.catalog
      val mine = mfViews.get(vn)
      if (mine == null || (mine._1 ne d) ||
          !catalog.getRawTempView(vn).exists(_ eq mine._2)) {
        d.createOrReplaceTempView(vn)
        catalog.getRawTempView(vn).foreach(v => mfViews.put(vn, (d, v)))
      }
      "`" + vn + "`"
    }
  }

  /** View name -> the frame this warehouse registered under it and the
    * catalog entry that registration made ([[tempViewOf]]).
    */
  private val mfViews = new java.util.concurrent.ConcurrentHashMap[
    String, (DataFrame, org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation)]

  /** The warehouse at another root (a --defer/clone state root, a
    * cross-project upstream) on this session — one per root, so each
    * keeps its read cache across the references that reach it.
    */
  def at(otherRoot: String): Warehouse =
    if (otherRoot == root) this
    else others.computeIfAbsent(otherRoot, r => new Warehouse(spark, r))

  private val others =
    new java.util.concurrent.ConcurrentHashMap[String, Warehouse]()

  def dropView(rel: Relation): Unit = {
    val p = new Path(path(rel) + ".view.sql")
    if (fs.exists(p)) { fs.delete(p, false); () }
  }

  def listViews(database: String, schema: String): Seq[Relation] = {
    val p = new Path(s"$root/$database/$schema")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(st =>
        st.isFile && st.getPath.getName.endsWith(".view.sql"))
      .map(st => Relation(database, schema,
        st.getPath.getName.stripSuffix(".view.sql")))
  }

  /** Catalog stats (reference `bigquery__get_catalog` @3102: per-table
    * row counts, byte sizes, partition info from information_schema; here
    * from parquet footers + filesystem). Pure metadata reads — the row
    * count comes from each file's footer record count, so NO Spark job
    * scans table data (the reference reads `__TABLES__` stats for the
    * same reason: a catalog listing must not cost a full scan per table).
    * Only the CURRENT version's parquet files count, listed as reads
    * list them; a relation with no manifest reports no rows.
    */
  def catalogInfo(database: String, schema: String)
      : Seq[(Relation, Long, Long, Seq[String])] =
    listRelations(database, schema).map { rel =>
      val files = entryFiles(rel, dataEntries(currentEntries(rel)))
      (rel, footerRowsOf(files), files.map(_.getLen).sum, listPartitions(rel))
    }

  /** The parquet files of `entries`, from the reads' own leaf listing
    * ([[listEntries]]) — not a recursive walk, which would count an
    * adopted flat entry's `_graft/` version dirs under the relation dir
    * a second time.
    */
  private def entryFiles(rel: Relation,
                         entries: Seq[(String, String)]): Seq[FileStatus] =
    listEntries(rel, entries).flatMap(_._2)

  /** Recursive file listing under a dir — driver-side metadata IO. An
    * absent dir lists empty (stats callers tolerate an empty relation).
    */
  private def filesUnder(dir: Path): Seq[FileStatus] = {
    if (!fs.exists(dir)) Nil
    else {
      val it = fs.listFiles(dir, true)
      val buf = Seq.newBuilder[FileStatus]
      while (it.hasNext) { val st = it.next(); if (st.isFile) buf += st }
      buf.result()
    }
  }

  /** Sum of the parquet footer record counts of `files` ([[footersOf]]). */
  private def footerRowsOf(files: Seq[FileStatus]): Long =
    footersOf(files.filter(_.getPath.getName.endsWith(".parquet")), 0)
      .map(_._2).sum

  /** Row count of a relation (or one of its partition subtrees) from
    * parquet footers — metadata IO only, no data scan. Sizing decisions
    * (e.g. the snapshot sub-bucket count) read this instead of running a
    * count() scan.
    */
  def footerRows(rel: Relation, subdir: String = ""): Long =
    footerRowsOf(entryFiles(rel,
      dataEntries(currentEntries(rel)) // delete-key rows are not data
        .filter(e => subdir.isEmpty || e._2 == subdir ||
          e._2.startsWith(subdir + "/"))))

  /** True when the relation holds flat (non-partition-dir) parquet data —
    * i.e. it was written unpartitioned.
    */
  def hasFlatFiles(rel: Relation): Boolean =
    currentEntries(rel).exists(_._2.isEmpty)

  /** Drop the partition directories whose (unescaped) value is in
    * `values` — the delete half of static insert_overwrite: listed
    * partitions are replaced even when the increment holds no rows for
    * them. Matches on the PARSED value (Spark %-escapes special chars
    * in partition dir names, e.g. `:` → `%3A`), so callers pass plain
    * rendered values. A metadata-only commit dropping the matching
    * entries.
    */
  def dropPartitions(rel: Relation, partitionCol: String,
                     values: Seq[String]): Unit = withRelationLock(rel) {
    val want = values.toSet
    def matches(dir: String): Boolean = {
      val first = dir.takeWhile(_ != '/')
      val eq = first.indexOf('=')
      eq > 0 && first.substring(0, eq) == partitionCol &&
        want.contains(Warehouse.unescapePathName(first.substring(eq + 1)))
    }
    commitEntries(rel)(_.filterNot(e => matches(e._2)))
  }

  /** Per-partition atomic replacement: only the partitions written by
    * `df` move; `alsoDropValues` partitions are removed even when `df`
    * holds no rows for them (static insert_overwrite's pinned list).
    * Partition directories not written by `df` are never opened — their
    * files stay byte-identical, which is the whole point at scale: a
    * daily merge must not rewrite years of untouched history.
    *
    * One new version dir is written, then one manifest commit where
    * replaced/dropped entries are substituted and untouched entries still
    * point at their old version dirs — the commit itself is atomic, there
    * is no window.
    */
  def replacePartitions(df: DataFrame, rel: Relation, pcols: Seq[String],
                        alsoDropValues: Seq[String] = Nil,
                        clusterCols: Seq[String] = Nil,
                        alsoDropPaths: Seq[String] = Nil,
                        zorderCols: Seq[String] = Nil,
                        bloomCols: Seq[String] = Nil,
                        layoutWhen: Option[Column] = None): Unit = withRelationLock(rel) {
    require(pcols.nonEmpty, "replacePartitions requires partition columns")
    require(alsoDropValues.isEmpty || pcols.size == 1,
      "alsoDropValues (static insert_overwrite) is single-column")
    val vdir = newVersionDir(rel,
      manifestsDescending(rel).headOption.map(_._1).getOrElse(0L) + 1)
    writeVersionDir(
      clusteredWriter(df, pcols, clusterCols, zorderCols, layoutWhen)
        .write.mode("overwrite").partitionBy(pcols: _*), vdir)
    Warehouse.faultPoint("mf.replace.data-written")
    val written = afterWrite(vdir, pcols.length, bloomCols)
    val writtenSet = written.toSet
    val writtenVals = written
      .map(d => Warehouse.unescapePathName(d.substring(d.indexOf('=') + 1)))
      .toSet
    val dropVals = alsoDropValues.filterNot(writtenVals.contains).toSet
    val dropPathSet = alsoDropPaths.filterNot(writtenSet.contains).toSet
    def droppedByValue(part: String): Boolean = {
      val first = part.takeWhile(_ != '/')
      val eq = first.indexOf('=')
      eq > 0 && first.substring(0, eq) == pcols.head &&
        dropVals.contains(Warehouse.unescapePathName(first.substring(eq + 1)))
    }
    commitEntries(rel) { prev =>
      prev.filterNot { case (_, part) =>
        writtenSet.contains(part) || dropPathSet.contains(part) ||
          (dropVals.nonEmpty && droppedByValue(part))
      } ++ written.map(p => (vdir.getName, p))
    }
  }

  /** Small-file compaction: leaf partitions holding more than `maxFiles`
    * parquet files (or rows spread over multiple version dirs) are
    * rewritten as one file each through the same protected replacement
    * the merge family uses; leaves under the threshold are never opened.
    * Incremental merges/appends accumulate a file and a version-dir entry
    * per run in hot leaves — at scale
    * the periodic compaction pass is what keeps scan task counts, footer
    * overhead, and manifest union width bounded (the OPTIMIZE of
    * transactional formats, expressed over plain parquet). File discovery
    * is driver-side metadata listing; only crowded leaves cost a
    * read+write, proportional to THEIR size alone.
    */
  def compactPartitions(rel: Relation, pcols: Seq[String],
                        maxFiles: Int = 8): Seq[String] = withRelationLock(rel) {
    require(pcols.nonEmpty, "compactPartitions requires partition columns")
    val crowded = listPartitionPaths(rel, pcols.length).filter { dir =>
      var c = 0
      physicalPartDirs(rel, dir).foreach { pd =>
        val it = fs.listFiles(pd, false)
        while (it.hasNext && c <= maxFiles) {
          if (it.next().getPath.getName.endsWith(".parquet")) c += 1
        }
      }
      c > maxFiles
    }
    val hasDeletes = latestManifest(rel).exists(_._2.exists(isDeleteEntry))
    // delete entries force every leaf into the rewrite set: a leaf whose
    // rows the deletes touch must not be rebuilt around them piecemeal,
    // and rewriting all leaves is what lets normalizeEntries retire the
    // delete entries entirely (all data ends up positioned after them)
    val toRewrite =
      if (hasDeletes) listPartitionPaths(rel, pcols.length) else crowded
    if (toRewrite.nonEmpty) {
      val payload =
        if (hasDeletes)
          // through the delete-aware read: a direct physical-dir read
          // would resurrect deleted rows by re-committing them AFTER the
          // delete entries (position semantics)
          read(rel)
        else toRewrite.map { dir =>
          // leaf files carry no partition columns; reattach them from the
          // dir name (a null partition lands in Hive's default dir)
          val kvs = dir.split("/").toIndexedSeq.map { seg =>
            val i = seg.indexOf('=')
            (seg.substring(0, i), Warehouse.unescapePathName(seg.substring(i + 1)))
          }
          val raw = spark.read.parquet(
            physicalPartDirs(rel, dir).map(_.toString): _*)
          kvs.foldLeft(raw) {
            case (df, (k, v)) =>
              df.withColumn(k,
                if (v == "__HIVE_DEFAULT_PARTITION__")
                  org.apache.spark.sql.functions.lit(null)
                else org.apache.spark.sql.functions.lit(v))
          }
        }.reduce(_ unionByName _)
      // alsoDropPaths: a rewritten leaf whose rows were ALL deleted gets
      // no replacement write, so without the explicit drop its OLD entry
      // would survive positioned before the delete entries and
      // normalizeEntries could never retire them — the relation would be
      // stuck on the delete-masked read path (and un-exportable) forever
      val rewritten = toRewrite.toSet
      val fromDirs = currentEntries(rel)
        .collect { case (d, part) if rewritten(part) => d }
      replacePartitions(payload, rel, pcols, alsoDropPaths = toRewrite,
        bloomCols = sharedBloomCols(rel, fromDirs))
    }
    toRewrite
  }

  /** The columns that EVERY one of the version dirs `vdirNames` carries
    * a `_graft_bloom` filter for — what a compaction re-blooms, so the
    * rewrite keeps the point-lookup skipping its inputs already had
    * (a snapshot's key blooms, an appender's `bloomCols`). A column some
    * input dir was written without is not added: the rewrite keeps the
    * blooms the data has, it does not choose new ones.
    */
  private def sharedBloomCols(rel: Relation,
                              vdirNames: Seq[String]): Seq[String] =
    vdirNames.distinct
      .map(d => BloomStats.read(fs, new Path(mfDir(rel), d))
        .fold(Set.empty[String])(_.keySet))
      .reduceOption(_ intersect _).fold(Seq.empty[String])(_.toSeq.sorted)

  /** Age-based sweep of ORPHANED version dirs: a writer that crashed
    * after its data write but before its manifest commit leaves an
    * uncommitted version dir that ordinary commit-time GC only reclaims
    * once later commits age it past the retention window — on a table
    * nobody writes again, it survives forever. This sweeps version dirs
    * that are (a) referenced by NO manifest on disk and (b) older than
    * `olderThanMs` by modification time. The age guard (hours/days in
    * practice) is what makes the sweep safe against an in-flight writer
    * mid-data-write — additionally the sweep holds the relation lock, so
    * no lock-holding writer can be mid-commit while it runs. Returns the
    * deleted dir names.
    */
  def gcOrphanVersions(rel: Relation, olderThanMs: Long): Seq[String] =
    withRelationLock(rel) {
      val d = mfDir(rel)
      if (!fs.exists(d)) Nil
      else {
        val referenced = manifestsDescending(rel).flatMap { case (_, p) =>
          parseManifest(p).getOrElse(Nil).map(_._1)
        }.toSet
        val cutoff = System.currentTimeMillis - olderThanMs
        fs.listStatus(d).toSeq.flatMap { st =>
          st.getPath.getName match {
            case VersionName(_) if st.isDirectory &&
                !referenced.contains(st.getPath.getName) &&
                st.getModificationTime < cutoff =>
              Warehouse.faultPoint("orphan-gc.delete")
              fs.delete(st.getPath, true)
              Some(st.getPath.getName)
            case _ => None
          }
        }.sorted
      }
    }

  /** Physical directories holding a leaf partition's rows: every version
    * dir the manifest maps the leaf to (>1 after appends).
    */
  private def physicalPartDirs(rel: Relation, part: String): Seq[Path] =
    currentEntries(rel).filter(_._2 == part).map(e => entryPath(rel, e))

  /** Partition directory names of a partitioned relation (reference
    * `get_partitions_metadata` @12518).
    */
  def listPartitions(rel: Relation): Seq[String] =
    currentEntries(rel).map(_._2.takeWhile(_ != '/'))
      .filter(_.contains("=")).distinct.sorted

  /** Epoch ms of the relation's last REBUILD — the timestamp table TTLs
    * (`hours_to_expiration`) measure from. Prefers the
    * `built_at_ms` metadata line stamped by every full overwrite and
    * carried forward by appends/expiry/meta commits (BigQuery resets
    * expiration_timestamp on CREATE OR REPLACE; DML never extends it —
    * using the newest manifest's mtime here would let a daily vacuum or
    * stream append keep an expired table alive forever; [[adopt]] stamps
    * the adopted dir's mtime). Pre-stamp manifests fall back to the
    * newest manifest file's mtime. None when the relation has no
    * manifest.
    */
  def lastCommitMs(rel: Relation): Option[Long] =
    latestMeta(rel).get("built_at_ms").flatMap(_.toLongOption).orElse(
      manifestsDescending(rel)
        .collectFirst { case (_, p) if parseManifest(p).isDefined => p }
        .map(p => fs.getFileStatus(p).getModificationTime))

  /** Partition TTL sweep (`partition_expiration_days`, reference
    * bigquery_options @15210): drop every partition whose NEWEST covering
    * data version is older than `asOfMs - ttlMs`. A partition still
    * receiving appends is never expired — its newest version is young.
    *
    * The sweep commits a manifest WITHOUT the expired partitions' data
    * entries: carried-forward metadata means stream watermarks and
    * checkpoints survive, [[normalizeEntries]] retires delete entries the
    * drop leaves dead, and commit-time GC ages out the unreferenced
    * version dirs. An adopted partition ages by its leaf dir's mtime
    * like any entry; a relation with no manifest expires nothing.
    * Returns the dropped partition paths.
    */
  def expirePartitions(rel: Relation, ttlMs: Long, asOfMs: Long): Seq[String] =
    if (latestManifest(rel).isEmpty) Nil
    else withRelationLock(rel) {
      val cutoff = asOfMs - ttlMs
      // under the relation lock, AND recomputed inside the commit lambda:
      // a precomputed expired set re-applied on a CAS retry would unlink
      // a FRESH entry a racing writer just committed for the same
      // partition label — silent data loss on exactly the partition the
      // writer refreshed
      def expiredOf(entries: Seq[(String, String)]): Set[String] =
        dataEntries(entries)
          .filter(_._2.contains("="))
          .groupBy(_._2)
          .map { case (part, es) =>
            part -> es.map(e => fs.getFileStatus(entryPath(rel, e))
              .getModificationTime).max
          }.filter(_._2 < cutoff).keySet
      var expired = expiredOf(currentEntries(rel))
      if (expired.nonEmpty) {
        Warehouse.faultPoint("ttl.pre-commit")
        commitEntries(rel) { cur =>
          expired = expiredOf(cur)
          cur.filterNot(e => !isDeleteEntry(e) && expired.contains(e._2))
        }
        invalidateRead(rel)
      }
      expired.toSeq.sorted
    }

  /** All partition key columns of a relation in layout order, derived
    * from FULL leaf paths — every `k=v` segment, not just the first
    * directory level, so multi-column layouts (`dt=…/region=…`) report
    * every key, read from the manifest's partition paths.
    */
  def partitionColumns(rel: Relation): Seq[String] =
    dataEntries(currentEntries(rel)).map(_._2)
      .flatMap(_.split("/").toSeq.filter(_.contains("="))
        .map(_.takeWhile(_ != '='))).distinct

  /** Relative `k=v[/k2=v2…]` paths of the partition dirs exactly `depth`
    * levels below a relation root — the leaf dirs of a `depth`-column
    * partitioned layout.
    */
  def listPartitionPaths(rel: Relation, depth: Int): Seq[String] =
    dataEntries(currentEntries(rel)).map(_._2)
      .filter(p => p.nonEmpty && p.split("/").length == depth)
      .distinct.sorted
}

object Warehouse {
  /** A path-addressed parquet relation in SQL text: parquet.`path`. */
  private val PathRelation = "parquet\\.`([^`]+)`".r

  /** Columns whose ranges one `_graft_stats` sidecar records per file. */
  private val StatsMaxCols = 32

  /** Expected-item cap of one `_graft_bloom` filter: a version dir with
    * more rows gets a filter sized for this many (a higher false-positive
    * rate, never a wrong answer).
    */
  private val BloomMaxItems: Long = 4000000L

  /** The write options that put a job's file IO on [[NioLocalFileSystem]]
    * (uncached, since Hadoop caches filesystems by scheme, not by conf):
    * for a `file:` root whose session registered no `fs.file.impl` of
    * its own, in the Spark context's Hadoop conf or the session conf.
    * Empty otherwise, which leaves every other scheme and a registered
    * implementation as they are.
    */
  private[graft] def localIoOptions(spark: SparkSession,
                                    root: String): Map[String, String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val scheme = Option(new Path(root).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file" || conf.get("fs.file.impl") != null ||
        spark.conf.getOption("fs.file.impl").isDefined) Map.empty
    else LocalIoOptions
  }

  private val LocalIoOptions = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Collision-proof temp-view name: sanitization alone can collapse
    * distinct names ('team-a'/'x' and 'team'/'a_x' both flatten to
    * team_a_x) — the md5 suffix over the raw `key` disambiguates.
    */
  def tempViewName(name: String, key: String): String =
    name.replaceAll("[^A-Za-z0-9_]", "_") + "_" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString

  /** Crash-consistency fault-injection seam. Every mutation path of the
    * commit protocol announces a named point here at each externally
    * visible filesystem transition (data written / manifest claimed / GC
    * delete / …).
    * FaultInjectionSpec installs a handler that throws at the N-th
    * firing to simulate a process crash at exactly that point, then
    * re-opens the warehouse cold and asserts no torn reads, retry
    * convergence, and GC safety. The same seam doubles as a race
    * injector: a handler that performs a concurrent commit (instead of
    * throwing) forces the CAS-retry interleavings hand-review kept
    * finding bugs in. Production cost: one volatile read + identity
    * compare per point.
    */
  private[graft] val NoFault: String => Unit = _ => ()
  @volatile private[graft] var faultHandler: String => Unit = NoFault
  private[graft] def faultPoint(name: String): Unit = {
    val h = faultHandler
    if (h ne NoFault) h(name)
  }

  /** Relation-path → lock token held by the current thread (reentrancy:
    * compaction calls replacePartitions under the same lock).
    */
  private val heldLocks: ThreadLocal[scala.collection.mutable.Map[String, String]] =
    ThreadLocal.withInitial(() => scala.collection.mutable.Map.empty[String, String])

  /** Inverse of Spark's partition-path escaping (Hive convention,
    * re-derived from the observed dir format): ONLY `%XX` sequences
    * decode. `URLDecoder` is wrong here — it maps '+' to space, so a
    * value containing a literal '+' never matches its own directory and
    * a value "a b" would wrongly match dir "name=a+b".
    */
  def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val code =
          try Integer.parseInt(s.substring(i + 1, i + 3), 16)
          catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
