package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, GraftPartitionParsing, HadoopFsRelation, PartitionDirectory, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.{GraftFooterSchema, ParquetFileFormat}
import org.apache.spark.sql.types.{StringType, StructType}

/** A [[FileIndex]] over a manifest's committed `(versionDir, partitionPath)`
  * entries — the read side of the object-store commit protocol as ONE scan
  * relation.
  *
  * Why not a union of per-version-dir reads (the obvious composition):
  * after N partition-scoped merges the manifest references up to N distinct
  * version dirs (each merge parks its touched partitions in a fresh
  * immutable dir; untouched entries keep pointing at older dirs), so a
  * union-shaped read is an N-arm `Union` of N separate parquet relations.
  * At a daily-merge cadence over years, N reaches thousands — Catalyst
  * analysis cost, plan size, and per-relation file-index overhead all grow
  * with N. This index instead hands Spark the manifest's leaf files as a
  * single `HadoopFsRelation` (exactly how table formats with file-level
  * metadata integrate): ONE scan node regardless of version-dir count,
  * with partition pruning evaluated here against `PartitionFilters`, so a
  * pruned query reads only in-scope partitions' files wherever their
  * version dirs live.
  *
  * Partition-column TYPES are inferred by Spark's own partition discovery
  * ([[GraftPartitionParsing.parsePartitions]]), which only accepts a
  * SINGLE root — so parsing runs per version group and the per-group
  * schemas are unified (a column whose inferred type differs across groups
  * degrades to string — the same resolution a single-root read applies
  * across its values — and groups re-parse against the unified schema so
  * every partition-values row is typed identically).
  *
  * @param leaves one LEAF data dir per entry (whole-dir entries of
  *               partitioned writes pre-expanded by the caller) plus its
  *               parquet files, pre-listed
  * @param basePaths the version dirs (partition fragments are the path
  *                  remainder below these)
  */
final class ManifestFileIndex(
    spark: SparkSession,
    leaves: Seq[(Path, Array[FileStatus])],
    basePaths: Set[Path],
    fileStats: FileStats.PerFile = Map.empty) extends FileIndex {

  /** Base paths and leaf dirs fs-qualified before any grouping: leaf
    * dirs produced by whole-dir expansion come from `listStatus` and are
    * scheme-qualified (`file:/…`) while basePaths built from the
    * manifest dir are not — Hadoop `Path` equality is textual, so an
    * unqualified mix would make the parent walk miss its base and run
    * past the root onto null.
    */
  private val qualified: Set[Path] =
    ManifestFileIndex.qualifyAll(spark, basePaths)

  /** The qualified version dirs this index scans — the identity
    * [[graft.plans.AggViewRewrite]] compares against a relation's current
    * manifest state to recognize a full-table scan.
    */
  private[graft] def versionDirs: Set[Path] = qualified

  /** Leaves with data, grouped under their version dir, ascending-dir
    * order (committed leaves always hold ≥1 file; empty dirs carry no
    * rows and would only confuse layout detection).
    */
  private val grouped: Seq[(Path, Seq[(Path, Array[FileStatus])])] =
    leaves.filter(_._2.nonEmpty)
      .map { case (d, fls) =>
        (ManifestFileIndex.qualifyOne(spark, d), fls)
      }
      .groupBy { case (d, _) =>
        ManifestFileIndex.versionGroupOf(d, qualified)
      }
      .toSeq.sortBy(_._1.getName)

  private val partitioned =
    grouped.nonEmpty && grouped.forall { case (base, ls) =>
      ls.forall(_._1 != base)
    }

  private val (partSchema: StructType, partDirs: Seq[PartitionDirectory]) =
    if (!partitioned) {
      (new StructType(),
        Seq(PartitionDirectory(InternalRow.empty,
          grouped.flatMap(_._2.flatMap(_._2)).toArray)))
    } else {
      val conf = spark.sessionState.conf
      def parse(base: Path, dirs: Seq[Path],
                user: Option[StructType]): PartitionSpec =
        GraftPartitionParsing.parsePartitions(
          dirs,
          typeInference = true,
          basePaths = Set(base),
          userSpecifiedSchema = user,
          caseSensitive = conf.caseSensitiveAnalysis,
          validatePartitionColumns = conf.validatePartitionColumns,
          timeZoneId = conf.sessionLocalTimeZone,
          ignoreInvalidPartitionPaths = false)
      val specs = grouped.map { case (b, ls) => parse(b, ls.map(_._1), None) }
      val nameSets = specs.map(_.partitionColumns.map(_.name).toSeq).distinct
      if (nameSets.size != 1)
        throw new IllegalStateException(
          s"manifest groups disagree on partition columns: $nameSets")
      // unify types across groups the way one-root discovery unifies
      // across values: agreement keeps the type, conflict degrades to
      // string; on any conflict re-parse with the unified schema pinned
      val unified = StructType(
        specs.head.partitionColumns.zipWithIndex.map { case (f, i) =>
          val ts = specs.map(_.partitionColumns(i).dataType).distinct
          if (ts.size == 1) f else f.copy(dataType = StringType)
        })
      val finalSpecs =
        if (specs.forall(_.partitionColumns == unified)) specs
        else grouped.map { case (b, ls) => parse(b, ls.map(_._1), Some(unified)) }
      val dirs = finalSpecs.zip(grouped).flatMap { case (spec, (_, ls)) =>
        val filesByDir = ls.toMap
        spec.partitions.map(pp => PartitionDirectory(pp.values, filesByDir(pp.path)))
      }
      (unified, dirs)
    }

  override def rootPaths: Seq[Path] = qualified.toSeq

  override def partitionSchema: StructType = partSchema

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val partPruned =
      if (partitionFilters.isEmpty || partSchema.isEmpty) partDirs
      else {
        // the standard partition-pruning bind (what Spark's own
        // PartitioningAwareFileIndex does): resolve each partition-column
        // attribute to its ordinal in the partition-values row, evaluate
        // the conjunction against every partition's values
        val bound = Predicate.createInterpreted(
          partitionFilters.reduce(And).transform {
            case a: AttributeReference =>
              val i = partSchema.indexWhere(f =>
                spark.sessionState.conf.resolver(f.name, a.name))
              BoundReference(i, partSchema(i).dataType, nullable = true)
          })
        bound.initialize(0)
        partDirs.filter(pd => bound.eval(pd.values))
      }
    // file skipping on the committed sidecar stats: a file is planned
    // only when every data filter MAY match its recorded ranges; files
    // without stats always survive (stats are an optimization, never a
    // correctness input)
    val statsPruned =
      if (dataFilters.isEmpty || fileStats.isEmpty) partPruned
      else {
        val resolver = spark.sessionState.conf.resolver
        partPruned.map { pd =>
          PartitionDirectory(pd.values, pd.files.filter { f =>
            // compound key <versionDirName>/<dir-relative path> — the
            // same construction as the read-side sidecar merge; a bare
            // name would collide across the leaf dirs of one partitioned
            // write (every leaf a task touches reuses its part-NNNNN name)
            val group = ManifestFileIndex.versionGroupOf(
              f.getPath.getParent, qualified)
            val key = s"${group.getName}/${FileStats.relKey(group, f.getPath)}"
            fileStats.get(key).forall(cols =>
              dataFilters.forall(df => FileStats.mayContain(cols, df, resolver)))
          })
        }
      }
    bloomPrune(statsPruned, dataFilters)
  }

  /** Version-group Bloom skipping ([[BloomStats]]): a dir whose bloom
    * PROVES the conjunction of data filters can't match drops all its
    * files at planning time. Sidecars load lazily, only when the filter
    * actually carries an equality shape — a pure range scan costs zero
    * sidecar reads — and are cached for the index's lifetime (version
    * dirs are immutable). `graft.bloom.enabled=false` is the read-side
    * kill switch, mirroring `graft.stats.enabled`.
    */
  private def bloomPrune(dirs: Seq[PartitionDirectory],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    if (dataFilters.isEmpty ||
        spark.conf.getOption("graft.bloom.enabled").contains("false"))
      return dirs
    val conj = dataFilters.reduce(And)
    if (!BloomStats.hasEqualityShape(conj)) return dirs
    val resolver = spark.sessionState.conf.resolver
    val absent = qualified.filter(g =>
      bloomFor(g).exists(bl => BloomStats.provesAbsent(bl, conj, resolver)))
    if (absent.isEmpty) dirs
    else dirs.map { pd =>
      PartitionDirectory(pd.values, pd.files.filter { f =>
        !absent.contains(ManifestFileIndex.versionGroupOf(
          f.getPath.getParent, qualified))
      })
    }
  }

  /** Lazily loaded per-version-dir blooms; None caches a missing/torn
    * sidecar so it is probed at most once per index.
    */
  private val bloomCache = scala.collection.concurrent.TrieMap
    .empty[Path, Option[Map[String, org.apache.spark.util.sketch.BloomFilter]]]
  private def bloomFor(g: Path): Option[Map[String, org.apache.spark.util.sketch.BloomFilter]] =
    bloomCache.getOrElseUpdate(g,
      BloomStats.read(g.getFileSystem(spark.sessionState.newHadoopConf()), g))

  override def inputFiles: Array[String] =
    partDirs.flatMap(_.files.map(_.getPath.toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = partDirs.flatMap(_.files.map(_.getLen)).sum
}

object ManifestFileIndex {

  /** Version dir owning leaf dir `d`: walk parents until a base path
    * matches, bounded at the root (null parent) — both sides must be
    * [[qualifyOne]]-qualified or Path equality never fires.
    */
  private[core] def versionGroupOf(d: Path, basePaths: Set[Path]): Path =
    Iterator.iterate(d)(_.getParent).takeWhile(_ != null)
      .find(basePaths.contains).getOrElse(d)

  private[core] def qualifyOne(spark: SparkSession, p: Path): Path =
    p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p)

  private[graft] def qualifyAll(spark: SparkSession,
                               ps: Set[Path]): Set[Path] = {
    val conf = spark.sessionState.newHadoopConf()
    ps.map(p => p.getFileSystem(conf).makeQualified(p))
  }

  /** Build the single-relation DataFrame for a manifest's entries.
    * Fails, naming the relation `name`, when no entry holds a parquet file
    * with a footer: there is no schema to read, and Spark's own error
    * ("unable to infer schema") would name neither the relation nor why.
    *
    * Data schema = parquet footers of one sample file per VERSION GROUP,
    * merged in ascending group order (schema evolution rewrites the whole
    * relation into one new version, but a reader must still cope with a
    * retained manifest whose groups straddle the evolution — merging per
    * group keeps every column visible, oldest group's columns first,
    * mirroring a unionByName(allowMissingColumns) read). The footers are
    * read on the driver ([[GraftFooterSchema]]): the samples are one file
    * per group, so building the relation launches no Spark job — a read
    * cache miss costs a few footer round trips, not a schema-inference
    * job.
    */
  def relation(spark: SparkSession,
               name: String,
               leaves: Seq[(Path, Array[FileStatus])],
               basePaths: Set[Path],
               fileStats: FileStats.PerFile = Map.empty): DataFrame = {
    val qBases = qualifyAll(spark, basePaths)
    // one non-empty sample file per version group, ascending dir order
    val samples = leaves
      .groupBy { case (d, _) =>
        versionGroupOf(qualifyOne(spark, d), qBases)
      }
      .toSeq.sortBy(_._1.getName)
      .flatMap { case (_, ls) =>
        ls.iterator.flatMap(_._2.iterator).find(_.getLen > 0)
      }
    val dataSchema = GraftFooterSchema.merged(spark, samples).getOrElse(
      throw new IllegalStateException(s"$name: none of its ${leaves.size} " +
        "manifest entry dirs holds a parquet file with a footer, so it has " +
        "no schema to read"))
    val index = new ManifestFileIndex(spark, leaves, basePaths, fileStats)
    // dataSchema is all-nullable: a column only the newer version
    // groups carry is null in the older files, and a non-nullable
    // one would fail the vectorized reader on them
    val rel = HadoopFsRelation(index, index.partitionSchema, dataSchema,
      None, new ParquetFileFormat(), Map.empty)(spark)
    spark.baseRelationToDataFrame(rel)
  }
}
