package graft.table

import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * A partitioned, snapshot-versioned table on plain Parquet — the Spark-native
 * rebuild of the reference's Iceberg capability surface (see SURVEY.md §1.5):
 * append / merge-upsert commits, named branches, time travel, write-audit-
 * publish, metadata introspection and maintenance, with every read and write
 * lowering to stock Catalyst/Tungsten plans over vectorized Parquet scans.
 *
 * Design notes for scale (local[32] here, 1000-executor cluster in spirit):
 *  - Reads are `spark.read.schema(...).parquet(files...)` over the snapshot's
 *    live-file list with `basePath` set, so Catalyst's file index still does
 *    partition pruning, column pruning and parquet predicate pushdown.
 *  - Writes land in a staging dir, are moved into hive-style partition dirs,
 *    and become visible only via an atomic metadata commit (SnapshotLog).
 *  - Merge and delete are copy-on-write at FILE granularity: only the files
 *    containing matched rows are rewritten (input_file_name probe in a
 *    column-pruned semi-join); inserts append to their target partitions —
 *    the same probe-then-rewrite shape as Iceberg's RewriteMergeIntoTable
 *    (reference IcebergLoadActivityTask.scala:68-76).
 */
class GraftTable(val spark: SparkSession, val location: String) {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftTable])
  private def conf: Configuration = spark.sparkContext.hadoopConfiguration
  private def fs: FileSystem = new Path(location).getFileSystem(conf)

  def dataDir: String = s"$location/data"

  /** Physical location of a data-file entry: entries with an absolute
    * `base` (metadata-only snapshot clones) live under it; everything
    * else under this table's own data/ dir. */
  private def fileLoc(f: DataFile): String =
    s"${f.base.getOrElse(dataDir)}/${f.path}"

  /** Resolve a physical file reference — an `input_file_name()` URI or a
    * manifest location — to its decoded scheme-less absolute path, the
    * canonical form both sides of a matched-file probe normalize to. */
  private def decodedPath(p: String): String =
    try {
      val u = new java.net.URI(p)
      Option(u.getPath).filter(_.nonEmpty).getOrElse(p)
    } catch { case _: java.net.URISyntaxException => p }

  /** Split head files into (affected, untouched) given the distinct
    * `input_file_name()` URIs of the rows a CoW merge/update/delete
    * matched. O(|headFiles| + |matchedPaths|): both sides normalize to a
    * decoded absolute path once and the test is hash-set membership. (The
    * naive `endsWith` suffix scan is O(|headFiles| × |matchedPaths|) — a
    * driver-side quadratic that at 10⁶ files × 10⁵ matches would burn
    * ~10¹¹ comparisons before any task launches.) */
  private[table] def partitionAffected(headFiles: Seq[DataFile],
      matchedPaths: Set[String]): (Seq[DataFile], Seq[DataFile]) = {
    val matched: Set[String] = matchedPaths.map(decodedPath)
    val filesystem = fs
    // Path.toUri.getPath is already the decoded scheme-less form
    headFiles.partition(f => matched.contains(
      filesystem.makeQualified(new Path(fileLoc(f))).toUri.getPath))
  }

  /** Always read fresh metadata — commits from this or other sessions are
    * immediately visible (metadata reads are a driver-side local file). */
  def meta: TableMetadata = SnapshotLog.read(location, conf)

  def schema: StructType =
    DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]

  def partitionCols: Seq[String] = meta.partitionCols

  def name: String = meta.name

  def properties: Map[String, String] = meta.props

  // ---------------------------------------------------------------------
  // Read paths
  // ---------------------------------------------------------------------

  /** WAP redirect (reference WapIceberg.scala:13-15): when the session sets
    * `spark.graft.wap.branch` and the table enables WAP, plain reads resolve
    * the staged branch first so in-session audits see staged rows. */
  private def wapBranch: Option[String] =
    if (properties.getOrElse("write.wap.enabled", "false") == "true")
      Option(spark.conf.getOption("spark.graft.wap.branch").orNull).filter(_.nonEmpty)
    else None

  /** WAP by id (Iceberg's second staging mode, `spark.wap.id`): when the
    * session sets a wap id and the table enables WAP, data commits land in
    * the snapshot log STAMPED `wap.id` in their summary but NO ref moves —
    * main is untouched until an audit passes and [[cherryPick]] publishes
    * the staged snapshot (stamping `published-wap-id`). Unlike the branch
    * mode, plain reads never redirect: audits address the staged snapshot
    * explicitly via [[snapshotForWapId]]. */
  private def wapId: Option[String] =
    if (properties.getOrElse("write.wap.enabled", "false") == "true")
      spark.conf.getOption("spark.graft.wap.id")
        .orElse(spark.conf.getOption("spark.wap.id")).filter(_.nonEmpty)
    else None

  /** The staged snapshot carrying `wap.id = id` in its summary, if any. */
  def snapshotForWapId(id: String): Option[GraftSnapshot] =
    meta.snapshots.find(_.summary.get("wap.id").contains(id))

  /** Current table contents (WAP-aware, see `wapBranch`). */
  def toDF: DataFrame = {
    val m = meta
    val ref = wapBranch.filter(m.refs.contains).getOrElse(SnapshotLog.MainBranch)
    scan(m.snapshotForRef(ref), m)
  }

  /** Time travel: read the table as of a named branch or a snapshot id —
    * the rebuild of `SELECT * FROM t VERSION AS OF 'ref'` (reference
    * IcebergLoadActivityTask.scala:114,128-131). */
  def asOf(ref: String): DataFrame = {
    val m = meta
    val snap = m.snapshotForRef(ref).getOrElse(
      throw new IllegalArgumentException(s"Unknown ref or snapshot '$ref' on table ${m.name}"))
    scan(Some(snap), m)
  }

  def asOfSnapshot(id: Long): DataFrame = asOf(id.toString)

  /** Iceberg's reserved per-row metadata columns (`_file`, `_pos`,
    * `_partition` — the runtime's MetadataColumns surface): every current
    * row plus its physical provenance. `_file` is the absolute data-file
    * path exactly as `files.file_path` renders it; `_pos` the parquet row
    * index of the row inside that file (the identity position deletes
    * record and match on — merge-on-read deletes are applied BEFORE this
    * projection, so surviving rows keep their ON-FILE positions, gaps
    * included, like Iceberg); `_partition` the file's partition tuple in
    * the `files.partition` rendering (`{k=v, …}` — transform specs show
    * the DERIVED dir values, e.g. `{id_bucket_4=3}`).
    *
    * Scale shape: `_file`/`_pos` ride the scan itself (parquet row-index
    * metadata — no shuffle, no widening of the exchange); `_partition`
    * joins from the snapshot log's driver-resident file list, explicitly
    * broadcast (table metadata ≪ data by construction). */
  def metadataDF: DataFrame = {
    val m = meta
    val ref = wapBranch.filter(m.refs.contains).getOrElse(SnapshotLog.MainBranch)
    metadataRead(m.snapshotForRef(ref), m)
  }

  /** [[metadataDF]] as of a branch/snapshot ref — time travel with
    * provenance columns. */
  def metadataAsOf(ref: String): DataFrame = {
    val m = meta
    val snap = m.snapshotForRef(ref).getOrElse(
      throw new IllegalArgumentException(s"Unknown ref or snapshot '$ref' on table ${m.name}"))
    metadataRead(Some(snap), m)
  }

  private def metadataRead(snap: Option[GraftSnapshot], m: TableMetadata): DataFrame = {
    val s = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val base = readWithDeletes(snap, m, snap.map(_.files).getOrElse(Seq.empty),
      keepPos = true, keepLineage = true)
    val sp = spark
    import sp.implicits._
    val fileDf = snap.map(_.files).getOrElse(Seq.empty)
      .map(f => (f.path, fileLoc(f),
        f.partitionValues.map { case (k, v) => s"$k=$v" }.mkString("{", ", ", "}")))
      .toDF("__file", "_file", "_partition")
    base.join(broadcast(fileDf), Seq("__file"))
      .select((s.fields.toSeq.map(f => col(f.name)) ++ Seq(
        col("_file"),
        col("__pos").as("_pos"),
        col("_partition"),
        // row lineage (v3): stable row identity + last-modifying commit
        col("__row_id").as("_row_id"),
        col("__last_seq").as("_last_updated_sequence_number"))).toIndexedSeq: _*)
  }

  private def scan(snap: Option[GraftSnapshot], m: TableMetadata): DataFrame =
    readWithDeletes(snap, m, snap.map(_.files).getOrElse(Seq.empty))

  /** WAP-aware full read carrying the RESOLVED row-lineage columns — the
    * read every preserving rewrite (compaction, CoW/MoR merge) starts
    * from, so rewritten files materialize each surviving row's identity. */
  private def lineageScan(): DataFrame = {
    val m = meta
    val ref = wapBranch.filter(m.refs.contains).getOrElse(SnapshotLog.MainBranch)
    val snap = m.snapshotForRef(ref)
    readWithDeletes(snap, m, snap.map(_.files).getOrElse(Seq.empty),
      keepLineage = true)
  }

  /** Ordered partition-column layout a file was written under, derived
    * from its path segments. Files written before/after a partition-spec
    * change carry different layouts; reads group by it so each Spark file
    * index sees one consistent hive layout. */
  private def layoutOf(f: DataFile): Seq[String] =
    f.path.split("/").dropRight(1).toSeq.flatMap(_.split("=", 2) match {
      case Array(k, _) => Some(k)
      case _ => None
    })

  /** Data sequence of a file: stamped at commit time; files from
    * pre-stamp metadata fall back to their adding commit in the retained
    * snapshot list (min id wins for a path re-added across snapshots),
    * and to 0 — older than every retained delete — when even that is
    * gone. The fallback map builds lazily, at most once per resolver. */
  private def dataSeqOf(m: TableMetadata): DataFile => Long = {
    lazy val addSeq = m.snapshots.sortBy(_.id)
      .flatMap(sn => sn.addedFiles.map(_ -> sn.id))
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).min }
    f => f.dataSeq.getOrElse(addSeq.getOrElse(f.path, 0L))
  }

  /** Physical (in-file) name of a declared column for a file added at
    * commit sequence `seq`: unwind every rename that happened after the
    * file was written, newest first — the name-based stand-in for
    * Iceberg's field-id resolution. */
  private def physicalName(m: TableMetadata, declared: String, seq: Long): String =
    GraftTable.physicalNameOf(m, declared, seq)

  /** Physical (in-file) type of a declared column for a file added at
    * commit sequence `seq`: unwind every type promotion that happened
    * after the file was written, newest first — same era logic as
    * [[physicalName]] (records are keyed by the current declared name;
    * [[renameColumn]] rewrites them on rename). */
  private def physicalType(m: TableMetadata, declared: String,
      declaredType: DataType, seq: Long): DataType =
    GraftTable.physicalTypeOf(m, declared, declaredType, seq)

  /** Current declared name for a column name recorded at commit sequence
    * `seq` (e.g. an equality-delete key written before later renames). */
  private def declaredNameNow(m: TableMetadata, recorded: String, seq: Long): String =
    GraftTable.declaredNameNowOf(m, recorded, seq)

  private def plainRead(m: TableMetadata, s: StructType, files: Seq[DataFile]): DataFrame =
    plainReadImpl(m, s, files, withPos = false)

  /** [[plainRead]] plus `__file` (data-dir-relative path) and `__pos`
    * (parquet row index) from the `_metadata` columns — the row identity
    * position deletes record and match on. */
  private def plainReadWithPos(m: TableMetadata, s: StructType, files: Seq[DataFile]): DataFrame =
    plainReadImpl(m, s, files, withPos = true)

  /** Groups files by (partition layout, physical-name era): each group is
    * one parquet scan under the era's physical schema, aliased back to the
    * declared names — renames stay metadata-only. The re-projection also
    * keeps the declared column order stable (the file reader surfaces
    * partition columns last). */
  private def plainReadImpl(m: TableMetadata, s: StructType,
      files: Seq[DataFile], withPos: Boolean,
      withLineage: Boolean = false): DataFrame = {
    require(!withLineage || withPos,
      "lineage read needs positions (ids derive from firstRowId + __pos)")
    val posFields = (if (withPos)
      Seq(StructField("__file", StringType), StructField("__pos", LongType))
    else Seq.empty) ++ (if (withLineage)
      Seq(StructField("__mrid", LongType), StructField("__mseq", LongType))
    else Seq.empty)
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(s.fields ++ posFields))
    val seqOf = dataSeqOf(m)
    def physNames(seq: Long): Seq[String] =
      s.fields.toSeq.map(f => physicalName(m, f.name, seq))
    // type-promotion eras: a file written before an ALTER COLUMN … TYPE
    // stores the narrower physical type; its era scans under that type and
    // upcasts — parquet readers cannot read e.g. INT32 pages as longs
    def physTypes(seq: Long): Seq[DataType] =
      s.fields.toSeq.map(f => physicalType(m, f.name, f.dataType, seq))
    // initial-default eras: a file written BEFORE an ADD COLUMN … DEFAULT
    // does not store the column at all — its rows read the frozen default
    // recorded at add time, projected as a literal (never coalesce: a
    // post-add NULL stays NULL). Part of the group key so pre-add and
    // post-add files land in different scans.
    def initDefaults(seq: Long): Seq[Option[String]] =
      s.fields.toSeq.map(f => GraftTable.initialDefaultOf(m, f.name, seq))
    // lineage groups: files that MATERIALIZE row ids scan the physical
    // `__row_id`/`__last_seq` columns; non-materialized files surface
    // typed nulls and the caller resolves via firstRowId + position
    def hasLineage(f: DataFile): Boolean = withLineage && f.lineage
    files.groupBy(f =>
        (f.base, layoutOf(f), physNames(seqOf(f)), physTypes(seqOf(f)),
          initDefaults(seqOf(f)), hasLineage(f)))
      .toSeq
      .sortBy { case ((base, layout, names, types, dflts, lin), _) =>
        (base.getOrElse(""), layout.mkString(","), names.mkString(","),
          types.map(_.simpleString).mkString(",") +
            dflts.flatten.mkString("|") + lin) }
      .map { case ((base, _, names, types, dflts, lin), group) =>
        val physSchema = StructType(s.fields.zip(names).zip(types)
          .map { case ((f, n), t) => f.copy(name = n, dataType = t) } ++
          (if (lin) Seq(StructField("__row_id", LongType),
            StructField("__last_seq", LongType)) else Seq.empty))
        val posCols = if (withPos) Seq(
          regexp_replace(col("_metadata.file_path"), "^.*/data/", "").as("__file"),
          col("_metadata.row_index").as("__pos"))
        else Seq.empty
        val lineageCols = if (!withLineage) Seq.empty else if (lin)
          Seq(col("__row_id").as("__mrid"), col("__last_seq").as("__mseq"))
        else Seq(lit(null).cast(LongType).as("__mrid"),
          lit(null).cast(LongType).as("__mseq"))
        spark.read
          .schema(physSchema)
          // per-group base: hive partition recovery resolves against the
          // group's own data root (a clone's external entries recover
          // partition values from the SOURCE's directory layout)
          .option("basePath", base.getOrElse(dataDir))
          .parquet(group.map(fileLoc): _*)
          .select((s.fields.zip(names).zip(types).toSeq.zip(dflts)
            .map { case (((f, n), t), dflt) =>
              dflt match {
                case Some(dsql) => expr(dsql).cast(f.dataType).as(f.name)
                case None if t == f.dataType => col(n).as(f.name)
                case None => col(n).cast(f.dataType).as(f.name)
              }
            } ++ posCols ++ lineageCols).toIndexedSeq: _*)
      }
      .reduce(_.unionByName(_))
  }

  /** Read `subset` of a snapshot's files with its merge-on-read deletes
    * applied. A delete hides a row only when the row's file is older than
    * the delete (file data sequence `__fseq` < delete sequence `__dseq`),
    * and that rule is stated once, as a join predicate: one scan of
    * `subset` picks up each row's `__fseq` (and its row-lineage inputs)
    * through one broadcast join of the driver-resident file list
    * (metadata ≪ data — no shuffle), then each delete kind is one
    * anti-join against the union of that kind's files — null-safe on the
    * keys per current key-column set for equality deletes, on (file, row
    * index) for position deletes, a broadcast per-file run probe for
    * deletion vectors — whatever the number of delete commits. Delete
    * files no newer than every file in `subset` are pruned on the driver;
    * with none left the read is join-free. */
  private def readWithDeletes(snap: Option[GraftSnapshot], m: TableMetadata,
      subset: Seq[DataFile], keepPos: Boolean = false,
      keepLineage: Boolean = false): DataFrame = {
    val s = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val posFields =
      (if (keepPos) Seq(StructField("__file", StringType), StructField("__pos", LongType))
      else Seq.empty) ++
        (if (keepLineage) Seq(StructField("__row_id", LongType),
          StructField("__last_seq", LongType)) else Seq.empty)
    if (snap.isEmpty || subset.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(s.fields ++ posFields))
    val seqOf = dataSeqOf(m)
    val oldest = subset.map(seqOf).min
    val dels = snap.get.deleteFiles.filter(_.seq > oldest)
    val scanned = plainReadImpl(m, s, subset,
      withPos = keepPos || keepLineage || dels.nonEmpty, withLineage = keepLineage)
    if (dels.isEmpty && !keepLineage) return scanned
    val sp = spark
    import sp.implicits._
    val fileMeta = subset.map(f => (f.path,
        f.firstRowId.map(Long.box).orNull: java.lang.Long, seqOf(f)))
      .toDF("__lfile", "__frid", "__fseq")
    val withMeta = scanned.join(broadcast(fileMeta), col("__file") === col("__lfile"))
    // row lineage (Iceberg v3): a materialized cell wins; a NULL cell (or
    // a non-materialized file) inherits firstRowId + position for the id
    // and the file's data sequence for the last-updated number
    val base = if (!keepLineage) withMeta else withMeta
      .withColumn("__row_id", coalesce(col("__mrid"), col("__frid") + col("__pos")))
      .withColumn("__last_seq", coalesce(col("__mseq"), col("__fseq")))
    // one anti-join per delete kind (per key set for equality deletes)
    // against the union of its files, each row tagged with its sequence
    def anti(df: DataFrame, kind: Seq[DeleteFile], on: Column,
        bcast: Boolean = false)(rows: DeleteFile => DataFrame): DataFrame =
      if (kind.isEmpty) df else {
        val del = kind.map(d => rows(d).withColumn("__dseq", lit(d.seq)))
          .reduce(_.unionByName(_))
        df.join(if (bcast) broadcast(del) else del,
          on && col("__fseq") < col("__dseq"), "left_anti")
      }
    val eqApplied = dels.filterNot(d => d.isPositional || d.isDv)
      .groupBy(d => d.keyCols.map(k => declaredNameNow(m, k, d.seq)).sorted)
      .toSeq.sortBy(_._1.mkString(","))
      .foldLeft(base) { case (df, (keys, group)) =>
        anti(df, group, nullSafeKeyMatch(keys))(equalityDeleteKeys(m, s, _)._2) }
    val posApplied = anti(eqApplied, dels.filter(_.isPositional),
        col("__file") === col("__delf") && col("__pos") === col("__delp"))(d =>
      readDeleteContent(d).select(col("__file").as("__delf"), col("__pos").as("__delp")))
    // deletion vectors: per-file run-length bitsets probed per scanned row
    // (native DvContains, O(log runs)) against a broadcast of one compact
    // row per affected data file and DV commit — an anti-join, so two DVs
    // on one file hide the union of their rows without duplicating any
    val applied = anti(posApplied, dels.filter(_.isDv), col("__file") === col("__delf") &&
        graft.functions.GraftFunctions.dv_contains(col("__runs"), col("__pos")),
        bcast = true)(d => spark.read.parquet(s"$dataDir/${d.path}")
      .select(col("__file").as("__delf"), col("__runs")))
    applied.select((s.fields.map(f => col(f.name)) ++
      posFields.map(f => col(f.name))).toIndexedSeq: _*)
  }

  /** An equality-delete file's key tuples as `__del_<k>` columns, `k` the
    * key's CURRENT declared name (keys are recorded under the names
    * current at the delete's commit; later renames map forward), cast to
    * the declared type so deletes written across a type promotion union
    * together. */
  private def equalityDeleteKeys(m: TableMetadata, s: StructType,
      d: DeleteFile): (Seq[String], DataFrame) = {
    val now = d.keyCols.map(k => declaredNameNow(m, k, d.seq))
    now -> readDeleteContent(d).select(d.keyCols.zip(now).map { case (k, n) =>
      col(k).cast(s(n).dataType).as(s"__del_$n") }.toIndexedSeq: _*)
  }

  /** Null-safe match of a table row against [[equalityDeleteKeys]] —
    * Iceberg's equality-delete contract: null equals null, so a recorded
    * null-key tuple deletes null rows. */
  private def nullSafeKeyMatch(keys: Seq[String]): Column =
    keys.map(k => col(k) <=> col(s"__del_$k")).reduce(_ && _)

  // ---------------------------------------------------------------------
  // Write paths
  // ---------------------------------------------------------------------

  /** V2-append equivalent (reference IcebergLoadActivityTask.scala:64-67
    * `df.writeTo(t).append()`). With `mergeSchema=true` semantics: incoming
    * columns are aligned/cast to the table schema; brand-new columns widen
    * the stored schema (union), missing columns become nulls. */
  def append(df: DataFrame, branch: Option[String] = None,
      extraSummary: Map[String, String] = Map.empty): GraftSnapshot =
    withCommitLock {
      val m = meta
      val widened = maybeWidenSchema(m, df)
      val files = writeDataFiles(df, DataType.fromJson(widened.schemaJson).asInstanceOf[StructType], widened.partitionCols)
      // optimistic-concurrency retry, appends only (Iceberg commit.retry):
      // an append's read set is just "the branch head", so on a conflicting
      // foreign DATA commit the already-written files re-commit against
      // fresh metadata unchanged. A foreign SCHEMA/SPEC commit (type
      // promotion, rename, spec evolution — possible from another process;
      // withCommitLock only covers this JVM) is different: the staged
      // files carry the pre-change physical schema/layout, but a re-commit
      // would stamp them with a post-change dataSeq, so era resolution
      // would read them under the wrong physical type/name — rewrite them
      // under the fresh schema before re-committing. CoW/MoR operations
      // propagate the conflict — their probe results may be stale, so the
      // CALLER must re-run them.
      var attempt = 0
      var result: GraftSnapshot = null
      var base = widened
      var staged = files
      while (result == null) {
        try {
          if (attempt > 0) {
            val fresh = maybeWidenSchema(meta, df)
            if (fresh.schemaJson != base.schemaJson ||
                fresh.partitionCols != base.partitionCols) {
              staged.foreach(f =>
                scala.util.Try(fs.delete(new Path(dataDir, f.path), false)))
              staged = writeDataFiles(df,
                DataType.fromJson(fresh.schemaJson).asInstanceOf[StructType],
                fresh.partitionCols)
            }
            base = fresh
          }
          result = commitSnapshot(base, staged, removed = Seq.empty,
            operation = "append", branch, extraSummary = extraSummary)
        } catch {
          case _: CommitLostException if attempt < 12 =>
            attempt += 1
            // jittered linear backoff so competing processes desynchronize
            // (Iceberg commit.retry.min-wait-ms equivalent)
            Thread.sleep(attempt * 20L + scala.util.Random.nextInt(40).toLong)
        }
      }
      // opt-in incremental NDV maintenance: sketch ONLY the delta (one
      // O(columns) aggregation over df) and hll_union it into the stored
      // sketches — the mergeability that makes write-time stats O(delta),
      // never a table rescan. Best-effort: a stats failure must not fail
      // the committed append.
      if (branch.isEmpty &&
          properties.getOrElse("write.stats.ndv.enabled", "false") == "true")
        scala.util.Try(advanceColumnStats(df, result.id)).failed
          .foreach(e => log.warn(
            s"[graft] incremental stats update failed (recompute via " +
              s"CALL compute_table_stats): $e"))
      result
    }

  /** Replace the entire table contents (CTAS-replace / compaction target). */
  def overwrite(df: DataFrame, operation: String = "overwrite",
      branch: Option[String] = None): GraftSnapshot =
    withCommitLock {
      val m = meta
      val head = resolveWriteBranchHead(m, branch)
      val removed = head.map(_.files.map(_.path)).getOrElse(Seq.empty)
      // compaction ("replace") arranges its own layout (repartition +
      // sortWithinPartitions); re-applying the distribution mode would
      // reshuffle AFTER that sort and silently destroy within-file order
      val files = writeDataFiles(df, DataType.fromJson(m.schemaJson).asInstanceOf[StructType], m.partitionCols,
        applyDistribution = operation != "replace")
      commitSnapshot(m, files, removed, operation, branch)
    }

  /**
   * MERGE INTO rebuild (reference IcebergLoadActivityTask.scala:68-76):
   * upsert `source` into this table keyed on `keys`.
   *
   *  - matched rows: columns in `updateCols` (empty = all non-key columns)
   *    take the source value, others keep the target value;
   *  - unmatched source rows are inserted whole (`WHEN NOT MATCHED INSERT *`).
   *
   * Copy-on-write at file granularity: only the files holding matched
   * target rows are rewritten; pure inserts just add files. Handles merge
   * keys that move a row across partitions (the update rewrites the old
   * file and the row lands in its new partition's fresh file).
   *
   * `source` must be unique per key (standard MERGE cardinality rule).
   */
  def merge(source: DataFrame, keys: Seq[String],
      updateCols: Seq[String] = Seq.empty,
      insertNotMatched: Boolean = true,
      branch: Option[String] = None,
      extraSummary: Map[String, String] = Map.empty,
      deleteMatched: Boolean = false,
      nullSafeKeys: Boolean = false): GraftSnapshot =
    withCommitLock {
      require(!(deleteMatched && updateCols.nonEmpty),
        "MERGE: WHEN MATCHED THEN DELETE and UPDATE SET are mutually exclusive")
      val m = meta
      val tableSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val cols = tableSchema.fields.map(_.name).toSeq
      val updates = if (updateCols.isEmpty) cols.filterNot(keys.contains) else updateCols
      val alignedSrc = source.select(tableSchema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)

      val head = resolveWriteBranchHead(m, branch)
      // plain-files read: the probe's input_file_name() cannot span the
      // multi-source delete-applying plan; over-approximating affected
      // files is harmless since the rewrite reads through the deletes
      val current = plainRead(m, tableSchema,
        head.map(_.files).getOrElse(Seq.empty))

      if (head.forall(_.files.isEmpty)) {
        // empty target: MERGE degenerates to insert-all
        val files =
          if (insertNotMatched) writeDataFiles(alignedSrc, tableSchema, m.partitionCols)
          else Seq.empty
        commitSnapshot(m, files, Seq.empty, "merge", branch,
          extraSummary = extraSummary)
      } else mergeNonEmpty(m, tableSchema, cols, updates, alignedSrc, head, current,
        keys, insertNotMatched, branch, extraSummary, deleteMatched, nullSafeKeys)
    }

  private def mergeNonEmpty(m: TableMetadata, tableSchema: StructType,
      cols: Seq[String], updates: Seq[String], alignedSrc: DataFrame,
      head: Option[GraftSnapshot], current: DataFrame, keys: Seq[String],
      insertNotMatched: Boolean, branch: Option[String],
      extraSummary: Map[String, String] = Map.empty,
      deleteMatched: Boolean = false,
      nullSafeKeys: Boolean = false): GraftSnapshot = {
      // MERGE cardinality rule: a target row must match at most one source
      // row; duplicate source keys would silently multiply rows through the
      // join, so fail fast with the offending count (one cheap agg job).
      // Null-key source rows can never match (SQL MERGE joins null-unsafely)
      // so only fully-non-null keys count toward the duplicate check —
      // unless nullSafeKeys (the changelog-retraction mode, Iceberg
      // equality-delete <=> semantics), where null keys DO match and count.
      val keysNotNull =
        if (nullSafeKeys) lit(true)
        else keys.map(col(_).isNotNull).reduce(_ && _)
      val srcCard = alignedSrc.filter(keysNotNull).agg(
        count(lit(1)).as("n"),
        countDistinct(struct(keys.map(col).toIndexedSeq: _*)).as("d")).collect().head
      require(srcCard.getLong(0) == srcCard.getLong(1),
        s"MERGE source has ${srcCard.getLong(0) - srcCard.getLong(1)} duplicate " +
          s"rows on key (${keys.mkString(", ")}); deduplicate the source first")
      // 1. which FILES contain matched keys? File-level copy-on-write: a
      // column-pruned semi-join tagging each target row with its source
      // file (input_file_name) finds exactly the files holding matches —
      // a partition with a thousand files where one file matches rewrites
      // one file (the same probe Iceberg's CoW MERGE runs over _file).
      val srcKeys = alignedSrc
        .select(keys.map(k => col(k).as(s"__sk_$k")).toIndexedSeq: _*).distinct()
      val probeCond = keys.map(k =>
        if (nullSafeKeys) col(k) <=> col(s"__sk_$k")
        else col(k) === col(s"__sk_$k")).reduce(_ && _)
      val matchedFilePaths: Set[String] = current
        .select((keys.map(col) :+ input_file_name().as("__file")).toIndexedSeq: _*)
        .join(srcKeys, probeCond, "left_semi")
        .select("__file").distinct()
        .collect().map(_.getString(0)).toSet

      val headFiles = head.map(_.files).getOrElse(Seq.empty)
      val (affectedFiles, _) = partitionAffected(headFiles, matchedFilePaths)

      // 2. rewrite affected files with merged contents + all inserts
      // (through the delete-applying read: a CoW rewrite of a file with
      // pending MoR deletes must not resurrect the deleted rows)
      val target = readWithDeletes(head, m, affectedFiles, keepLineage = true)

      val t = target.withColumn("__tgt", lit(1))
      val sFlagged = alignedSrc
        .select(cols.map(c => col(c).as(s"__s_$c")).toIndexedSeq: _*)
        .withColumn("__src", lit(1))
      // Null-unsafe equality, matching both the file probe above and SQL
      // MERGE semantics: a null-key target row never matches (kept as-is),
      // a null-key source row never matches (inserted). A null-safe <=> here
      // would make the outcome depend on which file a null-key row sits in —
      // except under nullSafeKeys, where the probe is <=> too, so every
      // file holding a null-key row IS in the rewrite set and the outcome
      // is file-placement-independent.
      val joinCond = keys.map(k =>
        if (nullSafeKeys) t(k) <=> sFlagged(s"__s_$k")
        else t(k) === sFlagged(s"__s_$k")).reduce(_ && _)
      val joined = t.join(sFlagged, joinCond, "full_outer")

      // row lineage: matched rows keep their id and take the new file's
      // sequence (NULL materialized cell inherits it); source-only inserts
      // get fresh ids (target-side columns are null through the full
      // outer join); carryover rows keep both
      val isTouched = col("__tgt").isNotNull && col("__src").isNotNull
      val lineageOut = Seq(col("__row_id"),
        when(isTouched, lit(null)).otherwise(col("__last_seq"))
          .cast("long").as("__last_seq"))
      val merged = joined
        .select((cols.map { c =>
          val fromSrc = col(s"__s_$c")
          val out =
            if (keys.contains(c)) coalesce(col(c), fromSrc)
            else if (updates.contains(c))
              when(col("__src").isNotNull, fromSrc).otherwise(col(c))
            else
              when(col("__tgt").isNull, fromSrc).otherwise(col(c))
          out.as(c)
        } ++ lineageOut).toIndexedSeq: _*)
      val result =
        if (deleteMatched)
          // WHEN MATCHED THEN DELETE: matched rows vanish; unmatched target
          // rows carry over; unmatched source rows insert when requested
          joined
            .filter(!(col("__tgt").isNotNull && col("__src").isNotNull))
            .filter(if (insertNotMatched) lit(true) else col("__tgt").isNotNull)
            .select((cols.map(c =>
              when(col("__tgt").isNull, col(s"__s_$c")).otherwise(col(c)).as(c))
              ++ lineageOut).toIndexedSeq: _*)
        else if (insertNotMatched) merged
        else joined.filter(col("__tgt").isNotNull).select((cols.map { c =>
          val out =
            if (updates.contains(c))
              when(col("__src").isNotNull, col(s"__s_$c")).otherwise(col(c))
            else col(c)
          out.as(c)
        } ++ lineageOut).toIndexedSeq: _*)

      val newFiles = writeDataFiles(result, tableSchema, m.partitionCols)
      commitSnapshot(m, newFiles, affectedFiles.map(_.path), "merge", branch,
        extraSummary = extraSummary)
    }

  /**
   * General copy-on-write MERGE with the full Spark-4 / Iceberg clause
   * surface (Iceberg's `RewriteMergeIntoTable` shape): conditional
   * `WHEN MATCHED AND …`, several MATCHED / NOT MATCHED clauses evaluated
   * in order (first whose condition holds wins), and `WHEN NOT MATCHED BY
   * SOURCE THEN UPDATE/DELETE`. The rewrite is one conditional-cascade
   * projection over the same full-outer join [[merge]] runs — no extra
   * shuffles versus the unconditional form.
   *
   * `keys` maps each target ON column to its source expression (over the
   * RAW source columns). Clause conditions and values follow the
   * [[MergeClause]] namespace contract: target columns by bare name,
   * source columns via [[MergeClause.src]].
   *
   * File-level CoW: without NOT-MATCHED-BY-SOURCE clauses only the files
   * holding key-matched rows rewrite (same `input_file_name` probe as
   * [[merge]]); with them every target row must be inspected, so all head
   * files rewrite — exactly Iceberg's cost model for that clause.
   */
  /** Clause-shape and assignment-name validation shared by the CoW and
    * MoR general merges — runs AFTER late binding (round 17), so
    * correlated-SQL clause thunks are validated on their bound form. */
  private def validateMergeClauses(cols: Seq[String],
      matched: Seq[MergeClause], notMatched: Seq[MergeClause],
      notMatchedBySource: Seq[MergeClause]): Unit = {
    matched.foreach(c => require(!c.isInstanceOf[MergeClause.Insert],
      "WHEN MATCHED clauses must UPDATE or DELETE"))
    notMatched.foreach(c => require(c.isInstanceOf[MergeClause.Insert],
      "WHEN NOT MATCHED clauses must INSERT"))
    notMatchedBySource.foreach(c => require(!c.isInstanceOf[MergeClause.Insert],
      "WHEN NOT MATCHED BY SOURCE clauses must UPDATE or DELETE"))
    (matched ++ notMatched ++ notMatchedBySource).foreach {
      case MergeClause.Update(_, set) => set.foreach { case (c, _) =>
        require(cols.contains(c), s"MERGE assigns unknown column $c") }
      case MergeClause.Insert(_, vs) => vs.foreach { case (c, _) =>
        require(cols.contains(c), s"MERGE inserts unknown column $c") }
      case _: MergeClause.Delete =>
    }
  }

  def mergeInto(source: DataFrame, keys: Seq[(String, Column)],
      matched: Seq[MergeClause] = Seq.empty,
      notMatched: Seq[MergeClause] = Seq.empty,
      notMatchedBySource: Seq[MergeClause] = Seq.empty,
      branch: Option[String] = None,
      extraSummary: Map[String, String] = Map.empty): GraftSnapshot =
    mergeIntoBound(source, keys,
      matched.map(c => (_: DataFrame) => c),
      notMatched.map(c => (_: DataFrame) => c),
      notMatchedBySource.map(c => (_: DataFrame) => c),
      branch, extraSummary)

  /** [[mergeInto]] with LATE-BOUND clauses (round 17): each thunk
    * receives the merge's JOINED frame (target columns bare, source
    * columns `__s_`-prefixed, plus `__k_`/`__tgt`/`__src` internals) and
    * returns the clause with condition/value Columns resolved against it
    * — the seam correlated SQL subqueries re-bind through
    * ([[graft.sql.MergeClauseSpec]]'s exprId-preserving binding; Spark 4
    * plans correlated predicate and scalar subqueries under Project, so
    * the bound Columns ride the cascade unchanged). Clause-list EMPTINESS
    * must be statically faithful: the target side pre-shrinks to matched
    * files only when no NOT-MATCHED-BY-SOURCE thunks exist. */
  def mergeIntoBound(source: DataFrame, keys: Seq[(String, Column)],
      matched: Seq[DataFrame => MergeClause],
      notMatched: Seq[DataFrame => MergeClause],
      notMatchedBySource: Seq[DataFrame => MergeClause],
      branch: Option[String] = None,
      extraSummary: Map[String, String] = Map.empty): GraftSnapshot =
    withCommitLock {
      require(keys.nonEmpty, "MERGE requires at least one ON key")
      val m = meta
      val tableSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val cols = tableSchema.fields.map(_.name).toSeq
      keys.foreach { case (k, _) => require(cols.contains(k),
        s"MERGE ON references unknown target column $k") }

      val keyNames = keys.map(_._1)
      val srcCols = source.columns.toSeq
      require(srcCols.distinct.size == srcCols.size,
        "MERGE source has duplicate column names; alias them apart first")
      // source projected ONCE: evaluated key expressions + every raw source
      // column under the clause namespace's __s_ prefix
      val prepared = source.select(
        (keys.map { case (k, e) => e.as(s"__k_$k") } ++
          srcCols.map(c => col(c).as(s"__s_$c"))).toIndexedSeq: _*)

      // MERGE cardinality rule, as in [[merge]]: null-keyed source rows can
      // never match, so only fully-non-null key tuples count as duplicates
      val keysNotNull = keyNames.map(k => col(s"__k_$k").isNotNull).reduce(_ && _)
      val srcCard = prepared.filter(keysNotNull).agg(
        count(lit(1)).as("n"),
        countDistinct(struct(keyNames.map(k => col(s"__k_$k")).toIndexedSeq: _*)).as("d"))
        .collect().head
      require(srcCard.getLong(0) == srcCard.getLong(1),
        s"MERGE source has ${srcCard.getLong(0) - srcCard.getLong(1)} duplicate " +
          s"rows on key (${keyNames.mkString(", ")}); deduplicate the source first")

      val head = resolveWriteBranchHead(m, branch)
      val headFiles = head.map(_.files).getOrElse(Seq.empty)
      val affectedFiles =
        if (notMatchedBySource.nonEmpty) headFiles
        else {
          val current = plainRead(m, tableSchema, headFiles)
          val srcKeys = prepared
            .select(keyNames.map(k => col(s"__k_$k").as(k)).toIndexedSeq: _*).distinct()
          val matchedFilePaths: Set[String] = current
            .select((keyNames.map(col) :+ input_file_name().as("__file")).toIndexedSeq: _*)
            .join(srcKeys, keyNames, "left_semi")
            .select("__file").distinct()
            .collect().map(_.getString(0)).toSet
          partitionAffected(headFiles, matchedFilePaths)._1
        }

      val target = readWithDeletes(head, m, affectedFiles, keepLineage = true)
        .withColumn("__tgt", lit(1))
      val s = prepared.withColumn("__src", lit(1))
      // null-unsafe key equality, matching both the file probe and SQL MERGE
      val joinCond = keyNames.map(k => target(k) === s(s"__k_$k")).reduce(_ && _)
      val joined = target.join(s, joinCond, "full_outer")
      val matchedC = matched.map(_(joined))
      val notMatchedC = notMatched.map(_(joined))
      val nmbsC = notMatchedBySource.map(_(joined))
      validateMergeClauses(cols, matchedC, notMatchedC, nmbsC)

      val isMatched = col("__tgt").isNotNull && col("__src").isNotNull
      val isSrcOnly = col("__tgt").isNull
      import GraftTable.MergeCascade.{keepChain, touchedChain, valChain}

      val keep = when(isMatched, keepChain(matchedC, default = true))
        .when(isSrcOnly, keepChain(notMatchedC, default = false))
        .otherwise(keepChain(nmbsC, default = true))
      val outCols = tableSchema.fields.map { f =>
        when(isMatched, valChain(matchedC, f.name, col(f.name)))
          .when(isSrcOnly, valChain(notMatchedC, f.name, lit(null),
            insertMissing = GraftTable.writeDefaultSqlOf(f).map(expr)
              .getOrElse(lit(null))))
          .otherwise(valChain(nmbsC, f.name, col(f.name)))
          .cast(f.dataType).as(f.name)
      }
      // row lineage: a row a clause FIRED on (updated) keeps its id and
      // takes the new file's sequence; src-only inserts are fresh (target
      // columns null through the join); untouched carryovers keep both
      val rowTouched = when(isMatched, touchedChain(matchedC))
        .when(isSrcOnly, lit(true))
        .otherwise(touchedChain(nmbsC))
      val lineageOut = Seq(col("__row_id"),
        when(coalesce(rowTouched, lit(false)), lit(null))
          .otherwise(col("__last_seq")).cast("long").as("__last_seq"))
      val result = joined.filter(keep)
        .select((outCols.toSeq ++ lineageOut).toIndexedSeq: _*)

      val newFiles = writeDataFiles(result, tableSchema, m.partitionCols)
      commitSnapshot(m, newFiles, affectedFiles.map(_.path), "merge", branch,
        extraSummary = extraSummary)
    }

  /**
   * Merge-on-read twin of [[mergeInto]] (tblproperty
   * `write.merge.mode=merge-on-read`, the reference's own setting —
   * IcebergLoadActivityTask.scala:31): the same full general clause
   * surface, committed as ONE equality-delete file (the keys of every row
   * a clause actually fired on) plus an append of the post-clause rows —
   * O(changed rows) regardless of file sizes, never a file rewrite.
   * Matched rows where NO clause fires are untouched (not deleted, not
   * rewritten). `keys` must uniquely identify target rows, the standing
   * MoR-merge contract. Without NOT-MATCHED-BY-SOURCE clauses only
   * key-matched target rows join; with them every target row is
   * inspected (the delete file is still O(rows a clause fired on)).
   */
  def mergeIntoMoR(source: DataFrame, keys: Seq[(String, Column)],
      matched: Seq[MergeClause] = Seq.empty,
      notMatched: Seq[MergeClause] = Seq.empty,
      notMatchedBySource: Seq[MergeClause] = Seq.empty,
      branch: Option[String] = None,
      extraSummary: Map[String, String] = Map.empty): GraftSnapshot =
    mergeIntoMoRBound(source, keys,
      matched.map(c => (_: DataFrame) => c),
      notMatched.map(c => (_: DataFrame) => c),
      notMatchedBySource.map(c => (_: DataFrame) => c),
      branch, extraSummary)

  /** [[mergeIntoMoR]] with LATE-BOUND clauses — [[mergeIntoBound]]'s
    * merge-on-read twin (round 17); the same joined-frame binding seam
    * for correlated SQL clause conditions/values. */
  def mergeIntoMoRBound(source: DataFrame, keys: Seq[(String, Column)],
      matched: Seq[DataFrame => MergeClause],
      notMatched: Seq[DataFrame => MergeClause],
      notMatchedBySource: Seq[DataFrame => MergeClause],
      branch: Option[String] = None,
      extraSummary: Map[String, String] = Map.empty): GraftSnapshot =
    withCommitLock {
      require(keys.nonEmpty, "MERGE requires at least one ON key")
      val m = meta
      val tableSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val cols = tableSchema.fields.map(_.name).toSeq
      keys.foreach { case (k, _) => require(cols.contains(k),
        s"MERGE ON references unknown target column $k") }
      val keyNames = keys.map(_._1)
      val srcCols = source.columns.toSeq
      require(srcCols.distinct.size == srcCols.size,
        "MERGE source has duplicate column names; alias them apart first")
      val prepared = source.select(
        (keys.map { case (k, e) => e.as(s"__k_$k") } ++
          srcCols.map(c => col(c).as(s"__s_$c"))).toIndexedSeq: _*)
      val keysNotNull = keyNames.map(k => col(s"__k_$k").isNotNull).reduce(_ && _)
      val srcCard = prepared.filter(keysNotNull).agg(
        count(lit(1)).as("n"),
        countDistinct(struct(keyNames.map(k => col(s"__k_$k")).toIndexedSeq: _*)).as("d"))
        .collect().head
      require(srcCard.getLong(0) == srcCard.getLong(1),
        s"MERGE source has ${srcCard.getLong(0) - srcCard.getLong(1)} duplicate " +
          s"rows on key (${keyNames.mkString(", ")}); deduplicate the source first")

      val head = resolveWriteBranchHead(m, branch)
      // delete-applied live state, with lineage: an appended row version
      // keeps its target row id (null for fresh inserts) and inherits the
      // append file's sequence (materialized null)
      val current = readWithDeletes(head, m,
        head.map(_.files).getOrElse(Seq.empty), keepLineage = true)
      // without NMBS clauses only key-matched target rows can change, so
      // the join's target side pre-shrinks to them (a broadcast-able
      // semi-join against the source keys, never the whole table)
      val target0 =
        if (notMatchedBySource.nonEmpty) current
        else {
          val srcKeys = prepared
            .select(keyNames.map(k => col(s"__k_$k").as(k)).toIndexedSeq: _*).distinct()
          current.join(srcKeys, keyNames, "left_semi")
        }
      val target = target0.withColumn("__tgt", lit(1))
      val s = prepared.withColumn("__src", lit(1))
      val joinCond = keyNames.map(k => target(k) === s(s"__k_$k")).reduce(_ && _)
      val joined = target.join(s, joinCond, "full_outer")
      val matchedC = matched.map(_(joined))
      val notMatchedC = notMatched.map(_(joined))
      val nmbsC = notMatchedBySource.map(_(joined))
      validateMergeClauses(cols, matchedC, notMatchedC, nmbsC)

      val isMatched = col("__tgt").isNotNull && col("__src").isNotNull
      val isSrcOnly = col("__tgt").isNull
      import GraftTable.MergeCascade.{keepChain, touchedChain, valChain}

      // a row enters the DELETE FILE iff a clause fired on it (update =
      // delete-then-reinsert; delete = delete only); untouched rows never
      // pay a delete entry
      val touched = when(isMatched, touchedChain(matchedC))
        .when(isSrcOnly, lit(false))
        .otherwise(touchedChain(nmbsC))
      // a row is APPENDED iff it survives with a fired Update (matched /
      // NMBS) or a fired Insert (source-only)
      val appendRow = when(isMatched, touchedChain(matchedC) && keepChain(matchedC, default = true))
        .when(isSrcOnly, keepChain(notMatchedC, default = false))
        .otherwise(touchedChain(nmbsC) &&
          keepChain(nmbsC, default = true))
      val outCols = tableSchema.fields.map { f =>
        when(isMatched, valChain(matchedC, f.name, col(f.name)))
          .when(isSrcOnly, valChain(notMatchedC, f.name, lit(null),
            insertMissing = GraftTable.writeDefaultSqlOf(f).map(expr)
              .getOrElse(lit(null))))
          .otherwise(valChain(nmbsC, f.name, col(f.name)))
          .cast(f.dataType).as(f.name)
      }
      val delKeys = joined.filter(touched)
        .select(keyNames.map(col).toIndexedSeq: _*).distinct()
      val lineageOut = Seq(col("__row_id"),
        lit(null).cast("long").as("__last_seq"))
      val appended = joined.filter(appendRow)
        .select((outCols.toSeq ++ lineageOut).toIndexedSeq: _*)

      val newFiles = writeDataFiles(appended, tableSchema, m.partitionCols)
      commitSnapshot(m, newFiles, Seq.empty, "merge", branch,
        addedDeletes = writeDeleteFiles(delKeys, keyNames),
        extraSummary = extraSummary)
    }

  /** Copy-on-write DELETE (reference tblproperty write.delete.mode=copy-on-write,
    * IcebergLoadActivityTask.scala:29): rewrite only the FILES containing
    * matching rows (input_file_name probe, same shape as merge). */
  def deleteWhere(cond: Column, branch: Option[String] = None): GraftSnapshot =
    withCommitLock {
      val m = meta
      val tableSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val head = resolveWriteBranchHead(m, branch)
      // plain-files read: the probe's input_file_name() cannot span the
      // multi-source delete-applying plan; over-approximating affected
      // files is harmless since the rewrite reads through the deletes
      val current = plainRead(m, tableSchema,
        head.map(_.files).getOrElse(Seq.empty))
      val matchedFilePaths: Set[String] = current.filter(cond)
        .select(input_file_name().as("__file")).distinct()
        .collect().map(_.getString(0)).toSet
      val headFiles = head.map(_.files).getOrElse(Seq.empty)
      val (affectedFiles, _) = partitionAffected(headFiles, matchedFilePaths)
      if (affectedFiles.isEmpty) {
        commitSnapshot(m, Seq.empty, Seq.empty, "delete", branch)
      } else {
        // SQL DELETE removes only rows where cond is TRUE; rows where cond
        // evaluates to NULL must be KEPT, so the keep-filter is
        // NOT coalesce(cond, false) — a bare !cond would silently drop them
        val kept = readWithDeletes(head, m, affectedFiles, keepLineage = true)
          .filter(not(coalesce(cond, lit(false))))
        val newFiles = writeDataFiles(kept, tableSchema, m.partitionCols)
        commitSnapshot(m, newFiles, affectedFiles.map(_.path), "delete", branch)
      }
    }

  /**
   * Merge-on-read DELETE (tblproperty `write.delete.mode=merge-on-read`,
   * which the reference sets for update/merge — reference
   * IcebergLoadActivityTask.scala:29-31): instead of rewriting data files,
   * commit an equality-delete file of the matched rows' `keyCols` tuples.
   * The write is O(matched keys) regardless of file sizes — the
   * high-churn-table trade Iceberg MoR makes — and readers anti-join the
   * delete file until a compaction (`rewriteDataFiles*`) materializes it.
   * Keys appended AFTER the delete are live again (sequence semantics).
   * `keyCols` must uniquely identify rows to delete exactly the matches;
   * matching is null-safe (null equals null), Iceberg's equality-delete
   * contract, so a null-keyed match is recorded and deleted too.
   */
  def deleteWhereMoR(cond: Column, keyCols: Seq[String],
      branch: Option[String] = None): GraftSnapshot =
    withCommitLock {
      val m = meta
      val tableSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      keyCols.foreach(k => require(tableSchema.fieldNames.contains(k),
        s"MoR delete references unknown column $k"))
      val head = resolveWriteBranchHead(m, branch)
      val keys = scan(head, m).filter(cond)
        .select(keyCols.map(col).toIndexedSeq: _*).distinct()
      commitSnapshot(m, Seq.empty, Seq.empty, "delete", branch,
        addedDeletes = writeDeleteFiles(keys, keyCols))
    }

  /**
   * Merge-on-read POSITION delete: mark exact physical rows — identified
   * by (data-file-relative path, parquet row index) from Spark's
   * `_metadata` columns — as deleted, without key columns and without
   * rewriting files. This deletes a single row even among full duplicates,
   * which no equality predicate can express. Same sequence semantics and
   * compaction behavior as equality deletes.
   */
  def deleteWherePositional(cond: Column,
      branch: Option[String] = None): GraftSnapshot =
    withCommitLock {
      val m = meta
      val tableSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val head = resolveWriteBranchHead(m, branch)
      val positions = plainReadWithPos(m, tableSchema,
        head.map(_.files).getOrElse(Seq.empty))
        .filter(cond)
        .select(col("__file"), col("__pos"))
      commitSnapshot(m, Seq.empty, Seq.empty, "delete", branch,
        addedDeletes =
          if (dvEnabled) writeDvFiles(positions)
          else writeDeleteFiles(positions, Seq("__file", "__pos"),
            kind = "position"))
    }

  /**
   * Row-level DELETE whose condition carries a CORRELATED subquery
   * (round 16: `WHERE EXISTS (SELECT … WHERE k.id = t.id)` and correlated
   * IN — SQL surface in [[graft.sql.GraftDeleteRule]]). The condition is
   * evaluated ONCE as a Filter over a position-bearing scan — the plan
   * position Catalyst fully decorrelates into a stock semi/anti join —
   * and the commit keys off the matched `(__file, __pos)` row identities,
   * so the (possibly expensive) subquery never re-evaluates inside the
   * rewrite:
   *
   *  - copy-on-write (`mor = false`): rewrite exactly the files holding
   *    matched rows, anti-joined on the matched identities;
   *  - merge-on-read (`mor = true`): commit the matched positions as a
   *    position-delete file (deletion vectors when enabled) — exact even
   *    among full duplicates, O(matched rows) written.
   *
   * `condFor` re-binds the resolved condition against the scan passed to
   * it ([[graft.sql.CorrelatedCondition.bindTo]] — exprId substitution, so
   * inner-plan columns can never capture same-named outer references).
   * The plain scan over-approximates matches with already-MoR-deleted
   * rows, which is harmless: CoW anti-joins against the delete-applying
   * read, and re-deleting a deleted position is a no-op.
   */
  def deleteWhereCorrelated(condFor: DataFrame => Column, mor: Boolean = false,
      branch: Option[String] = None): GraftSnapshot =
    withCommitLock {
      val m = meta
      val tableSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val head = resolveWriteBranchHead(m, branch)
      val headFiles = head.map(_.files).getOrElse(Seq.empty)
      val posScan = plainReadWithPos(m, tableSchema, headFiles)
      // ONE evaluation, pinned: the matched identities feed several
      // downstream jobs (affected-path collect, rewrite/delete-file
      // writes), and the condition's subquery joins INNER tables that
      // are not under this table's commit lock — a recompute between
      // jobs could see fresh foreign state and diverge the sets.
      // localCheckpoint cuts the lineage: blocks are reused or the job
      // fails, never silently recomputed.
      val matched = posScan.filter(condFor(posScan))
        .select(col("__file"), col("__pos")).localCheckpoint()
      if (mor) {
        commitSnapshot(m, Seq.empty, Seq.empty, "delete", branch,
          addedDeletes =
            if (dvEnabled) writeDvFiles(matched)
            else writeDeleteFiles(matched, Seq("__file", "__pos"),
              kind = "position"))
      } else {
        // bounded collect: affected-file PATHS (same bound as deleteWhere's
        // probe); __file is already data-dir-relative, exact match
        val matchedRel = matched.select(col("__file")).distinct()
          .collect().map(_.getString(0)).toSet
        val affectedFiles = headFiles.filter(f => matchedRel.contains(f.path))
        if (affectedFiles.isEmpty) {
          commitSnapshot(m, Seq.empty, Seq.empty, "delete", branch)
        } else {
          val kept = readWithDeletes(head, m, affectedFiles, keepPos = true,
              keepLineage = true)
            .join(matched, Seq("__file", "__pos"), "left_anti")
            .select((tableSchema.fieldNames.map(col).toSeq ++
              Seq(col("__row_id"), col("__last_seq"))).toIndexedSeq: _*)
          val newFiles = writeDataFiles(kept, tableSchema, m.partitionCols)
          commitSnapshot(m, newFiles, affectedFiles.map(_.path), "delete", branch)
        }
      }
    }

  /**
   * Row-level UPDATE with a CORRELATED WHERE condition (round 16; SQL
   * surface in [[graft.sql.GraftUpdateRule]]) — same position-keyed shape
   * as [[deleteWhereCorrelated]]: one decorrelated Filter evaluation over
   * a position-bearing scan, then
   *
   *  - copy-on-write (`mor = false`): affected files rewritten with SET
   *    values applied on the matched row identities (a left join against
   *    the matched positions marks the hits — the condition itself never
   *    appears in the rewrite's projection, where Catalyst's predicate-
   *    subquery planning does not reach);
   *  - merge-on-read (`mor = true`): the matched positions commit as
   *    position deletes and the updated row versions append —
   *    O(matched rows) written, exact among duplicates.
   *
   * SET values are themselves scan-bound closures (round 17): each may
   * reference any column of the updated row AND carry a correlated SCALAR
   * subquery (`SET x = (SELECT max(v) FROM k WHERE k.id = t.id)`, the
   * enrichment idiom). Values evaluate ONCE, per matched row, in the same
   * position-keyed Project as the condition — Catalyst decorrelates a
   * scalar subquery under Project into a stock left-outer-join + aggregate,
   * with standard SQL semantics riding along: no inner match → NULL, more
   * than one inner row → runtime error. The rewrite then applies the
   * pre-computed values by (file, pos) identity, so the subquery never
   * re-evaluates against drifted foreign state.
   */
  def updateWhereCorrelated(condFor: DataFrame => Column,
      sets: Seq[(String, DataFrame => Column)], mor: Boolean = false,
      branch: Option[String] = None): GraftSnapshot =
    withCommitLock {
      val m = meta
      val tableSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      sets.foreach { case (c, _) =>
        require(tableSchema.fieldNames.contains(c),
          s"UPDATE references unknown column $c") }
      val head = resolveWriteBranchHead(m, branch)
      val headFiles = head.map(_.files).getOrElse(Seq.empty)
      val posScan = plainReadWithPos(m, tableSchema, headFiles)
      // pinned for the same reason as deleteWhereCorrelated: three
      // consumers (path collect, updated-row write, delete-file write)
      // must see ONE consistent evaluation of the correlated condition
      // AND of every correlated SET value
      val matched = posScan.filter(condFor(posScan))
        .select(col("__file") +: col("__pos") +:
          sets.map { case (n, f) =>
            f(posScan).cast(tableSchema(n).dataType).as(s"__set_$n")
          }.toIndexedSeq: _*)
        .localCheckpoint()
      val matchedRel = matched.select(col("__file")).distinct()
        .collect().map(_.getString(0)).toSet
      val affectedFiles = headFiles.filter(f => matchedRel.contains(f.path))
      if (affectedFiles.isEmpty) {
        commitSnapshot(m, Seq.empty, Seq.empty, "update", branch)
      } else {
        val setCols = sets.map { case (n, _) => n -> col(s"__set_$n") }.toMap
        val src = readWithDeletes(head, m, affectedFiles, keepPos = true,
          keepLineage = true)
        val joined = src.join(matched.withColumn("__hit", lit(true)),
          Seq("__file", "__pos"), "left_outer")
        val hit = coalesce(col("__hit"), lit(false))
        if (mor) {
          val updated = joined.filter(hit).select((tableSchema.fields.map { f =>
            setCols.get(f.name).map(_.as(f.name)).getOrElse(col(f.name))
          }.toSeq ++ Seq(col("__row_id"),
            lit(null).cast("long").as("__last_seq"))).toIndexedSeq: _*)
          val newFiles = writeDataFiles(updated, tableSchema, m.partitionCols)
          commitSnapshot(m, newFiles, Seq.empty, "update", branch,
            addedDeletes =
              if (dvEnabled) writeDvFiles(matched.select(col("__file"), col("__pos")))
              else writeDeleteFiles(matched.select(col("__file"), col("__pos")),
                Seq("__file", "__pos"), kind = "position"))
        } else {
          val rewritten = joined.select((tableSchema.fields.map { f =>
            setCols.get(f.name) match {
              case Some(v) =>
                when(hit, v).otherwise(col(f.name)).as(f.name)
              case None => col(f.name)
            }
          }.toSeq ++ Seq(col("__row_id"),
            when(hit, lit(null)).otherwise(col("__last_seq"))
              .cast("long").as("__last_seq"))).toIndexedSeq: _*)
          val newFiles = writeDataFiles(rewritten, tableSchema, m.partitionCols)
          commitSnapshot(m, newFiles, affectedFiles.map(_.path), "update", branch)
        }
      }
    }

  /** Iceberg-v3 deletion-vector mode: position deletes are written as
    * per-data-file run-length bitsets (`write.delete.vector.enabled`),
    * read back as a membership filter instead of a row-list anti-join. */
  private def dvEnabled: Boolean =
    properties.getOrElse("write.delete.vector.enabled", "false") == "true"

  /** Collapse a `(__file, __pos)` position frame into DELETION VECTORS —
    * one row per data file, deleted indexes as a sorted run-length
    * `__runs` array — and write them under `data/_deletes/` with kind
    * `dv`. Run construction is a STREAMING gaps-and-islands fold over a
    * file-keyed sort (`mapPartitions` is justified here: the fold is
    * genuinely per-partition imperative and its working memory is
    * O(runs) per file — a full-file delete of 10⁷ rows builds ONE run
    * with constant memory, where a collect-then-encode aggregation would
    * buffer every position). Duplicate positions collapse in the fold. */
  private def writeDvFiles(positions: DataFrame): Seq[DeleteFile] = {
    val commitId = java.util.UUID.randomUUID().toString.take(8)
    val staging = new Path(s"$location/_staging/del-$commitId")
    val sp = positions.sparkSession
    import sp.implicits._
    val dv = positions
      .select(col("__file").cast("string"), col("__pos").cast("long"))
      .as[(String, Long)]
      .repartition(col("__file"))
      .sortWithinPartitions(col("__file"), col("__pos"))
      .mapPartitions { it =>
        new Iterator[(String, Seq[Long], Long)] {
          private val in = it.buffered
          override def hasNext: Boolean = in.hasNext
          override def next(): (String, Seq[Long], Long) = {
            val file = in.head._1
            val runs = ArrayBuffer.empty[Long]
            var n = 0L
            var lastPos = Long.MinValue
            while (in.hasNext && in.head._1 == file) {
              val pos = in.next()._2
              if (pos != lastPos) { // duplicates collapse
                if (runs.nonEmpty && pos == lastPos + 1)
                  runs(runs.size - 1) += 1 // adjacent: extend the open run
                else { runs += pos; runs += 1L }
                n += 1
                lastPos = pos
              }
            }
            (file, runs.toSeq, n)
          }
        }
      }
      .toDF("__file", "__runs", "__n")
    dv.cache()
    val nFiles = dv.count()
    if (nFiles == 0) { dv.unpersist(); return Seq.empty }
    // fan-out bound: DV rows are per-FILE (already compact); a commit
    // touching millions of files still writes a handful of vector files
    val rowsPerFile = math.max(1L,
      properties.getOrElse("write.delete.dv-files-per-file", (1L << 16).toString).toLong)
    val outFiles = math.max(1L, math.min(64L,
      (nFiles + rowsPerFile - 1) / rowsPerFile)).toInt
    val deleted = dv.agg(org.apache.spark.sql.functions.sum(col("__n")))
      .head.getLong(0)
    val staged0 = if (outFiles == 1) dv.drop("__n").coalesce(1)
      else dv.drop("__n").repartition(outFiles)
    staged0.write.mode("overwrite").parquet(staging.toString)
    dv.unpersist()
    val staged = fs.listStatus(staging)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val dels = staged.toSeq.map { st =>
      val rel = s"_deletes/dv-$commitId-${st.getPath.getName}"
      val target = new Path(dataDir, rel)
      fs.mkdirs(target.getParent)
      if (!fs.rename(st.getPath, target))
        throw new IllegalStateException(s"Failed to move delete file to $target")
      val vecRows = {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(target, conf))
        try r.getRecordCount finally r.close()
      }
      (DeleteFile(rel, Seq("__file", "__runs"), 0L,
        fs.getFileStatus(target).getLen, seq = -1L, kind = "dv"), vecRows)
    }
    fs.delete(staging, true)
    dels.filter(_._2 == 0L).foreach(d => fs.delete(new Path(dataDir, d._1.path), false))
    val kept = dels.filter(_._2 > 0L).map(_._1)
    // records = covered positions, apportioned exactly on the single-file
    // path (the common case); multi-file fan-outs share the total evenly
    // with the remainder on the first (accounting only — read semantics
    // never consult records)
    kept.zipWithIndex.map { case (d, i) =>
      val share = deleted / kept.size + (if (i < (deleted % kept.size)) 1L else 0L)
      d.copy(records = share, targetPaths = recordedTargets(d.path))
    }
  }

  /** Distinct data-dir-relative target paths of a just-written
    * positional/DV delete file, bounded by
    * `write.delete.max-recorded-targets` (default 1000) — a commit wider
    * than the cap records NOTHING (planners fall back to the content
    * read; an empty list must never read as "targets nothing"). One
    * column-pruned distributed read at WRITE time buys O(1) metadata at
    * every future planning of the changelog stream's masked-CoW check and
    * DV partition fan-out. */
  private def recordedTargets(rel: String): Seq[String] = {
    val cap = properties
      .getOrElse("write.delete.max-recorded-targets", "1000").toInt
    if (cap <= 0) return Seq.empty
    val full = s"$dataDir/$rel"
    val df =
      if (rel.endsWith(AvroDeletes.Extension)) AvroDeletes.read(spark, Seq(full))
      else spark.read.parquet(full)
    val t = df.select("__file").distinct().limit(cap + 1)
      .collect().map(_.getString(0)).toSeq
    if (t.size > cap) Seq.empty else t.sorted
  }

  /** Write a delete-content DataFrame (key tuples or positions) as parquet
    * under `data/_deletes/`; returns the (seq-unassigned) DeleteFile
    * entries. */
  private def writeDeleteFiles(keys: DataFrame,
      keyCols: Seq[String], kind: String = "equality"): Seq[DeleteFile] = {
    val commitId = java.util.UUID.randomUUID().toString.take(8)
    val staging = new Path(s"$location/_staging/del-$commitId")
    // Size guard: the intended MoR trade is a SMALL delete set (CoW exists
    // for big deletes), but an unexpectedly huge one must not funnel
    // through one write task. Count first (one extra pass over the key
    // scan — trivial next to the delete itself), then fan the write out to
    // ~4M keys per file, capped at 64 files; the read path already merges
    // a list of delete files per commit.
    val total = keys.count()
    val rowsPerFile = math.max(1L,
      properties.getOrElse("write.delete.rows-per-file", (4L << 20).toString).toLong)
    val nFiles = math.max(1L, math.min(64L,
      (total + rowsPerFile - 1) / rowsPerFile)).toInt
    val staged0 =
      if (nFiles == 1) keys.coalesce(1) else keys.repartition(nFiles)
    // physical format: the reference's `write.delete.format.default = avro`
    // (Iceberg's default row-level delete format) is honored for real —
    // Avro container files written with the raw Avro API; anything else
    // (or unset) writes parquet. Deletion vectors have their own format
    // and ignore this property.
    val avro = properties.get("write.delete.format.default").contains("avro")
    val ext = if (avro) AvroDeletes.Extension else ".parquet"
    if (avro) {
      // an all-empty delete frame writes no file at all — the staging dir
      // must still exist for the listing (parquet's committer creates it)
      fs.mkdirs(staging)
      AvroDeletes.write(staged0, staging, conf)
    } else staged0.write.mode("overwrite").parquet(staging.toString)
    val staged = fs.listStatus(staging)
      .filter(st => st.isFile && st.getPath.getName.endsWith(ext))
    val dels = staged.toSeq.map { st =>
      val rel = s"_deletes/del-$commitId-${st.getPath.getName}"
      val target = new Path(dataDir, rel)
      fs.mkdirs(target.getParent)
      if (!fs.rename(st.getPath, target))
        throw new IllegalStateException(s"Failed to move delete file to $target")
      val records =
        if (avro) AvroDeletes.countRecords(target, conf)
        else {
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(target, conf))
          try r.getRecordCount finally r.close()
        }
      DeleteFile(rel, keyCols, records, fs.getFileStatus(target).getLen,
        seq = -1L, kind = kind)
    }
    fs.delete(staging, true)
    dels.filterNot(_.records > 0).foreach(d => fs.delete(new Path(dataDir, d.path), false))
    val live = dels.filter(_.records > 0)
    if (kind == "position") live.map(d =>
      d.copy(targetPaths = recordedTargets(d.path)))
    else live
  }

  /** Delete-file CONTENT read dispatching on the physical format (the
    * file extension records it): Avro container files or parquet. */
  private def readDeleteContent(d: DeleteFile): DataFrame =
    if (d.path.endsWith(AvroDeletes.Extension))
      AvroDeletes.read(spark, Seq(s"$dataDir/${d.path}"))
    else spark.read.parquet(s"$dataDir/${d.path}")

  /**
   * Merge-on-read UPDATE (tblproperty `write.update.mode=merge-on-read`,
   * reference IcebergLoadActivityTask.scala:30): delete-and-insert in one
   * snapshot — an equality-delete file hides the matched rows' old versions
   * and the updated rows append as new data files, so the write is
   * O(matched rows), never a file rewrite. The delete's sequence equals the
   * commit id, and the new files are added AT that id, so the delete
   * applies only to the older files — the appended updates stay live.
   * `keyCols` must uniquely identify the matched rows.
   */
  def updateWhereMoR(cond: Column, sets: Seq[(String, Column)],
      keyCols: Seq[String], branch: Option[String] = None): GraftSnapshot =
    withCommitLock {
      val m = meta
      val tableSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      (sets.map(_._1) ++ keyCols).foreach(c =>
        require(tableSchema.fieldNames.contains(c),
          s"MoR update references unknown column $c"))
      val head = resolveWriteBranchHead(m, branch)
      val setMap = sets.toMap
      val matched = readWithDeletes(head, m,
        head.map(_.files).getOrElse(Seq.empty), keepLineage = true)
        .filter(cond)
      val keys = matched.select(keyCols.map(col).toIndexedSeq: _*).distinct()
      // row lineage: the appended new versions keep their ids and inherit
      // the append file's sequence (materialized null)
      val updated = matched.select((tableSchema.fields.map { f =>
        setMap.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
      }.toSeq ++ Seq(col("__row_id"),
        lit(null).cast("long").as("__last_seq"))).toIndexedSeq: _*)
      val newFiles = writeDataFiles(updated, tableSchema, m.partitionCols)
      commitSnapshot(m, newFiles, Seq.empty, "update", branch,
        addedDeletes = writeDeleteFiles(keys, keyCols))
    }

  /**
   * Merge-on-read MERGE (tblproperty `write.merge.mode=merge-on-read`,
   * reference IcebergLoadActivityTask.scala:31): same key/update semantics
   * as [[merge]], committed as delete-and-insert — matched target keys go
   * to an equality-delete file, and the merged rows (updated versions plus
   * not-matched inserts) append as new files. O(matched + inserted) written.
   */
  def mergeMoR(source: DataFrame, keys: Seq[String],
      updateCols: Seq[String] = Seq.empty,
      insertNotMatched: Boolean = true,
      branch: Option[String] = None): GraftSnapshot =
    withCommitLock {
      val m = meta
      val tableSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val cols = tableSchema.fields.map(_.name).toSeq
      val updates = if (updateCols.isEmpty) cols.filterNot(keys.contains) else updateCols
      val alignedSrc = source.select(tableSchema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      val head = resolveWriteBranchHead(m, branch)
      val current = readWithDeletes(head, m,
        head.map(_.files).getOrElse(Seq.empty), keepLineage = true)
      // same cardinality rule as the CoW merge
      val keysNotNull = keys.map(col(_).isNotNull).reduce(_ && _)
      val srcCard = alignedSrc.filter(keysNotNull).agg(
        count(lit(1)).as("n"),
        countDistinct(struct(keys.map(col).toIndexedSeq: _*)).as("d")).collect().head
      require(srcCard.getLong(0) == srcCard.getLong(1),
        s"MERGE source has ${srcCard.getLong(0) - srcCard.getLong(1)} duplicate " +
          s"rows on key (${keys.mkString(", ")}); deduplicate the source first")
      val srcKeys = alignedSrc.select(keys.map(col).toIndexedSeq: _*).distinct()
      val matched = current.join(srcKeys, keys, "left_semi")
      val sPrefixed = alignedSrc
        .select(cols.map(c => col(c).as(s"__s_$c")).toIndexedSeq: _*)
      val joinCond = keys.map(k => matched(k) === sPrefixed(s"__s_$k")).reduce(_ && _)
      val updatedRows = matched.join(sPrefixed, joinCond, "inner")
        .select((cols.map { c =>
          (if (updates.contains(c)) col(s"__s_$c") else col(c)).as(c)
        } ++ Seq(col("__row_id"),
          lit(null).cast("long").as("__last_seq"))).toIndexedSeq: _*)
      val inserts =
        (if (insertNotMatched)
          alignedSrc.join(current.select(keys.map(col).toIndexedSeq: _*).distinct(),
            keys, "left_anti")
        else alignedSrc.limit(0))
          .withColumn("__row_id", lit(null).cast("long"))
          .withColumn("__last_seq", lit(null).cast("long"))
      val out = updatedRows.unionByName(inserts)
      val matchedKeys = matched.select(keys.map(col).toIndexedSeq: _*).distinct()
      val newFiles = writeDataFiles(out, tableSchema, m.partitionCols)
      commitSnapshot(m, newFiles, Seq.empty, "merge", branch,
        addedDeletes = writeDeleteFiles(matchedKeys, keys))
    }

  /** Copy-on-write UPDATE (SQL `UPDATE t SET c = expr WHERE cond`): rewrite
    * only the FILES containing rows where `cond` is TRUE (same
    * input_file_name probe as merge/delete), replacing each assigned column
    * with its new value on exactly those rows. Assignment expressions may
    * reference any column of the same row; rows where `cond` evaluates NULL
    * are kept unchanged (SQL UPDATE touches only TRUE rows). An update that
    * moves a row across partitions rewrites the old file and lands the row
    * in its new partition's fresh file, like merge. */
  def updateWhere(cond: Column, sets: Seq[(String, Column)],
      branch: Option[String] = None): GraftSnapshot =
    withCommitLock {
      val m = meta
      val tableSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      sets.foreach { case (c, _) =>
        require(tableSchema.fieldNames.contains(c),
          s"UPDATE references unknown column $c") }
      val head = resolveWriteBranchHead(m, branch)
      // plain-files read: the probe's input_file_name() cannot span the
      // multi-source delete-applying plan; over-approximating affected
      // files is harmless since the rewrite reads through the deletes
      val current = plainRead(m, tableSchema,
        head.map(_.files).getOrElse(Seq.empty))
      val matchedFilePaths: Set[String] = current.filter(cond)
        .select(input_file_name().as("__file")).distinct()
        .collect().map(_.getString(0)).toSet
      val headFiles = head.map(_.files).getOrElse(Seq.empty)
      val (affectedFiles, _) = partitionAffected(headFiles, matchedFilePaths)
      if (affectedFiles.isEmpty) {
        commitSnapshot(m, Seq.empty, Seq.empty, "update", branch)
      } else {
        val setMap = sets.toMap
        val src = readWithDeletes(head, m, affectedFiles, keepLineage = true)
        val hit = coalesce(cond, lit(false))
        // row lineage: updated rows KEEP their id and take the new file's
        // sequence (a NULL materialized __last_seq inherits it at read);
        // carryover rows keep both
        val rewritten = src.select((tableSchema.fields.map { f =>
          setMap.get(f.name) match {
            case Some(v) => when(hit, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
            case None    => col(f.name)
          }
        }.toSeq ++ Seq(col("__row_id"),
          when(hit, lit(null)).otherwise(col("__last_seq"))
            .cast("long").as("__last_seq"))).toIndexedSeq: _*)
        val newFiles = writeDataFiles(rewritten, tableSchema, m.partitionCols)
        commitSnapshot(m, newFiles, affectedFiles.map(_.path), "update", branch)
      }
    }

  /**
   * Incremental (append-only CDC) read: the rows ADDED between two refs —
   * `fromRef` exclusive, `toRef` inclusive, where `fromRef` must be an
   * ancestor of `toRef`. The file lists come straight off the snapshot log
   * (driver-side, O(metadata)), so an incremental consumer reads exactly
   * the new files and never rescans the table — the pattern that keeps a
   * downstream pipeline's daily pass proportional to the day's data at
   * 100 TB, not the table's.
   *
   * Only `append` snapshots may appear in the range: a CoW rewrite
   * (merge/delete/update/replace) re-adds files containing PRE-EXISTING
   * rows, which would silently duplicate history in an append-only changes
   * feed, so the method fails loudly and points at the full-snapshot diff.
   */
  /**
   * Incremental change consumption with an atomic checkpoint — the
   * batch-incremental consumer pattern (the shape of Delta/Iceberg
   * `startingVersion` reads): each call hands `process` the row-level
   * changelog between the last checkpointed snapshot and the current
   * head, advancing the checkpoint ONLY after `process` returns. The
   * first call delivers the full current state as INSERT images. A
   * crashed consumer replays its last un-checkpointed range — idempotent
   * `process` gives end-to-end exactly-once, at-least-once otherwise.
   * Single consumer per checkpoint dir; snapshot retention must cover
   * consumer lag (an expired `from` snapshot fails the changelog read).
   *
   * @return the `(from, to]` snapshot-id range processed, or None when
   *         the table has no commits past the checkpoint
   */
  def consumeChanges(checkpointDir: String)(process: DataFrame => Unit): Option[(Long, Long)] = {
    val dir = new Path(checkpointDir)
    val cpFs = dir.getFileSystem(conf)
    cpFs.mkdirs(dir)
    val offsetFile = new Path(dir, "offset")
    def readLong(p: Path): Option[Long] = scala.util.Try {
      val in = cpFs.open(p)
      try {
        val bytes = new Array[Byte](cpFs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        new String(bytes, "UTF-8").trim.toLong
      } finally in.close()
    }.toOption
    // The committed offset plus any .offset-* tmps left by a crash in the
    // advance window (tmps are written only AFTER process() completed, so
    // their content is always a legitimately-processed head). Taking the
    // MAX makes a crash between the old offset's delete and the rename
    // lose nothing: the tmp carries the processed head, so the next run
    // resumes from it instead of replaying the full state.
    val last: Option[Long] = {
      val committed = if (cpFs.exists(offsetFile)) readLong(offsetFile) else None
      val tmps =
        if (!cpFs.exists(dir)) Seq.empty
        else cpFs.listStatus(dir).toSeq
          .filter(_.getPath.getName.startsWith(".offset-"))
          .flatMap(st => readLong(st.getPath))
      (committed.toSeq ++ tmps).maxOption
    }
    val m = meta
    val headId = m.currentSnapshotId.getOrElse(return None)
    if (last.contains(headId)) return None
    last.foreach(l => require(m.snapshot(l).isDefined,
      s"Checkpointed snapshot $l expired from ${m.name}: increase snapshot " +
        "retention past the consumer lag, or reset the checkpoint"))
    val batch = last match {
      case Some(l) => changelogBetween(l.toString, headId.toString)
      case None => // initial load: the state AS OF the checkpointed head —
        // a pinned read, NOT toDF: a commit landing between the head
        // capture above and this read (or an active WAP branch redirect)
        // would deliver rows beyond the checkpoint, and the next batch
        // would re-deliver them under a different _commit_snapshot_id,
        // breaking idempotent replay
        asOfSnapshot(headId).withColumn("_change_type", lit("INSERT"))
          .withColumn("_commit_snapshot_id", lit(headId))
    }
    process(batch)
    // checkpoint AFTER processing: write tmp, then rename ONTO the offset
    // file. Hadoop's local/HDFS rename refuses an existing target, so the
    // old offset is removed first — but a crash in the delete→rename
    // window must not lose the offset entirely (a lost offset replays the
    // FULL state, not the last range). Order of protection: the tmp file
    // with the new head is fully written BEFORE the delete, and recovery
    // below falls back to the newest .offset-* tmp when the offset file
    // is missing. (Single consumer — last writer wins by design.)
    val tmp = new Path(dir, s".offset-${java.util.UUID.randomUUID()}")
    val out = cpFs.create(tmp, false)
    try out.write(headId.toString.getBytes("UTF-8"))
    finally out.close()
    cpFs.delete(offsetFile, false)
    if (!cpFs.rename(tmp, offsetFile))
      throw new IllegalStateException(
        s"Failed to advance consumer checkpoint at $offsetFile")
    // sweep tmps a crashed earlier run left behind (their heads are all
    // <= the offset just committed, so they carry no information now)
    cpFs.listStatus(dir).toSeq
      .filter(_.getPath.getName.startsWith(".offset-"))
      .foreach(st => cpFs.delete(st.getPath, false))
    Some((last.getOrElse(0L), headId))
  }

  def changesBetween(fromRef: String, toRef: String): DataFrame = {
    val m = meta
    def resolve(r: String): GraftSnapshot = m.snapshotForRef(r).getOrElse(
      throw new IllegalArgumentException(s"Unknown ref or snapshot '$r' on table ${m.name}"))
    val from = resolve(fromRef)
    val to = resolve(toRef)
    val chain = m.ancestry(to.id)
    require(chain.contains(from.id),
      s"$fromRef (snapshot ${from.id}) is not an ancestor of $toRef (snapshot ${to.id})")
    val rangeIds = chain.takeWhile(_ != from.id)
    val byId = m.snapshots.map(s => s.id -> s).toMap
    val range = rangeIds.map(byId)
    range.filterNot(s =>
        s.operation == "append" || s.operation == "cherrypick") match {
      case Seq() => ()
      case nonAppend => throw new IllegalArgumentException(
        s"changesBetween supports append-only ranges; snapshot(s) " +
          s"${nonAppend.map(s => s"${s.id}=${s.operation}").mkString(", ")} rewrite " +
          "existing rows — diff full snapshots instead")
    }
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    // resolve the added paths back to their DataFile entries and read
    // era-aware (plainRead): range files written before a later column
    // rename / type promotion store old physical names / narrower types —
    // a plain current-schema scan would return silent nulls or fail to
    // decode the pages
    val added = range.flatMap { s =>
      val addedSet = s.addedFiles.toSet
      s.files.filter(f => addedSet.contains(f.path))
    }
    if (added.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      plainRead(m, schema, added)
  }

  /**
   * Row-level changelog between two snapshots (Iceberg's changelog-view
   * semantics): every changed row in the range `(fromRef, toRef]` tagged
   * with `_change_type` (`INSERT` | `DELETE`) and `_commit_snapshot_id`.
   * A copy-on-write update surfaces as a DELETE of the pre-image plus an
   * INSERT of the post-image in the same commit.
   *
   *  - `append` commits emit their added files' rows as INSERTs;
   *  - CoW commits (`merge`/`delete`/`update`/`overwrite`) emit removed
   *    files' rows as DELETEs and added files' rows as INSERTs;
   *  - `replace` (compaction) commits are SKIPPED — they rewrite bytes,
   *    not logical rows;
   *  - merge-on-read commits (equality or position delete files) change
   *    rows without moving data files; both resolve as a SEMI JOIN of the
   *    parent state against the commit's delete rows (equality keys, or
   *    `(__file, __pos)` row identities for positional) — one parent scan
   *    with a broadcastable delete side. Only a commit MIXING equality and
   *    positional delete files falls back to a state diff (`exceptAll`).
   *    CDC stays uniform across write modes, and CoW commits in the same
   *    range keep the file-local path.
   *
   * A file-granularity diff also re-emits the UNCHANGED rows of a
   * rewritten file as identical DELETE+INSERT pairs ("carryovers");
   * `removeCarryovers` (default true, matching Iceberg's changelog
   * procedure) nets them out per commit so only logically-changed rows
   * remain — a row updated to the same values nets to nothing, which is
   * the correct changelog answer.
   *
   * Cost: bounded by the bytes the range actually rewrote for CoW-only
   * ranges; a MoR commit adds one parent scan + delete-row semi-join
   * (mixed-kind commits: two snapshot reads plus exceptAll). Files must
   * still be retained (unexpired) — the changelog reads them.
   */
  def changelogBetween(fromRef: String, toRef: String,
      removeCarryovers: Boolean = true): DataFrame = {
    val m = meta
    def resolve(r: String): GraftSnapshot = m.snapshotForRef(r).getOrElse(
      throw new IllegalArgumentException(s"Unknown ref or snapshot '$r' on table ${m.name}"))
    val from = resolve(fromRef)
    val to = resolve(toRef)
    val chain = m.ancestry(to.id)
    require(chain.contains(from.id),
      s"$fromRef (snapshot ${from.id}) is not an ancestor of $toRef (snapshot ${to.id})")
    val byId = m.snapshots.map(s => s.id -> s).toMap
    val range = chain.takeWhile(_ != from.id).map(byId).reverse // oldest first
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .withColumn("_change_type", lit("INSERT"))
      .withColumn("_commit_snapshot_id", lit(0L))
    val parts = range.filterNot(_.operation == "replace").flatMap { s =>
      if (s.summary.get("added-delete-files").exists(_.toInt > 0)) {
        // merge-on-read commit: its row-level effect is not expressible as
        // a file diff (the delete file subtracts rows from files it does
        // not rewrite). Two resolution shapes:
        //  - FAST PATH (one equality delete file — what deleteWhereMoR /
        //    updateWhereMoR / mergeMoR commit): DELETE images are the
        //    parent state SEMI-JOINED against the delete file's keys (an
        //    O(matched-keys) join the optimizer can broadcast), INSERT
        //    images are the commit's added files — one parent scan, no
        //    exceptAll. This is the shape that survives 100 TB.
        //  - fallback (positional or multiple delete files): diff the
        //    delete-applied STATES around the commit via exceptAll.
        val parent = s.parentId.flatMap(byId.get)
        val newDels = s.deleteFiles.filter(_.seq == s.id)
        val emptyState =
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        val addedSet = s.addedFiles.toSet
        val added = s.files.filter(f => addedSet.contains(f.path))
        def insertPart: Seq[DataFrame] =
          if (added.isEmpty) Seq.empty
          else Seq(readWithDeletes(Some(s), m, added)
            .withColumn("_change_type", lit("INSERT"))
            .withColumn("_commit_snapshot_id", lit(s.id)))
        // the fast paths never look at removedFiles, so a commit that BOTH
        // adds delete files AND removes data files (no current writer
        // produces one) must take the state-diff fallback, not silently
        // omit the removed files' rows from the DELETE images
        if (newDels.size == 1 && !newDels.head.isPositional &&
            !newDels.head.isDv && s.removedFiles.isEmpty) {
          val d = newDels.head
          val parentState = parent
            .map(p => readWithDeletes(Some(p), m, p.files))
            .getOrElse(emptyState)
          val (keys, delKeys) = equalityDeleteKeys(m, schema, d)
          val deleted = parentState.join(delKeys, nullSafeKeyMatch(keys), "left_semi")
          Seq(deleted
            .withColumn("_change_type", lit("DELETE"))
            .withColumn("_commit_snapshot_id", lit(s.id))) ++ insertPart
        } else if (newDels.nonEmpty &&
            newDels.forall(d => d.isPositional || d.isDv) &&
            s.removedFiles.isEmpty) {
          // positional twin of the fast path: the parent state (positions
          // retained, older deletes applied) semi-joins the new delete
          // files' (__file, __pos) row identities; deletion vectors
          // expand to the same pairs (per-commit delta — list-sized)
          val parentPos = parent
            .map(p => readWithDeletes(Some(p), m, p.files, keepPos = true))
            .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
              StructType(schema.fields ++ Seq(
                StructField("__file", org.apache.spark.sql.types.StringType),
                StructField("__pos", LongType)))))
          val delPairs = newDels
            .map { d =>
              val raw = readDeleteContent(d)
              if (d.isDv)
                raw.select(col("__file").as("__delf"),
                  explode(flatten(transform(
                    sequence(lit(0), (size(col("__runs")) / 2).cast("int") - 1),
                    i => sequence(
                      element_at(col("__runs"), i * 2 + 1),
                      element_at(col("__runs"), i * 2 + 1)
                        + element_at(col("__runs"), i * 2 + 2) - 1))))
                    .as("__delp"))
              else raw.select(col("__file").as("__delf"),
                col("__pos").as("__delp"))
            }
            .reduce(_.unionByName(_))
          val deleted = parentPos.join(delPairs,
            col("__file") === col("__delf") && col("__pos") === col("__delp"),
            "left_semi")
            .select(schema.fields.map(f => col(f.name)).toIndexedSeq: _*)
          Seq(deleted
            .withColumn("_change_type", lit("DELETE"))
            .withColumn("_commit_snapshot_id", lit(s.id))) ++ insertPart
        } else {
          val pre = parent.map(p => scan(Some(p), m)).getOrElse(emptyState)
          val post = scan(Some(s), m)
          Seq(
            pre.exceptAll(post)
              .withColumn("_change_type", lit("DELETE"))
              .withColumn("_commit_snapshot_id", lit(s.id)),
            post.exceptAll(pre)
              .withColumn("_change_type", lit("INSERT"))
              .withColumn("_commit_snapshot_id", lit(s.id)))
        }
      } else {
        val parent = s.parentId.flatMap(byId.get)
        val parentFiles = parent.map(_.files).getOrElse(Seq.empty)
        val removed = parentFiles.filter(f => s.removedFiles.contains(f.path))
        val addedSet = s.addedFiles.toSet
        val added = s.files.filter(f => addedSet.contains(f.path))
        // read removed files THROUGH the parent's delete files: rows an
        // older MoR delete already removed must not re-emit as DELETEs
        val del =
          if (removed.isEmpty) None
          else Some(readWithDeletes(parent, m, removed)
            .withColumn("_change_type", lit("DELETE"))
            .withColumn("_commit_snapshot_id", lit(s.id)))
        val ins =
          if (added.isEmpty) None
          else Some(readWithDeletes(Some(s), m, added)
            .withColumn("_change_type", lit("INSERT"))
            .withColumn("_commit_snapshot_id", lit(s.id)))
        del.toSeq ++ ins.toSeq
      }
    }
    val raw = parts.foldLeft(empty)(_.unionByName(_))
    if (!removeCarryovers) raw
    else {
      // net out per (row values, commit): equal numbers of DELETE+INSERT
      // of the same values are carryovers; the sign of the surplus is the
      // real change. groupBy treats nulls as equal, so null-valued rows
      // net correctly; multiplicities of genuine duplicates survive.
      val dataCols = schema.fieldNames.toSeq
      raw
        .groupBy((dataCols.map(col) :+ col("_commit_snapshot_id")): _*)
        .agg(sum(when(col("_change_type") === "INSERT", 1).otherwise(-1)).as("__net"))
        .filter(col("__net") =!= 0)
        .withColumn("_change_type",
          when(col("__net") > 0, "INSERT").otherwise("DELETE"))
        .withColumn("__dup", explode(sequence(lit(1L), abs(col("__net")))))
        .select((dataCols.map(col) :+ col("_change_type")
          :+ col("_commit_snapshot_id")): _*)
    }
  }

  /** Schema evolution: append a nullable column to the declared schema (one
    * metadata commit, no file rewrite — existing files read the column as
    * NULL, the inverse of the append-time mergeSchema widen).
    *
    * With `defaultSql` (Iceberg v3 default values / `ADD COLUMN … DEFAULT`):
    * the expression is validated constant-foldable, folded ONCE here, and
    * recorded two ways — the frozen fold as the column's immutable
    * INITIAL default (rows in files written before this commit read it
    * instead of NULL, resolved per file era like renames/promotions), and
    * the original text as the CURRENT write-default in the field metadata
    * (Spark's own CURRENT_DEFAULT/EXISTS_DEFAULT keys, so DESCRIBE and
    * INSERT default-filling work through the stock analyzer). Change or
    * drop the write-default later with [[setColumnDefault]]; the initial
    * default never changes. */
  def addColumn(name: String, dataType: DataType,
      comment: Option[String] = None,
      defaultSql: Option[String] = None): Unit = withCommitLock {
    // fold OUTSIDE the commit closure: parsing/evaluation is deterministic,
    // and a retried CAS must re-record the SAME frozen value
    val folded = defaultSql.map(s => GraftTable.foldDefault(spark, s, dataType))
    retryMetaCommit { m =>
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"Column $name already exists on ${m.name}")
      require(!m.tombstones.exists(_.equalsIgnoreCase(name)),
        s"Column name $name was renamed or dropped on ${m.name} and cannot be " +
          "reused: live files may still store the old column's data under it " +
          "(name-based resolution; Iceberg avoids this with field ids)")
      val field1 = StructField(name, dataType, nullable = true)
      val field2 = comment.fold(field1)(field1.withComment)
      val field = (defaultSql, folded) match {
        case (Some(cur), Some(ex)) =>
          field2.copy(metadata = new MetadataBuilder()
            .withMetadata(field2.metadata)
            .putString(GraftTable.CurrentDefaultKey, cur)
            .putString(GraftTable.ExistsDefaultKey, ex)
            .build())
        case _ => field2
      }
      m.copy(
        schemaJson = StructType(schema.fields :+ field).json,
        columnDefaults = folded.fold(m.columnDefaults)(ex =>
          m.columnDefaults :+ ColumnDefaultRecord(name, ex,
            m.snapshots.map(_.id).maxOption.getOrElse(0L))))
    }
    ()
  }

  /** `ALTER COLUMN … SET DEFAULT expr` / `DROP DEFAULT` (None): replace or
    * remove the column's CURRENT write-default in one metadata commit.
    * Affects only FUTURE writes that omit the column — the initial default
    * recorded at ADD COLUMN time (what pre-add files read) is immutable,
    * and rows already written are untouched; exactly the Spark/Iceberg-v3
    * current-vs-existence default split. Setting a default on a column
    * that existed from table creation is allowed and write-only: files
    * have stored the column from day one, so no initial default applies. */
  def setColumnDefault(name: String, defaultSql: Option[String]): Unit =
    withCommitLock {
      retryMetaCommit { m =>
        val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
        val field = schema.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"Unknown column $name on ${m.name}"))
        // CURRENT_DEFAULT only — EXISTS_DEFAULT is the frozen initial
        // default and must survive both SET and DROP, or a later SET
        // DEFAULT would retroactively change what pre-add files read
        val newMeta = defaultSql match {
          case Some(cur) =>
            // validate/fold now so a bad expression fails the ALTER, not a
            // later INSERT; the fold itself is discarded (writes re-fold
            // CURRENT_DEFAULT at write time — same value, it is constant)
            GraftTable.foldDefault(spark, cur, field.dataType)
            new MetadataBuilder().withMetadata(field.metadata)
              .putString(GraftTable.CurrentDefaultKey, cur)
              .build()
          case None =>
            new MetadataBuilder().withMetadata(field.metadata)
              .remove(GraftTable.CurrentDefaultKey)
              .build()
        }
        m.copy(schemaJson = StructType(schema.fields.map(f =>
          if (f.name == name) f.copy(metadata = newMeta) else f)).json)
      }
      ()
    }

  /**
   * Schema evolution: RENAME COLUMN as one metadata commit, no file
   * rewrite. Existing files keep the old physical name; the read path
   * unwinds the rename history per file era (see [[physicalName]]), so old
   * and new files union under the new declared name. The old name is
   * tombstoned — it can never be reused, since name-based resolution would
   * silently read the renamed column's stale data out of old files.
   * Partition columns cannot be renamed (the directory layout is
   * name-keyed). Reads — including time travel — always present the
   * CURRENT schema. Footer-stats pruning on old files falls back to
   * keep-the-file for the renamed column (stats keys carry the old name),
   * which is conservative, never wrong; compaction re-stamps them.
   */
  def renameColumn(from: String, to: String): Unit = withCommitLock {
    retryMetaCommit { m =>
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      require(schema.fieldNames.contains(from),
        s"Unknown column $from on ${m.name}")
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"Column $to already exists on ${m.name}")
      require(!m.tombstones.exists(_.equalsIgnoreCase(to)),
        s"Column name $to was renamed or dropped on ${m.name} and cannot be reused")
      require(!m.partitionCols.contains(from),
        s"Partition column $from cannot be renamed: the directory layout is name-keyed")
      val afterSeq = m.snapshots.map(_.id).maxOption.getOrElse(0L)
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      m.copy(
        schemaJson = newSchema.json,
        renames = m.renames :+ RenameRecord(from, to, afterSeq),
        tombstones = m.tombstones :+ from,
        // type-promotion eras and initial-default records are keyed by the
        // CURRENT declared name ([[physicalType]]); follow the rename so
        // they keep resolving
        typeChanges = m.typeChanges.map(tc =>
          if (tc.column == from) tc.copy(column = to) else tc),
        columnDefaults = m.columnDefaults.map(cd =>
          if (cd.column == from) cd.copy(column = to) else cd))
    }
    ()
  }

  /**
   * Schema evolution: `ALTER COLUMN … TYPE` as one metadata commit, no
   * file rewrite — Iceberg's safe type promotions only (int→long,
   * float→double, decimal precision widen at fixed scale; anything else
   * would corrupt or truncate already-written values). Existing files
   * keep the narrower physical type; the read path scans each era under
   * its written type and upcasts to the declared one (see
   * [[physicalType]]), so old and new files union losslessly. Partition
   * columns cannot be promoted: `bucket(n, col)` hashes ints and longs
   * differently, so the existing directory layout would become
   * un-prunable — and mis-prunable — under the new type. Compaction
   * rewrites migrate old files to the declared type lazily.
   */
  def updateColumnType(name: String, to: DataType): Unit = withCommitLock {
    retryMetaCommit { m =>
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val field = schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"Unknown column $name on ${m.name}"))
      val ok = (field.dataType, to) match {
        case (IntegerType, LongType) => true
        case (FloatType, DoubleType) => true
        case (d1: DecimalType, d2: DecimalType) =>
          d2.precision > d1.precision && d2.scale == d1.scale
        case _ => false
      }
      require(ok, s"Unsupported type change on ${m.name}.$name: " +
        s"${field.dataType.simpleString} -> ${to.simpleString} (allowed: " +
        "int -> bigint, float -> double, decimal(p,s) -> decimal(p',s) with p' > p)")
      require(!m.partitionCols.exists(e =>
          PartitionSpec.parseField(e).source == name),
        s"Partition column $name cannot be promoted: the directory layout " +
          "(and any bucket hash) is keyed on the written type")
      val afterSeq = m.snapshots.map(_.id).maxOption.getOrElse(0L)
      m.copy(
        schemaJson = StructType(schema.fields.map(f =>
          if (f.name == name) f.copy(dataType = to) else f)).json,
        typeChanges = m.typeChanges :+
          TypeChangeRecord(name, field.dataType.json, to.json, afterSeq))
    }
    ()
  }

  /** Schema evolution: DROP COLUMN as one metadata commit — the column
    * leaves the declared schema, file data stays in place unread (Iceberg
    * drop semantics; a compaction rewrite physically sheds it). The name
    * is tombstoned against reuse, same reasoning as [[renameColumn]]. */
  def dropColumn(name: String): Unit = withCommitLock {
    retryMetaCommit { m =>
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      require(schema.fieldNames.contains(name),
        s"Unknown column $name on ${m.name}")
      require(!m.partitionCols.contains(name),
        s"Partition column $name cannot be dropped")
      // at least one non-partition column must remain: parquet cannot write
      // files whose every column is directory-derived
      require(schema.fields.exists(f =>
        f.name != name && !m.partitionCols.contains(f.name)),
        s"Cannot drop the last data column of ${m.name}")
      m.copy(
        schemaJson = StructType(schema.fields.filterNot(_.name == name)).json,
        tombstones = m.tombstones :+ name,
        // the name can never be reused (tombstoned), so its initial-default
        // record can never apply again — shed it
        columnDefaults = m.columnDefaults.filterNot(_.column == name))
    }
    ()
  }

  /** Update the metadata display name in one metadata commit — the tail
    * of a catalog `RENAME TABLE` after the directory move (round 17).
    * Purely cosmetic for reads (resolution is path-keyed), but error
    * messages and DESCRIBE output follow the new name. */
  def renameTo(newName: String): Unit = withCommitLock {
    retryMetaCommit(m => m.copy(name = newName))
    ()
  }

  /** `ALTER TABLE … SET TBLPROPERTIES`: merge properties in one metadata
    * commit. */
  def setProperties(props: Map[String, String]): Unit = withCommitLock {
    retryMetaCommit(m => m.copy(props = m.props ++ props))
    ()
  }

  /** `ALTER TABLE … UNSET TBLPROPERTIES`. */
  def unsetProperties(keys: Seq[String]): Unit = withCommitLock {
    retryMetaCommit(m => m.copy(props = m.props -- keys))
    ()
  }

  // ---------------------------------------------------------------------
  // Branches / WAP (reference IcebergLoadActivityTask.scala:78-80,167;
  // WapIceberg.scala:64-84)
  // ---------------------------------------------------------------------

  /** `ALTER TABLE t CREATE OR REPLACE BRANCH name`: pin the current main
    * head under `name`. */
  def createOrReplaceBranch(branchName: String): Unit = withCommitLock {
    retryMetaCommit { m =>
      require(!m.tags.contains(branchName),
        s"$branchName is a tag on ${m.name}; tags are immutable")
      val headId = m.refs.getOrElse(SnapshotLog.MainBranch,
        throw new IllegalStateException("Cannot branch an empty table"))
      m.copy(refs = m.refs + (branchName -> headId))
    }
    ()
  }

  def dropBranch(branchName: String): Unit = withCommitLock {
    retryMetaCommit { m =>
      require(branchName != SnapshotLog.MainBranch, "cannot drop main")
      m.copy(refs = m.refs - branchName)
    }
    ()
  }

  /** `ALTER TABLE t CREATE [OR REPLACE] TAG name`: pin the current head as
    * an IMMUTABLE ref — readable via `asOf`/`VERSION AS OF`, pinned by
    * snapshot expiry, and never a write target (Iceberg tag semantics). */
  def createTag(tagName: String, replace: Boolean = false): Unit = withCommitLock {
    retryMetaCommit { m =>
      require(!m.refs.contains(tagName),
        s"$tagName is a branch on ${m.name}; tag names must not collide")
      require(replace || !m.tags.contains(tagName),
        s"Tag $tagName already exists on ${m.name} (use CREATE OR REPLACE TAG)")
      val headId = m.refs.getOrElse(SnapshotLog.MainBranch,
        throw new IllegalStateException("Cannot tag an empty table"))
      m.copy(tags = m.tags + (tagName -> headId))
    }
    ()
  }

  def dropTag(tagName: String): Unit = withCommitLock {
    retryMetaCommit { m =>
      require(m.tags.contains(tagName), s"Unknown tag $tagName on ${m.name}")
      m.copy(tags = m.tags - tagName)
    }
    ()
  }

  /** `CALL system.rollback_to_snapshot(t, id)` (Iceberg's rollback
    * procedure): move `main` back to an ANCESTOR snapshot. History is kept —
    * rolled-back snapshots stay in the log for audit until expiry. */
  /** Iceberg `set_current_snapshot`: point main at ANY retained snapshot
    * in one metadata commit — no ancestry requirement, unlike
    * [[rollbackToSnapshot]] (the documented escape hatch for jumping
    * sideways onto a staged or branch-only snapshot). Time travel to the
    * bypassed head keeps working while it stays retained. */
  def setCurrentSnapshot(snapshotId: Long): Unit = withCommitLock {
    retryMetaCommit { m =>
      require(m.snapshot(snapshotId).isDefined,
        s"Unknown snapshot $snapshotId on table ${m.name}")
      m.copy(refs = m.refs + (SnapshotLog.MainBranch -> snapshotId))
    }
    ()
  }

  def rollbackToSnapshot(snapshotId: Long): Unit = withCommitLock {
    retryMetaCommit { m =>
      require(m.snapshot(snapshotId).isDefined,
        s"Unknown snapshot $snapshotId on table ${m.name}")
      val headId = m.refs.getOrElse(SnapshotLog.MainBranch,
        throw new IllegalStateException("Cannot roll back an empty table"))
      require(m.isAncestorOf(snapshotId, headId),
        s"Snapshot $snapshotId is not an ancestor of main ($headId): " +
          "rollback only rewinds, use branches for divergent states")
      m.copy(refs = m.refs + (SnapshotLog.MainBranch -> snapshotId))
    }
    ()
  }

  /**
   * Iceberg `cherrypick_snapshot`: re-apply an APPEND snapshot's added
   * files onto the current branch head as a NEW commit. Unlike
   * [[fastForward]] (which requires ancestry), this publishes staged work
   * even after the target branch has advanced past the staged snapshot's
   * base — the WAP publish path for a busy table. Metadata-only: no data
   * is rewritten, the files are re-referenced and re-stamped with the new
   * commit's data sequence (so MoR deletes written before the pick do not
   * apply to them, matching Iceberg's sequence-number semantics).
   *
   * Only append snapshots qualify: CoW rewrites / deletes / compactions
   * encode assumptions about their parent's file set that do not
   * transplant onto a different head.
   */
  def cherryPick(snapshotId: Long, branch: Option[String] = None): GraftSnapshot =
    withCommitLock {
      val m = meta
      val src = m.snapshot(snapshotId).getOrElse(
        throw new IllegalArgumentException(
          s"Unknown snapshot $snapshotId on table ${m.name}"))
      if (src.operation != "append") {
        // a non-append staged commit (merge/delete/update under a wap id)
        // cannot be REPLAYED onto a moved head — its file set bakes in the
        // state it was built against — but when it is still parented on
        // the target's CURRENT head, publishing is exactly a fast-forward
        // of the ref onto it, safe for any operation. Without this path a
        // row-level write under spark.wap.id would succeed at write time
        // yet be permanently unpublishable.
        val b = branch.getOrElse(SnapshotLog.MainBranch)
        def headOf(mx: TableMetadata): Option[Long] =
          mx.refs.get(b).orElse(mx.refs.get(SnapshotLog.MainBranch))
        val headId = headOf(m)
        require(headId.isDefined,
          s"cannot publish snapshot $snapshotId: table ${m.name} has no " +
            s"branch head to publish onto")
        // ancestry(head) includes the head itself, so this single check
        // also covers head == snapshotId
        require(!m.isAncestorOf(snapshotId, headId.get),
          s"Snapshot $snapshotId is already published on $b")
        require(src.parentId == headId,
          s"cherry-pick can replay only append snapshots onto a moved head; " +
            s"snapshot $snapshotId is '${src.operation}' and $b has advanced " +
            s"past its parent — re-stage the work against the current head")
        val srcWapFf = src.summary.get("wap.id")
        srcWapFf.foreach { w =>
          require(!m.snapshots.exists(
              _.summary.get("published-wap-id").contains(w)),
            s"wap id '$w' is already published on ${m.name}")
        }
        retryMetaCommit { m2 =>
          // same head derivation as above (the target branch may not
          // exist yet — publishing CREATES it, like the append path's
          // commitSnapshot does)
          require(headOf(m2) == headId,
            s"$b moved while publishing snapshot $snapshotId; retry")
          m2.copy(refs = m2.refs + (b -> snapshotId),
            // stamp the publication on the published snapshot itself so
            // wap audits and the append path's double-publish guard see
            // fast-forward publishes too (metadata-only summary edit)
            snapshots = m2.snapshots.map(s =>
              if (s.id == snapshotId && srcWapFf.isDefined)
                s.copy(summary = s.summary +
                  ("published-wap-id" -> srcWapFf.get))
              else s))
        }
        meta.snapshot(snapshotId).getOrElse(src)
      } else cherryPickAppend(m, src, snapshotId, branch)
    }

  private def cherryPickAppend(m: TableMetadata, src: GraftSnapshot,
      snapshotId: Long, branch: Option[String]): GraftSnapshot = {
      val addedSet = src.addedFiles.toSet
      val picked = src.files.filter(f => addedSet.contains(f.path))
      val headPaths = resolveWriteBranchHead(m, branch)
        .map(_.files.map(_.path).toSet).getOrElse(Set.empty)
      require(!picked.exists(f => headPaths.contains(f.path)),
        s"Snapshot $snapshotId is already applied on the target branch")
      // The pick re-stamps the files with the NEW commit's data sequence.
      // If a column rename landed after the source snapshot, the files
      // physically store the pre-rename name while the re-stamped seq
      // resolves to the current declared name — the column would read back
      // as null (Iceberg sidesteps this with field ids; we reject).
      val schemaNow = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val eraDrift = schemaNow.fields.map(_.name)
        .filter(n => physicalName(m, n, src.id) != n)
      require(eraDrift.isEmpty,
        s"Cannot cherry-pick snapshot $snapshotId: column(s) " +
          s"${eraDrift.mkString(", ")} were renamed after it was staged; " +
          "its files store the pre-rename physical name and would be " +
          "re-stamped past the rename. Re-stage the work instead.")
      // same drift for type promotions: the re-stamped seq would resolve
      // the picked files to the declared (wide) type they do not store
      val typeDrift = schemaNow.fields
        .filter(f => physicalType(m, f.name, f.dataType, src.id) != f.dataType)
        .map(_.name)
      require(typeDrift.isEmpty,
        s"Cannot cherry-pick snapshot $snapshotId: column(s) " +
          s"${typeDrift.mkString(", ")} were type-promoted after it was " +
          "staged; its files store the narrower physical type and would be " +
          "re-stamped past the promotion. Re-stage the work instead.")
      // WAP-by-id publish: a staged wap snapshot may publish ONCE — a
      // second pick of the same wap id would double-apply the batch
      val srcWap = src.summary.get("wap.id")
      srcWap.foreach { w =>
        require(!m.snapshots.exists(
            _.summary.get("published-wap-id").contains(w)),
          s"wap id '$w' is already published on ${m.name}")
      }
      commitSnapshot(m, picked, removed = Seq.empty,
        operation = "cherrypick", branch,
        extraSummary = Map("cherry-picked-from" -> snapshotId.toString) ++
          srcWap.map("published-wap-id" -> _),
        allowWapStage = false)
  }

  /** `CALL system.fast_forward(t, to, from)` (reference WapIceberg.scala:81):
    * move `to` up to `from`'s head, requiring `to` to be an ancestor. */
  def fastForward(to: String, from: String): Unit = withCommitLock {
    retryMetaCommit { m =>
      require(!m.tags.contains(to), s"$to is a tag; tags cannot be moved")
      val fromId = m.refs.getOrElse(from,
        throw new IllegalArgumentException(s"Unknown ref $from"))
      m.refs.get(to).foreach { toId =>
        require(m.isAncestorOf(toId, fromId),
          s"Cannot fast-forward $to to $from: $to is not an ancestor")
      }
      m.copy(refs = m.refs + (to -> fromId))
    }
    ()
  }

  // ---------------------------------------------------------------------
  // Metadata tables (reference IcebergLoadActivityTask.scala:84-97)
  // ---------------------------------------------------------------------

  /** `t.history`: one row per commit on the log, flagging main-ancestry. */
  def history: DataFrame = {
    val m = meta
    val ancestors = m.currentSnapshotId.map(m.ancestry).getOrElse(Seq.empty).toSet
    val sp = spark
    import sp.implicits._
    m.snapshots
      .map(s => (new java.sql.Timestamp(s.timestampMs), s.id, s.parentId, ancestors.contains(s.id)))
      .toDF("made_current_at", "snapshot_id", "parent_id", "is_current_ancestor")
  }

  /** `t.snapshots` */
  def snapshotsDF: DataFrame = {
    val m = meta
    val sp = spark
    import sp.implicits._
    m.snapshots
      .map(s => (new java.sql.Timestamp(s.timestampMs), s.id, s.parentId, s.operation,
        s"${SnapshotLog.metadataDir(location)}/snap-${s.id}",
        s.summary ++ Map(
          "total-records" -> s.totalRecords.toString,
          "total-files-size" -> s.totalBytes.toString,
          "total-data-files" -> s.files.size.toString)))
      .toDF("committed_at", "snapshot_id", "parent_id", "operation", "manifest_list", "summary")
  }

  /** `t.metadata_log_entries` */
  def metadataLogEntries: DataFrame = {
    val m = meta
    val sp = spark
    import sp.implicits._
    m.metadataLog
      .map(e => (new java.sql.Timestamp(e.timestampMs),
        s"${SnapshotLog.metadataDir(location)}/${e.file}", e.latestSnapshotId))
      .toDF("timestamp", "file", "latest_snapshot_id")
  }

  /** `t.files`: live data files of the current snapshot, with stats captured
    * at commit time (no parquet re-open). */
  def filesDF: DataFrame = {
    val m = meta
    val sp = spark
    import sp.implicits._
    m.currentSnapshot.map(_.files).getOrElse(Seq.empty)
      .map(f => (0, fileLoc(f), "PARQUET",
        f.partitionValues.map { case (k, v) => s"$k=$v" }.mkString("{", ", ", "}"),
        f.records, f.sizeBytes))
      .toDF("content", "file_path", "file_format", "partition", "record_count", "file_size_in_bytes")
  }

  /** `t.all_files`: data files across ALL retained snapshots (Iceberg's
    * all_data_files), one row per (snapshot, file) — the view expiry and
    * orphan-GC audits read. `dataSeq` surfaces as the file's adding
    * commit. */
  def allFilesDF: DataFrame = {
    val m = meta
    val sp = spark
    import sp.implicits._
    m.snapshots.sortBy(_.id)
      .flatMap(s => s.files.map(f => (s.id, fileLoc(f),
        f.partitionValues.map { case (k, v) => s"$k=$v" }.mkString("{", ", ", "}"),
        f.records, f.sizeBytes, f.dataSeq.getOrElse(-1L))))
      .toDF("snapshot_id", "file_path", "partition", "record_count",
        "file_size_in_bytes", "data_sequence_number")
  }

  /** `t.manifests`: we have no manifest layer (file lists live in the log);
    * emit one synthetic manifest row per partition of the current snapshot
    * so the introspection surface matches (SURVEY.md §2.4 M4). */
  def manifestsDF: DataFrame = {
    val m = meta
    val sp = spark
    import sp.implicits._
    val files = m.currentSnapshot.map(_.files).getOrElse(Seq.empty)
    files.groupBy(_.partitionValues).toSeq.sortBy(_._1.toString)
      .map { case (pv, fl) =>
        (s"${SnapshotLog.metadataDir(location)}/v${m.version}.metadata.json#" +
          pv.map { case (k, v) => s"$k=$v" }.mkString(","),
          fl.map(_.sizeBytes).sum, 0, m.currentSnapshotId.getOrElse(-1L),
          fl.size, 0, 0)
      }
      .toDF("path", "length", "partition_spec_id", "added_snapshot_id",
        "added_data_files_count", "existing_data_files_count", "deleted_data_files_count")
  }

  /** `t.manifest_files`: the PHYSICAL manifest list of the current
    * snapshot — one row per manifest file the head resolves through, with
    * its on-disk length and entry counts (Iceberg's `manifests` table
    * shape, reference IcebergLoadActivityTask.scala:92). Under the
    * amortized commit scheme each manifest's `added` entries are the files
    * stamped with the highest data-sequence in that manifest (its writing
    * commit); `existing` entries were carried in by a collapse/rewrite. */
  def manifestFilesDF: DataFrame = {
    val m = meta
    val sp = spark
    import sp.implicits._
    val metaDir = SnapshotLog.metadataDir(location)
    m.currentSnapshot.toSeq.flatMap { s =>
      s.manifestRefs.map { name =>
        val data = SnapshotLog.readManifest(location, name, conf)
        val len = fs.getFileStatus(new Path(metaDir, name)).getLen
        val addedSnap = data.files.flatMap(_.dataSeq).maxOption.getOrElse(s.id)
        (name, len, addedSnap,
          data.files.count(_.dataSeq.contains(addedSnap)),
          data.files.count(!_.dataSeq.contains(addedSnap)),
          data.deleteFiles.size)
      }
    }.toDF("path", "length", "added_snapshot_id", "added_data_files_count",
      "existing_data_files_count", "delete_files_count")
  }

  /** `t.partitions`: per-partition file/record/byte totals of the current
    * snapshot — all from commit-time stats, no file opens. */
  def partitionsDF: DataFrame = {
    val m = meta
    val sp = spark
    import sp.implicits._
    m.currentSnapshot.map(_.files).getOrElse(Seq.empty)
      .groupBy(_.partitionValues).toSeq
      .map { case (pv, fl) =>
        (pv.map { case (k, v) => s"$k=$v" }.mkString("{", ", ", "}"),
          fl.size.toLong, fl.map(_.records).sum, fl.map(_.sizeBytes).sum)
      }
      .sortBy(_._1)
      .toDF("partition", "file_count", "record_count", "total_size_bytes")
  }

  /** `t.delete_files`: live merge-on-read equality-delete files of the
    * current snapshot (Iceberg's delete_files metadata table). */
  def deleteFilesDF: DataFrame = {
    val m = meta
    val sp = spark
    import sp.implicits._
    m.currentSnapshot.map(_.deleteFiles).getOrElse(Seq.empty)
      .map(d => (s"$dataDir/${d.path}", d.keyCols.mkString(","),
        d.records, d.sizeBytes, d.seq))
      .toDF("file_path", "equality_columns", "record_count",
        "file_size_in_bytes", "sequence_number")
  }

  def refsDF: DataFrame = {
    val m = meta
    val sp = spark
    import sp.implicits._
    (m.refs.toSeq.map { case (n, id) => (n, "BRANCH", id) } ++
      m.tags.toSeq.map { case (n, id) => (n, "TAG", id) })
      .sortBy(r => (r._1, r._2))
      .toDF("name", "type", "snapshot_id")
  }

  /** `t.entries`: the manifest-entry view of the current snapshot
    * (Iceberg's `entries` metadata table) — one row per (manifest, file),
    * data AND delete files, with Iceberg's content / status / sequence
    * vocabulary:
    *
    *  - `content`: 0 data file, 1 position/DV deletes, 2 equality deletes;
    *  - `status`: 1 ADDED — the entry's writing commit is the manifest's
    *    own (an append's manifest holds only its added files; a collapse
    *    manifest's added entries carry the collapsing commit's sequence) —
    *    0 EXISTING — carried forward from an earlier commit by a
    *    collapse/rewrite;
    *  - `snapshot_id` / `sequence_number`: the entry's adding commit (our
    *    commit ids double as sequence numbers).
    *
    * Driver-side over commit metadata only (manifest lists are
    * O(files-at-head) JSON already in memory) — no data files open. */
  def entriesDF: DataFrame = {
    val m = meta
    val sp = spark
    import sp.implicits._
    val seqOf = dataSeqOf(m)
    val rows = m.currentSnapshot.toSeq.flatMap { s =>
      // resolve per-manifest so status reflects the PHYSICAL layout;
      // legacy inline file lists read as one synthetic manifest
      val groups: Seq[(String, ManifestData)] =
        if (s.manifestRefs.nonEmpty)
          s.manifestRefs.map(n => n -> SnapshotLog.readManifest(location, n, conf))
        else Seq(s"v${m.version}.metadata.json" ->
          ManifestData(s.inlineFiles, s.inlineDeleteFiles))
      groups.flatMap { case (name, data) =>
        val written = (data.files.map(seqOf) ++ data.deleteFiles.map(_.seq))
          .maxOption.getOrElse(s.id)
        data.files.map { f =>
          (0, if (seqOf(f) == written) 1 else 0, seqOf(f), seqOf(f),
            name, fileLoc(f), f.records, f.sizeBytes)
        } ++ data.deleteFiles.map { d =>
          (if (d.isPositional || d.isDv) 1 else 2,
            if (d.seq == written) 1 else 0, d.seq, d.seq,
            name, s"$dataDir/${d.path}", d.records, d.sizeBytes)
        }
      }
    }
    rows.toDF("content", "status", "snapshot_id", "sequence_number",
      "manifest_path", "file_path", "record_count", "file_size_in_bytes")
  }

  /** `t.all_manifests`: the manifest lists of ALL retained snapshots —
    * one row per (referencing snapshot, manifest), surfacing manifest
    * REUSE across the append chain (Iceberg's `all_manifests`). Each
    * manifest is read once and cached by name; rows carry the manifest's
    * adding commit and its added-entry record sum so lineage is checkable
    * without opening data files. */
  def allManifestsDF: DataFrame = {
    val m = meta
    val sp = spark
    import sp.implicits._
    val metaDir = SnapshotLog.metadataDir(location)
    val seqOf = dataSeqOf(m)
    val byName = scala.collection.mutable.Map.empty[String, (Long, Long, Long, Long, Long)]
    def resolve(name: String): (Long, Long, Long, Long, Long) =
      byName.getOrElseUpdate(name, {
        val data = SnapshotLog.readManifest(location, name, conf)
        val written = (data.files.map(seqOf) ++ data.deleteFiles.map(_.seq))
          .maxOption.getOrElse(0L)
        val len = fs.getFileStatus(new Path(metaDir, name)).getLen
        (written,
          data.files.filter(f => seqOf(f) == written).map(_.records).sum,
          data.files.count(f => seqOf(f) != written).toLong, len,
          data.deleteFiles.size.toLong)
      })
    m.snapshots.sortBy(_.id).flatMap { s =>
      s.manifestRefs.map { name =>
        val (added, addedRecords, existingFiles, len, nDeletes) = resolve(name)
        (s.id, name, len, added, addedRecords, existingFiles, nDeletes)
      }
    }.toDF("reference_snapshot_id", "path", "length", "added_snapshot_id",
      "added_records", "existing_data_files_count", "delete_files_count")
  }

  /** `t.position_deletes`: one row per DELETED ROW POSITION at the current
    * snapshot (Iceberg's `position_deletes` metadata table) — position
    * row lists pass through; deletion vectors expand runs back to
    * positions. ONE distributed multi-path scan per delete-file KIND (at
    * most three plan branches ever: parquet row lists, avro row lists,
    * deletion vectors) — a table with thousands of un-compacted delete
    * files must not build O(files) plan branches (driver-side plan size
    * and analysis time); per-row provenance (`delete_file_path`) comes
    * from the scan itself instead of a per-file literal. */
  def positionDeletesDF: DataFrame = {
    val m = meta
    val schema = StructType(Seq(
      StructField("file_path", StringType),
      StructField("pos", LongType),
      StructField("delete_file_path", StringType)))
    val dels = m.currentSnapshot.map(_.deleteFiles).getOrElse(Seq.empty)
      .filter(d => d.isPositional || d.isDv)
    if (dels.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    // every delete file lives flat under `data/_deletes/` (writeDeleteFiles
    // / writeDvFiles naming), so the origin path recovers from
    // input_file_name without caring about URI scheme or qualification;
    // the generated names are uuid-hex + parquet part names — never
    // URL-encoded
    val srcPath = concat(lit(s"$dataDir/_deletes/"),
      substring_index(input_file_name(), "/_deletes/", -1))
    def runsToPositions(runs: Column): Column = flatten(transform(
      sequence(lit(0), (size(runs) / 2).cast("int") - 1),
      i => sequence(
        element_at(runs, i * 2 + 1),
        element_at(runs, i * 2 + 1) + element_at(runs, i * 2 + 2) - 1)))
    val (dvs, poss) = dels.partition(_.isDv)
    val (avros, parqs) = poss.partition(_.path.endsWith(AvroDeletes.Extension))
    val parts = Seq(
      if (parqs.isEmpty) None
      else Some(spark.read.parquet(parqs.map(d => s"$dataDir/${d.path}"): _*)
        .select(col("__file"), col("__pos"), srcPath.as("__del"))),
      if (avros.isEmpty) None
      else Some(AvroDeletes.readTagged(spark,
          avros.map(d => s"$dataDir/${d.path}"),
          StructType(Seq(StructField("__file", StringType),
            StructField("__pos", LongType))))
        .select(col("__file"), col("__pos"), col("__source").as("__del"))),
      if (dvs.isEmpty) None
      else Some(spark.read.parquet(dvs.map(d => s"$dataDir/${d.path}"): _*)
        .select(col("__file"), explode(runsToPositions(col("__runs"))).as("__pos"),
          srcPath.as("__del")))).flatten
    parts.reduce(_.unionByName(_)).select(
      concat(lit(s"$dataDir/"), col("__file")).as("file_path"),
      col("__pos").as("pos"),
      col("__del").as("delete_file_path"))
  }

  // ---------------------------------------------------------------------
  // Maintenance (reference IcebergLoadActivityTask.scala:156-165)
  // ---------------------------------------------------------------------

  /** `remove_orphan_files`: delete data files referenced by no snapshot.
    *
    * Only files whose mtime is older than `olderThanMs` are candidates
    * (Iceberg defaults to 3 days for the same reason): writeDataFiles moves
    * files into data/ BEFORE the metadata commit, so without an age cutoff a
    * concurrent cleanup would GC an in-flight commit's files. The listing
    * also runs under the commit lock so same-process committers can't race.
    */
  def removeOrphanFiles(dryRun: Boolean,
      olderThanMs: Long = System.currentTimeMillis() - GraftTable.OrphanFileDefaultAgeMs): Seq[String] =
    withCommitLock {
      val m = meta
      val referenced = m.snapshots.flatMap(s =>
        s.files.map(_.path) ++ s.deleteFiles.map(_.path)).toSet
      val dd = fs.makeQualified(new Path(dataDir))
      if (fs.exists(dd)) {
        val listed = ArrayBuffer.empty[String]
        val it = fs.listFiles(dd, true)
        while (it.hasNext) {
          val st = it.next()
          val rel = dd.toUri.relativize(st.getPath.toUri).getPath
          if (st.isFile && !rel.endsWith("_SUCCESS") &&
              st.getModificationTime < olderThanMs) listed += rel
        }
        val orphans = listed.filterNot(referenced.contains).toSeq
        if (!dryRun) orphans.foreach(o => fs.delete(new Path(dataDir, o), false))
        orphans
      } else Seq.empty
    }

  /** `rewrite_data_files(strategy=>'sort')`: compact the current snapshot
    * into one sorted file per partition (reference sort_order
    * `account ASC NULLS LAST, txn_id DESC NULLS FIRST`,
    * IcebergLoadActivityTask.scala:159). */
  /**
   * Multi-dimensional clustering compaction: rewrite the current snapshot
   * ordered and range-split by the Morton (Z-order) code of the given
   * numeric columns, so per-file min-max footer stats become selective on
   * EVERY z-ordered dimension — `scanWhere` then skips files for
   * predicates on any of them, where a linear sort only serves its leading
   * column. The interleave runs on 16-bit ranks normalized from one
   * column-stats aggregate (a single cheap job); ranking is approximate by
   * design — clustering quality, not correctness, depends on it.
   * `targetFiles` bounds the z-range splits per table (each table
   * partition still writes its own files).
   */
  def rewriteDataFilesZOrder(zCols: Seq[String],
      targetFiles: Int = 8): GraftSnapshot = {
    require(zCols.nonEmpty && zCols.size <= 4,
      s"z-order supports 1-4 columns, got ${zCols.size}")
    val df = lineageScan() // carryover rewrite: every row keeps id + seq
    val aggs = zCols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val statsRow = df.agg(aggs.head, aggs.tail: _*).collect().head
    val bits = 16
    val ranks = zCols.zipWithIndex.map { case (c, i) =>
      val mn = statsRow.getDouble(2 * i)
      val mx = statsRow.getDouble(2 * i + 1)
      val span = if (mx > mn) mx - mn else 1.0
      least(greatest(((col(c).cast("double") - lit(mn)) / lit(span) * lit((1 << bits) - 1))
        .cast("long"), lit(0L)), lit(((1 << bits) - 1).toLong))
    }
    // bit-by-bit interleave: z = Σ ((rank_i >> b) & 1) << (b·n + i)
    val n = ranks.size
    val morton = (0 until bits).flatMap { b =>
      ranks.zipWithIndex.map { case (r, i) =>
        shiftleft(shiftright(r, b).bitwiseAND(lit(1L)), b * n + i)
      }
    }.reduce(_.bitwiseOR(_))
    // partition columns LEAD the local sort: the parquet writer requires
    // its tasks ordered by the dynamic-partition columns and inserts its
    // own (order-destroying) sort when the child ordering doesn't already
    // start with them — which would silently undo the z clustering. For
    // transform specs the leading keys are the SAME derived expressions
    // writeDataFiles aliases as the directory columns, so the alias chain
    // preserves the ordering through the write.
    val compacted = df.withColumn("__z", morton)
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions(
        (partitionClusterExprs.map(_.asc_nulls_last) :+ col("__z")).toIndexedSeq: _*)
      .drop("__z")
    overwrite(compacted, operation = "replace")
  }

  /** Cluster/sort expressions matching the physical partition layout:
    * identity fields are the column itself, transform fields the derived
    * directory expression (days/bucket/truncate of the source). */
  private def partitionClusterExprs: Seq[Column] = {
    val sch = schema
    PartitionSpec.parse(partitionCols)
      .map(f => if (f.isIdentity) col(f.source) else f.writeExpr(sch))
  }

  /**
   * Binpack compaction — Iceberg's DEFAULT rewrite strategy and the
   * routine small-files maintenance op: coalesce ONLY the files smaller
   * than `minFileSizeBytes` into per-partition files; full-sized files
   * are untouched (no read, no write, none of their rows move). At scale
   * this is the difference between compaction cost O(small-file bytes)
   * and a full-table rewrite. Merge-on-read deletes are applied to the
   * rows being rewritten and PRESERVED for the untouched files (the
   * rewritten files' data-sequence stamps keep old deletes from
   * re-applying to them) — partial rewrites must never clear deletes the
   * remaining files still need.
   */
  def rewriteDataFilesBinpack(minFileSizeBytes: Long = 32L << 20)
      : GraftSnapshot = withCommitLock {
    val m = meta
    // resolve the SAME ref commitSnapshot(branch = None) will write to:
    // under an active WAP branch the compaction must read the branch's
    // files — reading main would graft main's rows into the staged branch
    // (sorted/z-order avoid this via the WAP-aware toDF + overwrite)
    val ref = wapBranch.filter(m.refs.contains).getOrElse(SnapshotLog.MainBranch)
    val snap = m.snapshotForRef(ref).getOrElse(
      throw new IllegalStateException(s"${m.name}: no snapshot to compact"))
    val small = snap.files.filter(_.sizeBytes < minFileSizeBytes)
    if (small.size <= 1) snap // nothing to coalesce
    else {
      val tableSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val rows = readWithDeletes(Some(snap), m, small, keepLineage = true)
      val clustered =
        if (m.partitionCols.nonEmpty)
          rows.repartition(partitionClusterExprs.toIndexedSeq: _*)
        else rows.coalesce(1)
      val newFiles = writeDataFiles(clustered, tableSchema, m.partitionCols,
        applyDistribution = false)
      commitSnapshot(m, newFiles, removed = small.map(_.path).toSeq,
        operation = "replace", branch = None, preserveDeletes = true)
    }
  }

  def rewriteDataFilesSorted(sortExprs: Seq[Column],
      targetFiles: Int = 8): GraftSnapshot = {
    val df = lineageScan() // carryover rewrite: every row keeps id + seq
    // partition columns LEAD the local sort (see rewriteDataFilesZOrder):
    // otherwise the writer's own dynamic-partition sort reorders rows and
    // within-file order silently degrades to arbitrary
    val compacted =
      if (partitionCols.nonEmpty)
        df.repartition(partitionClusterExprs.toIndexedSeq: _*)
          .sortWithinPartitions(
            (partitionClusterExprs.map(_.asc_nulls_last) ++ sortExprs).toIndexedSeq: _*)
      else {
        // unpartitioned table: terasort-style GLOBAL order across the
        // rewritten files — range-partition on the sort key (sampling
        // picks the split points, SortOrder direction is honored) so
        // every task sorts only its slice, exactly like the z-order path.
        // A single-task global sort here would funnel the whole table
        // through one executor at compaction time. Clamped to the current
        // file count so compaction never INCREASES the file count (tiny
        // tables still collapse to one file).
        val width = math.max(1, math.min(targetFiles,
          meta.currentSnapshot.map(_.files.size).getOrElse(1)))
        df.repartitionByRange(width, sortExprs.toIndexedSeq: _*)
          .sortWithinPartitions(sortExprs.toIndexedSeq: _*)
      }
    overwrite(compacted, operation = "replace")
  }

  /**
   * `CALL system.rewrite_position_delete_files(table)` — Iceberg's MoR
   * delete-maintenance procedure (reference relies on the runtime's
   * SparkActions equivalent): union-read every position-delete file in the
   * head snapshot, DROP DANGLING entries — positions naming data files no
   * longer live, left behind when a partial compaction (binpack)
   * materialized their rows away but had to carry the delete file for the
   * files it did not touch — dedup, and commit the survivors back as a
   * compacted file set (writeDeleteFiles' usual rows-per-file fan-out).
   * Equality deletes are carried untouched: re-sequencing an equality
   * delete over files added after it would delete rows it never matched,
   * while a position entry names an exact (file, row index), so widening
   * its sequence over live files is a no-op by construction.
   *
   * Scale shape: one distributed scan of the delete files, a broadcast
   * semi-join against the live-path list (driver-held metadata either
   * way), one distinct on (file, pos); the data files themselves are
   * never read or rewritten. Returns the new head snapshot (unchanged if
   * the table holds no position deletes).
   */
  def rewritePositionDeleteFiles(): GraftSnapshot = withCommitLock {
    val m = meta
    val ref = wapBranch.filter(m.refs.contains).getOrElse(SnapshotLog.MainBranch)
    val snap = m.snapshotForRef(ref).getOrElse(
      throw new IllegalStateException(s"${m.name}: no snapshot to rewrite"))
    val posDels = snap.deleteFiles.filter(d => d.isPositional || d.isDv)
    if (posDels.isEmpty) snap
    else {
      val live = spark.createDataset(snap.files.map(_.path))(
        org.apache.spark.sql.Encoders.STRING).toDF("__livef")
      val lists = posDels.filter(_.isPositional)
      val vecs = posDels.filter(_.isDv)
      // old-format row lists, plus deletion vectors expanded back to
      // positions (runs → sequence per run) so both representations merge
      val listEntries = if (lists.isEmpty) None else Some(lists
        .map(d => readDeleteContent(d).select(col("__file"), col("__pos")))
        .reduce(_.unionByName(_)))
      val vecEntries = if (vecs.isEmpty) None else Some(spark.read
        .parquet(vecs.map(d => s"$dataDir/${d.path}"): _*)
        .select(col("__file"), explode(flatten(transform(
          sequence(lit(0), (size(col("__runs")) / 2).cast("int") - 1),
          i => sequence(
            element_at(col("__runs"), i * 2 + 1),
            element_at(col("__runs"), i * 2 + 1)
              + element_at(col("__runs"), i * 2 + 2) - 1))))
          .as("__pos")))
      val entries = (listEntries.toSeq ++ vecEntries.toSeq)
        .reduce(_.unionByName(_))
        .join(broadcast(live), col("__file") === col("__livef"), "left_semi")
        .select(col("__file"), col("__pos"))
        .distinct()
      // migration direction follows the table's declared representation:
      // DV mode compacts EVERYTHING (old row lists included) into
      // deletion vectors; legacy mode keeps emitting row lists
      val newDels =
        if (dvEnabled) writeDvFiles(entries)
        else writeDeleteFiles(entries, Seq("__file", "__pos"),
          kind = "position")
      commitSnapshot(m, Seq.empty, Seq.empty, "replace", branch = None,
        addedDeletes = newDels,
        extraSummary = Map(
          "rewritten-delete-files" -> posDels.size.toString,
          "removed-delete-records" ->
            (posDels.map(_.records).sum - newDels.map(_.records).sum).toString),
        preserveDeletes = true,
        removedDeletes = posDels.map(_.path).toSet)
    }
  }

  // ---------------------------------------------------------------------
  // Column-level NDV statistics (CALL system.compute_table_stats)
  // ---------------------------------------------------------------------

  /** Columns eligible for NDV sketching: atomic types, rendered through a
    * string cast so one sketch implementation covers every type (a value's
    * NDV equals its rendering's NDV for Spark's injective casts). */
  private def sketchableCols(schema: StructType): Seq[String] =
    schema.fields.filterNot(f => f.dataType match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => true
      case _ => false
    }).map(_.name).toSeq

  /** One O(columns) aggregation pass over `df`: per column the
    * datasketches HLL sketch (unioned with `prior`'s sketch when
    * present), its NDV estimate, and the non-null count. */
  private def statsRow(df: DataFrame, cols: Seq[String],
      prior: Map[String, ColumnNdv]): (Long, Map[String, ColumnNdv]) = {
    def sk(c: String): Column = {
      val fresh = hll_sketch_agg(col(c).cast("string"))
      prior.get(c).map(_.sketchB64).filter(_.nonEmpty) match {
        case Some(b64) => coalesce(
          hll_union(lit(java.util.Base64.getDecoder.decode(b64)), fresh),
          lit(java.util.Base64.getDecoder.decode(b64)))
        case None => fresh
      }
    }
    val aggs = cols.flatMap(c => Seq(
      sk(c).as(s"__sk_$c"),
      count(col(c)).as(s"__nn_$c")))
    val row = df.agg(count(lit(1)).as("__rc"), aggs: _*).head()
    val rc = row.getLong(row.fieldIndex("__rc"))
    val colStats = cols.map { c =>
      val skBytes = Option(row.get(row.fieldIndex(s"__sk_$c")))
        .map(_.asInstanceOf[Array[Byte]])
      val nn = row.getLong(row.fieldIndex(s"__nn_$c"))
      val priorC = prior.get(c)
      val nulls = (rc - nn) + priorC.map(_.nullCount).getOrElse(0L)
      val (ndv, b64) = skBytes match {
        case Some(b) =>
          val est = df.sparkSession.range(1)
            .select(hll_sketch_estimate(lit(b))).head.getLong(0)
          (est, java.util.Base64.getEncoder.encodeToString(b))
        case None => (0L, "")
      }
      c -> ColumnNdv(ndv, nulls, b64)
    }.toMap
    (rc, colStats)
  }

  /**
   * `CALL system.compute_table_stats` — one full pass over the CURRENT
   * snapshot computing per-column HLL-sketch NDV + exact null counts,
   * persisted in table metadata pinned to the snapshot id (Iceberg's
   * statistics-file model). The DSv2 scan serves these through Spark's
   * `Statistics`/`ColumnStatistics` surface, so CBO filter/join
   * estimation at 100 TB sees real cardinalities instead of raw file
   * sizes (the inner ParquetScan reports sizes only) — spec-pinned to
   * flip a join strategy. Sketches are MERGEABLE: with
   * `write.stats.ndv.enabled=true` every subsequent append advances them
   * with an O(columns) pass over the delta alone.
   */
  def computeTableStats(): ColumnStatsRecord = withCommitLock {
    val m = meta
    val snap = m.currentSnapshot.getOrElse(throw new IllegalStateException(
      s"compute_table_stats: ${m.name} has no current snapshot"))
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val cols = sketchableCols(schema)
    require(cols.nonEmpty, s"compute_table_stats: no sketchable columns in ${m.name}")
    val (rc, colStats) = statsRow(scan(Some(snap), m), cols, prior = Map.empty)
    val rec = ColumnStatsRecord(snap.id, System.currentTimeMillis(), rc, colStats)
    retryMetaCommit(mm => mm.copy(columnStats = Some(rec)))
    rec
  }

  /** Incremental stats advance after an append: union the DELTA's
    * sketches into the stored ones and re-pin to the new snapshot —
    * valid only when the stored stats were current at the append's
    * parent (an interleaved foreign commit leaves them stale; the scan's
    * snapshot gate then simply stops serving them until the next
    * compute_table_stats). */
  private def advanceColumnStats(delta: DataFrame, newSnapshotId: Long): Unit = {
    val m = meta
    val snap = m.snapshot(newSnapshotId)
    val stored = m.columnStats
    if (stored.isEmpty || snap.isEmpty) return
    if (!snap.get.parentId.contains(stored.get.snapshotId)) return
    val s = stored.get
    val cols = s.cols.keys.toSeq.sorted
    val (deltaRc, merged) = statsRow(delta, cols, prior = s.cols)
    val rec = ColumnStatsRecord(newSnapshotId, System.currentTimeMillis(),
      s.rowCount + deltaRc, merged)
    retryMetaCommit(mm =>
      if (mm.columnStats.map(_.snapshotId) == Some(s.snapshotId))
        mm.copy(columnStats = Some(rec))
      else mm)
  }

  /**
   * Partition-spec evolution (Iceberg `ALTER TABLE … PARTITION FIELD`
   * semantics): a metadata-only commit switching the spec FOR FUTURE
   * WRITES. Existing data files keep their layout — reads group files by
   * the layout they were written under, pruning works per file on
   * whichever evidence it carries (partition value or footer stats) — and
   * copy-on-write rewrites plus compactions migrate rows into the new
   * spec lazily, exactly Iceberg's evolution story. Pass empty `cols` to
   * make the table unpartitioned going forward.
   */
  def updatePartitionSpec(cols: Seq[String]): Unit = withCommitLock {
    retryMetaCommit { m =>
      val sch = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      PartitionSpec.validated(cols, sch)
      m.copy(partitionCols = cols)
    }
    ()
  }

  /**
   * `CALL system.add_files(table, source_dir)` — Iceberg's data-lake
   * onboarding procedure: commit EXISTING parquet files into the table as
   * one append snapshot without rewriting their bytes. Files hard-link
   * into `data/` (zero-copy on a local/same filesystem; falls back to a
   * byte copy when the link primitive is unavailable), footers supply
   * record counts + pruning stats, and compatibility is validated before
   * anything moves: every declared data column must exist in the source
   * with the IDENTICAL type (referenced files cannot be cast — that is
   * what a rewriting append is for), identity-partitioned tables require
   * the same hive `k=v` layout in the source paths, and a source file
   * physically containing a partition column is rejected (our layout
   * derives those from directories; silently shadowing file bytes with
   * dir values would corrupt reads). Transform specs need a rewrite.
   */
  def addFiles(sourceDir: String): GraftSnapshot = withCommitLock {
    val m = meta
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    require(PartitionSpec.parse(m.partitionCols).forall(_.isIdentity),
      "add_files supports identity partition specs only; transform " +
        "layouts derive directory values the source cannot carry — " +
        "import through a rewriting append instead")
    val srcQ = fs.makeQualified(new Path(sourceDir))
    require(fs.exists(srcQ), s"add_files: no such directory $sourceDir")
    // unified (files + hive dirs) schema, footer-only driver read
    val srcSchema = spark.read.parquet(sourceDir).schema
    schema.fields.filterNot(f => m.partitionCols.contains(f.name))
      .foreach { f =>
        val sf = srcSchema.fields.find(_.name == f.name).getOrElse(
          throw new IllegalArgumentException(
            s"add_files: source lacks column ${f.name}"))
        require(sf.dataType == f.dataType,
          s"add_files: column ${f.name} is ${sf.dataType.simpleString} in " +
            s"the source but ${f.dataType.simpleString} on ${m.name} — " +
            "referenced files cannot be cast")
      }
    m.partitionCols.foreach(p =>
      require(srcSchema.fieldNames.contains(p),
        s"add_files: partitioned table needs hive-style $p=... source dirs"))

    val commitId = UUID.randomUUID().toString.take(8)
    // gather once, sort for a deterministic manifest order, then do the
    // per-file work (footer stats read + mkdirs + link/copy) on a bounded
    // pool — the loop is IO-bound driver work and was the onboarding
    // bottleneck at large file counts when sequential
    val listed = ArrayBuffer.empty[org.apache.hadoop.fs.LocatedFileStatus]
    val it = fs.listFiles(srcQ, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) listed += st
    }
    val sorted = listed.sortBy(st =>
      srcQ.toUri.relativize(st.getPath.toUri).getPath)
    def importOne(st: org.apache.hadoop.fs.FileStatus): DataFile = {
      val rel = srcQ.toUri.relativize(st.getPath.toUri).getPath
      val partSegs = rel.split("/").toSeq.dropRight(1)
        .filter(_.contains("="))
      val pv = partSegs.flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> ExternalCatalogUtils.unescapePathName(v))
        case _ => None
      }).toMap
      require(pv.keySet == m.partitionCols.toSet,
        s"add_files: $rel carries partition dirs ${pv.keySet.mkString(",")} " +
          s"but ${m.name} is partitioned by ${m.partitionCols.mkString(",")}")
      val (records, stats, physCols) = {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try {
          import scala.jdk.CollectionConverters._
          (r.getRecordCount, footerColumnStats(r, schema),
            r.getFooter.getFileMetaData.getSchema.getFields.asScala
              .map(_.getName).toSet)
        } finally r.close()
      }
      m.partitionCols.foreach(p => require(!physCols.contains(p),
        s"add_files: $rel physically stores partition column $p; the " +
          "table derives it from the directory — import via a " +
          "rewriting append instead"))
      val relTarget = (partSegs :+ s"$commitId-${st.getPath.getName}")
        .mkString("/")
      val target = new Path(dataDir, relTarget)
      fs.mkdirs(target.getParent)
      def local(p: Path): Option[java.nio.file.Path] = {
        val u = fs.makeQualified(p).toUri
        if (u.getScheme == null || u.getScheme == "file")
          Some(java.nio.file.Paths.get(u.getPath))
        else None
      }
      val linked = (local(target), local(st.getPath)) match {
        case (Some(dst), Some(srcP)) => scala.util.Try {
          java.nio.file.Files.createLink(dst, srcP); true
        }.getOrElse(false)
        case _ => false
      }
      if (!linked)
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs, target,
          false, conf)
      DataFile(relTarget, pv, records,
        fs.getFileStatus(target).getLen, stats)
    }
    val out: Seq[DataFile] =
      if (sorted.size <= 1) sorted.map(importOne).toSeq
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, sorted.size))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        // fail fast: on the first failure, queued tasks must not keep
        // linking files into data/ after add_files has already thrown —
        // the flag stops tasks the pool has dequeued but not started, and
        // awaiting full termination means no import races a caller that
        // inspects or cleans the table right after the failure
        val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
        def one(st: org.apache.hadoop.fs.FileStatus): DataFile = {
          if (failed.get()) throw new InterruptedException("add_files aborted")
          try importOne(st)
          catch { case e: Throwable => failed.set(true); throw e }
        }
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            sorted.toSeq.map(st => scala.concurrent.Future(one(st)))),
          scala.concurrent.duration.Duration.Inf)
        finally {
          pool.shutdown()
          // best-effort quiescence; must never mask the real import error
          // (an InterruptedException here would replace it) and a timeout
          // only means late imports become orphans for remove_orphan_files
          try {
            if (!pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES))
              log.warn("[add_files] importer pool did not quiesce " +
                "within 10 minutes; late imports become orphans " +
                "(remove_orphan_files collects them)")
          } catch {
            case _: InterruptedException => Thread.currentThread().interrupt()
          }
        }
      }
    require(out.nonEmpty, s"add_files: no parquet files under $sourceDir")
    commitSnapshot(m, out.toSeq, removed = Seq.empty, operation = "append",
      branch = None,
      extraSummary = Map("add-files-source" -> sourceDir))
  }

  /**
   * `CALL system.snapshot(source, table)` — zero-copy clone of this
   * table's CURRENT state as a new, independently-evolving table at
   * `targetLocation` (the third member of Iceberg's onboarding trio next
   * to `add_files` and `register_table`). Commits ONE append snapshot
   * reusing the source's per-file stats — no footer re-reads, no scan.
   *
   * Two physical modes:
   *
   *  - `link = false` (default — Iceberg parity): METADATA-ONLY. The
   *    clone's manifest entries carry the source's data dir as an
   *    absolute `base` (Iceberg manifests reference absolute paths for
   *    exactly this), so cloning a million-file table is O(metadata)
   *    driver work — zero per-file filesystem calls. The clone's own
   *    maintenance (expire, remove_orphan_files, compaction, DROP) never
   *    deletes a based entry's bytes — physical deletion belongs to the
   *    owner. CAVEAT (Iceberg's snapshot-table caveat, verbatim): the
   *    clone depends on the source's files staying put; source-side
   *    expire_snapshots / remove_orphan_files after source rewrites can
   *    delete files the clone still references. Use `link = true` when
   *    the source will be maintained independently.
   *
   *  - `link = true`: every current data file hard-links into the
   *    clone's `data/` at its existing relative path (no bytes move on a
   *    link-capable filesystem; byte-copy fallback otherwise).
   *    Independence is then physical — links are distinct directory
   *    entries over shared inodes, so EITHER side's maintenance deletes
   *    only its own entries (spec-pinned mutual immunity) — at the cost
   *    of O(files) driver-side link calls.
   *
   * Scope (both modes): the clone starts history afresh from the current
   * snapshot (time travel into pre-clone history stays with the source —
   * Iceberg's snapshot tables behave the same). Sources with live MoR
   * delete files or rename/type-promotion eras are refused: their files
   * need era-aware or anti-join reads the clone's fresh metadata cannot
   * express — run `rewrite_position_delete_files` / a rewriting
   * compaction first.
   */
  def snapshotTo(targetLocation: String, targetName: String,
      link: Boolean = false): GraftTable = {
    val m = meta
    val snap = m.currentSnapshot.getOrElse(throw new IllegalStateException(
      s"snapshot: ${m.name} has no current snapshot to clone"))
    require(snap.deleteFiles.isEmpty,
      s"snapshot: ${m.name} carries live MoR delete files; run " +
        "rewrite_position_delete_files (or a compaction) first")
    require(m.renames.isEmpty && m.typeChanges.isEmpty,
      s"snapshot: ${m.name} has rename/type-promotion eras; pre-era files " +
        "store old physical names/types the clone's fresh metadata cannot " +
        "resolve — rewrite_data_files first")
    val t = GraftTable.create(spark, targetLocation, targetName, schema,
      m.partitionCols, m.props)
    if (!link)
      // Surfaced caveat (and in the procedure's `storage` output column):
      // a metadata-only clone's entries point into the SOURCE's data dir,
      // and the source keeps no back-reference — the source's
      // expire_snapshots / remove_orphan_files / DROP can delete files
      // this clone still reads. Pass link = true for physical immunity.
      log.warn(
        s"snapshot clone '$targetName' is METADATA-ONLY: it shares " +
          s"'${m.name}''s data files and stays dependent on the source's " +
          "retention/DROP lifecycle; use link = true for a physically " +
          "independent clone")
    val entries =
      if (!link) {
        // metadata-only: reference the files where they live (a clone of
        // a clone keeps pointing at the ORIGINAL owner's data dir)
        snap.files.map(f =>
          f.copy(dataSeq = None, base = Some(f.base.getOrElse(dataDir))))
      } else {
        def linkOne(f: DataFile): Unit = {
          val src = fs.makeQualified(new Path(fileLoc(f)))
          val dst = fs.makeQualified(new Path(t.dataDir, f.path))
          fs.mkdirs(dst.getParent)
          def local(p: Path): Option[java.nio.file.Path] = {
            val u = p.toUri
            if (u.getScheme == null || u.getScheme == "file")
              Some(java.nio.file.Paths.get(u.getPath))
            else None
          }
          val linked = (local(dst), local(src)) match {
            case (Some(d), Some(s)) => scala.util.Try {
              java.nio.file.Files.createLink(d, s); true
            }.getOrElse(false)
            case _ => false
          }
          if (!linked)
            org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
        }
        // the add_files importer-pool pattern: per-file hard-link/copy is
        // IO-bound driver work — a 10k-file clone serially is the same
        // latency wall add_files had. Fail-fast flag + full quiescence;
        // manifest order stays deterministic because entries derive from
        // snap.files below, not from task completion order.
        if (snap.files.size <= 1) snap.files.foreach(linkOne)
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(16, snap.files.size))
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutorService(pool)
          val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
          def one(f: DataFile): Unit = {
            if (failed.get()) throw new InterruptedException("snapshot aborted")
            try linkOne(f)
            catch { case e: Throwable => failed.set(true); throw e }
          }
          try scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(
              snap.files.map(f => scala.concurrent.Future(one(f)))),
            scala.concurrent.duration.Duration.Inf)
          finally {
            pool.shutdown()
            try {
              if (!pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES))
                log.warn("[snapshot] linker pool did not quiesce " +
                  "within 10 minutes; late links become orphans of the " +
                  "target (its remove_orphan_files collects them)")
            } catch {
              case _: InterruptedException => Thread.currentThread().interrupt()
            }
          }
        }
        snap.files.map(_.copy(dataSeq = None, base = None))
      }
    t.commitSnapshot(t.meta, entries,
      removed = Seq.empty, operation = "append", branch = None,
      extraSummary = Map("snapshot-source" -> location))
    t
  }

  /** `rewrite_manifests` (reference IcebergLoadActivityTask.scala:160,
    * SURVEY.md §2.5 P3). Three jobs: (a) COMPACT long manifest chains —
    * every amortized append adds one manifest to its snapshot's list, so a
    * ref head accumulated over many appends resolves through many small
    * manifests; heads past `maxManifests` are rewritten to a single full
    * manifest (Iceberg's rewrite_manifests consolidation); (b) truncate
    * the unbounded metadata-log tail (snapshots and refs intact); and (c)
    * collect manifests no retained snapshot references — replaced by
    * compaction, or left under `_graft/` by a writer dying between its
    * manifest write and losing the commit race. The age guard mirrors
    * [[removeOrphanFiles]]: an in-flight commit's just-written manifest is
    * never collected. */
  def rewriteManifests(
      olderThanMs: Long = System.currentTimeMillis() - GraftTable.OrphanFileDefaultAgeMs,
      maxManifests: Int = 8): Seq[String] =
    withCommitLock {
      val committed = retryMetaCommit { m =>
        val heads = m.refs.values.toSet ++ m.tags.values
        m.copy(
          metadataLog = m.metadataLog.takeRight(1),
          snapshots = m.snapshots.map { s =>
            if (heads.contains(s.id) && s.manifestRefs.size > maxManifests)
              // re-inline the full live lists; commit() externalizes them
              // back out as ONE fresh manifest replacing the whole chain
              s.copy(inlineFiles = s.files, inlineDeleteFiles = s.deleteFiles,
                manifest = None, manifests = Seq.empty)
            else s
          })
      }
      val live = committed.snapshots.flatMap(_.manifestRefs).toSet
      val dir = fs.makeQualified(new Path(SnapshotLog.metadataDir(location)))
      fs.listStatus(dir)
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && n.startsWith("manifest-") && !live.contains(n) &&
            st.getModificationTime < olderThanMs
        }
        .map { st => fs.delete(st.getPath, false); st.getPath.getName }
        .toSeq
    }

  /** `expire_snapshots(older_than, retain_last)`: drop old snapshots (keeping
    * ref heads and the last N of main's ancestry) and delete files no
    * retained snapshot references. Branch-pinned snapshots always survive
    * (SURVEY.md §7.4 risk 3). */
  /** Attach an Iceberg-style retention policy to a ref (see
    * [[RefRetention]]): `minSnapshotsToKeep` / `maxSnapshotAgeMs` are
    * branch-only (how much ancestry [[expireSnapshots]] preserves);
    * `maxRefAgeMs` applies to branches AND tags (the ref itself expires
    * once its pointed snapshot is older). Passing all-None clears the
    * policy back to table defaults. */
  def setRefRetention(ref: String, minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None): Unit = withCommitLock {
    retryMetaCommit { m =>
      require(m.refs.contains(ref) || m.tags.contains(ref),
        s"No ref '$ref' on ${m.name}")
      require(!(m.tags.contains(ref) &&
          (minSnapshotsToKeep.isDefined || maxSnapshotAgeMs.isDefined)),
        s"'$ref' is a tag: tags pin one snapshot, only max-ref-age-ms applies")
      require(ref != SnapshotLog.MainBranch || maxRefAgeMs.isEmpty,
        "main never ages out; set min-snapshots/max-snapshot-age only")
      val policy = RefRetention(minSnapshotsToKeep, maxSnapshotAgeMs, maxRefAgeMs)
      m.copy(refRetention =
        if (policy == RefRetention()) m.refRetention - ref
        else m.refRetention + (ref -> policy))
    }
    ()
  }

  def expireSnapshots(olderThanMs: Long, retainLast: Int,
      nowMs: Long = System.currentTimeMillis()): Seq[Long] = withCommitLock {
    val m0 = meta
    // 1. ref aging (Iceberg history.expire.max-ref-age-ms + per-ref
    //    override): a non-main ref whose pointed snapshot is older than
    //    the limit expires WITH this maintenance pass — without it every
    //    branch/tag pin is immortal and metadata grows without bound on
    //    long-lived WAP/tag refs. Ref age derives from the pointed
    //    snapshot's commit timestamp, Iceberg's rule.
    val defaultRefAge = m0.props.get("history.expire.max-ref-age-ms").map(_.toLong)
    def refAged(ref: String, sid: Long): Boolean =
      ref != SnapshotLog.MainBranch &&
        m0.refRetention.get(ref).flatMap(_.maxRefAgeMs).orElse(defaultRefAge)
          .exists(lim => m0.snapshot(sid).exists(s => nowMs - s.timestampMs > lim))
    val liveRefs = m0.refs.filterNot { case (r, sid) => refAged(r, sid) }
    val liveTags = m0.tags.filterNot { case (r, sid) => refAged(r, sid) }
    val m = m0.copy(refs = liveRefs, tags = liveTags,
      refRetention = m0.refRetention.filter { case (r, _) =>
        liveRefs.contains(r) || liveTags.contains(r) })

    val mainKeep = m.currentSnapshotId.map(m.ancestry(_).take(retainLast)).getOrElse(Seq.empty)
    val refHeads = m.refs.values.toSet ++ m.tags.values
    // 2. per-branch ancestry retention: each surviving non-main branch
    //    keeps min-snapshots-to-keep ancestors (default 1 = the head,
    //    which refHeads already shields) plus every ancestor younger than
    //    its max-snapshot-age-ms when set — so a pinned branch can retain
    //    MORE history than the table-wide olderThan horizon
    val branchKeep: Set[Long] = m.refs.toSeq.collect {
      case (r, sid) if r != SnapshotLog.MainBranch &&
          m.refRetention.contains(r) =>
        val pol = m.refRetention(r)
        val anc = m.ancestry(sid)
        val byCount = anc.take(pol.minSnapshotsToKeep.getOrElse(1))
        val byAge = pol.maxSnapshotAgeMs.map(a => anc.filter(id =>
          m.snapshot(id).exists(_.timestampMs >= nowMs - a))).getOrElse(Seq.empty)
        byCount ++ byAge
    }.flatten.toSet
    val keep = m.snapshots.filter(s =>
      s.timestampMs >= olderThanMs || refHeads.contains(s.id) ||
        mainKeep.contains(s.id) || branchKeep.contains(s.id))
      .map(_.id).toSet
    val expired = m.snapshots.filterNot(s => keep.contains(s.id))
    // retained files are keyed by (base, path): a relative path under a
    // DIFFERENT data root (an external clone entry) must never shield —
    // or be shielded by — a local file that happens to share the name
    val retainedFiles = m.snapshots.filter(s => keep.contains(s.id))
      .flatMap(s => s.files.map(f => (f.base, f.path)) ++
        s.deleteFiles.map(d => (None, d.path))).toSet
    // entries with an absolute base are another table's files referenced
    // by a metadata-only snapshot clone: expiring the referencing snapshot
    // drops the REFERENCE only — physical deletion belongs to the owner
    val toDelete = expired
      .flatMap(s => s.files.filter(_.base.isEmpty).map(_.path) ++
        s.deleteFiles.map(_.path))
      .distinct.filterNot(p => retainedFiles.contains((None, p)))
    val pruned = m.copy(snapshots = m.snapshots.filter(s => keep.contains(s.id)))
    SnapshotLog.commit(location, pruned, conf)
    toDelete.foreach(p => fs.delete(new Path(dataDir, p), false))
    // manifests are SHARED down append chains (each append references its
    // parent's manifests), so deletion is reference-counted: an expired
    // snapshot's manifest goes only when no retained snapshot names it
    val retainedManifests = m.snapshots.filter(s => keep.contains(s.id))
      .flatMap(_.manifestRefs).toSet
    expired.flatMap(_.manifestRefs).distinct
      .filterNot(retainedManifests.contains)
      .foreach(name =>
        fs.delete(new Path(SnapshotLog.metadataDir(location), name), false))
    expired.map(_.id)
  }

  // ---------------------------------------------------------------------
  // internals
  // ---------------------------------------------------------------------

  private def withCommitLock[T](body: => T): T = GraftTable.lockFor(location).synchronized(body)

  /** Optimistic retry for METADATA-ONLY commits (branch/tag/schema/property
    * ops): `op` re-reads fresh metadata and re-applies on a foreign-commit
    * conflict — its `require` validations re-run each attempt — so an
    * interleaved foreign writer costs a bounded retry, not a failure.
    * Data commits have their own policies: appends retry in [[append]],
    * CoW conflicts propagate (their file probes are stale). */
  private def retryMetaCommit(op: TableMetadata => TableMetadata): TableMetadata = {
    var attempt = 0
    var out: TableMetadata = null
    while (out == null) {
      val m = meta
      val next = op(m)
      GraftTable.onBeforeCommit()
      try out = SnapshotLog.commit(location, next, conf)
      catch {
        case _: CommitLostException if attempt < 12 =>
          attempt += 1
          Thread.sleep(attempt * 20L + scala.util.Random.nextInt(40).toLong)
      }
    }
    out
  }

  private def resolveWriteBranchHead(m: TableMetadata, branch: Option[String]): Option[GraftSnapshot] = {
    val b = branch.orElse(wapBranch).getOrElse(SnapshotLog.MainBranch)
    require(!m.tags.contains(b),
      s"$b is a tag on ${m.name}; tags are immutable and cannot be written to")
    m.refs.get(b).orElse(m.refs.get(SnapshotLog.MainBranch)).flatMap(m.snapshot)
  }

  /** append-style schema widening for mergeSchema semantics */
  private def maybeWidenSchema(m: TableMetadata, df: DataFrame): TableMetadata = {
    val cur = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    // the __-prefix namespace is internal (lineage/position carriers on
    // rewrite frames) and never widens the declared schema
    val newCols = df.schema.fields.filterNot(f =>
      cur.fieldNames.contains(f.name) || f.name.startsWith("__"))
    // a widen must never resurrect a renamed/dropped physical name — old
    // files still store unrelated data under it (see addColumn)
    val tombed = newCols.filter(f =>
      m.tombstones.exists(_.equalsIgnoreCase(f.name)))
    require(tombed.isEmpty,
      s"Column name(s) ${tombed.map(_.name).mkString(", ")} were renamed or " +
        s"dropped on ${m.name} and cannot be reintroduced by a widening write")
    if (newCols.isEmpty) m
    else m.copy(schemaJson = StructType(cur.fields ++ newCols).json)
  }

  /** Write df into hive-partition-layout files under data/, returning the
    * committed DataFile entries (with footer stats). */
  private def writeDataFiles(df: DataFrame, tableSchema: StructType,
      parts: Seq[String], applyDistribution: Boolean = true): Seq[DataFile] = {
    val commitId = UUID.randomUUID().toString.take(8)
    val staging = new Path(s"$location/_staging/$commitId")
    // Row lineage (v3): a rewrite that read through the lineage columns
    // carries `__row_id`/`__last_seq` here — materialize them physically
    // so rewritten rows KEEP their identity across the rewrite; NULL
    // cells (inserted rows, update bumps) inherit firstRowId + position /
    // the new file's dataSeq at read. Plain appends don't carry them and
    // derive ids from commit metadata alone.
    val lineageWrite = df.columns.contains("__row_id") &&
      df.columns.contains("__last_seq")
    val lineageCols =
      if (lineageWrite) Seq(col("__row_id").cast(LongType).as("__row_id"),
        col("__last_seq").cast(LongType).as("__last_seq"))
      else Seq.empty
    val alignedRaw = df.select((tableSchema.fields.map(f =>
      (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
       // a write that omits the column stores its CURRENT write-default
       // (ALTER COLUMN … SET DEFAULT), falling back to NULL — evaluated
       // per write, inside the plan (constant-folded; declared
       // deterministic at ALTER time)
       else GraftTable.writeDefaultSqlOf(f).map(expr)
         .getOrElse(lit(null)).cast(f.dataType)).as(f.name)).toSeq ++
      lineageCols).toIndexedSeq: _*)
    // Hidden partitioning: transform fields (days(ts), bucket(n,id), …)
    // add a DERIVED directory column; partitionBy consumes it, so the
    // derived value becomes the path segment while the SOURCE column stays
    // in the data file — Iceberg's hidden-partitioning contract. Identity
    // fields keep the hive behavior (source column pulled into the path).
    val spec = PartitionSpec.validated(parts, tableSchema)
    val withDirs = spec.filterNot(_.isIdentity).foldLeft(alignedRaw) {
      (d, f) => d.withColumn(f.dirName, f.writeExpr(tableSchema))
    }
    val dirNames = spec.map(_.dirName)
    // write.distribution-mode=hash (Iceberg's partitioned-write default):
    // cluster rows by partition value before the write, so a table
    // partition receives ONE file per commit instead of one per incoming
    // task — the small-files guard a 1000-executor append needs. `none`
    // (our default) keeps incoming partitioning: no shuffle, writer-local
    // files.
    // write.sort-order (Iceberg's WRITE ORDERED BY): rows cluster by the
    // declared order inside every written file, so each file carries
    // TIGHT min/max footer ranges on the sort columns — the scan-side
    // file/row-group skipping a 100 TB range query lives on. Combined
    // with write.distribution-mode=range the order also range-partitions
    // ACROSS tasks (Iceberg's range distribution uses the sort order),
    // making per-commit file key ranges disjoint, not just narrow.
    val sortOrder: Seq[Column] =
      if (applyDistribution)
        properties.get("write.sort-order")
          .map(GraftTable.parseSortOrder).getOrElse(Seq.empty)
      else Seq.empty
    val aligned = properties.get("write.distribution-mode") match {
      case Some("hash") if parts.nonEmpty && applyDistribution =>
        withDirs.repartition(dirNames.map(col).toIndexedSeq: _*)
      // range mode (Iceberg's third distribution): range-partition on the
      // partition values (+ the declared write order) so output files are
      // additionally ORDERED across the partition space — fewer
      // writer-side open files when the partition count far exceeds
      // parallelism, and downstream range scans read consecutive files
      case Some("range") if applyDistribution &&
          (parts.nonEmpty || sortOrder.nonEmpty) =>
        withDirs.repartitionByRange(
          (dirNames.map(col) ++ sortOrder).toIndexedSeq: _*)
      case _ => withDirs
    }
    val clustered =
      if (sortOrder.isEmpty) aligned
      else aligned.sortWithinPartitions(sortOrder.toIndexedSeq: _*)
    val writer = clustered.write.mode("overwrite")
    val codec = properties.getOrElse("write.parquet.compression-codec", "zstd")
    val w2 = writer.option("compression", codec)
    // write.target-file-size-rows caps rows per file (the row-count twin of
    // Iceberg's write.target-file-size-bytes, which Spark's writer cannot
    // enforce directly): oversized tasks roll over to additional files
    val w3 = properties.get("write.target-file-size-rows") match {
      case Some(rows) => w2.option("maxRecordsPerFile", rows.toLong)
      case None => w2
    }
    // Iceberg's parquet bloom-filter property family, honored via
    // parquet-mr's writer options: per-column bloom filters give the
    // reader row-group skipping on EQUALITY predicates over
    // high-cardinality non-partition columns — the point-lookup
    // complement to min/max stats (which only bound ranges). Pure write
    // cost is one bitset per row group; reads need no code at all
    // (parquet-mr's row-group filter consults blooms automatically when
    // Spark pushes the predicate).
    val BloomPrefix = "write.parquet.bloom-filter-enabled.column."
    val w4 = properties.foldLeft(w3) {
      case (w, (k, v)) if k.startsWith(BloomPrefix) =>
        w.option(s"parquet.bloom.filter.enabled#${k.stripPrefix(BloomPrefix)}", v)
      case (w, ("write.parquet.bloom-filter-max-bytes", v)) =>
        w.option("parquet.bloom.filter.max.bytes", v)
      case (w, _) => w
    }
    (if (parts.nonEmpty) w4.partitionBy(dirNames: _*) else w4).parquet(staging.toString)

    // move staged leaves into data/, collecting partition values + stats
    val out = ArrayBuffer.empty[DataFile]
    val stagingQ = fs.makeQualified(staging)
    val staged = ArrayBuffer.empty[FileStatus]
    val it = fs.listFiles(staging, true)
    while (it.hasNext) {
      val st: FileStatus = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) staged += st
    }
    // Manifest-level Bloom filters (write.metadata.bloom-filter.column.X):
    // one grouped aggregate job over the STAGED commit (column-pruned to
    // the configured columns, never a table re-read) builds a per-file
    // bitset that scanWhere consults for equality predicates — the
    // point-lookup complement of footer min/max, which prunes nothing on
    // high-cardinality unsorted columns. On a real cluster the write tasks
    // would fold the bitset inline; one extra narrow scan of the fresh
    // commit is the local-mode equivalent and stays O(commit), not
    // O(table). Values hash through their stat-string rendering
    // (cast-to-string) so the driver probe in fileMayMatch can reproduce
    // the hash from a typed literal.
    val bloomCols = GraftTable.bloomColumns(properties, tableSchema,
      spec.filter(_.isIdentity).map(_.source).toSet)
    val fileBlooms: Map[String, Map[String, String]] =
      if (bloomCols.isEmpty || staged.isEmpty) Map.empty
      else {
        val expected = properties
          .getOrElse("write.metadata.bloom-filter.expected-items", "20000").toLong
        val fpp = properties
          .getOrElse("write.metadata.bloom-filter.fpp", "0.03").toDouble
        val keys = bloomCols.map(c => c -> col(c).cast("string"))
        graft.ops.Bloom.buildGroupedFilters(
            spark.read.parquet(staging.toString),
            org.apache.spark.sql.functions.input_file_name(),
            keys, expected, fpp)
          .collect().map { r =>
            val fname = r.getString(0).split('/').last
            fname -> bloomCols.zipWithIndex.flatMap { case (c, i) =>
              if (r.isNullAt(i + 1)) None
              else Some(c -> java.util.Base64.getEncoder
                .encodeToString(r.getAs[Array[Byte]](i + 1)))
            }.toMap
          }.toMap
      }
    staged.foreach { st =>
      {
        val rel = stagingQ.toUri.relativize(st.getPath.toUri).getPath
        val segs = rel.split("/").toSeq
        val partSegs = segs.dropRight(1)
        val pv = partSegs.flatMap { seg =>
          seg.split("=", 2) match {
            case Array(k, v) => Some(k -> ExternalCatalogUtils.unescapePathName(v))
            case _ => None
          }
        }.toMap
        val newName = s"$commitId-${st.getPath.getName}"
        val relTarget = (partSegs :+ newName).mkString("/")
        val target = new Path(dataDir, relTarget)
        fs.mkdirs(target.getParent)
        if (!fs.rename(st.getPath, target))
          throw new IllegalStateException(s"Failed to move staged file to $target")
        val (records, stats) = {
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(target, conf))
          try (r.getRecordCount, footerColumnStats(r, tableSchema)) finally r.close()
        }
        out += DataFile(relTarget, pv, records, fs.getFileStatus(target).getLen,
          stats,
          blooms = fileBlooms.get(st.getPath.getName).filter(_.nonEmpty),
          lineage = lineageWrite)
      }
    }
    fs.delete(staging, true)
    out.toSeq
  }

  /** Aggregate per-column min/max/null-count across a file's row groups —
    * the manifest-entry stats used by [[scanWhere]] file skipping. Covered:
    * top-level numeric, string and date columns (dates normalized to ISO so
    * lexical order == chronological order). */
  private def footerColumnStats(r: ParquetFileReader,
      tableSchema: StructType): Option[Map[String, ColumnStats]] = {
    import scala.jdk.CollectionConverters._
    val types = tableSchema.fields.map(f => f.name -> f.dataType).toMap
    def normalize(dt: DataType, raw: String): Option[String] = dt match {
      case DateType =>
        // parquet stringifiers emit either raw epoch days or ISO dates
        // depending on the logical-type annotation path; accept both
        scala.util.Try(java.time.LocalDate.ofEpochDay(raw.toLong).toString).toOption
          .orElse(scala.util.Try { java.time.LocalDate.parse(raw); raw }.toOption)
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
           _: DecimalType | StringType => Some(raw)
      case _ => None // timestamps/booleans/complex: not stat-pruned (round 1)
    }
    // min/max and null counts accumulate independently: a row group with no
    // non-null values (or a stringification we can't normalize) still
    // contributes its null count. nullAcc = -1 means "unknown" — any row
    // group with unset statistics poisons the count so IsNull pruning can
    // never skip a file that might contain nulls.
    val mmAcc = scala.collection.mutable.Map.empty[String, (String, String)]
    val nullAcc = scala.collection.mutable.Map.empty[String, Long]
    r.getFooter.getBlocks.asScala.foreach { block =>
      block.getColumns.asScala.foreach { col =>
        if (col.getPath.size == 1) {
          val name = col.getPath.toDotString
          val st = col.getStatistics
          types.get(name).foreach { dt =>
            val nulls =
              if (st != null && !st.isEmpty && st.isNumNullsSet) st.getNumNulls
              else -1L
            nullAcc(name) = (nullAcc.get(name), nulls) match {
              case (Some(prev), n) if prev >= 0 && n >= 0 => prev + n
              case (None, n) if n >= 0 => n
              case _ => -1L
            }
            if (st != null && !st.isEmpty && st.hasNonNullValue) {
              (normalize(dt, st.minAsString), normalize(dt, st.maxAsString)) match {
                case (Some(mn), Some(mx)) => mmAcc.get(name) match {
                  case None => mmAcc(name) = (mn, mx)
                  case Some((omn, omx)) => mmAcc(name) = (
                    if (GraftTable.statLt(dt, mn, omn)) mn else omn,
                    if (GraftTable.statLt(dt, omx, mx)) mx else omx)
                }
                case _ =>
              }
            }
          }
        }
      }
    }
    if (mmAcc.isEmpty) None
    else Some(mmAcc.map { case (k, (mn, mx)) =>
      k -> ColumnStats(mn, mx, nullAcc.getOrElse(k, -1L))
    }.toMap)
  }

  /**
   * Stat-pruned scan: like `toDF.filter(cond)`, but simple conjuncts
   * (`col op literal` for =, <, <=, >, >=, plus IsNull/IsNotNull) are also
   * evaluated against each file's partition values and footer min/max BEFORE
   * the scan, so non-matching files never reach Spark's file index — the
   * driver-side manifest pruning a 100 TB table needs on top of row-group
   * statistics (which only help after the file is opened).
   */
  def scanWhere(cond: Column, ref: Option[String] = None): DataFrame = {
    val m = meta
    val wap = wapBranch.filter(m.refs.contains)
    val snap = ref.orElse(wap).map(r => m.snapshotForRef(r).getOrElse(
      throw new IllegalArgumentException(s"Unknown ref '$r'")))
      .orElse(m.snapshotForRef(SnapshotLog.MainBranch))
    // analyze the predicate against the full scan to obtain resolved
    // catalyst conjuncts (attribute references + typed literals)
    val full = scan(snap, m)
    // optimizedPlan folds constants (e.g. cast('2024-02-01' as date)) into
    // typed literals; the Filter node survives logical optimization
    val analyzed = full.filter(cond).queryExecution.optimizedPlan
    val conjuncts = analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.headOption.map(GraftTable.splitConjuncts).getOrElse(Seq.empty)
    val files = snap.map(_.files).getOrElse(Seq.empty)
    // transform partition fields prune through the source->directory
    // mapping (days(ts): ts >= X skips whole days; bucket(n,id): id = v
    // reads 1/n of the files). Files written under an older spec simply
    // lack the dir key and fall through to footer stats — conservative.
    val tfFields = PartitionSpec.parse(m.partitionCols).filterNot(_.isIdentity)
    val schemaForPrune = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val kept = files.filter(f =>
      conjuncts.forall(c => GraftTable.fileMayMatch(c, f, schemaForPrune) &&
        tfFields.forall(tf =>
          PartitionSpec.fileMayMatch(c, tf, schemaForPrune, f.partitionValues))))
    if (kept.size == files.size) full.filter(cond)
    // drop the manifest refs on the pruned copy: the trimmed file list is
    // inline-only scan input, not a committed snapshot
    else scan(snap.map(s => s.copy(inlineFiles = kept,
      inlineDeleteFiles = s.deleteFiles, manifest = None,
      manifests = Seq.empty)), m).filter(cond)
  }

  private def partitionValuesOf(row: Row, parts: Seq[String]): Map[String, String] =
    parts.zipWithIndex.map { case (p, i) =>
      val v = row.get(i)
      p -> (if (v == null) "__HIVE_DEFAULT_PARTITION__" else v.toString)
    }.toMap

  private def commitSnapshot(m: TableMetadata, added: Seq[DataFile],
      removed: Seq[String], operation: String, branch: Option[String],
      addedDeletes: Seq[DeleteFile] = Seq.empty,
      extraSummary: Map[String, String] = Map.empty,
      preserveDeletes: Boolean = false,
      removedDeletes: Set[String] = Set.empty,
      allowWapStage: Boolean = true): GraftSnapshot = {
    // WAP by id: the commit is written to the log (parented on the target
    // head) but no ref advances; a later cherry-pick publishes it
    val stagingId: Option[String] =
      if (allowWapStage && branch.isEmpty) wapId else None
    stagingId.foreach { w =>
      require(wapBranch.isEmpty,
        "both spark.graft.wap.branch and a wap id are set; pick one staging mode")
      require(!m.snapshots.exists(_.summary.get("wap.id").contains(w)),
        s"wap id '$w' already has a staged snapshot on ${m.name}")
    }
    val b = branch.orElse(wapBranch).getOrElse(SnapshotLog.MainBranch)
    require(!m.tags.contains(b),
      s"$b is a tag on ${m.name}; tags are immutable and cannot be written to")
    val head = m.refs.get(b).orElse(m.refs.get(SnapshotLog.MainBranch)).flatMap(m.snapshot)
    val removedSet = removed.toSet
    val id = m.snapshots.map(_.id).maxOption.getOrElse(0L) + 1L
    // stamp the adding commit's id on each new file (Iceberg's
    // data_sequence_number): delete-applicability must not depend on the
    // adding snapshot staying in the (expirable) snapshot list.
    // Row lineage (v3): each added file is also assigned its firstRowId
    // from the table's monotonic counter, advancing by record count —
    // rows without a materialized id read firstRowId + position. Assigned
    // HERE, against the caller's metadata read, so a CAS retry re-assigns
    // against fresh metadata and ids are never double-issued.
    var nextRid = m.nextRowId
    val stamped = added.map { f =>
      val fr = nextRid
      nextRid += f.records
      f.copy(dataSeq = Some(id), firstRowId = Some(fr))
    }
    // Amortized (manifest-list) path — Iceberg's manifest reuse: a commit
    // that removes nothing inlines ONLY its added entries and references
    // the parent's manifests untouched, so its metadata write is O(added),
    // never O(live files). Requires an externalized parent (meta is always
    // a fresh disk read, so this holds; guarded anyway). Removal/rewrite
    // commits fall through to materializing the full live list, which
    // commit() collapses into a single fresh manifest.
    // a PARTIAL rewrite (binpack) must keep delete files alive for the
    // untouched files it did not read through
    val clearsDeletes = !preserveDeletes &&
      (operation == "replace" || operation == "overwrite")
    // bound the manifest chain (write.manifest.max-chain, default 32 —
    // Iceberg's commit.manifest.min-count-to-merge analogue): when the
    // parent's chain is at the bound, this commit materializes the full
    // list into ONE manifest instead of appending a 33rd link, so reads
    // never resolve through unbounded chains and the collapse cost is
    // amortized O(live/maxChain) per commit
    val maxChain = m.props.getOrElse("write.manifest.max-chain", "32").toInt
    val amortizable = removed.isEmpty && removedDeletes.isEmpty && !clearsDeletes &&
      head.forall(h => h.inlineFiles.isEmpty && h.inlineDeleteFiles.isEmpty) &&
      head.map(_.manifestRefs.size).getOrElse(0) < maxChain
    val (inlineF, inlineD, parentManifests) =
      if (amortizable)
        (stamped, addedDeletes.map(_.copy(seq = id)),
          head.map(_.manifestRefs).getOrElse(Seq.empty))
      else {
        val live = head.map(_.files).getOrElse(Seq.empty)
          .filterNot(f => removedSet.contains(f.path)) ++ stamped
        // MoR delete files: carried forward until a full rewrite
        // materializes them (replace/overwrite read through the deletes, so
        // new files never contain logically-deleted rows); new deletes get
        // this commit's id as their sequence — they apply only to files
        // added before it
        val liveDeletes =
          if (clearsDeletes) Seq.empty
          else head.map(_.deleteFiles).getOrElse(Seq.empty)
            .filterNot(d => removedDeletes(d.path)) ++
            addedDeletes.map(_.copy(seq = id))
        (live, liveDeletes, Seq.empty)
      }
    val snap = GraftSnapshot(
      id = id,
      parentId = head.map(_.id),
      timestampMs = System.currentTimeMillis(),
      operation = operation,
      inlineFiles = inlineF,
      addedFiles = added.map(_.path),
      removedFiles = removed,
      summary = Map(
        "added-data-files" -> added.size.toString,
        "removed-data-files" -> removed.size.toString,
        "added-records" -> added.map(_.records).sum.toString,
        "added-delete-files" -> addedDeletes.size.toString,
        "branch" -> b) ++ extraSummary ++
        stagingId.map("wap.id" -> _),
      inlineDeleteFiles = inlineD,
      manifests = parentManifests)
    snap.manifestLoader = name => SnapshotLog.readManifest(location, name, conf)
    val newRefs = if (stagingId.isDefined) m.refs else m.refs + (b -> id)
    GraftTable.onBeforeCommit()
    SnapshotLog.commit(location, m.copy(refs = newRefs,
      snapshots = m.snapshots :+ snap, nextRowId = nextRid), conf)
    snap
  }
}

object GraftTable {
  /** Orphan GC ignores files younger than this (Iceberg's older_than default,
    * 3 days) so in-flight commits' freshly moved files are never collected. */
  val OrphanFileDefaultAgeMs: Long = 3L * 24 * 60 * 60 * 1000

  // --- era resolution, public for readers OUTSIDE the graft packages ---
  // (the streaming source lives under org.apache.spark.sql for its
  // private[sql] access and cannot see private[graft] members)

  /** Physical (in-file) name of a declared column for a file added at
    * commit sequence `seq`: unwind every rename that happened after the
    * file was written, in strict reverse insertion order (a sort keyed
    * on afterSeq alone is stable, so two renames issued with no commit
    * between them — same afterSeq — would unwind forwards and resolve
    * a->b->c to the never-materialized 'b'). */
  def physicalNameOf(m: TableMetadata, declared: String, seq: Long): String =
    m.renames.reverse.foldLeft(declared) { (n, r) =>
      if (n == r.to && seq <= r.afterSeq) r.from else n
    }

  /** Physical (in-file) type of a declared column for a file added at
    * commit sequence `seq` — same era logic as [[physicalNameOf]]
    * (records are keyed by the current declared name; renameColumn
    * rewrites them on rename). */
  def physicalTypeOf(m: TableMetadata, declared: String,
      declaredType: DataType, seq: Long): DataType =
    m.typeChanges.reverse.foldLeft(declaredType) { (t, tc) =>
      if (tc.column == declared && seq <= tc.afterSeq)
        DataType.fromJson(tc.fromJson) else t
    }

  /** Spark's own column-default field-metadata keys
    * (ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY /
    * EXISTS_DEFAULT_COLUMN_METADATA_KEY): storing under them makes
    * DESCRIBE, the DSv2 Column surface, and the analyzer's INSERT
    * default-filling see graft defaults natively. */
  val CurrentDefaultKey: String = org.apache.spark.sql.catalyst.util
    .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY
  val ExistsDefaultKey: String = org.apache.spark.sql.catalyst.util
    .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY

  /** Validate a DEFAULT expression and fold it to a frozen constant,
    * rendered back as parseable SQL. Rejects expressions that reference
    * columns (analysis fails — a default has no input row) and
    * non-deterministic ones (`rand()` — Spark refuses these too: the
    * default must be ONE value, decided now). `current_timestamp` et al.
    * are deterministic-per-query and freeze to their fold here, exactly
    * Spark's EXISTS_DEFAULT capture. */
  private[table] def foldDefault(spark: SparkSession, sql: String,
      dataType: DataType): String = {
    val df =
      try spark.sql(s"SELECT CAST(($sql) AS ${dataType.sql}) AS d")
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"Invalid DEFAULT expression `$sql`: ${e.getMessage}") }
    require(df.queryExecution.analyzed.expressions.forall(_.deterministic),
      s"DEFAULT expression `$sql` is non-deterministic; a column default " +
        "must fold to one constant")
    val v = df.head().get(0)
    org.apache.spark.sql.catalyst.expressions.Literal.create(v, dataType).sql
  }

  /** The frozen initial default a declared column reads in files written
    * at commit sequence `seq` — `Some` only when the file PREDATES the
    * column's ADD COLUMN … DEFAULT (era rule identical to renames:
    * seq <= afterSeq). Files written after the add physically store the
    * column, so no default applies. */
  def initialDefaultOf(m: TableMetadata, declared: String,
      seq: Long): Option[String] =
    m.columnDefaults.find(r => r.column == declared && seq <= r.afterSeq)
      .map(_.defaultSql)

  /** The column's CURRENT write-default expression text, if declared —
    * what a write that omits the column stores. */
  def writeDefaultSqlOf(field: StructField): Option[String] =
    if (field.metadata.contains(CurrentDefaultKey))
      Some(field.metadata.getString(CurrentDefaultKey))
    else None

  /** Current declared name for a column name recorded at commit sequence
    * `seq` (e.g. an equality-delete key written before later renames). */
  def declaredNameNowOf(m: TableMetadata, recorded: String, seq: Long): String =
    m.renames.foldLeft(recorded) { (n, r) => // chronological insertion order
      if (n == r.from && seq <= r.afterSeq) r.to else n
    }

  /** Parse an Iceberg-style sort-order string
    * (`account ASC NULLS LAST, txn_id DESC NULLS FIRST`) into sort
    * Columns — shared by the rewrite_data_files procedure and the
    * `write.sort-order` write-path clustering. */
  private[graft] def parseSortOrder(s: String): Seq[Column] =
    s.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { part =>
      val tokens = part.split("\\s+").toSeq
      val name = tokens.head
      val descO = tokens.map(_.toUpperCase).contains("DESC")
      val nullsFirst = tokens.map(_.toUpperCase).containsSlice(Seq("NULLS", "FIRST"))
      (descO, nullsFirst) match {
        case (false, false) => asc_nulls_last(name) // ASC defaults NULLS LAST here
        case (false, true)  => asc_nulls_first(name)
        case (true, false)  => desc_nulls_last(name)
        case (true, true)   => desc_nulls_first(name)
      }
    }

  /** First-true-wins clause-cascade column builders shared by the CoW
    * ([[GraftTable.mergeInto]]) and MoR ([[GraftTable.mergeIntoMoR]])
    * general-merge rewrites: `when(c1,…).when(c2,…)` already evaluates
    * conditions in clause order, SQL MERGE's clause semantics exactly
    * (a NULL condition, like SQL, does not fire the clause). */
  private[table] object MergeCascade {
    import org.apache.spark.sql.functions.{lit, when}

    /** TRUE when the row survives: Update/Insert keep, Delete drops,
      * no-clause-fires falls to `default`. */
    def keepChain(clauses: Seq[MergeClause], default: Boolean): Column =
      clauses.foldLeft(Option.empty[Column]) { (acc, cl) =>
        val keeps = lit(!cl.isInstanceOf[MergeClause.Delete])
        val cond = cl.condition.getOrElse(lit(true))
        Some(acc.fold(when(cond, keeps))(_.when(cond, keeps)))
      }.fold(lit(default))(_.otherwise(lit(default)))

    /** TRUE when ANY clause fires on the row (the row is touched —
      * updated or deleted — as opposed to carried over untouched). */
    def touchedChain(clauses: Seq[MergeClause]): Column =
      clauses.foldLeft(Option.empty[Column]) { (acc, cl) =>
        val cond = cl.condition.getOrElse(lit(true))
        Some(acc.fold(when(cond, lit(true)))(_.when(cond, lit(true))))
      }.fold(lit(false))(_.otherwise(lit(false)))

    /** The value column `c` takes under the first firing clause.
      * `insertMissing` is what an INSERT clause that does not list `c`
      * stores — the column's CURRENT write-default where one is declared
      * (standard SQL default filling), NULL otherwise. */
    def valChain(clauses: Seq[MergeClause], c: String, default: Column,
        insertMissing: Column = lit(null)): Column =
      clauses.foldLeft(Option.empty[Column]) { (acc, cl) =>
        val v: Column = cl match {
          case MergeClause.Update(_, set) => set.toMap.getOrElse(c, default)
          case MergeClause.Insert(_, vs)  => vs.toMap.getOrElse(c, insertMissing)
          case _: MergeClause.Delete      => default // row dropped by keepChain
        }
        val cond = cl.condition.getOrElse(lit(true))
        Some(acc.fold(when(cond, v))(_.when(cond, v)))
      }.fold(default)(_.otherwise(default))
  }

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(location: String): Object =
    locks.computeIfAbsent(location, _ => new Object)

  /** Test seam: invoked immediately before each metadata commit, letting
    * concurrency tests inject a deterministic foreign-process commit into
    * the window between a writer's metadata read and its CAS. */
  private[table] var onBeforeCommit: () => Unit = () => ()

  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
  import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression => CExpr,
    GreaterThan, GreaterThanOrEqual, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
  import org.apache.spark.sql.types.{ByteType => BT, DateType => DT, DecimalType => DecT,
    DoubleType => DblT, FloatType => FT, IntegerType => IT, LongType => LT2,
    ShortType => ShT, StringType => StrT}

  /** typed "a < b" over stat strings: numeric columns compare numerically,
    * strings/ISO-dates lexically */
  private[table] def statLt(dt: DataType, a: String, b: String): Boolean = dt match {
    case BT | ShT | IT | LT2 | FT | DblT | _: DecT =>
      scala.util.Try(BigDecimal(a) < BigDecimal(b)).getOrElse(a < b)
    case _ => a < b
  }

  private[table] def splitConjuncts(e: CExpr): Seq[CExpr] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast}

  /** resolved attribute name, looking through numeric/date upcasts */
  private def attrName(e: CExpr): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case Cast(a: AttributeReference, _, _, _) => Some(a.name)
    case _ => None
  }

  /** literal rendered into the stat-string domain of its own type:
    * numerics as numbers, dates as ISO strings, strings verbatim */
  private def litInfo(e: CExpr): Option[(String, DataType)] = e match {
    case Literal(v, dt) if v != null => dt match {
      case DateType => Some((java.time.LocalDate.ofEpochDay(
        v.asInstanceOf[Int].toLong).toString, DateType))
      case StringType => Some((v.toString, StringType))
      case t: NumericType => Some((v.toString, t))
      case _ => None
    }
    case Cast(Literal(v, _), _, _, _) => None // conservative on cast literals
    case _ => None
  }

  private[table] val BloomMetaPrefix = "write.metadata.bloom-filter.column."

  /** Bloom-statable column types: the cast-to-string rendering these types
    * produce at write time is reproduced exactly by [[litInfo]]'s rendering
    * of a typed literal at prune time, so hashes line up. Fractional and
    * decimal types are excluded — "1" vs "1.0" style formatting drift
    * between a column rendering and a literal rendering would turn a
    * false-negative probe into a WRONG prune. */
  private[table] def bloomableType(dt: DataType): Boolean = dt match {
    case StringType | BT | ShT | IT | LT2 | DateType => true
    case _ => false
  }

  /** Columns to build manifest blooms for: configured via
    * `write.metadata.bloom-filter.column.X=true`, restricted to bloomable
    * schema types, excluding identity-partition sources (those prune
    * exactly via partition values; their values are not in the data file). */
  private[table] def bloomColumns(props: Map[String, String],
      schema: StructType, identityParts: Set[String]): Seq[String] =
    props.collect {
      case (k, v) if k.startsWith(BloomMetaPrefix) &&
        v.trim.equalsIgnoreCase("true") => k.stripPrefix(BloomMetaPrefix)
    }.toSeq.sorted.filter(n =>
      !identityParts.contains(n) &&
        schema.fields.exists(f => f.name == n && bloomableType(f.dataType)))

  /** Literal/column type agreement for a bloom probe: the probe hashes the
    * literal's stat-string rendering, which must match what the column's
    * values rendered to at build time. Identical types always agree;
    * integral upcasts (int column probed by a long literal) agree because
    * integral toString is canonical across widths. Anything else (e.g. an
    * int column compared to a double literal — "1" built vs "1.0" probed)
    * skips the bloom, keeping the file conservatively. */
  private def bloomProbeCompatible(fieldDt: DataType, litDt: DataType): Boolean =
    (fieldDt, litDt) match {
      case (StringType, StringType) => true
      case (DateType, DateType) => true
      case (BT | ShT | IT | LT2, BT | ShT | IT | LT2) => true
      case _ => false
    }

  /** May the file contain `name == v`? False only when the file carries a
    * bloom for the column, the literal's rendering is hash-compatible with
    * the build-side rendering, and the bitset PROVES absence. */
  private def bloomMayMatch(f: DataFile, schema: StructType, name: String,
      li: Option[(String, DataType)]): Boolean = {
    val verdict = for {
      (v, dt) <- li
      b64 <- f.blooms.flatMap(_.get(name))
      fieldDt <- schema.fields.find(_.name == name).map(_.dataType)
      if bloomProbeCompatible(fieldDt, dt)
    } yield graft.ops.Bloom.probeSerialized(
      java.util.Base64.getDecoder.decode(b64), graft.ops.Bloom.hashString(v))
    verdict.getOrElse(true)
  }

  /** Conservative may-match: false only when partition values, footer
    * stats or a manifest bloom PROVE no row in the file can satisfy the
    * conjunct. Dispatch is PER FILE, not per table spec: under
    * partition-spec evolution the same column is a partition value in
    * files written under one spec and a data column (footer stats) in
    * files written under another — each file prunes on whichever evidence
    * it carries. */
  private[table] def fileMayMatch(c: CExpr, f: DataFile,
      schema: StructType): Boolean = {
    def le(dt: DataType, a: String, b: String) = !statLt(dt, b, a)
    def check(name: String, dt: DataType, statOp: ColumnStats => Boolean,
        partOp: String => Boolean): Boolean =
      f.partitionValues.get(name) match {
        case Some(v) => v == "__HIVE_DEFAULT_PARTITION__" || partOp(v)
        case None => f.stats.flatMap(_.get(name)).forall(statOp)
      }
    def cmp(a: CExpr, l: CExpr)(statOp: (DataType, String, ColumnStats) => Boolean,
        partOp: (DataType, String, String) => Boolean): Boolean =
      (attrName(a), litInfo(l)) match {
        case (Some(n), Some((v, dt))) =>
          check(n, dt, st => statOp(dt, v, st), pv => partOp(dt, v, pv))
        case _ => true
      }
    c match {
      case EqualTo(a, l) if attrName(a).isDefined =>
        cmp(a, l)((dt, v, st) => le(dt, st.min, v) && le(dt, v, st.max),
          (dt, v, pv) => pv == v) &&
          bloomMayMatch(f, schema, attrName(a).get, litInfo(l))
      case EqualTo(l, a) if attrName(a).isDefined =>
        fileMayMatch(EqualTo(a, l), f, schema)
      case GreaterThan(a, l) =>
        cmp(a, l)((dt, v, st) => statLt(dt, v, st.max), (dt, v, pv) => statLt(dt, v, pv))
      case GreaterThanOrEqual(a, l) =>
        cmp(a, l)((dt, v, st) => le(dt, v, st.max), (dt, v, pv) => le(dt, v, pv))
      case LessThan(a, l) =>
        cmp(a, l)((dt, v, st) => statLt(dt, st.min, v), (dt, v, pv) => statLt(dt, pv, v))
      case LessThanOrEqual(a, l) =>
        cmp(a, l)((dt, v, st) => le(dt, st.min, v), (dt, v, pv) => le(dt, pv, v))
      case IsNull(a) if attrName(a).isDefined =>
        val n = attrName(a).get
        f.partitionValues.get(n) match {
          case Some(v) => v == "__HIVE_DEFAULT_PARTITION__"
          // prune only on a KNOWN zero null count; negative means unknown
          case None => f.stats.flatMap(_.get(n)).forall(_.nullCount != 0L)
        }
      case IsNotNull(a) if attrName(a).isDefined =>
        val n = attrName(a).get
        f.partitionValues.get(n) match {
          case Some(v) => v != "__HIVE_DEFAULT_PARTITION__"
          case None => true
        }
      case _ => true // unsupported shape: never prune
    }
  }

  /** Create a new table (reference DDL IcebergLoadActivityTask.scala:17-40). */
  def create(spark: SparkSession, location: String, name: String, schema: StructType,
      partitionCols: Seq[String] = Seq.empty,
      props: Map[String, String] = Map.empty): GraftTable = {
    val conf = spark.sparkContext.hadoopConfiguration
    require(!SnapshotLog.exists(location, conf), s"Table already exists at $location")
    PartitionSpec.validated(partitionCols, schema)
    SnapshotLog.commit(location,
      SnapshotLog.initial(name, schema.json, partitionCols, props), conf)
    new GraftTable(spark, location)
  }

  def createOrReplace(spark: SparkSession, location: String, name: String, schema: StructType,
      partitionCols: Seq[String] = Seq.empty,
      props: Map[String, String] = Map.empty): GraftTable = {
    drop(spark, location)
    create(spark, location, name, schema, partitionCols, props)
  }

  /** Explicit CTAS schema-clone (reference IcebergLoadActivityTask.scala:45-49:
    * `CREATE OR REPLACE TABLE … AS SELECT * FROM src LIMIT 0`): a new empty
    * table with the source's schema, partitioning and properties — the
    * staging-table idiom that precedes a MERGE. `withData = true` is the
    * full-CTAS variant: the clone's first snapshot holds the source's
    * current rows. */
  def createLike(source: GraftTable, location: String, name: String,
      withData: Boolean = false): GraftTable = {
    val m = source.meta
    val t = createOrReplace(source.spark, location, name, source.schema,
      m.partitionCols, m.props)
    if (withData) t.append(source.toDF)
    t
  }

  def load(spark: SparkSession, location: String): GraftTable = {
    val conf = spark.sparkContext.hadoopConfiguration
    require(SnapshotLog.exists(location, conf), s"No graft table at $location")
    new GraftTable(spark, location)
  }

  def exists(spark: SparkSession, location: String): Boolean =
    SnapshotLog.exists(location, spark.sparkContext.hadoopConfiguration)

  /** `DROP TABLE IF EXISTS` (reference IcebergLoadActivityTask.scala:15). */
  def drop(spark: SparkSession, location: String): Boolean = {
    val p = new Path(location)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotLog.invalidate(location)
    fs.delete(p, true)
  }
}
