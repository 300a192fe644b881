package org.apache.spark.sql.graft

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, GenericInternalRow, Literal, MutableProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.table.SnapshotLog

/**
 * Micro-batch streaming read of a graft table's APPEND LOG — the Iceberg
 * streaming-read shape (`spark.readStream.format("iceberg")`,
 * public Iceberg docs) re-expressed for the graft snapshot log:
 *
 *  - An offset is a main-branch snapshot id high-water mark; a batch is
 *    the data files ADDED by the append snapshots in `(start, end]`.
 *    Offsets ride the sink checkpoint, so restart resumes exactly after
 *    the last committed snapshot — exactly-once into any checkpointed
 *    sink.
 *  - `replace` snapshots (compaction) are row-preserving rewrites of
 *    already-streamed rows and are always skipped. Row-CHANGING
 *    snapshots (`overwrite`/`delete`/`merge`) violate append-only stream
 *    semantics and fail loudly, unless
 *    `.option("skipOverwriteSnapshots", true)` opts into ignoring them
 *    (mirroring Iceberg's `streaming-skip-overwrite-snapshots`); use the
 *    batch `changelogBetween` CDC read for row-level diffs instead.
 *  - `.option("fromSnapshotId", id)` starts the FIRST run after snapshot
 *    `id` (default 0 = the full history).
 *  - `.option("branch", name)` tails that branch's head instead of main —
 *    e.g. a continuous audit of a WAP staging branch while it is written.
 *  - `.option("maxSnapshotsPerTrigger", n)` / `.option("maxFilesPerTrigger",
 *    n)` bound each micro-batch (admission control, mirroring Iceberg's
 *    streaming rate limits): the batch's end offset advances through at
 *    most n snapshots / until the added-file budget is spent — always at
 *    least one snapshot, so the stream can never stall. Backlog catch-up
 *    after downtime then proceeds in bounded bites instead of one giant
 *    batch (under `Trigger.AvailableNow` Spark's wrapper loops these
 *    bounded batches until it reaches the captured head).
 *  - History rewrites UNDER a running stream (rollback, branch replace)
 *    are out of contract, as in Iceberg: snapshots popped off the
 *    streamed ancestry after their offset was committed are simply gone
 *    from the log the stream reads — restart from an explicit
 *    `fromSnapshotId` after such surgery.
 *  - Schema-evolution ERAS stream (round 16): files written before a
 *    column rename / type promotion scan under their era's physical
 *    schema and upcast to the declared types — the same era resolution
 *    the batch reads apply, so a rename or int→long promotion mid-stream
 *    no longer forces the consumer to the batch API.
 *
 * Scale shape: planning is driver-side metadata only (O(snapshots in
 * range)); each added file becomes one input partition read by the
 * stock v1 parquet record reader (row mode — a streaming source hands
 * Spark `InternalRow`s, so the vectorized batch reader does not apply),
 * with hive partition values attached driver-side from the snapshot
 * log's own per-file partition map — no directory listing, ever.
 *
 * Lives under `org.apache.spark.sql` for the same `private[sql]` access
 * the [[bridge]] uses (`buildReaderWithPartitionValues`, `cloneSession`,
 * `PartitionedFile`).
 */
class GraftMicroBatchStream(spark: SparkSession, location: String,
    declaredSchema: StructType, partitionCols: Seq[String],
    options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val hadoopConf = spark.sparkContext.hadoopConfiguration
  private def meta = SnapshotLog.read(location, hadoopConf)

  /** CDC mode (`.option("changelog", true)`): instead of refusing
    * row-changing snapshots, each micro-batch carries change IMAGES —
    * `_change_type` (INSERT / DELETE full-row images for deletion-vector
    * AND copy-on-write commits / DELETE_KEY key-tuple retractions for
    * equality-delete commits, non-key columns null) and
    * `_commit_snapshot_id`, so a sink can replay MERGE/delete commits in
    * snapshot order (the Iceberg CDC-read gap; Flink-style keyed
    * upsert/retract stream). CoW rewrites (the reference's own
    * write.delete.mode) stream the removed files' rows as DELETEs and
    * the rewritten files' rows as INSERTs — un-netted carryover pairs
    * included, which a keyed replay nets per commit. */
  private val changelog = Option(options.get("changelog")).exists(_.toBoolean)

  /** Table columns only — in changelog mode `declaredSchema` carries the
    * three appended change columns, which no data file stores. */
  private val baseSchema: StructType =
    if (changelog) StructType(declaredSchema.dropRight(3)) else declaredSchema

  private val branch = Option(options.get("branch"))

  /** Streamed head: main's current snapshot, or the named branch's. */
  private def headId(m: graft.table.TableMetadata): Option[Long] =
    branch match {
      case Some(b) => Some(m.refs.getOrElse(b, throw new IllegalArgumentException(
        s"graft streaming read: no branch '$b' on $location " +
          s"(refs: ${m.refs.keys.toSeq.sorted.mkString(", ")})")))
      case None => m.currentSnapshotId
    }

  private def offsetOf(o: Offset): Long = o match {
    case GraftStreamOffset(id) => id
    case other => other.json().toLong
  }

  override def initialOffset(): Offset = GraftStreamOffset(
    Option(options.get("fromSnapshotId")).map(_.toLong).getOrElse(0L))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-controlled entry point")

  private val maxSnapshotsPerTrigger =
    Option(options.get("maxSnapshotsPerTrigger")).map(_.toInt)
  private val maxFilesPerTrigger =
    Option(options.get("maxFilesPerTrigger")).map(_.toInt)

  /** Trigger.AvailableNow contract: pin the head ONCE at query start; the
    * engine then loops (rate-limited) batches until the stream reaches
    * exactly this offset, ignoring concurrent appends. */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(headId(meta).getOrElse(0L))

  /** Admission control: advance through at most `maxSnapshotsPerTrigger`
    * snapshots and (soft) `maxFilesPerTrigger` files — always at least
    * one snapshot so the stream cannot stall; the counts are O(1)
    * metadata, no manifest resolution. In changelog mode a commit's
    * batch cost is added + removed + new-delete files (a CoW rewrite
    * plans one DELETE-image partition per REMOVED file and an MoR
    * commit one retraction partition per delete file — budgeting only
    * additions would admit arbitrarily large delete batches). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val m = meta
    val head = availableNowCap match {
      case Some(cap) => math.min(cap, headId(m).getOrElse(0L))
      case None => headId(m).getOrElse(0L)
    }
    if (maxSnapshotsPerTrigger.isEmpty && maxFilesPerTrigger.isEmpty)
      return GraftStreamOffset(head)
    val s = offsetOf(start)
    val onHead = Some(head).filter(_ > 0).map(m.ancestry).getOrElse(Seq.empty).toSet
    val pending = m.snapshots
      .filter(sn => onHead.contains(sn.id) && sn.id > s && sn.id <= head)
      .sortBy(_.id)
    var taken = 0
    var files = 0L
    var end = s
    pending.foreach { sn =>
      val withinLimits = maxSnapshotsPerTrigger.forall(taken < _) &&
        maxFilesPerTrigger.forall(files < _)
      // taken == 0 guarantees progress past a single over-budget snapshot;
      // once a snapshot is skipped the budgets only shrink, so the taken
      // prefix stays contiguous
      if (withinLimits || taken == 0) {
        taken += 1
        // a 'replace' (compaction) plans ZERO partitions in both modes —
        // charging it would burn whole micro-batches that read nothing
        if (sn.operation != "replace") {
          files += sn.addedFiles.size
          if (changelog)
            files += sn.removedFiles.size + sn.deleteFiles.count(_.seq == sn.id)
        }
        end = sn.id
      }
    }
    GraftStreamOffset(end)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset =
    GraftStreamOffset(headId(meta).getOrElse(0L))

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  private lazy val dataCols = StructType(
    baseSchema.filterNot(f => partitionCols.contains(f.name)))
  // only IDENTITY spec entries are hive-style partition columns (source
  // column lives in the directory, not the data file); transform entries
  // (days(ts), bucket(n,id), truncate(w,c)) keep their source column in
  // the file at full fidelity and their derived dirs carry nothing a row
  // needs — skip them instead of crashing fieldIndex("days(ts)")
  // MUST follow declaredSchema field order, not spec-entry order: the
  // reader emits rows positionally as dataCols ++ partSchema, and
  // GraftStreamTable orders the table schema by the DECLARED schema —
  // PARTITIONED BY (b, a) on schema (…, a, b) would otherwise swap the
  // two appended columns (silently, when same-typed)
  private lazy val partSchema = {
    val identitySources = graft.table.PartitionSpec.parse(partitionCols)
      .filter(_.transform == graft.table.PartitionSpec.Identity)
      .map(_.source).toSet
    StructType(baseSchema.filter(f => identitySources.contains(f.name)))
  }
  private lazy val zone =
    Some(spark.sessionState.conf.sessionLocalTimeZone)
  // row-mode parquet record reader (a MicroBatchStream hands Spark
  // InternalRows, so the vectorized ColumnarBatch path cannot be used);
  // built ONCE per stream — the schema is fixed, so every micro-batch
  // reuses the same broadcast-conf read closure
  private def readerFor(fileSchema: StructType,
      parts: StructType): PartitionedFile => Iterator[InternalRow] = {
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()
    ss.sessionState.conf.setConfString(
      "spark.sql.parquet.enableVectorizedReader", "false")
    new ParquetFileFormat().buildReaderWithPartitionValues(
      ss, fileSchema, parts, fileSchema, Nil, Map.empty,
      ss.sessionState.newHadoopConf())
  }

  private lazy val readFunc: PartitionedFile => Iterator[InternalRow] =
    readerFor(dataCols, partSchema)

  /** Era-aware read closure for one data FILE (round 16): files written
    * before a column rename / type promotion store old physical names /
    * narrower types, so they scan under their era's physical schema —
    * positional layout is identity (partition columns can be neither
    * renamed nor promoted), and promoted columns upcast to the declared
    * types through a per-partition codegen'd projection. One closure per
    * distinct era, cached for the stream's lifetime; era-free tables hit
    * the single prebuilt [[readFunc]]. Replaces the round-14 refusals
    * ("read that range with the batch API"). */
  private val eraReaderCache =
    scala.collection.concurrent.TrieMap.empty[
      (StructType, Seq[Option[String]]),
      PartitionedFile => Iterator[InternalRow]]

  /** A rename/promotion landing UNDER a running query leaves its pinned
    * schema stale — new files store names/types the pinned schema cannot
    * map, which would read as silent nulls. Fail loudly instead; a query
    * STARTED after the evolution pins the current schema and streams
    * every era. The check is by (name -> type) CONTAINMENT, deliberately:
    * the pinned schema orders partition columns last (tableAt), so
    * element-wise order comparison would brick partitioned era tables;
    * and additive column widening leaves every pinned column readable —
    * only a pinned name disappearing (rename/drop) or changing type
    * (promotion) makes the pin unable to map new files. Checked once per
    * era-table batch plan. */
  private def requireFreshSchema(m: graft.table.TableMetadata): Unit = {
    val cur = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[StructType].fields.map(f => f.name -> f.dataType).toMap
    val stale = baseSchema.fields.filterNot(f => cur.get(f.name).contains(f.dataType))
    require(stale.isEmpty,
      s"graft streaming read: column(s) ${stale.map(_.name).mkString(", ")} " +
        "of this query's pinned schema changed under the running query " +
        "(rename/type promotion/drop after query start); restart the " +
        "stream to pin the new schema")
  }

  /** Era of a data file — batch parity (GraftTable.dataSeqOf):
    * unstamped legacy files (pre-dataSeq metadata) resolve from the
    * retained add history, 0 only when even that is gone; a bare
    * getOrElse(0L) would silently read a post-rename unstamped file
    * under pre-rename physical names (null columns). The history map
    * builds lazily, at most once per batch plan. */
  private def seqResolver(m: graft.table.TableMetadata)
      : graft.table.DataFile => Long = {
    lazy val addSeq: Map[String, Long] = m.snapshots.sortBy(_.id)
      .flatMap(sn => sn.addedFiles.map(_ -> sn.id))
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).min }
    f => f.dataSeq.getOrElse(addSeq.getOrElse(f.path, 0L))
  }

  private def readFuncFor(m: graft.table.TableMetadata,
      f: graft.table.DataFile, seqOf: graft.table.DataFile => Long)
      : PartitionedFile => Iterator[InternalRow] = {
    if (m.renames.isEmpty && m.typeChanges.isEmpty &&
      m.columnDefaults.isEmpty) return readFunc
    val seq = seqOf(f)
    val phys = StructType(dataCols.fields.map { fld =>
      fld.copy(
        name = graft.table.GraftTable.physicalNameOf(m, fld.name, seq),
        dataType = graft.table.GraftTable
          .physicalTypeOf(m, fld.name, fld.dataType, seq))
    })
    // initial-default era (batch parity, GraftTable.plainReadImpl): a file
    // written before an ADD COLUMN … DEFAULT does not store the column —
    // its rows emit the frozen default literal, never NULL
    val dflts: Seq[Option[String]] = dataCols.fields.toSeq.map(fld =>
      graft.table.GraftTable.initialDefaultOf(m, fld.name, seq))
    eraReaderCache.getOrElseUpdate((phys, dflts), {
      val base = readerFor(phys, partSchema)
      if (phys.fields.map(_.dataType).sameElements(
          dataCols.fields.map(_.dataType)) && dflts.forall(_.isEmpty)) base
      else {
        // bound cast expressions serialize into the closure; the
        // projection itself is built per partition on the executor.
        // Default literals fold driver-side to plain Literals (the stored
        // sql IS a rendered literal) so nothing parses on executors.
        val exprs: Seq[Expression] =
          dataCols.fields.indices.map { i =>
            dflts(i) match {
              case Some(dsql) =>
                val parsed = spark.sessionState.sqlParser.parseExpression(dsql)
                Literal(Cast(parsed, dataCols(i).dataType, zone)
                  .eval(null), dataCols(i).dataType): Expression
              case None =>
                val in = BoundReference(i, phys(i).dataType, nullable = true)
                if (phys(i).dataType == dataCols(i).dataType) in
                else Cast(in, dataCols(i).dataType, zone)
            }
          } ++ partSchema.fields.indices.map { j =>
            BoundReference(dataCols.size + j, partSchema(j).dataType,
              nullable = true): Expression
          }
        (pf: PartitionedFile) => {
          val proj = MutableProjection.create(exprs)
          base(pf).map(proj)
        }
      }
    })
  }

  /** (partition-values row, PartitionedFile) for one snapshot-log entry. */
  private def partitionedFileOf(
      fs: org.apache.hadoop.fs.FileSystem,
      f: graft.table.DataFile): PartitionedFile = {
    val pvals = new GenericInternalRow(partSchema.fields.map { pf =>
      f.partitionValues.get(pf.name)
        .filterNot(_ == "__HIVE_DEFAULT_PARTITION__") match {
        case Some(raw) =>
          Cast(Literal(UTF8String.fromString(raw), StringType),
            pf.dataType, zone).eval(null)
        case None => null
      }
    }.asInstanceOf[Array[Any]])
    val full = new org.apache.hadoop.fs.Path(s"$location/data/${f.path}")
    val len =
      if (f.sizeBytes > 0) f.sizeBytes else fs.getFileStatus(full).getLen
    PartitionedFile(pvals, SparkPath.fromPath(full), 0, len)
  }

  /** Target data-file paths a positional/DV delete file names (its
    * `__file` column) — read ONCE per delete file per stream instance,
    * driver-side (vector/row-list files are the small MoR side). Used
    * only to decide whether a CoW-removed file still has unapplied MoR
    * deletes; equality deletes need no read (the sequence rule alone is
    * exact for them). */
  private val positionTargetCache =
    scala.collection.concurrent.TrieMap.empty[String, Set[String]]
  private def positionDeleteTargets(d: graft.table.DeleteFile): Set[String] =
    // fast path (round 17): writers record the target paths in commit
    // metadata — O(1), no read. Empty means NOT RECORDED (legacy file or
    // an over-cap commit), so fall back to the content read.
    if (d.targetPaths.nonEmpty) d.targetPaths.toSet
    else positionTargetCache.getOrElseUpdate(d.path, {
      val full = s"$location/data/${d.path}"
      val df =
        if (d.path.endsWith(graft.table.AvroDeletes.Extension))
          graft.table.AvroDeletes.read(spark, Seq(full))
        else spark.read.parquet(full)
      df.select("__file").distinct().collect().map(_.getString(0)).toSet
    })

  /** Layout of an equality delete file's key tuples against the CURRENT
    * declared schema (shared by DELETE_KEY planning and CoW masks):
    * recorded names map forward across later renames; `keyIdx` maps
    * tuple slot i to the full declared row. A key recorded under a
    * narrower PRE-PROMOTION type (round 17 — was a refusal) reads under
    * its era type and upcasts per value through `castExprs`, the same
    * bound-Cast-serialized-into-the-closure shape as the era data
    * reader; `physSchema` is what the FILE stores (recorded names + era
    * types), `declaredTypes` what consumers emit. */
  private case class KeyLayout(
      physSchema: StructType,
      keyIdx: Array[Int],
      declaredTypes: Array[org.apache.spark.sql.types.DataType],
      castExprs: Option[Seq[Expression]])

  private def equalityKeyLayout(m: graft.table.TableMetadata,
      d: graft.table.DeleteFile, snId: Long): KeyLayout = {
    val declaredKeys = d.keyCols.map(k =>
      graft.table.GraftTable.declaredNameNowOf(m, k, d.seq))
    declaredKeys.foreach(k => require(!partitionCols.contains(k),
      s"changelog stream: equality-delete key $k is a partition column"))
    val keyIdx = declaredKeys.map(dataCols.fieldIndex)
    val declaredTypes = declaredKeys.map(dataCols(_).dataType)
    val eraTypes = declaredKeys.zip(declaredTypes).map { case (k, dt) =>
      graft.table.GraftTable.physicalTypeOf(m, k, dt, d.seq) }
    val physSchema = StructType(d.keyCols.zip(eraTypes).map {
      case (rec, et) => StructField(rec, et) })
    val castExprs =
      if (eraTypes == declaredTypes) None
      else Some(eraTypes.zip(declaredTypes).zipWithIndex.map {
        case ((et, dt), i) =>
          val in = BoundReference(i, et, nullable = true)
          if (et == dt) in else Cast(in, dt, zone): Expression
      })
    KeyLayout(physSchema, keyIdx.toArray, declaredTypes.toArray, castExprs)
  }

  /** The executor-side position source for one positional/DV delete file
    * narrowed to `target` — shared by DELETE-image selection
    * ([[PositionChangeImagePartition]]) and CoW masking
    * ([[MaskedChangeImagePartition]]). */
  private def positionSourceOf(d: graft.table.DeleteFile,
      target: String): MaskSource = {
    val full = s"$location/data/${d.path}"
    def pf = {
      val p = new org.apache.hadoop.fs.Path(full)
      val fs = p.getFileSystem(hadoopConf)
      PartitionedFile(new GenericInternalRow(Array.empty[Any]),
        SparkPath.fromPath(p), 0, fs.getFileStatus(p).getLen)
    }
    if (d.isDv) {
      val dvSchema = StructType(Seq(
        StructField("__file", StringType),
        StructField("__runs", ArrayType(LongType))))
      DvMask(readerFor(dvSchema, new StructType()), pf, target)
    } else if (d.path.endsWith(graft.table.AvroDeletes.Extension))
      AvroPosListMask(full,
        new org.apache.spark.util.SerializableConfiguration(hadoopConf),
        target)
    else {
      val posSchema = StructType(Seq(
        StructField("__file", StringType),
        StructField("__pos", LongType)))
      PosListMask(readerFor(posSchema, new StructType()), pf, target)
    }
  }

  /** Compose a key-tuple read closure with the era upcast projection
    * (None = identity; same executor-side-build shape as the era data
    * reader — the bound Cast expressions serialize into the closure). */
  private def composeCast(
      base: PartitionedFile => Iterator[InternalRow],
      castExprs: Option[Seq[Expression]])
      : PartitionedFile => Iterator[InternalRow] = castExprs match {
    case None => base
    case Some(exprs) => (pf: PartitionedFile) => {
      val proj = MutableProjection.create(exprs)
      base(pf).map(proj)
    }
  }

  /** Changelog planning: per snapshot, DELETE images first (positional
    * commits — deletion vectors AND position lists, round 17 — expand to
    * full-row images by reading the target file and keeping the recorded
    * positions, a sequential whole-file read's row order being the
    * parquet row index; equality deletes emit their key tuples as
    * DELETE_KEY retractions straight from the delete file), then the
    * snapshot's INSERT images. */
  private def planChangelog(range: Seq[graft.table.GraftSnapshot],
      m: graft.table.TableMetadata,
      skipOverwrites: Boolean): Array[InputPartition] = {
    val fs = new org.apache.hadoop.fs.Path(location).getFileSystem(hadoopConf)
    val width = dataCols.size + partSchema.size
    val byId = m.snapshots.map(s => s.id -> s).toMap
    val seqOf = seqResolver(m)
    def insertParts(sn: graft.table.GraftSnapshot): Seq[InputPartition] = {
      val addedSet = sn.addedFiles.toSet
      sn.files.filter(f => addedSet.contains(f.path)).map(f =>
        ChangeImagePartition(readFuncFor(m, f, seqOf), partitionedFileOf(fs, f),
          "INSERT", sn.id, runs = null))
    }
    range.flatMap { sn =>
      val newDels = sn.deleteFiles.filter(_.seq == sn.id)
      sn.operation match {
        case "replace" => Seq.empty
        // cherrypick (a WAP publish) is an insert-only commit: the picked
        // rows land on this branch HERE, so they stream as INSERT images
        case "append" | "cherrypick" => insertParts(sn)
        // a no-op row-level commit (e.g. a delete/update that matched
        // nothing): no images
        case _ if sn.removedFiles.isEmpty && newDels.isEmpty &&
            sn.addedFiles.isEmpty => Seq.empty
        case "delete" | "merge" | "update"
            if sn.removedFiles.isEmpty && newDels.nonEmpty =>
          val byPath = sn.files.map(f => f.path -> f).toMap
          val delParts: Seq[InputPartition] = newDels.flatMap { d =>
            if (d.isDv || d.isPositional) {
              // round 17: one partition per (delete file, target) — the
              // executor reads its target's positions (DV runs or
              // position-list rows, parquet or Avro) at execute time and
              // streams the file's rows AT those positions as DELETE
              // images. Targets come from commit metadata (targetPaths,
              // zero driver reads); a legacy file without them pays one
              // cached driver read of its distinct targets only.
              val targets =
                if (d.targetPaths.nonEmpty) d.targetPaths
                else positionDeleteTargets(d).toSeq.sorted
              targets.flatMap { tp =>
                byPath.get(tp).map { f =>
                  PositionChangeImagePartition(readFuncFor(m, f, seqOf),
                    partitionedFileOf(fs, f), sn.id,
                    positionSourceOf(d, tp)): InputPartition
                }
              }
            } else {
              // equality delete: the delete file's rows ARE the key
              // tuples — emit them as DELETE_KEY retractions mapped into
              // the full-width row (non-key columns null), tagged with the
              // key-column list in _change_key (CURRENT declared names —
              // keys recorded before a later rename map forward, so the
              // replay retracts on columns that exist). The reference's
              // write.delete.format.default='avro' commits dispatch to a
              // streamed executor-side Avro container reader; parquet
              // deletes go through the columnar reader.
              val kl = equalityKeyLayout(m, d, sn.id)
              val keyList = kl.keyIdx.map(dataCols.fields(_).name)
                .mkString(",")
              if (d.path.endsWith(graft.table.AvroDeletes.Extension))
                Seq(AvroKeyDeletePartition(
                  s"$location/data/${d.path}",
                  new org.apache.spark.util.SerializableConfiguration(hadoopConf),
                  d.keyCols.toArray, kl.keyIdx,
                  kl.declaredTypes, width, sn.id, keyList,
                  kl.physSchema.fields.map(_.dataType), kl.castExprs))
              else {
                val delPath = new org.apache.hadoop.fs.Path(s"$location/data/${d.path}")
                val delFile = PartitionedFile(
                  new GenericInternalRow(Array.empty[Any]),
                  SparkPath.fromPath(delPath), 0,
                  fs.getFileStatus(delPath).getLen)
                Seq(KeyDeletePartition(
                  composeCast(readerFor(kl.physSchema, new StructType()),
                    kl.castExprs), delFile,
                  kl.keyIdx, kl.declaredTypes, width, sn.id,
                  keyList))
              }
            }
          }
          delParts ++ insertParts(sn)
        case _ if skipOverwrites => Seq.empty
        case "delete" | "merge" | "update" | "overwrite" if newDels.isEmpty =>
          // CoW commit (round 16; the reference's own table declares
          // write.delete.mode=copy-on-write): the batch changelogBetween
          // file diff re-expressed as stream partitions — removed files'
          // rows stream as full-row DELETE images, the added (rewritten)
          // files' rows as INSERT images. File granularity re-emits a
          // rewritten file's UNCHANGED rows as DELETE+INSERT pairs in the
          // same commit ("carryovers", Iceberg's un-netted changelog
          // shape); a keyed replay (replayChangelog applies a commit's
          // DELETEs before its INSERTs) nets them exactly.
          val parent = sn.parentId.flatMap(byId.get)
          val parentFiles = parent.map(_.files).getOrElse(Seq.empty)
          val removedSet = sn.removedFiles.toSet
          val removed = parentFiles.filter(f => removedSet.contains(f.path))
          // every removed path must resolve through the RETAINED parent
          // snapshot — an expired parent would silently drop the DELETE
          // images (the replay would then keep deleted rows and duplicate
          // carryovers), so fail loudly like the pre-CoW code did
          if (removed.size != removedSet.size)
            throw new UnsupportedOperationException(
              s"graft changelog stream: CoW snapshot ${sn.id} removed " +
                s"${removedSet.size} file(s) but its parent snapshot " +
                s"${sn.parentId.getOrElse(-1L)} is no longer retained " +
                s"(resolved ${removed.size}); its DELETE images are gone — " +
                "restart from a later fromSnapshotId, or raise snapshot " +
                "retention past the consumer lag")
          // a removed file that OLDER MoR delete files still applied to
          // must NOT re-emit the already-deleted rows as DELETE images —
          // they were retracted when the MoR commit streamed. Round 17
          // (replacing the round-16 refusal): the applicable delete
          // sources plan as executor-side MASKS — the reader loads them
          // and streams the removed file's rows MINUS the masked
          // positions/keys, i.e. exactly the parent-state-live rows.
          // Equality deletes apply to EVERY older file (sequence rule);
          // positional/DV deletes only where their recorded targets
          // overlap the removed file.
          val parentDels = parent.map(_.deleteFiles).getOrElse(Seq.empty)
          def maskOf(d: graft.table.DeleteFile, target: String): MaskSource =
            if (d.isDv || d.isPositional) positionSourceOf(d, target)
            else {
              val full = s"$location/data/${d.path}"
              val kl = equalityKeyLayout(m, d, sn.id)
              if (d.path.endsWith(graft.table.AvroDeletes.Extension))
                AvroKeyMask(full,
                  new org.apache.spark.util.SerializableConfiguration(hadoopConf),
                  d.keyCols.toArray, kl.keyIdx, kl.declaredTypes,
                  kl.physSchema.fields.map(_.dataType), kl.castExprs)
              else {
                val p = new org.apache.hadoop.fs.Path(full)
                val delPf = PartitionedFile(
                  new GenericInternalRow(Array.empty[Any]),
                  SparkPath.fromPath(p), 0, fs.getFileStatus(p).getLen)
                KeyMask(
                  composeCast(readerFor(kl.physSchema, new StructType()),
                    kl.castExprs), delPf, kl.keyIdx, kl.declaredTypes)
              }
            }
          removed.map { f =>
            val masks = parentDels.filter { d =>
              d.seq > seqOf(f) &&
                (!(d.isDv || d.isPositional) ||
                  positionDeleteTargets(d).contains(f.path))
            }.map(maskOf(_, f.path))
            if (masks.isEmpty)
              ChangeImagePartition(readFuncFor(m, f, seqOf),
                partitionedFileOf(fs, f), "DELETE", sn.id,
                runs = null): InputPartition
            else MaskedChangeImagePartition(readFuncFor(m, f, seqOf),
              partitionedFileOf(fs, f), sn.id, masks)
          } ++ insertParts(sn)
        case other => throw new UnsupportedOperationException(
          s"graft changelog stream: snapshot ${sn.id} is a '$other' commit " +
            s"that both adds delete files and removes data files on " +
            s"$location — its images need a state diff; use " +
            "changelogBetween, or " +
            ".option(\"skipOverwriteSnapshots\", true) to skip it")
      }
    }.toArray
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (offsetOf(start), offsetOf(end))
    if (e <= s) return Array.empty
    val m = meta
    val onHead = headId(m).map(m.ancestry).getOrElse(Seq.empty).toSet
    val range = m.snapshots
      .filter(sn => onHead.contains(sn.id) && sn.id > s && sn.id <= e)
      .sortBy(_.id)
    val skipOverwrites =
      Option(options.get("skipOverwriteSnapshots")).exists(_.toBoolean)
    // unconditional: DROP COLUMN records only a tombstone (no rename /
    // type-change entry), so gating on those would let a mid-stream drop
    // stream the pinned dropped column as silent nulls. The check is one
    // schema-JSON parse + a map compare per batch plan — cheap.
    requireFreshSchema(m)
    if (changelog) return planChangelog(range, m, skipOverwrites)
    val added = range.flatMap { sn =>
      sn.operation match {
        case "append" | "cherrypick" => // cherrypick = insert-only publish
          val addedSet = sn.addedFiles.toSet
          sn.files.filter(f => addedSet.contains(f.path))
        case "replace" => Seq.empty // row-preserving compaction: already streamed
        case _ if skipOverwrites => Seq.empty
        case other => throw new UnsupportedOperationException(
          s"graft streaming read hit a row-changing '$other' snapshot ${sn.id} on " +
            s"$location: an append-only stream cannot represent it. Use " +
            "changelogBetween for CDC, or .option(\"skipOverwriteSnapshots\", true) " +
            "to stream appends only.")
      }
    }
    if (added.isEmpty) return Array.empty
    // files written before a column rename / type promotion scan under
    // their era's physical schema and upcast back (readFuncFor) — the
    // round-14 refusals are gone
    val fs = new org.apache.hadoop.fs.Path(location)
      .getFileSystem(hadoopConf)
    val seqOf = seqResolver(m)
    added.map { f =>
      GraftFilePartition(readFuncFor(m, f, seqOf), partitionedFileOf(fs, f))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftStreamReaderFactory
}

/** Offset = highest main-branch snapshot id fully emitted. */
case class GraftStreamOffset(snapshotId: Long) extends Offset {
  override def json(): String = snapshotId.toString
}

/** One added data file + the (broadcast-conf, serializable) v1 parquet
  * read closure that materializes it. */
case class GraftFilePartition(
    readFunc: PartitionedFile => Iterator[InternalRow],
    file: PartitionedFile) extends InputPartition

/** A changelog image partition: the file's rows tagged with
  * (_change_type, _commit_snapshot_id); for DELETE images of a deletion
  * vector, `runs` restricts to the vector's row indexes (a sequential
  * whole-file read's row order IS the parquet row index). */
case class ChangeImagePartition(
    readFunc: PartitionedFile => Iterator[InternalRow],
    file: PartitionedFile,
    changeType: String,
    snapshotId: Long,
    runs: Array[Long]) extends InputPartition

/** One OLDER merge-on-read delete source still applied to a CoW-removed
  * file (round 17): its rows were already retracted when the MoR commit
  * streamed, so they must be EXCLUDED from the CoW commit's DELETE
  * images. Loaded executor-side by [[MaskedChangeImagePartition]]'s
  * reader; all read closures/paths are fixed at plan time from metadata
  * (no driver-side content reads). */
sealed trait MaskSource extends Serializable

/** Deletion vector: the run-length row indexes recorded for `target`. */
case class DvMask(
    readFunc: PartitionedFile => Iterator[InternalRow],
    file: PartitionedFile,
    target: String) extends MaskSource

/** Position-list parquet: `(__file, __pos)` rows filtered to `target`. */
case class PosListMask(
    readFunc: PartitionedFile => Iterator[InternalRow],
    file: PartitionedFile,
    target: String) extends MaskSource

/** Position-list Avro container twin of [[PosListMask]]. */
case class AvroPosListMask(
    path: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    target: String) extends MaskSource

/** Equality-delete parquet: key tuples under the recorded column order;
  * `keyIdx`/`keyTypes` map tuple slot i into the full declared row. */
case class KeyMask(
    readFunc: PartitionedFile => Iterator[InternalRow],
    file: PartitionedFile,
    keyIdx: Array[Int],
    keyTypes: Array[org.apache.spark.sql.types.DataType]) extends MaskSource

/** Equality-delete Avro container twin of [[KeyMask]]: values decode
  * under the recorded era types (`decodeTypes`) and upcast per value
  * through `castExprs` when the key was later promoted. */
case class AvroKeyMask(
    path: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    recordedKeys: Array[String],
    keyIdx: Array[Int],
    keyTypes: Array[org.apache.spark.sql.types.DataType],
    decodeTypes: Array[org.apache.spark.sql.types.DataType],
    castExprs: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]])
  extends MaskSource

/** [[ChangeImagePartition]] for a CoW-removed file that older MoR deletes
  * still applied to (round 17 — replaces the refusal): the reader loads
  * every applicable delete source, then streams the file's rows as
  * DELETE images MINUS the masked positions/keys — exactly the rows that
  * were still live in the parent state. */
case class MaskedChangeImagePartition(
    readFunc: PartitionedFile => Iterator[InternalRow],
    file: PartitionedFile,
    snapshotId: Long,
    masks: Seq[MaskSource]) extends InputPartition

/** [[ChangeImagePartition]]'s metadata-planned positional form (round
  * 17): the driver plans one partition per (delete file, target data
  * file) from [[graft.table.DeleteFile.targetPaths]] without reading any
  * delete content; the EXECUTOR loads its target's positions from `src`
  * (DV runs, or position-list rows in parquet/Avro) and streams the data
  * file's rows AT those positions as DELETE images. */
case class PositionChangeImagePartition(
    readFunc: PartitionedFile => Iterator[InternalRow],
    file: PartitionedFile,
    snapshotId: Long,
    src: MaskSource) extends InputPartition

/** Equality-delete key tuples as DELETE_KEY retraction images: the delete
  * parquet's columns map into `keyIdx` positions of the full-width row,
  * everything else null; `keyList` (the key-column names under their
  * CURRENT declared spelling — recorded names map forward across later
  * renames — comma-joined) rides in the _change_key metadata column. */
case class KeyDeletePartition(
    readFunc: PartitionedFile => Iterator[InternalRow],
    file: PartitionedFile,
    keyIdx: Array[Int],
    keyTypes: Array[org.apache.spark.sql.types.DataType],
    width: Int,
    snapshotId: Long,
    keyList: String) extends InputPartition

/** [[KeyDeletePartition]]'s Avro twin — the reference's
  * `write.delete.format.default='avro'` commits: the executor streams the
  * container file directly (graft.table.AvroDeletes field decoding), no
  * parquet reader involved. Values decode under the recorded era types
  * (`decodeTypes`) and upcast through `castExprs` when a key column was
  * promoted after the delete commit (round 17). */
case class AvroKeyDeletePartition(
    path: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    keyCols: Array[String],
    keyIdx: Array[Int],
    keyTypes: Array[org.apache.spark.sql.types.DataType],
    width: Int,
    snapshotId: Long,
    keyList: String,
    decodeTypes: Array[org.apache.spark.sql.types.DataType],
    castExprs: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]])
  extends InputPartition

class GraftStreamReaderFactory extends PartitionReaderFactory {
  /** `source`: the UNDERLYING iterator whose resources close() must
    * release — pass it explicitly whenever the drained iterator is a
    * `.map`/`.filter` wrapper, because the wrapper is a plain Iterator
    * and hides the AutoCloseable underneath (an early-terminated stream
    * query would otherwise leak the open file until GC). */
  private def drain(it: Iterator[InternalRow],
      source: Any = null): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = {
        // close both even if the first close throws; surface the first
        // failure after the second resource is released
        var first: Throwable = null
        Seq(source, it).foreach {
          case c: AutoCloseable =>
            try c.close()
            catch { case t: Throwable => if (first == null) first = t }
          case _ => ()
        }
        if (first != null) throw first
      }
    }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case gp: GraftFilePartition => drain(gp.readFunc(gp.file))
    case cp: ChangeImagePartition =>
      val tag = new GenericInternalRow(Array[Any](
        UTF8String.fromString(cp.changeType), cp.snapshotId, null))
      val base = cp.readFunc(cp.file)
      val selected =
        if (cp.runs == null) base
        else {
          // sorted runs walked in lockstep with the row index
          var pos = -1L
          var ri = 0
          base.filter { _ =>
            pos += 1
            while (ri < cp.runs.length / 2 &&
                pos >= cp.runs(2 * ri) + cp.runs(2 * ri + 1)) ri += 1
            ri < cp.runs.length / 2 && pos >= cp.runs(2 * ri)
          }
        }
      drain(selected.map(r =>
        new org.apache.spark.sql.catalyst.expressions.JoinedRow(r, tag)),
        source = base)
    case mp: MaskedChangeImagePartition =>
      // load every applicable older delete source (executor-side, plan
      // shipped only metadata + read closures), then stream the removed
      // file's rows MINUS the masked positions/keys as DELETE images —
      // exactly the rows still live in the parent state
      val intervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val keySets = scala.collection.mutable.ArrayBuffer.empty[
        (Array[Int], Array[org.apache.spark.sql.types.DataType],
          java.util.HashSet[Any])]
      mp.masks.foreach {
        case KeyMask(rf, file, keyIdx, keyTypes) =>
          val set = new java.util.HashSet[Any]()
          drainClose(rf(file)) { r0 =>
            val r = r0.copy() // parquet reader reuses row buffers
            set.add(List.tabulate(keyIdx.length)(i =>
              if (r.isNullAt(i)) null else r.get(i, keyTypes(i))))
          }
          keySets += ((keyIdx, keyTypes, set))
        case AvroKeyMask(path, conf, recKeys, keyIdx, keyTypes,
            decodeTypes, castExprs) =>
          val set = new java.util.HashSet[Any]()
          val upcast = eraUpcaster(castExprs, keyTypes)
          graft.table.AvroDeletes.catalystIterator(path, conf.value,
            recKeys.toSeq, decodeTypes.toSeq).foreach { vals =>
            val cast = upcast(vals)
            set.add(List.tabulate(keyIdx.length)(i => cast(i)))
          }
          keySets += ((keyIdx, keyTypes, set))
        case positional => loadIntervals(positional, intervals)
      }
      // merged, sorted exclusion runs; the lockstep walk below EXCLUDES
      // them (the complement of ChangeImagePartition's selection)
      val runs: Array[Long] = mergeRuns(intervals)
      val mtag = new GenericInternalRow(Array[Any](
        UTF8String.fromString("DELETE"), mp.snapshotId, null))
      val mbase = mp.readFunc(mp.file)
      var mpos = -1L
      var mri = 0
      val mselected = mbase.filter { r =>
        mpos += 1
        while (mri < runs.length / 2 &&
            mpos >= runs(2 * mri) + runs(2 * mri + 1)) mri += 1
        val inRun = mri < runs.length / 2 && mpos >= runs(2 * mri)
        !inRun && !keySets.exists { case (idx, tps, set) =>
          set.contains(List.tabulate(idx.length)(i =>
            if (r.isNullAt(idx(i))) null else r.get(idx(i), tps(i))))
        }
      }
      drain(mselected.map(r =>
        new org.apache.spark.sql.catalyst.expressions.JoinedRow(r, mtag)),
        source = mbase)
    case pp: PositionChangeImagePartition =>
      // load this partition's target positions (DV runs or position-list
      // rows), then delegate to the run-filtered image reader — the one
      // code path for position selection
      val intervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      loadIntervals(pp.src, intervals)
      if (intervals.isEmpty) throw new IllegalStateException(
        s"delete file has no positions for recorded target of " +
          s"${pp.file.urlEncodedPath} (commit metadata/content divergence)")
      createReader(ChangeImagePartition(
        pp.readFunc, pp.file, "DELETE", pp.snapshotId, mergeRuns(intervals)))
    case kp: KeyDeletePartition =>
      val under = kp.readFunc(kp.file)
      val it = under.map { r =>
        val out = new Array[Any](kp.width + 3)
        var i = 0
        while (i < kp.keyIdx.length) {
          out(kp.keyIdx(i)) = r.get(i, kp.keyTypes(i))
          i += 1
        }
        out(kp.width) = UTF8String.fromString("DELETE_KEY")
        out(kp.width + 1) = kp.snapshotId
        out(kp.width + 2) = UTF8String.fromString(kp.keyList)
        new GenericInternalRow(out): InternalRow
      }
      drain(it, source = under)
    case ap: AvroKeyDeletePartition =>
      val under = graft.table.AvroDeletes.catalystIterator(
        ap.path, ap.conf.value, ap.keyCols.toSeq, ap.decodeTypes.toSeq)
      val upcast = eraUpcaster(ap.castExprs, ap.keyTypes)
      val it = under
        .map { keyVals =>
          val cast = upcast(keyVals)
          val out = new Array[Any](ap.width + 3)
          var i = 0
          while (i < ap.keyIdx.length) {
            out(ap.keyIdx(i)) = cast(i)
            i += 1
          }
          out(ap.width) = UTF8String.fromString("DELETE_KEY")
          out(ap.width + 1) = ap.snapshotId
          out(ap.width + 2) = UTF8String.fromString(ap.keyList)
          new GenericInternalRow(out): InternalRow
        }
      drain(it, source = under)
  }

  private def drainClose(it: Iterator[InternalRow])(
      f: InternalRow => Unit): Unit =
    try it.foreach(f)
    finally it match { case c: AutoCloseable => c.close(); case _ => () }

  /** Append a positional source's (start, len) intervals for its recorded
    * target — DV runs verbatim, position-list rows as unit intervals. */
  private def loadIntervals(src: MaskSource,
      intervals: scala.collection.mutable.ArrayBuffer[(Long, Long)]): Unit =
    src match {
      case DvMask(rf, file, target) =>
        val t = UTF8String.fromString(target)
        drainClose(rf(file)) { r =>
          if (r.getUTF8String(0) == t) {
            val runs = r.getArray(1).toLongArray()
            var i = 0
            while (i < runs.length / 2) {
              intervals += ((runs(2 * i), runs(2 * i + 1))); i += 1
            }
          }
        }
      case PosListMask(rf, file, target) =>
        val t = UTF8String.fromString(target)
        drainClose(rf(file)) { r =>
          if (r.getUTF8String(0) == t) intervals += ((r.getLong(1), 1L))
        }
      case AvroPosListMask(path, conf, target) =>
        val t = UTF8String.fromString(target)
        graft.table.AvroDeletes.catalystIterator(path, conf.value,
          Seq("__file", "__pos"),
          Seq(org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType)).foreach { vals =>
          if (vals(0) == t)
            intervals += ((vals(1).asInstanceOf[Long], 1L))
        }
      case other => throw new IllegalStateException(
        s"not a positional source: $other")
    }

  /** Sort + merge (start, len) intervals into the run-length array shape
    * [[ChangeImagePartition]] walks (duplicates and overlaps collapse). */
  private def mergeRuns(
      intervals: scala.collection.mutable.ArrayBuffer[(Long, Long)])
      : Array[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    intervals.sortBy(_._1).foreach { case (s, l) =>
      if (out.nonEmpty && s <= out(out.size - 2) + out(out.size - 1))
        out(out.size - 1) =
          math.max(out(out.size - 2) + out(out.size - 1), s + l) -
            out(out.size - 2)
      else { out += s; out += l }
    }
    out.toArray
  }

  /** Per-tuple era upcast for Avro-decoded key value arrays: None =
    * identity; otherwise one MutableProjection application per tuple,
    * values extracted under the declared types (round 17 — the key-
    * promotion era path). */
  private def eraUpcaster(
      castExprs: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]],
      declaredTypes: Array[org.apache.spark.sql.types.DataType])
      : Array[Any] => Array[Any] = castExprs match {
    case None => identity
    case Some(exprs) =>
      val proj = MutableProjection.create(exprs)
      vals => {
        val out = proj(new GenericInternalRow(vals))
        Array.tabulate(vals.length)(i =>
          if (out.isNullAt(i)) null else out.get(i, declaredTypes(i)))
      }
  }
}
