package graft.table

import org.apache.spark.sql.functions._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkTestBase
import graft.apps.ActivityData

/** Merge-on-read equality deletes: O(matched-keys) writes, anti-join reads,
  * sequence semantics (re-inserted keys live again), compaction
  * materialization, CoW interplay and GC safety. */
class MorDeleteSpec extends SparkTestBase {

  private def fresh(name: String): GraftTable = {
    val t = GraftTable.create(spark, tmpDir(s"mor-$name"), name,
      ActivityData.schema, ActivityData.partitionCols)
    t.append(ActivityData.day1(spark)) // txn1..txn15
    t
  }

  test("MoR delete hides rows without touching data files") {
    val t = fresh("basic")
    val filesBefore = t.meta.currentSnapshot.get.files.map(_.path).toSet
    t.deleteWhereMoR(col("txn_id").isin("txn3", "txn7"), Seq("txn_id"))
    assert(t.toDF.count() === 13)
    assert(t.toDF.filter(col("txn_id").isin("txn3", "txn7")).count() === 0)
    val snap = t.meta.currentSnapshot.get
    assert(snap.files.map(_.path).toSet === filesBefore) // zero rewrites
    assert(snap.deleteFiles.size === 1 && snap.deleteFiles.head.records === 2)
    assert(snap.deleteFiles.head.path.startsWith("_deletes/"))
  }

  test("large MoR delete fans out to multiple delete files (size guard)") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val t = GraftTable.create(spark, tmpDir("mor-big"), "morbig", schema,
      Seq.empty,
      // tiny rows-per-file so the guard trips at spec scale: the same
      // threshold defaults to 4M keys per file in production
      Map("write.delete.rows-per-file" -> "100"))
    t.append((0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v"))
    t.deleteWhereMoR(col("id") < 450, Seq("id"))
    val snap = t.meta.currentSnapshot.get
    // 450 deleted keys / 100 per file = 5 delete files, one commit
    assert(snap.deleteFiles.size > 1, s"expected multi-file delete, got ${snap.deleteFiles.size}")
    assert(snap.deleteFiles.map(_.records).sum === 450L)
    // the anti-join read merges ALL delete files of the commit
    assert(t.toDF.count() === 550)
    assert(t.toDF.agg(min(col("id"))).collect().head.getLong(0) === 450L)
  }

  test("sequence semantics: keys appended after the delete are live again") {
    val t = fresh("seq")
    t.deleteWhereMoR(col("txn_id") === "txn5", Seq("txn_id"))
    assert(t.toDF.filter(col("txn_id") === "txn5").count() === 0)
    // re-insert the same key in a later append: the older delete must not
    // apply to the newer file
    t.append(ActivityData.day1(spark).filter(col("txn_id") === "txn5"))
    assert(t.toDF.filter(col("txn_id") === "txn5").count() === 1)
    assert(t.toDF.count() === 15)
    // and a NEW delete hides both old and new files' rows
    t.deleteWhereMoR(col("txn_id") === "txn5", Seq("txn_id"))
    assert(t.toDF.filter(col("txn_id") === "txn5").count() === 0)
  }

  test("compaction materializes MoR deletes and drops the delete files") {
    val t = fresh("compact")
    t.deleteWhereMoR(col("txn_id").isin("txn1", "txn2"), Seq("txn_id"))
    t.rewriteDataFilesSorted(Seq(asc_nulls_last("account")))
    val snap = t.meta.currentSnapshot.get
    assert(snap.deleteFiles.isEmpty)
    assert(t.toDF.count() === 13)
    assert(t.toDF.filter(col("txn_id").isin("txn1", "txn2")).count() === 0)
  }

  test("CoW merge after a MoR delete does not resurrect deleted rows") {
    val t = fresh("cow")
    t.deleteWhereMoR(col("txn_id") === "txn4", Seq("txn_id"))
    // merge touches txn6 (same partition-day as txn4): the affected file is
    // rewritten through the delete-applying read
    val upd = ActivityData.day1(spark).filter(col("txn_id") === "txn6")
      .withColumn("amount", lit(999.0))
    t.merge(upd, Seq("txn_id"), Seq("amount"))
    assert(t.toDF.filter(col("txn_id") === "txn4").count() === 0)
    assert(t.toDF.filter(col("txn_id") === "txn6").collect().head
      .getAs[Double]("amount") === 999.0)
    assert(t.toDF.count() === 14)
  }

  test("time travel before the delete still sees the rows") {
    val t = fresh("tt")
    t.createOrReplaceBranch("pre")
    t.deleteWhereMoR(col("txn_id") === "txn9", Seq("txn_id"))
    assert(t.asOf("pre").count() === 15)
    assert(t.toDF.count() === 14)
  }

  test("GC never collects live delete files; expiry drops orphaned ones") {
    val t = fresh("gc")
    t.deleteWhereMoR(col("txn_id") === "txn1", Seq("txn_id"))
    val delPath = t.meta.currentSnapshot.get.deleteFiles.head.path
    // the delete file is referenced -> not an orphan even with no age guard
    assert(!t.removeOrphanFiles(dryRun = true, olderThanMs = Long.MaxValue)
      .contains(delPath))
    assert(t.toDF.count() === 14)
    // compaction drops the reference; expiring the pre-compaction snapshots
    // then deletes the file from disk
    t.rewriteDataFilesSorted(Seq(asc_nulls_last("account")))
    t.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    import org.apache.hadoop.fs.Path
    val fs = new Path(t.location).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"${t.location}/data/$delPath")))
    assert(t.toDF.count() === 14)
  }

  test("equality matching is null-safe: a null-keyed tuple deletes null rows") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("mor-null"), "mor_null",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType))))
    t.append(Seq(("a", 1L), (null.asInstanceOf[String], 2L), ("c", 3L)).toDF("k", "v"))
    // matched row has k = NULL: the recorded null tuple must delete it
    // (null-unsafe matching would silently keep it forever)
    t.deleteWhereMoR(col("v") === 2, Seq("k"))
    assert(t.toDF.count() === 2)
    assert(t.toDF.select("k").collect().map(_.getString(0)).toSet === Set("a", "c"))
  }

  test("SQL DELETE FROM honors write.delete.mode=merge-on-read") {
    val wh = java.nio.file.Files.createTempDirectory("mor-sql-wh").toString
    spark.conf.set("spark.sql.catalog.morsql",
      classOf[graft.table.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.morsql.warehouse", wh)
    spark.sql("""CREATE TABLE morsql.fin.mor (k STRING, v DOUBLE)
                 USING parquet TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""")
    try {
      spark.sql("INSERT INTO morsql.fin.mor (k, v) VALUES ('a', 1.0), ('b', 2.0), ('c', 3.0)")
      val t = GraftTable.load(spark, s"$wh/fin/mor")
      val filesBefore = t.meta.currentSnapshot.get.files.map(_.path).toSet
      spark.sql("DELETE FROM morsql.fin.mor WHERE v > 1.5")
      assert(spark.sql("SELECT count(*) FROM morsql.fin.mor").collect().head.getLong(0) === 1)
      val snap = t.meta.currentSnapshot.get
      assert(snap.files.map(_.path).toSet === filesBefore) // no rewrite
      assert(snap.deleteFiles.nonEmpty && snap.deleteFiles.head.records === 2)
    } finally spark.sql("DROP TABLE morsql.fin.mor")
  }

  test("updateWhereMoR: delete-and-insert, no rewrite, updates live") {
    val t = fresh("upd")
    val filesBefore = t.meta.currentSnapshot.get.files.map(_.path).toSet
    t.updateWhereMoR(col("txn_id") === "txn3",
      Seq("amount" -> lit(777.0)), Seq("txn_id"))
    val snap = t.meta.currentSnapshot.get
    assert(filesBefore.subsetOf(snap.files.map(_.path).toSet)) // old files kept
    assert(snap.deleteFiles.size === 1)
    assert(t.toDF.count() === 15)
    assert(t.toDF.filter(col("txn_id") === "txn3").collect()
      .head.getAs[Double]("amount") === 777.0)
  }

  test("mergeMoR matches CoW merge results exactly") {
    val t1 = fresh("mcow"); val t2 = fresh("mmor")
    val src = ActivityData.day4(spark) // updates txn10, inserts txn46/txn47
    t1.merge(src, ActivityData.mergeKeys, ActivityData.updateCols)
    t2.mergeMoR(src, ActivityData.mergeKeys, ActivityData.updateCols)
    val a = t1.toDF.orderBy("txn_id").collect().map(_.toString).toSeq
    val b = t2.toDF.orderBy("txn_id").collect().map(_.toString).toSeq
    assert(a === b)
    // and the MoR commit added files + a delete file, removed nothing
    val snap = t2.meta.currentSnapshot.get
    assert(snap.removedFiles.isEmpty && snap.deleteFiles.nonEmpty)
  }

  test("reads plan one sequence-gated anti-join per delete kind, whatever the delete commits") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val cow = fresh("kinds-cow"); val mor = fresh("kinds-mor")
    def reappend(ids: String*): Unit = Seq(cow, mor).foreach(_.append(
      ActivityData.day1(spark).filter(col("txn_id").isin(ids: _*))))
    // 4 equality-delete commits on overlapping keys, with re-appends of
    // the same keys between them (live again under sequence semantics)
    val upd1 = col("txn_id").isin("txn3", "txn4")
    cow.updateWhere(upd1, Seq("amount" -> lit(101.0)))
    mor.updateWhereMoR(upd1, Seq("amount" -> lit(101.0)), Seq("txn_id"))
    reappend("txn3", "txn5")
    cow.merge(ActivityData.day4(spark), ActivityData.mergeKeys, ActivityData.updateCols)
    mor.mergeMoR(ActivityData.day4(spark), ActivityData.mergeKeys, ActivityData.updateCols)
    reappend("txn8", "txn10", "txn4")
    val upd2 = col("txn_id").isin("txn3", "txn8")
    cow.updateWhere(upd2, Seq("category" -> lit("Moved")))
    mor.updateWhereMoR(upd2, Seq("category" -> lit("Moved")), Seq("txn_id"))
    reappend("txn3")
    cow.merge(ActivityData.day4(spark), ActivityData.mergeKeys, ActivityData.updateCols)
    mor.mergeMoR(ActivityData.day4(spark), ActivityData.mergeKeys, ActivityData.updateCols)
    // plus one position-delete commit
    cow.deleteWhere(col("txn_id") === "txn5")
    mor.deleteWherePositional(col("txn_id") === "txn5")
    assert(mor.meta.currentSnapshot.get.deleteFiles.map(_.kind).distinct.sorted
      === Seq("equality", "position"))
    assert(mor.meta.currentSnapshot.get.deleteFiles.count(_.kind == "equality") >= 4)
    val df = mor.toDF
    val b = df.collect().map(_.toString).sorted.toSeq
    val antiJoins = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case j: BaseJoinExec if j.joinType == LeftAnti => j }
    assert(antiJoins.size === 2, s"one equality + one position anti-join:\n" +
      df.queryExecution.executedPlan)
    assert(cow.toDF.collect().map(_.toString).sorted.toSeq === b)
  }

  test("SQL UPDATE and MERGE honor merge-on-read table properties") {
    val wh = java.nio.file.Files.createTempDirectory("mor-sql2-wh").toString
    spark.conf.set("spark.sql.catalog.morsq2",
      classOf[graft.table.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.morsq2.warehouse", wh)
    spark.sql("""CREATE TABLE morsq2.fin.m (id BIGINT, v DOUBLE)
                 USING parquet TBLPROPERTIES (
                   'write.update.mode' = 'merge-on-read',
                   'write.merge.mode' = 'merge-on-read')""")
    try {
      spark.sql("INSERT INTO morsq2.fin.m (id, v) VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
      val t = GraftTable.load(spark, s"$wh/fin/m")
      val before = t.meta.currentSnapshot.get.files.map(_.path).toSet
      spark.sql("UPDATE morsq2.fin.m SET v = v * 10 WHERE id <= 2")
      assert(before.subsetOf(t.meta.currentSnapshot.get.files.map(_.path).toSet))
      assert(t.meta.currentSnapshot.get.deleteFiles.nonEmpty)
      assert(spark.sql("SELECT sum(v) FROM morsq2.fin.m").collect().head.getDouble(0) === 33.0)
      spark.sql("""SELECT * FROM (VALUES (CAST(3 AS BIGINT), 300.0), (CAST(4 AS BIGINT), 4.0))
                   AS s(id, v)""").createOrReplaceTempView("mor_src")
      spark.sql("""MERGE INTO morsq2.fin.m t USING mor_src s ON t.id = s.id
                   WHEN MATCHED THEN UPDATE SET t.v = s.v
                   WHEN NOT MATCHED THEN INSERT *""")
      assert(spark.sql("SELECT sum(v) FROM morsq2.fin.m").collect().head.getDouble(0) === 334.0)
      assert(spark.sql("SELECT count(*) FROM morsq2.fin.m").collect().head.getLong(0) === 4)
    } finally spark.sql("DROP TABLE morsq2.fin.m")
  }

  test("delete_files metadata table lists live MoR delete files") {
    val t = fresh("dfmeta")
    t.deleteWhereMoR(col("txn_id") === "txn2", Seq("txn_id"))
    val rows = t.deleteFilesDF.collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("equality_columns") === "txn_id")
    assert(rows.head.getAs[Long]("record_count") === 1L)
    assert(rows.head.getAs[Long]("sequence_number") === t.meta.refs("main"))
  }

  test("the MoR anti-join broadcasts the delete-key side") {
    val t = fresh("bcast")
    t.deleteWhereMoR(col("txn_id").isin("txn1", "txn2"), Seq("txn_id"))
    val df = t.toDF
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"delete keys should broadcast:\n$plan")
  }

  test("rollback_to_snapshot rewinds main to an ancestor, via API and CALL") {
    val wh = java.nio.file.Files.createTempDirectory("rb-wh").toString
    spark.conf.set("spark.sql.catalog.rbsql",
      classOf[graft.table.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.rbsql.warehouse", wh)
    spark.sql("CREATE TABLE rbsql.fin.rb (k STRING, v DOUBLE) USING parquet")
    try {
      spark.sql("INSERT INTO rbsql.fin.rb VALUES ('a', 1.0)")
      spark.sql("INSERT INTO rbsql.fin.rb VALUES ('b', 2.0)")
      spark.sql("INSERT INTO rbsql.fin.rb VALUES ('c', 3.0)")
      val r = spark.sql(
        "CALL rbsql.system.rollback_to_snapshot('fin.rb', 1)").collect().head
      assert(r.getLong(0) === 3L && r.getLong(1) === 1L)
      assert(spark.sql("SELECT count(*) FROM rbsql.fin.rb").collect().head.getLong(0) === 1)
      // history preserved: roll forward again by id
      val t = GraftTable.load(spark, s"$wh/fin/rb")
      assert(t.snapshotsDF.count() === 3)
      val notAncestor = intercept[Exception] {
        // snapshot 3 is now a DESCENDANT of main's head, not an ancestor
        t.rollbackToSnapshot(99) }
      assert(notAncestor.getMessage.contains("Unknown snapshot"))
    } finally spark.sql("DROP TABLE rbsql.fin.rb")
  }

  test("position delete removes one exact row even among full duplicates") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("mor-pos"), "mor_pos",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType))))
    // two IDENTICAL rows in ONE file (coalesced), plus a distinct one
    t.append(Seq(("dup", 1L), ("dup", 1L), ("other", 2L)).toDF("k", "v").coalesce(1))
    val filesBefore = t.meta.currentSnapshot.get.files.map(_.path).toSet
    // equality-style predicates can't separate the twins; position can:
    // delete only the row at the lowest row index among the matches
    t.deleteWherePositional(col("k") === "dup" && col("__pos") === 0)
    assert(t.toDF.count() === 2)
    assert(t.toDF.filter(col("k") === "dup").count() === 1) // ONE twin left
    val snap = t.meta.currentSnapshot.get
    assert(snap.files.map(_.path).toSet === filesBefore)
    assert(snap.deleteFiles.head.kind === "position")
  }

  test("position deletes follow sequence semantics and compaction") {
    val t = fresh("pos2")
    t.deleteWherePositional(col("txn_id") === "txn7")
    assert(t.toDF.count() === 14)
    // appended rows are untouched by the older position delete
    t.append(ActivityData.day1(spark).filter(col("txn_id") === "txn7"))
    assert(t.toDF.filter(col("txn_id") === "txn7").count() === 1)
    // equality + position deletes compose on the same snapshot
    t.deleteWhereMoR(col("txn_id") === "txn8", Seq("txn_id"))
    assert(t.toDF.count() === 14)
    assert(t.meta.currentSnapshot.get.deleteFiles.map(_.kind).sorted
      === Seq("equality", "position"))
    // compaction materializes both kinds
    t.rewriteDataFilesSorted(Seq(asc_nulls_last("account")))
    assert(t.meta.currentSnapshot.get.deleteFiles.isEmpty)
    assert(t.toDF.count() === 14)
    assert(t.toDF.filter(col("txn_id") === "txn8").count() === 0)
    assert(t.toDF.filter(col("txn_id") === "txn7").count() === 1)
  }

  test("delete applicability survives expiry of the adding snapshot") {
    // s1 appends txn1..15; s2 MoR-deletes txn5 (seq 2); s3 re-appends txn5;
    // s4 is an unrelated append so s3 is expirable. Expiring s1..s3 while
    // the delete file is still pending must NOT re-apply the old delete to
    // the re-appended row: its dataSeq (3 > 2) is persisted on the file
    // itself, not derived from the now-gone snapshot list.
    val t = fresh("expseq")
    t.deleteWhereMoR(col("txn_id") === "txn5", Seq("txn_id"))
    t.append(ActivityData.day1(spark).filter(col("txn_id") === "txn5"))
    t.append(ActivityData.day1(spark).filter(col("txn_id") === "txn6"))
    assert(t.toDF.count() === 16) // 15 live + second txn6
    val expired = t.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    assert(expired === Seq(1L, 2L, 3L))
    assert(t.meta.currentSnapshot.get.deleteFiles.nonEmpty) // still pending
    assert(t.toDF.count() === 16)
    assert(t.toDF.filter(col("txn_id") === "txn5").count() === 1)
  }

  test("changelog spans equality and position delete commits (state diff)") {
    val t = fresh("chglog")
    t.createOrReplaceBranch("c1")
    t.deleteWhereMoR(col("txn_id").isin("txn3", "txn7"), Seq("txn_id"))
    t.deleteWherePositional(col("txn_id") === "txn9")
    t.append(ActivityData.day1(spark).filter(col("txn_id") === "txn3"))
    t.createOrReplaceBranch("c2")
    val chg = t.changelogBetween("c1", "c2")
    val byType = chg.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("DELETE" -> 3L, "INSERT" -> 1L))
    val deleted = chg.filter(col("_change_type") === "DELETE")
      .select("txn_id").collect().map(_.getString(0)).toSet
    assert(deleted === Set("txn3", "txn7", "txn9"))
    // the re-append after both delete commits is live again (sequence
    // semantics) and surfaces as a plain INSERT
    assert(chg.filter(col("_change_type") === "INSERT")
      .select("txn_id").head.getString(0) === "txn3")
  }

  test("snapshot JSON without deleteFiles still deserializes (log compat)") {
    implicit val fmts: org.json4s.Formats = DefaultFormats
    val legacy =
      """{"id":1,"parentId":null,"timestampMs":5,"operation":"append",
         "files":[],"addedFiles":[],"removedFiles":[],"summary":{}}"""
    val snap = Serialization.read[GraftSnapshot](legacy)
    assert(snap.deleteFiles === Seq.empty)
    // pre-dataSeq DataFile JSON: field absent -> None (reader falls back
    // to deriving the sequence from retained snapshots)
    val legacyFile =
      """{"path":"p=1/f.parquet","partitionValues":{"p":"1"},
         "records":3,"sizeBytes":100}"""
    assert(Serialization.read[DataFile](legacyFile).dataSeq === None)
  }

  test("rewrite_position_delete_files drops dangling entries, compacts files, keeps equality deletes") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("pos-rewrite"), "pos_rw",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))))
    t.append((0L until 10L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    t.append((10L until 20L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    t.deleteWherePositional(col("k") % 5 === 0)          // 4 entries, 2 files
    t.deleteWhereMoR(col("k") === 7, Seq("k"))           // equality, must survive
    // binpack rewrites both files; the position delete file dangles 100%
    t.rewriteDataFilesBinpack(minFileSizeBytes = Long.MaxValue)
    t.deleteWherePositional(col("k") === 11)             // 1 live entry
    val before = t.meta.currentSnapshot.get.deleteFiles
    assert(before.count(_.isPositional) === 2)
    assert(before.filter(_.isPositional).map(_.records).sum === 5)
    val contentBefore = t.toDF.orderBy("k").collect().toSeq

    val snap = t.rewritePositionDeleteFiles()
    val after = snap.deleteFiles
    // ONE compacted position file holding only the live entry; the
    // equality delete is untouched (same path, same seq)
    assert(after.count(_.isPositional) === 1)
    assert(after.filter(_.isPositional).map(_.records).sum === 1)
    assert(after.filter(_.kind == "equality").map(d => (d.path, d.seq))
      === before.filter(_.kind == "equality").map(d => (d.path, d.seq)))
    assert(snap.summary("removed-delete-records") === "4")
    assert(t.toDF.orderBy("k").collect().toSeq === contentBefore)
    assert(t.toDF.count() === 14) // 20 - 4 (%5) - 1 (k=7) - 1 (k=11)

    // idempotent no-op shape: a second rewrite still reads correctly and
    // keeps a single compacted file
    val again = t.rewritePositionDeleteFiles()
    assert(again.deleteFiles.count(_.isPositional) === 1)
    assert(t.toDF.count() === 14)
  }

  test("rewrite_position_delete_files is a no-op without position deletes") {
    val t = fresh("pos-rw-noop")
    t.deleteWhereMoR(col("txn_id") === "txn3", Seq("txn_id"))
    val head = t.meta.currentSnapshot.get
    val snap = t.rewritePositionDeleteFiles()
    assert(snap.id === head.id, "must not commit a new snapshot")
    assert(t.toDF.count() === 14)
  }
}
