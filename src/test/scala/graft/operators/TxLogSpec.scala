package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TempDirs}

/** Transaction-log table contracts: time-travel exactness, partial
  * rewrite reusing clean files BY REFERENCE, optimistic-concurrency
  * conflict on the version file, orphan invisibility (a crashed writer's
  * staged data never appears), vacuum reclaiming only unreferenced
  * files, and the rewrite-to-empty edge.
  */
class TxLogSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(4, "txlog-spec")
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft-txlog").resolve("tbl").toString

  private def liveNames(dir: String, v: Long): Set[String] =
    TxLog.snapshot(spark, dir, Some(v))
      .select(input_file_name().as("f")).distinct()
      .collect().map(r => { val u = r.getString(0); u.substring(u.lastIndexOf('/') + 1) })
      .toSet

  test("time travel: each version returns exactly its committed contents") {
    val dir = tmp()
    val v0 = TxLog.create(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val v1 = TxLog.append(spark, dir, Seq((3L, "c"), (4L, "d")).toDF("id", "s"))
    val v2 = TxLog.rewrite(spark, dir, $"id" =!= 2L)
    assert((v0, v1, v2) == (0L, 1L, 2L))
    assert(TxLog.versions(spark, dir) == Seq(0L, 1L, 2L))

    def rows(v: Long) = TxLog.snapshot(spark, dir, Some(v))
      .as[(Long, String)].collect().toSet
    assert(rows(0L) == Set((1L, "a"), (2L, "b")))
    assert(rows(1L) == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(rows(2L) == Set((1L, "a"), (3L, "c"), (4L, "d")))
    // default = latest
    assert(TxLog.snapshot(spark, dir).as[(Long, String)].collect().toSet == rows(2L))
    // unknown version is a loud error
    intercept[IllegalArgumentException](TxLog.snapshot(spark, dir, Some(9L)))
  }

  test("a missing table and an unknown version fail with the same messages everywhere") {
    val dir = tmp()
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage.stripPrefix("requirement failed: ")
    val t = Seq((1L, "a")).toDF("id", "s")
    val noTable = s"no table at $dir"
    assert(msg(TxLog.snapshot(spark, dir)) == noTable)
    assert(msg(TxLog.append(spark, dir, t)) == noTable)
    assert(msg(TxLog.checkpoint(spark, dir)) == noTable)
    assert(msg(TxLog.liveFiles(spark, dir)) == noTable)
    assert(msg(TxLog.rewrite(spark, dir, lit(true))) == noTable)
    assert(msg(TxLog.restore(spark, dir, 0L)) == noTable)
    assert(msg(TxLog.changes(spark, dir, 0L, 1L)) == noTable)
    TxLog.create(spark, dir, t)
    TxLog.append(spark, dir, t)
    val noVersion = "version 7 not in 0,1"
    assert(msg(TxLog.snapshot(spark, dir, Some(7L))) == noVersion)
    assert(msg(TxLog.checkpoint(spark, dir, Some(7L))) == noVersion)
    assert(msg(TxLog.liveFiles(spark, dir, Some(7L))) == noVersion)
    assert(msg(TxLog.deletionVectorRows(spark, dir, Some(7L))) == noVersion)
    assert(msg(TxLog.snapshotRange(spark, dir, 0L, 1L, Some(7L))) == noVersion)
    assert(msg(TxLog.snapshotWhere(spark, dir, Map("s" -> Seq("a")), Some(7L))) == noVersion)
    assert(msg(TxLog.restore(spark, dir, 7L)) == noVersion)
    assert(msg(TxLog.changes(spark, dir, 0L, 7L)) == noVersion)
  }

  test("a table rooted under a path containing /data/c keeps correct file identity") {
    // regression: file identity was anchored on the FIRST "/data/c"
    // substring in the URI, so a root like .../data/cache/tbl recorded
    // paths relative to the WRONG anchor — snapshots then re-resolved
    // them against the root (FileNotFound) and DV (file,pos) keys split.
    // Identity is now anchored on the table root itself.
    val dir = tempDir("graft-txlog")
      .resolve("data").resolve("cache").resolve("tbl").toString
    TxLog.create(spark, dir, (1L to 10L).map(i => (i, s"s$i")).toDF("id", "s"))
    TxLog.append(spark, dir, Seq((11L, "s11")).toDF("id", "s"))
    assert(TxLog.snapshot(spark, dir).as[(Long, String)].collect().toSet ==
      (1L to 11L).map(i => (i, s"s$i")).toSet)
    // row-level delete exercises bindFilePos (DV keys) under the same root
    TxLog.delete(spark, dir, $"id" % 2 === 0L)
    assert(TxLog.snapshot(spark, dir).as[(Long, String)].collect().toSet ==
      (1L to 11L).filter(_ % 2 == 1).map(i => (i, s"s$i")).toSet)
    // and the rewrite path folds the mask without resurrecting anything
    TxLog.rewrite(spark, dir, $"id" =!= 1L)
    assert(TxLog.snapshot(spark, dir).as[(Long, String)].collect().toSet ==
      (3L to 11L).filter(_ % 2 == 1).map(i => (i, s"s$i")).toSet)
  }

  test("rewrite touches only dirty files; clean files carry over by reference") {
    val dir = tmp()
    // 4 range-partitioned files over id 0..99: ids 0..24 land in one file
    val df = spark.range(100).select($"id", ($"id" % 7).as("v"))
      .repartitionByRange(4, $"id").sortWithinPartitions($"id")
    TxLog.create(spark, dir, df)
    val before = liveNames(dir, 0L)
    assert(before.size == 4)

    TxLog.rewrite(spark, dir, !($"id" < 25L))
    val after = liveNames(dir, 1L)
    // the 3 clean files are the SAME physical files (no rewrite-the-world)
    assert((before intersect after).size == 3, s"before=$before after=$after")
    assert(TxLog.snapshot(spark, dir).as[(Long, Long)].collect().map(_._1).sorted
      === (25L until 100L).toArray)
    // no dropped rows -> no-op, same version, nothing committed
    val v = TxLog.rewrite(spark, dir, lit(true))
    assert(v == 1L && TxLog.versions(spark, dir) == Seq(0L, 1L))
  }

  test("concurrent commit: the losing writer fails loudly on the version file") {
    val dir = tmp()
    TxLog.create(spark, dir, Seq((1L, "a")).toDF("id", "s"))
    // a racing writer claims version 1 between our log read and commit
    // (winner commits via the public API)
    TxLog.append(spark, dir, Seq((7L, "w")).toDF("id", "s"))
    // the loser targets the version it read before the winner landed
    intercept[Exception](
      TxLog.appendAt(spark, dir, Seq((2L, "b")).toDF("id", "s"), v = 1L))
    // the winner's commit stands; the loser's staged files are invisible orphans
    assert(TxLog.versions(spark, dir) == Seq(0L, 1L))
    assert(TxLog.snapshot(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (7L, "w")))
    val deleted = TxLogMaintenance.vacuum(spark, dir)
    assert(deleted.nonEmpty, "loser's staged files should be orphans for vacuum")
    assert(TxLog.snapshot(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (7L, "w")))
  }

  test("appendWithRetry: re-targets after a lost race; real failures propagate") {
    val dir = tmp()
    TxLog.create(spark, dir, Seq((1L, "a")).toDF("id", "s"))
    // force a genuine lost race: a rival's commit file already claims
    // version 1 (empty add-set = a valid no-op commit), so the retrier's
    // FIRST attempt must fail on the claim and re-target version 2
    val schemaJson = Seq((1L, "a")).toDF("id", "s").schema.json
      .replace("\"", "\\\"")
    val p = new org.apache.hadoop.fs.Path(dir, f"_log/${1L}%020d.json")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(p, false)
    out.write(
      s"""{"version":1,"schemaJson":"$schemaJson","add":[],"remove":[]}"""
        .getBytes("UTF-8"))
    out.close()
    val v = TxLogMaintenance.appendWithRetry(spark, dir, Seq((3L, "retry")).toDF("id", "s"))
    assert(v == 2L, s"expected re-target to version 2, got $v")
    assert(TxLog.snapshot(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (3L, "retry")))
    // a non-race failure is NOT retried: no table -> immediate require
    intercept[IllegalArgumentException](
      TxLogMaintenance.appendWithRetry(spark, tmp(), Seq((9L, "x")).toDF("id", "s")))
  }

  test("orphan data is invisible to snapshots and reclaimed by vacuum") {
    val dir = tmp()
    TxLog.create(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    // a crashed writer left a fully-written but never-committed stage dir
    Seq((99L, "zzz")).toDF("id", "s")
      .write.parquet(dir + "/data/c9-deadbeef")
    assert(TxLog.snapshot(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")), "orphan rows leaked into a snapshot")
    val deleted = TxLogMaintenance.vacuum(spark, dir)
    assert(deleted.nonEmpty && deleted.forall(_.startsWith("data/c9-deadbeef/")))
    // live data untouched
    assert(TxLog.snapshot(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // nothing more to reclaim
    assert(TxLogMaintenance.vacuum(spark, dir).isEmpty)
  }

  test("vacuum with retention drops files only old versions referenced") {
    val dir = tmp()
    TxLog.create(spark, dir,
      spark.range(40).select($"id").repartitionByRange(2, $"id").sortWithinPartitions($"id"))
    TxLog.rewrite(spark, dir, $"id" >= 20L) // drops the low file, rewrites it
    val latestFiles = liveNames(dir, 1L)
    val deleted = TxLogMaintenance.vacuum(spark, dir, retain = Some(Seq(1L)))
    assert(deleted.nonEmpty, "the retracted v0 file should be reclaimed")
    // latest snapshot still reads perfectly
    assert(TxLog.snapshot(spark, dir).as[Long].collect().sorted === (20L until 40L).toArray)
    assert(liveNames(dir, 1L) == latestFiles)
  }

  test("manifest stats: range scan plans few files from the log, result == filter") {
    val dir = tmp()
    // two commits, each 8 range-partitioned files over id 0..999
    val all = spark.range(1000).select($"id", ($"id" % 13).as("v"))
    TxLog.create(spark, dir,
      all.filter($"id" % 2 === 0).repartitionByRange(8, $"id").sortWithinPartitions($"id"),
      statsCol = Some("id"))
    TxLog.append(spark, dir,
      all.filter($"id" % 2 === 1).repartitionByRange(8, $"id").sortWithinPartitions($"id"))
    assert(liveNames(dir, 1L).size == 16)

    // narrow probe: each commit's files cover ~125 ids, so [300, 340]
    // overlaps at most 2 files per commit
    val cand = TxLog.rangeCandidateFiles(spark, dir, 300L, 340L)
    assert(cand <= 4, s"expected <=4 candidate files of 16, planned $cand")
    val got = TxLog.snapshotRange(spark, dir, 300L, 340L)
      .as[(Long, Long)].collect().toSet
    val want = TxLog.snapshot(spark, dir).filter($"id".between(300L, 340L))
      .as[(Long, Long)].collect().toSet
    assert(got == want && want.map(_._1) == (300L to 340L).toSet)

    // out-of-domain probe plans zero files and returns nothing
    assert(TxLog.rangeCandidateFiles(spark, dir, 5000L, 6000L) == 0L)
    assert(TxLog.snapshotRange(spark, dir, 5000L, 6000L).count() == 0L)

    // stats survive a rewrite (restaged files get fresh stats)
    TxLog.rewrite(spark, dir, $"id" =!= 320L)
    val after = TxLog.snapshotRange(spark, dir, 300L, 340L).as[(Long, Long)].collect().toSet
    assert(after == want.filterNot(_._1 == 320L))
    // time travel + prune: the pre-rewrite version still sees id 320
    assert(TxLog.snapshotRange(spark, dir, 300L, 340L, version = Some(1L))
      .as[(Long, Long)].collect().toSet == want)

    // a table without a declared stats column refuses range planning
    val dir2 = tmp()
    TxLog.create(spark, dir2, Seq((1L, "a")).toDF("id", "s"))
    intercept[IllegalArgumentException](TxLog.snapshotRange(spark, dir2, 0L, 10L))
  }

  test("optimize: fragmented commits fold into n files atomically; history + stats intact") {
    val dir = tmp()
    val all = spark.range(800).select($"id", ($"id" % 17).as("v"))
    TxLog.create(spark, dir, all.filter($"id" % 4 === 0).repartition(5),
      statsCol = Some("id"))
    (1L to 3L).foreach(r => TxLog.append(spark, dir, all.filter($"id" % 4 === r).repartition(5)))
    assert(liveNames(dir, 3L).size == 20, "fragmented layout expected")

    val v = TxLog.optimize(spark, dir, numFiles = 4, clusterBy = Seq("id", "v"))
    assert(v == 4L)
    // contents unchanged, layout folded
    assert(TxLog.snapshot(spark, dir).as[(Long, Long)].collect().toSet ==
      all.as[(Long, Long)].collect().toSet)
    assert(liveNames(dir, 4L).size <= 4)
    // pre-optimize history still time-travels
    assert(TxLog.snapshot(spark, dir, Some(3L)).count() == 800L)
    // stats were re-collected for the compacted files: every live file
    // is a range candidate over the full domain, none beyond it
    assert(TxLog.rangeCandidateFiles(spark, dir, 0L, 799L) == liveNames(dir, 4L).size.toLong)
    assert(TxLog.rangeCandidateFiles(spark, dir, 5000L, 6000L) == 0L)
    // retention vacuum then reclaims the 20 fragmented files
    val deleted = TxLogMaintenance.vacuum(spark, dir, retain = Some(Seq(4L)))
    assert(deleted.size == 20)
    assert(TxLog.snapshot(spark, dir).count() == 800L)
  }

  test("schema evolution: widened append reads back with nulls for old files") {
    val dir = tmp()
    TxLog.create(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    // a later batch carries a new column — the commit's schema wins and
    // the explicit-schema snapshot read null-fills the old files
    TxLog.append(spark, dir, Seq((3L, "c", 0.5)).toDF("id", "s", "score"))
    val snap = TxLog.snapshot(spark, dir)
    assert(snap.schema.fieldNames.toSeq == Seq("id", "s", "score"))
    val rows = snap.collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSet
    assert(rows == Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(0.5))))
    // time travel to v0 keeps the ORIGINAL schema
    assert(TxLog.snapshot(spark, dir, Some(0L)).schema.fieldNames.toSeq == Seq("id", "s"))
  }

  test("rewrite to empty leaves a readable empty table with its schema") {
    val dir = tmp()
    TxLog.create(spark, dir, Seq((1L, "a")).toDF("id", "s"))
    TxLog.rewrite(spark, dir, lit(false))
    val snap = TxLog.snapshot(spark, dir)
    assert(snap.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(snap.count() == 0L)
    // history intact: v0 still has the row
    assert(TxLog.snapshot(spark, dir, Some(0L)).count() == 1L)
  }

  test("merge: upsert touches only the files that contain a matched key") {
    val dir = tmp()
    // 4 range files over id 0..99: ids 10, 11 share the first file
    TxLog.create(spark, dir,
      spark.range(100).select($"id", ($"id" % 7).as("v"))
        .repartitionByRange(4, $"id").sortWithinPartitions($"id"))
    val before = liveNames(dir, 0L)
    assert(before.size == 4)
    val src = Seq((10L, 100L), (11L, 101L), (200L, 200L), (201L, 201L))
      .toDF("id", "v")
    val v = TxLog.merge(spark, dir, src, Seq("id"))
    assert(v == 1L)
    val after = liveNames(dir, 1L)
    // 3 clean files carry by reference; only the 0..24 file was rewritten
    assert((before intersect after).size == 3, s"before=$before after=$after")
    val rows = TxLog.snapshot(spark, dir).as[(Long, Long)].collect().toMap
    assert(rows.size == 102)
    assert(rows(10L) == 100L && rows(11L) == 101L) // updated
    assert(rows(200L) == 200L && rows(201L) == 201L) // inserted
    assert(rows(12L) == 12L % 7) // untouched neighbour in the dirty file survives
    assert(rows(50L) == 50L % 7) // clean-file row untouched
    // time travel: pre-merge version still shows the old values
    val old = TxLog.snapshot(spark, dir, Some(0L)).as[(Long, Long)].collect().toMap
    assert(old(10L) == 10L % 7 && !old.contains(200L))
  }

  test("merge: pure-insert leaves every target file intact (degenerates to append)") {
    val dir = tmp()
    TxLog.create(spark, dir,
      spark.range(50).select($"id", ($"id" % 7).as("v"))
        .repartitionByRange(4, $"id").sortWithinPartitions($"id"))
    val before = liveNames(dir, 0L)
    TxLog.merge(spark, dir, Seq((300L, 1L), (301L, 2L)).toDF("id", "v"), Seq("id"))
    val after = liveNames(dir, 1L)
    assert((before -- after).isEmpty, "no target file should be rewritten")
    assert(TxLog.snapshot(spark, dir).count() == 52L)
  }

  test("merge: validations — duplicate source keys, schema mismatch, empty source") {
    val dir = tmp()
    TxLog.create(spark, dir, Seq((1L, "a")).toDF("id", "s"))
    intercept[IllegalArgumentException](
      TxLog.merge(spark, dir, Seq((2L, "x"), (2L, "y")).toDF("id", "s"), Seq("id")))
    intercept[IllegalArgumentException](
      TxLog.merge(spark, dir, Seq((2L, 3L)).toDF("id", "other"), Seq("id")))
    // nothing committed by the failed attempts
    assert(TxLog.versions(spark, dir) == Seq(0L))
    // empty source is a no-op at the current version
    val v = TxLog.merge(spark, dir,
      Seq.empty[(Long, String)].toDF("id", "s"), Seq("id"))
    assert(v == 0L && TxLog.versions(spark, dir) == Seq(0L))
  }

  test("merge into an empty table inserts everything") {
    val dir = tmp()
    TxLog.create(spark, dir, Seq.empty[(Long, String)].toDF("id", "s"))
    val v = TxLog.merge(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Seq("id"))
    assert(v == 1L)
    assert(TxLog.snapshot(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("log checkpoint: replay starts from it, answers are identical, derived-only") {
    val dir = tmp()
    TxLog.create(spark, dir, Seq((0L, "v0")).toDF("id", "s"))
    (1L to 9L).foreach(i => TxLog.append(spark, dir, Seq((i, s"v$i")).toDF("id", "s")))
    TxLog.rewrite(spark, dir, $"id" =!= 3L) // v10
    def snap(v: Long) = TxLog.snapshot(spark, dir, Some(v))
      .as[(Long, String)].collect().toSet
    val expect10 = (0L to 9L).filterNot(_ == 3L).map(i => (i, s"v$i")).toSet
    val expect5 = (0L to 5L).map(i => (i, s"v$i")).toSet
    assert(snap(10L) == expect10)

    val cv = TxLog.checkpoint(spark, dir) // checkpoint at latest (10)
    assert(cv == 10L)
    // identical answers with the checkpoint in place
    assert(snap(10L) == expect10)
    // time travel BELOW the checkpoint replays from 0 and still works
    assert(snap(5L) == expect5)
    // commits after the checkpoint apply on top of it
    TxLog.append(spark, dir, Seq((100L, "new")).toDF("id", "s")) // v11
    assert(snap(11L) == expect10 + ((100L, "new")))
    // re-checkpointing the same version is idempotent
    assert(TxLog.checkpoint(spark, dir, Some(10L)) == 10L)
    assert(snap(11L) == expect10 + ((100L, "new")))

    // PROOF the replay reads the checkpoint, not the prefix: corrupt an
    // early commit file — snapshots at/after the checkpoint stay correct
    val p = new org.apache.hadoop.fs.Path(dir, f"_log/${2L}%020d.json")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(p, true); out.write("garbage".getBytes); out.close()
    assert(snap(10L) == expect10)
    assert(snap(11L) == expect10 + ((100L, "new")))

    // deleting the checkpoint only slows replay down (on an uncorrupted table)
    val dir2 = tmp()
    TxLog.create(spark, dir2, Seq((1L, "a")).toDF("id", "s"))
    TxLog.append(spark, dir2, Seq((2L, "b")).toDF("id", "s"))
    TxLog.checkpoint(spark, dir2)
    f.delete(new org.apache.hadoop.fs.Path(dir2, f"_log/${1L}%020d.checkpoint.json"), false)
    assert(TxLog.snapshot(spark, dir2).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("streaming ingest auto-checkpoints every N batches; redelivery still no-ops") {
    val dir = tmp()
    TxLog.create(spark, dir, Seq.empty[(Long, String)].toDF("id", "s"))
    (0L to 5L).foreach { b =>
      assert(TxLog.appendStreamBatch(
        spark, dir, Seq((b, s"b$b")).toDF("id", "s"), b, checkpointEvery = 3))
    }
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // versions 3 and 6 checkpointed (batch 2 -> v3, batch 5 -> v6)
    assert(f.exists(new org.apache.hadoop.fs.Path(dir, f"_log/${3L}%020d.checkpoint.json")))
    assert(f.exists(new org.apache.hadoop.fs.Path(dir, f"_log/${6L}%020d.checkpoint.json")))
    // redelivery after a checkpoint still no-ops and re-checkpoints nothing
    assert(!TxLog.appendStreamBatch(
      spark, dir, Seq((99L, "poison")).toDF("id", "s"), 2L, checkpointEvery = 3))
    assert(TxLog.snapshot(spark, dir).as[(Long, String)].collect().toSet ==
      (0L to 5L).map(b => (b, s"b$b")).toSet)
  }

  test("log checkpoint carries manifest stats: range scan still prunes from it") {
    val dir = tmp()
    TxLog.create(spark, dir,
      spark.range(160).select($"id", ($"id" % 5).as("v"))
        .repartitionByRange(8, $"id").sortWithinPartitions($"id"),
      statsCol = Some("id"))
    TxLog.append(spark, dir,
      spark.range(160, 320).select($"id", ($"id" % 5).as("v"))
        .repartitionByRange(8, $"id").sortWithinPartitions($"id"))
    TxLog.checkpoint(spark, dir)
    // narrow probe plans few files THROUGH the checkpointed stats
    assert(TxLog.rangeCandidateFiles(spark, dir, 50L, 60L) <= 2L)
    assert(TxLog.snapshotRange(spark, dir, 50L, 60L).as[(Long, Long)].collect()
      .map(_._1).sorted === (50L to 60L).toArray)
  }

  /** Full table-relative paths from the log (partitioned layouts collide
    * on basename, and DV-masked snapshots are joins where
    * input_file_name is ambiguous — the log IS the planner).
    */
  private def liveRel(dir: String, v: Long): Set[String] =
    TxLog.liveFiles(spark, dir, Some(v)).toSet

  test("partitioned table: probe plans only matching partitions, result == filter") {
    val dir = tmp()
    val df = spark.range(300)
      .select($"id", element_at(lit(Array("a", "b", "c")), ($"id" % 3 + 1).cast("int")).as("cat"))
    TxLog.create(spark, dir, df.filter($"id" < 150).repartition(2),
      partitionBy = Seq("cat"))
    TxLog.append(spark, dir, df.filter($"id" >= 150).repartition(2))
    val live = liveRel(dir, 1L)
    assert(live.forall(_.contains("/__p_cat=")), s"partition layout missing: $live")

    // a one-value probe plans exactly that partition's files
    val aFiles = live.count(_.contains("/__p_cat=a/")).toLong
    assert(aFiles > 0 && aFiles < live.size)
    assert(TxLog.partitionCandidateFiles(spark, dir, Map("cat" -> Seq("a"))) == aFiles)

    // result identical to the plain filter, at both versions
    def got(vals: Seq[String], v: Long) =
      TxLog.snapshotWhere(spark, dir, Map("cat" -> vals), Some(v))
        .as[(Long, String)].collect().toSet
    def want(vals: Seq[String], v: Long) =
      TxLog.snapshot(spark, dir, Some(v)).filter($"cat".isin(vals: _*))
        .as[(Long, String)].collect().toSet
    assert(got(Seq("a"), 1L) == want(Seq("a"), 1L) && got(Seq("a"), 1L).nonEmpty)
    assert(got(Seq("b", "c"), 1L) == want(Seq("b", "c"), 1L))
    assert(got(Seq("a"), 0L) == want(Seq("a"), 0L))
    // value absent from the table: zero files planned, empty result, schema kept
    assert(TxLog.partitionCandidateFiles(spark, dir, Map("cat" -> Seq("zz"))) == 0L)
    val empty = TxLog.snapshotWhere(spark, dir, Map("cat" -> Seq("zz")))
    assert(empty.count() == 0L && empty.schema.fieldNames.toSeq == Seq("id", "cat"))

    // filtering a non-partition column is a loud error
    intercept[IllegalArgumentException](
      TxLog.snapshotWhere(spark, dir, Map("id" -> Seq("1"))))
    // and so is partition-probing an unpartitioned table
    val dir2 = tmp()
    TxLog.create(spark, dir2, Seq((1L, "a")).toDF("id", "cat"))
    intercept[IllegalArgumentException](
      TxLog.snapshotWhere(spark, dir2, Map("cat" -> Seq("a"))))
  }

  test("partitioned table: rewrite/merge keep the layout; null partitions never pruned") {
    val dir = tmp()
    // id 0 carries a NULL partition value -> writer sentinel dir
    val df = spark.range(40).select($"id",
      when($"id" === 0L, lit(null)).otherwise(
        element_at(lit(Array("x", "y")), ($"id" % 2 + 1).cast("int"))).as("cat"))
    TxLog.create(spark, dir, df.repartition(1), partitionBy = Seq("cat"))
    assert(liveRel(dir, 0L).exists(_.contains("__HIVE_DEFAULT_PARTITION__")))

    // the null-sentinel file is kept for ANY probe (can't prove disjoint)
    // but the residual filter still drops the null row from the result
    val gotX = TxLog.snapshotWhere(spark, dir, Map("cat" -> Seq("x")))
      .as[(Long, String)].collect().toSet
    assert(gotX == (2L until 40L by 2).map(i => (i, "x")).toSet)

    // rewrite re-stages through the same partition layout
    TxLog.rewrite(spark, dir, $"id" =!= 2L)
    assert(liveRel(dir, 1L).filterNot(_.contains("__HIVE_DEFAULT"))
      .forall(_.contains("/__p_cat=")))
    assert(TxLog.snapshotWhere(spark, dir, Map("cat" -> Seq("x")))
      .as[(Long, String)].collect().toSet == gotX - ((2L, "x")))

    // merge keeps it too, and the probe sees the updated rows
    TxLog.merge(spark, dir, Seq((4L, "x"), (100L, "y")).toDF("id", "cat"), Seq("id"))
    assert(liveRel(dir, 2L).filterNot(_.contains("__HIVE_DEFAULT"))
      .forall(_.contains("/__p_cat=")))
    assert(TxLog.snapshotWhere(spark, dir, Map("cat" -> Seq("y")))
      .filter($"id" === 100L).count() == 1L)

    // numeric partition column probes by its string form
    val dir3 = tmp()
    TxLog.create(spark, dir3,
      spark.range(20).select($"id", ($"id" % 4).as("bucket")),
      partitionBy = Seq("bucket"))
    assert(TxLog.snapshotWhere(spark, dir3, Map("bucket" -> Seq("3")))
      .as[(Long, Long)].collect().toSet ==
      (3L until 20L by 4).map(i => (i, 3L)).toSet)
  }

  test("composed partition + stats pruning: result == plain conjunction, loud refusals") {
    val dir = tmp()
    val df = spark.range(600).select($"id",
      element_at(lit(Array("p", "q", "r")), ($"id" % 3 + 1).cast("int")).as("cat"))
    TxLog.create(spark, dir,
      df.repartitionByRange(4, $"id").sortWithinPartitions($"id"),
      statsCol = Some("id"), partitionBy = Seq("cat"))
    TxLog.append(spark, dir,
      spark.range(600, 1200).select($"id",
        element_at(lit(Array("p", "q", "r")), ($"id" % 3 + 1).cast("int")).as("cat"))
        .repartitionByRange(4, $"id").sortWithinPartitions($"id"))

    def got(vals: Seq[String], lo: Long, hi: Long) =
      TxLog.snapshotWhereRange(spark, dir, Map("cat" -> vals), lo, hi)
        .as[(Long, String)].collect().toSet
    val want = TxLog.snapshot(spark, dir)
      .filter($"cat" === "q" && $"id".between(100L, 260L))
      .as[(Long, String)].collect().toSet
    assert(got(Seq("q"), 100L, 260L) == want && want.nonEmpty)
    // each pruning alone returns nothing when its predicate is empty
    assert(got(Seq("zz"), 100L, 260L).isEmpty)
    assert(got(Seq("q"), 5000L, 6000L).isEmpty)
    // refusals: no statsCol / not partitioned
    val d2 = tmp()
    TxLog.create(spark, d2, Seq((1L, "a")).toDF("id", "cat"), partitionBy = Seq("cat"))
    intercept[IllegalArgumentException](
      TxLog.snapshotWhereRange(spark, d2, Map("cat" -> Seq("a")), 0L, 1L))
    val d3 = tmp()
    TxLog.create(spark, d3, Seq((1L, "a")).toDF("id", "cat"), statsCol = Some("id"))
    intercept[IllegalArgumentException](
      TxLog.snapshotWhereRange(spark, d3, Map("cat" -> Seq("a")), 0L, 1L))
  }

  test("deletion vectors: delete commits positions, not files; snapshot masks them") {
    val dir = tmp()
    TxLog.create(spark, dir,
      spark.range(100).select($"id", ($"id" % 7).as("v"))
        .repartitionByRange(4, $"id").sortWithinPartitions($"id"))
    val before = liveRel(dir, 0L)
    assert(before.size == 4)

    val v1 = TxLog.delete(spark, dir, $"id" >= 10L && $"id" < 20L)
    assert(v1 == 1L)
    // ZERO data files rewritten: the live set is physically identical
    assert(liveRel(dir, 1L) == before)
    assert(TxLog.deletionVectorRows(spark, dir) == 10L)
    assert(TxLog.snapshot(spark, dir).as[(Long, Long)].collect().map(_._1).sorted
      === ((0L until 10L) ++ (20L until 100L)).toArray)
    // time travel below the delete still sees the rows
    assert(TxLog.snapshot(spark, dir, Some(0L)).count() == 100L)

    // a second delete ACCUMULATES; rows already masked are not re-recorded
    TxLog.delete(spark, dir, $"id" < 15L) // 10..14 already masked -> only 0..9 new
    assert(TxLog.deletionVectorRows(spark, dir) == 20L)
    assert(TxLog.snapshot(spark, dir).as[(Long, Long)].collect().map(_._1).sorted
      === (20L until 100L).toArray)
    // no matching rows -> no commit
    val v = TxLog.delete(spark, dir, $"id" === 5L)
    assert(v == 2L && TxLog.versions(spark, dir) == Seq(0L, 1L, 2L))

    // range scan composes with the mask
    val dir2 = tmp()
    TxLog.create(spark, dir2,
      spark.range(200).select($"id", ($"id" % 3).as("v"))
        .repartitionByRange(4, $"id").sortWithinPartitions($"id"),
      statsCol = Some("id"))
    TxLog.delete(spark, dir2, $"id" === 60L)
    assert(TxLog.snapshotRange(spark, dir2, 50L, 70L).as[(Long, Long)].collect()
      .map(_._1).sorted === ((50L to 70L).filterNot(_ == 60L)).toArray)
  }

  test("deletion vectors: rewrite/merge read through the mask; optimize folds and clears") {
    val dir = tmp()
    TxLog.create(spark, dir,
      spark.range(100).select($"id", ($"id" % 7).as("v"))
        .repartitionByRange(4, $"id").sortWithinPartitions($"id"))
    TxLog.delete(spark, dir, $"id" === 10L || $"id" === 50L) // v1

    // merge touching the file holding id 10: the deleted row must NOT
    // resurrect via the survivor rewrite
    TxLog.merge(spark, dir, Seq((11L, 999L)).toDF("id", "v"), Seq("id")) // v2
    val rows2 = TxLog.snapshot(spark, dir).as[(Long, Long)].collect().toMap
    assert(!rows2.contains(10L) && rows2(11L) == 999L && !rows2.contains(50L))

    // rewrite through the mask: dropping v==3 must not resurrect id 50,
    // and a file whose only "dropped" rows are already DV-masked stays clean
    TxLog.rewrite(spark, dir, !($"v" === 3L)) // v3
    val rows3 = TxLog.snapshot(spark, dir).as[(Long, Long)].collect().toMap
    assert(!rows3.contains(50L) && !rows3.exists(_._2 == 3L))

    // optimize folds the DVs into clean files and CLEARS them
    val preCount = TxLog.snapshot(spark, dir).count()
    TxLog.optimize(spark, dir, numFiles = 2) // v4
    assert(TxLog.deletionVectorRows(spark, dir) == 0L)
    assert(TxLog.snapshot(spark, dir).count() == preCount)
    assert(TxLog.snapshot(spark, dir).as[(Long, Long)].collect().toMap == rows3)
    // retention vacuum reclaims the folded DV sidecars with the old layout
    val deleted = TxLogMaintenance.vacuum(spark, dir, retain = Some(Seq(4L)))
    assert(deleted.exists(_.contains("-dv/")), s"DV sidecars not reclaimed: $deleted")
    assert(TxLog.snapshot(spark, dir).count() == preCount)
  }

  test("deletion vectors: a KB-sized mask applies as a BROADCAST anti-join") {
    val dir = tmp()
    TxLog.create(spark, dir,
      spark.range(5000).select($"id", ($"id" % 7).as("v"))
        .repartitionByRange(4, $"id").sortWithinPartitions($"id"))
    TxLog.delete(spark, dir, $"id" % 500 === 3L) // 10 masked rows
    val snap = TxLog.snapshot(spark, dir)
    snap.collect() // run so AQE finalizes the join strategy
    val plan = snap.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan.take(800))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "KB-sized DV mask fell back to a shuffled anti-join:\n" + plan.take(1200))
  }

  test("deletion vectors: CDF reports DV deletes once, never re-reports on rewrite") {
    val dir = tmp()
    TxLog.create(spark, dir,
      spark.range(100).select($"id", ($"id" % 7).as("v"))
        .repartitionByRange(4, $"id").sortWithinPartitions($"id"))
    TxLog.delete(spark, dir, $"id" < 3L) // v1: DV commit
    TxLog.rewrite(spark, dir, $"id" =!= 5L) // v2: dirties the 0..24 file
    TxLog.optimize(spark, dir, numFiles = 2) // v3: folds DVs, no logical change

    def feed(v: Long) = TxLog.changes(spark, dir, v - 1, v)
      .select($"_change_type", $"id").as[(String, Long)].collect().toSet
    // the DV commit surfaces exactly its masked rows
    assert(feed(1L) == Set(("delete", 0L), ("delete", 1L), ("delete", 2L)))
    // the rewrite re-stages the dirty file's survivors; rows 0..2 were
    // already logically gone and must not be re-reported
    assert(feed(2L) == Set(("delete", 5L)))
    // optimize folds the masks with no logical diff
    assert(feed(3L).isEmpty)
  }

  test("restore: rolls back DV delete + rewrite by reference; history and CDF stay honest") {
    val dir = tmp()
    TxLog.create(spark, dir,
      spark.range(40).select($"id", ($"id" % 7).as("v"))
        .repartitionByRange(4, $"id").sortWithinPartitions($"id"))
    TxLog.delete(spark, dir, $"id" === 5L) // v1 (DV)
    TxLog.rewrite(spark, dir, $"id" =!= 20L) // v2 (dirty rewrite)
    val before = TxLog.snapshot(spark, dir, Some(0L)).as[(Long, Long)].collect().toSet

    val rv = TxLog.restore(spark, dir, 0L) // v3: metadata-only rollback
    assert(rv == 3L)
    assert(TxLog.snapshot(spark, dir).as[(Long, Long)].collect().toSet == before,
      "restore must resurrect both the DV-masked row and the rewritten one")
    assert(TxLog.deletionVectorRows(spark, dir) == 0L)
    // history intact: the pre-restore states still time-travel
    assert(TxLog.snapshot(spark, dir, Some(2L)).count() == 38L)
    // CDF of the restore = exactly the net rollback (5 and 20 return)
    val feed = TxLog.changes(spark, dir, 2L, 3L)
      .select($"_change_type", $"id").as[(String, Long)].collect().toSet
    assert(feed == Set(("insert", 5L), ("insert", 20L)), s"feed: $feed")
    // restoring to the current state is a no-op
    assert(TxLog.restore(spark, dir, 3L) == 3L)
    assert(TxLog.versions(spark, dir) == Seq(0L, 1L, 2L, 3L))
    // restore BELOW a DV to a DV'd state: roll back only the rewrite
    val dir2 = tmp()
    TxLog.create(spark, dir2,
      spark.range(10).select($"id", ($"id" % 3).as("v")).repartition(2))
    TxLog.delete(spark, dir2, $"id" === 4L) // v1
    TxLog.rewrite(spark, dir2, $"id" =!= 7L) // v2
    TxLog.restore(spark, dir2, 1L) // v3: keep the DV, undo the rewrite
    assert(TxLog.snapshot(spark, dir2).as[(Long, Long)].collect().map(_._1).sorted
      === (0L until 10L).filterNot(_ == 4L).toArray)
    // the re-referenced mask survives the rollback
    assert(TxLog.deletionVectorRows(spark, dir2) == 1L)
    // and the restore's CDF reports ONLY row 7's return — the carried
    // DV row is state, not a delete/insert event
    val feed2 = TxLog.changes(spark, dir2, 2L, 3L)
      .select($"_change_type", $"id").as[(String, Long)].collect().toSet
    assert(feed2 == Set(("insert", 7L)), s"feed2: $feed2")
  }

  test("changes: append=inserts, rewrite=net deletes, upsert=delete+insert, optimize=silent") {
    val dir = tmp()
    // v0: ids 0..99 in 4 range files
    TxLog.create(spark, dir,
      spark.range(100).select($"id", ($"id" % 7).as("v"))
        .repartitionByRange(4, $"id").sortWithinPartitions($"id"))
    TxLog.append(spark, dir, Seq((100L, 0L)).toDF("id", "v")) // v1
    TxLog.rewrite(spark, dir, !($"id" < 3L)) // v2: drop 0,1,2 (dirty file re-stages 3..24)
    TxLog.merge(spark, dir, Seq((10L, 999L), (300L, 1L)).toDF("id", "v"), Seq("id")) // v3
    TxLog.optimize(spark, dir, numFiles = 2) // v4: pure layout change

    def feed(v: Long) = TxLog.changes(spark, dir, v - 1, v)
      .select($"_change_type", $"id", $"v").as[(String, Long, Long)].collect().toSet
    // v1 append: one insert, no deletes
    assert(feed(1L) == Set(("insert", 100L, 0L)))
    // v2 rewrite: ONLY the net-dropped rows — carried survivors 3..24 cancel
    assert(feed(2L) == Set(("delete", 0L, 0L), ("delete", 1L, 1L), ("delete", 2L, 2L)))
    // v3 upsert: old row out, new row in, plus the pure insert
    assert(feed(3L) == Set(
      ("delete", 10L, 10L % 7), ("insert", 10L, 999L), ("insert", 300L, 1L)))
    // v4 optimize rewrote every file but changed NO logical row
    assert(feed(4L).isEmpty)
    // multi-version range unions with correct attribution
    val all = TxLog.changes(spark, dir, 0L, 4L)
      .groupBy($"_commit_version").count().as[(Long, Long)].collect().toMap
    assert(all == Map(1L -> 1L, 2L -> 3L, 3L -> 3L))
    // validations
    intercept[IllegalArgumentException](TxLog.changes(spark, dir, 3L, 9L))
    intercept[IllegalArgumentException](TxLog.changes(spark, dir, 4L, 3L))
  }

  test("changes: a range that starts past a checkpoint equals the union of its single-version feeds") {
    val dir = tmp()
    TxLog.create(spark, dir,
      spark.range(60).select($"id", ($"id" % 7).as("v"))
        .repartitionByRange(3, $"id").sortWithinPartitions($"id")) // v0
    TxLog.delete(spark, dir, $"id" < 3L) // v1: DV commit
    TxLog.checkpoint(spark, dir) // at v1, carrying v1's mask
    TxLog.delete(spark, dir, $"id" === 30L) // v2: DV commit past the checkpoint
    TxLog.rewrite(spark, dir, $"id" =!= 5L) // v3: re-stages the masked 0..19 file
    TxLog.merge(spark, dir, Seq((10L, 999L), (100L, 1L)).toDF("id", "v"), Seq("id")) // v4
    TxLog.optimize(spark, dir, numFiles = 2) // v5: folds the masks, no logical change
    def feed(from: Long, to: Long) = TxLog.changes(spark, dir, from, to)
      .select($"_commit_version", $"_change_type", $"id", $"v")
      .as[(Long, String, Long, Long)].collect().toSeq.sorted
    val singles = (2L to 5L).flatMap(v => feed(v - 1, v)).sorted
    assert(singles == Seq(
      (2L, "delete", 30L, 30L % 7), (3L, "delete", 5L, 5L),
      (4L, "delete", 10L, 10L % 7), (4L, "insert", 10L, 999L), (4L, "insert", 100L, 1L)))
    assert(feed(1L, 5L) == singles)
    assert(feed(0L, 5L) == (feed(0L, 1L) ++ singles).sorted)
  }
}
