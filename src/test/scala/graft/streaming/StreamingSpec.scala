package graft.streaming

import graft.{GraftSession, Tables, TempDirs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(4, "streaming-spec")
  private val sfDir = "/root/testdata/sf0.001"

  private def events = Tables.normalizeTs(Tables.events(spark, sfDir))

  /** A fresh dir holding one copy of the sf events file per name (file
    * stream sources need a directory, not a single file).
    */
  private def eventsDir(names: String*): java.nio.file.Path = {
    val dir = tempDir("graft-events")
    names.foreach(n =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"), dir.resolve(n)))
    dir
  }

  /** The events file stream over `dir`, `ts` normalized as the runners
    * expect.
    */
  private def fileStream(dir: java.nio.file.Path, oneFilePerTrigger: Boolean = false): DataFrame = {
    val reader = spark.readStream.schema(Tables.events(spark, sfDir).schema)
    Tables.normalizeTs(
      (if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader)
        .parquet(dir.toString))
  }

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("stateful sessionization matches the batch window-function form") {
    import spark.implicits._
    val batch = EventStreams
      .sessionizeBatch(events)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val stateful = StatefulSessions
      .sessionizeStateful(
        events
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .as[StatefulSessions.Event])
      .collect()
      .map(s => (s.user_id, s.n_sessions, s.n_events))
      .toSet
    assert(stateful == batch)
  }

  test("stream-static enrich equals the batch join, joining fresh per micro-batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val dim = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("k", "seg")
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("id", "user")
    val q = EventStreams
      .enrichStream(stream, dim, "user", "k")
      .select(col("id"), col("user"), col("seg"))
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_spec").start()
    try {
      mem.addData((10L, 1L), (11L, 2L), (12L, 9L)) // 9 has no dim row -> dropped
      q.processAllAvailable()
      val afterB1 = spark.table("enrich_spec").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(afterB1 == Set((10L, 1L, "A"), (11L, 2L, "B")))
      // second micro-batch joins the dim AGAIN (per-batch broadcast)
      mem.addData((13L, 3L), (14L, 1L))
      q.processAllAvailable()
      val afterB2 = spark.table("enrich_spec").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(afterB2 == afterB1 ++ Set((13L, 3L, "C"), (14L, 1L, "A")))
    } finally q.stop()
  }

  test("idempotent foreachBatch sink: redelivered batch replaces, not appends; stream lands exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val out = tempDir("graft-e1o").toString

    // the per-batch kernel: same batchId redelivered ⇒ same final rows
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    EventStreams.writeIdempotentBatch(b0, 0L, out)
    EventStreams.writeIdempotentBatch(b0, 0L, out) // at-least-once redelivery
    EventStreams.writeIdempotentBatch(Seq((3L, "c")).toDF("id", "v"), 1L, out)
    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getAs[Int]("batch_id"))).toSet
    assert(rows == Set((1L, "a", 0), (2L, "b", 0), (3L, "c", 1)))

    // end-to-end: a real writeStream through the sink lands each input once
    val out2 = tempDir("graft-e1o-2").toString
    val ckpt = tempDir("graft-e1o-ck").toString
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.idempotentParquetSink(mem.toDF().toDF("id", "v"), out2, ckpt)
    try {
      mem.addData((10L, "x"), (11L, "y"))
      q.processAllAvailable()
      mem.addData((12L, "z"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out2).drop("batch_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((10L, "x"), (11L, "y"), (12L, "z")))
    // and the batches really partitioned the stream (2 batch dirs)
    assert(new java.io.File(out2).listFiles.count(_.getName.startsWith("batch_id=")) == 2)
  }

  test("tx-log streaming sink: redelivered batch no-ops; stream lands exactly once in whole versions") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TxLog
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val dir = tempDir("graft-txsink").resolve("tbl").toString

    // per-batch kernel: batch b commits as version b+1; redelivery no-ops
    TxLog.create(spark, dir, Seq.empty[(Long, String)].toDF("id", "v"))
    assert(TxLog.appendStreamBatch(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L))
    assert(!TxLog.appendStreamBatch(spark, dir, Seq((666L, "poison")).toDF("id", "v"), 0L),
      "redelivered batch 0 must not commit")
    assert(TxLog.appendStreamBatch(spark, dir, Seq((3L, "c")).toDF("id", "v"), 1L))
    assert(TxLog.versions(spark, dir) == Seq(0L, 1L, 2L))
    assert(TxLog.snapshot(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // time travel still sees the pre-batch-1 table
    assert(TxLog.snapshot(spark, dir, Some(1L)).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))

    // end-to-end: a real writeStream through the sink, one version per batch
    val dir2 = tempDir("graft-txsink2").resolve("tbl").toString
    val ckpt = tempDir("graft-txsink-ck").toString
    TxLog.create(spark, dir2, Seq.empty[(Long, String)].toDF("id", "v"))
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.txLogSink(mem.toDF().toDF("id", "v"), dir2, ckpt)
    try {
      mem.addData((10L, "x"), (11L, "y"))
      q.processAllAvailable()
      mem.addData((12L, "z"))
      q.processAllAvailable()
    } finally q.stop()
    assert(TxLog.versions(spark, dir2) == Seq(0L, 1L, 2L), "one version per micro-batch")
    assert(TxLog.snapshot(spark, dir2).as[(Long, String)].collect().toSet ==
      Set((10L, "x"), (11L, "y"), (12L, "z")))
  }

  test("buffered sessionization is exact under cross-batch event-time disorder") {
    import spark.implicits._
    import java.sql.Timestamp
    // three single-file micro-batches; batch B's event is EARLIER than
    // batch A's (cross-batch disorder): true sessions for user 1 are
    // {09:00} and {10:00, 10:10} — the compact lastEpoch state cannot
    // recover this, the buffered variant must
    def ts(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val dir = tempDir("buffered-sessions").toString
    def writeBatch(name: String, rows: Seq[StatefulSessions.Event], mtime: Long): Unit = {
      val sub = s"$dir/$name"
      rows.toDS().repartition(1).write.parquet(sub)
      // deterministic file-source pickup order via modification times
      new java.io.File(sub).listFiles().foreach(f => f.setLastModified(mtime))
    }
    writeBatch("a", Seq(
      StatefulSessions.Event(1L, ts("10:00"), 1L, "click", 1.0),
      StatefulSessions.Event(2L, ts("10:10"), 1L, "click", 1.0)), 1000000L)
    writeBatch("b", Seq(
      StatefulSessions.Event(3L, ts("09:00"), 1L, "click", 1.0)), 2000000L)
    writeBatch("c", Seq( // watermark pusher: 14:00 − 1h ≫ 10:10 + gap
      StatefulSessions.Event(9L, ts("14:00"), 99L, "click", 1.0)), 3000000L)
    val schema = implicitly[org.apache.spark.sql.Encoder[StatefulSessions.Event]].schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*")
      .as[StatefulSessions.Event]
    val q = StatefulSessions.sessionizeBuffered(stream, gapSec = 1800).writeStream
      .outputMode("append")
      .format("memory")
      .queryName("buffered_sessions")
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("buffered_sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L, 3L)), s"got $out") // 2 sessions, 3 events — exact despite disorder
  }

  test("buffered sessionization compacts closed sessions mid-stream and still counts exactly") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val dir = tempDir("buffered-compact").toString
    def writeBatch(name: String, rows: Seq[StatefulSessions.Event], mtime: Long): Unit = {
      val sub = s"$dir/$name"
      rows.toDS().repartition(1).write.parquet(sub)
      new java.io.File(sub).listFiles().foreach(f => f.setLastModified(mtime))
    }
    // batch A closes user 1's first session and pushes the watermark to
    // 10:00 (user 99 at 11:00, 1h delay); batch B's 10:30 event arrives
    // with fold boundary 09:30, so the 09:00/09:10 prefix compacts into
    // the summary while 10:30 stays buffered; batch C pushes the
    // watermark past 11:00 and times user 1 out.
    writeBatch("a", Seq(
      StatefulSessions.Event(1L, ts("09:00"), 1L, "click", 1.0),
      StatefulSessions.Event(2L, ts("09:10"), 1L, "click", 1.0),
      StatefulSessions.Event(8L, ts("11:00"), 99L, "click", 1.0)), 1000000L)
    writeBatch("b", Seq(
      StatefulSessions.Event(3L, ts("10:30"), 1L, "click", 1.0)), 2000000L)
    writeBatch("c", Seq(
      StatefulSessions.Event(9L, ts("14:00"), 99L, "click", 1.0)), 3000000L)
    val schema = implicitly[org.apache.spark.sql.Encoder[StatefulSessions.Event]].schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*")
      .as[StatefulSessions.Event]
    val q = StatefulSessions.sessionizeBuffered(stream, gapSec = 1800).writeStream
      .outputMode("append")
      .format("memory")
      .queryName("buffered_compact")
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("buffered_compact")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((2L, 3L)), s"got $out") // sessions {09:00,09:10} and {10:30}
  }

  test("streaming windowed aggregation equals the batch q17 aggregation") {
    val streamed = EventStreams
      .runWindowedStream(fileStream(eventsDir("events.parquet")))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = EventStreams
      .windowedCounts(events)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == batch)
  }

  test("streaming HLL: drained registers equal the batch sketch; duplicate files are free") {
    // the SAME file staged twice: every user id arrives twice, and the
    // register max must absorb the repeats — the merge-idempotence that
    // makes the sketch safe under redelivery
    val dir = eventsDir("events.parquet", "events_again.parquet")
    val streamed = EventStreams
      .runHllStream(fileStream(dir), p = 4)
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val batch = graft.operators.Sketches
      .hllDistinct(
        events.select(window(col("ts"), "1 hour").as("__w"), col("user_id")),
        "__w", "user_id", p = 4)
      .select(col("__w.start"), col("n_registers"), col("est_distinct"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(streamed == batch)
  }

  test("streaming top-k: exact-regime drain equals batch counts with the " +
    "same rank cut; redelivery DOUBLES estimates (sum-merge)") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__w")).orderBy(col("est").desc, col("term"))
    def batchTopk(times: Int) = events
      .filter(col("event_type").isNotNull)
      .select(window(col("ts"), "1 hour").as("__w"),
        col("event_type").as("term"))
      .groupBy(col("__w"), col("term"))
      .agg((count(lit(1)) * times).as("est"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("__w.start"), col("rank"), col("term"), col("est"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    val dir = eventsDir("events.parquet")
    def streamed() = EventStreams
      .runTopKStream(fileStream(dir), m = 64, k = 3)
      .collect()
      .map { r =>
        assert(r.getLong(4) == 0L) // exact regime: every err 0
        (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getLong(3))
      }
      .toSet
    assert(streamed() == batchTopk(1))
    // the SAME file staged again: counts are sum-merged state, so a
    // redelivered source doubles every estimate (the CMS caveat — the
    // qe12 tx-log sink is the dedup layer when sources can repeat)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events_again.parquet"))
    assert(streamed() == batchTopk(2))
  }

  test("streaming quantile sketch: multi-batch drain equals the batch " +
      "aggregate; state stays bounded; below-k windows answer exactly") {
    import spark.implicits._
    val raw = Tables.events(spark, sfDir)
    // TWO staged files + maxFilesPerTrigger=1 => the merge path (not
    // just reduce) carries state across micro-batches
    val dir = tempDir("graft-events-q")
    raw.repartition(2).write.mode("overwrite").parquet(dir.toString)
    // k = 64: every sf0.001 window is below k — the exact path.
    // k = 2: windows exceed k — the level-rise/prune/merge path.
    for (k <- Seq(64, 2)) {
    val streamed = EventStreams
      .runQuantileStream(fileStream(dir, oneFilePerTrigger = true), k = k,
        qs = Seq(0.5, 0.95))
      .collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // batch reference: the SAME aggregator run as one batch aggregate
    val h = graft.operators.Sketches.md5Hash32(col("__id"))
    val src = events
      .filter(col("value").isNotNull && col("event_id").isNotNull)
      .select(window(col("ts"), "1 hour").as("__w"),
        col("value").cast("double").as("__v"),
        col("event_id").cast("string").as("__id"))
      .select(col("__w"), col("__v"), col("__id"),
        when(h === 0L, lit(32))
          .otherwise(length(bin(h.bitwiseAND(-h))) - lit(1))
          .cast("int").as("__tz"))
    val agg = udaf(new graft.operators.LevelSampleAgg(k))
    val st = src.groupBy(col("__w"))
      .agg(agg(col("__tz"), col("__v"), col("__id")).as("__st"))
      .select(col("__w.start").as("ws"), col("__st._1").as("n"),
        col("__st._2").as("level"),
        sort_array(col("__st._3")).as("rows"))
      .collect()
    // per-window: n exact, the retained set is {tz >= L(n)}, and the
    // streamed nearest-rank answers replay from it
    val byW = st.map(r => r.getTimestamp(0) ->
      ((r.getLong(1), r.getLong(2), r.getSeq[org.apache.spark.sql.Row](3)))).toMap
    assert(streamed.nonEmpty)
    streamed.foreach { case (ws, q, n, lvl, ns, est) =>
      val (bn, blvl, rows) = byW(ws)
      assert(n == bn && lvl == blvl && ns == rows.size.toLong,
        s"stream/batch state mismatch at $ws")
      val sorted = rows.map(r => (r.getDouble(1), r.getString(2)))
        .sortBy(identity)
      val target = math.max(1L, math.ceil(n.toDouble * q).toLong)
      val istar = math.min(((target - 1) >> lvl.toInt) + 1, ns)
      assert(est == sorted((istar - 1).toInt)._1, s"answer mismatch at $ws q=$q")
      // bounded state: Binomial(n, 2^-L) with mean <= k — 4k is 6+
      // sigma out, the spec-pinned bound
      assert(ns <= 4L * k, s"state $ns exceeds 4k at $ws")
      // below-k windows degrade to exact: level 0, the sample IS the set
      if (n <= k) assert(lvl == 0L && ns == n)
    }
    // at sf0.001 most hourly windows hold < 64 events — the exact path
    // is genuinely exercised
    assert(streamed.exists(_._3 <= k))
    // and at k = 2 some window must have RISEN its level (the sketch
    // path), or the small-k leg proves nothing
    if (k == 2) assert(streamed.exists(_._4 > 0L),
      "no window exercised the level-rise path at k=2")
    }
  }

  test("streaming CMS: deterministic drain; redelivery DOUBLES estimates (sum-merge, unlike HLL's max)") {
    val once = eventsDir("events.parquet")
    val twice = eventsDir("events.parquet", "events_again.parquet")
    def run(dir: java.nio.file.Path) = EventStreams
      .runCmsStream(fileStream(dir),
        probes = Seq("click", "purchase", "zzz_missing"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val single = run(once)
    // deterministic: a second drain of the same files reproduces it
    assert(run(once) == single)
    // sum is the CMS merge: every cell doubles, so every min doubles —
    // the at-least-once caveat the HLL sketch (register max) does NOT
    // have; exactly-once delivery is the qe12 sink's job, not the
    // sketch's
    val doubled = run(twice)
    assert(doubled.keySet == single.keySet)
    single.foreach { case (k, v) => assert(doubled(k) == 2 * v, s"$k") }
    // the present probes are genuinely counted somewhere
    assert(single.exists { case ((_, t), v) => t == "click" && v > 0 })
    intercept[IllegalArgumentException](
      EventStreams.runCmsStream(fileStream(once), probes = Seq.empty))
  }

  test("a failed replay stops its query and leaves no sink view in the catalog") {
    val dir = eventsDir("events.parquet")
    java.nio.file.Files.write(dir.resolve("corrupt.parquet"), "not parquet".getBytes("UTF-8"))
    val viewsBefore = tempViews()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      EventStreams.runWindowedStream(fileStream(dir)))
    assert(spark.streams.active.isEmpty, "the failed query is still active")
    assert(tempViews() == viewsBefore,
      s"views left behind: ${(tempViews() -- viewsBefore).toSeq.sorted}")
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    // duplicate the whole file: every event id appears twice in the stream
    val withTs = fileStream(eventsDir("a.parquet", "b.parquet"))
    val q = EventStreams
      .dedupStream(withTs, "event_id")
      .writeStream.outputMode("append").format("memory").queryName("dedup_events").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup_events").count()
    assert(got == events.count()) // each id exactly once despite 2× input
  }

  test("watermark dedup with no-data batches off drains in one micro-batch, each id once") {
    val dir = eventsDir("a.parquet", "b.parquet")
    def drain(noDataBatches: String): (Int, Array[Long]) =
      graft.SparkEntry.withConf(
          spark, "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches) {
        val name = s"dedup_nodata_$noDataBatches"
        val q = EventStreams.dedupStream(fileStream(dir), "event_id")
          .writeStream.outputMode("append").format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        val ids = spark.table(name).select("event_id").collect().map(_.getLong(0))
        spark.catalog.dropTempView(name)
        (q.recentProgress.length, ids)
      }
    val (batches, ids) = drain("false")
    assert(batches == 1)
    val expected = events.select("event_id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length)
    assert(ids.sorted.toSeq == expected.sorted.toSeq)
    // on, the same drain adds a no-data batch that only evicts state
    val (batchesOn, idsOn) = drain("true")
    assert(batchesOn == 2)
    assert(idsOn.sorted.toSeq == expected.sorted.toSeq)
  }

  test("withConf restores every key when its body throws, unset keys unset") {
    val shuffle = "spark.sql.shuffle.partitions"
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val shuffleBefore = spark.conf.get(shuffle)
    assert(!spark.conf.getAll.contains(noData))
    def failing(value: String): Unit = {
      val ex = intercept[IllegalStateException] {
        graft.SparkEntry.withConf(spark, shuffle -> "3", noData -> value) {
          assert(spark.conf.get(shuffle) == "3" && spark.conf.get(noData) == value)
          throw new IllegalStateException("body failed")
        }
      }
      assert(ex.getMessage == "body failed")
    }
    failing("false")
    assert(spark.conf.get(shuffle) == shuffleBefore)
    assert(!spark.conf.getAll.contains(noData))
    // a key set before comes back to that value, not to the default
    spark.conf.set(noData, "false")
    try {
      failing("true")
      assert(spark.conf.getAll.get(noData).contains("false"))
      assert(spark.conf.get(shuffle) == shuffleBefore)
    } finally spark.conf.unset(noData)
  }

  test("multimodal: decode stub features are deterministic and shaped") {
    import spark.implicits._
    val media = graft.multimodal.Multimodal.mediaFromDocuments(spark, Tables.documents(spark, sfDir))
    val feats = graft.multimodal.Multimodal.extractFeatures(media).collect()
    assert(feats.nonEmpty)
    assert(feats.forall(_.feature.length == 16))
    assert(feats.forall(f => f.byte_entropy >= 0 && f.byte_entropy <= 8))
    val again = graft.multimodal.Multimodal.extractFeatures(media).collect()
    assert(feats.map(_.mean_byte).sorted.sameElements(again.map(_.mean_byte).sorted))
  }

  test("multimodal: null payloads are empty media, not NPEs") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    import graft.multimodal.Multimodal.{Media, MediaMeta}
    val media = Seq(
      Media(1L, MediaMeta("image", 64, 64, 16000), null),
      Media(2L, MediaMeta("image", 64, 64, 16000), Array[Byte](1, 2, 3))).toDS()
    val feats = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f.n_bytes).toMap
    assert(feats(1L) == 0L && feats(2L) == 3L)
    val frames = Multimodal.sampleFrames(media, everyK = 1, frameBytes = 2).collect()
    assert(frames.count(_.getLong(0) == 1L) == 1) // one empty frame
  }

  test("stream-stream interval join equals the batch equivalent") {
    val q = EventStreams.clickToPurchaseJoin(fileStream(eventsDir("e.parquet")))
      .writeStream.outputMode("append").format("memory").queryName("ssj").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val batch = EventStreams.clickToPurchaseJoin(events).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("chained dedup -> stream-stream join: cross-batch dups vanish before the join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      val in = MemoryStream[(Long, Long, Long, String, Double)]
      val ev = in.toDF().toDF("event_id", "us", "user_id", "event_type", "value")
        .withColumn("ts", timestamp_micros($"us")).drop("us")
        // exactly ONE watermark, owned by the dedup; the join inherits it
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      val q = EventStreams.clickToPurchaseJoin(ev, windowSec = 600, preWatermarked = true)
        .writeStream.outputMode("append").format("memory").queryName("dedupjoin").start()
      val h = 3600L * 1000000L
      // base offset well past epoch: the initial watermark is 0 (epoch),
      // and a row whose event time equals it is filtered as LATE — rows
      // at ts=0 silently vanish before any operator sees them
      val b = 24L * h
      // batch 1: click u1, purchase u1 within window (joins), click u2
      in.addData((1L, b, 1L, "click", 0.0), (2L, b + 100L * 1000000L, 1L, "purchase", 9.5),
        (3L, b, 2L, "click", 0.0))
      q.processAllAvailable()
      // batch 2: byte-identical RE-SENT rows (cross-batch dedup state must
      // drop them — letting them through would duplicate the (1,2) join
      // row and fabricate a (3,4) match from the re-sent click), plus one
      // genuinely new purchase for u2
      in.addData((1L, b, 1L, "click", 0.0), (2L, b + 100L * 1000000L, 1L, "purchase", 9.5),
        (4L, b + 200L * 1000000L, 2L, "purchase", 4.0))
      q.processAllAvailable()
      // watermark-advancing tail so nothing is stuck in state
      in.addData((99L, b + 3L * h, 0L, "click", 0.0), (98L, b + 3L * h, 0L, "purchase", 0.0))
      q.processAllAvailable(); q.stop()
      val rows = spark.table("dedupjoin").filter($"user_id" > 0).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toList.sorted
      assert(rows == List((1L, 2L), (3L, 4L)), s"got $rows")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  test("stream-stream LEFT OUTER join: matches emit eagerly, nulls only after watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      val in = MemoryStream[(Long, Long, Long, String, Double, String)]
      val ev = in.toDF()
        .toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros($"us")).drop("us")
      val q = EventStreams.clickToPurchaseJoin(ev, windowSec = 600, joinType = "left_outer")
        .writeStream.outputMode("append").format("memory").queryName("ssloj").start()
      def rows() = spark.table("ssloj").filter($"user_id" >= 0).collect()
        .map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
      try {
        val t0 = 1000000000L * 1000000L // base µs
        // batch 1: user 1 click converts (+300 s), user 2 click does not
        in.addData(
          (10L, t0, 1L, "click", 0.0, "{}"),
          (11L, t0 + 300L * 1000000L, 1L, "purchase", 5.0, "{}"),
          (20L, t0, 2L, "click", 0.0, "{}"))
        q.processAllAvailable()
        // the match is out eagerly; the non-converting click is NOT out yet
        assert(rows() == Set((10L, Some(11L))))
        // batch 2: watermark-advancing rows on BOTH sides (global wm = min)
        val far = t0 + 10L * 86400L * 1000000L
        in.addData(
          (90L, far, -1L, "click", 0.0, "{}"),
          (91L, far, -2L, "purchase", 0.0, "{}"))
        q.processAllAvailable()
        in.addData(
          (92L, far + 1000000L, -1L, "click", 0.0, "{}"),
          (93L, far + 1000000L, -2L, "purchase", 0.0, "{}"))
        q.processAllAvailable() // eviction flush
        assert(rows() == Set((10L, Some(11L)), (20L, None)),
          "non-converting click must emit exactly one null-padded row after eviction")
      } finally q.stop()
      // a too-late purchase (outside the 600 s window) stays unmatched
      val batch = EventStreams.clickToPurchaseJoin(
        Seq((1L, 1000L * 1000000L, 7L, "click", 0.0, "{}"),
          (2L, 2000L * 1000000L, 7L, "purchase", 9.0, "{}"))
          .toDF("event_id", "us", "user_id", "event_type", "value", "props")
          .withColumn("ts", timestamp_micros($"us")).drop("us"),
        windowSec = 600, joinType = "left_outer").collect()
      assert(batch.length == 1 && batch(0).isNullAt(2))
      // full outer (batch form): the out-of-window purchase surfaces as
      // its own null-click row carrying its user via the coalesce
      val full = EventStreams.clickToPurchaseJoin(
        Seq((1L, 1000L * 1000000L, 7L, "click", 0.0, "{}"),
          (2L, 2000L * 1000000L, 7L, "purchase", 9.0, "{}"))
          .toDF("event_id", "us", "user_id", "event_type", "value", "props")
          .withColumn("ts", timestamp_micros($"us")).drop("us"),
        windowSec = 600, joinType = "full_outer").collect()
      assert(full.length == 2)
      assert(full.exists(r => r.isNullAt(2) && r.getLong(0) == 1L))
      assert(full.exists(r => r.isNullAt(0) && r.getLong(1) == 7L && r.getLong(2) == 2L))
      // unsupported types still fail loudly
      intercept[IllegalArgumentException](
        EventStreams.clickToPurchaseJoin(events, 600, joinType = "right_outer"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  test("multimodal: frame sampling multiplies rows by payload size") {
    import spark.implicits._
    val media = graft.multimodal.Multimodal.mediaFromDocuments(spark, Tables.documents(spark, sfDir))
    val frames = graft.multimodal.Multimodal.sampleFrames(media, everyK = 2, frameBytes = 64)
    assert(frames.count() >= media.count())
  }

  test("multimodal: imageDims reads PNG/GIF/BMP/JPEG headers without a codec") {
    import graft.multimodal.Multimodal.imageDims
    // PNG: signature + IHDR length/type + 320×200 big-endian
    val png = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 1, 0x40, 0, 0, 0, 0xC8, 8, 6, 0, 0, 0).map(_.toByte)
    assert(imageDims(png).contains(("png", 320, 200)))
    // GIF89a 17×9 little-endian
    val gif = "GIF89a".getBytes("ASCII") ++ Array[Byte](17, 0, 9, 0)
    assert(imageDims(gif).contains(("gif", 17, 9)))
    // BMP with negative (top-down) height −33, width 12
    val bmp = new Array[Byte](26)
    bmp(0) = 'B'; bmp(1) = 'M'
    bmp(18) = 12
    bmp(22) = (-33 & 0xff).toByte; bmp(23) = 0xff.toByte; bmp(24) = 0xff.toByte; bmp(25) = 0xff.toByte
    assert(imageDims(bmp).contains(("bmp", 12, 33)))
    // JPEG: SOI, APP0 (skipped via its length), SOF0 with height 7, width 5
    val jpg = Array[Int](0xff, 0xd8,
      0xff, 0xe0, 0, 4, 0, 0, // APP0, length 4 (2 payload bytes)
      0xff, 0xc0, 0, 11, 8, 0, 7, 0, 5, 3, 0, 0, 0).map(_.toByte)
    assert(imageDims(jpg).contains(("jpeg", 5, 7)))
    // non-image bytes and nulls are None, never a throw
    assert(imageDims("plain text".getBytes).isEmpty && imageDims(null).isEmpty)
  }

  test("multimodal: imageDims reads TIFF and WebP headers without a codec") {
    import graft.multimodal.Multimodal.imageDims
    // TIFF both byte orders: real header built by the engine's own writer
    val dir = tempDir("dims")
    val p = dir.resolve("t.tif").toString
    graft.sources.GeoTiff.write(p, 19, 7, Array.fill(19 * 7)(1.0f), 1.0, 1.0, 0.0, 7.0)
    assert(imageDims(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
      .contains(("tiff", 19, 7)))
    // big-endian TIFF, hand-built: MM, 42, IFD at 8 with tags 256/257
    val be = java.nio.ByteBuffer.allocate(40).order(java.nio.ByteOrder.BIG_ENDIAN)
    be.put('M'.toByte).put('M'.toByte).putShort(42).putInt(8)
    be.putShort(8, 2.toShort)
    be.putShort(10, 256.toShort); be.putShort(12, 3.toShort); be.putInt(14, 1); be.putShort(18, 640.toShort)
    be.putShort(22, 257.toShort); be.putShort(24, 3.toShort); be.putInt(26, 1); be.putShort(30, 480.toShort)
    assert(imageDims(be.array()).contains(("tiff", 640, 480)))
    // WebP lossy (VP8 ): RIFF header + key-frame start code + 14-bit dims
    def riff(fourcc: String, payload: Array[Byte]): Array[Byte] =
      "RIFF".getBytes("ASCII") ++ Array[Byte](0, 0, 0, 0) ++ "WEBP".getBytes("ASCII") ++
        fourcc.getBytes("ASCII") ++ Array[Byte](0, 0, 0, 0) ++ payload
    val vp8 = riff("VP8 ", Array[Int](0, 0, 0, 0x9d, 0x01, 0x2a, 100, 0, 60, 0).map(_.toByte))
    assert(imageDims(vp8).contains(("webp", 100, 60)))
    // WebP lossless (VP8L): 0x2F then width-1/height-1 packed 14+14 bits
    val bits = (99 & 0x3fff) | ((59 & 0x3fff) << 14)
    val vp8l = riff("VP8L", Array[Byte](0x2f,
      (bits & 0xff).toByte, ((bits >> 8) & 0xff).toByte,
      ((bits >> 16) & 0xff).toByte, ((bits >> 24) & 0xff).toByte, 0))
    assert(imageDims(vp8l).contains(("webp", 100, 60)))
    // WebP extended (VP8X): 24-bit canvas-1 dims after 4 flag bytes
    val vp8x = riff("VP8X", Array[Byte](0, 0, 0, 0, 99, 0, 0, 59, 0, 0))
    assert(imageDims(vp8x).contains(("webp", 100, 60)))
  }

  test("multimodal: extractFeaturesDecoded runs stats over REAL decoded JPEG pixels") {
    import graft.multimodal.Multimodal
    val w = 16; val h = 16
    // two constant 8x8 block columns: 10s on the left, 200s on the right
    val px = Array.tabulate(w * h)(i => if ((i % w) / 8 == 0) 10 else 200)
    val jpeg = graft.sources.Jpeg.encodeGray(px, w, h)
    // decodeImage yields the true pixels (block-constant => exact)
    assert(Multimodal.decodeImage(jpeg).get.map(_ & 0xff).toSeq == px.toSeq)
    // non-JPEG payloads have no codec here -> None (stub tier handles them)
    assert(Multimodal.decodeImage("plain bytes".getBytes).isEmpty)
    assert(Multimodal.decodeImage(null).isEmpty)
    // Dataset path: stats come from pixels, n_bytes from the payload
    import spark.implicits._
    val media = Seq(Multimodal.Media(1L, Multimodal.MediaMeta("image", w, h, 0), jpeg)).toDS()
    val f = Multimodal.extractFeaturesDecoded(media).collect().head
    assert(f.mean_byte == 105.0) // (10 + 200) / 2 over pixels, NOT jpeg bytes
    assert(math.abs(f.byte_entropy - 1.0) < 1e-12) // two equally likely values
    assert(f.n_bytes == jpeg.length)
  }
}
