package graft

import graft.sources.OsmXml
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.operators.Relational
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end run of the five-stage indicator pipeline (§3.1) — OSM XML
  * ingest → graph build → criticality → EAUL sweep → merge → CSV/JSON
  * egress — asserting the egressed ARTIFACTS (what a downstream tile
  * builder would consume), not just in-memory frames.
  */
class PipelineSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(4, "pipeline-spec")

  /** What `body` ran: the ids of the jobs that read input records, the
    * task count of every submitted stage, the name of every SQL action
    * (`count`, `collect`, `command`, …), the ids of the jobs each SQL
    * execution ran keyed by its description (`csv at Pipeline.scala:N`;
    * a nested execution's jobs count for its root), the stages of each
    * job, and the shuffle bytes each stage wrote.
    */
  private case class JobShape(
      inputJobs: Set[Int], stageTasks: Map[Int, Int], sqlActions: Seq[String],
      jobsBySql: Map[String, Seq[Int]], jobStages: Map[Int, Seq[Int]],
      shuffleWrites: Map[Int, Long]) {
    def jobs: Set[Int] = jobStages.keySet
    /** The jobs of the SQL executions whose description starts with `what`. */
    def jobsOf(what: String): Seq[Int] =
      jobsBySql.collect { case (d, js) if d.startsWith(what) => js }.flatten.toSeq
    def tasksOf(job: Int): Int = jobStages(job).flatMap(stageTasks.get).sum
  }

  private def jobShape(body: => Unit): JobShape = {
    val sc = spark.sparkContext
    val jobOfStage = new ConcurrentHashMap[Int, Int]()
    val inputStages = ConcurrentHashMap.newKeySet[Int]()
    val stageTasks = new ConcurrentHashMap[Int, Int]()
    val shuffleWrites = new ConcurrentHashMap[Int, Long]()
    val execOfJob = new ConcurrentHashMap[Int, Long]()
    val execRoot = new ConcurrentHashMap[Long, Long]()
    val execDescription = new ConcurrentHashMap[Long, String]()
    val actions = new ConcurrentLinkedQueue[String]()
    val flushJob = new AtomicInteger(-1)
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        e.stageIds.foreach(jobOfStage.put(_, e.jobId))
        if (e.properties != null) {
          if (e.properties.getProperty("spark.job.description") == "flush") flushJob.set(e.jobId)
          Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
            .foreach(id => execOfJob.put(e.jobId, id.toLong))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == flushJob.get) flushed.countDown()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          if (e.taskMetrics.inputMetrics.recordsRead > 0) inputStages.add(e.stageId)
          shuffleWrites.merge(e.stageId, e.taskMetrics.shuffleWriteMetrics.bytesWritten, _ + _)
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execDescription.put(s.executionId, s.description)
          execRoot.put(s.executionId, s.rootExecutionId.getOrElse(s.executionId))
        case _ =>
      }
    }
    val qel = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = actions.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = actions.add(funcName)
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
    try {
      body
      // listener delivery is async but ordered: once a marker job's end
      // is delivered, so is every event `body` posted before it
      sc.setJobDescription("flush")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(flushed.await(10, TimeUnit.SECONDS), "listener events not delivered")
    } finally {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qel)
    }
    val ours = (s: Int) => jobOfStage.get(s) != flushJob.get
    val jobStages = jobOfStage.asScala.toSeq.collect { case (s, j) if ours(s) => (j, s) }
      .groupBy(_._1).map { case (j, ss) => j -> ss.map(_._2) }
    JobShape(
      inputStages.asScala.map(jobOfStage.get).toSet,
      stageTasks.asScala.collect { case (s, n) if ours(s) => s -> n }.toMap,
      actions.asScala.toSeq,
      execOfJob.asScala.toSeq
        .map { case (j, x) => execDescription.get(execRoot.getOrDefault(x, x)) -> j }
        .groupBy(_._1).map { case (d, js) => String.valueOf(d) -> js.map(_._2) },
      jobStages,
      shuffleWrites.asScala.collect { case (s, b) if ours(s) => s -> b }.toMap)
  }

  /** Stage 5's inputs for the network under `osmDir`, built as the
    * pipeline builds them: the road-network rows `(NAME, RUC)` and the
    * scored criticality rows `(way_id, score)`.
    */
  private def stage5Inputs(osmDir: String): (DataFrame, DataFrame) = {
    val (nodesDf, waysDf) = OsmXml.read(spark, osmDir)
    val g = graph.RoadGraph.fromOsm(spark, nodesDf, waysDf)
    val scored = graph.Criticality.scoreStats(graph.Criticality.waysStats(spark, g, Pipeline.odNodes(g)))
      .select(col("way_id"), round(col("score"), 2).as("score"))
    val rn = waysDf.select(col("tags")("NAME").as("NAME"), col("tags")("RUC").cast("double").as("RUC"))
    (rn, scored)
  }

  private def strings(r: Row): Seq[String] = r.toSeq.map(v => if (v == null) null else v.toString)

  /** A CSV output's rows as strings, in file order. */
  private def csvRows(dir: String): Seq[Seq[String]] =
    spark.read.option("header", "true").csv(dir).collect().toSeq.map(strings)

  test("five-stage pipeline egresses merged indicators and EAUL results") {
    val osmDir = Pipeline.demoOsmDir(tempDir("pipeline-osm"))
    val outDir = tempDir("pipeline-out").toString
    val shape = jobShape(Pipeline.run(spark, osmDir, outDir))
    // Spark work only where the routing is and in the two writes: one
    // parse of the OSM input, the criticality and EAUL sweeps, one job of
    // one task per write, no count job, no shuffle, and no stage wider
    // than the cores (grid(6) has 60 ways, so 60 criticality and 180
    // EAUL scenarios)
    assert(shape.inputJobs.size == 1, s"jobs reading the OSM input: ${shape.inputJobs}")
    assert(shape.jobs.size <= 5, s"jobs ${shape.jobs.size}, by SQL execution: ${shape.jobsBySql}")
    for (write <- Seq("csv at Pipeline", "json at Pipeline")) {
      val jobs = shape.jobsOf(write)
      assert(jobs.size == 1, s"$write ran jobs $jobs; by SQL execution: ${shape.jobsBySql}")
      assert(shape.tasksOf(jobs.head) == 1, s"$write ran ${shape.tasksOf(jobs.head)} tasks")
    }
    assert(shape.shuffleWrites.values.forall(_ == 0L), s"shuffle bytes by stage: ${shape.shuffleWrites}")
    assert(shape.sqlActions.nonEmpty && !shape.sqlActions.contains("count"), s"SQL actions: ${shape.sqlActions}")
    val parallelism = spark.sparkContext.defaultParallelism
    assert(shape.stageTasks.nonEmpty && shape.stageTasks.values.max <= parallelism,
      s"stage task counts ${shape.stageTasks}, defaultParallelism $parallelism")

    // the driver-side merge writes the rows the broadcast merge gives
    val (rn, scored) = stage5Inputs(osmDir)
    val expected = Relational.mergeIndicators(rn, "NAME", Seq("crit" -> scored))
    assert(csvRows(s"$outDir/indicators") == expected.collect().toSeq.map(strings))

    val indicators = spark.read.option("header", "true").csv(s"$outDir/indicators")
    // grid(6): 60 ways, every one present after the merge, each with a
    // parseable criticality score in [0, 100]
    assert(indicators.count() == 60)
    assert(indicators.columns.contains("crit_score"))
    val scores = indicators
      .select(col("crit_score").cast("double"))
      .collect().map(_.getDouble(0))
    assert(scores.forall(s => s >= 0 && s <= 100))
    assert(scores.exists(_ > 0)) // leave-one-out found at least one critical way

    val eaul = spark.read.json(s"$outDir/eaul")
    // 60 ways × 3 upgrades + baseline = 181 rows, in one file
    assert(eaul.count() == 181)
    assert(eaul.filter(col("way_id") === "baseline").count() == 1)
    assert(eaul.inputFiles.length == 1, eaul.inputFiles.mkString(", "))
  }

  test("stage 5's driver-side merge gives mergeIndicators' rows in its order") {
    import spark.implicits._
    // a NAME twice in the base, a null NAME, a way with no score, a
    // score twice for one way_id (its base rows multiply), a null way_id
    val base = Seq[(String, Double)](
      ("a", 1.0), (null, 2.0), ("b", 3.0), ("c", 4.0), ("a", 5.0), ("d", 6.0))
      .toDF("NAME", "RUC")
    val ind = Seq[(String, java.lang.Double)](
      ("b", 20.0), ("a", 10.0), ("b", 21.0), (null, 99.0), ("d", null), ("e", 50.0))
      .toDF("way_id", "score")
    val got = Pipeline.mergeOnDriver(base, "NAME", "crit", ind)
    val want = Relational.mergeIndicators(base, "NAME", Seq("crit" -> ind))
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.schema.map(_.dataType) == want.schema.map(_.dataType))
    assert(got.collect().toSeq == want.collect().toSeq)
    assert(got.count() == 7)
  }

  test("a path network (every removal only disconnects pairs) scores without dividing by zero") {
    // three collinear ways: no way's removal raises any OD cost, so the
    // reference's avgMaxTime is 0 and every timeScore is `|| 0`
    val osmDir = tempDir("pipeline-path")
    val nodes = (0 until 4).map(i => OsmXml.OsmNode(i.toLong, 36.80 + 0.01 * i, -1.28))
    val ways = (0 until 3).map(i =>
      OsmXml.OsmWay(100L + i, Seq(i.toLong, i + 1L), Map("NAME" -> s"w$i", "RUC" -> "1.0")))
    OsmXml.write(nodes, ways, osmDir.resolve("path.osm").toString)
    val outDir = tempDir("pipeline-out").toString
    Pipeline.run(spark, osmDir.toString, outDir)
    // each removal cuts two of the three OD pairs, the most any way cuts:
    // unroutableScore 1, timeScore 0 → 0.6 · 100
    val rows = csvRows(s"$outDir/indicators")
    assert(rows.map(_.head).sorted == Seq("w0", "w1", "w2"))
    assert(rows.map(_(2).toDouble) == Seq(60.0, 60.0, 60.0), rows)
  }

  test("an OSM input with no nodes is rejected, naming the input") {
    val osmDir = tempDir("pipeline-empty")
    OsmXml.write(Nil, Nil, osmDir.resolve("empty.osm").toString)
    val outDir = tempDir("pipeline-out").toString
    val e = intercept[IllegalArgumentException](Pipeline.run(spark, osmDir.toString, outDir))
    assert(e.getMessage.contains(osmDir.toString), e.getMessage)
  }

  test("curation pipeline egresses a deduped, sharded corpus and its PQ index, stages monotone") {
    val outDir = tempDir("curation-out").toString
    val counts = CurationPipeline.run(spark, "/root/testdata/sf0.001", outDir)
    // every stage can only shrink the corpus, and none may empty it
    assert(counts("input") >= counts("after_quality"))
    assert(counts("after_quality") >= counts("after_repetition"))
    assert(counts("after_repetition") >= counts("curated"))
    assert(counts("curated") >= counts("after_semantic"))
    assert(counts("after_semantic") > 0)
    // each byte-level stage must actually bite on the gate data
    // (non-vacuous); the semantic stage's bite is corpus-dependent and
    // oracle-proven by qd14 at sf0.01
    assert(counts("after_quality") < counts("input"))
    assert(counts("curated") < counts("after_repetition"))
    // the ANN index covers exactly the final survivors (ids align)
    assert(counts("pq_codes") == counts("after_semantic"))
    // egressed artifacts: corpus keeps full doc rows plus the shuffle
    // position/shard layout columns; codes are m=8 ints
    val corpus = spark.read.parquet(s"$outDir/corpus")
    assert(corpus.columns.toSet ==
      Set("doc_id", "text", "lang", "source", "n_chars", "shuffle_pos", "shard", "pos_in_shard"))
    // the shard deal is a permutation dealt round-robin (equal ±1)
    assert(counts("shards") == math.min(4L, counts("after_semantic")))
    val positions = corpus.select("shuffle_pos").collect().map(_.getLong(0)).sorted
    assert(positions.toSeq == (0L until counts("after_semantic")))
    val codes = spark.read.parquet(s"$outDir/pq_codes")
    assert(codes.select("codes").collect().forall(_.getSeq[Int](0).length == 8))
    // no near-dup pair survives: re-running near-dup dedup is a fixpoint
    // (the semantic stage only removes rows, so the band-bucket structure
    // of the survivors is a subset and the minhash fixpoint still holds;
    // a semantic "fixpoint" is NOT asserted — re-clustering survivors can
    // legitimately form new same-cluster pairs)
    val again = operators.Dedup.minHashDedup(corpus, "doc_id", "text").count()
    assert(again == counts("after_semantic"))
  }

  test("incremental curation: batches append atomically to the tx-log corpus, dups die against it") {
    import spark.implicits._
    val dir = tempDir("curation-incr").resolve("tbl").toString
    // quality floor is 20 words + >=2 Gopher stopwords — survivors get a
    // stopword-bearing preamble plus 20 unique body words
    def doc(seed: Int, n: Int = 20) =
      "the corpus and the model of " +
        (0 until n).map(i => s"w${(i * 31 + seed * 7) % 97}x$i").mkString(" ")

    // batch 1: three good docs, one too short (quality-filtered)
    val b1 = Seq(
      (1L, doc(1)), (2L, doc(2)), (3L, doc(3)), (4L, "too short")
    ).toDF("doc_id", "text")
    val c1 = CurationPipeline.appendCuratedBatch(spark, dir, b1)
    assert(c1("version") == 0L && c1("appended") == 3L && c1("corpus") == 3L)

    // batch 2: an exact dup of doc 1, a near-dup of doc 2 (one word
    // changed — LSH bands collide), one novel doc, one quality reject
    val d2words = doc(2).split(" ")
    val nearDup2 = d2words.updated(d2words.length - 1, "CHANGED").mkString(" ")
    val b2 = Seq(
      (11L, doc(1)),      // exact dup -> dies on the fingerprint anti-join
      (12L, nearDup2),    // near dup  -> dies on the corpus band buckets
      (13L, doc(9)),      // novel     -> survives
      (14L, "also short") // quality   -> filtered before dedup
    ).toDF("doc_id", "text")
    val c2 = CurationPipeline.appendCuratedBatch(spark, dir, b2)
    assert(c2("after_filters") == 3L, "quality filter should cut the short doc")
    assert(c2("appended") == 1L, s"only the novel doc should survive, got ${c2("appended")}")
    assert(c2("version") == 1L && c2("corpus") == 4L)

    // the corpus is the union of both commits, exactly once each
    val ids = operators.TxLog.snapshot(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L, 13L))
    // trainers time-travel to the batch-1 training set
    assert(operators.TxLog.snapshot(spark, dir, Some(0L))
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))

    // replaying batch 2 appends nothing new (all dups now), corpus stable
    val c3 = CurationPipeline.appendCuratedBatch(spark, dir, b2)
    assert(c3("appended") == 0L && c3("corpus") == 4L)
  }
}
