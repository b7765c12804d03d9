package graft

import graft.sources.OsmXml
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
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
    * task count of every submitted stage, and the name of every SQL
    * action (`count`, `collect`, `command`, …).
    */
  private case class JobShape(inputJobs: Set[Int], stageTasks: Seq[Int], sqlActions: Seq[String])

  private def jobShape(body: => Unit): JobShape = {
    val sc = spark.sparkContext
    val jobOfStage = new ConcurrentHashMap[Int, Int]()
    val inputStages = ConcurrentHashMap.newKeySet[Int]()
    val stageTasks = new ConcurrentHashMap[Int, Int]()
    val actions = new ConcurrentLinkedQueue[String]()
    val flushJob = new AtomicInteger(-1)
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        e.stageIds.foreach(jobOfStage.put(_, e.jobId))
        if (e.properties != null && e.properties.getProperty("spark.job.description") == "flush")
          flushJob.set(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == flushJob.get) flushed.countDown()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.inputMetrics.recordsRead > 0) inputStages.add(e.stageId)
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
    JobShape(
      inputStages.asScala.map(jobOfStage.get).toSet,
      stageTasks.asScala.collect { case (s, n) if jobOfStage.get(s) != flushJob.get => n }.toSeq,
      actions.asScala.toSeq)
  }

  test("five-stage pipeline egresses merged indicators and EAUL results") {
    val outDir = tempDir("pipeline-out").toString
    val shape = jobShape(Pipeline.run(spark, Pipeline.demoOsmDir(tempDir("pipeline-osm")), outDir))
    // Spark work only where the routing is: one parse of the OSM input, no
    // count job, and no stage wider than the cores (grid(6) has 60 ways,
    // so 60 criticality and 180 EAUL scenarios)
    assert(shape.inputJobs.size == 1, s"jobs reading the OSM input: ${shape.inputJobs}")
    assert(shape.sqlActions.nonEmpty && !shape.sqlActions.contains("count"), s"SQL actions: ${shape.sqlActions}")
    val parallelism = spark.sparkContext.defaultParallelism
    assert(shape.stageTasks.nonEmpty && shape.stageTasks.max <= parallelism,
      s"stage task counts ${shape.stageTasks}, defaultParallelism $parallelism")

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
    // 60 ways × 3 upgrades + baseline = 181 rows
    assert(eaul.count() == 181)
    assert(eaul.filter(col("way_id") === "baseline").count() == 1)
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
