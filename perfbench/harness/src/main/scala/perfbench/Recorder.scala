package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw event capture for the traced run. Every record carries Spark's own
  * timestamp (or the receipt time where Spark gives none), so the
  * aggregation step can assign it to a pass and an operation by time
  * alone; nothing here interprets the events.
  *
  * Task metrics are summed per stage on arrival so the artifact stays
  * small; everything else is one record per event.
  */
final class Recorder {
  private val nf = JsonNodeFactory.instance
  val jobs: ArrayNode = nf.arrayNode()
  val executions: ArrayNode = nf.arrayNode()
  val queries: ArrayNode = nf.arrayNode()
  val blocks: ArrayNode = nf.arrayNode()
  val progress: ArrayNode = nf.arrayNode()
  private val jobById = mutable.Map[Int, ObjectNode]()
  private val execById = mutable.Map[Long, ObjectNode]()
  private val stageTotals = mutable.Map[Int, Array[Long]]()

  private val taskFields = Seq(
    "tasks", "run_ms", "cpu_ns", "gc_ms", "deserialize_ms",
    "shuffle_write_bytes", "shuffle_write_ns", "shuffle_read_bytes",
    "fetch_wait_ms", "spill_memory_bytes", "spill_disk_bytes",
    "input_bytes", "input_records", "output_bytes", "output_records")

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val j = jobs.addObject()
      j.put("id", e.jobId).put("start", e.time)
      // the result stage (created last) carries the job's own call site
      e.stageInfos.maxByOption(_.stageId).foreach { s =>
        j.put("callsite", s.name).put("stack", s.details)
      }
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => j.put("execution", x.toLong))
      // micro-batch jobs run on the stream thread, whose stack has no
      // graft frame; the stream's query id marks them
      Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .foreach(q => j.put("stream", q))
      val st = j.putArray("stages")
      e.stageIds.foreach(st.add(_))
      jobById(e.jobId) = j
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobById.get(e.jobId).foreach(_.put("end", e.time))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val acc = stageTotals.getOrElseUpdate(e.stageId, new Array[Long](taskFields.size))
        val sw = m.shuffleWriteMetrics
        val sr = m.shuffleReadMetrics
        val v = Array(
          1L, m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
          sw.bytesWritten, sw.writeTime, sr.totalBytesRead, sr.fetchWaitTime,
          m.memoryBytesSpilled, m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
          m.outputMetrics.recordsWritten)
        var i = 0
        while (i < v.length) { acc(i) += v(i); i += 1 }
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Recorder.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        blocks.addObject()
          .put("t", System.currentTimeMillis())
          .put("bytes", b.memSize + b.diskSize)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = Recorder.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          val x = executions.addObject()
          x.put("id", s.executionId).put("start", s.time)
            .put("callsite", s.description).put("stack", s.details)
          execById(s.executionId) = x
        case s: SparkListenerSQLExecutionEnd =>
          execById.get(s.executionId).foreach(_.put("end", s.time))
        case _ =>
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Recorder.this.synchronized {
      val q = queries.addObject().put("t", System.currentTimeMillis())
      qe.tracker.phases.foreach { case (phase, s) => q.put(phase + "_ms", s.durationMs) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Recorder.this.synchronized {
      progress.addObject()
        .put("t", System.currentTimeMillis())
        .put("batch_ms", e.progress.batchDuration)
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamingListener)
  }

  /** Per-stage task totals. */
  def stages: ArrayNode = synchronized {
    val out = nf.arrayNode()
    stageTotals.toSeq.sortBy(_._1).foreach { case (id, acc) =>
      val s = out.addObject().put("id", id)
      taskFields.zip(acc).foreach { case (k, v) => s.put(k, v) }
    }
    out
  }
}

/** Samples the size of `spark.local.dir` (shuffle files, spills) on a
  * daemon thread; `peakAndReset` returns the largest size seen since the
  * previous call.
  */
final class ScratchSampler(dirs: Seq[Path], periodMs: Long = 50L) {
  @volatile private var peak = 0L
  @volatile private var running = true

  private def size(): Long =
    dirs.filter(Files.exists(_)).map { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.foldLeft(0L) { (acc, p) =>
        acc + (try { if (Files.isRegularFile(p)) Files.size(p) else 0L }
               catch { case _: java.io.IOException => 0L })
      } finally s.close()
    }.sum

  private val thread = new Thread(() => {
    while (running) {
      val s = try size() catch { case _: java.io.UncheckedIOException => 0L }
      if (s > peak) peak = s
      Thread.sleep(periodMs)
    }
  }, "perfbench-scratch-sampler")
  thread.setDaemon(true)
  thread.start()

  def peakAndReset(): Long = { val p = peak; peak = 0L; p }
  def stop(): Unit = { running = false; thread.join() }
}
