package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.{CurationPipeline, GraftSession, Pipeline, SparkEntry}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.types.StructType

/** Runs one workload in one JVM and writes the raw measurements as JSON.
  *
  * Usage: `perfbench.Harness <spec.json>`. The spec (written by
  * `perfbench/run.py`) names the operations, the order of every pass, the
  * measuring time and whether to trace. The session comes from
  * `GraftSession.local` alone. Between operations the harness does nothing
  * a user's session would not: no cache clearing, no forced GC.
  *
  * Each operation is split into its build call (the engine's public
  * function; eager fixpoint loops run here) and its terminal action. All
  * checking — digests, oracle dumps — happens after a pass has ended, so
  * the pass wall covers only the operations.
  */
object Harness {
  private val mapper = new ObjectMapper()

  /** One operation's outcome inside a pass. */
  private final case class Outcome(
      rows: Option[(Array[Row], StructType)], result: Map[String, Long])

  private def firstLine(t: Throwable): String =
    Option(t.getMessage).map(_.linesIterator.find(_.trim.nonEmpty).getOrElse("")).getOrElse("")

  private def rootCause(t: Throwable): Throwable =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last

  private def digest(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Runs `op`; returns (build start/end, action start/end, outcome). */
  private def runOp(spark: SparkSession, op: JsonNode, passDir: String)
      : (Long, Long, Long, Long, Outcome) = {
    val kind = op.get("kind").asText
    val name = op.get("name").asText
    val args = op.get("args")
    kind match {
      case "query" =>
        val fn = SparkEntry.queries(name)
        val b0 = System.currentTimeMillis()
        val df = fn(spark, args.get("dir").asText)
        val b1 = System.currentTimeMillis()
        val rows = df.collect()
        val a1 = System.currentTimeMillis()
        (b0, b1, b1, a1, Outcome(Some((rows, df.schema)), Map.empty))
      case "pipeline" =>
        val b0 = System.currentTimeMillis()
        Pipeline.run(spark, args.get("osm").asText, s"$passDir/$name")
        val b1 = System.currentTimeMillis()
        (b0, b1, b1, b1, Outcome(None, Map.empty))
      case "curation_run" =>
        val b0 = System.currentTimeMillis()
        val counts = CurationPipeline.run(spark, args.get("sf").asText, s"$passDir/$name")
        val b1 = System.currentTimeMillis()
        (b0, b1, b1, b1, Outcome(None, counts))
      case "curation_batch" =>
        val b0 = System.currentTimeMillis()
        val batch = spark.read.parquet(args.get("batch").asText)
        val counts = CurationPipeline.appendCuratedBatch(
          spark, s"$passDir/${args.get("table").asText}", batch)
        val b1 = System.currentTimeMillis()
        (b0, b1, b1, b1, Outcome(None, counts))
      case other => throw new IllegalArgumentException(s"unknown op kind $other")
    }
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def main(argv: Array[String]): Unit = {
    val spec = mapper.readTree(new File(argv(0)))
    val out = mapper.createObjectNode()
    val cores = spec.get("cores").asInt

    // set-up: session build, then one trivial job
    val s0 = System.currentTimeMillis()
    val spark = GraftSession.local(cores, "perfbench-" + spec.get("workload").asText)
    val s1 = System.currentTimeMillis()
    spark.range(1000).count()
    val s2 = System.currentTimeMillis()
    out.putObject("setup").put("build_ms", s1 - s0).put("warmup_ms", s2 - s1).put("ready", s2)

    val sc = spark.sparkContext
    val localDir = sc.getConf.get("spark.local.dir", System.getProperty("java.io.tmpdir"))
    out.putObject("env")
      .put("spark", spark.version)
      .put("java", System.getProperty("java.version"))
      .put("heap_max_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
      .put("master", sc.master)
      .put("local_dir", localDir)
      .put("local_dir_free_mb", new File(localDir.split(",").head).getUsableSpace / (1024 * 1024))

    val trace = spec.get("trace").asBoolean
    val recorder = if (trace) Some(new Recorder) else None
    recorder.foreach(_.register(spark))
    val sampler =
      if (trace) Some(new ScratchSampler(localDir.split(",").toSeq.map(Paths.get(_)))) else None

    val ops = spec.get("ops").elements().asScala.map(o => o.get("name").asText -> o).toMap
    val orders = spec.get("passes").elements().asScala.map(_.elements().asScala.map(_.asText).toSeq).toSeq
    val workDir = spec.get("work").asText
    val minPasses = spec.get("min_passes").asInt
    val deadline = System.currentTimeMillis() + spec.get("seconds").asLong * 1000L
    val passes = out.putArray("passes")
    val dumped = scala.collection.mutable.Set[String]()

    var p = 0
    while (p < orders.size && (p < minPasses || System.currentTimeMillis() < deadline)) {
      val passDir = s"$workDir/pass$p"
      val pass = passes.addObject().put("index", p)
      val opsOut = pass.putArray("ops")
      val outcomes = scala.collection.mutable.ArrayBuffer[(ObjectNode, Outcome)]()
      pass.put("start", System.currentTimeMillis())
      for (name <- orders(p)) {
        val o = opsOut.addObject().put("name", name).put("kind", ops(name).get("kind").asText)
        val cg0 = CodeGenerator.compileTime
        val start = System.currentTimeMillis()
        try {
          val (b0, b1, a0, a1, outcome) = runOp(spark, ops(name), passDir)
          o.put("build_start", b0).put("build_end", b1).put("action_start", a0).put("action_end", a1)
          o.put("ok", true)
          outcomes += o -> outcome
        } catch {
          case NonFatal(e) =>
            val root = rootCause(e)
            o.put("ok", false).put("error_class", e.getClass.getName).put("error", firstLine(e))
            if (root ne e) o.put("cause_class", root.getClass.getName).put("cause", firstLine(root))
            val t = System.currentTimeMillis()
            o.put("build_start", start).put("build_end", t).put("action_start", t).put("action_end", t)
        }
        o.put("codegen_ms", (CodeGenerator.compileTime - cg0) / 1e6)
      }
      pass.put("end", System.currentTimeMillis())
      sampler.foreach(s => pass.put("scratch_peak_bytes", s.peakAndReset()))

      // after the pass: digests, oracle dumps, program results
      for ((o, outcome) <- outcomes) {
        val name = o.get("name").asText
        outcome.rows.foreach { case (rows, schema) =>
          o.put("rows", rows.length).put("digest", digest(rows.toSeq.map(_.toString)))
          if (!dumped(name)) {
            dumped += name
            try {
              spark.createDataFrame(rows.toSeq.asJava, schema)
                .coalesce(1).write.mode("overwrite").parquet(s"$workDir/dump/$name")
            } catch {
              case NonFatal(e) => o.put("dump_error", s"${e.getClass.getName}: ${firstLine(e)}")
            }
          }
        }
        if (outcome.result.nonEmpty) {
          val r = o.putObject("result")
          outcome.result.toSeq.sortBy(_._1).foreach { case (k, v) => r.put(k, v) }
        }
      }
      p += 1
    }

    val oracle = out.putObject("oracle_sql")
    val sqls = SparkEntry.oracleSql
    ops.values.filter(_.get("kind").asText == "query").map(_.get("name").asText)
      .foreach(n => sqls.get(n).foreach(oracle.put(n, _)))

    sampler.foreach(_.stop())
    recorder.foreach { r =>
      org.apache.spark.perfbench.ListenerBusAccess.drain(sc)
      val ev = out.putObject("events")
      r.synchronized {
        ev.set[JsonNode]("jobs", r.jobs)
        ev.set[JsonNode]("executions", r.executions)
        ev.set[JsonNode]("queries", r.queries)
        ev.set[JsonNode]("blocks", r.blocks)
        ev.set[JsonNode]("progress", r.progress)
      }
      ev.set[JsonNode]("stages", r.stages)
    }
    out.put("vm_hwm_kb", vmHwmKb())
    Files.writeString(Paths.get(spec.get("result").asText), mapper.writeValueAsString(out))
    // outputs are on disk and nothing is timed any more: skip the orderly
    // shutdown (run.py clears the scratch directories before each run)
    Runtime.getRuntime.halt(0)
  }
}
