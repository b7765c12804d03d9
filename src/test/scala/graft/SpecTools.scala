package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Probes the job-shape and source-scan specs share: the call sites of
  * the SQL executions a block starts, and src/main text with its
  * comments and string literals blanked, for scans that must not read
  * prose as code.
  */
object SpecTools {

  /** Call sites ("<action> at File.scala:N") of the SQL executions
    * `body` starts — job-level stage names are AQE's async submit
    * threads.
    */
  def actionsOf(spark: SparkSession)(body: => Unit): Seq[String] = {
    val names = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart => names.add(e.description)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener delivery is async; poll until quiescent
      val deadline = System.nanoTime() + 5_000_000_000L
      var last = -1
      while (System.nanoTime() < deadline && names.size != last) {
        last = names.size; Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    names.asScala.toSeq
  }

  /** The `.scala` files under `src/main/scala/<sub…>`. */
  def mainSources(sub: String*): Seq[Path] =
    Files.walk(Paths.get("src", ("main" +: "scala" +: sub): _*)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  /** `t` with comments and string literals blanked (offsets and
    * newlines kept), so prose or a string never reads as code.
    */
  def codeOnly(t: String): String = {
    val out = t.toCharArray
    def blank(from: Int, to: Int): Unit =
      (from until math.min(to, t.length)).foreach(j => if (t(j) != '\n') out(j) = ' ')
    def end(close: String, from: Int): Int = {
      val j = t.indexOf(close, from)
      if (j < 0) t.length else j + close.length
    }
    var i = 0
    while (i < t.length) {
      if (t.startsWith("//", i)) { val e = end("\n", i) - 1; blank(i, e); i = e }
      else if (t.startsWith("/*", i)) { val e = end("*/", i + 2); blank(i, e); i = e }
      else if (t.startsWith("\"\"\"", i)) { val e = end("\"\"\"", i + 3); blank(i + 3, e - 3); i = e }
      else if (t(i) == '"') {
        var j = i + 1
        while (j < t.length && t(j) != '"') j += (if (t(j) == '\\') 2 else 1)
        blank(i + 1, j); i = j + 1
      } else if (t(i) == '\'' && i + 2 < t.length && (t(i + 1) == '\\' || t(i + 2) == '\'')) {
        val e = end("'", i + 2); blank(i + 1, e - 1); i = e
      } else i += 1
    }
    new String(out)
  }

  /** Index just past the bracket matching the opener at `from`. */
  def closing(code: String, from: Int, open: Char, close: Char): Int = {
    var depth = 0
    var j = from
    while (j < code.length) {
      if (code(j) == open) depth += 1
      else if (code(j) == close) { depth -= 1; if (depth == 0) return j + 1 }
      j += 1
    }
    code.length
  }

  /** The innermost `def` of [[codeOnly]] text `code` whose body holds
    * offset `at`: its name and its offset, or None at top level.
    */
  def enclosingDef(code: String, at: Int): Option[(String, Int)] = {
    val depth = code.scanLeft(0) { (d, c) =>
      if (c == '{') d + 1 else if (c == '}') d - 1 else d }
    "\\bdef\\s+(\\w+)".r.findAllMatchIn(code.substring(0, at))
      .filter(d => depth(d.start) < depth(at)).toSeq.lastOption
      .map(d => (d.group(1), d.start))
  }
}
