package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // optional comma-separated filter (same contract as Bench's) for
    // single-query iteration; the driver sets no filter
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val selected = SparkEntry.selectQueries(only)
    val spark = GraftSession.local(appName = "verify")
    new java.io.File(outDir).mkdirs()
    val succeeded = scala.collection.mutable.TreeSet.empty[String]
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
          System.err.println(df.coalesce(1).queryExecution.executedPlan.toString.take(8000))
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        succeeded += name
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.2fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${SparkEntry.failureReason(e)}")
      }
    }
    // Verified-gates manifest (tools/verified_gates.txt, checked in):
    // RegistrySpec asserts every declared gate is listed, so a gate added
    // without a successful Verify run fails `sbt test` — the mechanical
    // form of the "no untested gate ships in a snapshot" process rule.
    // A filtered (SPARK_GRAFT_ONLY) run MERGES its successes; a full run
    // REWRITES the file to exactly the gates that dumped, so a renamed or
    // broken gate drops out. Best-effort: skipped when cwd isn't the repo.
    try {
      val manifest = Paths.get("tools", "verified_gates.txt")
      if (Files.isDirectory(Paths.get("tools"))) {
        val prior: Set[String] =
          if (Files.exists(manifest))
            Files.readString(manifest).split("\n").map(_.trim).filter(_.nonEmpty).toSet
          else Set.empty
        val updated =
          if (only.isDefined) (prior ++ succeeded).toSeq.sorted else succeeded.toSeq
        Files.writeString(manifest, updated.mkString("", "\n", "\n"))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[verify] manifest write skipped: ${SparkEntry.failureReason(e)}")
    }
    // the selected gates' oracles only, failed ones included, so a
    // filtered dump checks what it ran
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${SparkEntry.jsonString(k)}: ${SparkEntry.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
