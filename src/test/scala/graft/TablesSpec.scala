package graft

import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(2, "tables-spec")

  /** The footer read behind a parquet schema is a Spark job; `Tables`
    * pays it once per table path. Jobs are counted by job group through
    * the status tracker, which the listener bus feeds in order: once the
    * fresh table's job shows up, any job the repeat load started would
    * have shown up before it.
    */
  test("a second Tables.load of a table starts no job; a new path reads its own schema") {
    import spark.implicits._
    val root = tempDir("tables-spec")
    try {
      val (a, b) = (root.resolve("a").toString, root.resolve("b").toString)
      Seq((1L, 2.5)).toDF("id", "x").write.parquet(s"$a/t.parquet")
      Seq((1L, "s")).toDF("id", "name").write.parquet(s"$b/t.parquet")
      val sc = spark.sparkContext
      def inGroup(group: String)(body: => Unit): Unit = {
        sc.setJobGroup(group, group)
        try body finally sc.clearJobGroup()
      }
      Tables.load(spark, a, "t")
      inGroup("repeat")(Tables.load(spark, a, "t"))
      inGroup("fresh")(assert(Tables.load(spark, b, "t").columns.toSeq == Seq("id", "name")))
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (sc.statusTracker.getJobIdsForGroup("fresh").isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(sc.statusTracker.getJobIdsForGroup("fresh").nonEmpty,
        "a first load reads its footer in a job; none seen, so the count below proves nothing")
      assert(sc.statusTracker.getJobIdsForGroup("repeat").isEmpty)
      assert(Tables.load(spark, a, "t").columns.toSeq == Seq("id", "x"))
      assert(Tables.load(spark, a, "t").as[(Long, Double)].collect().toSeq == Seq((1L, 2.5)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
