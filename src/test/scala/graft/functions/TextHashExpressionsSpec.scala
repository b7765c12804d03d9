package graft.functions

import graft.GraftSession
import graft.functions.expressions.{TextHashExpressions, TextHashKernel}
import graft.operators.Dedup
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen MinHash/SimHash expressions must be bit-identical to the
  * UDF tier (same kernel, same seeded permutations) — the DuckDB oracle
  * replay contracts were written against the UDF outputs, so any
  * divergence here silently breaks qd2-qd6.
  */
class TextHashExpressionsSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(2, "texthash-expr-spec")

  /** The UDF tier: the same kernel behind a ScalaUDF, row by row. */
  private def minHashSignatureUdf(shingleSize: Int, numHashes: Int, seed: Long = 42L): UserDefinedFunction = {
    val cs = Dedup.minHashCoefs(numHashes, seed)
    val (coefA, coefB) = (cs.map(_._1), cs.map(_._2))
    udf { (text: String) => TextHashKernel.minHashSignature(text, shingleSize, coefA, coefB) }
  }

  private val simHashUdf: UserDefinedFunction =
    udf { (text: String) => TextHashKernel.simHash64(text) }

  test("MinHashSignatureExpr output is bit-identical to the UDF tier on real documents") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val both = docs.select(
      TextHashExpressions.minHashSignature(col("text"), 3, 16).as("fast"),
      minHashSignatureUdf(3, 16)(col("text")).as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() === 0L)
  }

  test("SimHash64Expr output is bit-identical to the UDF tier on real documents") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val both = docs.select(
      TextHashExpressions.simHash64(col("text")).as("fast"),
      simHashUdf(col("text")).as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() === 0L)
  }

  test("null and empty text hash like the empty document and never yield null") {
    import spark.implicits._
    val df = Seq((1L, null: String), (2L, ""), (3L, "   "), (4L, "hello world"))
      .toDF("id", "text")
    val rows = df.select(
      col("id"),
      TextHashExpressions.minHashSignature(col("text"), 3, 16).as("mh"),
      TextHashExpressions.simHash64(col("text")).as("sh"))
      .orderBy("id")
      .collect()
    assert(rows.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
    // null ≡ "" ≡ "   " (tokenizer trims), all distinct from real text
    assert(rows(0).getSeq[Long](1) === rows(1).getSeq[Long](1))
    assert(rows(0).getSeq[Long](1) === rows(2).getSeq[Long](1))
    assert(rows(0).getLong(2) === rows(1).getLong(2))
    assert(rows(0).getSeq[Long](1) !== rows(3).getSeq[Long](1))
  }

  test("expression stays inside whole-stage codegen (no CodegenFallback / BatchEval wrapper)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = docs
      .select(TextHashExpressions.minHashSignature(col("text"), 3, 16).as("sig"),
        TextHashExpressions.simHash64(col("text")).as("sh"))
      .queryExecution.executedPlan
    // the `*(n)` prefix marks a whole-stage-codegen'd node; the projection
    // carrying both expressions must be inside one
    val s = plan.toString
    assert(s.linesIterator.exists(l => l.contains("*(") && l.contains("minhash_signature")),
      s"expected the minhash projection inside a codegen stage in:\n$s")
  }

  test("interpreted eval path (eval) matches codegen results") {
    // Drive eval() directly — the non-codegen fallback Spark uses in
    // interpreted mode must agree with doGenCode output.
    val texts = Seq(null, "", "a b c d e f", "The QUICK brown fox  jumps")
    texts.foreach { t =>
      val cs = TextHashKernel.minHashCoefs(16, 42L)
      val expected = TextHashKernel.minHashSignature(t, 3, cs.map(_._1), cs.map(_._2))
      import org.apache.spark.sql.catalyst.expressions.Literal
      val expr = graft.functions.expressions.MinHashSignatureExpr(Literal(t), 3, 16, 42L)
      val got = expr.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
      assert(got.toSeq === expected.toSeq, s"text=$t")
      val sExpr = graft.functions.expressions.SimHash64Expr(Literal(t))
      assert(sExpr.eval(null) === TextHashKernel.simHash64(t), s"simhash text=$t")
    }
  }

  test("WinnowFingerprintsExpr matches an independent md5-hex replay and " +
    "stays inside codegen") {
    import spark.implicits._
    // independent replay: hex-string parse (the oracle's formulation)
    // instead of the kernel's byte assembly
    def naive(text: String, k: Int, w: Int): Seq[Long] = {
      val toks = text.trim.toLowerCase(java.util.Locale.ROOT) match {
        case t if t.isEmpty => Array("")
        case t => t.split("\\s+")
      }
      val grams =
        if (toks.length < k) Seq(toks.mkString(" "))
        else toks.sliding(k).map(_.mkString(" ")).toSeq
      val md = java.security.MessageDigest.getInstance("MD5")
      val hs = grams.map { g =>
        val hex = md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(14), 16)
      }
      val mins =
        if (hs.length < w) Seq(hs.min)
        else hs.sliding(w).map(_.min).toSeq
      mins.distinct
    }
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "tiny", "a b c d e f g h i j k l", "")
    texts.zipWithIndex.foreach { case (t, i) =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      val expr = graft.functions.expressions.WinnowFingerprintsExpr(Literal(t), 4, 8)
      val got = expr.eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
      assert(got.toSeq === naive(t, 4, 8), s"text #$i")
    }
    // null in -> null out (callers filter; no LSH reason to hash nulls)
    import org.apache.spark.sql.catalyst.expressions.Literal
    assert(graft.functions.expressions
      .WinnowFingerprintsExpr(Literal.create(null,
        org.apache.spark.sql.types.StringType), 4, 8).eval(null) == null)
    // codegen-stage pin, the minhash pattern
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val s = docs
      .select(TextHashExpressions.winnowFingerprints(col("text"), 4, 8).as("fp"))
      .queryExecution.executedPlan.toString
    assert(s.linesIterator.exists(l => l.contains("*(") && l.contains("winnow_fingerprints")),
      s"expected the winnow projection inside a codegen stage in:\n$s")
  }

  test("SQL registry exposes minhash_signature and simhash64") {
    graft.functions.GraftFunctions.register(spark)
    graft.Tables.documents(spark, "/root/testdata/sf0.001").createOrReplaceTempView("thx_docs")
    val r = spark.sql(
      "SELECT minhash_signature(text, 3, 16) AS mh, simhash64(text) AS sh FROM thx_docs LIMIT 5").collect()
    assert(r.length === 5)
    assert(r.forall(row => row.getSeq[Long](0).length === 16))
  }
}
