package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Similarity._

/** Alternative formulations of the gated [[Similarity]] searches, kept
  * as their references: OperatorsSpec and RecallSpec hold each gated
  * path equal to (or within recall of) one of these. No gate or program
  * runs them.
  */
object SimilarityVariants {

  /** Ingest-time encode for the SQ tier: (id, scale, int8 codes) — the
    * artifact a query actually scans. Codes store as `tinyint` (the
    * honest 4× claim: 64 bytes + one double vs 256 float bytes);
    * zero-vectors are dropped, matching [[sqTopK]].
    */
  def sqEncode(embs: DataFrame, idCol: String, vecCol: String): DataFrame =
    embs
      .withColumn("__m",
        array_max(transform(col(vecCol), x => abs(x.cast("double")))))
      .filter(col("__m") > 0)
      .select(
        col(idCol),
        col("__m").as("scale"),
        transform(col(vecCol),
          x => round(lit(127.0) * x.cast("double") / col("__m")).cast("tinyint"))
          .as("codes"))

  /** [[sqTopK]] over a STORED codes table ([[sqEncode]] output):
    * queries never touch the float vectors. Scores
    * are identical to the inline form (spec-pinned): the same integer
    * dot, the same de-scale order, the same 6-dp round and tie-break.
    */
  def sqTopKFromCodes(
      codes: DataFrame, idCol: String,
      queryCodes: Array[Long], queryScale: Double, k: Int): DataFrame = {
    val qc = array(queryCodes.map(lit).toIndexedSeq: _*)
    codes
      .withColumn("__s",
        aggregate(zip_with(col("codes"), qc, (a, b) => a.cast("long") * b),
          lit(0L), (acc, x) => acc + x))
      .withColumn("approx",
        round(col("__s") * col("scale") * lit(queryScale) / lit(16129.0), 6))
      .select(col(idCol), col("approx"))
      .orderBy(desc("approx"), col(idCol))
      .limit(k)
  }


  /** Reference twin of [[mutualKnn]] kept for the equivalence spec:
    * self-[[knnDirected]] over the FULL corpus (n² cosines behind a
    * full-corpus broadcast — exact global ranks, but do not use beyond
    * ~10⁶ vectors) joined with its transpose. [[mutualKnn]] with
    * nCells = 1 reproduces this exactly.
    */
  def mutualKnnBrute(embs: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val queries = embs.select(col(idCol).as("__qid"), col(vecCol).as("__qv"))
    val knn = knnDirected(embs, queries, idCol, vecCol, "__qid", "__qv", k,
      excludeSelf = true)
      .select(col("__qid"), col(idCol).as("__nid"), col("sim"),
        col("rank").as("__rank"))
    mutualizeDirected(knn)
  }

  /** Reference twin of [[knnJoin]] kept for the equivalence spec: the
    * naive window-over-crossJoin plan. Correct, but exchanges the FULL
    * candidate set — do not use beyond test scale.
    */
  def knnJoinWindow(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String, qIdCol: String, qVecCol: String, k: Int): DataFrame = {
    val joined = corpus.crossJoin(broadcast(queries))
      .withColumn("sim", round(VectorFunctions.cosine(col(vecCol), col(qVecCol)), 6))
    val w = Window.partitionBy(col(qIdCol)).orderBy(desc("sim"), col(idCol))
    joined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col(idCol).cast("long").as(idCol), col("sim"), col("rank").cast("long").as("rank"))
  }


  /** IVF search with real k-means centroids: probe the `nProbe` cells whose
    * centroids are closest to the query, brute-force only inside them. The
    * pre-assigned corpus can be written partitioned by `cluster` so probes
    * become partition pruning at scan time.
    */
  def ivfKmeansTopK(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Double],
      k: Int,
      nClusters: Int = 8,
      nProbe: Int = 2,
      iters: Int = 5): DataFrame = {
    val (centroids, assigned) = kmeans(embs, idCol, vecCol, nClusters, iters)
    val probes = centroids.zipWithIndex
      .map { case (c, i) =>
        val d = c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum
        (i, d)
      }
      .sortBy(_._2)
      .take(nProbe)
      .map(_._1)
    val subset = embs.join(
      assigned.filter(col("cluster").isin(probes.map(Integer.valueOf).toIndexedSeq: _*)),
      Seq(idCol),
      "left_semi")
    bruteForceTopK(subset, idCol, vecCol, query, k)
  }


  /** Driver-side twin of [[VectorFunctions.hyperplaneSignature]]: SAME
    * seed → SAME planes → same cell for the same vector. Used to turn a
    * query vector into partition-pruning literals.
    */
  def hyperplaneCellLocal(v: Array[Double], bits: Int, seed: Long = 42L): Long = {
    val rnd = new scala.util.Random(seed)
    val planes: Seq[Array[Double]] = Seq.fill(bits)(Array.fill(v.length)(rnd.nextGaussian()))
    planes.zipWithIndex.foldLeft(0L) { case (acc, (p, i)) =>
      var dot = 0.0; var j = 0
      while (j < v.length) { dot += v(j) * p(j); j += 1 }
      if (dot >= 0.0) acc | (1L << i) else acc
    }
  }

  /** All cells within hamming `nProbe` of `cell` — the probe set as
    * LITERALS (Σ C(bits, i) values, i ≤ nProbe; 9 cells at 8/1).
    */
  def cellsWithinHamming(cell: Long, bits: Int, nProbe: Int): Seq[Long] =
    (0 to nProbe).flatMap(k =>
      (0 until bits).combinations(k).map(_.foldLeft(cell)((a, b) => a ^ (1L << b))))

  /** PHYSICAL IVF layout: write the corpus parquet PARTITIONED BY its
    * hyperplane cell (one directory per cell). This is the layout the
    * `ivfTopK` scaladoc promises: with it, probing stops being a
    * post-scan filter and becomes directory-level partition PRUNING —
    * at 10⁹+ rows a 1-probe query reads (nProbe-ball / 2^bits) of the
    * data and the rest is never opened.
    */
  def writeCellPartitioned(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      bits: Int = 8,
      seed: Long = 42L): Unit = {
    val dim = embs.select(size(col(vecCol))).first().getInt(0)
    embs
      .withColumn("__cell", VectorFunctions.hyperplaneSignature(col(vecCol), dim, bits, seed))
      .write
      .partitionBy("__cell")
      .mode("overwrite")
      .parquet(path)
  }

  /** Probe a cell-partitioned corpus ([[writeCellPartitioned]]): the
    * query's hamming-`nProbe` cell ball is enumerated driver-side and
    * pushed as an IN list on the PARTITION column, so the scan prunes to
    * those directories (PlanSpec-style assertion in the spec). Output ≡
    * [[ivfTopK]] on the same corpus/bits/nProbe.
    */
  def ivfTopKPruned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String,
      vecCol: String,
      query: Array[Double],
      k: Int,
      bits: Int = 8,
      nProbe: Int = 1,
      seed: Long = 42L): DataFrame = {
    val probeCells = cellsWithinHamming(hyperplaneCellLocal(query, bits, seed), bits, nProbe)
    val q = array(query.map(lit).toIndexedSeq: _*)
    spark.read.parquet(path)
      .filter(col("__cell").isin(probeCells: _*))
      .withColumn("sim", round(VectorFunctions.cosine(col(vecCol), q), 6))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }


  /** PQ in its production role — candidate generation + exact re-rank:
    * ADC shortlists `shortlist` ids (the cheap code-scan pass), then ONLY
    * those rows are re-scored with exact L2² (via the |v|² − 2v·q + |q|²
    * expansion on the codegen DotProduct expression) and cut to `topK`.
    * The expensive float read touches `shortlist` rows instead of the
    * corpus — the re-rank side is a broadcast semi join on the shortlist
    * ids. With `shortlist` = corpus size this is exactly brute force
    * (spec-pinned, along with recall monotonicity in `shortlist`).
    */
  def pqTopKRerank(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Double],
      topK: Int,
      shortlist: Int = 100,
      m: Int = 8,
      k: Int = 16,
      codebook: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val cb = codebook.getOrElse(pqCodebook(embs, idCol, vecCol, m, k))
    val ids = pqTopKFromCodes(pqEncode(embs, idCol, vecCol, cb), idCol, cb, query, shortlist)
      .select(col(idCol))
    val q = array(query.map(lit).toIndexedSeq: _*)
    val qq = query.map(x => x * x).sum
    embs
      .join(broadcast(ids), Seq(idCol), "left_semi")
      .withColumn(
        "d2",
        round(
          VectorFunctions.dot(col(vecCol), col(vecCol))
            - lit(2.0) * VectorFunctions.dot(col(vecCol), q) + lit(qq),
          6))
      .select(col(idCol), col("d2"))
      .orderBy(col("d2"), col(idCol))
      .limit(topK)
  }
}
