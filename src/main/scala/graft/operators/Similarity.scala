package graft.operators

import graft.functions.VectorFunctions
import graft.functions.expressions.VectorExpressions.{round6, sqL2}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>` or
  * `array<double>`). Every search is the same three steps:
  *
  *  1. CANDIDATES — which corpus rows a query scores: the whole corpus
  *     (`bruteForceTopK`, `bruteForceTopKDot`, `sqTopK`, `knnJoin`,
  *     `hardNegatives`), a column prefix (`prefixRerankTopK`), the
  *     hyperplane cells within hamming `nProbe` of the query's
  *     (`ivfTopK`, `annRecall`), the margin-ranked probe cells
  *     (`multiProbeTopK`, `annRecallMultiProbe`, `multiProbeKnnJoin`),
  *     the shared seed cells (`mutualKnn`) or the coarse PQ cells
  *     (`ivfPqTopK`).
  *  2. SCORE — an exact score rounded to 6 dp before any cut, so the
  *     ranking is FP-stable and replays in SQL: cosine or dot through the
  *     codegen kernels, the int8 dot of `sqTopK`, or the PQ ADC lookup-sum.
  *  3. BOUNDED TOP-K on (score desc, id asc): for one literal query,
  *     `orderBy(...).limit(k)`, which plans as TakeOrderedAndProject;
  *     for a query table, the [[TopKByScore]] aggregator per query, whose
  *     map-side partials ship ≤ k rows per (query, partition) whatever
  *     the candidate count.
  *
  * The rest builds on those tails: `annRecall*` intersect an approximate
  * top-k with the exact one, `mutualKnn` transposes its edge list,
  * `ndcgAtK` and `mmrRerank` re-rank a brute-force pool, and `kmeans`
  * and the PQ codebooks are the cell quantizers.
  */
object Similarity {

  // ------------------------------------------------------ the shared tail

  /** The exact score every cosine path ranks on. */
  private def sim6(a: Column, b: Column): Column = round(VectorFunctions.cosine(a, b), 6)

  private def literal(v: Array[Double]): Column = array(v.toIndexedSeq.map(lit): _*)

  /** The global k-cut: TakeOrdered by (score desc, id asc), or ascending
    * for a distance.
    */
  private def topK(scored: DataFrame, score: String, id: String, k: Int,
      ascending: Boolean = false): DataFrame =
    scored.orderBy(if (ascending) col(score) else desc(score), col(id)).limit(k)

  /** Score every candidate into `name` and keep `(id, name)` for the top k. */
  private def scoreTopK(cands: DataFrame, idCol: String, name: String, score: Column,
      k: Int): DataFrame =
    topK(cands.withColumn(name, score).select(col(idCol), col(name)), name, idCol, k)

  /** The per-query k-cut: per `group` value the top k (score desc, id
    * asc) through the bounded [[TopKByScore]] aggregator, as rows
    * `(group, id, score, rank)` with the input's column names, `id` cast
    * to long and `rank` from 1. `distinct` collapses a (score, id) pair a
    * candidate generator emits twice.
    */
  private[operators] def topKPerGroup(scored: DataFrame, group: String, score: String,
      id: String, k: Int, distinct: Boolean = false): DataFrame =
    scored
      .groupBy(col(group))
      .agg(udaf(new TopKByScore(k, distinct)).apply(col(score), col(id).cast("long")).as("__topk"))
      .select(col(group), posexplode(col("__topk")))
      .select(col(group), col("col._2").as(id), col("col._1").as(score),
        (col("pos") + 1).cast("long").as("rank"))

  // ------------------------------------------------ one literal query

  /** Exact top-k by cosine against one literal query vector. */
  def bruteForceTopK(embs: DataFrame, idCol: String, vecCol: String, query: Array[Double], k: Int): DataFrame =
    scoreTopK(embs, idCol, "sim", sim6(col(vecCol), literal(query)), k)

  /** MATRYOSHKA two-stage search (Kusupati et al. 2022): rank by the
    * cosine of the first `dPrefix` dimensions, keep `candidates`, re-score
    * those with the full vector and return the top `k`. MRL-trained
    * embeddings concentrate coarse semantics in the prefix, so the cheap
    * stage reads dPrefix/d of the data; at scale the prefix is its own
    * parquet column and stage 1 is a column-pruned scan.
    */
  def prefixRerankTopK(
      embs: DataFrame, idCol: String, vecCol: String, query: Array[Double],
      dPrefix: Int, candidates: Int, k: Int): DataFrame = {
    require(dPrefix >= 1 && dPrefix <= query.length,
      s"dPrefix must be in [1, ${query.length}], got $dPrefix")
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val pool = topK(embs.withColumn("sim_prefix",
      sim6(slice(col(vecCol), 1, dPrefix), literal(query.take(dPrefix)))),
      "sim_prefix", idCol, candidates)
    topK(pool.withColumn("sim", sim6(col(vecCol), literal(query)))
      .select(col(idCol), col("sim_prefix"), col("sim")), "sim", idCol, k)
  }

  /** RANGE SEARCH — every corpus vector whose 6-dp cosine to the query is
    * at least `minSim`: a scan plus a codegen filter, with no cut, sort,
    * shuffle or driver state, so it streams at any corpus size.
    */
  def radiusSearch(
      embs: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], minSim: Double): DataFrame =
    embs
      .withColumn("sim", sim6(col(vecCol), literal(query)))
      .filter(col("sim") >= minSim)
      .select(col(idCol), col("sim"))

  /** RANDOM-PROJECTION dimensionality reduction (Johnson–Lindenstrauss
    * with an Achlioptas ±1 sign matrix): out_j = (Σᵢ vᵢ·s_ij)/√d'. The
    * sign matrix is derived, not stored: s_ij = ±1 from the parity of an
    * md5 prefix of "j|i", computed once at plan-build time and entering
    * the plan as literal arrays (computed per row it cost 2.5 s at 50k
    * vectors). The inner sum is a sequential left fold, which the oracle
    * replays term for term. Output is long-form `(id, dim 1..d', proj)`.
    * √d' is exact when d' is a perfect square (the qs11 gate uses 16).
    * `inDims` must equal the vector length: a shorter vector null-poisons
    * its rows (zip_with pads) instead of silently truncating.
    */
  def randomProjection(
      embs: DataFrame, idCol: String, vecCol: String, outDims: Int,
      inDims: Int = 64): DataFrame = {
    require(outDims >= 1, s"outDims must be >= 1, got $outDims")
    require(inDims >= 1, s"inDims must be >= 1, got $inDims")
    val md = java.security.MessageDigest.getInstance("MD5")
    def sgn(j: Int, i: Int): Double = {
      val h = md.digest(s"$j|$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 hex digits = first 4 bytes as an unsigned 32-bit value
      val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      if (v % 2 == 0) 1.0 else -1.0
    }
    val structs = (1 to outDims).map { j =>
      val srow = array((1 to inDims).map(i => lit(sgn(j, i))): _*)
      struct(
        lit(j).as("j"),
        (aggregate(
          zip_with(slice(col(vecCol), 1, inDims), srow,
            (x, s) => x.cast("double") * s),
          lit(0.0), (a, b) => a + b) / lit(math.sqrt(outDims.toDouble))).as("v"))
    }
    embs.select(col(idCol), explode(array(structs: _*)).as("__p"))
      .select(
        col(idCol),
        col("__p.j").cast("int").as("dim"),
        round(col("__p.v"), 6).as("proj"))
  }

  /** Exact top-k by raw dot product (maximum inner-product search), for
    * pre-normalized embeddings or when magnitude carries signal.
    */
  def bruteForceTopKDot(embs: DataFrame, idCol: String, vecCol: String, query: Array[Double], k: Int): DataFrame =
    scoreTopK(embs, idCol, "dot", round(VectorFunctions.dot(col(vecCol), literal(query)), 6), k)

  /** SCALAR-QUANTIZED (int8) top-k — the memory tier between float brute
    * force and PQ: each vector is 64 one-byte codes plus one scale
    * (max-abs symmetric, `code_i = round(127·v_i / max|v|)`), a 4× cut.
    * The score is an integer dot over codes, de-scaled once per row
    * (`S·m·qm / 127²`), every intermediate exact. The query's codes come
    * from [[sqQuantizeQuery]] on the driver and reach both engines as the
    * same literal (Scala rounds half up, SQL half away from zero).
    * Zero vectors (m = 0) cannot be ranked and are dropped.
    */
  def sqTopK(
      embs: DataFrame, idCol: String, vecCol: String,
      queryCodes: Array[Long], queryScale: Double, k: Int): DataFrame = {
    val qc = array(queryCodes.toIndexedSeq.map(lit): _*)
    val coded = embs
      .withColumn("__m",
        array_max(transform(col(vecCol), x => abs(x.cast("double")))))
      .filter(col("__m") > 0)
      .withColumn("__codes",
        transform(col(vecCol),
          x => round(lit(127.0) * x.cast("double") / col("__m")).cast("long")))
      .withColumn("__s",
        aggregate(zip_with(col("__codes"), qc, (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
    scoreTopK(coded, idCol, "approx",
      round(col("__s") * col("__m") * lit(queryScale) / lit(16129.0), 6), k)
  }

  /** Driver-side query quantization for [[sqTopK]]: (codes, maxAbs). */
  def sqQuantizeQuery(query: Array[Double]): (Array[Long], Double) = {
    val m = query.map(math.abs).max
    require(m > 0, "zero query vector")
    (query.map(x => math.round(127.0 * x / m)), m)
  }

  // ------------------------------------------------ a table of queries

  /** Exact k-NN join: for each row of the small `queries` side, the top k
    * corpus rows by cosine, ties to the lower corpus id. Queries broadcast
    * into a nested loop, the corpus scans once, and the per-query cut
    * rides [[topKPerGroup]], so the exchange carries O(|queries| ·
    * partitions · k) rows however large the corpus is. `idCol` must be
    * long-castable.
    */
  def knnJoin(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String, qIdCol: String, qVecCol: String, k: Int): DataFrame =
    knnDirected(corpus, queries, idCol, vecCol, qIdCol, qVecCol, k, excludeSelf = false)

  /** The directed kNN behind [[knnJoin]], recall truth and the spec's
    * brute mutual-kNN: `excludeSelf` drops the self pair before the cut,
    * so k means k OTHER vectors when the queries are the corpus.
    */
  private[operators] def knnDirected(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      qIdCol: String, qVecCol: String, k: Int, excludeSelf: Boolean): DataFrame = {
    val joined = corpus.crossJoin(broadcast(queries))
    val cands = if (excludeSelf) joined.filter(col(idCol) =!= col(qIdCol)) else joined
    topKPerGroup(cands.withColumn("sim", sim6(col(vecCol), col(qVecCol))),
      qIdCol, "sim", idCol, k)
  }

  /** MUTUAL k-NN PAIRS — the pairs (a, b) where each is in the other's
    * top k by cosine among its candidates, self excluded: the reciprocal
    * criterion behind density-aware dedup and kNN-graph construction.
    *
    * Candidates: the cells are the `nCells` lowest-id vectors (argmin of
    * 6-dp L2², lowest index on ties, the [[pqCodebook]] m = 1 contract),
    * each vector probes its `nProbe` nearest cells, and a pair is a
    * candidate iff the two probe sets intersect. That relation is
    * symmetric, so one direction can never miss the other's candidate.
    * A pair sharing both probed cells enters the join twice, so the cut
    * runs with `distinct`. Cosine is symmetric bit for bit, so the
    * transpose join sees the same rounded score both ways.
    *
    * Recall: ranks are exact within the candidate graph; a true neighbour
    * whose probe set is disjoint from the query's is missed. Grow
    * `nCells` with the corpus (occupancy ~ nProbe·n/nCells); nCells = 1
    * is exactly the brute-force self-kNN (RecallSpec pins both that and
    * a constructed miss). No full-corpus broadcast and no cartesian
    * (PlanSpec): the seeds are an nCells-row collect and the cell join
    * shuffles n·nProbe rows.
    */
  def mutualKnn(
      embs: DataFrame, idCol: String, vecCol: String, k: Int, nCells: Int = 64,
      nProbe: Int = 2): DataFrame =
    mutualizeDirected(mutualKnnEdges(embs, idCol, vecCol, k, nCells, nProbe))

  /** The directed edge list behind [[mutualKnn]], before the transpose
    * checkpoint hides it from the gate plan (PlanSpec reads its shape).
    */
  private[graft] def mutualKnnEdges(
      embs: DataFrame, idCol: String, vecCol: String, k: Int, nCells: Int,
      nProbe: Int): DataFrame = {
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    require(nProbe >= 1 && nProbe <= nCells,
      s"nProbe must be in [1, nCells], got $nProbe")
    val seeds: Array[Array[Double]] = embs
      .orderBy(col(idCol))
      .limit(nCells)
      .select(col(vecCol).cast("array<double>"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    // the probe is n·nCells·dim work, so it runs in the codegen kernel
    val cells = embs
      .select(col(idCol), col(vecCol))
      .withColumn("__cell", explode(graft.functions.expressions.VectorExpressions
        .nearestCells(col(vecCol), seeds, math.min(nProbe, seeds.length))))
    val a = cells.select(col(idCol).as("__qid"), col(vecCol).as("__qv"), col("__cell"))
    val b = cells.select(col(idCol).as("__nid"), col(vecCol).as("__nv"), col("__cell"))
    val cands = a.join(b, Seq("__cell"))
      .filter(col("__qid") =!= col("__nid"))
      .withColumn("sim", sim6(col("__qv"), col("__nv")))
    topKPerGroup(cands, "__qid", "sim", "__nid", k, distinct = true)
      .withColumnRenamed("rank", "__rank")
  }

  /** Transpose-join a directed (__qid, __nid, sim, __rank) edge list into
    * mutual pairs (a < b). The edges `localCheckpoint` first: fwd and rev
    * read the same frame, and without the cut Catalyst plans candidate
    * generation and scoring twice. Edges are n·k rows, so the
    * materialization is the cheap side.
    */
  private[operators] def mutualizeDirected(knn: DataFrame): DataFrame = {
    val edges = knn.localCheckpoint(true)
    val fwd = edges.select(col("__qid").as("id_a"), col("__nid").as("id_b"),
      col("sim"), col("__rank").as("rank_ab"))
    val rev = edges.select(col("__qid").as("__rb"), col("__nid").as("__ra"),
      col("__rank").as("rank_ba"))
    fwd
      .join(rev, col("id_a") === col("__ra") && col("id_b") === col("__rb"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sim"),
        col("rank_ab"), col("rank_ba"))
  }

  /** HARD-NEGATIVE MINING — per anchor, the top k corpus vectors inside
    * the similarity band `lo ≤ cosine < hi`: similar enough to teach the
    * margin, below the near-duplicate region. Self pairs are excluded
    * before the band; the shape is [[knnJoin]]'s.
    */
  def hardNegatives(
      corpus: DataFrame, anchors: DataFrame, idCol: String, vecCol: String,
      anchorIdCol: String, anchorVecCol: String, lo: Double, hi: Double,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val cands = corpus.crossJoin(broadcast(anchors))
      .filter(col(idCol) =!= col(anchorIdCol))
      .withColumn("__sim", sim6(col(vecCol), col(anchorVecCol)))
      .filter(col("__sim") >= lo && col("__sim") < hi)
    topKPerGroup(cands, anchorIdCol, "__sim", idCol, k)
      .select(
        col(anchorIdCol).as("anchor_id"),
        col(idCol).as("neg_id"),
        col("__sim").as("sim"),
        col("rank"))
  }

  /** BUCKETED DBSCAN over an embedding column — density-based cluster
    * labels with no preset cluster count. Neighbours of a are the vectors
    * b ≠ a sharing a's `bits`-bit hyperplane signature (the qd5 LSH) with
    * cosine ≥ `simThreshold`; cross-bucket pairs are out of scope by
    * design, which keeps the pair stage Θ(bucket²), never Θ(n²).
    *
    *  - core ⟺ at least `minPts` neighbours (other vectors);
    *  - clusters = connected components over core–core edges
    *    ([[Dedup.connectedComponents]]; a lone core keeps its own id);
    *  - border = non-core with a core neighbour, labelled by its MINIMUM
    *    core neighbour's cluster (no visit-order dependence);
    *  - everything else is noise, cluster −1.
    *
    * Output `(vec_id, role ∈ core|border|noise, cluster)`. The pair stage
    * is Θ(n · n/2^bits), so `bits` must grow with log₂(n).
    */
  def dbscanCosine(
      embs: DataFrame, idCol: String, vecCol: String, dim: Int, simThreshold: Double,
      minPts: Int, bits: Int = 8, seed: Long = 42L): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val sigs = embs
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .withColumn("__sig",
        VectorFunctions.hyperplaneSignature(col("__v"), dim, bits, seed))
    // bucket-local edges, both directions; checkpointed because degrees,
    // core-core edges and border labels all read them
    val nbr = sigs.select(col("__sig"), col("__id").as("__a"), col("__v").as("__va"))
      .join(sigs.select(col("__sig"), col("__id").as("__b"), col("__v").as("__vb")),
        Seq("__sig"))
      .filter(col("__a") =!= col("__b"))
      .filter(VectorFunctions.cosine(col("__va"), col("__vb")) >= simThreshold)
      .select(col("__a"), col("__b"))
      .localCheckpoint(true)
    val core = nbr.groupBy(col("__a")).agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") >= minPts)
      .select(col("__a").as("__cid"))
    val coreEdges = nbr
      .join(core.select(col("__cid").as("__a")), Seq("__a"))
      .join(core.select(col("__cid").as("__b")), Seq("__b"))
      .filter(col("__a") < col("__b"))
      .select(col("__a"), col("__b"))
    val cc = Dedup.connectedComponents(coreEdges, "__a", "__b")
    val coreLabels = core
      .join(cc, core("__cid") === cc("id"), "left_outer")
      .select(col("__cid"), coalesce(col("label"), col("__cid")).as("__lbl"))
    val borderLabels = nbr
      .join(coreLabels.select(col("__cid").as("__b"), col("__lbl")), Seq("__b"))
      .join(core.select(col("__cid").as("__a")), Seq("__a"), "left_anti")
      .groupBy(col("__a"))
      .agg(min(col("__lbl")).as("__blbl"))
    embs.select(col(idCol).cast("long").as("vec_id"))
      .join(coreLabels.select(col("__cid").as("vec_id"),
        col("__lbl").as("__core_lbl")), Seq("vec_id"), "left_outer")
      .join(borderLabels.select(col("__a").as("vec_id"), col("__blbl")),
        Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        when(col("__core_lbl").isNotNull, lit("core"))
          .when(col("__blbl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("__core_lbl"), col("__blbl"), lit(-1L)).as("cluster"))
  }

  /** Index of the smallest `dist(c)` for c < n, the first one on ties. */
  private def argmin(n: Int)(dist: Int => Double): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < n) {
      val d = dist(c)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Distributed Lloyd's k-means over an embedding column: the k×dim
    * centroids stay on the driver and enter a compiled assignment UDF; the
    * update is a distributed posexplode + per-(cluster, dim) average.
    * Deterministic: init = the k lowest-id vectors.
    *
    * Returns (centroids, assignments(id, cluster)).
    */
  def kmeans(
      embs: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 5): (Array[Array[Double]], DataFrame) = {
    def assignUdf(cents: Array[Array[Double]]) = udf { (v: Seq[Float]) =>
      argmin(cents.length)(c =>
        sqL2(i => v(i), 0, cents(c), math.min(cents(c).length, v.length)))
    }

    // Lloyd scans the same corpus iters + 1 times: persist the projected
    // (id, vec) once (the init job below fills the cache) and release it
    // before returning; the lazy assignment recomputes from the source
    val proj = embs.select(col(idCol), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids =
      try {
        var cents: Array[Array[Double]] = proj
          .orderBy(col(idCol))
          .limit(k)
          .select(col(vecCol))
          .collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toArray)
        (0 until iters).foreach { _ =>
          val updated = proj
            .withColumn("cluster", assignUdf(cents)(col(vecCol)))
            .select(col("cluster"), posexplode(col(vecCol)).as(Seq("pos", "elem")))
            .groupBy(col("cluster"), col("pos"))
            .agg(avg(col("elem")).as("m"))
            .collect()
          val next = cents.map(_.clone())
          updated.foreach { r =>
            next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
          }
          cents = next
        }
        cents
      } finally proj.unpersist(blocking = false)
    // assign against the FINAL centroids, so the pair is consistent
    val assigned = embs.withColumn("cluster", assignUdf(centroids)(col(vecCol)))
    (centroids, assigned.select(col(idCol), col("cluster")))
  }

  // ------------------------------------------------ hyperplane cells

  /** IVF/LSH-bucketed top-k for one literal query: only corpus rows whose
    * `bits`-bit hyperplane cell is within hamming `nProbe` of the query's
    * are scored. The cell is a pure column expression, so a corpus written
    * bucketed by cell prunes partitions. Recall < 1 by construction
    * (RecallSpec: recall@10 ≥ 0.9 at bits = 6, nProbe = 2 on its
    * clustered corpus); nProbe = bits probes every cell and is brute force.
    */
  def ivfTopK(
      embs: DataFrame, idCol: String, vecCol: String, query: Array[Double], k: Int,
      bits: Int = 8, nProbe: Int = 1): DataFrame = {
    val dim = query.length
    val q = literal(query)
    val qCell = VectorFunctions.hyperplaneSignature(q, dim, bits)
    val cands = embs
      .withColumn("__cell", VectorFunctions.hyperplaneSignature(col(vecCol), dim, bits))
      .filter(bit_count(col("__cell").bitwiseXOR(qCell)) <= nProbe)
    scoreTopK(cands, idCol, "sim", sim6(col(vecCol), q), k)
  }

  /** The hyperplanes of a multi-probe search, after its shared checks. */
  private def probePlanes(dim: Int, bits: Int, nCand: Int, seed: Long): Seq[Array[Double]] = {
    require(bits >= 1 && bits <= 16,
      s"bits must be in [1, 16] (probe enumeration is 2^bits per query), got $bits")
    require(nCand >= 1 && nCand <= (1 << bits),
      s"nCand must be in [1, 2^bits], got $nCand")
    VectorFunctions.hyperplanes(dim, bits, seed)
  }

  /** The `nCand` cells one query probes: its own hyperplane cell xor each
    * of the [[multiProbeMasks]] ranked by its µ-margins ⌊|q·p|·10⁶ + ½⌋.
    * The bits match [[VectorFunctions.hyperplaneSignature]]'s (same
    * planes, same fold order).
    */
  private def probeCells(planes: Seq[Array[Double]], q: Array[Double], nCand: Int): Seq[Long] = {
    val dots = planes.map { p =>
      var dot = 0.0; var j = 0
      while (j < p.length) { dot += q(j) * p(j); j += 1 }
      dot
    }
    val cell = dots.zipWithIndex.foldLeft(0L) { case (c, (d, b)) =>
      if (d >= 0.0) c | (1L << b) else c
    }
    val micro = dots.map(d => math.floor(math.abs(d) * 1e6 + 0.5).toLong).toArray
    multiProbeMasks(micro, planes.length, nCand).map(cell ^ _)
  }

  /** `(__qid, __cell)` for every probe cell of every row of `queries`
    * (`__qid`, `__qv`), computed on the driver over the collected rows:
    * queries are the bounded side of every search in this tier.
    */
  private def probeTable(queries: DataFrame, planes: Seq[Array[Double]], nCand: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries
      .select(col("__qid").cast("long"), col("__qv").cast("array<double>"))
      .collect()
      .flatMap(r => probeCells(planes, r.getSeq[Double](1).toArray, nCand).map((r.getLong(0), _)))
      .toSeq.toDF("__qid", "__cell")
  }

  /** MULTI-PROBE top-k for one literal query: the probe cells are the
    * `nCand` chosen by the query's hyperplane margins instead of
    * [[ivfTopK]]'s blind hamming ball, which buys more recall at the same
    * cell budget (0.8583 → 1.0000 mean recall@10 at 11/1024 cells on the
    * clustered RecallSpec corpus). They enter the plan as `isin` literals
    * on the signature column, so a cell-partitioned corpus is read only in
    * the probed cells.
    */
  def multiProbeTopK(
      embs: DataFrame, idCol: String, vecCol: String, query: Array[Double], k: Int,
      bits: Int = 8, nCand: Int = 9, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dim = query.length
    val probes = probeCells(probePlanes(dim, bits, nCand, seed), query, nCand)
    val cands = embs
      .withColumn("__cell",
        VectorFunctions.hyperplaneSignature(col(vecCol), dim, bits, seed))
      .filter(col("__cell").isin(probes.map(java.lang.Long.valueOf): _*))
    scoreTopK(cands, idCol, "sim", sim6(col(vecCol), literal(query)), k)
  }

  /** Recall@k of an approximate candidate rule for the `numQueries`
    * lowest-id corpus vectors, which one ordered-limit job collects to a
    * local relation: `candidates(queries)` joins the signed
    * corpus (`__sig`) to the queries (`__qid`, `__qv`, `__qsig`); both it
    * and the exact truth cut self-excluded 6-dp cosine top k, and
    * `recall = |approx ∩ exact| / k` per query, rounded to 6 dp.
    */
  private def recallAtK(embs: DataFrame, idCol: String, vecCol: String, sigd: DataFrame,
      k: Int, numQueries: Int)(candidates: DataFrame => DataFrame): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(numQueries >= 1, s"numQueries must be >= 1, got $numQueries")
    // the ≤ numQueries query rows, collected once into a local relation
    // that truth, candidates and the recall tail all read: a shared lazy
    // frame would re-run the ordered limit over a full corpus scan in each
    val top = sigd
      .orderBy(col(idCol))
      .limit(numQueries)
      .select(col(idCol).as("__qid"), col(vecCol).as("__qv"),
        col("__sig").as("__qsig"))
    val queries = sigd.sparkSession.createDataFrame(
      java.util.Arrays.asList(top.collect(): _*), top.schema)
    val truth = knnDirected(
      embs, queries.select(col("__qid"), col("__qv")),
      idCol, vecCol, "__qid", "__qv", k, excludeSelf = true)
      .select(col("__qid"), col(idCol))
    val approx = topKPerGroup(
      candidates(queries)
        .filter(col(idCol) =!= col("__qid"))
        .withColumn("sim", sim6(col(vecCol), col("__qv"))),
      "__qid", "sim", idCol, k)
      .select(col("__qid"), col(idCol))
    val hits = truth
      .join(approx, Seq("__qid", idCol), "left_semi")
      .groupBy(col("__qid"))
      .agg(count(lit(1)).as("n_hit"))
    queries
      .select(col("__qid"))
      .join(hits, Seq("__qid"), "left")
      .na.fill(0L, Seq("n_hit"))
      .select(col("__qid").as("query_id"), col("n_hit"),
        round(col("n_hit").cast("double") / lit(k.toDouble), 6).as("recall"))
      .orderBy(col("query_id"))
  }

  /** ANN RECALL@K of [[ivfTopK]]'s candidate rule (corpus rows within
    * hamming `nProbe` of the query's `bits`-bit signature): the read that
    * tunes `bits` and `nProbe`. Queries broadcast into the ball filter.
    */
  def annRecall(
      embs: DataFrame, idCol: String, vecCol: String, dim: Int, k: Int, bits: Int = 8,
      nProbe: Int = 1, numQueries: Int = 16): DataFrame = {
    val sigd = embs.withColumn(
      "__sig", VectorFunctions.hyperplaneSignature(col(vecCol), dim, bits))
    recallAtK(embs, idCol, vecCol, sigd, k, numQueries)(queries =>
      sigd.crossJoin(broadcast(queries))
        .filter(bit_count(col("__sig").bitwiseXOR(col("__qsig"))) <= nProbe))
  }

  /** MULTI-PROBE ANN RECALL@K — [[annRecall]] with the probe set chosen by
    * query margins (Lv et al. 2007, "Multi-probe LSH"): a bit is likely
    * wrong exactly when the query sits close to its plane, so the best
    * probes minimize the summed squared margins of the flipped bits.
    * Measured at a fixed cell budget, mean recall@10: RecallSpec's
    * clustered corpus (dim 16, bits 10, 11/1024 cells) 0.8583 → 1.0000;
    * the qs18/qs19 gates (sf0.01, dim 64, bits 8, 9/256 cells) 0.0500 →
    * 0.0625, where the near-uniform corpus bounds any 9-cell scheme.
    *
    * The probe masks are an exact integer ranking on the driver
    * ([[multiProbeMasks]]; `bits` ≤ 16 keeps the 2^bits enumeration
    * trivial), and candidates come from a broadcast EQUI-join on the cell
    * key, which is directory pruning against a cell-partitioned corpus.
    * Masks are distinct, so a corpus row matches one probe per query.
    */
  def annRecallMultiProbe(
      embs: DataFrame, idCol: String, vecCol: String, dim: Int, k: Int, bits: Int = 8,
      nCand: Int = 9, numQueries: Int = 16, seed: Long = 42L): DataFrame = {
    val planes = probePlanes(dim, bits, nCand, seed)
    val sigd = embs.withColumn(
      "__sig", VectorFunctions.hyperplaneSignature(col(vecCol), dim, bits, seed))
    recallAtK(embs, idCol, vecCol, sigd, k, numQueries) { queries =>
      val qv = queries.select(col("__qid"), col("__qv"))
      val probes = probeTable(qv, planes, nCand)
      sigd
        .join(broadcast(probes), sigd("__sig") === probes("__cell"))
        .join(broadcast(qv), Seq("__qid"))
    }
  }

  /** MULTI-PROBE kNN JOIN — [[multiProbeTopK]] for a query table: per
    * query row, the approximate cosine top k from its margin-ranked probe
    * cells. Queries collect to the driver for their probe masks, the
    * probe set broadcasts and candidates come from the `__sig` equi-join.
    * Output `(query_id, <idCol>, sim)`, ≤ k rows per query.
    */
  def multiProbeKnnJoin(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      qIdCol: String, qVecCol: String, dim: Int, k: Int, bits: Int = 8, nCand: Int = 9,
      seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val qv = queries.select(col(qIdCol).cast("long").as("__qid"),
      col(qVecCol).as("__qv"))
    val probes = probeTable(qv, probePlanes(dim, bits, nCand, seed), nCand)
    val sigd = corpus.withColumn(
      "__sig", VectorFunctions.hyperplaneSignature(col(vecCol), dim, bits, seed))
    val cands = sigd
      .join(broadcast(probes), sigd("__sig") === probes("__cell"))
      .join(broadcast(qv), Seq("__qid"))
      .withColumn("sim", sim6(col(vecCol), col("__qv")))
    topKPerGroup(cands, "__qid", "sim", idCol, k)
      .select(col("__qid").as("query_id"), col(idCol), col("sim"))
  }

  /** The `nCand` lowest-(Σ flipped µ-margin², mask) probe masks over
    * all 2^bits signature perturbations — exact integer arithmetic
    * throughout, so the ranking replays verbatim in SQL. Package-
    * private for direct unit probing.
    */
  private[graft] def multiProbeMasks(
      microMargins: Array[Long], bits: Int, nCand: Int): Seq[Long] = {
    require(microMargins.length == bits,
      s"need one margin per bit: ${microMargins.length} != $bits")
    val scored = (0 until (1 << bits)).map { m =>
      var s = 0L
      var b = 0
      while (b < bits) {
        if (((m >> b) & 1) == 1) {
          val mu = microMargins(b)
          s += mu * mu
        }
        b += 1
      }
      (s, m.toLong)
    }
    scored.sortBy(identity).take(nCand).map(_._2)
  }

  // ------------------------------------------------ product quantization

  /** Deterministic PQ codebook (Jégou et al. 2011): the space splits into
    * `m` subspaces with `k` centroids each, taken from the `k` lowest-id
    * vectors, so an SQL oracle re-derives it exactly ([[pqCodebookKmeans]]
    * trades that for recall). Collected on the driver (k rows). Returns
    * `[subspace][code][dsub]`.
    */
  def pqCodebook(
      embs: DataFrame, idCol: String, vecCol: String, m: Int,
      k: Int): Array[Array[Array[Double]]] = {
    val seeds = embs
      .orderBy(col(idCol))
      .limit(k)
      .select(col(vecCol).cast("array<double>"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(seeds.length == k, s"corpus smaller than codebook k=$k")
    val dsub = seeds(0).length / m
    Array.tabulate(m, k)((s, c) => seeds(c).slice(s * dsub, (s + 1) * dsub))
  }

  /** Lloyd-refined PQ codebook: per subspace, [[kmeans]] over the
    * corpus's subvectors (init = the k lowest-id subvectors, so it is
    * reproducible). Higher recall than [[pqCodebook]] at the same code
    * budget (RecallSpec), at the cost of SQL replay; m·iters small jobs
    * at ingest.
    */
  def pqCodebookKmeans(
      embs: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
      iters: Int = 4): Array[Array[Array[Double]]] = {
    val dim = embs.select(size(col(vecCol))).first().getInt(0)
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val sub = embs.select(
        col(idCol),
        expr(s"slice($vecCol, ${s * dsub + 1}, $dsub)").as("__sub"))
      kmeans(sub, idCol, "__sub", k, iters)._1
    }
  }

  /** PQ-encode the corpus: each vector becomes `m` codes, a 64-float
    * vector (256 B) m = 8 bytes. Per (vector, subspace) the code is the
    * argmin of the 6-dp-rounded L2² to each centroid, lowest code on ties,
    * both rules the oracle replays.
    */
  def pqEncode(
      embs: DataFrame, idCol: String, vecCol: String,
      codebook: Array[Array[Array[Double]]]): DataFrame = {
    val bc = embs.sparkSession.sparkContext.broadcast(codebook)
    val enc = udf { (v: Seq[Double]) =>
      val cb = bc.value
      val dsub = cb(0)(0).length
      Array.tabulate(cb.length) { s =>
        argmin(cb(s).length)(c => round6(sqL2(v, s * dsub, cb(s)(c), dsub)))
      }
    }
    embs.select(
      col(idCol),
      enc(col(vecCol).cast("array<double>")).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query is not
    * quantized; per subspace the exact query-to-centroid L2² table is
    * built once on the driver, and a candidate's distance is the sum of
    * its m lookups — no float vector is read at query time. Table entries
    * and sums round to 6 dp; ties break on ascending id.
    */
  def pqTopK(
      embs: DataFrame, idCol: String, vecCol: String, query: Array[Double], topK: Int,
      m: Int = 8, k: Int = 16): DataFrame = {
    val codebook = pqCodebook(embs, idCol, vecCol, m, k)
    pqTopKFromCodes(pqEncode(embs, idCol, vecCol, codebook), idCol, codebook, query, topK)
  }

  /** ADC top-k over a STORED codes table: [[pqEncode]] runs once at
    * ingest and queries scan m bytes + id per vector; [[pqTopK]] is this
    * plus an inline encode.
    */
  def pqTopKFromCodes(
      codes: DataFrame, idCol: String, codebook: Array[Array[Array[Double]]],
      query: Array[Double], topK: Int): DataFrame = {
    val dsub = query.length / codebook.length
    val table = Array.tabulate(codebook.length, codebook(0).length) { (s, c) =>
      round6(sqL2(query(_), s * dsub, codebook(s)(c), dsub))
    }
    val bc = codes.sparkSession.sparkContext.broadcast(table)
    val adc = udf { (cs: Seq[Int]) =>
      val t = bc.value
      var acc = 0.0
      var s = 0
      while (s < cs.length) { acc += t(s)(cs(s)); s += 1 }
      round6(acc)
    }
    this.topK(codes.select(col(idCol), adc(col("codes")).as("adc")), "adc", idCol, topK,
      ascending = true)
  }

  /** IVF·PQ — the FAISS two-level composition: a coarse seed-cell
    * quantizer keeps the corpus rows in the query's `nProbe` nearest cells
    * (the [[mutualKnn]] assignment rule, used for the query's probes too),
    * then [[pqTopKFromCodes]] with the full-corpus seed codebook ranks the
    * survivors. Both rules replay in SQL.
    */
  def ivfPqTopK(
      embs: DataFrame, idCol: String, vecCol: String, query: Array[Double], topK: Int,
      nCells: Int = 8, nProbe: Int = 2, m: Int = 8, k: Int = 16): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells,
      s"nProbe must be in [1, nCells], got $nProbe")
    val coarse = pqCodebook(embs, idCol, vecCol, 1, nCells)(0)
    def dist(i: Int) = round6(sqL2(query(_), 0, coarse(i), math.min(coarse(i).length, query.length)))
    val probes = coarse.indices.sortBy(i => (dist(i), i)).take(nProbe)
    val probedIds = pqEncode(embs, idCol, vecCol, Array(coarse))
      .select(col(idCol), col("codes").getItem(0).as("__cell"))
      .filter(col("__cell").isin(probes.map(Integer.valueOf): _*))
      .select(col(idCol))
    val subset = embs.join(probedIds, Seq(idCol), "left_semi")
    val fine = pqCodebook(embs, idCol, vecCol, m, k)
    pqTopKFromCodes(pqEncode(subset, idCol, vecCol, fine), idCol, fine, query, topK)
  }

  // ------------------------------------------------ re-ranking a pool

  /** Discount weights 1/log₂(i+1) for NDCG ranks 1..10 as exact
    * shortest-repr double literals: log₂ at runtime goes to libm, which
    * is not correctly rounded across engines.
    */
  private val NdcgWeights = Seq(
    1.0, 0.6309297535714575, 0.5, 0.43067655807339306,
    0.38685280723454163, 0.3562071871080222, 0.3333333333333333,
    0.31546487678572877, 0.3010299956639812, 0.2890648263178879)

  /** NDCG@k (Järvelin & Kekäläinen 2002) of the cosine top k against
    * integer relevance labels: `Σ relᵢ·wᵢ / Σ rel*ᵢ·wᵢ`, the ideal being
    * the corpus's best-possible top k. Both sums fold in RANK ORDER over
    * literal discounts, never as an unordered double aggregate.
    */
  def ndcgAtK(
      embs: DataFrame, idCol: String, vecCol: String, labelCol: String,
      query: Array[Double], k: Int): DataFrame = {
    require(k >= 1 && k <= NdcgWeights.length,
      s"k must be in [1, ${NdcgWeights.length}], got $k")
    val w = array(NdcgWeights.take(k).map(lit): _*)
    def foldRanked(packed: Column): Column =
      aggregate(
        transform(packed, (x, i) =>
          x("rel").cast("double") * element_at(w, i + 1)),
        lit(0.0), (a, x) => a + x)
    val dcg = bruteForceTopK(embs, idCol, vecCol, query, k)
      .join(embs.select(col(idCol), col(labelCol).cast("long").as("__rel")),
        Seq(idCol))
      .agg(sort_array(collect_list(struct(
        (-col("sim")).as("ns"), col(idCol).cast("long").as("id"),
        col("__rel").as("rel")))).as("__r"))
      .select(foldRanked(col("__r")).as("__dcg"))
    val idcg = embs
      .select(col(labelCol).cast("long").as("__rel"),
        col(idCol).cast("long").as("__id"))
      .orderBy(desc("__rel"), col("__id"))
      .limit(k)
      .agg(sort_array(collect_list(struct(
        (-col("__rel")).as("nr"), col("__id").as("id"),
        col("__rel").as("rel")))).as("__r"))
      .select(foldRanked(col("__r")).as("__idcg"))
    dcg.crossJoin(broadcast(idcg))
      .select(
        round(col("__dcg"), 6).as("dcg"),
        round(col("__idcg"), 6).as("idcg"),
        when(col("__idcg") > 0.0, round(col("__dcg") / col("__idcg"), 6))
          .otherwise(lit(0.0)).as("ndcg"),
        lit(k).as("k"))
  }

  /** MMR DIVERSITY RE-RANKING (Carbonell & Goldstein 1998): from the
    * cosine top-`poolK` pool, greedily pick
    * `argmax λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s)`, so each next
    * result is relevant AND far from what is already chosen.
    *
    * Sequential by definition, so it runs as k let-bound fold steps over
    * one packed candidate row (the qe28 idiom). Cross-engine exact: every
    * similarity is a 6-dp cosine, λ is dyadic and ties go to the smallest
    * id. The distributed cost is the pool scan; the greedy is O(k·poolK)
    * cosines over one row (poolK ≤ 1000).
    */
  def mmrRerank(
      embs: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], poolK: Int, k: Int, lambda: Double): DataFrame = {
    require(k >= 1 && poolK >= k && poolK <= 1000,
      s"need 1 <= k <= poolK <= 1000, got k=$k poolK=$poolK")
    def dyadic(x: Double) = (x * 1024.0) == math.rint(x * 1024.0)
    require(lambda > 0.0 && lambda <= 1.0 && dyadic(lambda),
      s"lambda must be dyadic in (0,1], got $lambda")
    val mu = 1.0 - lambda
    val pool = bruteForceTopK(embs, idCol, vecCol, query, poolK)
    val packed = pool
      .join(embs.select(col(idCol), col(vecCol).as("__emb")), Seq(idCol))
      .agg(sort_array(collect_list(struct(
        col(idCol).cast("long").as("id"),
        col("sim").as("rel"),
        col("__emb").as("emb")))).as("__c"))
    val init: Column = expr(
      "CAST(array() AS array<struct<rank:int,id:bigint,score:double," +
        "emb:array<float>>>)")
    val fin = (1 to k).foldLeft(init) { (st, step) =>
      element_at(transform(array(struct(st.as("p"))), ctx => {
        val p = ctx("p")
        val remaining = filter(col("__c"),
          e => !exists(p, q => q("id") === e("id")))
        val bestOf = array_max(transform(remaining, e => {
          val ms = coalesce(
            array_max(transform(p, q => sim6(e("emb"), q("emb")))),
            lit(0.0))
          struct(
            (lit(lambda) * e("rel") - lit(mu) * ms).as("s"),
            (-e("id")).as("tb"), e("id").as("id"), e("emb").as("emb"))
        }))
        // bind (best, remaining) once — both are referenced repeatedly
        element_at(transform(array(struct(bestOf.as("b"), remaining.as("r"))),
          c2 => when(size(c2("r")) > 0,
            concat(p, array(struct(
              lit(step).as("rank"), c2("b")("id").as("id"),
              round(c2("b")("s"), 6).as("score"),
              c2("b")("emb").as("emb"))))).otherwise(p)), 1)
      }), 1)
    }
    packed
      .select(explode(fin).as("__m"))
      .select(col("__m.rank").as("mmr_rank"), col("__m.id").as(idCol),
        col("__m.score").as("mmr_score"))
      .orderBy(col("mmr_rank"))
  }
}

/** Bounded top-k by (score desc, id asc) as a typed Aggregator: the
  * buffer never exceeds k entries, so the partial → final shuffle carries
  * at most k rows per (group, partition). The buffer stays sorted
  * best-first, and the common full-and-worse-than-last case is one
  * comparison with no allocation.
  *
  * `distinct` makes an incoming (score, id) already in the buffer a
  * no-op, for candidate generators that emit the same pair twice (the
  * multi-probe cell join of [[Similarity.mutualKnn]]; the score is a pure
  * function of the pair, so the copies are equal). Two ids with equal
  * scores still take two slots. `merge` re-checks membership, so copies
  * split across partitions merge into one, and a copy whose twin was
  * evicted meets the same rejection.
  */
final class TopKByScore(k: Int, distinct: Boolean = false)
    extends org.apache.spark.sql.expressions.Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
  require(k > 0, s"k must be positive, got $k")

  // Double.compare, not raw >: Spark's descending sort orders NaN as the
  // LARGEST double, and the equivalence contract with the window twin
  // must hold even when a zero/degenerate vector yields a NaN similarity
  private def better(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  private def insert(buf: Seq[(Double, Long)], in: (Double, Long)): Seq[(Double, Long)] = {
    if (buf.length >= k && !better(in, buf.last)) buf // hot path: no alloc
    // Double.compare again: tuple == is false for NaN == NaN, so a NaN
    // duplicate would take a second slot
    else if (distinct && buf.exists(e =>
        e._2 == in._2 && java.lang.Double.compare(e._1, in._1) == 0)) buf
    else {
      val i = buf.indexWhere(e => better(in, e))
      val grown = if (i < 0) buf :+ in else (buf.take(i) :+ in) ++ buf.drop(i)
      if (grown.length > k) grown.take(k) else grown
    }
  }

  override def zero: Seq[(Double, Long)] = Vector.empty
  override def reduce(buf: Seq[(Double, Long)], in: (Double, Long)): Seq[(Double, Long)] = insert(buf, in)
  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] = b.foldLeft(a)(insert)
  override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r
  override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}
