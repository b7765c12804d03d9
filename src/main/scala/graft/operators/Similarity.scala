package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - `bruteForceTopK`: exact cosine top-k against a literal query vector.
  *    One scan + one tree-aggregated top-k (no full sort: `sort_array` never
  *    appears; Spark's TakeOrderedAndProject handles the global k). This is
  *    the correctness baseline.
  *  - `knnJoin`: exact k-NN for EVERY row of a (small, broadcastable) query
  *    set against the corpus — broadcast-nested-loop + a BOUNDED per-query
  *    top-k Aggregator with map-side partials. At 100 TB the corpus side
  *    streams; only queries broadcast and only k rows per (query,
  *    partition) ever reach the shuffle.
  *  - `ivfTopK`: IVF-style scale path — corpus pre-clustered by nearest of
  *    `nCentroids` seeded pseudo-centroids (deterministic hyperplane-LSH
  *    cells); the query probes only its own cell ± nProbe neighbors,
  *    cutting the scan by the cell fan-out. Recall < 1.0 by construction;
  *    pair with bruteForceTopK when exactness matters. MEASURED operating
  *    point (RecallSpec, seed-pinned clustered corpus): recall@10 ≥ 0.9
  *    at bits=6/nProbe=2 scoring ~22/64 cells; nProbe=bits probes the
  *    full ball and is exactly brute force. Recall is monotone in nProbe.
  */
object Similarity {


  /** Exact top-k by cosine against one literal query vector. */
  def bruteForceTopK(embs: DataFrame, idCol: String, vecCol: String, query: Array[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    embs
      .withColumn("sim", round(VectorFunctions.cosine(col(vecCol), q), 6))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** MATRYOSHKA two-stage search (Kusupati et al. 2022's MRL
    * deployment pattern): rank by the cosine of the FIRST `dPrefix`
    * dimensions, keep `candidates`, re-score those with the full
    * vector, return the top `k`. MRL-trained embeddings concentrate
    * coarse semantics in the prefix, so the cheap stage reads/multiplies
    * dPrefix/d of the data and the exact stage touches only the
    * candidate set — at 100 TB, store the prefix as its own parquet
    * column and stage 1 becomes a column-pruned scan that never
    * deserializes the full vectors (the readSchema win qs4's cell
    * pruning gets from partitioning). Both cuts rank on 6-dp-rounded
    * scores with id tie-breaks — engine-stable boundaries, the qs1
    * discipline. Recall vs brute force is RecallSpec territory; the
    * gate hash-compares the approximate answer exactly.
    */
  def prefixRerankTopK(
      embs: DataFrame, idCol: String, vecCol: String, query: Array[Double],
      dPrefix: Int, candidates: Int, k: Int): DataFrame = {
    require(dPrefix >= 1 && dPrefix <= query.length,
      s"dPrefix must be in [1, ${query.length}], got $dPrefix")
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val qPre = array(query.take(dPrefix).map(lit): _*)
    val qFull = array(query.map(lit): _*)
    embs
      .withColumn("sim_prefix",
        round(VectorFunctions.cosine(slice(col(vecCol), 1, dPrefix), qPre), 6))
      .orderBy(desc("sim_prefix"), col(idCol))
      .limit(candidates)
      .withColumn("sim", round(VectorFunctions.cosine(col(vecCol), qFull), 6))
      .select(col(idCol), col("sim_prefix"), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** RANGE (radius) SEARCH — every corpus vector within a cosine
    * threshold of the query, the other half of the ANN query surface
    * (top-k answers "the best k"; radius answers "everything this
    * similar", the semantic-dedup / recall-sweep primitive). Shape
    * matters at scale: a pure scan + codegen filter — no top-k cut, no
    * sort, no shuffle, no driver state — so it streams at any corpus
    * size and the parquet scan prunes to (id, vec) columns. The
    * threshold compares the ROUNDED similarity (6 dp, like every ANN
    * gate) so the boundary is engine-stable.
    */
  def radiusSearch(
      embs: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], minSim: Double): DataFrame = {
    val q = array(query.map(lit): _*)
    embs
      .withColumn("sim", round(VectorFunctions.cosine(col(vecCol), q), 6))
      .filter(col("sim") >= minSim)
      .select(col(idCol), col("sim"))
  }

  /** RANDOM-PROJECTION dimensionality reduction (Johnson–Lindenstrauss
    * with an Achlioptas ±1 sign matrix): out_j = (Σᵢ vᵢ·s_ij)/√d' —
    * the pre-ANN shrink that cuts a 64-float embedding to d' dims while
    * preserving pairwise distances within the JL bound. The sign matrix
    * is DERIVED, not stored: s_ij = ±1 from the parity of an md5-prefix
    * hash of (j, i), computed once at plan-build time and entering the
    * plan as literal arrays, so the projection is a pure zero-exchange
    * codegen multiply-add fold — reproducible across engines
    * bit-for-bit: the inner sum is a SEQUENTIAL left fold and DuckDB
    * replays it term-for-term (same md5-parity signs, index lambda +
    * list_reduce). Output long-form `(id, dim 1..d', proj)` (array
    * outputs break the driver's row compare). √d' is exact in FP when
    * d' is a perfect square (the qs11 gate uses 16); for other d' the
    * constant must be matched across engines. `inDims` must equal the
    * vector length — a shorter vector null-poisons its rows LOUDLY
    * (zip_with pads), never silently truncates.
    */
  def randomProjection(
      embs: DataFrame, idCol: String, vecCol: String, outDims: Int,
      inDims: Int = 64): DataFrame = {
    require(outDims >= 1, s"outDims must be >= 1, got $outDims")
    require(inDims >= 1, s"inDims must be >= 1, got $inDims")
    // the sign matrix is computed ONCE here with the identical md5-parity
    // formula the oracle replays, and enters the plan as LITERAL arrays —
    // the first cut recomputed outDims·inDims md5s PER ROW inside the
    // lambda (measured 2.5 s at 50k vectors for 51M hash calls); as
    // literals the row work is a pure multiply-add fold
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

  /** Exact top-k by raw dot product (maximum inner-product search — the
    * right metric when embeddings are pre-normalized or magnitude carries
    * signal). Same scan + TakeOrderedAndProject shape as the cosine form;
    * scoring runs through the codegen DotProduct expression.
    */
  def bruteForceTopKDot(embs: DataFrame, idCol: String, vecCol: String, query: Array[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    embs
      .withColumn("dot", round(VectorFunctions.dot(col(vecCol), q), 6))
      .select(col(idCol), col("dot"))
      .orderBy(desc("dot"), col(idCol))
      .limit(k)
  }

  /** SCALAR-QUANTIZED (int8) top-k — the memory tier between full-float
    * brute force and PQ: each vector stores as 64 one-byte codes + one
    * float scale (max-abs symmetric quantization, `code_i =
    * round(127·v_i / max|v|)`), a 4× cut with far better fidelity than
    * PQ's 32×. Query-time score is an INTEGER dot product over codes,
    * de-scaled once per row (`S·m·qm / 127²`) — SIMD-friendly byte
    * arithmetic in a columnar engine, and here a pure builtin
    * `zip_with`/`aggregate` fold inside codegen with every intermediate
    * exact (|S| ≤ 64·127², far inside ANSI range). Rounded to 6 dp
    * before the TakeOrdered k-cut like every ANN gate, and fully
    * deterministic: the corpus quantization is replayed term-for-term by
    * the qs8 oracle, while the QUERY's codes are quantized ONCE on the
    * driver and passed as the same literal array to both engines (Scala
    * `math.round` rounds half-UP, SQL `round` half-AWAY — pre-quantizing
    * the query removes the one place that difference could bite).
    * Zero-vectors (m = 0) are unrankable under any scaled metric and are
    * filtered, matching the oracle.
    */
  def sqTopK(
      embs: DataFrame, idCol: String, vecCol: String,
      queryCodes: Array[Long], queryScale: Double, k: Int): DataFrame = {
    val qc = array(queryCodes.map(lit): _*)
    embs
      .withColumn("__m",
        array_max(transform(col(vecCol), x => abs(x.cast("double")))))
      .filter(col("__m") > 0)
      .withColumn("__codes",
        transform(col(vecCol),
          x => round(lit(127.0) * x.cast("double") / col("__m")).cast("long")))
      .withColumn("__s",
        aggregate(zip_with(col("__codes"), qc, (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
      .withColumn("approx",
        round(col("__s") * col("__m") * lit(queryScale) / lit(16129.0), 6))
      .select(col(idCol), col("approx"))
      .orderBy(desc("approx"), col(idCol))
      .limit(k)
  }

  /** Driver-side query quantization for [[sqTopK]]: (codes, maxAbs). */
  def sqQuantizeQuery(query: Array[Double]): (Array[Long], Double) = {
    val m = query.map(math.abs).max
    require(m > 0, "zero query vector")
    (query.map(x => math.round(127.0 * x / m)), m)
  }

  /** Exact k-NN join: for each row in `queries` (small side), the top-k
    * corpus rows by cosine, tie-broken by ascending corpus id. Queries are
    * broadcast (nested-loop, never shuffled); the corpus is scanned once
    * and each partition reduces its candidates into a BOUNDED k-entry
    * buffer via a typed Aggregator BEFORE any exchange (ObjectHashAggregate
    * partial → shuffle of ≤ k rows per (query, partition) → final merge).
    * Exchanged volume is O(|queries| · partitions · k), independent of
    * corpus size — the window-over-crossJoin alternative would exchange
    * every |corpus|·|queries| candidate row just to discard all but k.
    *
    * Similarities are rounded to 6 dp BEFORE ranking so the k-cut is
    * FP-stable (same contract as [[bruteForceTopK]]). `idCol` must be an
    * integral (long-castable) column.
    */
  def knnJoin(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String, qIdCol: String, qVecCol: String, k: Int): DataFrame =
    knnDirected(corpus, queries, idCol, vecCol, qIdCol, qVecCol, k, excludeSelf = false)

  /** The shared directed-kNN kernel behind [[knnJoin]] and the
    * brute-force mutual-kNN reference: broadcast-queries nested loop, bounded
    * per-partition top-k buffers, optional self-match exclusion
    * BEFORE the k-cut (k means k OTHER vectors when the queries are
    * the corpus itself).
    */
  private[operators] def knnDirected(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      qIdCol: String,
      qVecCol: String,
      k: Int,
      excludeSelf: Boolean): DataFrame = {
    val topk = udaf(new TopKByScore(k))
    val joined = corpus.crossJoin(broadcast(queries))
    val cands = if (excludeSelf) joined.filter(col(idCol) =!= col(qIdCol)) else joined
    cands
      .withColumn("sim", round(VectorFunctions.cosine(col(vecCol), col(qVecCol)), 6))
      .groupBy(col(qIdCol))
      .agg(topk(col("sim"), col(idCol).cast("long")).as("__topk"))
      .select(col(qIdCol), posexplode(col("__topk")))
      .select(
        col(qIdCol),
        col("col._2").as(idCol),
        col("col._1").as("sim"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** MUTUAL k-NN PAIRS, cell-bucketed — the pairs (a, b) where each is
    * in the other's top-k by cosine AMONG ITS CELL-CANDIDATES: the
    * reciprocal-neighbour criterion behind density-aware dedup
    * clustering and kNN-graph construction (a one-way neighbour of a
    * hub is usually noise; a MUTUAL pair is structure). Self-matches
    * are excluded before the k-cut — k means k OTHER vectors.
    *
    * Candidate generation is the qd14 seed-cell recipe made
    * MULTI-PROBE: cells are the `nCells` lowest-id vectors (the
    * [[pqCodebook]] m = 1 contract — argmin of 6-dp-rounded L2²,
    * lowest index on ties), and each vector probes its `nProbe`
    * nearest cells, so a pair is a candidate iff the two probe sets
    * intersect. Shared-cell is symmetric, so the candidate graph is
    * undirected and a mutual pair can never be split by one direction
    * missing the other's candidate set. Exact cosine scores the
    * candidates; the k-cut runs in bounded per-partition buffers
    * ([[TopKDistinctByScore]] — a pair sharing BOTH probed cells
    * enters the join twice and must occupy one rank slot, not two);
    * the directed edge list equi-joins its transpose and each pair
    * emits once (a < b). Cosine is symmetric bit-for-bit (per-element
    * multiply commutes, the fold order is the element order both
    * ways), so the two directions carry the same rounded similarity.
    *
    * RECALL CONTRACT: ranks are exact within the candidate graph; a
    * true global neighbour whose probe set is disjoint from the
    * query's is NOT a candidate (multi-probe makes that rare — both
    * sides must miss all of each other's cells). `nCells` should grow
    * with the corpus (cell occupancy ~ nProbe·n/nCells bounds the
    * per-cell quadratic term at (nProbe·n/nCells)²·nCells — pick
    * nCells ≈ n / desired_cell_size); with nCells = 1 the candidate
    * graph is complete and the output is exactly the brute-force self-kNN
    * (RecallSpec pins both that equivalence and a constructed miss).
    *
    * Scale shape: NO full-corpus broadcast and NO cartesian anywhere
    * (PlanSpec-pinned) — seeds are an nCells-row driver collect (the
    * sanctioned bounded-side pattern), the cell join shuffles
    * n·nProbe rows on the cell key, and the exchange after scoring
    * carries ≤ k rows per (query, partition).
    */
  def mutualKnn(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int = 64,
      nProbe: Int = 2): DataFrame =
    mutualizeDirected(mutualKnnEdges(embs, idCol, vecCol, k, nCells, nProbe))

  /** The directed candidate-kNN edge list behind [[mutualKnn]], BEFORE
    * the transpose checkpoint — exposed (package-private) so PlanSpec
    * can assert the candidate plan's shape (the eager checkpoint in
    * [[mutualizeDirected]] hides this subtree from the gate's executed
    * plan).
    */
  private[graft] def mutualKnnEdges(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int,
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
    val p = math.min(nProbe, seeds.length)
    // top-p cells by (6-dp-rounded L2², index) — the pqEncode argmin
    // contract extended to a p-deep selection, same rounding, same
    // ties, fused into one codegen loop (the probe is n·nCells·dim
    // work and nCells grows with the corpus — a boxed UDF here
    // dominated the whole operator at sf1)
    val cells = embs
      .select(col(idCol), col(vecCol))
      .withColumn("__cell",
        explode(graft.functions.expressions.VectorExpressions
          .nearestCells(col(vecCol), seeds, p)))
    val a = cells.select(col(idCol).as("__qid"), col(vecCol).as("__qv"), col("__cell"))
    val b = cells.select(col(idCol).as("__nid"), col(vecCol).as("__nv"), col("__cell"))
    val topk = udaf(new TopKDistinctByScore(k))
    val knn = a.join(b, Seq("__cell"))
      .filter(col("__qid") =!= col("__nid"))
      .withColumn("sim", round(VectorFunctions.cosine(col("__qv"), col("__nv")), 6))
      .groupBy(col("__qid"))
      .agg(topk(col("sim"), col("__nid").cast("long")).as("__topk"))
      .select(col("__qid"), posexplode(col("__topk")))
      .select(col("__qid"), col("col._2").as("__nid"),
        col("col._1").as("sim"), (col("pos") + 1).cast("long").as("__rank"))
    knn
  }

  /** Transpose-join a directed (__qid, __nid, sim, __rank) edge list
    * into mutual pairs (a < b). The edge list `localCheckpoint`s FIRST:
    * fwd and rev are two reads of the same frame, and without the cut
    * Catalyst plans the whole candidate-generation + scoring pipeline
    * TWICE (no exchange reuse across the differing projections —
    * measured 2× the cosine work). Edges are n·k rows — node-scale,
    * not candidate-scale — so the materialization is the cheap side;
    * blocks free when the frame is GC'd.
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

  /** HARD-NEGATIVE MINING — per anchor, the top-k corpus vectors inside
    * a SIMILARITY BAND `lo ≤ cosine < hi`: the contrastive-training
    * staple (negatives similar enough to teach the margin, dissimilar
    * enough to not be latent positives — the reason the band excludes
    * the near-dup region, and why a plain kNN is the wrong tool).
    * Self-pairs are excluded before the band. Scores round to 6 dp
    * before the cut (the qt36 libm-ulp lesson) and tie-break on
    * ascending id, so the selected SET replays across engines.
    *
    * Scale shape = [[knnJoin]]'s: anchors broadcast, the band filter
    * and score stay in the one corpus scan, and the k-cut rides the
    * bounded [[TopKByScore]] Aggregator — ≤ k rows per (anchor,
    * partition) cross the shuffle. Swap the scan for the IVF cell
    * probe when the corpus is cell-partitioned (same contract as
    * qs4's pruned tier).
    */
  def hardNegatives(
      corpus: DataFrame,
      anchors: DataFrame,
      idCol: String,
      vecCol: String,
      anchorIdCol: String,
      anchorVecCol: String,
      lo: Double,
      hi: Double,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val topk = udaf(new TopKByScore(k))
    val sim = round(VectorFunctions.cosine(col(vecCol), col(anchorVecCol)), 6)
    corpus.crossJoin(broadcast(anchors))
      .filter(col(idCol) =!= col(anchorIdCol))
      .withColumn("__sim", sim)
      .filter(col("__sim") >= lo && col("__sim") < hi)
      .groupBy(col(anchorIdCol))
      .agg(topk(col("__sim"), col(idCol).cast("long")).as("__topk"))
      .select(col(anchorIdCol), posexplode(col("__topk")))
      .select(
        col(anchorIdCol).as("anchor_id"),
        col("col._2").as("neg_id"),
        col("col._1").as("sim"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** BUCKETED DBSCAN over an embedding column — density-based cluster
    * labels without a preset cluster count, the standard shape for
    * "group the near-duplicate neighborhoods, flag the rest as noise"
    * (qd20 keeps one doc per cluster; THIS names the clusters and the
    * outliers). Cosine-similarity DBSCAN with the neighbor graph
    * BUCKETED by the deterministic hyperplane signature (the qd5 LSH):
    *
    *  - neighbors(a) = vectors b ≠ a sharing a's `bits`-bit signature
    *    with cosine(a, b) ≥ `simThreshold` — the LSH bucket IS part of
    *    the operator's contract (the qd5/qs14 candidate semantics:
    *    cross-bucket near-pairs are out of scope by design, which is
    *    what keeps the pair stage Θ(bucket²), never Θ(n²));
    *  - core ⟺ at least `minPts` neighbors (OTHER vectors — the
    *    classic count-includes-self convention minus one);
    *  - clusters = connected components over core–core neighbor edges
    *    ([[Dedup.connectedComponents]] min-label; a core with no core
    *    neighbor keeps its own id);
    *  - border = non-core with ≥ 1 core neighbor, labeled by its
    *    MINIMUM core neighbor's cluster (deterministic, no "first
    *    visitor wins" order dependence — the known DBSCAN wrinkle,
    *    pinned instead of inherited);
    *  - everything else is noise, cluster −1.
    *
    * Output `(vec_id, role ∈ core|border|noise, cluster)`. Scale: one
    * signature projection (codegen literals), one bucket equi-join,
    * degree/label joins keyed by id, star-contraction components —
    * every stage keyed. The pair stage is Θ(n · occupancy) where
    * occupancy = n/2^bits, so `bits` MUST grow with log₂(n) to hold
    * occupancy constant (the qs14 nCells lesson: a fixed bucket count
    * is a hidden n²). The similarity scale probe (git 3e96ab2) ran
    * bits = ⌈log₂(n/64)⌉ and its wall tracked rows.
    */
  def dbscanCosine(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      simThreshold: Double,
      minPts: Int,
      bits: Int = 8,
      seed: Long = 42L): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val sigs = embs
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .withColumn("__sig",
        VectorFunctions.hyperplaneSignature(col("__v"), dim, bits, seed))
    // bucket-local similarity edges, BOTH directions (degree counting
    // reads one direction); eager checkpoint — consumed by three
    // downstream branches (degrees, core-core edges, border labels)
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

  /** Distributed Lloyd's k-means over an embedding column: centroids stay
    * a driver-side k×dim array (tiny) broadcast into a compiled assignment
    * UDF; the update step is a distributed posexplode + per-(cluster, dim)
    * average. Deterministic: init = the k lowest-id vectors.
    *
    * Returns (centroids, assignments(id, cluster)).
    */
  def kmeans(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 5): (Array[Array[Double]], DataFrame) = {
    def assignUdf(cents: Array[Array[Double]]) = udf { (v: Seq[Float]) =>
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var d = 0.0
        var i = 0
        val cent = cents(c)
        val n = math.min(cent.length, v.length)
        while (i < n) { val diff = v(i) - cent(i); d += diff * diff; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

    // Lloyd iterates over the SAME corpus iters+1 times: persist the
    // projected (id, vec) once so the source is scanned a single time (the
    // init job below materializes the cache as a side effect) instead of
    // re-reading 100 TB per iteration. Unpersisted before return; the
    // returned lazy assignment recomputes from source lineage when the
    // caller evaluates it (one scan, unavoidable for a lazy result).
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
    // assign against the FINAL centroids: assignments computed inside the
    // loop came from the pre-update centroids, so without this the returned
    // (centroids, assignments) would be mutually inconsistent and IVF
    // probing against final centroids would hit stale cells. Built from
    // `embs` (source lineage), not the cache released above.
    val assigned = embs.withColumn("cluster", assignUdf(centroids)(col(vecCol)))
    (centroids, assigned.select(col(idCol), col("cluster")))
  }

  /** IVF/LSH-bucketed approximate top-k for one literal query: corpus rows
    * hash to a `bits`-bit hyperplane cell; only rows whose cell is within
    * hamming `nProbe` of the query's cell are scored. The cell projection
    * is a pure column expression, so partition pruning applies if the
    * corpus is written bucketed by cell.
    */
  def ivfTopK(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Double],
      k: Int,
      bits: Int = 8,
      nProbe: Int = 1): DataFrame = {
    val dim = query.length
    val q = array(query.map(lit): _*)
    val cells = embs.withColumn("__cell", VectorFunctions.hyperplaneSignature(col(vecCol), dim, bits))
    // query cell computed the same deterministic way, driver-side constants
    val qCell = VectorFunctions.hyperplaneSignature(q, dim, bits)
    cells
      .filter(bit_count(col("__cell").bitwiseXOR(qCell)) <= nProbe)
      .withColumn("sim", round(VectorFunctions.cosine(col(vecCol), q), 6))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** MULTI-PROBE IVF TOP-K — the SEARCH-path twin of
    * [[annRecallMultiProbe]]'s evaluation: one literal query, probe
    * cells chosen by the query's hyperplane margins instead of
    * [[ivfTopK]]'s blind hamming ball — the same `nCand`-cell budget
    * buys measurably more recall (the qs18/qs19 adjudication:
    * 0.8583 → 1.0000 mean recall@10 at 11/1024 cells on the clustered
    * RecallSpec corpus). The margin computation and mask ranking run
    * driver-side over the LITERAL query (exact integer µ-margin
    * scoring, [[multiProbeMasks]]), so the probe set lands in the plan
    * as `isin` LITERALS on the signature column — partition pruning
    * against a corpus written partitioned by cell, with zero candidate
    * rows read outside the probed cells. Tail is the qs4 contract: exact cosine inside the
    * probed cells, TakeOrdered on (6-dp sim DESC, id ASC).
    */
  def multiProbeTopK(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Double],
      k: Int,
      bits: Int = 8,
      nCand: Int = 9,
      seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(bits >= 1 && bits <= 16,
      s"bits must be in [1, 16] (probe enumeration is 2^bits), got $bits")
    require(nCand >= 1 && nCand <= (1 << bits),
      s"nCand must be in [1, 2^bits], got $nCand")
    val dim = query.length
    val rnd = new scala.util.Random(seed)
    val planes = Seq.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
    var qCell = 0L
    val micro = new Array[Long](bits)
    planes.zipWithIndex.foreach { case (p, b) =>
      var dot = 0.0; var j = 0
      while (j < dim) { dot += query(j) * p(j); j += 1 }
      if (dot >= 0.0) qCell |= 1L << b
      micro(b) = math.floor(math.abs(dot) * 1e6 + 0.5).toLong
    }
    val probeCells = multiProbeMasks(micro, bits, nCand).map(qCell ^ _)
    val q = array(query.map(lit): _*)
    embs
      .withColumn("__cell",
        VectorFunctions.hyperplaneSignature(col(vecCol), dim, bits, seed))
      .filter(col("__cell").isin(probeCells.map(java.lang.Long.valueOf): _*))
      .withColumn("sim", round(VectorFunctions.cosine(col(vecCol), q), 6))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** ANN RECALL@K EVALUATION — the index-quality measurement every
    * approximate-nearest-neighbor deployment needs before trusting its
    * candidates: for each of the `numQueries` lowest-id corpus vectors,
    * compute the EXACT cosine top-k (self excluded) and the
    * hyperplane-cell approximate top-k ([[ivfTopK]]'s candidate rule:
    * corpus rows within hamming `nProbe` of the query's `bits`-bit
    * signature, scored by exact cosine), and report
    * `recall = |approx ∩ exact| / k` per query. Tuning loop: raise
    * `bits` to shrink cells, raise `nProbe` to widen the probe ball,
    * re-read recall — this operator IS that read.
    *
    * Determinism: both sides rank on (6-dp-rounded sim DESC, id ASC) —
    * the qs5 tie contract — and the query set is an id order-by, so the
    * row set is replayable cross-engine. Recall is an IEEE divide of
    * exact integers, rounded 6 dp.
    *
    * Scale shape: queries are a bounded broadcast (`numQueries` rows by
    * contract); the corpus scans TWICE (once per side), each side
    * reducing through the bounded [[TopKByScore]] aggregator so the
    * only exchanges carry ≤ k rows per (query, partition) — no Window
    * over the corpus, no cartesian beyond the broadcast nested loop,
    * no full candidate set materialized. The signature column rides
    * the scan (codegen'd dot products per bit).
    */
  def annRecall(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      bits: Int = 8,
      nProbe: Int = 1,
      numQueries: Int = 16): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(numQueries >= 1, s"numQueries must be >= 1, got $numQueries")
    val topk = udaf(new TopKByScore(k))
    val sigd = embs.withColumn(
      "__sig", VectorFunctions.hyperplaneSignature(col(vecCol), dim, bits))
    val queries = sigd
      .orderBy(col(idCol))
      .limit(numQueries)
      .select(col(idCol).as("__qid"), col(vecCol).as("__qv"),
        col("__sig").as("__qsig"))
    val truth = knnDirected(
      embs, queries.select(col("__qid"), col("__qv")),
      idCol, vecCol, "__qid", "__qv", k, excludeSelf = true)
      .select(col("__qid"), col(idCol))
    val approx = sigd
      .crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col("__qid") &&
        bit_count(col("__sig").bitwiseXOR(col("__qsig"))) <= nProbe)
      .withColumn("sim", round(VectorFunctions.cosine(col(vecCol), col("__qv")), 6))
      .groupBy(col("__qid"))
      .agg(topk(col("sim"), col(idCol).cast("long")).as("__topk"))
      .select(col("__qid"), explode(col("__topk")).as("__e"))
      .select(col("__qid"), col("__e._2").as(idCol))
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

  /** MULTI-PROBE ANN RECALL@K — [[annRecall]] with the probe set chosen
    * by QUERY MARGINS instead of a blind hamming ball (Lv et al. 2007,
    * "Multi-probe LSH: efficient indexing for high-dimensional
    * similarity search"): a hyperplane bit is likely WRONG exactly when
    * the query sits close to that plane (small |dot|), so the best T
    * probe cells are the signature perturbations minimizing the summed
    * squared margins of the flipped bits — not all Hamming-1 neighbors
    * are equally likely to hold neighbors, and a 2-bit flip of two
    * near-zero margins often beats a 1-bit flip of a confident bit.
    *
    * Measured at FIXED cell budget, mean recall@10 (the qt46
    * adjudication discipline — before/after, same budget):
    *
    *   - RecallSpec mixture-of-Gaussians corpus (dim 16, bits 10,
    *     12 queries, budget 11/1024 cells): hamming-1 ball **0.8583**
    *     → multi-probe **1.0000**
    *   - qs18/qs19 gate read (sf0.01 embeddings, dim 64, bits 8,
    *     16 queries, budget 9/256 cells): ball **0.0500** (8 hits)
    *     → multi-probe **0.0625** (10 hits) — the near-uniform
    *     synthetic corpus bounds ANY 9-cell scheme near 9/256 ≈ 3.5%
    *     of mass; the +25% relative is the margin information
    *
    * Per-query candidate counts differ only with cell occupancy; the
    * ball never wins (its probe set is a feasible multi-probe choice).
    *
    * Probe selection runs driver-side over the COLLECTED query rows
    * (bounded `numQueries` by contract, the sanctioned pattern):
    * µ-margins are integer micro-units (⌊|dot|·10⁶ + ½⌋ — so the mask
    * ranking is an EXACT integer sort an SQL oracle replays), all
    * 2^bits masks are scored by Σ µ_b² over set bits and the `nCand`
    * lowest (score, mask) win; mask 0 (the query's own cell) always
    * probes first. `bits` ≤ 16 keeps enumeration trivial (65536 masks
    * × 16 queries); past that, restrict enumeration to the
    * lowest-margin bits.
    *
    * Scale shape: the probe set is a broadcast (`numQueries`·`nCand`
    * rows); candidates come from an EQUI-join corpus.__sig = probe
    * cell — against a corpus written partitioned by cell this is
    * directory pruning, strictly
    * better than the ball filter's broadcast nested loop. A corpus row
    * matches at most one cell per query (masks are distinct), so no
    * dedup is needed. Both top-k sides reduce through the bounded
    * [[TopKByScore]] aggregator; no Window over the corpus.
    */
  def annRecallMultiProbe(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      bits: Int = 8,
      nCand: Int = 9,
      numQueries: Int = 16,
      seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(numQueries >= 1, s"numQueries must be >= 1, got $numQueries")
    require(bits >= 1 && bits <= 16,
      s"bits must be in [1, 16] (probe enumeration is 2^bits per query), got $bits")
    require(nCand >= 1 && nCand <= (1 << bits),
      s"nCand must be in [1, 2^bits], got $nCand")
    val spark = embs.sparkSession
    import spark.implicits._
    val topk = udaf(new TopKByScore(k))
    val sigd = embs.withColumn(
      "__sig", VectorFunctions.hyperplaneSignature(col(vecCol), dim, bits, seed))
    val queries = sigd
      .orderBy(col(idCol))
      .limit(numQueries)
      .select(col(idCol).as("__qid"), col(vecCol).as("__qv"),
        col("__sig").as("__qsig"))
    // bounded collect (numQueries rows by contract): margins + probe
    // masks are a driver-side integer computation over 2^bits masks
    val qrows = queries
      .select(col("__qid").cast("long"), col("__qv").cast("array<double>"),
        col("__qsig"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    val rnd = new scala.util.Random(seed)
    val planes = Seq.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
    val probeRows = qrows.flatMap { case (qid, qv, qsig) =>
      val micro = planes.map { p =>
        var dot = 0.0; var j = 0
        while (j < dim) { dot += qv(j) * p(j); j += 1 }
        math.floor(math.abs(dot) * 1e6 + 0.5).toLong
      }.toArray
      multiProbeMasks(micro, bits, nCand).map(m => (qid, qsig ^ m))
    }
    val probes = probeRows.toSeq.toDF("__qid", "__cell")
    val truth = knnDirected(
      embs, queries.select(col("__qid"), col("__qv")),
      idCol, vecCol, "__qid", "__qv", k, excludeSelf = true)
      .select(col("__qid"), col(idCol))
    val approx = sigd
      .join(broadcast(probes), sigd("__sig") === probes("__cell"))
      .join(broadcast(queries.select(col("__qid"), col("__qv"))), Seq("__qid"))
      .filter(col(idCol) =!= col("__qid"))
      .withColumn("sim", round(VectorFunctions.cosine(col(vecCol), col("__qv")), 6))
      .groupBy(col("__qid"))
      .agg(topk(col("sim"), col(idCol).cast("long")).as("__topk"))
      .select(col("__qid"), explode(col("__topk")).as("__e"))
      .select(col("__qid"), col("__e._2").as(idCol))
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

  /** MULTI-PROBE kNN JOIN — the BATCH search path completing the
    * multi-probe trio ([[annRecallMultiProbe]] evaluates,
    * [[multiProbeTopK]] serves one query, this serves a query TABLE):
    * per query row, the approximate cosine top-k from the
    * margin-ranked probe cells, at the same fixed `nCand`-cell budget.
    * Queries are COLLECTED driver-side to compute margins and probe
    * masks (the [[annRecallMultiProbe]] bounded-queries contract —
    * queries are the small side of every kNN join in this tier); the
    * probe set broadcasts and candidates come from the `__sig` EQUI
    * join, so a cell-partitioned corpus partition-prunes per batch.
    * Output `(query_id, <idCol>, sim)` — ≤ k rows per query, ranked by
    * the (6-dp sim DESC, id ASC) tie contract inside the bounded
    * [[TopKByScore]] aggregator; no Window over the corpus.
    */
  def multiProbeKnnJoin(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      qIdCol: String,
      qVecCol: String,
      dim: Int,
      k: Int,
      bits: Int = 8,
      nCand: Int = 9,
      seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(bits >= 1 && bits <= 16,
      s"bits must be in [1, 16] (probe enumeration is 2^bits per query), got $bits")
    require(nCand >= 1 && nCand <= (1 << bits),
      s"nCand must be in [1, 2^bits], got $nCand")
    val spark = corpus.sparkSession
    import spark.implicits._
    val topk = udaf(new TopKByScore(k))
    val sigd = corpus.withColumn(
      "__sig", VectorFunctions.hyperplaneSignature(col(vecCol), dim, bits, seed))
    val qrows = queries
      .select(col(qIdCol).cast("long").as("__qid"),
        col(qVecCol).cast("array<double>").as("__qv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val rnd = new scala.util.Random(seed)
    val planes = Seq.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
    val probeRows = qrows.flatMap { case (qid, qv) =>
      var qCell = 0L
      val micro = new Array[Long](bits)
      planes.zipWithIndex.foreach { case (p, b) =>
        var dot = 0.0; var j = 0
        while (j < dim) { dot += qv(j) * p(j); j += 1 }
        if (dot >= 0.0) qCell |= 1L << b
        micro(b) = math.floor(math.abs(dot) * 1e6 + 0.5).toLong
      }
      multiProbeMasks(micro, bits, nCand).map(m => (qid, qCell ^ m))
    }
    val probes = probeRows.toSeq.toDF("__qid", "__cell")
    val qv = queries.select(col(qIdCol).cast("long").as("__qid"),
      col(qVecCol).as("__qv"))
    sigd
      .join(broadcast(probes), sigd("__sig") === probes("__cell"))
      .join(broadcast(qv), Seq("__qid"))
      .withColumn("sim", round(VectorFunctions.cosine(col(vecCol), col("__qv")), 6))
      .groupBy(col("__qid"))
      .agg(topk(col("sim"), col(idCol).cast("long")).as("__topk"))
      .select(col("__qid").as("query_id"), explode(col("__topk")).as("__e"))
      .select(col("query_id"), col("__e._2").as(idCol), col("__e._1").as("sim"))
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

  /** Deterministic PQ codebook (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search"): the vector space splits into `m`
    * subspaces and each subspace gets `k` centroids. Centroids here are
    * the subvectors of the `k` LOWEST-ID corpus vectors — a deterministic
    * seed codebook, the same replayability trade [[ivfTopK]] makes with
    * hyperplane pseudo-centroids (an SQL oracle can re-derive it exactly;
    * swap in [[kmeans]]-refined sub-codebooks when recall matters more
    * than oracle-exactness). Collected driver-side: k rows by contract,
    * the sanctioned bounded-side pattern. Returns `[subspace][code][dsub]`.
    */
  def pqCodebook(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
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

  /** Lloyd-refined PQ codebook — the PRODUCTION codebook: per subspace,
    * [[kmeans]] over the corpus's subvectors (deterministic init = the k
    * lowest-id subvectors, so the whole artifact is reproducible).
    * Higher recall than the seed codebook at the same code budget
    * (RecallSpec measures both); the trade is SQL-replayability, which
    * is why the oracle gate (qs7) keeps the seed form. m driver-looped
    * Lloyd runs = m·iters small jobs — ingest-time cost, amortized over
    * every query against the stored codes.
    */
  def pqCodebookKmeans(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
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

  /** PQ-encode the corpus: each vector becomes `m` small codes (one byte
    * each at k ≤ 256) — the 100 TB ANN memory story: a 64-float vector
    * (256 B) compresses to m = 8 bytes, so the scan side of a query reads
    * 32× less. Per (vector, subspace) the code is the argmin-L2² centroid,
    * distances rounded to 6 dp before the argmin so FP summation order can
    * never flip a near-tie (ties then break toward the lowest code — both
    * rules replayed exactly by the SQL oracle).
    */
  def pqEncode(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      codebook: Array[Array[Array[Double]]]): DataFrame = {
    val bc = embs.sparkSession.sparkContext.broadcast(codebook)
    val enc = udf { (v: Seq[Double]) =>
      val cb = bc.value
      val m = cb.length
      val dsub = cb(0)(0).length
      Array.tabulate(m) { s =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cb(s).length) {
          var d = 0.0
          var j = 0
          while (j < dsub) {
            val diff = v(s * dsub + j) - cb(s)(c)(j)
            d += diff * diff
            j += 1
          }
          val dr = math.floor(d * 1e6 + 0.5) / 1e6
          if (dr < bestD) { bestD = dr; best = c }
          c += 1
        }
        best
      }
    }
    embs.select(
      col(idCol),
      enc(col(vecCol).cast("array<double>")).as("codes"))
  }

  /** Asymmetric-distance (ADC) approximate top-k over PQ codes: the query
    * is NOT quantized — per subspace a 256-entry table of exact
    * query-to-centroid L2² distances is computed once on the driver
    * (k·m doubles, broadcast with the codebook), and a candidate's
    * distance is the sum of m table lookups. The corpus-side work is a
    * lookup-sum over m bytes per vector — no float vector is ever read
    * at query time — followed by TakeOrdered for the k-cut. Per-subspace
    * table entries and the final sum are rounded to 6 dp (the qs1
    * contract) so the ranking is FP-stable and SQL-replayable; ties break
    * on ascending id.
    */
  def pqTopK(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Double],
      topK: Int,
      m: Int = 8,
      k: Int = 16): DataFrame = {
    val codebook = pqCodebook(embs, idCol, vecCol, m, k)
    pqTopKFromCodes(pqEncode(embs, idCol, vecCol, codebook), idCol, codebook, query, topK)
  }

  /** ADC top-k over a STORED codes table — the amortized production
    * shape: [[pqEncode]] runs once at ingest and the codes parquet (m
    * bytes + id per vector) is what every query scans; no float vector
    * is read at query time at all. [[pqTopK]] is this plus an inline
    * encode (what the oracle gate exercises); at 100 TB the inline form
    * is only for one-off queries — persist the codes.
    */
  def pqTopKFromCodes(
      codes: DataFrame,
      idCol: String,
      codebook: Array[Array[Array[Double]]],
      query: Array[Double],
      topK: Int): DataFrame = {
    val m = codebook.length
    val k = codebook(0).length
    val dsub = query.length / m
    val table = Array.tabulate(m, k) { (s, c) =>
      var d = 0.0
      var j = 0
      while (j < dsub) {
        val diff = query(s * dsub + j) - codebook(s)(c)(j)
        d += diff * diff
        j += 1
      }
      math.floor(d * 1e6 + 0.5) / 1e6
    }
    val bc = codes.sparkSession.sparkContext.broadcast(table)
    val adc = udf { (cs: Seq[Int]) =>
      val t = bc.value
      var acc = 0.0
      var s = 0
      while (s < cs.length) { acc += t(s)(cs(s)); s += 1 }
      math.floor(acc * 1e6 + 0.5) / 1e6
    }
    codes
      .select(col(idCol), adc(col("codes")).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(topK)
  }

  /** IVF·PQ — the FAISS-standard two-level composition: a COARSE
    * seed-cell quantizer prunes the corpus to the query's `nProbe`
    * nearest cells (partition pruning when the codes table is written
    * partitioned by cell), then ADC over the FINE per-subspace codes
    * ranks only the survivors. The memory story multiplies: the scan
    * reads nProbe/nCells of the corpus AND m bytes per vector instead
    * of the float row — at 100 TB that is the difference between a
    * full-table scan and a few directory reads.
    *
    * Replay contract: the coarse quantizer is the qd14 seed-cell
    * assignment (argmin of 6-dp-rounded L2², lowest index ties; the
    * query's probe set uses the SAME rule driver-side), and the fine
    * stage is [[pqTopKFromCodes]] with the qs7 full-corpus seed
    * codebook — both rules an SQL oracle re-derives exactly.
    */
  def ivfPqTopK(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Double],
      topK: Int,
      nCells: Int = 8,
      nProbe: Int = 2,
      m: Int = 8,
      k: Int = 16): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells,
      s"nProbe must be in [1, nCells], got $nProbe")
    val coarse = pqCodebook(embs, idCol, vecCol, 1, nCells)
    val probes = coarse(0).zipWithIndex
      .map { case (cent, i) =>
        var d = 0.0
        var j = 0
        val n = math.min(cent.length, query.length)
        while (j < n) { val diff = query(j) - cent(j); d += diff * diff; j += 1 }
        (math.floor(d * 1e6 + 0.5) / 1e6, i)
      }
      .sortBy(identity)
      .take(nProbe)
      .map(_._2)
    val probedIds = pqEncode(embs, idCol, vecCol, coarse)
      .select(col(idCol), col("codes").getItem(0).as("__cell"))
      .filter(col("__cell").isin(probes.map(Integer.valueOf): _*))
      .select(col(idCol))
    val subset = embs.join(probedIds, Seq(idCol), "left_semi")
    val fine = pqCodebook(embs, idCol, vecCol, m, k)
    pqTopKFromCodes(pqEncode(subset, idCol, vecCol, fine), idCol, fine, query, topK)
  }

  /** Discount weights 1/log₂(i+1) for NDCG ranks 1..10 as exact
    * shortest-repr DOUBLE LITERALS — computing log₂ at runtime hands
    * the constant to libm (not correctly-rounded across engines);
    * parsing the same decimal string yields the same double everywhere.
    */
  private val NdcgWeights = Seq(
    1.0, 0.6309297535714575, 0.5, 0.43067655807339306,
    0.38685280723454163, 0.3562071871080222, 0.3333333333333333,
    0.31546487678572877, 0.3010299956639812, 0.2890648263178879)

  /** NDCG@k — the graded ranking-quality metric (Järvelin & Kekäläinen
    * 2002): how close the similarity ranking's relevance ordering is to
    * ideal, `NDCG = Σ relᵢ·wᵢ / Σ rel*ᵢ·wᵢ` with logarithmic discounts
    * and the ideal being the corpus's best-possible top-k. The standard
    * retrieval-eval readout next to recall (RecallSpec) and calibration
    * (qp8).
    *
    * Cross-engine exact: the ranking cut is the qs1 rounded-cosine
    * contract, relevance labels are integers, discounts are LITERAL
    * doubles, and both DCG sums fold in RANK ORDER (never an unordered
    * double aggregate). One corpus scan per ranking (the top-k cuts are
    * TakeOrdered), k-row folds after.
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

  /** MMR DIVERSITY RE-RANKING (Carbonell & Goldstein 1998) — the
    * redundancy-aware top-k every retrieval/RAG stack ships: from a
    * relevance-ranked candidate pool, greedily pick
    * `argmax λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s)` so each next
    * result is relevant AND far from what's already chosen (plain
    * top-k returns k near-duplicates of the best hit).
    *
    * Sequential BY DEFINITION (each pick changes the next objective),
    * so it runs as k let-bound fold steps over ONE packed candidate
    * row — the qe28 idiom, each step's state bound as a lambda var the
    * optimizer cannot inline. Cross-engine exact: the pool cut and all
    * pairwise similarities are 6-dp-ROUNDED cosines (the qs1 replay
    * chain), λ is dyadic, and the greedy compares the one-subtract
    * IEEE objective on those identical operands with a smallest-id tie
    * break — the qe30-style argmax-as-max(struct) replays in SQL.
    *
    * Scale shape: the expensive part stays the distributed pool scan
    * ([[bruteForceTopK]]); the greedy is O(k·poolK) cosines over one
    * poolK-row packed array — driver-free, shuffle-free, constant-
    * bounded by contract (poolK ≤ 1000).
    */
  def mmrRerank(
      embs: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], poolK: Int, k: Int,
      lambda: Double): DataFrame = {
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
            array_max(transform(p,
              q => round(VectorFunctions.cosine(e("emb"), q("emb")), 6))),
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

/** Bounded top-k by (score desc, id asc) as a typed Aggregator. The buffer
  * never exceeds k entries, so the partial→final shuffle carries at most
  * k rows per (group, partition) regardless of input cardinality — this is
  * what makes [[Similarity.knnJoin]] scale-safe. Buffer is kept sorted
  * best-first; the common full-buffer-and-worse-than-last case is a single
  * comparison with no allocation.
  */
final class TopKByScore(k: Int)
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

/** [[TopKByScore]] with EXACT-DUPLICATE suppression: an incoming
  * (score, id) already present in the buffer is a no-op instead of
  * occupying a second rank slot. Exists for candidate generators that
  * can emit the same pair more than once (multi-probe cell joins in
  * [[Similarity.mutualKnn]] — a pair sharing both probed cells arrives
  * twice with the SAME rounded score, because the score is a pure
  * function of the pair). Only exact duplicates are suppressed; two
  * distinct ids with equal scores still take two slots, tie-broken by
  * ascending id as in the base aggregator.
  *
  * Correctness under partial aggregation: duplicates split across
  * partitions each enter their partial buffer once; `merge` re-checks
  * membership, so the merged buffer holds one copy. A duplicate whose
  * twin was evicted re-evaluates to the same rejection the twin got.
  */
final class TopKDistinctByScore(k: Int)
    extends org.apache.spark.sql.expressions.Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
  require(k > 0, s"k must be positive, got $k")

  private def better(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  private def insert(buf: Seq[(Double, Long)], in: (Double, Long)): Seq[(Double, Long)] = {
    if (buf.length >= k && !better(in, buf.last)) buf
    else if (buf.contains(in)) buf
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
