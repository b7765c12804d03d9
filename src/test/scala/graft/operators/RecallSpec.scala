package graft.operators

import graft.{GraftSession, TempDirs}
import org.scalatest.funsuite.AnyFunSuite

/** Quantified ANN recall: `ivfTopK` and `ivfKmeansTopK` trade recall for
  * scan fraction BY CONSTRUCTION (only the probed cells are scored), but
  * until this spec nothing *measured* the trade. Methodology: a
  * seed-pinned mixture-of-Gaussians corpus (the shape real embedding
  * spaces have — tight clusters, not uniform noise), recall@10 averaged
  * over 12 held-out queries against the exact `bruteForceTopK` answer.
  *
  * Asserted operating point (documented for users): hyperplane IVF at
  * bits=6 reaches **recall@10 ≥ 0.9 at nProbe=2** while scoring ~22/64
  * cells, and probing the full hamming ball (nProbe=bits) reproduces the
  * exact answer. Recall is monotone in nProbe — probing more cells only
  * ever adds candidates.
  */
class RecallSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = GraftSession.local(2, "recall-spec")

  private val dim = 16
  private val nClusters = 16
  private val perCluster = 125 // 2000 vectors

  // seed-pinned mixture of Gaussians: centers ~ N(0,1)^dim, members =
  // center + 0.1·noise. Embedding spaces cluster; uniform noise would
  // understate real-world recall and make the floor meaningless.
  private lazy val (corpus, queries) = {
    val rnd = new scala.util.Random(1234)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = (0 until nClusters).flatMap { c =>
      (0 until perCluster).map { i =>
        val v = centers(c).map(x => (x + 0.1 * rnd.nextGaussian()).toFloat)
        (c.toLong * perCluster + i, v.toSeq)
      }
    }
    val qrnd = new scala.util.Random(77)
    val qs = (0 until 12).map { _ =>
      val c = centers(qrnd.nextInt(nClusters))
      c.map(x => x + 0.1 * qrnd.nextGaussian())
    }
    (rows, qs)
  }

  private lazy val embs = {
    import spark.implicits._
    corpus.toDF("vec_id", "embedding").cache()
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  private def meanRecall(k: Int, topK: Array[Double] => org.apache.spark.sql.DataFrame): Double = {
    val rs = queries.map { q =>
      val exact = ids(Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, k))
      val approx = ids(topK(q))
      exact.intersect(approx).size.toDouble / exact.size
    }
    rs.sum / rs.length
  }

  test("hyperplane IVF: recall@10 is monotone in nProbe and >= 0.9 at nProbe=2 (bits=6)") {
    val byProbe = (0 to 2).map { p =>
      p -> meanRecall(10, q => Similarity.ivfTopK(embs, "vec_id", "embedding", q, 10, bits = 6, nProbe = p))
    }.toMap
    // more probed cells can only ADD candidates → monotone non-decreasing
    assert(byProbe(0) <= byProbe(1) && byProbe(1) <= byProbe(2),
      s"recall must be monotone in nProbe, got $byProbe")
    assert(byProbe(2) >= 0.9,
      s"operating point violated: recall@10 at bits=6/nProbe=2 is ${byProbe(2)} < 0.9")
    // nProbe=2 scores a 22/64-cell ball — the trade the scale path buys
    assert(byProbe(2) < 1.0 + 1e-9)
  }

  test("multi-probe beats the hamming ball at the SAME cell budget " +
      "(margin-ranked perturbations vs blind radius-1 flips), and the " +
      "mask ranking is exact integer arithmetic") {
    import org.apache.spark.sql.functions.col
    // budget = 11 cells/query at bits=10 (1024 cells — small enough
    // that the ball leaks): ball = own cell + 10 radius-1 flips;
    // multi-probe = the 11 lowest Σµ² perturbations (mask 0 first)
    val ball = Similarity.annRecall(
      embs, "vec_id", "embedding", dim = dim, k = 10, bits = 10,
      nProbe = 1, numQueries = 12).collect()
    val mp = Similarity.annRecallMultiProbe(
      embs, "vec_id", "embedding", dim = dim, k = 10, bits = 10,
      nCand = 11, numQueries = 12).collect()
    val ballMean = ball.map(_.getDouble(2)).sum / ball.length
    val mpMean = mp.map(_.getDouble(2)).sum / mp.length
    info(f"cell budget 11/1024: hamming-1 ball mean recall $ballMean%.4f, " +
      f"multi-probe $mpMean%.4f")
    assert(mpMean >= ballMean,
      f"multi-probe must not lose to the ball at equal budget: " +
        f"$mpMean%.4f < $ballMean%.4f")
    assert(ballMean < 1.0,
      s"comparison vacuous: the ball already saturates at $ballMean")
    // mask ranking: mask 0 always first; low-margin double-flip beats a
    // high-margin single flip
    val masks = Similarity.multiProbeMasks(
      Array(1L, 2L, 1000L, 1000L, 1000L, 1000L), bits = 6, nCand = 4)
    assert(masks.head == 0L, s"own cell must probe first: $masks")
    // scores: {}=0, {b0}=1, {b1}=4, {b0,b1}=5 — all beat any 1000²-flip
    assert(masks == Seq(0L, 1L, 2L, 3L), s"margin ranking wrong: $masks")
    // full enumeration at nCand = 2^bits probes every cell ⇒ recall 1
    val everything = Similarity.annRecallMultiProbe(
      embs, "vec_id", "embedding", dim = dim, k = 10, bits = 6,
      nCand = 64, numQueries = 4).collect()
    assert(everything.forall(_.getDouble(2) == 1.0),
      "probing all cells must reproduce the exact answer")
  }

  test("multiProbeTopK: all-cells probe IS brute force; the fixed-budget " +
      "search recalls at least as much of the exact top-10 as the " +
      "equal-budget hamming ball") {
    val q = queries.head
    val exact = ids(Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10))
    val all = ids(Similarity.multiProbeTopK(
      embs, "vec_id", "embedding", q, 10, bits = 6, nCand = 64))
    assert(all == exact, "probing every cell must equal brute force")
    // equal budget: 11 cells at bits=10
    val mpRs = queries.map { qv =>
      val ex = ids(Similarity.bruteForceTopK(embs, "vec_id", "embedding", qv, 10))
      val ball = ids(Similarity.ivfTopK(
        embs, "vec_id", "embedding", qv, 10, bits = 10, nProbe = 1))
      val mp = ids(Similarity.multiProbeTopK(
        embs, "vec_id", "embedding", qv, 10, bits = 10, nCand = 11))
      (ex.intersect(mp).size, ex.intersect(ball).size)
    }
    val (mpHits, ballHits) = (mpRs.map(_._1).sum, mpRs.map(_._2).sum)
    info(s"search-path hits over ${queries.length} queries: " +
      s"ball $ballHits, multi-probe $mpHits")
    assert(mpHits >= ballHits,
      s"search path must not lose to the ball at equal budget: $mpHits < $ballHits")
    // batch form: all-cells probe reproduces the exact knnJoin rows
    import org.apache.spark.sql.functions.col
    val qdf = embs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exactJoin = Similarity.knnJoin(
      embs, qdf, "vec_id", "embedding", "qid", "qv", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mpJoin = Similarity.multiProbeKnnJoin(
      embs, qdf, "vec_id", "embedding", "qid", "qv",
      dim = dim, k = 10, bits = 6, nCand = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mpJoin == exactJoin,
      "all-cells multiProbeKnnJoin must reproduce knnJoin exactly")
  }

  test("hyperplane IVF: probing the full hamming ball reproduces the exact answer") {
    val full = meanRecall(10,
      q => Similarity.ivfTopK(embs, "vec_id", "embedding", q, 10, bits = 6, nProbe = 6))
    assert(full == 1.0, s"full-ball probe must equal brute force, recall=$full")
  }

  test("annRecall: full-ball probe reports recall 1.0 for every query; " +
      "narrow probe matches a hand-computed intersection and stays in [0,1]") {
    import org.apache.spark.sql.functions.col
    // full hamming ball ⇒ candidates = corpus ⇒ approx ≡ exact top-k
    val full = Similarity.annRecall(
      embs, "vec_id", "embedding", dim = dim, k = 10, bits = 6,
      nProbe = 6, numQueries = 8).collect()
    assert(full.length == 8)
    assert(full.forall(r => r.getLong(1) == 10L && r.getDouble(2) == 1.0),
      s"full-ball recall must be exactly 1: ${full.mkString(",")}")
    // narrow probe: per-query n_hit equals the brute intersection of the
    // operator's two sides recomputed independently
    val narrow = Similarity.annRecall(
      embs, "vec_id", "embedding", dim = dim, k = 10, bits = 6,
      nProbe = 0, numQueries = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(narrow.keySet == (0L until 8L).toSet)
    narrow.foreach { case (qid, (hit, rec)) =>
      assert(hit >= 0L && hit <= 10L && rec == hit / 10.0)
    }
    val qvecs = embs.filter(col("vec_id") < 8)
      .orderBy(col("vec_id")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    qvecs.foreach { case (qid, qv) =>
      val exact = ids(Similarity.bruteForceTopK(
        embs.filter(col("vec_id") =!= qid), "vec_id", "embedding", qv, 10))
      val cell = SimilarityVariants.hyperplaneCellLocal(qv, 6)
      val inCell = embs.collect().filter { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        r.getLong(0) != qid && SimilarityVariants.hyperplaneCellLocal(v, 6) == cell
      }.map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
      def cos(a: Array[Double], b: Array[Double]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        val na = math.sqrt(a.map(x => x * x).sum)
        val nb = math.sqrt(b.map(x => x * x).sum)
        if (na * nb == 0) 0.0
        else math.rint(dot / (na * nb) * 1e6) / 1e6
      }
      val approx = inCell.map { case (id, v) => (cos(v, qv), id) }
        .sortBy { case (s, id) => (-s, id) }.take(10).map(_._2).toSet
      assert(narrow(qid)._1 == exact.intersect(approx).size.toLong,
        s"query $qid: operator n_hit ${narrow(qid)._1} != hand count")
    }
  }

  test("k-means IVF: recall@10 >= 0.9 probing 4 of 16 clusters") {
    val r = meanRecall(10,
      q => SimilarityVariants.ivfKmeansTopK(embs, "vec_id", "embedding", q, 10, nClusters = 16, nProbe = 4, iters = 4))
    assert(r >= 0.9, s"kmeans-IVF recall@10 at 4/16 probes is $r < 0.9")
  }

  // -------------------------------------------------- product quantization

  /** PQ corpus: same vectors, ids INTERLEAVED across clusters (id = i·16
    * + c) so the lowest-16-id seed codebook sees one vector per cluster —
    * the diverse-prefix shape a shuffled production corpus has. With
    * cluster-ordered ids the seed codebook would be 16 near-copies of
    * cluster 0 (a degenerate quantizer by construction, not an engine
    * property); production swaps in kmeans sub-codebooks anyway.
    */
  private lazy val pqCorpus: Seq[(Long, Seq[Float])] = corpus.map { case (id, v) =>
    val c = id / perCluster
    val i = id % perCluster
    (i * nClusters + c, v)
  }

  private lazy val embsPq = {
    import spark.implicits._
    pqCorpus.toDF("vec_id", "embedding").cache()
  }

  /** Exact L2 top-k computed locally (independent of the engine path). */
  private def exactL2(q: Array[Double], k: Int): Set[Long] =
    pqCorpus
      .map { case (id, v) =>
        val d = v.zipWithIndex.map { case (x, i) => val diff = x - q(i); diff * diff }.sum
        (d, id)
      }
      .sortBy(identity)
      .take(k)
      .map(_._2)
      .toSet

  test("PQ/ADC: full-shortlist rerank IS exact L2 top-k; recall monotone in shortlist") {
    val perQuery = queries.map { q =>
      val exact = exactL2(q, 10)
      def recallAt(shortlist: Int): Double = {
        val got = ids(SimilarityVariants.pqTopKRerank(
          embsPq, "vec_id", "embedding", q, 10, shortlist = shortlist, m = 4, k = 16))
        exact.intersect(got).size.toDouble / exact.size
      }
      (recallAt(2000), recallAt(200), recallAt(50))
    }
    // shortlist = corpus size degenerates to brute force exactly
    assert(perQuery.forall(_._1 == 1.0), s"full-shortlist rerank must be exact: $perQuery")
    // a larger ADC shortlist can only add candidates to the exact re-rank
    val mean200 = perQuery.map(_._2).sum / perQuery.size
    val mean50 = perQuery.map(_._3).sum / perQuery.size
    assert(mean200 >= mean50, s"recall must be monotone in shortlist: 200=$mean200 50=$mean50")
    // operating floor on the clustered corpus (measured ~1.0 at 200)
    assert(mean200 >= 0.8, s"PQ rerank recall@10 at shortlist=200 is $mean200 < 0.8")
  }

  test("PQ codes: m codes per vector, every code within [0, k)") {
    val cb = Similarity.pqCodebook(embsPq, "vec_id", "embedding", m = 4, k = 16)
    assert(cb.length == 4 && cb.forall(_.length == 16) && cb.forall(_.forall(_.length == 4)))
    val codes = Similarity.pqEncode(embsPq, "vec_id", "embedding", cb)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(codes.length == 2000)
    assert(codes.forall { case (_, cs) => cs.length == 4 && cs.forall(c => c >= 0 && c < 16) })
    // deterministic: a second encode pass is bit-identical
    val again = Similarity.pqEncode(embsPq, "vec_id", "embedding", cb)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
      .toMap
    assert(codes.forall { case (id, cs) => again(id) == cs })
  }

  test("PQ: Lloyd-refined codebook reaches the recall floor of the seed codebook") {
    val kmCb = Similarity.pqCodebookKmeans(embsPq, "vec_id", "embedding", m = 4, k = 16, iters = 3)
    assert(kmCb.length == 4 && kmCb.forall(_.length == 16) && kmCb.forall(_.forall(_.length == 4)))
    def meanRecallAt(cb: Option[Array[Array[Array[Double]]]]): Double = {
      val rs = queries.map { q =>
        val exact = exactL2(q, 10)
        val got = ids(SimilarityVariants.pqTopKRerank(
          embsPq, "vec_id", "embedding", q, 10, shortlist = 100, m = 4, k = 16, codebook = cb))
        exact.intersect(got).size.toDouble / exact.size
      }
      rs.sum / rs.length
    }
    val refined = meanRecallAt(Some(kmCb))
    val seed = meanRecallAt(None)
    // the refined codebook is the production path: it must not fall below
    // the seed codebook's operating floor (typically it exceeds it)
    assert(refined >= 0.8, s"kmeans-PQ rerank recall@10 at shortlist=100 is $refined < 0.8")
    assert(refined >= seed - 0.1, s"refined=$refined seed=$seed — refinement regressed recall")
  }

  test("PQ: ADC over a STORED codes table equals the inline-encode path") {
    val q = queries.head
    val cb = Similarity.pqCodebook(embsPq, "vec_id", "embedding", m = 4, k = 16)
    val dir = tempDir("pq-codes").toString + "/codes"
    // ingest-time encode, persisted: queries scan m bytes + id per vector
    Similarity.pqEncode(embsPq, "vec_id", "embedding", cb).write.parquet(dir)
    val stored = Similarity
      .pqTopKFromCodes(spark.read.parquet(dir), "vec_id", cb, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inline = Similarity
      .pqTopK(embsPq, "vec_id", "embedding", q, 10, m = 4, k = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == inline)
  }

  // ------------------------------------------------ int8 scalar quantization

  test("SQ int8: recall@10 vs exact dot >= 0.9, scores within the quantization bound") {
    // SQ approximates the DOT metric; measure against exact float dot
    val rs = queries.map { q =>
      val (qc, qm) = Similarity.sqQuantizeQuery(q)
      val exact = ids(Similarity.bruteForceTopKDot(embs, "vec_id", "embedding", q, 10))
      val approx = ids(Similarity.sqTopK(embs, "vec_id", "embedding", qc, qm, 10))
      exact.intersect(approx).size.toDouble / exact.size
    }
    val recall = rs.sum / rs.length
    assert(recall >= 0.9, s"SQ-int8 recall@10 vs exact dot is $recall < 0.9")
    // per-row error bound: |approx - exact| <= (|v|1*qm + |q|1*m + 64*m*qm/127) / 254
    // loose practical check: top score within 2% relative of the exact top
    val q0 = queries.head
    val (qc0, qm0) = Similarity.sqQuantizeQuery(q0)
    val exactTop = Similarity.bruteForceTopKDot(embs, "vec_id", "embedding", q0, 1)
      .collect()(0).getDouble(1)
    val sqTop = Similarity.sqTopK(embs, "vec_id", "embedding", qc0, qm0, 1)
      .collect()(0).getDouble(1)
    assert(math.abs(sqTop - exactTop) / math.abs(exactTop) < 0.02,
      s"SQ top score $sqTop drifted > 2% from exact $exactTop")
    // zero vector rejected loudly on the query side
    intercept[IllegalArgumentException](Similarity.sqQuantizeQuery(Array.fill(4)(0.0)))
  }

  test("SQ: top-k over a STORED int8 codes table equals the inline path") {
    val q = queries.head
    val (qc, qm) = Similarity.sqQuantizeQuery(q)
    val dir = tempDir("sq-codes").toString + "/codes"
    val enc = SimilarityVariants.sqEncode(embs, "vec_id", "embedding")
    // the artifact really is int8 + one scale (the 4× claim)
    assert(enc.schema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, true))
    enc.write.parquet(dir)
    val stored = SimilarityVariants
      .sqTopKFromCodes(spark.read.parquet(dir), "vec_id", qc, qm, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inline = Similarity.sqTopK(embs, "vec_id", "embedding", qc, qm, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == inline)
  }

  test("random projection: JL distance preservation within the bound, determinism") {
    import spark.implicits._
    // project the 16-dim corpus to 8 dims; pairwise squared distances of
    // a sample must be preserved in EXPECTATION (the ±1/√d' matrix is an
    // isometry on average) — check the mean ratio, not per-pair (the JL
    // guarantee at d'=8 is loose per pair)
    val proj = Similarity.randomProjection(embs, "vec_id", "embedding", 8, inDims = dim)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      }
    val orig = corpus.take(40).map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = orig.keys.toSeq.sorted
    val ratios = for {
      i <- ids.indices; j <- (i + 1) until ids.size
      o = d2(orig(ids(i)), orig(ids(j))) if o > 1e-9
    } yield d2(proj(ids(i)).toArray, proj(ids(j)).toArray) / o
    val mean = ratios.sum / ratios.size
    assert(math.abs(mean - 1.0) < 0.35, s"mean distance ratio $mean")
    // deterministic: same input, same projection, any partitioning
    val again = Similarity.randomProjection(
      embs.repartition(7), "vec_id", "embedding", 8, inDims = dim)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val first = Similarity.randomProjection(embs, "vec_id", "embedding", 8, inDims = dim)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(again == first)
    // an inDims larger than the vectors poisons LOUDLY (null), never
    // silently truncates — the documented contract
    val poisoned = Similarity.randomProjection(embs, "vec_id", "embedding", 2, inDims = dim + 1)
      .collect()
    assert(poisoned.forall(_.isNullAt(2)))
  }

  test("dbscan: labels are PURE on the Gaussian mixture (no label mixes two " +
    "ground clusters), most of the corpus is non-noise, deterministic") {
    import org.apache.spark.sql.functions._
    // members of a ground cluster sit at cosine ~0.99 of each other;
    // cross-cluster cosine is that of random gaussian directions in
    // dim 16 (well under 0.9 for this seed)
    val out = Similarity.dbscanCosine(
      embs, "vec_id", "embedding", dim = dim,
      simThreshold = 0.9, minPts = 3, bits = 6)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.length == nClusters * perCluster)
    val nonNoise = rows.filter(_._3 >= 0)
    assert(nonNoise.length >= rows.length * 8 / 10,
      s"only ${nonNoise.length} of ${rows.length} clustered")
    // purity: a DBSCAN label never spans two ground-truth clusters
    // (ground cluster of vec v = v / perCluster)
    nonNoise.groupBy(_._3).foreach { case (lbl, members) =>
      val grounds = members.map(_._1 / perCluster).toSet
      assert(grounds.size == 1,
        s"dbscan label $lbl mixes ground clusters $grounds")
    }
    // cores dominate inside recovered clusters; borders only ever attach
    // to an existing cluster label
    val roleOf = rows.map(r => r._1 -> r._2).toMap
    val coreLabels = nonNoise.filter(r => roleOf(r._1) == "core").map(_._3).toSet
    assert(nonNoise.filter(r => roleOf(r._1) == "border")
      .forall(r => coreLabels.contains(r._3)))
    // deterministic under repartitioning
    val again = Similarity.dbscanCosine(
      embs.repartition(7), "vec_id", "embedding", dim = dim,
      simThreshold = 0.9, minPts = 3, bits = 6)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(again == rows.toSet)
  }

  test("hardNegatives: equals the brute band + window reference, excludes " +
    "self and the near-dup band, deterministic") {
    import org.apache.spark.sql.functions._
    val anchors = embs.orderBy(col("vec_id")).limit(5)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val out = Similarity.hardNegatives(
      embs, anchors, "vec_id", "embedding", "a_id", "a_vec",
      lo = 0.2, hi = 0.8, k = 7)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // brute reference with the same rounded cosine
    val ref = embs.crossJoin(org.apache.spark.sql.functions.broadcast(anchors))
      .filter(col("vec_id") =!= col("a_id"))
      .withColumn("sim", round(
        graft.functions.VectorFunctions.cosine(col("embedding"), col("a_vec")), 6))
      .filter(col("sim") >= 0.2 && col("sim") < 0.8)
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("a_id"))
          .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= 7)
      .select(col("a_id"), col("vec_id"), col("sim"), col("rank").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.toSet == ref.toSet)
    // every score inside the band, no self pair
    assert(rows.forall(r => r._3 >= 0.2 && r._3 < 0.8 && r._1 != r._2))
    val again = Similarity.hardNegatives(
      embs.repartition(9), anchors, "vec_id", "embedding", "a_id", "a_vec",
      lo = 0.2, hi = 0.8, k = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(again.toSet == rows.toSet)
  }

  test("dbscan: minPts above any bucket degree labels everything noise; " +
    "noise rows carry cluster -1") {
    val out = Similarity.dbscanCosine(
      embs, "vec_id", "embedding", dim = dim,
      simThreshold = 0.9, minPts = 10000, bits = 6)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(out.forall(_ == ("noise", -1L)))
  }
}
