package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the scale-design claims in ENGINE.md
  * ("filters reach the scan", "dims broadcast", "partial aggregation
  * before the exchange") verified against the actual executed plans, so a
  * regression that silently de-optimizes a plan (a lost pushdown, a
  * broadcast that falls back to shuffle) fails the suite rather than only
  * showing up at 100 TB.
  */
class PlanSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(2, "plan-spec")
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Plan AFTER execution — AQE finalizes stages (and codegen markers)
    * only once the query has actually run.
    */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q2: filter and projection are pushed into the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(p_size,30)"), p.take(800))
    // pruned read schema: only the 4 selected columns are read
    assert(!p.contains("p_retailprice"), "unselected column leaked into ReadSchema")
  }

  test("q1: aggregation is partial (map-side combine) before the exchange") {
    val p = plan("q1_agg")
    // two HashAggregates around one exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
    assert(p.contains("Exchange hashpartitioning"), p.take(800))
  }

  test("q3: dimension joins broadcast — the fact side is never shuffled for the join") {
    val p = plan("q3_join_agg")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "dim join fell back to sort-merge")
  }

  test("q5: anti join survives as a join, not a cartesian") {
    val p = plan("q5_anti_join")
    assert(p.contains("LeftAnti"), p.take(800))
    assert(!p.contains("CartesianProduct"), "anti join planned as cartesian")
  }

  test("qs1: cosine top-k is TakeOrdered, not a global sort") {
    val p = plan("qs1_cosine_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Sort ["), "global sort materialized for a top-k")
  }

  test("qs5: knn join pre-reduces candidates map-side — no window over the full candidate set") {
    val p = plan("qs5_knn_join")
    // a Window node would mean every |corpus|x|queries| candidate row is
    // exchanged before the k-cut; the bounded aggregator must plan as an
    // ObjectHashAggregate partial/final pair instead
    assert(!p.contains("Window"), "knn join fell back to window-over-crossJoin:\n" + p.take(1200))
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
    // queries side broadcasts; corpus is never shuffled for the join
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("qsp2: small right side takes the broadcast KD path — no join, no aggregation, no right exchange") {
    val p = plan("qsp2_nearest")
    // sf supplier count is far below kdThreshold: the right side collects
    // into a broadcast KD-tree and each left row probes it in one narrow
    // project — the plan must contain NO join node and NO aggregate (the
    // grid path's argmin machinery), and the only exchange allowed is the
    // left side's round-robin repartition for parallelism
    assert(!p.contains("Join"), "KD fast path regressed to a join plan:\n" + p.take(1200))
    assert(!p.contains("Aggregate"), "KD fast path regressed to grid argmin:\n" + p.take(1200))
    assert(!p.contains("Exchange hashpartitioning"), "unexpected shuffle in KD path:\n" + p.take(1200))
  }

  test("qsp2 grid path (kdThreshold=0): packed argmin aggregates with hash aggregation, not sort aggregation") {
    import org.apache.spark.sql.functions._
    val cust = Tables.customer(spark, sf).select(
      col("c_custkey"),
      ((col("c_custkey") % 180) - 90 + 0.25).as("clon"),
      ((col("c_custkey") % 160) - 80 + 0.25).as("clat"))
    val supp = Tables.supplier(spark, sf).select(
      col("s_suppkey"),
      ((col("s_suppkey") * 3 % 180) - 90).cast("double").as("slon"),
      ((col("s_suppkey") * 5 % 160) - 80).cast("double").as("slat"))
    val p = operators.Spatial
      .nearestJoinGridKm(
        cust, "c_custkey", "clon", "clat", supp, "s_suppkey", "slon", "slat",
        kdThreshold = 0L)
      .queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p.take(800))
    assert(!p.contains("SortAggregate"), "argmin fell off hash aggregation")
  }

  test("qs7: PQ ADC k-cut is TakeOrdered, not a global sort") {
    val p = plan("qs7_pq_adc")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Sort ["), "global sort materialized for the ADC top-k")
  }

  test("qt20: quality rules are a pure projection — zero exchanges, scan-speed at any scale") {
    val p = plan("qt20_quality_rules")
    assert(!p.contains("Exchange"), "quality rules grew a shuffle:\n" + p.take(1200))
    assert(!p.contains("Join"), p.take(800))
  }

  test("qt24: HTML extraction is a pure projection — zero exchanges, scan-speed at any scale") {
    val p = plan("qt24_html_extract")
    assert(!p.contains("Exchange"), "html extraction grew a shuffle:\n" + p.take(1200))
    assert(!p.contains("Join"), p.take(800))
  }

  test("qt28: token-window chunking is a pure generator projection — zero exchanges") {
    val p = plan("qt28_chunk")
    assert(!p.contains("Exchange"), "chunking grew a shuffle:\n" + p.take(1200))
    assert(!p.contains("Join"), p.take(800))
    assert(p.contains("Generate explode"), "chunk fan-out should be a Generate:\n" + p.take(800))
  }

  test("qs11: random projection is a pure generator projection — zero exchanges") {
    val p = plan("qs11_random_projection")
    assert(!p.contains("Exchange"), "projection grew a shuffle:\n" + p.take(1200))
    assert(!p.contains("Join"), p.take(800))
    // the derived sign matrix must never materialize as a join side
    assert(p.contains("Generate explode"), "dim fan-out should be a Generate:\n" + p.take(800))
  }

  test("qe19: funnel is ONE key shuffle — no per-step join cascade") {
    val p = plan("qe19_funnel")
    assert(!p.contains("Join"), "funnel grew a self-join:\n" + p.take(1200))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"funnel should shuffle once, saw $exchanges:\n" + p.take(1200))
  }

  test("qk1: the KMV sketch aggregate partial-aggregates before the exchange") {
    val p = plan("qk1_kmv_distinct")
    // ObjectHashAggregate partial (the Aggregator's map-side combine)
    // must appear BELOW the exchange — the shuffle carries <= k longs
    // per (partition, key), never the distinct set
    val i = p.indexOf("Exchange hashpartitioning")
    assert(i >= 0, p.take(800))
    val below = p.substring(i)
    assert(below.contains("partial_kminbuffer") || below.contains("ObjectHashAggregate"),
      "no partial aggregate below the exchange:\n" + p.take(1600))
  }

  test("qk4: HLL is two codegen hash aggregates — no Expand, no Object agg, no join") {
    val p = plan("qk4_hll_distinct")
    // registers are rows from PLAIN hash aggregates (builtin max/sum —
    // codegen'd, partial before each exchange); the sketch must never
    // regress to exact-distinct's Expand or to an Aggregator's
    // ObjectHashAggregate
    assert(!p.contains("Expand"), "HLL grew an exact-distinct Expand:\n" + p.take(1200))
    assert(!p.contains("ObjectHashAggregate"), p.take(1200))
    assert(!p.contains("Join"), p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 4, "expected partial+final x2:\n" + p.take(1200))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"register + estimate = at most 2 shuffles, saw $exchanges:\n" + p.take(1200))
  }

  test("qt38: the Apriori prune is the in-array retain_in expression — " +
    "no ObjectHashAggregate regroup, no basket-id exchange") {
    val p = plan("qt38_assoc_pairs")
    assert(p.contains("retain_in"), "in-array prune path not taken:\n" + p.take(1200))
    // the old shape exploded every basket, semi-joined the frequent set
    // and regrouped with collect_list — an ObjectHashAggregate plus a
    // corpus-wide monotonically_increasing_id exchange this path removes
    assert(!p.contains("ObjectHashAggregate"),
      "regroup ObjectHashAggregate came back:\n" + p.take(1200))
    assert(!p.contains("monotonically_increasing_id"),
      "basket-id regroup came back:\n" + p.take(1200))
    // pair counting stays map-side combined: only distinct pairs shuffle
    assert(p.contains("partial_count"), "pair count not partial:\n" + p.take(1200))
  }

  test("qg29/qs18/qd23: the round-19 additions stay cartesian- and " +
    "corpus-Window-free; ANN recall broadcasts its query side") {
    // qg29: the fixpoint's per-round plan is edge-join + max aggregate;
    // the composed result must not have grown a cartesian or a Window
    val dl = plan("qg29_dag_layer")
    assert(!dl.contains("CartesianProduct"), dl.take(800))
    assert(!"Window\\b".r.findFirstIn(dl).isDefined, dl.take(800))
    // qs18: both top-k sides reduce through the bounded aggregator —
    // queries ride a broadcast, never a shuffled corpus join; no Window
    val ar = plan("qs18_ann_recall")
    assert(!ar.contains("CartesianProduct"), ar.take(800))
    assert(!"Window\\b".r.findFirstIn(ar).isDefined,
      "ANN recall planned a Window sort:\n" + ar.take(800))
    assert(ar.contains("BroadcastNestedLoopJoin") || ar.contains("BroadcastExchange"),
      "query side not broadcast:\n" + ar.take(800))
    // qd23: candidates come from the banded-LSH equi-join, never all-pairs
    val wj = plan("qd23_weighted_jaccard")
    assert(!wj.contains("CartesianProduct"), wj.take(800))
    assert(!"Window\\b".r.findFirstIn(wj).isDefined, wj.take(800))
  }

  test("qe22: rolling z-score is ONE key shuffle + one Window — no self-join") {
    val p = plan("qe22_zscore")
    assert(!p.contains("Join"), "z-score grew a join:\n" + p.take(1200))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one window shuffle, saw $exchanges:\n" + p.take(1200))
    assert(p.contains("Window"), p.take(800))
  }

  test("qe25: gap-fill is ONE key shuffle — both windows and the generate ride it") {
    val p = plan("qe25_gapfill")
    assert(!p.contains("Join"), "gap-fill grew a join:\n" + p.take(1200))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one window shuffle, saw $exchanges:\n" + p.take(1200))
    assert("Window \\[".r.findAllIn(p).size == 2, p.take(1200))
    // the second window's (key, bucket) order is a prefix of the first's
    // sort — it must NOT re-sort
    assert("Sort \\[".r.findAllIn(p).size == 1, "second window re-sorted:\n" + p.take(1200))
    assert(p.contains("Generate explode"), p.take(800))
  }

  test("qt35: quotas ride broadcast joins — no sort-merge join, no cartesian over docs") {
    val p = plan("qt35_domain_mix")
    assert(!p.contains("SortMergeJoin"), "quota join fell back to sort-merge:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("qe26: holt is ONE key shuffle — an aggregate, no join, no window") {
    val p = plan("qe26_holt")
    assert(!p.contains("Join"), "holt grew a join:\n" + p.take(1200))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one aggregate shuffle, saw $exchanges:\n" + p.take(1200))
  }

  test("qd17: containment candidates come from keyed joins only — no cartesian") {
    val p = plan("qd17_containment")
    assert(!p.contains("CartesianProduct"),
      "containment fell back to all-pairs:\n" + p.take(1200))
  }

  test("qd19: edit-join candidates come from the variant equi-join — " +
      "no cartesian, no nested-loop all-pairs") {
    val p = plan("qd19_edit_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "edit-distance join fell back to all-pairs:\n" + p.take(1200))
  }

  test("qt43: lexical diversity is a pure projection — zero exchanges, " +
      "no join, no window") {
    val p = plan("qt43_lex_diversity")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(1200))
    assert(!p.contains("Exchange hashpartitioning"),
      "per-doc projection grew a shuffle:\n" + p.take(1200))
  }

  test("qe44/qe48/qe50: lag-window composites plan ONE key exchange " +
      "each (lag and the second pass share the partitioning)") {
    for (n <- Seq("qe44_autocorr", "qe48_peaks", "qe50_burstiness")) {
      val p = plan(n)
      assert(!p.contains("Join"), s"$n grew a join:\n" + p.take(1200))
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges == 1, s"$n expected one key exchange, saw $exchanges:\n" + p.take(1200))
    }
  }

  test("qe28: lttb is aggregate + generate — no join, no window") {
    val p = plan("qe28_lttb")
    assert(!p.contains("Join"), "lttb grew a join:\n" + p.take(1200))
    assert(!p.contains("Window"), "lttb grew a window:\n" + p.take(1200))
    // two branches (passthrough ∪ fold) over the same one-exchange agg
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected the shared agg's shuffle(s), saw $exchanges:\n" + p.take(1200))
  }

  test("qt36: the PMI k-cut is TakeOrdered, never a global sort") {
    val p = plan("qt36_pmi")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Sort ["), "global sort materialized for the k-cut:\n" + p.take(1200))
  }

  test("qy6: hilbert index stays inside whole-stage codegen (no CodegenFallback)") {
    // codegen'd operators carry the "*(n)" stage marker once AQE finalizes
    val p = finalPlan("qy6_hilbert")
    assert(p.contains("*("), p.take(800))
    assert(p.contains("hilbert2("), p.take(800))
    // partial+final hash agg on the grouping key is the whole exchange story
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("qd14: SemDeDup pairs come from a cluster equi-join, never a cartesian product") {
    val p = plan("qd14_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "SemDeDup fell back to all-pairs:\n" + p.take(1200))
  }

  test("qs14: mutual-kNN candidates come from the cell equi-join — " +
      "no cartesian, no nested-loop full-corpus broadcast") {
    val p = plan("qs14_mutual_knn")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "mutual kNN fell back to the all-pairs scan:\n" + p.take(1200))
    // the directed-edge subplan (hidden from the gate plan by the
    // transpose checkpoint): candidate generation is a keyed join and
    // the k-cut is the bounded ObjectHashAggregate buffer, not a window
    // over the full candidate set
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val e = operators.Similarity
      .mutualKnnEdges(embs, "vec_id", "embedding", k = 5, nCells = 16, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(!e.contains("CartesianProduct") && !e.contains("BroadcastNestedLoopJoin"),
      "candidate generation fell back to all-pairs:\n" + e.take(1200))
    assert(e.contains("ObjectHashAggregate"), e.take(1200))
    assert(!e.contains("Window"), "k-cut grew a window:\n" + e.take(1200))
  }

  test("whole-stage codegen covers the q1 hot path") {
    // codegen'd operators carry the "*(n)" stage marker in the plan string
    val p = finalPlan("q1_agg")
    assert(p.contains("*("), p.take(800))
  }

  test("q26: bloom prefilter sits on the probe scan, semi join stays a join") {
    val p = plan("q26_bloom_semi")
    // the UDF filter must apply BEFORE the semi join (scan-side pruning),
    // and the exactness layer must remain a real semi join
    assert(p.contains("LeftSemi"), p.take(800))
    assert(!p.contains("CartesianProduct"), "semi join planned as cartesian")
    val joinIdx = p.indexOf("LeftSemi")
    val filterIdx = p.indexOf("Filter")
    assert(filterIdx > joinIdx, "bloom filter not below the join in the plan tree")
  }

  test("q25: cube is one Expand + hash aggregate, not four scans") {
    val p = plan("q25_cube")
    assert(p.contains("Expand"), p.take(800))
    assert("FileScan".r.findAllIn(p).size <= 1, "cube re-scanned the fact table")
  }

  test("qs4: IVF probes filter the corpus BEFORE cosine scoring/top-k") {
    val p = plan("qs4_ivf")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    // the hamming cell filter must be below the top-k, next to the scan
    val topkIdx = p.indexOf("TakeOrderedAndProject")
    val filterIdx = p.indexOf("Filter")
    assert(filterIdx > topkIdx, "cell filter not below the top-k")
  }

  test("qp1: the supplier base is scanned ONCE (shared leaf), not once per subplan") {
    val p = plan("qp1_pipeline")
    // four subplans consume supplier; the shared lazy localCheckpoint
    // must collapse them onto one materialized leaf — any parquet scan of
    // supplier in the final plan means the sharing regressed
    assert(!p.contains("supplier.parquet"), "supplier re-scanned from parquet:\n" + p.take(800))
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 4, "shared leaf not reused by all subplans")
  }

  test("qt47/qs17: bounded-aggregator k-cuts plan NO Window over the corpus " +
    "and no cartesian; qk7/qt49/qd22 stay cartesian-free") {
    // qt47/qs17: the per-key cut is the TopK Aggregator — a Window node
    // would mean the per-key-sort regression the operator exists to avoid
    val pk = plan("qt47_sample_per_key")
    assert(!pk.contains("CartesianProduct"))
    assert(!"Window\\b".r.findFirstIn(pk).isDefined,
      "per-key sample planned a Window sort:\n" + pk.take(600))
    // qt50: the with-replacement draws are ONE partial-aggregated
    // max(struct) — no window, no cartesian, no winner rejoin
    val wr = plan("qt50_sample_with_replacement")
    assert(!wr.contains("CartesianProduct"))
    assert(!"Window\\b".r.findFirstIn(wr).isDefined,
      "with-replacement sample planned a Window sort:\n" + wr.take(600))
    assert(wr.contains("partial_max"),
      "draw argmax not map-side partial:\n" + wr.take(800))
    val hn = plan("qs17_hard_negatives")
    assert(!hn.contains("CartesianProduct"))
    assert(!"Window\\b".r.findFirstIn(hn).isDefined,
      "hard negatives planned a Window sort:\n" + hn.take(600))
    // anchors ride a broadcast, never a shuffled join of the corpus
    assert(hn.contains("BroadcastNestedLoopJoin") || hn.contains("BroadcastExchange"),
      "anchor side not broadcast:\n" + hn.take(600))
    for (q <- Seq("qk7_quantile_sketch", "qt49_unigram_kl", "qd22_leakage_split"))
      assert(!plan(q).contains("CartesianProduct"), s"$q planned a cartesian")
  }

  test("qg32/qm17: round-15 shapes — weighted centrality composes keyed " +
    "joins + ordered folds (no Window, no cartesian); the fingerprint " +
    "candidate tier is a collapse aggregate + band equi-join, never " +
    "all-pairs") {
    import spark.implicits._
    // qg32: the composed normalization tail over the converged distance
    // table — a Window or cartesian here would mean the qg22-tail
    // contract regressed
    val wc = plan("qg32_weighted_centrality")
    assert(!wc.contains("CartesianProduct"), wc.take(800))
    assert(!"Window\\b".r.findFirstIn(wc).isDefined,
      "weighted centrality planned a Window:\n" + wc.take(800))
    // the near-dup candidate tier: dictionary collapse is a (partial)
    // hash aggregate on hash_bits; candidates come from the __bkey
    // equi-join over DISTINCT fingerprints only
    val fp = graft.multimodal.Multimodal.collapseFingerprints(
      Seq((1L, "10101010"), (2L, "10101010"), (3L, "01010101"))
        .toDF("media_id", "hash_bits"))
    val fpPlan = fp.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(fpPlan).size >= 2,
      "fingerprint collapse not partial+final:\n" + fpPlan.take(800))
    val cd = graft.multimodal.Multimodal.fingerprintCandidates(fp, bands = 4)
      .queryExecution.executedPlan.toString
    assert(!cd.contains("CartesianProduct"),
      "band candidates planned a cartesian:\n" + cd.take(800))
    assert(cd.contains("SortMergeJoin") || cd.contains("ShuffledHashJoin")
        || cd.contains("BroadcastHashJoin"),
      "band candidates not an equi-join:\n" + cd.take(800))
    // qs19: probe cells are a broadcast EQUI-join on the signature
    // (partition-prunable against a cell-partitioned corpus) — strictly
    // tighter than qs18's broadcast-nested-loop ball filter; no Window
    val mpPlan = plan("qs19_ann_multiprobe")
    assert(!mpPlan.contains("CartesianProduct"), mpPlan.take(800))
    assert(!"Window\\b".r.findFirstIn(mpPlan).isDefined,
      "multi-probe recall planned a Window:\n" + mpPlan.take(800))
    assert(mpPlan.contains("BroadcastHashJoin"),
      "probe set not a broadcast hash equi-join:\n" + mpPlan.take(800))
    // qs20: the search path is literal-IN cells + TakeOrdered — no
    // join at all, no Window, no full sort of the corpus
    val sp = plan("qs20_ivf_multiprobe")
    assert(sp.contains("TakeOrderedAndProject"),
      "multi-probe top-k lost its TakeOrdered cut:\n" + sp.take(800))
    assert(!sp.contains("Join"), "search path grew a join:\n" + sp.take(800))
    assert(!"Window\\b".r.findFirstIn(sp).isDefined, sp.take(800))
  }

  test("qg27: the weighted power-iteration step is one keyed join + one " +
    "partial-aggregated neighbor sum + a 1-row broadcast norm — no Window, " +
    "no shuffled norm join") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the exact frame shapes the loop feeds eigenStep: (v, w, __w) edges
    // and the (v, __x) vector
    val ed = Seq((1L, 2L, 1.0), (2L, 1L, 1.0), (1L, 3L, 2.0), (3L, 1L, 2.0))
      .toDF("v", "w", "__w")
    val x = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0)).toDF("v", "__x")
    val p = graph.Centrality.eigenStep(ed, x)
      .queryExecution.executedPlan.toString
    assert(!"Window\\b".r.findFirstIn(p).isDefined,
      "eigen step planned a Window:\n" + p.take(600))
    // the L∞ norm is a 1-row broadcast (nested-loop of a single-row
    // side), never a shuffled join of the rank vector
    assert(p.contains("BroadcastNestedLoopJoin"),
      "norm not broadcast:\n" + p.take(800))
    // the neighbor sum partial-aggregates before its exchange
    assert(p.contains("partial_sum") || p.contains("partial sum")
        || "HashAggregate.*partial".r.findFirstIn(p).isDefined,
      "neighbor sum not map-side partial:\n" + p.take(800))
  }

  test("qt46: per-length codegen count aggregates (the r13-adjudicated form) " +
    "— no object aggregation, no cartesian, bounded scan count") {
    import spark.implicits._
    // a corpus that HAS duplicate 5-grams, so the dup5 branch survives
    // into the final plan (at gate SFs AQE prunes the empty join side,
    // which would vacuously pass the checks)
    val docs = Seq(
      (1L, "a b c d e a b c d e a b c d e extra words here now ok"),
      (2L, "the quick brown fox jumps over the lazy dog repeatedly fine"),
      (3L, "x y z w v x y z w v x y z w v")).toDF("doc_id", "text")
    val tmp = tempDir("qt46-planspec")
    val pq = tmp.resolve("documents.parquet").toString
    docs.write.mode("overwrite").parquet(pq)
    val df = operators.TextAnalysis.repetitionSignals(
      spark.read.parquet(pq), "doc_id", "text")
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // positions must ride the stream — an object aggregate means a
    // collect_list crept in (measured 2-4x regression at sf1: 12.9 s
    // all-lengths collected, 30.3 s count+5-gram collected, vs 5.5-6.8
    // for this form; the head-to-head is in the operator's scaladoc)
    assert(!fin.contains("ObjectHashAggregate"),
      "object aggregation in the qt46 plan:\n" + fin.take(1200))
    assert(!fin.contains("CartesianProduct"))
    // the adjudicated form re-tokenizes per gram length (scans are the
    // cheap part; per-length aggregates keep hash tables small) — but
    // anything beyond its 4 subtree scans means a new consumer forked
    val scans = "documents\\.parquet".r.findAllIn(fin).size
    assert(scans <= 4, s"corpus scanned $scans times:\n" + fin.take(1200))
  }

  test("qt15: BM25 tokenizes the corpus ONCE and cuts top-k via TakeOrdered") {
    val df = SparkEntry.queries("qt15_bm25")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), "top-k fell back to a global sort:\n" + p.take(400))
    assert(!p.contains("CartesianProduct"))
    // the tf frame is shared via a lazy checkpoint: documents.parquet
    // must appear in at most ONE scan subtree (the corpus-count branch
    // scans docs, the token branches read the checkpointed tf)
    val scans = "documents\\.parquet".r.findAllIn(p).size
    assert(scans <= 1, s"corpus scanned $scans times — tf sharing regressed")
  }

  test("qz1: zonal total rides in-plan (no eager count) and the spatial join is an equi-join") {
    val df = SparkEntry.queries("qz1_zonal")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the grid-cell join must be a real equi-join on the cell key, never
    // a nested-loop over the cross product
    assert(!p.contains("CartesianProduct"), "grid spatial join planned as cartesian")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("SortMergeJoin"), p.take(600))
  }

  test("qj14: the bloom pre-filter sits between the fact scan and the join, below any exchange") {
    val df = SparkEntry.queries("qj14_bloom_join")(spark, sf)
    val lines = df.queryExecution.executedPlan.toString.linesIterator.toIndexedSeq
    // the bloom-probe filter (the only UDF in this plan) must be the
    // operator DIRECTLY over the fact scan...
    val fi = lines.indexWhere(l => l.contains("Filter") && l.contains("UDF(xxhash64"))
    assert(fi >= 0, "bloom probe filter missing:\n" + lines.take(12).mkString("\n"))
    assert(fi + 1 < lines.size && lines(fi + 1).contains("FileScan"),
      "bloom filter is not directly over the scan:\n" + lines.slice(fi, fi + 3).mkString("\n"))
    // ...and the join must sit ABOVE it (tree parents print first), so
    // the cut happens before the join and any exchange the join needs
    val ji = lines.indexWhere(_.contains("Join"))
    assert(ji >= 0 && ji < fi,
      "join does not sit above the bloom filter:\n" + lines.take(12).mkString("\n"))
  }

  test("qy1: the z-order interleave is pure builtin expressions inside codegen — no UDF") {
    val p = finalPlan("qy1_zorder")
    // codegen'd operators carry the "*(n)" stage marker in the plan string
    assert(p.contains("*("), p.take(600))
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("UDF"),
      "z-order fell out of codegen into a UDF:\n" + p.take(800))
    // one partial+final hash agg pair around one exchange, like q1
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
  }
  test("qd16: prefix-join candidates come from keyed joins only — no cartesian") {
    val df = SparkEntry.queries("qd16_prefix_join")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    // candidate generation is an equi-join on the prefix token and
    // verification re-joins by id: every join keyed, nothing quadratic
    assert(!p.toLowerCase.contains("cartesian") && !p.contains("NestedLoop"),
      "all-pairs shape leaked into the prefix join:\n" + p.take(900))
    assert("Join Inner".r.findAllIn(p).size >= 3, p.take(900))
  }

  test("qe31: mann-kendall is ONE key shuffle — the pair scan is in-array, no self-join") {
    val p = plan("qe31_mann_kendall")
    assert(!p.contains("Join"), "mann-kendall grew a join:\n" + p.take(1200))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one aggregate shuffle, saw $exchanges:\n" + p.take(1200))
  }

  test("qj15: scd2 is ONE key exchange — the second window reuses the first's partitioning and sort") {
    val p = plan("qj15_scd2")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one window shuffle, saw $exchanges:\n" + p.take(1200))
    val sorts = "Sort ".r.findAllIn(p).size
    assert(sorts == 1, s"the post-filter window re-sorted ($sorts sorts):\n" + p.take(1200))
  }

  test("qp5: benford is one partial+final hash aggregate — 9 digit counts ride one pass") {
    val p = plan("qp5_benford")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(900))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(900))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(900))
  }

  test("qt44: the packing prefix sum is per-bucket windows + a broadcast " +
      "prefix join — never a single-partition global window") {
    val p = plan("qt44_packing")
    // the scale claim: no Exchange SinglePartition anywhere (a global
    // ORDER BY window would plan exactly that)
    assert(!p.contains("Exchange SinglePartition"),
      "global single-partition window leaked into the packing plan:\n" + p.take(1200))
    assert(p.contains("Window"), p.take(900))
    assert(p.contains("BroadcastHashJoin"),
      "the tiny bucket-prefix frame fell back to a shuffle join:\n" + p.take(1200))
  }

  test("qt45: the weighted sample is TakeOrdered top-k — no full sort " +
      "of the corpus") {
    val p = plan("qt45_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(900))
    // the only permissible SinglePartition exchange is the k-row rank
    // window ABOVE the TakeOrdered cut, never below it
    val cut = p.indexOf("TakeOrderedAndProject")
    assert(!p.substring(cut).contains("Exchange SinglePartition"),
      "corpus-side single-partition exchange below the top-k cut:\n" + p.take(1200))
  }

}
