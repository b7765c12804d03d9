package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structural graph statistics — LINK PREDICTION scores, degree
  * ASSORTATIVITY, and partition MODULARITY. The read-side companions to
  * the community/centrality tier: LabelProp (qg12) proposes communities,
  * [[modularity]] scores them; Triangles (qg10) counts closure,
  * [[linkPrediction]] ranks the wedges that have NOT closed yet (the
  * classic missing-link / recommendation primitive, Liben-Nowell &
  * Kleinberg 2003); [[assortativity]] is Newman 2002's one-number
  * mixing readout (social graphs positive, infrastructure negative).
  *
  * Reference: no analog (the reference's graph tier is routing); this
  * extends the beyond-reference graph-analytics rows qg9–qg34.
  *
  * All four read the graph tier's one edge policy: endpoints cast to
  * long, then [[Edges.canonical]] (both orientations merged, self-loops
  * and null endpoints dropped), so mixed-orientation inputs score
  * identically; the wedge and moment readouts take its
  * [[Edges.symmetric]] orientation and [[Edges.degrees]].
  */
object Structure {

  // the canonical edge set over long endpoints
  private def longEdges(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    Edges.canonical(
      edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b")), "a", "b")

  /** Common-neighbor link prediction: for every NON-adjacent unordered
    * pair (a < b) sharing at least `minCommon` neighbors, the three
    * standard scores —
    *
    *   - `cn`             common-neighbor count,
    *   - `adamic_adar`    Σ 1/ln(deg(w))  (rarer brokers weigh more),
    *   - `resource_alloc` Σ 1/deg(w)      (the steeper discount),
    *
    * each sum over the shared neighbors w, rounded at 6 dp. deg(w) ≥ 2
    * for every shared neighbor (it touches both endpoints), so ln never
    * sees 1 and neither score divides by zero.
    *
    * Plan shape: one distinct (canonicalize), one degree aggregate, a
    * wedge self-join of the degree-annotated adjacency on the shared
    * vertex, a broadcast-eligible LEFT ANTI join against the edge list
    * to drop already-adjacent pairs, one final aggregate keyed (a, b).
    * Wedge volume is Θ(Σ deg(w)²) — INHERENT to exact common-neighbor
    * scoring (every shared neighbor must witness its pair), not a plan
    * artifact. At scale the hubs dominate that sum while contributing
    * ≈ 1/ln(deg) ≈ 0 per pair; `maxDegree` drops wedges through nodes
    * above it (the standard LP truncation) — the default keeps all.
    */
  def linkPrediction(
      edges: DataFrame, aCol: String, bCol: String,
      minCommon: Int = 2, maxDegree: Long = Long.MaxValue): DataFrame = {
    // eager (the neighborhoodJaccard rationale): the final action's
    // concurrent broadcast builds must read a materialized e, not race
    // a lazy cache fill
    val e = longEdges(edges, aCol, bCol).localCheckpoint(true)
    val adj = Edges.symmetric(e, "t")
    val deg = Edges.degrees(e)
    // wedge x1 —w— x2 with x1 < x2: each shared neighbor w of a candidate
    // pair emits exactly one row carrying deg(w)
    val adjD = adj.join(deg, Seq("v")).filter(col("deg") <= maxDegree)
    val wedges = adjD.select(col("v"), col("t").as("x"), col("deg"))
      .join(adjD.select(col("v"), col("t").as("y")), Seq("v"))
      .filter(col("x") < col("y"))
      .select(col("x").as("a"), col("y").as("b"), col("deg"))
    val out = wedges
      .join(e, Seq("a", "b"), "left_anti")
      .groupBy(col("a"), col("b"))
      .agg(
        org.apache.spark.sql.functions.count(lit(1)).as("cn"),
        round(sum(lit(1.0) / log(col("deg").cast("double"))), 6).as("adamic_adar"),
        round(sum(lit(1.0) / col("deg").cast("double")), 6).as("resource_alloc"))
      .filter(col("cn") >= minCommon)
      .localCheckpoint(true)
    out
  }

  /** NEIGHBORHOOD-JACCARD structural similarity — [[linkPrediction]]'s
    * sibling WITHOUT the non-adjacency filter: every unordered pair
    * (a < b) sharing ≥ `minCommon` neighbors, scored
    * `J = cn / (deg(a) + deg(b) − cn)` with both degrees and an
    * `adjacent` flag. This is the shared-nearest-neighbor (SNN) graph
    * construction — the robust similarity layer under density-based
    * clustering (Jarvis–Patrick 1973, and the SNN input DBSCAN
    * variants use) and the structural-equivalence screen ("do these
    * two accounts follow the same crowd") that link prediction's
    * missing-edge framing cannot ask about existing edges.
    *
    * Same wedge enumeration and Θ(Σ deg(w)²) contract as
    * [[linkPrediction]] (`maxDegree` caps hub wedges); two extra
    * degree lookups and one broadcast-eligible adjacency left-join for
    * the flag. Note J counts OPEN neighborhoods — an adjacent pair's
    * endpoints are not each other's common neighbors, so a pendant
    * edge scores 0 (and is filtered by minCommon ≥ 1).
    */
  def neighborhoodJaccard(
      edges: DataFrame, aCol: String, bCol: String,
      minCommon: Int = 2, maxDegree: Long = Long.MaxValue): DataFrame = {
    // EAGER, not lazy persist: the single final action spawns several
    // CONCURRENT broadcast-subquery jobs (deg lookups, the adjacency
    // left join) whose map stages all race the lazy cache fill — at 32
    // local cores the event log showed 10× the 8-core summed task time,
    // the slots parked on cache-fill block locks. Checkpointed, e is
    // computed exactly once before any consumer plans against it.
    val e = longEdges(edges, aCol, bCol).localCheckpoint(true)
    val adj = Edges.symmetric(e, "t")
    val deg = Edges.degrees(e)
    val adjD = adj.join(deg, Seq("v")).filter(col("deg") <= maxDegree)
    val wedges = adjD.select(col("v"), col("t").as("x"))
      .join(adjD.select(col("v"), col("t").as("y")), Seq("v"))
      .filter(col("x") < col("y"))
      .select(col("x").as("a"), col("y").as("b"))
    val out = wedges
      .groupBy(col("a"), col("b"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), Seq("b"))
      .join(e.withColumn("adjacent", lit(true)), Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"),
        coalesce(col("adjacent"), lit(false)).as("adjacent"),
        round(col("cn").cast("double")
          / (col("deg_a") + col("deg_b") - col("cn")), 6).as("jaccard"))
      .localCheckpoint(true)
    out
  }

  /** Degree ASSORTATIVITY coefficient (Newman 2002): the Pearson
    * correlation of endpoint degrees over the SYMMETRIZED edge list
    * (every undirected edge contributes both orientations, the standard
    * convention — it makes the two marginals identical). One row:
    * `(n_nodes, n_edges, assortativity)`, r at 6 dp, null for a
    * degree-regular graph (zero variance — r is undefined).
    *
    * Exactness: degrees are integers, so every moment (Σd², Σ d_u·d_v,
    * …) accumulates as DECIMAL(38,0) — exact at any scale, no FP
    * association drift, and no BIGINT overflow (Σ d_u·d_v can pass 2⁶³
    * on ~10⁹-edge hub-heavy graphs, which ANSI mode would THROW on).
    * Only the final single-division arithmetic is floating point, which
    * is bit-identical across engines given identical sums.
    */
  def assortativity(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // eager (the neighborhoodJaccard rationale): the moment fold and
    // both 1-row crossJoin subqueries read e concurrently
    val e = longEdges(edges, aCol, bCol).localCheckpoint(true)
    val adj = Edges.symmetric(e, "t")
    val deg = Edges.degrees(e)
    val dd = adj
      .join(deg, Seq("v"))
      .join(
        deg.select(col("v").as("t"), col("deg").as("degt")),
        Seq("t"))
      .select(
        col("deg").cast("decimal(38,0)").as("dx"),
        col("degt").cast("decimal(38,0)").as("dy"))
    val mom = dd.agg(
      org.apache.spark.sql.functions.count(lit(1)).as("m2"),
      sum(col("dx")).as("sx"),
      sum(col("dx") * col("dx")).as("sx2"),
      sum(col("dx") * col("dy")).as("sxy"))
    val out = mom
      .crossJoin(deg.agg(org.apache.spark.sql.functions.count(lit(1)).as("n_nodes")))
      .crossJoin(e.agg(org.apache.spark.sql.functions.count(lit(1)).as("n_edges")))
      .select(
        col("n_nodes"), col("n_edges"),
        // mean² via explicit multiply, never pow(x, 2): libm pow is not
        // guaranteed bit-identical to x·x across engines and the oracle
        // replays this arithmetic literally
        round(
          (col("sxy").cast("double") / col("m2")
            - (col("sx").cast("double") / col("m2"))
              * (col("sx").cast("double") / col("m2")))
            / when(
                col("sx2").cast("double") / col("m2")
                  - (col("sx").cast("double") / col("m2"))
                    * (col("sx").cast("double") / col("m2")) =!= 0.0,
                col("sx2").cast("double") / col("m2")
                  - (col("sx").cast("double") / col("m2"))
                    * (col("sx").cast("double") / col("m2"))),
          6).as("assortativity"))
      .localCheckpoint(true)
    out
  }

  /** MODULARITY of a node partition (Newman-Girvan): per community c,
    * `q_term = e_c/m − (d_c/2m)²` where e_c = intra-community edge
    * count, d_c = degree mass, m = total edges; Q = Σ q_term. Scores
    * ANY labeling — LabelProp's output (qg12), a metadata attribute, a
    * sharding plan — so "did the community detector beat the null
    * model" is a query, not a judgment call. Output one row per
    * community: `(community, n_nodes, intra_edges, deg_sum, q_term)`
    * (q_term at 6 dp; Q is `sum(q_term)` downstream).
    *
    * Nodes absent from `labels` are dropped with their incident edges
    * from BOTH m and the terms (partial labelings score the labeled
    * subgraph). All counts integer-exact; only each q_term's final
    * division is FP. Plan: canonicalize, two label lookups (broadcast
    * when the label table is small), one aggregate per community plus
    * one 1-row total cross-joined in — no shuffle wider than the edge
    * list itself.
    */
  def modularity(
      edges: DataFrame, aCol: String, bCol: String,
      labels: DataFrame, vCol: String, cCol: String): DataFrame = {
    val lab = labels
      .select(col(vCol).cast("long").as("v"), col(cCol).as("c"))
      .filter(col("v").isNotNull && col("c").isNotNull)
      .groupBy(col("v")).agg(first(col("c"), ignoreNulls = true).as("c"))
    val eLab = longEdges(edges, aCol, bCol)
      .join(lab.select(col("v").as("a"), col("c").as("ca")), Seq("a"))
      .join(lab.select(col("v").as("b"), col("c").as("cb")), Seq("b"))
      // eager (the neighborhoodJaccard rationale): m, degC and intra all
      // read eLab inside one action
      .localCheckpoint(true)
    val m = eLab.agg(org.apache.spark.sql.functions.count(lit(1)).as("m"))
    val degC = eLab.select(col("a").as("v"), col("ca").as("c"))
      .unionAll(eLab.select(col("b").as("v"), col("cb").as("c")))
      .groupBy(col("c"))
      .agg(
        countDistinct(col("v")).as("n_nodes"),
        org.apache.spark.sql.functions.count(lit(1)).as("deg_sum"))
    val intra = eLab.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("intra_edges"))
    val out = degC
      .join(intra, Seq("c"), "left")
      .crossJoin(m)
      .select(
        col("c").as("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("deg_sum"),
        round(
          coalesce(col("intra_edges"), lit(0L)).cast("double") / col("m")
            - (col("deg_sum").cast("double") / (lit(2L) * col("m")))
              * (col("deg_sum").cast("double") / (lit(2L) * col("m"))),
          6).as("q_term"))
      .localCheckpoint(true)
    out
  }
}
