package graft.operators

import graft.Iterate
import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

/** Corpus-scale deduplication operators for training-data pipelines:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
  * near-dup. Designed shuffle-minimal:
  *
  *  - exact dedup is one hash-groupBy (map-side partial combine);
  *  - MinHash/SimHash banding turns the O(n²) pair problem into a
  *    band-bucket equi-join — only docs sharing a band hash ever meet,
  *    so the shuffle volume is O(n·bands), not O(n²);
  *  - candidate verification (exact Jaccard / hamming / cosine) runs only
  *    inside buckets, and shingle sets are joined by doc id AFTER pair
  *    dedup so the heavy arrays shuffle once per doc, not once per pair.
  *
  * Signature computation is a compiled Scala kernel
  * (`functions.expressions.TextHashKernel`) — NOT higher-order column
  * functions: Spark's array HOFs (`transform`/`aggregate`) are
  * `CodegenFallback`, i.e. interpreted per element, and a 16-hash MinHash
  * over shingle arrays costs ~50 interpreted expression-node evals per
  * shingle per hash. The operators invoke the kernel through native
  * codegen `Expression`s (`MinHashSignatureExpr`/`SimHash64Expr`) so the
  * call site stays inside whole-stage codegen — no ScalaUDF row
  * conversion per document; the UDF forms below remain as the equivalence
  * baseline and for users composing with UDF-style APIs.
  *
  * All signatures are deterministic (seeded), so results are stable across
  * runs and cluster sizes.
  */
object Dedup {

  /** Null-safe: a NULL document yields the empty token, matching the
    * null-propagating behavior of the pure-Column paths instead of killing
    * the job with an NPE from inside a UDF.
    */
  private def tokenize(text: String): Array[String] =
    graft.functions.expressions.TextHashKernel.tokenize(text)

  private def wordShingleSet(text: String, n: Int): Array[String] =
    graft.functions.expressions.TextHashKernel.wordShingleSet(text, n)

  /** Stable 64-bit string hash: FNV-1a over UTF-16 code units (offset
    * basis 14695981039346656037, prime 1099511628211 — the published
    * 64-bit FNV constants). Deterministic across JVMs, fast (two ops per
    * char), and the whole state transition is plain xor+wrap-multiply, so
    * external systems (including the DuckDB oracle) can replay it exactly.
    * Spread is ample for LSH bucketing and simhash bit votes.
    *
    * Replay contract: iteration is over UTF-16 CODE UNITS. A replayer that
    * walks Unicode codepoints (as the SQL oracle does via unicode()) only
    * matches for BMP text — identical on ASCII corpora, divergent on
    * supplementary-plane characters (emoji), where Java feeds two
    * surrogates per codepoint.
    *
    * Finalizer: raw FNV-1a's low bits are weakly mixed (bit 0 is a linear
    * parity of the input bytes — the multiply only diffuses upward), and
    * both consumers read low bits directly (MinHash permutes the value mod
    * 2^31-1; SimHash votes on every bit). One xor-fold of the well-mixed
    * high half onto the low half fixes that at the cost of a single
    * shift+xor, and stays exactly replayable in integer SQL
    * (`xor(h, h >>> 32)` = `xor(signed(u), u // 2^32)` on the unsigned
    * representation).
    */
  private def hash64(s: String): Long =
    graft.functions.expressions.TextHashKernel.hash64(s)

  /** Exposed within the package so the oracle builder can inline the
    * exact seeded permutation coefficients into its SQL.
    */
  private[graft] def minHashCoefs(numHashes: Int, seed: Long): Array[(Long, Long)] =
    graft.functions.expressions.TextHashKernel.minHashCoefs(numHashes, seed)

  /** Distinct word shingles (for exact Jaccard verification). */
  def shingleSetUdf(shingleSize: Int): UserDefinedFunction =
    udf { (text: String) => wordShingleSet(text, shingleSize) }

  /** Exact dedup: keep the lowest-id row per normalized-text fingerprint.
    * One shuffle on the 64-bit fingerprint (xxhash64 — codegen'd builtin,
    * no UDF needed on this path).
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // min_by over the whole row: ONE shuffle with map-side partial combine
    // (vs groupBy-min + join-back = two shuffles + a rescan)
    val cols = docs.columns
    docs
      .groupBy(TextFunctions.fingerprint(col(textCol)).as("__fp"))
      .agg(min_by(struct(cols.map(col).toIndexedSeq: _*), col(idCol)).as("__row"))
      .select(cols.map(c => col(s"__row.$c")).toIndexedSeq: _*)
  }

  /** INCREMENTAL exact dedup — the growing-corpus shape: keep the `batch`
    * rows that are (a) novel w.r.t. the existing `corpus` and (b) first
    * of their fingerprint WITHIN the batch. The corpus contributes only
    * its DISTINCT 8-byte fingerprints to the anti join (never re-scanned
    * rows, never re-deduped), so ingesting a 1 TB batch against a 100 TB
    * corpus shuffles ~the corpus's fingerprint set + the batch — not the
    * corpus. At steady state the fingerprint set is the thing to persist
    * (a bucketed table via [[Layout.writeBucketed]] makes the anti join
    * exchange-free on the batch side too).
    */
  def incrementalExactDedup(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val seen = corpus
      .select(TextFunctions.fingerprint(col(textCol)).as("__fp"))
      .distinct()
    val novel = batch
      .withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
      .join(seen, Seq("__fp"), "left_anti")
      .drop("__fp")
    exactDedup(novel, idCol, textCol)
  }

  /** INCREMENTAL near-dup dedup — MinHash-LSH against a standing corpus:
    * a batch doc drops if ANY of its band buckets was ever occupied by a
    * corpus doc (the same recall contract as [[minHashDedup]] banding),
    * then the survivors near-dedup WITHIN the batch. The corpus
    * contributes only its DISTINCT 8-byte band hashes to the semi join —
    * at steady state that set (not the corpus) is what you persist and
    * grow, so a 1 TB crawl dedups against a 100 TB corpus with a shuffle
    * bounded by bands × |corpus-distinct-buckets| + the batch. Ordering
    * contract: within-batch dedup runs AFTER corpus hits are removed (a
    * batch doc never survives because its bucket-min neighbour was a
    * corpus dup).
    */
  def incrementalMinHashDedup(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame =
    incrementalMinHashDedupPrepared(
      minHashBandBuckets(corpus, idCol, textCol, shingleSize, numHashes, bands),
      batch, idCol, textCol, shingleSize, numHashes, bands)

  /** The corpus-side artifact of [[incrementalMinHashDedup]]: the
    * DISTINCT 8-byte band-hash set. PERSIST this (and union each batch's
    * surviving buckets into it) — then steady-state ingest never touches
    * corpus text again.
    */
  def minHashBandBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame =
    banded(minHashSigs(docs, idCol, textCol, shingleSize, numHashes), idCol, bands, numHashes / bands)
      .select("__bandhash").distinct()

  /** Steady-state form: dedup `batch` against a PERSISTED bucket set
    * (one `__bandhash` column, from [[minHashBandBuckets]]). The batch's
    * signatures are computed ONCE and reused for both the corpus-hit
    * semi join and the within-batch dedup.
    */
  def incrementalMinHashDedupPrepared(
      corpusBuckets: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    // band index is mixed into the hash, so bandhash equality ⇒ same band
    val batchBands = banded(
      minHashSigs(batch, idCol, textCol, shingleSize, numHashes), idCol, bands, numHashes / bands)
    val hit = batchBands
      .join(corpusBuckets, Seq("__bandhash"), "left_semi")
      .select(col(idCol)).distinct()
    val novelBands = batchBands.join(hit, Seq(idCol), "left_anti")
    batch.join(keepFromBands(novelBands, idCol), Seq(idCol), "left_semi")
  }

  private def minHashSigs(
      docs: DataFrame, idCol: String, textCol: String, shingleSize: Int, numHashes: Int): DataFrame =
    docs.select(
      col(idCol),
      graft.functions.expressions.TextHashExpressions
        .minHashSignature(col(textCol), shingleSize, numHashes).as("__sig"))

  /** Bucket-min survivor selection over a banded frame (shared by the
    * one-shot and incremental MinHash paths).
    */
  private def keepFromBands(b: DataFrame, idCol: String): DataFrame =
    b.groupBy("__bandhash")
      .agg(min(col(idCol)).as("__bucketmin"))
      .join(b, Seq("__bandhash"))
      .groupBy(col(idCol))
      .agg(min(col("__bucketmin")).as("__keepid"))
      .filter(col(idCol) === col("__keepid"))
      .select(col(idCol))

  /** LSH collision pairs from a banded frame — the one candidate-pair
    * contract (join on __bandhash, higher id first, distinct), shared
    * so banding/canonicalization changes can't silently diverge
    * between consumers. Returns (__a, __b) with __a > __b.
    */
  private def bandCandidatePairs(b: DataFrame, idCol: String): DataFrame =
    b.select(col(idCol).as("__a"), col("__bandhash"))
      .join(b.select(col(idCol).as("__b"), col("__bandhash")), Seq("__bandhash"))
      .filter(col("__a") > col("__b"))
      .select("__a", "__b")
      .distinct()

  /** Band the signature: one row per (id, band) with the band's hash. */
  private def banded(sigs: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame =
    sigs
      .withColumn("__band", explode(array((0 until bands).map(lit): _*)))
      .withColumn(
        "__bandhash",
        xxhash64(slice(col("__sig"), col("__band") * rowsPerBand + 1, lit(rowsPerBand)), col("__band")))
      .select(col(idCol), col("__bandhash"))

  /** MinHash + LSH near-dup: docs sharing any band bucket cluster to the
    * bucket's min id; survivors returned.
    */
  def minHashDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    val b = banded(
      minHashSigs(docs, idCol, textCol, shingleSize, numHashes), idCol, bands, numHashes / bands)
    docs.join(keepFromBands(b, idCol), Seq(idCol), "left_semi")
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup: 4×16-bit block banding (guaranteed recall for
    * hamming ≤ 3), verify full hamming, drop the higher id of each pair.
    *
    * Skew guard (`maxBucket`): a degenerate block value — 65,536 buckets
    * per block cap out around 10⁹ docs, or any near-identical corpus —
    * would otherwise concentrate one bucket's O(m²) comparisons in a
    * single task. Buckets larger than `maxBucket` are salted into
    * G = ⌈m/maxBucket⌉ hash groups and self-joined triangle-partitioned:
    * every row replicates to the G tasks whose group pair contains its
    * group, each unordered pair of rows meets in EXACTLY one of the
    * G(G+1)/2 tasks (same-group pairs only in the diagonal task,
    * cross-group pairs only in their (i,j) task), so the output is
    * bit-identical to the unsplit join while the per-task candidate set
    * stays ≤ ~2·maxBucket. The bucket-size frame is bounded by the
    * 4·65,536 distinct (block, value) pairs — a broadcast, never an
    * exchange on the corpus side; normal-sized buckets degenerate to
    * G = 1 (one replica, one task), i.e. the exact pre-guard plan.
    */
  def simHashDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 100000): DataFrame = {
    val sigs = docs.select(
      col(idCol), graft.functions.expressions.TextHashExpressions.simHash64(col(textCol)).as("__sig"))
    val blocked = sigs
      .withColumn("__blk", explode(array((0 until 4).map(lit): _*)))
      .withColumn("__blkval", expr("(__sig >> (__blk * 16)) & 65535"))
    val sizes = blocked.groupBy(col("__blk"), col("__blkval")).agg(count(lit(1)).as("__bsz"))
    val repl = blocked
      .join(broadcast(sizes), Seq("__blk", "__blkval"))
      .withColumn("__ng", greatest(lit(1L), ceil(col("__bsz") / lit(maxBucket.toDouble))))
      .withColumn("__grp", pmod(xxhash64(col(idCol)), col("__ng")))
      .withColumn("__oth", explode(sequence(lit(0L), col("__ng") - 1)))
      .withColumn("__ti", least(col("__grp"), col("__oth")))
      .withColumn("__tj", greatest(col("__grp"), col("__oth")))
    val a = repl.select(
      col(idCol).as("a_id"), col("__sig").as("a_sig"), col("__grp").as("a_grp"),
      col("__blk"), col("__blkval"), col("__ti"), col("__tj"))
    val b = repl.select(
      col(idCol).as("b_id"), col("__sig").as("b_sig"), col("__grp").as("b_grp"),
      col("__blk"), col("__blkval"), col("__ti"), col("__tj"))
    val dupPairs = a.join(b, Seq("__blk", "__blkval", "__ti", "__tj"))
      // exactly-once per pair: same-group pairs meet only in the diagonal
      // task, cross-group pairs only in their one shared off-diagonal task
      .filter(col("__ti") === col("__tj") || col("a_grp") =!= col("b_grp"))
      .filter(col("a_id") > col("b_id"))
      .filter(hamming(col("a_sig"), col("b_sig")) <= maxHamming)
      .select(col("a_id").as(idCol)).distinct()
    docs.join(dupPairs, Seq(idCol), "left_anti")
  }

  /** Exact shingle-set Jaccard (codegen'd set builtins). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0.0, 0.0).otherwise(inter / union)
  }

  /** N-gram Jaccard near-dup: LSH candidates → pair dedup on ids ONLY →
    * shingle sets joined back by id → exact Jaccard ≥ threshold.
    */
  /** WEIGHTED (TF) JACCARD REPORT over LSH candidates — per candidate
    * pair, the token-MULTISET Jaccard
    * `J_w = Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b)`: the
    * repetition-aware similarity the set Jaccard is blind to (a doc
    * that repeats one paragraph 50× has near-1 SET Jaccard with the
    * single-paragraph original but a low weighted score — and vice
    * versa for boilerplate stuffing). Candidates come from the same
    * trigram-shingle MinHash bands as [[ngramJaccardDedup]]; the
    * verify is EXACT integer arithmetic (Σmax = n_a + n_b − Σmin, so
    * only the intersection Σmin and two per-doc token totals are
    * needed) with one IEEE divide, 6 dp.
    *
    * Output `(a_id, b_id, n_common, n_a, n_b, jw)`, a > b, every
    * candidate pair reported (thresholding is the caller's cut —
    * this is the measurement, not the policy). All-blank docs carry
    * no tokens and drop from the report.
    *
    * Scale shape: candidate generation is the banded-LSH tier (never
    * all-pairs); the verify joins each candidate's token counts on
    * (doc, token) — Θ(candidate pairs × doc length) intermediate, the
    * same bound as ngramJaccardDedup's shingle-set verify. Token
    * counts and totals are two hash aggregates off one scan.
    */
  def weightedJaccardReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 8): DataFrame = {
    val sigs = docs.select(
      col(idCol),
      graft.functions.expressions.TextHashExpressions
        .minHashSignature(col(textCol), 3, numHashes).as("__sig"))
    val cand = bandCandidatePairs(
      banded(sigs, idCol, bands, numHashes / bands), idCol)
      .select(col("__a").as("a_id"), col("__b").as("b_id"))
    val tc = docs
      .select(col(idCol).as("__id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("__id"), col("__w"))
      .agg(count(lit(1)).as("__c"))
    val tot = tc.groupBy(col("__id")).agg(sum(col("__c")).as("__n"))
    val inter = cand
      .join(tc.select(col("__id").as("a_id"), col("__w"), col("__c").as("__ca")),
        Seq("a_id"))
      .join(tc.select(col("__id").as("b_id"), col("__w"), col("__c").as("__cb")),
        Seq("b_id", "__w"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(least(col("__ca"), col("__cb"))).as("n_common"))
    cand
      .join(tot.select(col("__id").as("a_id"), col("__n").as("n_a")), Seq("a_id"))
      .join(tot.select(col("__id").as("b_id"), col("__n").as("n_b")), Seq("b_id"))
      .join(inter, Seq("a_id", "b_id"), "left")
      .na.fill(0L, Seq("n_common"))
      .select(col("a_id"), col("b_id"), col("n_common"), col("n_a"), col("n_b"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jw"))
  }

  def ngramJaccardDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      numHashes: Int = 16,
      bands: Int = 8): DataFrame = {
    val sigs = docs.select(
      col(idCol),
      graft.functions.expressions.TextHashExpressions
        .minHashSignature(col(textCol), shingleSize, numHashes).as("__sig"),
      shingleSetUdf(shingleSize)(col(textCol)).as("__sh"))
    val b = banded(sigs, idCol, bands, numHashes / bands)
    val candidates = bandCandidatePairs(b, idCol)
      .select(col("__a").as("a_id"), col("__b").as("b_id"))
    val shingles = sigs.select(col(idCol), col("__sh"))
    val dups = candidates
      .join(shingles.select(col(idCol).as("a_id"), col("__sh").as("a_sh")), Seq("a_id"))
      .join(shingles.select(col(idCol).as("b_id"), col("__sh").as("b_sh")), Seq("b_id"))
      .filter(jaccard(col("a_sh"), col("b_sh")) >= threshold)
      .select(col("a_id").as(idCol))
      .distinct()
    docs.join(dups, Seq(idCol), "left_anti")
  }

  /** EXACT set-similarity self-join — every pair of documents with
    * word-set Jaccard ≥ `minJaccard`, recall 1.0, NO probabilistic
    * misses — via DICTIONARY COLLAPSE plus an ADAPTIVE candidate
    * strategy.
    *
    * Step 1, always: collapse documents with IDENTICAL token sets into
    * one group (Jaccard is a set property, so every group member is
    * interchangeable). Candidate generation and verification then run
    * over DISTINCT sets only; surviving set pairs expand back through
    * the groups' member lists, and within-group pairs are emitted
    * directly (identical non-empty sets have J = 1 ≥ τ by definition).
    * On a corpus with heavy exact repetition this removes the repeats
    * from the quadratic stage entirely; on all-distinct corpora it is
    * one cheap hash aggregate.
    *
    * Step 2, candidates over distinct sets, picked by a bound the data
    * itself gives us. J ≥ τ forces the symmetric difference small:
    * |aΔb| = |a|+|b|−2|a∩b| ≤ (|a|+|b|)(1−τ)/(1+τ) ≤ 2·nmax(1−τ)/(1+τ)
    * =: D, where nmax is the corpus's largest set (one 1-row driver
    * aggregate, bounded by contract). Two regimes:
    *
    *  - D+1 ≤ `partitionCap` (high τ and/or small sets — including the
    *    degenerate small-vocabulary corpus where every prefix bucket is
    *    huge): PIGEONHOLE partitioning (the PartEnum idea of Arasu,
    *    Ganti & Kaushik, "Efficient exact set-similarity joins",
    *    VLDB 2006). Hash the token UNIVERSE into D+1 classes; at most D
    *    classes can contain a differing element, so J ≥ τ sets agree
    *    EXACTLY on ≥1 class. Candidates = equi-join on
    *    (class, hash(class-restricted subset)) — bucket sizes track how
    *    many distinct sets share a whole sub-set, not how many share one
    *    frequent token, which is what defeats the prefix filter on a
    *    31-token vocabulary (measured: 13.4M prefix candidates → 88k
    *    pigeonhole candidates at sf0.1, identical output).
    *  - otherwise (big sets / low τ, where D+1 classes would shred sets
    *    into near-empty fragments): PREFIX FILTERING (Chaudhuri et al.
    *    2006 SSJoin / Bayardo et al. 2007 AllPairs). Order each set by
    *    global set-frequency (rarest first); J ≥ τ pairs must share a
    *    token within each set's first n − ⌈τ·n⌉ + 1 tokens, so
    *    candidates come from an equi-join on exploded prefix tokens,
    *    with tokens occurring in only ONE distinct set dropped (they
    *    cannot witness a cross-set pair) and a length filter
    *    (min ≥ τ·max) pruning before verification.
    *
    * Both strategies only ever shuffle (set_id, key) pairs; arrays are
    * fetched once in the verification join, and the member-list
    * expansion is pipelined explode — output-bound, never materialized
    * per task. Output: (a_id, b_id, jaccard ≥ τ), a_id < b_id.
    */
  def prefixFilterJoin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      partitionCap: Int = 16): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    // canonical (sorted) word set per doc, then dictionary collapse:
    // one row per DISTINCT set, carrying its sorted member-id list.
    // localCheckpoint (not cache): reused by candidates + verification +
    // expansion, and the blocks are released when the frame is GC'd
    // instead of pinning executor storage across bench iterations. The
    // largest set size nmax rides the checkpoint's own job (an int max is
    // order-free); an empty input observes null, read as 0.
    val (groups, obs) = Iterate.checkpointObserved(
      docs
        .select(
          col(idCol).as("__id"),
          array_sort(array_distinct(split(lower(trim(col(textCol))), "\\s+"))).as("__ws"))
        .groupBy("__ws")
        .agg(sort_array(collect_list(col("__id"))).as("__ids"))
        .select(
          element_at(col("__ids"), 1).as("__sid"),
          col("__ws"), col("__ids"), size(col("__ws")).as("__n")),
      max(col("__n")).as("__nmax"))
    val nmax = Option(obs("__nmax")).fold(0)(_.asInstanceOf[Int])
    val dmax =
      math.floor(2.0 * nmax * (1 - minJaccard) / (1 + minJaccard)).toInt
    val lengthOk =
      least(col("__na"), col("__nb")).cast("double") >=
        lit(minJaccard) * greatest(col("__na"), col("__nb")).cast("double")
    val cand: DataFrame =
      if (dmax + 1 <= partitionCap) {
        // pigeonhole: one key per (universe class, class-restricted
        // subset). Hashing the subset string is safe — collisions only
        // ADD candidates (verification is exact), never lose one; tokens
        // are whitespace-split so the ' ' joiner is injective.
        val p = dmax + 1
        val keys = groups.select(
          col("__sid"), col("__n"),
          explode(transform(sequence(lit(0), lit(p - 1)), pid => struct(
            pid.as("__pid"),
            xxhash64(pid, concat_ws(" ",
              filter(col("__ws"), t => pmod(xxhash64(t), lit(p)) === pid)))
              .as("__kh")))).as("__k"))
          .select(col("__sid"), col("__n"),
            col("__k.__pid").as("__pid"), col("__k.__kh").as("__kh"))
        keys.select(col("__sid").as("a_sid"), col("__n").as("__na"), col("__pid"), col("__kh"))
          .join(
            keys.select(col("__sid").as("b_sid"), col("__n").as("__nb"), col("__pid"), col("__kh")),
            Seq("__pid", "__kh"))
          .filter(col("a_sid") < col("b_sid"))
          .filter(lengthOk)
          .select("a_sid", "b_sid").distinct()
      } else {
        // prefix filter over distinct sets; freq = distinct-set document
        // frequency (a token in exactly one distinct set cannot witness
        // a CROSS-set pair — within-set pairs are handled separately)
        val toks = groups.select(col("__sid"), explode(col("__ws")).as("__tok"))
        val freq = toks.groupBy("__tok").agg(count(lit(1)).as("__freq"))
        // canonical rare-first order per set; struct sort = (freq, tok) lex
        val pref = toks.join(freq, "__tok")
          .groupBy("__sid")
          .agg(array_sort(collect_list(struct(col("__freq"), col("__tok")))).as("__ft"))
          .select(
            col("__sid"),
            transform(col("__ft"), s => s("__tok")).as("__ows"))
          .withColumn("__n", size(col("__ows")))
          .select(
            col("__sid"), col("__n"),
            explode(slice(col("__ows"), lit(1),
              col("__n") - ceil(lit(minJaccard) * col("__n")).cast("int") + 1)).as("__tok"))
          .join(freq.filter(col("__freq") > 1).select("__tok"), Seq("__tok"), "left_semi")
        pref.select(col("__sid").as("a_sid"), col("__n").as("__na"), col("__tok"))
          .join(
            pref.select(col("__sid").as("b_sid"), col("__n").as("__nb"), col("__tok")),
            Seq("__tok"))
          .filter(col("a_sid") < col("b_sid"))
          .filter(lengthOk)
          .select("a_sid", "b_sid").distinct()
      }
    // exact verification over distinct-set pairs, then member expansion
    // (pipelined explodes: output-bound, groups are disjoint so no pair
    // is emitted twice)
    val cross = cand
      .join(groups.select(col("__sid").as("a_sid"), col("__ws").as("__wa"), col("__ids").as("__as")), Seq("a_sid"))
      .join(groups.select(col("__sid").as("b_sid"), col("__ws").as("__wb"), col("__ids").as("__bs")), Seq("b_sid"))
      .withColumn("__i", size(array_intersect(col("__wa"), col("__wb"))))
      .withColumn("__j",
        col("__i").cast("double") /
          (size(col("__wa")) + size(col("__wb")) - col("__i")).cast("double"))
      .filter(col("__j") >= minJaccard)
      .select(explode(col("__as")).as("__a"), col("__bs"), col("__j"))
      .select(col("__a"), explode(col("__bs")).as("__b"), col("__j"))
      .select(
        least(col("__a"), col("__b")).as("a_id"),
        greatest(col("__a"), col("__b")).as("b_id"),
        round(col("__j"), 6).as("jaccard"))
    // identical NON-EMPTY sets: J = n/(n+n−n) = 1 exactly (an empty set
    // has J = 0/0 — undefined, excluded, matching the verification
    // formula's behavior)
    val within = groups
      .filter(col("__n") >= 1 && size(col("__ids")) >= 2)
      .select(col("__ids"), posexplode(col("__ids")).as(Seq("__ia", "__a")))
      .select(col("__ia"), col("__a"), posexplode(col("__ids")).as(Seq("__ib", "__b")))
      .filter(col("__ib") > col("__ia"))
      .select(col("__a").as("a_id"), col("__b").as("b_id"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** EXACT CONTAINMENT-SIMILARITY JOIN — the DIRECTIONAL sibling of
    * [[prefixFilterJoin]]: find every ordered pair where
    * `C(A → B) = |A∩B| / |A| ≥ τ` over distinct word-`shingleSize`-gram
    * sets — "most of A's shingles appear in B", the quote / excerpt /
    * train-eval-contamination question Jaccard can't ask (a short quote
    * inside a long document has tiny Jaccard but containment ≈ 1).
    *
    * ALL-INTEGER THRESHOLDS: τ enters as thousandths (m = τ·1000,
    * required exact), so the survival test is `1000·c ≥ m·n_a` and the
    * prefix length is `n_a − ⌈m·n_a/1000⌉ + 1` — engine-exact floor
    * arithmetic, no `ceil(0.9·n)` float hazard (0.9 is not dyadic; its
    * product can land a hair above an integer and ceil one too high).
    *
    * Candidate generation (recall 1.0, no all-pairs): dictionary
    * collapse to DISTINCT shingle sets first (the qd16 lesson), then
    * each set's RARE-FIRST prefix of length n−⌈τn⌉+1 — if C ≥ τ, B
    * misses at most n−⌈τn⌉ of A's shingles, so any (miss+1)-subset has
    * a witness in B — equi-joins against the FULL posting list of the
    * candidate containers (containment bounds nothing about B, so B
    * posts all its shingles; the join keys are only A-prefix shingles,
    * rare by construction, and cross-set witnesses have freq ≥ 2, so
    * freq-1 postings prune). Verification is one `array_intersect`
    * per candidate; member expansion emits ordered (a, b) pairs.
    *
    * Scale: shuffles are bounded by Σ_{prefix shingles} freq — the
    * shingle universe is |vocab|^k, so even a stop-word-heavy corpus
    * keeps prefix postings thin (measured: the harness's 31-token
    * corpus yields 50 pairs at τ = 0.9 where WORD-set containment
    * degenerates to 79k). Docs with fewer than `shingleSize` tokens
    * have no shingle set and are excluded (containment undefined).
    * Output: (a_id, b_id, containment) with C(a → b) rounded 6 dp.
    */
  /** [[containmentJoin]] stage 1: codegen shingle kernel + dictionary
    * collapse to distinct sets. One-pass `SortedShingleSetExpr` — the
    * interpreted transform/concat_ws/array_distinct/array_sort chain was this
    * stage's floor (9.8 -> 3.4 s at sf1); < k tokens -> empty set ->
    * dropped, exactly as the old size(toks) >= k filter.
    */
  private def containmentGroups(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs
      .select(col(idCol).as("__id"),
        graft.functions.expressions.TextHashExpressions
          .sortedShingleSet(col(textCol), k).as("__ws"))
      .filter(size(col("__ws")) >= 1)
      .groupBy("__ws")
      .agg(sort_array(collect_list(col("__id"))).as("__ids"))
      .select(
        element_at(col("__ids"), 1).as("__sid"),
        col("__ws"), col("__ids"), size(col("__ws")).as("__n"))
      .localCheckpoint(true)

  /** [[containmentJoin]] stage 2: rare-first canonical ordering.
    * Shingles travel as 64-bit xxhash64 keys from here on: the freq
    * aggregate, the rare-first ordering,
    * and the candidate equi-join never need the string back
    * (verification reads the ORIGINAL string sets via array_intersect),
    * and a hash collision can only MERGE two tokens' postings —
    * candidates are ADDED, never lost, and freq-1 pruning only
    * under-prunes. Long keys shrink the posting shuffle ~4x and make
    * the join sorts primitive compares. The GLOBAL rare-first order is
    * (freq, tokHash) lex — the same total order on both sides, which
    * licenses the positional filter; recall needs only a CONSISTENT
    * order, so ordering by hashed identity is sound. The freq-1
    * pruning (a shingle in exactly one distinct set can't witness a
    * cross-set pair) happens INSIDE this aggregate — freq is already
    * joined here, and posting-side semi-joins would re-shuffle the
    * full posting lists just to apply it. Pruned entries keep their
    * ORIGINAL rare-first position (the positional bound is about the
    * full set, not the pruned list). Checkpointed: the A-prefix
    * explode and the B-posting explode both read it.
    */
  private def containmentOrdered(groups: DataFrame): DataFrame = {
    val toks = groups.select(col("__sid"),
      explode(transform(col("__ws"), t => xxhash64(t))).as("__tok"))
    // distinct-set document frequency per shingle — single consumer
    // (the ordering join below), so no checkpoint barrier
    val freq = toks.groupBy("__tok").agg(count(lit(1)).as("__freq"))
    toks.join(freq, "__tok")
      .groupBy("__sid")
      .agg(array_sort(collect_list(struct(col("__freq"), col("__tok")))).as("__ft"))
      .select(col("__sid"), size(col("__ft")).as("__n"),
        filter(
          transform(col("__ft"), (s, i) =>
            struct(s("__tok").as("__tok"), i.as("__i"), s("__freq").as("__f"))),
          e => e("__f") > 1).as("__fows"))
      .select(col("__sid"), col("__n"),
        transform(col("__fows"), e =>
          struct(e("__tok").as("__tok"), e("__i").as("__i"))).as("__fows"))
      .localCheckpoint(true)
  }

  def containmentJoin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minContainment: Double,
      shingleSize: Int = 3): DataFrame = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0, 1], got $minContainment")
    require(shingleSize >= 1, s"shingleSize must be >= 1, got $shingleSize")
    val m = math.rint(minContainment * 1000.0).toInt
    require(m == minContainment * 1000.0,
      s"minContainment must be a multiple of 0.001 (integer-threshold " +
        s"replay), got $minContainment")
    val k = shingleSize
    val groups = containmentGroups(docs, idCol, textCol, k)
    val ordered = containmentOrdered(groups)
    // A posts its prefix — entries whose ORIGINAL position i is inside
    // the first n − ⌈m·n/1000⌉ + 1 slots (⌈m·n/1000⌉ spelled as the
    // integer (m·n + 999) div 1000 — Column./ is DOUBLE division)
    val pref = ordered
      .select(col("__sid"), col("__n"), explode(col("__fows")).as("__e"))
      .select(col("__sid"), col("__n"),
        col("__e.__i").as("__i"), col("__e.__tok").as("__tok"))
      .filter(col("__i") <
        col("__n") - expr(s"CAST((($m * __n) + 999) div 1000 AS INT)") + 1)
    // B posts its FULL surviving set (containment bounds nothing about
    // B) with its rare-first position j
    val bPost = ordered
      .select(col("__sid").as("b_sid"), col("__n").as("__nb"),
        explode(col("__fows")).as("__e"))
      .select(col("b_sid"), col("__nb"),
        col("__e.__i").as("__j"), col("__e.__tok").as("__tok"))
    // POSITIONAL FILTER (the ppjoin bound carried to containment): let
    // the witness sit at rare-first position i in A and j in B. Every
    // OTHER shared shingle is after i in A and after j in B (both
    // sides sort by the same global order), so
    //   |A∩B| ≤ 1 + min(na−i−1, nb−j−1).
    // Candidates whose bound can't reach ⌈τ·na⌉ die INSIDE the join's
    // output iterator (an integer compare), before the distinct
    // exchange and the array_intersect verify ever see them. Recall 1:
    // a true pair's FIRST shared shingle (which the prefix theorem
    // places inside A's prefix) has all c−1 remaining shared shingles
    // after it on both sides, so that witness always passes. Measured
    // at sf1 (31-token degenerate vocab): 1.33M candidates → 33k, the
    // verify stage collapses with it (21 s → ~6 s isolated).
    val cand = pref
      .select(col("__sid").as("a_sid"), col("__n").as("__na"),
        col("__i"), col("__tok"))
      .join(bPost, Seq("__tok"))
      .filter(col("a_sid") =!= col("b_sid"))
      .filter(lit(1) + least(col("__na") - col("__i") - 1, col("__nb") - col("__j") - 1) >=
        expr(s"CAST((($m * __na) + 999) div 1000 AS INT)"))
      .select("a_sid", "b_sid").distinct()
    val cross = cand
      .join(groups.select(col("__sid").as("a_sid"), col("__ws").as("__wa"),
        col("__ids").as("__as"), col("__n").as("__na")), Seq("a_sid"))
      .join(groups.select(col("__sid").as("b_sid"), col("__ws").as("__wb"),
        col("__ids").as("__bs")), Seq("b_sid"))
      .withColumn("__c", size(array_intersect(col("__wa"), col("__wb"))))
      .filter(col("__c") * 1000 >= lit(m) * col("__na"))
      .withColumn("__cont", col("__c").cast("double") / col("__na").cast("double"))
      .select(explode(col("__as")).as("__a"), col("__bs"), col("__cont"))
      .select(col("__a").as("a_id"), explode(col("__bs")).as("b_id"),
        round(col("__cont"), 6).as("containment"))
    // identical non-empty sets contain each other fully — ordered pairs
    // BOTH ways (containment is directional)
    val within = groups
      .filter(size(col("__ids")) >= 2)
      .select(col("__ids"), posexplode(col("__ids")).as(Seq("__ia", "__a")))
      .select(col("__ia"), col("__a"),
        posexplode(col("__ids")).as(Seq("__ib", "__b")))
      .filter(col("__ia") =!= col("__ib"))
      .select(col("__a").as("a_id"), col("__b").as("b_id"),
        lit(1.0).as("containment"))
    cross.unionByName(within)
  }

  /** Connected-components clustering over a candidate-pair edge list:
    * each doc converges to the min id reachable through candidate edges.
    * Near-dup candidate graphs are tiny relative to the corpus (they only
    * contain docs that LSH-collided): up to [[localPairs]] pairs a
    * driver-side union-find beats 5+ distributed rounds' scheduling
    * overhead by an order of magnitude; above it the pairs go to
    * [[distributedComponents]]. Both paths produce identical min-label
    * output. Throws if the distributed fixpoint is not reached within
    * `maxIter` rounds rather than silently returning partial labels.
    *
    * Use after any LSH candidate generator when cluster-level dedup
    * (keep ONE doc per transitive near-dup cluster) is wanted instead of
    * the pairwise policy.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    // checkpointed and counted in one job: the collect (or the first star
    // round) reads `pairs` again, and it usually sits on top of an LSH
    // candidate join that would otherwise run twice end-to-end
    val (cp, nPairs) = Iterate.checkpointCounted(pairs.select(col(aCol), col(bCol)))
    if (nPairs > localPairs) return distributedComponents(cp, aCol, bCol, maxIter)
    val edgeList = cp
      .select(col(aCol).cast("long"), col(bCol).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edgeList.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // min-label per component: roots are already component minima only if
    // union always attached the larger root — enforced above
    val rows = parent.keys.toSeq.map(id => (id, find(id)))
    import spark.implicits._
    rows.toDF("id", "label")
  }

  /** Pair count up to which [[connectedComponents]] runs the driver-side
    * union-find instead of the distributed star contraction.
    */
  private val localPairs = 2000000L

  /** Large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) — O(log²) rounds in
    * the worst case, ~2-4 rounds in practice because every round rewires
    * nodes straight at the current component minimum, not one hop at a
    * time. The edge set is kept canonically oriented (u > v); one round
    * of [[Iterate.untilStable]] = large-star then small-star:
    *
    *  - large-star(u): over the SYMMETRIC neighborhood, every neighbor
    *    v > u is rewired to m = min(N(u) ∪ {u});
    *  - small-star(u): over the canonical (u > its neighbors) orientation,
    *    u and all its smaller neighbors are rewired to the minimum m.
    *
    * At the fixpoint the canonical edges ARE (node → component-min) star
    * edges. The old edge set rides the round's dedup under a tag, so an
    * edge it lacks is flagged `__imp` and counted inside the round's
    * checkpoint job: a round that flags nothing and keeps every row
    * returned its input set, the fixpoint. Still changing after `maxIter`
    * rounds throws, naming `maxIter`.
    */
  private[operators] def distributedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int): DataFrame = {
    val a = col(aCol)
    val b = col(bCol)
    val init = pairs
      .select(greatest(a, b).as("u"), least(a, b).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val stars =
      try Iterate.untilStable(init, maxIter, "distributedComponents") { (edges, _) =>
        // large-star over the symmetric neighborhood
        val sym = edges.select(col("u"), col("v"))
          .union(edges.select(col("v").as("u"), col("u").as("v")))
        val mins = sym.groupBy("u").agg(min("v").as("__mn"))
          .select(col("u"), least(col("__mn"), col("u")).as("m"))
        val afterLarge = sym
          .join(mins, Seq("u"))
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v")) // v > u ≥ m ⇒ already canonical
          .filter(col("u") =!= col("v"))
          .distinct()
        // small-star over the canonical orientation: u and every smaller
        // neighbor attach to the neighborhood minimum
        val smallMins = afterLarge.groupBy("u").agg(min("v").as("m"))
        afterLarge
          .join(smallMins, Seq("u"))
          .select(col("v").as("u"), col("m").as("v")) // (v, m) per smaller neighbor; v==m self-loops filtered below
          .union(smallMins.select(col("u"), col("m").as("v"))) // (u, m)
          .filter(col("u") =!= col("v"))
          .select(col("u"), col("v"), lit(true).as("__new"))
          .unionAll(edges.select(col("u"), col("v"), lit(false).as("__new")))
          .groupBy("u", "v")
          .agg(max(col("__new")).as("__new"), min(col("__new")).as("__imp"))
          .filter(col("__new"))
          .select(col("u"), col("v"), col("__imp"))
      } catch {
        case e: IllegalStateException =>
          throw new IllegalStateException(
            s"distributedComponents did not converge within maxIter=$maxIter " +
              "large/small-star rounds (edge set still changing); raise maxIter", e)
      }
    // star edges: u → component min. Nodes never appearing as u are roots.
    pairs.select(a.as("id")).union(pairs.select(b.as("id"))).distinct()
      .join(stars.select(col("u").as("id"), col("v").as("__root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__root"), col("id")).as("label"))
  }

  /** Cross-corpus n-gram decontamination (the GPT-3 / Gopher method): an
    * eval document is contaminated if it shares ANY word n-gram with the
    * training corpus. Returns `(idCol, n_hits)` for flagged eval docs,
    * n_hits = number of DISTINCT colliding n-grams.
    *
    * Scale shape: train grams reduce to a DISTINCT set before the join
    * (shuffle |distinct grams|, not |corpus|·|doc len|); the inner
    * equi-join on the gram string is exact — no hash false positives can
    * flag a clean eval doc. At 100 TB, pre-hash the gram to 64 bits to
    * shrink shuffle width (collision odds ~2⁻⁶⁴ per pair) and broadcast
    * the train side when the distinct-gram set fits; both are pure
    * optimizations layered on this exact plan.
    *
    * The canonical n is 13 (GPT-3 appendix C); pass smaller n for short
    * documents.
    */
  def decontaminate(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13): DataFrame = {
    val grams = shingleSetUdf(n)
    val trainGrams = train.select(explode(grams(col(textCol))).as("__g")).distinct()
    // shingle sets are already distinct per doc, so count(*) after the
    // join counts distinct colliding grams without a distinct shuffle
    eval
      .select(col(idCol), explode(grams(col(textCol))).as("__g"))
      .join(trainGrams, Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Exact SUBSTRING-level dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — public paper;
    * aggressive variant): any character covered by a `k`-gram that
    * occurs more than once in the corpus is removed from EVERY
    * occurrence, and the survivors splice back together in order.
    *
    * Set-based, no char-level explode on the Spark side: one shuffle on
    * the gram (duplicate detection), one on the doc (interval merge —
    * classic gaps-and-islands window), then the ≤ len/1 merged spans per
    * doc rebuild the text with a single `aggregate` splice. At 100 TB
    * the gram shuffle ships (hash, gram) — swap in the decontaminate
    * pattern (hash prefilter + exact verify join) if gram strings ever
    * dominate the exchange.
    *
    * Returns (idCol, cleaned, removed_chars).
    */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"gram length $k too small")
    val base = docs.select(col(idCol).as("__did"), col(textCol).as("__text"))
    val grams = base
      .filter(col("__text").isNotNull && length(col("__text")) >= k)
      .select(col("__did"), col("__text"),
        explode(sequence(lit(0), length(col("__text")) - k)).as("__pos"))
      .select(col("__did"), col("__pos"),
        expr(s"substring(__text, __pos + 1, $k)").as("__gram"))
    val dupPos = grams
      .withColumn("__cnt",
        count(lit(1)).over(Window.partitionBy(col("__gram"))))
      .filter(col("__cnt") > 1)
      .select(col("__did"), col("__pos"))
    // merge covering intervals [pos, pos+k) per doc: island starts where
    // pos exceeds the running max end of everything before it
    val w = Window.partitionBy(col("__did")).orderBy(col("__pos"))
    val spans = dupPos
      .withColumn("__prevEnd",
        max(col("__pos") + k).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__prevEnd").isNull || col("__pos") > col("__prevEnd"), 1).otherwise(0))
      .withColumn("__island", sum(col("__new")).over(w))
      .groupBy(col("__did"), col("__island"))
      .agg(min(col("__pos")).as("s"), max(col("__pos") + k).as("e"))
      .groupBy(col("__did"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("__spans"))
    base
      .join(spans, Seq("__did"), "left")
      .withColumn("cleaned",
        when(col("__spans").isNull, col("__text")).otherwise(expr(
          """aggregate(__spans,
            |  struct(0 AS prev, CAST('' AS STRING) AS acc),
            |  (st, sp) -> struct(CAST(sp.e AS INT) AS prev,
            |    concat(st.acc, substring(__text, st.prev + 1, sp.s - st.prev)) AS acc),
            |  st -> concat(st.acc, substring(__text, st.prev + 1, length(__text) - st.prev)))
            |""".stripMargin)))
      .select(
        col("__did").as(idCol),
        col("cleaned"),
        (coalesce(length(col("__text")), lit(0)) - coalesce(length(col("cleaned")), lit(0)))
          .as("removed_chars"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * cluster the embedding space, then compare pairs ONLY within a
    * cluster — semantically-redundant docs land in the same cluster, so
    * the O(n²) pair problem shrinks to Σ|cluster|², and each cluster's
    * pair set is an independent task (k scales with n to bound cluster
    * size; `Dedup.simHashDedup`-style triangle salting is the fallback
    * for a runaway cluster). Within a cluster, any doc whose cosine
    * similarity to a LOWER-id doc is ≥ `threshold` is dropped (min-id
    * survivor — the deterministic stand-in for the paper's
    * keep-farthest-from-centroid rule, same dedup set).
    *
    * This form is the SQL-replayable one (gate qd14): cluster assignment
    * is argmin-L2² against the k lowest-id seed vectors via
    * [[Similarity.pqEncode]] with a single m=1 subspace — distances
    * rounded to 6 dp before the argmin, ties to the lowest cluster
    * index, exactly the qs7 codebook contract. [[semDedupKmeans]] is the
    * production variant (Lloyd-refined centroids, tighter clusters).
    *
    * Returns the surviving rows as (idCol, cluster).
    */
  def semDedup(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      threshold: Double = 0.95): DataFrame = {
    val codebook = Similarity.pqCodebook(embs, idCol, vecCol, 1, k)
    val assigned = Similarity
      .pqEncode(embs, idCol, vecCol, codebook)
      .select(col(idCol), col("codes").getItem(0).as("cluster"))
    semDedupPrune(embs, assigned, idCol, vecCol, threshold)
  }

  /** Production SemDeDup: clusters from Lloyd-refined k-means
    * ([[Similarity.kmeans]], deterministic lowest-id init) instead of the
    * seed assignment — tighter clusters catch near-dup pairs that straddle
    * seed-cell boundaries. Same prune contract as [[semDedup]].
    */
  def semDedupKmeans(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      iters: Int = 4,
      threshold: Double = 0.95): DataFrame = {
    val (_, assigned) = Similarity.kmeans(embs, idCol, vecCol, k, iters)
    semDedupPrune(embs, assigned, idCol, vecCol, threshold)
  }

  /** INCREMENTAL SemDeDup — the semantic member of the incremental-dedup
    * family ([[incrementalExactDedup]] exact, [[incrementalMinHashDedup]]
    * near-dup): dedupe an incoming batch against a standing corpus
    * WITHOUT re-deduping the corpus. The corpus reduces to its
    * (id, vec, cluster) assignment — a persistable artifact built once
    * (cluster = the [[semDedup]] seed-cell assignment from the k
    * lowest-id CORPUS vectors, so growing the corpus never moves
    * existing clusters); each batch is assigned against the SAME
    * centroids, then a batch row drops if its cosine ≥ `threshold`
    * against ANY same-cluster corpus vector, or against a lower-id
    * same-cluster batch row (first-in-batch wins — the [[semDedup]]
    * min-id rule). Join work is Σ|cluster∩batch|·|cluster∩corpus|, never
    * |batch|·|corpus|.
    *
    * Returns surviving batch rows as (idCol, cluster).
    */
  def incrementalSemDedup(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      threshold: Double = 0.95): DataFrame = {
    val codebook = Similarity.pqCodebook(corpus, idCol, vecCol, 1, k)
    def assigned(df: DataFrame): DataFrame =
      df.select(col(idCol), col(vecCol))
        .join(
          Similarity.pqEncode(df, idCol, vecCol, codebook)
            .select(col(idCol), col("codes").getItem(0).as("cluster")),
          Seq(idCol))
    val c = assigned(corpus)
      .select(col(idCol).as("c_id"), col(vecCol).as("c_v"), col("cluster"))
    val b = assigned(batch)
    val bPairs = b.select(col(idCol).as("b_id"), col(vecCol).as("b_v"), col("cluster"))
    val dupVsCorpus = bPairs.join(c, Seq("cluster"))
      .filter(VectorFunctions.cosine(col("b_v"), col("c_v")) >= threshold)
      .select(col("b_id").as(idCol))
    val b2 = b.select(col(idCol).as("b2_id"), col(vecCol).as("b2_v"), col("cluster"))
    val dupInBatch = bPairs.join(b2, Seq("cluster"))
      .filter(col("b_id") > col("b2_id"))
      .filter(VectorFunctions.cosine(col("b_v"), col("b2_v")) >= threshold)
      .select(col("b_id").as(idCol))
    b.join(dupVsCorpus.union(dupInBatch).distinct(), Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"))
  }

  /** Shared SemDeDup prune: within-cluster (a > b) pairs with exact cosine
    * ≥ threshold drop the higher id. The pair join shuffles only
    * (id, vec, cluster) on the cluster key; the dup set carries ids only.
    */
  private def semDedupPrune(
      embs: DataFrame,
      assigned: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val withCluster = embs.select(col(idCol), col(vecCol)).join(assigned, Seq(idCol))
    val a = withCluster.select(col(idCol).as("a_id"), col(vecCol).as("a_v"), col("cluster"))
    val b = withCluster.select(col(idCol).as("b_id"), col(vecCol).as("b_v"), col("cluster"))
    val dups = a.join(b, Seq("cluster"))
      .filter(col("a_id") > col("b_id"))
      .filter(VectorFunctions.cosine(col("a_v"), col("b_v")) >= threshold)
      .select(col("a_id").as(idCol)).distinct()
    withCluster.join(dups, Seq(idCol), "left_anti").select(col(idCol), col("cluster"))
  }

  /** PARAGRAPH-LEVEL exact dedup (the CCNet/C4 crawl-curation step —
    * ref `moz-datapipeline`'s per-record cleanup has no analog; this is
    * the training-pipeline tier): split every document on `sep`, keep
    * each distinct (trimmed, non-empty) paragraph only at its FIRST
    * occurrence in (id, position) order, and drop the rest everywhere —
    * the step that erases boilerplate headers/footers repeated across a
    * crawl while leaving each document's unique prose intact.
    *
    * Returns one row per SURVIVING paragraph: (id, idx, para).
    *
    * Scale shape: `posexplode` is narrow; the single shuffle is the
    * `groupBy(trim(para))` with a `min(struct(id, idx, para))` partial
    * aggregate — boilerplate keys are exactly the HOT keys (one per
    * document), and map-side combine reduces each partition's copies to
    * one candidate before the exchange, so the hot reducer receives
    * O(partitions) rows, not O(documents). No join-back: the winning
    * (id, idx, para) rides inside the min-struct.
    */
  def paragraphDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n"): DataFrame = {
    val paras = docs
      .select(col(idCol), posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("idx", "para")))
      .withColumn("__norm", trim(col("para")))
      .filter(length(col("__norm")) > 0)
    paras
      .groupBy(col("__norm"))
      .agg(min(struct(col(idCol), col("idx"), col("para"))).as("__w"))
      .select(col("__w")(idCol).as(idCol), col("__w")("idx").as("idx"), col("__w")("para").as("para"))
  }

  /** Reassemble [[paragraphDedup]] survivors into cleaned documents:
    * surviving paragraphs rejoin in original order with `sep`; documents
    * whose every paragraph was dropped disappear (the CCNet empty-doc
    * drop). One shuffle on the id; `kept` is the surviving paragraph
    * count for curation accounting.
    */
  def reassembleParagraphs(
      survivors: DataFrame,
      idCol: String,
      sep: String = "\n"): DataFrame =
    survivors
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("para")))), e => e("para")),
          sep).as("clean_text"),
        count(lit(1)).as("kept"))

  /** Embedding-cosine near-dup: hyperplane-LSH candidates verified by
    * exact cosine ≥ threshold; higher id of each verified pair dropped.
    */
  def embeddingNearDup(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      bits: Int = 16): DataFrame = {
    val sigs = embs.withColumn("__sig", VectorFunctions.hyperplaneSignature(col(vecCol), dim, bits))
    val a = sigs.select(col(idCol).as("a_id"), col(vecCol).as("a_v"), col("__sig"))
    val b = sigs.select(col(idCol).as("b_id"), col(vecCol).as("b_v"), col("__sig"))
    val dups = a.join(b, Seq("__sig"))
      .filter(col("a_id") > col("b_id"))
      .filter(VectorFunctions.cosine(col("a_v"), col("b_v")) >= threshold)
      .select(col("a_id").as(idCol)).distinct()
    embs.join(dups, Seq(idCol), "left_anti")
  }

  /** EDIT-DISTANCE SELF-JOIN — all pairs within Levenshtein distance
    * ≤ k: the typo/variant clustering primitive (near-identical titles,
    * OCR noise, vocabulary normalization). DELETION-NEIGHBORHOOD
    * candidates (FastSS, Bocek et al. 2007 — the SymSpell scheme):
    * if ed(a, b) ≤ k then a and b share at least one ≤k-deletion
    * variant (align an optimal edit script; deleting the script's
    * touched positions from each side leaves a common subsequence
    * reachable by ≤ k deletions from both), so the candidate join is
    * ONE equi-join on the variant key. Bucket sizes are true-neighbor-
    * sized BY CONSTRUCTION — a variant pins all but k characters, so
    * the scheme is immune to the shared-long-prefix corpora that defeat
    * q-gram prefix filtering (measured on zero-padded key names at
    * sf0.1: the rare-first q-gram form produced 10⁷–10⁸ candidates at
    * every q — the corpus has ~2 genuinely rare grams per string while
    * the theorem needs a q·k+1 prefix; deletion variants produce
    * candidates ≈ true pairs and run in ~1 s).
    *
    *  - variants travel as xxhash64 keys (collisions only ADD
    *    candidates; the verify is exact on the original strings);
    *  - candidates pass |len(a) − len(b)| ≤ k, then the exact codegen
    *    `levenshtein` builtin decides. Precision exact; recall is the
    *    FastSS theorem (spec-pinned against brute force, including
    *    1–2-char strings, which share the empty-string variant).
    *
    * Contract: k ∈ {1, 2} (the neighborhood is C(len, k)-sized — k ≥ 3
    * explodes combinatorially; at that radius use [[ngramJaccardDedup]]
    * semantics instead) and SHORT strings (names/titles/tokens —
    * variants per row grow ~len^k; for documents, dedup on shingles,
    * not characters). Variant generation is per-row array work
    * (interpreted HOFs — linear, no shuffle wider than (id, hash)).
    *
    * DICTIONARY COLLAPSE first (the qd16 lesson applied to FastSS):
    * edit distance is a string property, so members of an exact-dup
    * group are interchangeable — variant generation, the bucket join,
    * and the levenshtein verify run over DISTINCT strings only. A dup
    * group of size m would otherwise push m× its variants through the
    * bucket join and re-verify all ~m²/2 identical pairs; collapsed,
    * intra-group pairs are emitted directly at dist 0 and cross-group
    * pairs inherit their reps' verified distance through a pipelined
    * member-list explode (output-bound, like qd16's expansion). On an
    * all-distinct corpus the collapse is one cheap hash aggregate.
    */
  def editDistanceJoin(
      df: DataFrame,
      idCol: String,
      strCol: String,
      k: Int = 1): DataFrame = {
    require(k >= 1 && k <= 2, s"k must be 1 or 2, got $k (see scaladoc)")
    // one row per DISTINCT string: representative id (the minimum — the
    // sorted member list's head) + the sorted member-id list.
    // localCheckpoint: reused by the candidate join, the verify join
    // (both sides), and both expansions; blocks free when GC'd.
    val groups = df
      .filter(col(strCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"), col(strCol).as("__s"))
      .groupBy("__s")
      .agg(sort_array(collect_list(col("__id"))).as("__ids"))
      .select(element_at(col("__ids"), 1).as("__rid"), col("__s"), col("__ids"))
      .localCheckpoint(true)
    val strs = groups.select(col("__rid").as("__id"), col("__s"),
      length(col("__s")).as("__len"))
    def delOne(v: Column): Column = {
      val n = length(v)
      when(n >= 1,
        transform(sequence(lit(1), n), i =>
          concat(v.substr(lit(1), i - 1), v.substr(i + 1, n - i))))
        .otherwise(array())
    }
    val d1 = array_distinct(concat(array(col("__s")), delOne(col("__s"))))
    val variants =
      if (k == 1) d1
      else array_distinct(concat(d1, flatten(transform(d1, v => delOne(v)))))
    val keyed = strs
      .select(col("__id"), col("__len"),
        explode(transform(variants, v => xxhash64(v))).as("__vh"))
      .distinct()
    val cands = keyed.as("ka")
      .join(keyed.as("kb"),
        col("ka.__vh") === col("kb.__vh") && col("ka.__id") < col("kb.__id"))
      .filter(abs(col("ka.__len") - col("kb.__len")) <= k)
      .select(col("ka.__id").as("__ia"), col("kb.__id").as("__ib"))
      .distinct()
    // verify over distinct-string reps, carrying both member lists
    val verified = cands
      .join(groups.select(col("__rid").as("__ia"), col("__s").as("__sa"),
        col("__ids").as("__idsa")), Seq("__ia"))
      .join(groups.select(col("__rid").as("__ib"), col("__s").as("__sb"),
        col("__ids").as("__idsb")), Seq("__ib"))
      .withColumn("__d", levenshtein(col("__sa"), col("__sb")))
      .filter(col("__d") <= k)
    // cross-group expansion: every member pair inherits its reps'
    // distance (groups are disjoint, so member ids interleave —
    // reorder with least/greatest)
    val cross = verified
      .select(explode(col("__idsa")).as("__ma"), col("__idsb"), col("__d"))
      .select(col("__ma"), explode(col("__idsb")).as("__mb"), col("__d"))
      .select(
        least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"),
        col("__d").cast("long").as("dist"))
    // intra-group pairs: identical strings, dist 0 — member list is
    // sorted, so pos_a < pos_b already gives id_a < id_b
    val intra = groups
      .filter(size(col("__ids")) >= 2)
      .select(col("__ids"), posexplode(col("__ids")).as(Seq("__pa", "__ma")))
      .select(col("__ma"), col("__pa"),
        posexplode(col("__ids")).as(Seq("__pb", "__mb")))
      .filter(col("__pb") > col("__pa"))
      .select(col("__ma").as("id_a"), col("__mb").as("id_b"),
        lit(0L).as("dist"))
    cross.unionAll(intra)
  }

  /** KEEP-BEST NEAR-DUP CANONICALIZATION — the selection stage after
    * near-dup detection: MinHash-LSH candidate pairs ([[minHashDedup]]'s
    * banding) cluster via [[connectedComponents]], and each multi-member
    * cluster keeps its LONGEST document (ties to the lowest id) — the
    * "keep the most complete variant" policy, vs [[minHashDedup]]'s
    * keep-min-id. Returns one row per multi-member cluster:
    * (cluster, survivor_id, survivor_len, n_members).
    *
    * Scale shape: banding + star-contraction are the proven qd2/qd6
    * paths; the survivor argmax is one max(struct(len, −id)) per
    * cluster — no window, no per-cluster sort.
    */
  /** LEAKAGE-SAFE TRAIN/VAL/TEST SPLIT — the split is drawn per
    * NEAR-DUP CLUSTER, not per document, so two near-duplicates can
    * never land in different splits (the eval-contamination failure a
    * plain per-doc hash split ships silently: a test doc whose
    * near-copy sits in train). Clusters are [[minHashDedup]]'s
    * LSH-band components ([[connectedComponents]] min-label); every
    * unclustered doc is its own singleton cluster. The cluster label
    * then draws a replayable md5 bucket in [0, Σweights) and the
    * cumulative weight thresholds name the split — deterministic
    * across runs, partitionings, and engines, and STABLE under corpus
    * growth for untouched clusters (the label is the min member id).
    *
    * Output `(id, cluster, split)`; null-id docs are dropped (the
    * ngramNovelty/unigramKl contract — unfiltered, a null id would
    * take cluster = null, bucket = null, and the when-chain's
    * otherwise() would silently route every such doc into the LAST —
    * smallest — split). Scale: the qd2/qd6 machinery
    * end-to-end (band equi-join candidates, star-contraction
    * components) plus one hash projection — nothing new shuffles.
    * Split FRACTIONS are approximate at cluster granularity (a giant
    * cluster drags its whole mass into one split — that is the
    * point); the spec pins the tolerance on the gate corpus.
    */
  def leakageSafeSplit(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      weights: Seq[(String, Int)] = Seq("train" -> 8, "val" -> 1, "test" -> 1),
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      seed: Long = 42L): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      s"split weights must be positive, got $weights")
    val total = weights.map(_._2).sum
    val b = banded(
      minHashSigs(docs, idCol, textCol, shingleSize, numHashes),
      idCol, bands, numHashes / bands)
    val pairs = bandCandidatePairs(b, idCol)
    val comp = connectedComponents(pairs, "__a", "__b")
    val labeled = docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"))
      .join(comp, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster"))
    val bucket = pmod(
      Sketches.md5Hash32(
        concat(col("cluster").cast("string"), lit("|" + seed))),
      lit(total.toLong))
    val cums = weights.scanLeft(0)(_ + _._2).tail.zip(weights.map(_._1))
    val split = cums.init.reverse.foldLeft(lit(weights.last._1): Column) {
      case (acc, (cum, name)) => when(bucket < cum, lit(name)).otherwise(acc)
    }
    labeled.select(col("id"), col("cluster"), split.as("split"))
  }

  def keepBestNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    val b = banded(
      minHashSigs(docs, idCol, textCol, shingleSize, numHashes),
      idCol, bands, numHashes / bands)
    val pairs = bandCandidatePairs(b, idCol)
    val comp = connectedComponents(pairs, "__a", "__b")
    comp
      .join(
        docs.select(col(idCol).as("id"), length(col(textCol)).as("__len")),
        Seq("id"))
      .groupBy(col("label").as("cluster"))
      .agg(
        max(struct(col("__len"), (-col("id")).as("__nid"))).as("__best"),
        count(lit(1)).as("n_members"))
      .select(
        col("cluster"),
        (-col("__best.__nid")).as("survivor_id"),
        col("__best.__len").cast("long").as("survivor_len"),
        col("n_members"))
  }

  /** WINNOWING near-dup pairs — the inverted-index use of
    * [[TextAnalysis.winnowingFingerprints]]: every unordered doc pair
    * sharing ≥ `minShared` selected fingerprints, with both fingerprint
    * set sizes and the fingerprint Jaccard. Winnowing's local guarantee
    * makes this DETECTION-COMPLETE for overlaps of ≥ w+k−1 words
    * (every such run shares a fingerprint) while touching only the
    * ~2/(w+1) retained hashes — between qd4's full-shingle Jaccard and
    * qd2's probabilistic MinHash bands, with MOSS's determinism.
    *
    * Plan shape: fingerprints (shuffle-free HOFs), one size aggregate,
    * one equi-join on fingerprint (the inverted index), one pair
    * aggregate. Candidate volume is Θ(Σ df(f)²) over fingerprint doc
    * frequencies — boilerplate that winnows identically in thousands
    * of docs makes hot buckets, so `maxDocsPerFingerprint` (> 0) drops
    * stop-fingerprints first, the same frequency cap every inverted
    * index ships; a fingerprint in that many docs identifies
    * boilerplate, not provenance.
    */
  def winnowingNearDup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      window: Int = 8,
      minShared: Int = 3,
      maxDocsPerFingerprint: Int = 0): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // EAGER materialization, not a lazy persist: the fingerprint frame
    // feeds three concurrent scans (sizes + both join sides) in one
    // job, and racing tasks would each recompute the uncached winnowing
    // partitions before the cache lands — checkpointed blocks are
    // computed exactly once
    val fpAll = TextAnalysis
      .winnowingFingerprints(docs, idCol, textCol, k, window)
      .localCheckpoint(true)
    val fp =
      if (maxDocsPerFingerprint <= 0) fpAll
      else fpAll.join(
        fpAll.groupBy(col("fingerprint"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDocsPerFingerprint)
          .select(col("fingerprint")),
        Seq("fingerprint"), "left_semi")
    val sz = fpAll.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n"))
    val out = fp.select(col("doc_id").as("doc_a"), col("fingerprint"))
      .join(fp.select(col("doc_id").as("doc_b"), col("fingerprint")),
        Seq("fingerprint"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(sz.select(col("doc_id").as("doc_a"), col("__n").as("n_a")),
        Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("__n").as("n_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("n_a"), col("n_b"),
        round(col("shared").cast("double")
          / (col("n_a") + col("n_b") - col("shared")), 6).as("jaccard"))
      .localCheckpoint(true)
    // fpAll's checkpoint blocks free when the frame is GC'd (the
    // EventStreams.drain rationale) — out no longer references them
    out
  }

  /** Incremental WINNOWING dedup — [[incrementalMinHashDedup]]'s
    * deterministic twin, and the ingest form of [[winnowingNearDup]]:
    * the STANDING ARTIFACT is the corpus's distinct fingerprint set
    * (one `fingerprint` column from [[TextAnalysis
    * .winnowingFingerprints]] — persist it, union each surviving
    * batch's fingerprints back in; steady-state ingest never re-reads
    * corpus text). A batch doc drops when ≥ `minShared` of its
    * fingerprints already exist in the corpus — by the MOSS guarantee a
    * shared run of ≥ w+k−1 words FORCES a shared fingerprint, so a
    * long-overlap dup cannot slip the screen (MinHash's bands can
    * miss; winnowing's detection is deterministic). Survivors then
    * near-dedup within the batch by the same ≥ minShared pair rule,
    * keeping the min-id doc of each connected component. Returns the
    * surviving batch rows.
    *
    * Plan shape: batch fingerprints computed ONCE (eager checkpoint —
    * the corpus-hit probe and both pair-join sides reuse them), the
    * corpus screen one semi join keyed on fingerprint, the batch pairs
    * the qd24 inverted-index join, components the qd6 min-label tail.
    */
  def incrementalWinnowDedup(
      corpusFingerprints: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      window: Int = 8,
      minShared: Int = 3): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val fpB = TextAnalysis
      .winnowingFingerprints(batch, idCol, textCol, k, window)
      .localCheckpoint(true)
    val hit = fpB
      .join(
        corpusFingerprints.select(col("fingerprint")).distinct(),
        Seq("fingerprint"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minShared)
      .select(col("doc_id"))
    val novel = fpB.join(hit, Seq("doc_id"), "left_anti")
    val pairs = novel.select(col("doc_id").as("__a"), col("fingerprint"))
      .join(novel.select(col("doc_id").as("__b"), col("fingerprint")),
        Seq("fingerprint"))
      .filter(col("__a") < col("__b"))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minShared)
      .select(col("__a"), col("__b"))
    val dropped = connectedComponents(pairs, "__a", "__b")
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
    val keep = novel.select(col("doc_id")).distinct()
      .join(dropped, Seq("doc_id"), "left_anti")
      .withColumnRenamed("doc_id", idCol)
    batch.join(keep, Seq(idCol), "left_semi")
  }
}
