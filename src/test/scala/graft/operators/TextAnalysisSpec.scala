package graft.operators

import graft.{GraftSession, TempDirs}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class TextAnalysisSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(2, "textanalysis-spec")

  test("tf-idf: hand-computed scores, rank order, and k-cut") {
    import spark.implicits._
    // N=2. df(a)=2 -> idf=ln(1)=0; df(b)=df(c)=1 -> idf=ln(2)
    val docs = Seq((1L, "a b a"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    val ln2 = BigDecimal(math.log(2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Array(
      (1L, "b", ln2, 1L), // tf=1 · ln(2/1)
      (1L, "a", 0.0, 2L), // tf=2 · ln(2/2) = 0
      (2L, "c", ln2, 1L),
      (2L, "a", 0.0, 2L)))
  }

  test("bigram LM score: hand-computed smoothed log-probs, in-domain > OOV") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // train bigrams: (a,b)×2, (b,a)×1 ⇒ c1(a)=2, c1(b)=1; V=2 (a,b)
    val train = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val eval = Seq(
      (1L, "a b"), // seen bigram: ln((2+1)/(2+2)) = ln(3/4)
      (3L, "q z")) // fully OOV: ln((0+1)/(0+2)) = ln(1/2)
    .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(train, eval, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == (r6(math.log(0.75)), 1L))
    assert(out(3L) == (r6(math.log(0.5)), 1L))
    assert(out(1L)._1 > out(3L)._1) // in-domain text scores higher
    // a 1-token doc has no bigrams and is absent
    val single = TextAnalysis.bigramLmScore(
      train, Seq((5L, "a")).toDF("doc_id", "text"), "doc_id", "text")
    assert(single.filter(col("doc_id") === 5L).count() == 0)
  }

  test("tf-idf: k-cut keeps exactly k terms per doc with deterministic ties") {
    import spark.implicits._
    // all terms unique within the doc and globally -> identical tfidf;
    // ranking must fall back to term order
    val docs = Seq((1L, "z y x w")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getString(1), r.getLong(3))).sortBy(_._2)
    assert(out.map(_._1).toSeq == Seq("w", "x", "y")) // alphabetical tie-break, z cut
  }

  test("dot-product top-k ranks by inner product with id tie-break") {
    import spark.implicits._
    val embs = Seq(
      (1L, Array(1f, 0f)),
      (2L, Array(2f, 0f)),
      (3L, Array(0f, 5f)), // orthogonal to the query -> dot 0
      (4L, Array(1f, 0f)) // ties with id 1
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopKDot(embs, "vec_id", "embedding", Array(1.0, 0.0), 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.toSeq == Seq((2L, 2.0), (1L, 1.0), (4L, 1.0)))
  }

  /** Independent single-threaded BPE trainer (textbook get_stats/merge
    * over a word-frequency dictionary) — deliberately shares NO code with
    * the operator.
    */
  private def naiveBpe(texts: Seq[String], k: Int): Seq[(Long, String, String, String, Long)] = {
    val words = scala.collection.mutable.HashMap.empty[List[String], Long]
    texts.foreach { t =>
      t.trim.toLowerCase.replaceAll("[^a-z0-9 ]", " ").split("\\s+").filter(_.nonEmpty)
        .foreach { w => val key = w.map(_.toString).toList; words(key) = words.getOrElse(key, 0L) + 1L }
    }
    (1 to k).flatMap { rank =>
      val stats = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (toks, f) =>
        toks.zip(toks.tail).foreach(p => stats(p) = stats.getOrElse(p, 0L) + f)
      }
      if (stats.isEmpty) None
      else {
        val ((a, b), cnt) = stats.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        val updated = words.toSeq.map { case (toks, f) =>
          val out = scala.collection.mutable.ListBuffer.empty[String]
          var rest = toks
          while (rest.nonEmpty) rest match {
            case x :: y :: tl if x == a && y == b => out += a + b; rest = tl
            case x :: tl => out += x; rest = tl
            case Nil => ()
          }
          (out.toList, f)
        }
        words.clear()
        updated.foreach { case (t, f) => words(t) = words.getOrElse(t, 0L) + f }
        Some((rank.toLong, a, b, a + b, cnt))
      }
    }
  }

  test("bpeTrain matches an independent naive trainer, incl. overlap and tie-break cases") {
    import spark.implicits._
    // "aaaa" exercises overlapping pair counts (3 positions) vs
    // non-overlapping merge (-> [aa, aa]); "low/lower/lowest" is the
    // textbook fixture; punctuation/case exercise normalization; the
    // mixed corpus forces count ties resolved lexicographically.
    val texts = Seq(
      "low low low lower lowest",
      "aaaa aaaa baaa",
      "The QUICK, quick brown-fox; fox!",
      "ab ab ba ba") // tie: (a,b) vs (b,a) both 2 within this line
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(docs, "text", 8)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got.toSeq === naiveBpe(texts, 8))
  }

  test("bpeTrain merge step: 'aaaa' merges left-to-right non-overlapping") {
    assert(TextAnalysis.mergePair(Array("a", "a", "a", "a"), "a", "a").toSeq === Seq("aa", "aa"))
    assert(TextAnalysis.mergePair(Array("a", "a", "a"), "a", "a").toSeq === Seq("aa", "a"))
    assert(TextAnalysis.mergePair(Array("b", "a", "a"), "a", "a").toSeq === Seq("b", "aa"))
  }

  test("bpeEncode matches a naive per-doc tokenizer under the trained merges") {
    import spark.implicits._
    val texts = Seq(
      "low low low lower lowest",
      "aaaa aaaa baaa", // self-merge runs: greedy non-overlapping application
      "The QUICK, quick brown-fox; fox!",
      "   ", // whitespace-only doc -> 0 tokens
      "ab ab ba ba")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, "text", 8)
    val got = TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    // independent encoder: list-walk greedy scan per merge in rank order
    val mseq = merges.collect().sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2)))
    def applyMerge(toks: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var rest = toks
      while (rest.nonEmpty) rest match {
        case x :: y :: tl if x == a && y == b => out += a + b; rest = tl
        case x :: tl => out += x; rest = tl
        case Nil => ()
      }
      out.toList
    }
    val want = texts.zipWithIndex.map { case (t, i) =>
      val words = t.trim.toLowerCase.replaceAll("[^a-z0-9 ]", " ").split("\\s+").filter(_.nonEmpty)
      val n = words.map { w =>
        mseq.foldLeft(w.map(_.toString).toList) { case (ts, (a, b)) => applyMerge(ts, a, b) }.length
      }.sum
      (i.toLong, n.toLong)
    }.toMap
    assert(got == want)
    assert(got(3L) == 0L) // empty doc present with 0, not missing
    assert(want.values.sum > 0)
  }

  test("misraGries summary keeps every item with count > n/(k+1), any order") {
    // adversarial order: the heavy item first, then 15 distinct one-offs
    // that trigger repeated decrement-all rounds against its counter
    val stream = Seq.fill(5)("hot") ++ (1 to 15).map(i => s"f$i")
    val kept = TextAnalysis.misraGries(stream.iterator, 4).toSet
    assert(kept.contains("hot")) // 5 > 20/(4+1)
    assert(kept.size <= 4)
    // and the reverse interleave (filler pressure before each hot)
    val interleaved = (1 to 15).map(i => s"f$i").grouped(3).toSeq
      .zipAll(Seq.fill(5)(Seq("hot")), Seq.empty, Seq("hot")).flatMap { case (a, b) => a ++ b }
    assert(TextAnalysis.misraGries(interleaved.iterator, 4).toSet.contains("hot"))
  }

  test("heavyHitters output is identical to the naive GROUP BY ... HAVING") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (1 to 50).map { i =>
      (i.toLong, if (i % 2 == 0) "Alpha beta  alpha" else s"gamma delta unique$i")
    }.toDF("doc_id", "text")
    val support = 0.1
    val got = TextAnalysis.heavyHitters(docs, "text", support)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val toks = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val n = toks.count()
    val want = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= math.ceil(n * support).toLong)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(want.nonEmpty && want.length < 5) // the HAVING cut actually discriminates
    assert(got.toSeq === want.toSeq)
  }

  test("heavyHitters finds a term heavy globally but light within every partition") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 8 partitions, each dominated by its OWN filler vocabulary: "hot" is
    // exactly at the support threshold in every partition (5 of 20
    // tokens, support 0.25 ⇒ k=4 counters) while 15 distinct one-off
    // fillers per partition pressure the sketch's decrement-all rounds.
    // No partition has "hot" as its plain top-k=1 term by margin — the
    // MG 1/(k+1) bound is what keeps it, and pass 2's exact recount must
    // then report the exact global count (40 = ceil(0.25·160), the ≥
    // boundary case).
    val docs = (0 until 8).map { p =>
      val fillers = (1 to 15).map(i => s"p${p}f$i").mkString(" ")
      (p.toLong, s"hot hot hot hot hot $fillers")
    }.toDF("doc_id", "text").repartition(8, col("doc_id"))
    val out = TextAnalysis.heavyHitters(docs, "text", 0.25)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("hot", 40L)))
  }

  test("bm25Rank matches a hand-computed score on a 3-doc corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark window"), // tf(spark)=2, len 3
      (2L, "join window filter scan"), // len 4
      (3L, "the quick fox") // no query terms
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .bm25Rank(docs, "doc_id", "text", Seq("spark", "join", "window"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // independent reference computation (plain Scala, same formula)
    val n = 3.0; val avgdl = (3 + 4 + 3) / 3.0
    def idf(df: Double) = math.log(1 + (n - df + 0.5) / (df + 0.5))
    def ts(tf: Double, len: Double, df: Double) =
      idf(df) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len / avgdl))
    val d1 = BigDecimal(ts(2, 3, 1) + ts(1, 3, 2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d2 = BigDecimal(ts(1, 4, 1) + ts(1, 4, 2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set(1L, 2L)) // doc 3 holds no query term
    assert(math.abs(got(1L) - d1) < 2e-6 && math.abs(got(2L) - d2) < 2e-6)
    assert(got(1L) > got(2L)) // two hits incl. a rare term outrank one+one
  }

  test("repetitionStats: hand-computed Gopher repetition metrics") {
    import spark.implicits._
    val docs = Seq(
      // "a b a b a b": 6 words, 2 distinct -> dup_word_frac = 4/6.
      // n_chars = 11. Bigrams: "a b"x3, "b a"x2 -> top = 3*3=9 -> 9/11.
      // 5-grams: "a b a b a", "b a b a b" each once -> dup = 0.
      (1L, "a b a b a b"),
      // all-distinct doc: dup metrics 0; top bigram has count 1, tie
      // broken toward max coverage -> "three four" (10 chars) / 27
      (2L, "one two three four five six"),
      // "x y x y x y x y": bigram "x y"x4 (tie vs "y x"x3 broken by count),
      // n_chars=15, top = 4*3=12 -> 0.8; 5-grams: "x y x y x"x2,
      // "y x y x y"x2 -> dup = (2+2)*9 = 36 -> 36/15 = 2.4 (overlap
      // counting exceeds 1 by design — threshold semantics, not a sum)
      (3L, "x y x y x y x y"),
      // fewer words than the gram width: 5-gram metric 0, bigram "p q"
      (4L, "p q"),
      // single word: no bigrams at all -> both coverage metrics 0
      (5L, "lonely")).toDF("doc_id", "text")
    val got = TextAnalysis
      .repetitionStats(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got(1L) == ((6L, 0.666667, 0.818182, 0.0)))
    assert(got(2L) == ((6L, 0.0, 0.37037, 0.0)))
    assert(got(3L) == ((8L, 0.75, 0.8, 2.4)))
    assert(got(4L) == ((2L, 0.0, 1.0, 0.0)))
    assert(got(5L) == ((1L, 0.0, 0.0, 0.0)))
  }

  test("qualityRules: hand-computed Gopher keep/drop metrics") {
    import spark.implicits._
    val docs = Seq(
      // 6 words, chars 3+3+2+3+4+3=18 -> mean 3.0; all alpha; stopword
      // OCCURRENCES the,to,the,and -> 4; no symbols -> KEEP (minWords=5)
      (1L, "The cat to the mice and"),
      // symbol-heavy: '#'x2 + '...'x1 over 4 words -> ratio 0.75 > 0.1 -> drop
      (2L, "x# y# z... with the okay"),
      // numeric words: alpha frac 2/6 < 0.8 -> drop (stopwords ok)
      (3L, "1 2 3 4 the with"),
      // too few words (< minWords=5) -> drop
      (4L, "the and of"))
      .toDF("doc_id", "text")
    val got = TextAnalysis
      .qualityRules(docs, "doc_id", "text", minWords = 5, maxWords = 100)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5), r.getBoolean(6))))
      .toMap
    assert(got(1L) == ((6L, 3.0, 0.0, 1.0, 4L, true)))
    val d2 = got(2L)
    assert(d2._1 == 6L && d2._3 == 0.5 && !d2._6) // (2 + 3/3) / 6 symbols
    val d3 = got(3L)
    assert(d3._4 == BigDecimal(2.0 / 6).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble && !d3._6)
    assert(got(4L)._1 == 3L && !got(4L)._6)
  }

  test("entropyStats equals a naive local implementation; boundary docs") {
    import spark.implicits._
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def naive(text: String): (Long, Long, Double, Double) = {
      val toks = text.trim.toLowerCase.split("\\s+")
      val dist = toks.distinct
      val n = toks.length.toDouble
      val h = r6(dist.map { c =>
        val p = toks.count(_ == c) / n
        -p * (math.log(p) / math.log(2.0))
      }.sum)
      val norm = if (dist.length > 1) r6(h / (math.log(dist.length) / math.log(2.0))) else 0.0
      (toks.length.toLong, dist.length.toLong, h, norm)
    }
    val rnd = new scala.util.Random(7)
    val vocab = Array("a", "bb", "ccc", "dd", "e", "ff")
    val docs = (1L to 30L).map { i =>
      val words = Seq.fill(1 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length)))
      (i, words.mkString(" "))
    } :+ (31L, "same same same") :+ (32L, "one") // H=0 edge cases
    val df = docs.toDF("doc_id", "text")
    val got = TextAnalysis.entropyStats(df, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    docs.foreach { case (id, text) =>
      val (n, d, h, norm) = naive(text)
      val g = got(id)
      assert(g._1 == n && g._2 == d, s"doc $id counts")
      assert(math.abs(g._3 - h) < 2e-6 && math.abs(g._4 - norm) < 2e-6, s"doc $id entropy $g vs ($h, $norm)")
    }
    assert(got(31L)._3 == 0.0 && got(31L)._4 == 0.0) // one distinct word
    assert(got(32L)._3 == 0.0 && got(32L)._4 == 0.0) // single word
  }

  test("mixtureSample: pre-sum admission per source, ≤1 overshoot, partitioning-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val docs = (1L to 120L).map { i =>
      val src = s"s${i % 3}"
      (i, src, Seq.fill(3 + rnd.nextInt(15))("w").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val budgets = Seq(("s0", 40L), ("s1", 1L), ("s2", 10000L)).toDF("source", "budget")
    val out = TextAnalysis.mixtureSample(docs, "doc_id", "source", "text", budgets)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    val bySrc = out.groupBy(_._1)
    // every admitted doc's PRE-sum is under budget; running totals are consistent
    val budgetMap = Map("s0" -> 40L, "s1" -> 1L, "s2" -> 10000L)
    bySrc.foreach { case (src, rows) =>
      val sorted = rows.sortBy(_._4)
      var cum = 0L
      sorted.foreach { case (_, _, nt, ct) =>
        assert(cum < budgetMap(src), s"$src admitted past budget")
        cum += nt
        assert(ct == cum, s"$src running total mismatch")
      }
      // at most one overshoot: dropping the last admitted doc fits the budget
      assert(cum - sorted.last._3 < budgetMap(src))
    }
    // a tiny budget still admits exactly its first doc; a huge one admits all
    assert(bySrc("s1").length == 1)
    assert(bySrc("s2").length == 40)

    // deterministic: same rows regardless of input partitioning
    val out2 = TextAnalysis.mixtureSample(docs.repartition(13), "doc_id", "source", "text", budgets)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.sortBy(_._2).toSeq == out2.sortBy(_._2).toSeq)
  }

  test("chunkDocs: window arithmetic, overlap contract, reconstruction, edges") {
    import spark.implicits._
    val c = 8; val o = 3; val stride = c - o // 5
    def words(n: Int) = (0 until n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, ""),                 // blank -> no chunks
      (1L, "   "),              // whitespace-only -> no chunks
      (2L, "a"),                // 1 token -> 1 chunk
      (3L, words(8)),           // n == C -> exactly 1 chunk
      (4L, words(9)),           // n == C+1 -> 2 chunks, 2nd is the overlap + 1
      (5L, words(23)),          // 1 + ceil(15/5) = 4 chunks, last is full
      (6L, words(24))           // 1 + ceil(16/5) = 5 chunks, last has 4 toks
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocs(docs, "doc_id", "text", c, o)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(t => (t._1, t._2))

    val byDoc = out.groupBy(_._1)
    assert(!byDoc.contains(0L) && !byDoc.contains(1L))
    assert(byDoc(2L).map(t => (t._3, t._4, t._5)).toSeq == Seq((0L, 1L, "a")))
    assert(byDoc(3L).length == 1 && byDoc(3L).head._4 == 8L)
    assert(byDoc(4L).map(t => (t._2, t._3, t._4)).toSeq == Seq((0L, 0L, 8L), (1L, 5L, 4L)))
    assert(byDoc(5L).length == 4 && byDoc(5L).last._4 == 8L)
    assert(byDoc(6L).length == 5 && byDoc(6L).last._4 == 4L)

    byDoc.foreach { case (id, chunks) =>
      val toks = docs.filter($"doc_id" === id).as[(Long, String)].head()._2
        .trim.split("\\s+").toSeq
      // every chunk is the exact token window
      chunks.foreach { case (_, ci, st, nt, text) =>
        assert(st == ci * stride)
        val want = toks.slice(st.toInt, math.min(st.toInt + c, toks.size))
        assert(text.split(" ").toSeq == want, s"doc $id chunk $ci")
        assert(nt == want.size.toLong)
      }
      // overlap contract: consecutive full chunks share exactly `o` tokens
      chunks.sliding(2).foreach {
        case Array(a, b) if a._4 == c =>
          assert(a._5.split(" ").takeRight(o).toSeq == b._5.split(" ").take(o).toSeq)
        case _ =>
      }
      // reconstruction: dropping each chunk's first `o` overlap tokens
      // (except chunk 0) and concatenating rebuilds the doc exactly
      val rebuilt = chunks.sortBy(_._2).flatMap { case (_, ci, _, _, text) =>
        val ts = text.split(" ").toSeq
        if (ci == 0L) ts else ts.drop(o)
      }.toSeq
      // ... when the last chunk extends past the previous one (it always
      // does: starts advance by stride > 0 and the last start is < n)
      assert(rebuilt == toks, s"doc $id reconstruction")
    }
  }

  test("deterministic split: pure function of key, stable under growth and repartitioning") {
    import spark.implicits._
    val cuts = Seq(("train", 0.8), ("val", 0.9), ("test", 1.0))
    val small = spark.range(2000).select($"id".as("doc_id"))
    val a = TextAnalysis.assignSplits(small, "doc_id", cuts)
      .as[(Long, String)].collect().toMap
    // re-run over a GROWN corpus with different partitioning: every
    // previously-assigned key keeps its split (the anti-randomSplit property)
    val grown = spark.range(5000).select($"id".as("doc_id")).repartition(7)
    val b = TextAnalysis.assignSplits(grown, "doc_id", cuts)
      .as[(Long, String)].collect().toMap
    a.foreach { case (k, s) => assert(b(k) == s, s"key $k flipped split") }
    // mass lands near the weights (md5 uniformity; 5000 keys, ±5%)
    val frac = b.values.groupBy(identity).view.mapValues(_.size / 5000.0).toMap
    assert(math.abs(frac("train") - 0.8) < 0.05, frac.toString)
    assert(math.abs(frac("val") - 0.1) < 0.05 && math.abs(frac("test") - 0.1) < 0.05)
    // spot-check the hash algebra against a hand computation
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest("123".getBytes("UTF-8")).take(4)
      .foldLeft(0L)((acc, x) => (acc << 8) | (x & 0xffL))
    val expected = cuts.collectFirst {
      case (lbl, hi) if h / 4294967296.0 < hi => lbl }.get
    assert(b(123L) == expected)
    // validations: bounds must ascend and cover 1.0
    intercept[IllegalArgumentException](
      TextAnalysis.assignSplits(small, "doc_id", Seq(("a", 0.5), ("b", 0.4))))
    intercept[IllegalArgumentException](
      TextAnalysis.assignSplits(small, "doc_id", Seq(("a", 0.5))))
  }

  test("inverted index: postings are distinct, search is exact conjunction") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "beta beta ALPHA"), // dup term + case: one posting each
      (3L, "gamma delta"),
      (4L, "  alpha   beta  "), // ragged whitespace
      (5L, "")).toDF("doc_id", "text")
    val idx = TextAnalysis.invertedIndex(docs, "doc_id", "text")
    val postings = idx.as[(Long, String)].collect().toSet
    assert(postings.count(_._2 == "beta") == 3) // docs 1, 2, 4 — once each
    assert(!postings.exists(_._1 == 5L)) // empty doc contributes nothing
    def hits(terms: String*) =
      TextAnalysis.searchAll(idx, "doc_id", terms).as[Long].collect().toSet
    assert(hits("alpha", "beta") == Set(1L, 2L, 4L))
    assert(hits("ALPHA", "alpha", "beta") == Set(1L, 2L, 4L)) // query dedup + case
    assert(hits("gamma", "delta") == Set(3L))
    assert(hits("alpha", "delta") == Set.empty)
    assert(hits("beta") == Set(1L, 2L, 4L))
    intercept[IllegalArgumentException](TextAnalysis.searchAll(idx, "doc_id", Seq.empty))
  }

  test("stratified sample: exact k per stratum, deterministic, small strata kept whole") {
    import spark.implicits._
    val docs = spark.range(100)
      .select(($"id" % 3).cast("string").as("src"), $"id".as("key"))
      .union(Seq(("tiny", 999L), ("tiny", 998L)).toDF("src", "key"))
    val s1 = TextAnalysis.stratifiedSample(docs, "src", "key", 10)
      .as[(String, Long)].collect().toSet
    // exact k per big stratum; the 2-row stratum survives whole
    val bySrc = s1.groupBy(_._1).view.mapValues(_.size).toMap
    assert(bySrc == Map("0" -> 10, "1" -> 10, "2" -> 10, "tiny" -> 2))
    // deterministic under repartitioning
    val s2 = TextAnalysis.stratifiedSample(docs.repartition(13), "src", "key", 10)
      .as[(String, Long)].collect().toSet
    assert(s1 == s2)
    // the rank<=k filter compiles to a WindowGroupLimit (bounded per-task
    // state), not a full per-stratum sort feeding a post-filter
    val plan = TextAnalysis.stratifiedSample(docs, "src", "key", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
    intercept[IllegalArgumentException](
      TextAnalysis.stratifiedSample(docs, "src", "key", 0))
  }
  test("PMI collocations: hand counts, ratio ranking, support filter, " +
      "deterministic tie-break") {
    import spark.implicits._
    // bigrams: (a,b) x4, (a,c) x2, (c,b) x1; N=7, c1(a)=6 c1(c)=1,
    // c2(b)=5 c2(c)=2 -> ratio(a,c) = 14/12 > ratio(a,b) = 28/30
    val docs = (Seq.fill(4)("a b") ++ Seq.fill(2)("a c") ++ Seq("c b"))
      .toDF("text")
    val out = TextAnalysis.pmiCollocations(docs, "text", minCount = 2L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq(("a", "c", 2L), ("a", "b", 4L)))
    assert(out(0)._4 == math.rint(math.log(14.0 / 12.0) * 1e6) / 1e6)
    assert(out(1)._4 == math.rint(math.log(28.0 / 30.0) * 1e6) / 1e6)
    // support filter drops the rarer pair entirely
    val strict = TextAnalysis.pmiCollocations(docs, "text", minCount = 3L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(strict.toSeq == Seq(("a", "b")))
    // equal ratios tie-break on (w1, w2) so the k boundary is stable
    val tie = (Seq.fill(2)("x y") ++ Seq.fill(2)("y x")).toDF("text")
    val top1 = TextAnalysis.pmiCollocations(tie, "text", minCount = 2L, k = 1)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(top1.toSeq == Seq(("x", "y")))
  }

  test("proportion rebalance: scarcest stratum pins the total, exact integer " +
      "quotas, md5-order picks, unweighted strata drop") {
    import spark.implicits._
    // A: 10 docs, B: 4, C: 6, X: 3 (unweighted). Weights A=2, B=1, C=1
    // (W=4): feasible M = min(10*4/2, 4*4/1, 6*4/1) = 16 — B is binding
    // and keeps everything; quotas A=8, B=4, C=4.
    val docs = (
      (0 until 10).map(i => ("A", i.toLong)) ++
        (0 until 4).map(i => ("B", 100L + i)) ++
        (0 until 6).map(i => ("C", 200L + i)) ++
        (0 until 3).map(i => ("X", 300L + i))
    ).toDF("src", "key")
    val weights = Seq(("A", 2L), ("B", 1L), ("C", 1L), ("Z", 5L)).toDF("src", "weight")
    val kept = TextAnalysis.proportionRebalance(docs, "src", "key", weights)
      .as[(String, Long)].collect().toSet
    val bySrc = kept.groupBy(_._1).view.mapValues(_.size).toMap
    assert(bySrc == Map("A" -> 8, "B" -> 4, "C" -> 4)) // X dropped, Z absent
    // picks follow the stratifiedSample md5 order (same selection function)
    val expectA = TextAnalysis
      .stratifiedSample(docs.filter($"src" === "A"), "src", "key", 8)
      .as[(String, Long)].collect().toSet
    assert(kept.filter(_._1 == "A") == expectA)
    // deterministic under repartitioning
    val kept2 = TextAnalysis
      .proportionRebalance(docs.repartition(7), "src", "key", weights)
      .as[(String, Long)].collect().toSet
    assert(kept == kept2)
    // achieved mixture is exactly W-proportional: 8 : 4 : 4 = 2 : 1 : 1
    assert(bySrc("A") == 2 * bySrc("B") && bySrc("B") == bySrc("C"))
  }

  test("PPS systematic sample: exactly k per stratum, proportional, all-integer") {
    import spark.implicits._
    val docs = Seq(
      ("s1", 1L, 100L), ("s1", 2L, 1L), ("s1", 3L, 899L), // W=1000
      ("s2", 4L, 10L), ("s2", 5L, 10L), ("s2", 6L, 10L), ("s2", 7L, 10L),
      ("s3", 8L, 5L), ("s3", 9L, 0L) // zero-weight row can never be picked
    ).toDF("source", "doc_id", "n_chars")
    val k = 10
    val out = TextAnalysis.ppsSample(docs, "source", "doc_id", "n_chars", k)
      .select($"source", $"doc_id", $"picks").as[(String, Long, Long)].collect()

    // telescoping: the picks in each stratum sum to exactly k
    val bySrc = out.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(bySrc == Map("s1" -> 10L, "s2" -> 10L, "s3" -> 10L))
    // proportionality: picks within 1 of w*k/W for every row
    val m = out.map(t => (t._2, t._3)).toMap
    assert(m(3L) == 9L && m(1L) == 1L && !m.contains(2L)) // 899/1000*10 = 8.99
    assert(Seq(4L, 5L, 6L, 7L).forall(id => m.getOrElse(id, 0L) >= 2L))
    assert(m(8L) == 10L && !m.contains(9L)) // whole budget on the only weighted row
    // deterministic under partitioning
    val again = TextAnalysis.ppsSample(docs.repartition(7), "source", "doc_id", "n_chars", k)
      .select($"source", $"doc_id", $"picks").as[(String, Long, Long)].collect()
    assert(again.toSet == out.toSet)
  }

  test("incremental index from the change feed == full rebuild, incl. upsert-then-delete") {
    import spark.implicits._
    val dir = tempDir("graft-incridx").resolve("t").toString
    TxLog.create(spark, dir, Seq(
      (1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon zeta"), (4L, "eta theta"))
      .toDF("doc_id", "text").repartition(2))
    val index0 = TextAnalysis.invertedIndex(
      TxLog.snapshot(spark, dir, Some(0L)), "doc_id", "text")
    // v1: upsert — re-text doc 2, insert doc 5; v2: DV-delete docs 2 and 3
    TxLog.merge(spark, dir,
      Seq((2L, "gamma NEW words"), (5L, "iota kappa")).toDF("doc_id", "text"), Seq("doc_id"))
    TxLog.delete(spark, dir, col("doc_id") === 2L || col("doc_id") === 3L)

    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String)].collect().toSet
    val rebuilt = pairs(TextAnalysis.invertedIndex(TxLog.snapshot(spark, dir), "doc_id", "text"))

    // one-call fold over the whole (0, 2] feed: doc 2 was upserted THEN
    // deleted — its final state is deleted, so no posting may survive
    val folded = pairs(TextAnalysis.applyIndexDelta(
      index0, TxLog.changes(spark, dir, 0L, 2L), "doc_id", "text"))
    assert(folded == rebuilt, s"fold diff: ${folded.diff(rebuilt)} / ${rebuilt.diff(folded)}")
    assert(!folded.exists(_._1 == 2L) && !folded.exists(_._1 == 3L))
    assert(folded.contains((5L, "iota")) && folded.contains((1L, "alpha")))

    // version-by-version replay converges to the same index
    val step1 = TextAnalysis.applyIndexDelta(
      index0, TxLog.changes(spark, dir, 0L, 1L), "doc_id", "text")
    val step2 = pairs(TextAnalysis.applyIndexDelta(
      step1, TxLog.changes(spark, dir, 1L, 2L), "doc_id", "text"))
    assert(step2 == rebuilt)
    // mid-way the upserted text is live in the index
    assert(pairs(step1).contains((2L, "new")) && !pairs(step1).contains((2L, "delta")))
  }

  test("assoc pairs: set semantics, apriori prune, lift, empty docs " +
      "excluded from N, top-k on (count, pair) order") {
    import spark.implicits._
    // baskets {a,b,c} {a,b} {a,c} {b,c,d} {a,b,c}; d is infrequent at
    // minSupport 2; the double 'd d' collapses (basket = SET)
    val docs = Seq("a b c", "a b", "a c", "b c d d", "a b c", "", "   ")
      .toDF("text")
    val all = TextAnalysis.assocPairs(docs, "text", minSupport = 2L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7)))).toMap
    // N = 5 (two whitespace-only docs excluded); a,b,c all appear 4x
    assert(all.size == 3 && !all.keySet.exists(p => p._1 == "d" || p._2 == "d"))
    assert(all(("a", "b")) == ((3L, 4L, 4L, 5L, 0.6, 0.9375)))
    assert(all(("a", "c")) == ((3L, 4L, 4L, 5L, 0.6, 0.9375)))
    assert(all(("b", "c")) == ((3L, 4L, 4L, 5L, 0.6, 0.9375)))
    // k truncates deterministically: count ties break on (w1, w2)
    val top2 = TextAnalysis.assocPairs(docs, "text", minSupport = 2L, k = 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(top2.toSeq == Seq(("a", "b"), ("a", "c")))
    // raising support past the pair counts empties the result
    assert(TextAnalysis.assocPairs(docs, "text", minSupport = 4L, k = 10)
      .count() == 0L)
  }

  test("assoc pairs: in-array retain_in prune path is row-identical to the " +
      "distributed explode+regroup fallback") {
    import spark.implicits._
    val docs = Seq("a b c x", "a b y", "a c", "b c d d", "a b c z", "x y z",
      "", "q").toDF("text")
    def rows(localMax: Int) =
      TextAnalysis.assocPairs(docs, "text", minSupport = 2L, k = 10,
        localFrequentMax = localMax)
        .collect().map(_.toSeq).toSet
    val inArray = rows(1 << 20)
    assert(inArray == rows(0), "fallback path diverged")
    assert(inArray.nonEmpty)
    // a basket whose every item is infrequent ("q") must vanish in both
    assert(!inArray.exists(r => r.contains("q")))
    // the BYTE cap alone must also route to the fallback (row cap
    // permissive, bytes tiny) and stay row-identical
    val byteCapped = TextAnalysis.assocPairs(docs, "text", minSupport = 2L,
      k = 10, localFrequentMax = 1 << 20, localFrequentMaxBytes = 1L)
      .collect().map(_.toSeq).toSet
    assert(inArray == byteCapped, "byte-capped fallback diverged")
  }

  test("backoffLmScore: seen bigrams score raw c12/c1, unseen back off " +
      "to 0.4 x add-one unigram, OOV stays finite") {
    import spark.implicits._
    // train: "a b" twice, "a c" once -> c1(a)=3, c12(a,b)=2, c12(a,c)=1
    // unigrams: a:3 b:2 c:1 -> T=6, V=3
    val train = Seq((0L, "a b"), (2L, "a b"), (4L, "a c")).toDF("doc_id", "text")
    // eval doc 1: "a b" (seen: 2/3); doc 3: "b z" (unseen, z OOV:
    // 0.4 * (0+1)/9); doc 5: "c a" (unseen w1=c has c1=0: 0.4*(3+1)/9)
    val eval = Seq((1L, "a b"), (3L, "b z"), (5L, "c a")).toDF("doc_id", "text")
    val got = TextAnalysis.backoffLmScore(train, eval, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got(1L) == ((r6(math.log(2.0 / 3.0)), 1L, 1L)))
    assert(got(3L) == ((r6(math.log(0.4 * 1.0 / 9.0)), 1L, 0L)))
    assert(got(5L) == ((r6(math.log(0.4 * 4.0 / 9.0)), 1L, 0L)))
  }

  test("lexicalDiversity: exact type/token counts, TTR and Herdan by " +
      "hand, single-token doc reports null Herdan") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a b c"), // 5 tokens, 3 types
      (1L, "x"), // 1 token: TTR 1, Herdan null (ln 1 denominator)
      (2L, "w w w w")).toDF("doc_id", "text")
    val got = TextAnalysis.lexicalDiversity(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(4)) null else r.getDouble(4)))).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got(0L) == ((5L, 3L, r6(math.log(3.0) / math.log(5.0)))))
    assert(got(1L) == ((1L, 1L, null)))
    assert(got(2L) == ((4L, 1L, 0.0))) // ln 1 / ln 4 = 0
  }

  test("textRank: two-word fixpoint stays 1.0, hub outranks fringe, " +
      "fringe words tie, deterministic across runs") {
    import spark.implicits._
    // x<->y only: contribution ratio is 1, so score 1.0 is the fixpoint
    val duo = Seq((0L, "x y"), (1L, "x y")).toDF("doc_id", "text")
    val d = TextAnalysis.textRank(duo, "text").collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(d("x") == ((1.0, 2L)) && d("y") == ((1.0, 2L)))
    // star: a co-occurs with b, c, d -> a aggregates three full votes
    val star = Seq((0L, "a b"), (1L, "a c"), (2L, "a d")).toDF("doc_id", "text")
    val s = TextAnalysis.textRank(star, "text").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s("a") > s("b"))
    assert(s("b") == s("c") && s("c") == s("d"))
    val s2 = TextAnalysis.textRank(star, "text").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s == s2)
  }

  test("zipfFit: exact power law -> slope -1 with r2 = 1, counts and " +
      "types exact, single-type corpus reports null slope") {
    import spark.implicits._
    // counts 6,3,2 at ranks 1,2,3: c = 6/r exactly -> ln-ln slope -1.
    // Built from repeated words so tokenization produces the counts.
    val docs = Seq((0L, ("a " * 6).trim), (1L, ("b " * 3).trim),
      (2L, "c c")).toDF("doc_id", "text")
    val r = TextAnalysis.zipfFit(docs, "text").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 11L)
    assert(r.getDouble(2) == -1.0)
    assert(r.getDouble(4) == 1.0)
    // one type: denX = 0 -> slope/intercept/r2 all null
    val one = Seq((0L, "w w w")).toDF("doc_id", "text")
    val r1 = TextAnalysis.zipfFit(one, "text").collect().head
    assert(r1.getLong(0) == 1L && r1.getLong(1) == 3L && r1.isNullAt(2))
  }

  test("repetitionSignals: hand-computed top-gram counts, 5-gram coverage " +
      "union (overlapping occurrences count each position once), <5-token " +
      "docs dropped") {
    import spark.implicits._
    val docs = Seq(
      // "a b"x3 / "a b a"x2 dominate; all 5-grams distinct -> dup5 = 0
      (1L, "a b a b a b x y z"),
      // "p q r s t" occurs at positions 0 and 5 -> covers tokens 0..9
      (2L, "p q r s t p q r s t u"),
      (3L, "a b c d") // 4 tokens: no 5-gram, dropped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double, Long, Double, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((1L, 9L, 3L, 0.666667, 2L, 0.666667, 0L, 0.0)))
    assert(out(2L) == ((2L, 11L, 2L, 0.363636, 2L, 0.545455, 10L, 0.909091)))
  }

  test("packSequences: exact offsets/chunk spans, empty docs dropped, " +
      "straddling doc spans two chunks, partitioning-independent") {
    import spark.implicits._
    // token counts by id order: 1->3, 2->4, 3->0 (dropped), 4->5, 5->2
    val docs = Seq(
      (1L, "a b c"), (2L, "w x y z"), (3L, "   "),
      (4L, "p q r s t"), (5L, "m n")).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.packSequences(df, "doc_id", "text", seqLen = 4)
        .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val got = run(docs)
    // offsets: 0, 3, 7, 12; seqLen 4 chunks:
    //  doc1 [0,2] -> chunk 0; doc2 [3,6] -> 0..1 (straddles);
    //  doc4 [7,11] -> 1..2; doc5 [12,13] -> 3
    assert(got == Seq(
      (1L, 3L, 0L, 0L, 0L, 1L),
      (2L, 4L, 3L, 0L, 1L, 2L),
      (4L, 5L, 7L, 1L, 2L, 2L),
      (5L, 2L, 12L, 3L, 3L, 1L)))
    // the distributed prefix sum must not depend on input partitioning
    assert(run(docs.repartition(7)) == got)
    assert(run(docs.coalesce(1)) == got)
  }

  test("weightedSampleNoReplace: deterministic, weight<=0/null excluded, " +
      "k >= n returns all, key matches the hand formula") {
    import spark.implicits._
    val docs = Seq(
      (1L, 10L), (2L, 1L), (3L, 100L), (4L, 0L), (5L, -3L)).toDF("id", "w")
    val all = TextAnalysis.weightedSampleNoReplace(docs, "id", "w", k = 10)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    // only the three positive-weight rows sample; ranks are 1..3
    assert(all.map(_._1).toSet == Set(1L, 2L, 3L) && all.map(_._4).toSeq == Seq(1L, 2L, 3L))
    // key replays the documented formula: u from md5Hash32(id|seed)
    def handKey(id: Long, w: Long): Double = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id|42".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(md5.substring(0, 8), 16)
      BigDecimal(math.log((h + 1).toDouble / 4294967296.0) / w.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    all.foreach { case (id, w, key, _) => assert(key == handKey(id, w), s"id $id") }
    // k = 1 picks the max-key row, and a rerun is identical
    val one = TextAnalysis.weightedSampleNoReplace(docs, "id", "w", k = 1)
      .as[(Long, Long, Double, Long)].collect().head
    assert(one._1 == all.head._1)
    assert(TextAnalysis.weightedSampleNoReplace(docs, "id", "w", k = 10)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4).toSeq == all.toSeq)
  }

  test("weightedSamplePerKey: equals the per-key window reference, bounded " +
    "by k, deterministic under repartitioning") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val docs = (1 to 500).map(i =>
      (i.toLong, s"g${i % 4}", 1L + rnd.nextInt(100).toLong))
      .toDF("id", "grp", "w")
    val out = TextAnalysis.weightedSamplePerKey(docs, "grp", "id", "w", k = 15)
      .collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toSet
    // brute reference: identical A-ES keys, per-key window rank
    val u = (Sketches.md5Hash32(concat(col("id").cast("string"), lit("|42")))
      + lit(1L)).cast("double") / lit(4294967296.0)
    val ref = docs
      .select(col("grp"), col("id"), col("w"),
        round(log(u) / col("w").cast("double"), 6).as("key"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
          .orderBy(col("key").desc, col("id"))))
      .filter(col("rank") <= 15)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4).toLong))
      .toSet
    assert(out == ref)
    assert(out.groupBy(_._1).forall(_._2.size == 15))
    val again = TextAnalysis.weightedSamplePerKey(
      docs.repartition(11), "grp", "id", "w", k = 15).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toSet
    assert(again == out)
  }

  test("weightedSampleWithReplacement: equals the per-(key, draw) argmax " +
    "reference, one row per draw, heavy rows repeat, deterministic") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val docs = (1 to 300).map(i =>
      (i.toLong, s"g${i % 3}", 1L + rnd.nextInt(50).toLong))
      .toDF("id", "grp", "w")
    val k = 10
    val out = TextAnalysis.weightedSampleWithReplacement(
      docs, "grp", "id", "w", k).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
      .toSet
    // exactly one winner per (key, draw)
    assert(out.size == 3 * k)
    assert(out.map(t => (t._1, t._2)).size == 3 * k)
    // brute reference: same salted keys, per-(grp, draw) argmax
    val u = (Sketches.md5Hash32(concat(col("id").cast("string"),
      lit("|42|"), col("draw").cast("string"))) + lit(1L))
      .cast("double") / lit(4294967296.0)
    val ref = docs
      .withColumn("draw", explode(sequence(lit(1), lit(k))))
      .select(col("grp"), col("draw").cast("long").as("draw"), col("id"),
        col("w").cast("double").as("w"),
        round(log(u) / col("w").cast("double"), 6).as("c"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("grp"), col("draw"))
          .orderBy(col("c").desc, col("id"))))
      .filter(col("rn") === 1)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
      .toSet
    assert(out == ref)
    // WITH replacement: a dominating row wins every draw of its key
    val skew = Seq((1L, "s", 100000L), (2L, "s", 1L), (3L, "s", 1L))
      .toDF("id", "grp", "w")
    val winners = TextAnalysis.weightedSampleWithReplacement(
      skew, "grp", "id", "w", 12).collect().map(_.getLong(2))
    assert(winners.length == 12 && winners.count(_ == 1L) >= 10,
      s"heavy row won only ${winners.count(_ == 1L)}/12 draws")
    // null / non-positive weights never win; deterministic
    val bad = Seq((1L, "b", 5L), (2L, "b", 0L)).toDF("id", "grp", "w")
    assert(TextAnalysis.weightedSampleWithReplacement(bad, "grp", "id", "w", 3)
      .collect().forall(_.getLong(2) == 1L))
    val again = TextAnalysis.weightedSampleWithReplacement(
      docs.repartition(13), "grp", "id", "w", k).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
      .toSet
    assert(again == out)
  }

  test("ngramNovelty: hand-computed trigram overlap; short docs emit no row") {
    import spark.implicits._
    val ref = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b c x y z"), // grams: abc bcx cxy xyz -> 3 of 4 novel
      (2L, "A  B   c D"),  // lowered/trimmed -> both grams seen in ref
      (3L, "too short")    // < 3 tokens -> no row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, ref, "doc_id", "text", "text", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((4L, 3L, 0.75)))
    assert(out(2L) == ((2L, 0L, 0.0)))
  }

  test("unigramKl: hand-computed divergence in term order; a one-doc corpus " +
    "scores exactly zero; always nonnegative; empty docs emit no row") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a b b c"), (3L, "  ")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramKl(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(1L, 2L))
    // corpus: a=3 b=3 c=1, N=7 — replicate the exact IEEE chain in
    // lexicographic term order (a then b then c)
    def rd6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = (2.0 / 3.0) * math.log((2.0 / 3.0) / (3.0 / 7.0)) +
      (1.0 / 3.0) * math.log((1.0 / 3.0) / (3.0 / 7.0))
    val d2 = (1.0 / 4.0) * math.log((1.0 / 4.0) / (3.0 / 7.0)) +
      (2.0 / 4.0) * math.log((2.0 / 4.0) / (3.0 / 7.0)) +
      (1.0 / 4.0) * math.log((1.0 / 4.0) / (1.0 / 7.0))
    assert(out(1L) == ((3L, rd6(d1))))
    assert(out(2L) == ((4L, rd6(d2))))
    assert(out.values.forall(_._2 >= 0.0))
    // a doc that IS the corpus: p == q everywhere -> exactly 0
    val solo = TextAnalysis.unigramKl(
      Seq((7L, "x y")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    assert(solo.getDouble(2) == 0.0)
  }

  test("sourceOverlap: hand-computed bigram Jaccard matrix; zero-overlap " +
    "pairs emit no row; within-source duplicate grams count once") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "a b c"),        // s1 bigrams: {a b, b c}
      ("s1", "a b a b"),      // adds {b a}; "a b" dups within source
      ("s2", "b c d"),        // s2: {b c, c d}
      ("s3", "x y z")         // s3: {x y, y z} — disjoint from s1/s2
    ).toDF("source", "text")
    val out = TextAnalysis.sourceOverlap(docs, "source", "text", 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    // only the s1-s2 pair shares grams: common = {b c}, J = 1/(3+2-1)
    assert(out.keySet == Set(("s1", "s2")))
    assert(out(("s1", "s2")) == ((3L, 2L, 1L, 0.25)))
  }

  test("ngramNovelty: duplicate grams within a doc count once (DISTINCT " +
    "semantics) and an empty reference makes everything novel") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val ref = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, ref, "doc_id", "text", "text", 2)
      .collect().head
    // bigrams of [a b a b a b]: "a b" x3, "b a" x2 -> 2 distinct
    assert(out.getLong(1) == 2L && out.getLong(2) == 2L && out.getDouble(3) == 1.0)
  }

  test("winnowing: shared-run guarantee, short-doc collapse, distinct set") {
    import spark.implicits._
    val run = (1 to 20).map(i => s"w$i").mkString(" ") // 20-word shared run
    val docs = Seq(
      (1L, "alpha beta " + run),
      (2L, run + " gamma delta epsilon"),
      (3L, "tiny doc"), // < k tokens: one whole-doc gram, one fingerprint
      (4L, "one two three four five") // 2 grams < window: single global min
    ).toDF("doc_id", "text")
    val fp = TextAnalysis.winnowingFingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // guarantee: a shared run of >= w+k-1 = 11 words forces >= 1 shared
    // fingerprint between the two documents containing it
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    assert(byDoc(3L).size == 1)
    assert(byDoc(4L).size == 1)
    // explode emits each selected hash once per doc (array_distinct)
    assert(fp.length == fp.distinct.length)
    // selection is a subset of the doc's own k-gram hashes: disjoint
    // texts share nothing
    assert((byDoc(3L) & byDoc(4L)).isEmpty)
    // retention: far fewer fingerprints than positions on a long doc
    val long = Seq((9L, (1 to 400).map(i => s"t${i % 57}").mkString(" ")))
      .toDF("doc_id", "text")
    val n = TextAnalysis.winnowingFingerprints(long, "doc_id", "text").count()
    assert(n > 0 && n < 397 / 2) // ~2/(w+1) of 397 positions, margin 4x
  }

  test("readability: hand-counted Flesch, fragment clamp, empty-text null") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"),
      (2L, "no punctuation here"),
      (3L, "...!!!"),
      (4L, "rhythm")).toDF("doc_id", "text")
    val got = TextAnalysis.readability(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getDouble(4)))).toMap
    // 6 words, 2 sentence runs, 6 vowel groups:
    // 206.835 - 1.015*3 - 84.6*1 = 119.19
    assert(got(1L) == ((6L, 2L, 6L, 119.19)))
    // fragment: sentence count clamps to 1
    assert(got(2L)._2 == 1L && got(2L)._1 == 3L)
    // punctuation-only: zero words -> null score, one sentence run
    assert(got(3L) == ((0L, 1L, 0L, null)))
    // "rhythm": y is a vowel in the group heuristic -> 1 syllable
    assert(got(4L) == ((1L, 1L, 1L,
      BigDecimal(206.835 - 1.015 - 84.6)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

}
