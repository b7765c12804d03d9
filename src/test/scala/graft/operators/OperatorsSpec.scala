package graft.operators

import graft.{GraftSession, TempDirs}
import graft.graph.ScenarioWeights
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Micro-coverage for the SURVEY §2 scalar/relational operators that have
  * no dedicated oracle query: exercised through the public API with
  * reference-documented expectations.
  */
class OperatorsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(2, "operators-spec")

  test("F3/F4/F5/S6: bridge prep (prep-bridge.js semantics)") {
    import spark.implicits._
    val bridges = Seq(
      ("B1", "N000201XYZ", "CULV", "1,250", "32.5", "-25.9"),
      ("B2", "R085077777", "BRID", "0", "33.0", "-24.0")
    ).toDF("Str_ID", "Link_ID", "Des_Type", "Over_Length", "GPS_E", "GPS_S")
    val out = BridgePrep.prepare(bridges).orderBy("bridge_id").collect()
    assert(out(0).getAs[String]("road_id") == "N2") // N000201 head N0002 → N2
    assert(out(0).getAs[String]("type") == "culvert")
    assert(out(0).getAs[Double]("length") == 1250.0)
    assert(out(1).getAs[String]("road_id") == "R850") // R0850 → R850
    assert(out(1).getAs[String]("type") == "bridge")
    assert(out(1).getAs[Double]("length") == 7.0) // unknown 0 → 7 m default
  }

  test("S4+F3-F5: bridges.csv header contract end-to-end through the CSV scan") {
    // header shape per the reference source table (SURVEY §1.1:
    // Str_ID,Link_ID,...,GPS_E,GPS_S,...,Over_Length,...,Des_Type,Mat_Type)
    val dir = tempDir("bridges")
    java.nio.file.Files.writeString(
      dir.resolve("bridges.csv"),
      """Str_ID,Link_ID,District,GPS_E,GPS_S,Over_Length,Des_Type,Mat_Type
        |BR001,N000201AB,Maputo,32.57,-25.96,"1,234",BRID,Concrete
        |BR002,R085099ZZ,Gaza,33.10,-24.50,0,CULV,Steel""".stripMargin)
    val raw = spark.read.option("header", "true").csv(dir.toString)
    val out = BridgePrep.prepare(raw).orderBy("bridge_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("road_id") == "N2")
    assert(out(0).getAs[Double]("length") == 1234.0) // comma stripped
    assert(out(1).getAs[String]("type") == "culvert")
    assert(out(1).getAs[Double]("length") == 7.0)
    val geom = out(0).getAs[scala.collection.Seq[Double]]("geometry")
    assert(geom.toSeq == Seq(32.57, -25.96))
  }

  test("G4: scenario weight overrides (speed 0 removes, last wins)") {
    import spark.implicits._
    val edges = Seq(("w1", 0, 1, 2.0), ("w2", 1, 2, 3.0), ("w3", 2, 3, 4.0))
      .toDF("way_id", "src", "dst", "weight")
    val overrides = Seq(("w1", 2.0), ("w2", 0.0), ("w1", 4.0)).toDF("way_id", "speed")
    val out = ScenarioWeights
      .applyOverrides(edges, overrides)
      .collect()
      .map(r => r.getAs[String]("way_id") -> r.getAs[Double]("weight"))
      .toMap
    assert(out("w1") == 0.5) // 2.0 / 4.0 (last override wins)
    assert(out("w2").isPosInfinity) // removed
    assert(out("w3") == 4.0) // untouched
  }

  test("W1: nearest-rank percentile threshold (filter-percentile.js)") {
    import spark.implicits._
    // 11 values 0..100: p80 rank = round(0.8*10) = 8 → threshold 80
    val df = (0 to 100 by 10).map(_.toDouble).toDF("v")
    val kept = Relational.percentileFilter(df, "v", 80.0).collect().map(_.getDouble(0)).sorted
    assert(kept.toSeq == Seq(80.0, 90.0, 100.0))
  }

  test("percentileFilter on empty / all-NaN input fails with a clear message") {
    import spark.implicits._
    val empty = Seq.empty[Double].toDF("v")
    val ex = intercept[IllegalArgumentException](
      Relational.percentileFilter(empty, "v", 80.0).collect())
    assert(ex.getMessage.contains("empty input"))
    val allNan = Seq(Double.NaN, Double.NaN).toDF("v")
    val ex2 = intercept[IllegalArgumentException](
      Relational.percentileFilter(allNan, "v", 50.0).collect())
    assert(ex2.getMessage.contains("empty input"))
  }

  test("kthSmallest is exact across range partitions") {
    import spark.implicits._
    val df = spark.sparkContext.parallelize(Seq.tabulate(1000)(i => (i * 7919) % 1000), 8).toDF("v")
    assert(Relational.kthSmallest(df, "v", 0) == 0.0)
    assert(Relational.kthSmallest(df, "v", 500) == 500.0)
    assert(Relational.kthSmallest(df, "v", 999) == 999.0)
  }

  test("percentileFilter adds no job over bare kthSmallest (n folds into the count pass)") {
    import spark.implicits._
    val df = (0 to 100 by 10).map(_.toDouble).toDF("v")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def countJobs(body: => Unit): Int = {
      spark.sparkContext.addSparkListener(listener)
      try {
        jobs.set(0)
        body
        // listener delivery is async; poll until quiescent
        val deadline = System.nanoTime() + 5_000_000_000L
        var last = -1
        while (System.nanoTime() < deadline && jobs.get() != last) {
          last = jobs.get(); Thread.sleep(100)
        }
        jobs.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val bare = countJobs(Relational.kthSmallest(df, "v", 8))
    // threshold resolution only (the final filter is lazy)
    val filt = countJobs(Relational.percentileFilter(df, "v", 80.0))
    assert(filt == bare, s"percentileFilter ran $filt jobs vs kthSmallest's $bare — a separate count() leaked back in")
    // absolute ceiling: range-bounds sampling (≤2 passes) + per-range count
    // + single-partition select
    assert(filt <= 4, s"threshold resolution grew to $filt jobs")
  }

  test("A1: scale-score NaN-filtered max (utils.js addScaledScore)") {
    import spark.implicits._
    val df = Seq(20.0, 50.0, Double.NaN).toDF("value")
    val out = Relational.scaleScore2(df, "value").collect()
    val scores = out.map(r => r.getDouble(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(scores(20.0) == 40.0)
    assert(scores(50.0) == 100.0)
  }

  test("F24+J10: unpivot + reverse-pair merge (process-traffic.js)") {
    import spark.implicits._
    val wide = Seq((1, 10.0, 20.0), (2, 30.0, 40.0)).toDF("origin", "1", "2")
    val long = Relational.unpivotMatrix(wide, "origin", Seq("1", "2"), "destination", "count")
      .withColumn("destination", col("destination").cast("int"))
    assert(long.count() == 4)
    val merged = Relational.mergeReversePairs(long, "origin", "destination", "count").collect()
    assert(merged.length == 1) // only (1,2) kept (origin < destination)
    assert(merged.head.getAs[Double]("count") == 20.0)
    assert(merged.head.getAs[Double]("reverse_count") == 30.0)
  }

  test("J2: indicator merge + unmatched report (merge-indicators.js)") {
    import spark.implicits._
    val rn = Seq("a", "b", "c").toDF("NAME")
    val ind = Seq(("a", 10.0), ("x", 99.0)).toDF("way_id", "score")
    val merged = Relational.mergeIndicators(rn, "NAME", Seq("pov" -> ind)).collect()
    val byName = merged.map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(byName("a") == 10.0)
    assert(byName("b") == null) // missing → null fill
  }

  test("dedup operators drop planted near-duplicates but keep originals") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup
      (3L, "completely different content about spark query engines at scale"),
      (4L, "the quick brown fox jumps over the lazy dog again and again today") // near dup
    ).toDF("doc_id", "text")
    val exact = Dedup.exactDedup(docs, "doc_id", "text").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact == Set(1L, 3L, 4L))
    val near = Dedup.minHashDedup(docs, "doc_id", "text").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(near.contains(3L) && near.contains(1L) && !near.contains(2L))
    val jac = Dedup.ngramJaccardDedup(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(jac == Set(1L, 3L)) // 4 is a near-dup of 1 at 0.5 threshold
  }

  test("weightedJaccardReport: hand-computed TF min/max ratio on a planted " +
      "pair; repetition drops the weighted score where set Jaccard is blind") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base),
      (2L, base), // exact dup: jw = 1
      (3L, base + " " + base + " " + base) // 3x repetition of 1: SET jaccard 1.0
    ).toDF("doc_id", "text")
    val got = Dedup.weightedJaccardReport(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // base = 12 tokens, 10 distinct ("the"×2, "again"×2)
    assert(got((2L, 1L)) == ((12L, 12L, 12L, 1.0)))
    // 3 vs 1: Σmin = 12 (doc 1's counts are the min everywhere),
    // Σmax = 36, jw = 12/36 — repetition-aware, NOT the set-Jaccard 1.0
    assert(got((3L, 1L)) == ((12L, 36L, 12L, 0.333333)))
    assert(got((3L, 2L)) == ((12L, 36L, 12L, 0.333333)))
  }

  test("weightedJaccardReport: randomized cross-check — every reported pair's " +
      "score equals the brute TF min/max ratio, and every high-overlap planted " +
      "pair is reported") {
    import spark.implicits._
    val rnd = new scala.util.Random(99L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    // base docs + planted near-identical copies (one token appended) so
    // the LSH tier must catch them
    val bases = (0 until 12).map { i =>
      (i.toLong, Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val copies = bases.take(4).map { case (id, t) => (100L + id, t + " omega") }
    val docs = (bases ++ copies).toDF("doc_id", "text")
    val got = Dedup.weightedJaccardReport(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    // brute TF multiset jaccard
    val tf = (bases ++ copies).map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty).groupBy(identity).view.mapValues(_.length.toLong).toMap
    }.toMap
    def jw(a: Long, b: Long): Double = {
      val (ta, tb) = (tf(a), tf(b))
      val inter = (ta.keySet ++ tb.keySet).toSeq
        .map(w => math.min(ta.getOrElse(w, 0L), tb.getOrElse(w, 0L))).sum
      val union = ta.values.sum + tb.values.sum - inter
      math.rint(inter.toDouble / union * 1e6) / 1e6
    }
    got.foreach { case ((a, b), s) =>
      assert(math.abs(s - jw(a, b)) < 1e-9, s"pair ($a,$b): $s vs brute ${jw(a, b)}")
    }
    // each planted copy pairs with its base at a high weighted score
    (0 until 4).foreach { i =>
      val key = (100L + i, i.toLong)
      assert(got.contains(key) && got(key) >= 0.8 - 1e-9,
        s"planted near-dup pair $key missing or low: ${got.get(key)}")
    }
  }

  test("AQE skew join: the hot partition splits (skew=true) and the result stays exact") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a real SMJ
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16384",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8192",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // enough partitions that the MEDIAN partition is a light one — with
      // the suite default of 2, the median IS the hot partition and the
      // factor test can never fire
      "spark.sql.shuffle.partitions" -> "16")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // one hot key owns 200k of 220k rows — the shuffle partition holding
      // key 0 is ~60× the median, far past factor 2 and the byte threshold
      // the payload column must survive pruning into the shuffle and not
      // compress away, or the hot partition's bytes undercut the threshold
      val left = spark.range(220000).select(
        when($"id" < 200000, 0L).otherwise($"id" % 2000 + 1).as("k"),
        ($"id" * 2654435761L % 1000003).as("v"))
      val right = spark.range(2001).select($"id".as("k"), ($"id" * 3).as("w"))
      val j = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum($"v" + $"w").as("sw"))
      val row = j.collect().head
      assert(row.getLong(0) == 220000L, "every left row matches exactly one right key")
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        "AQE did not split the skewed partition:\n" + p.take(1200))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("incremental dedup: novel-and-first batch rows survive, corpus never re-deduped") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "alpha beta gamma"),
      (11L, "delta epsilon zeta"),
      (12L, "alpha beta gamma") // corpus-internal dup must NOT affect the batch
    ).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "ALPHA  beta gamma"), // normalizes to a corpus fingerprint → dropped
      (21L, "eta theta iota"),    // novel
      (22L, "eta theta iota"),    // batch-internal dup of 21 → dropped
      (23L, "kappa lambda mu")    // novel
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalExactDedup(corpus, batch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(21L, 23L))
    // empty corpus degenerates to plain exactDedup of the batch
    val cold = Dedup.incrementalExactDedup(corpus.limit(0), batch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cold == Set(20L, 21L, 23L))
  }

  test("incremental near-dup: corpus bucket hits drop, batch near-dups collapse to min id") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (10L, base),
      (11L, "completely different corpus content about catalyst planners")).toDF("doc_id", "text")
    val batch = Seq(
      (20L, base + " tonight"), // near-dup of corpus 10 → dropped
      (21L, "utterly novel zebra quantum paragraph nothing shares these words at all " * 2),
      (22L, "utterly novel zebra quantum paragraph nothing shares these words at all " * 2 + "extra"),
      (23L, "another standalone snippet on bit interleaving and morton codes")).toDF("doc_id", "text")
    val kept = Dedup.incrementalMinHashDedup(corpus, batch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(20L), "corpus near-dup must drop")
    assert(kept.contains(21L) && !kept.contains(22L), "within-batch near-dups keep the min id")
    assert(kept.contains(23L))
    // empty corpus degenerates to plain minHashDedup of the batch
    val cold = Dedup.incrementalMinHashDedup(corpus.limit(0), batch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val plain = Dedup.minHashDedup(batch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cold == plain)
  }

  test("skewReport: counts, shares and salt factors on a hand-built skewed key set") {
    import spark.implicits._
    // key a ×6, b ×2, c ×1 → total 9, 3 keys, mean 3
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c")).toDF("k")
    val rows = Profiling.skewReport(df, "k", topN = 2).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b"), "order: count desc")
    val a = rows(0)
    assert(a.getLong(1) == 6L)
    assert(math.abs(a.getDouble(2) - 0.666667) < 1e-9)
    assert(a.getLong(3) == 2L, "6 rows vs mean 3 → salt factor 2")
    assert(rows(1).getLong(3) == 1L, "at/below mean → no salting")
  }

  test("profile approx tier: HLL++ distincts within ±2% of exact, same everything else") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def byName(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r).toMap
    val exact = byName(Profiling.profile(li, cols, exact = true))
    val approx = byName(Profiling.profile(li, cols, exact = false, rsd = 0.02))
    cols.foreach { c =>
      val e = exact(c); val a = approx(c)
      val ed = e.getLong(2).toDouble; val ad = a.getLong(2).toDouble
      assert(math.abs(ad - ed) / ed <= 0.02, s"$c distinct: exact=$ed approx=$ad")
      // the non-sketch columns are identical — same single-scan plan
      assert(a.getLong(1) == e.getLong(1) && a.getDouble(3) == e.getDouble(3) &&
        a.getDouble(4) == e.getDouble(4) && a.getDouble(5) == e.getDouble(5))
    }
    // the approx plan must NOT contain the Expand the exact plan needs
    val approxPlan = Profiling.profile(li, cols, exact = false)
      .queryExecution.executedPlan.toString
    val exactPlan = Profiling.profile(li, cols, exact = true)
      .queryExecution.executedPlan.toString
    assert(!approxPlan.contains("Expand") && exactPlan.contains("Expand"))
  }

  test("profile quantile tier: sketch values within the rank-error band of exact, one scan") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val n = li.count().toDouble
    val q = Profiling.quantiles(li, cols, accuracy = 10000)
    val rows = q.collect().map(r => r.getString(0) -> r).toMap
    cols.foreach { c =>
      val sorted = li.select(col(c).cast("double")).na.drop()
        .collect().map(_.getDouble(0)).sorted
      Seq(0.25 -> 1, 0.5 -> 2, 0.75 -> 3, 0.99 -> 4).foreach { case (p, fld) =>
        val got = rows(c).getDouble(fld)
        // GK guarantee: the returned value's RANK is within n/accuracy of
        // the target rank — check via the exact sorted array
        val band = math.ceil(n / 10000).toInt + 1
        val lo = sorted(math.max(0, (p * n).toInt - band))
        val hi = sorted(math.min(sorted.length - 1, (p * n).toInt + band))
        assert(got >= lo - 1e-6 && got <= hi + 1e-6,
          s"$c p$p: $got outside rank band [$lo, $hi]")
      }
    }
    // one scan, no Expand, no sort: same shape as the plain agg
    val plan = Profiling.quantiles(li, cols).queryExecution.executedPlan.toString
    assert(!plan.contains("Expand") && !plan.contains("Sort "), plan.take(400))
  }

  test("simHash bucket-size guard: split output identical to unsplit on a degenerate corpus") {
    import spark.implicits._
    // 120 near-identical docs (hamming ≤ 3 of each other) all land in the
    // SAME 16-bit buckets of every block — the degenerate case the guard
    // exists for — plus distinct outliers that must survive. maxBucket=16
    // forces G = ⌈480/16⌉-way triangle salting on every bucket; the
    // unsplit run (maxBucket huge) is the semantics reference.
    val base = "spark engines shuffle partition codegen catalyst tungsten adaptive"
    val docs = ((1 to 120).map(i => (i.toLong, if (i % 7 == 0) base + "!" else base)) ++
      Seq((200L, "totally unrelated content about road networks in mozambique"),
          (201L, "another unique document concerning flood scenario modelling")))
      .toDF("doc_id", "text").repartition(8)
    val unsplit = Dedup.simHashDedup(docs, "doc_id", "text", maxBucket = Int.MaxValue)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val split = Dedup.simHashDedup(docs, "doc_id", "text", maxBucket = 16)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(split === unsplit)
    assert(split.contains(1L) && split.contains(200L) && split.contains(201L))
    assert(!split.contains(120L)) // the near-identical block collapsed
  }

  test("salted join equals plain join (skew mitigation is transparent)") {
    import spark.implicits._
    // heavy skew: 90% of left rows share one key
    val left = (1 to 1000).map(i => (if (i <= 900) "hot" else s"k$i", i)).toDF("k", "v")
    val right = Seq(("hot", 1.0), ("k950", 2.0), ("miss", 3.0)).toDF("k", "w")
    val plain = left.join(right, Seq("k")).agg(sum($"v" * $"w")).collect().head.getDouble(0)
    val salted = Relational.saltedJoin(left, right, "k", saltFactor = 8)
      .agg(sum($"v" * $"w")).collect().head.getDouble(0)
    assert(salted == plain)
  }

  test("S10: OSM-XML write → read round-trip") {
    import graft.sources.OsmXml
    val dir = tempDir("osmw")
    val nodes = Seq(OsmXml.OsmNode(1, 0.5, -0.5), OsmXml.OsmNode(2, 1.5, -1.5))
    val ways = Seq(OsmXml.OsmWay(10, Seq(1L, 2L), Map("NAME" -> "seg<a>", "RUC" -> "1.2")))
    OsmXml.write(nodes, ways, dir.resolve("g.osm").toString)
    val (n2, w2) = OsmXml.read(spark, dir.toString)
    assert(n2.count() == 2)
    val w = w2.collect().head
    assert(w.getAs[Map[String, String]]("tags")("NAME") == "seg<a>") // escaping survives
  }

  test("J3: per-key result-file join (merge-eaul shape)") {
    import spark.implicits._
    // one JSON file per way, read as one DataFrame, left-join onto RN
    val dir = tempDir("eaulres")
    java.nio.file.Files.writeString(dir.resolve("result--w1.json"), """{"name":"w1","eaul_baseline":10.5}""")
    java.nio.file.Files.writeString(dir.resolve("result--w2.json"), """{"name":"w2","eaul_baseline":20.5}""")
    val results = spark.read.json(dir.toString + "/*.json")
    val rn = Seq("w1", "w2", "w3").toDF("NAME")
    val merged = rn.join(results, rn("NAME") === results("name"), "left")
      .select(rn("NAME"), col("eaul_baseline")).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(merged("w1") == 10.5 && merged("w2") == 20.5 && merged("w3") == null)
  }

  test("substring dedup cuts a planted duplicated span from every occurrence") {
    import spark.implicits._
    val span = "THE-EXACT-DUPLICATED-SPAN-SENTENCE" // 34 chars > k
    val docs = Seq(
      (1L, s"alpha $span omega"),
      (2L, s"prefix text then $span and a suffix"),
      (3L, "completely unique content with nothing repeated here"),
      (4L, "tiny")).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "doc_id", "text", k = 10)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    // the span (plus any overlapping duplicated grams) is gone from BOTH
    assert(!out(1L)._1.contains("DUPLICATED") && out(1L)._2 >= span.length)
    assert(!out(2L)._1.contains("DUPLICATED") && out(2L)._2 >= span.length)
    // unique and sub-k docs untouched
    assert(out(3L) == ("completely unique content with nothing repeated here", 0))
    assert(out(4L) == ("tiny", 0))
    // surviving text keeps its non-covered borders in order
    assert(out(1L)._1.startsWith("alpha") && out(1L)._1.endsWith("omega"))
  }

  test("paragraph dedup: first occurrence survives, boilerplate collapses, empty docs vanish") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A\nB\nA"),          // in-doc repeat: second A dropped
      (2L, "B\nC"),             // B already seen in doc 1
      (3L, "  a  \n   "),       // blank para dropped; "  a  " is new (trim-normalized key ≠ "A")
      (4L, "B")                 // everything duplicated ⇒ doc vanishes
    ).toDF("doc_id", "text")
    val surv = Dedup.paragraphDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // survivors carry the ORIGINAL paragraph text of the first occurrence
    assert(surv == Set((1L, 0, "A"), (1L, 1, "B"), (2L, 1, "C"), (3L, 0, "  a  ")))

    val out = Dedup.reassembleParagraphs(Dedup.paragraphDedup(docs, "doc_id", "text"), "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out == Map(
      1L -> ("A\nB", 2L),
      2L -> ("C", 1L),
      3L -> ("  a  ", 1L))) // doc 4 lost every paragraph → absent

    // trim normalization: a later doc repeating "A" with padding is a dup
    val docs2 = Seq((1L, "A"), (2L, "  A  ")).toDF("doc_id", "text")
    val out2 = Dedup.paragraphDedup(docs2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(out2 == Set((1L, "A")))
  }

  test("embedding near-dup drops planted near-identical vectors") {
    import spark.implicits._
    val base = Array.tabulate(64)(i => math.sin(i).toFloat)
    val nearDup = base.clone(); nearDup(0) = base(0) + 1e-4f
    val other = Array.tabulate(64)(i => math.cos(i * 3 + 1).toFloat)
    val embs = Seq((1L, base.toSeq), (2L, nearDup.toSeq), (3L, other.toSeq))
      .toDF("vec_id", "embedding")
    val kept = Dedup.embeddingNearDup(embs, "vec_id", "embedding", dim = 64, threshold = 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L)) // 2 is a near-dup of 1; lower id wins
  }

  test("semDedup equals a naive local implementation (clusters + min-id survivor)") {
    import spark.implicits._
    // seeded mixture: 40 vectors around 4 centers, plus planted near-dups
    val rnd = new scala.util.Random(7L)
    val centers = Array.tabulate(4, 8)((c, j) => math.sin(c * 5 + j) * 10.0)
    val base = (0 until 40).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(8)(j => (centers(c)(j) + rnd.nextGaussian() * 0.3).toFloat).toSeq)
    }
    // near-dups of vectors 0..4 with higher ids (tiny perturbation)
    val dups = (0 until 5).map { i =>
      (100L + i, base(i)._2.map(v => v + 1e-4f))
    }
    val data = base ++ dups
    val embs = data.toDF("vec_id", "embedding")
    val k = 4
    val threshold = 0.99

    // naive local twin: same seed-cell assignment (round-6dp L2² argmin vs
    // the k lowest-id vectors, lowest index wins ties), same min-id prune
    val byId = data.sortBy(_._1)
    val seeds = byId.take(k).map(_._2.map(_.toDouble).toArray)
    def cluster(v: Seq[Float]): Int = {
      var best = 0; var bestD = Double.MaxValue
      for (c <- 0 until k) {
        var d = 0.0
        for (j <- 0 until 8) { val diff = v(j) - seeds(c)(j); d += diff * diff }
        val dr = math.floor(d * 1e6 + 0.5) / 1e6
        if (dr < bestD) { bestD = dr; best = c }
      }
      best
    }
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dt = 0.0; var na = 0.0; var nb = 0.0
      for (j <- 0 until 8) {
        dt += a(j).toDouble * b(j); na += a(j).toDouble * a(j); nb += b(j).toDouble * b(j)
      }
      if (na == 0 || nb == 0) 0.0 else dt / (math.sqrt(na) * math.sqrt(nb))
    }
    val assignLocal = data.map { case (id, v) => id -> cluster(v) }.toMap
    val expected = data.filter { case (id, v) =>
      !data.exists { case (oid, ov) =>
        oid < id && assignLocal(oid) == assignLocal(id) && cos(v, ov) >= threshold
      }
    }.map(_._1).toSet

    val got = Dedup.semDedup(embs, "vec_id", "embedding", k = k, threshold = threshold)
    val gotIds = got.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gotIds == expected)
    // planted dups must actually be pruned (non-vacuous)
    assert((100L until 105L).forall(id => !gotIds.contains(id)))
    // survivors carry their cluster assignment
    val gotClusters = got.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotClusters.forall { case (id, c) => assignLocal(id) == c })
  }

  test("incrementalSemDedup: drops vs corpus AND within batch, keeps novel rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(13L)
    val centers = Array.tabulate(4, 8)((c, j) => math.sin(c * 3 + j) * 9.0)
    def around(c: Int, seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(8)(j => (centers(c)(j) + r.nextGaussian() * 0.25).toFloat).toSeq
    }
    val corpus = (0 until 24).map(i => (i.toLong, around(i % 4, i))).toDF("vec_id", "embedding")
    val batch = Seq(
      // near-dup of corpus vector 5 -> dropped vs corpus
      (100L, around(1, 5).map(_ + 1e-4f)),
      // novel (fresh draw) -> survives
      (101L, around(2, 999)),
      // near-dup of batch 101 -> dropped within batch (101 wins, lower id)
      (102L, around(2, 999).map(_ + 1e-4f)),
      // novel in another cluster -> survives
      (103L, around(0, 888))
    ).toDF("vec_id", "embedding")
    val kept = Dedup
      .incrementalSemDedup(corpus, batch, "vec_id", "embedding", k = 4, threshold = 0.9999999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(101L, 103L))

    // cluster stability under corpus growth: appending HIGHER-id corpus
    // rows leaves the seed centroids — and thus every assignment — intact
    val grown = corpus.union(
      (50 until 58).map(i => (i.toLong, around(i % 4, i + 1000))).toDF("vec_id", "embedding"))
    val keptGrown = Dedup
      .incrementalSemDedup(grown, batch, "vec_id", "embedding", k = 4, threshold = 0.9999999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptGrown == Set(101L, 103L))
  }

  test("semDedupKmeans prunes planted near-dups and keeps cluster consistency") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val centers = Array.tabulate(3, 8)((c, j) => math.cos(c * 7 + j) * 8.0)
    val base = (0 until 30).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(8)(j => (centers(c)(j) + rnd.nextGaussian() * 0.2).toFloat).toSeq)
    }
    val dups = (0 until 3).map(i => (200L + i, base(i)._2.map(v => v + 1e-4f)))
    val embs = (base ++ dups).toDF("vec_id", "embedding")
    // 0.9999999: planted 1e-4-perturbation dups sit at cosine ~1-1e-10,
    // while distinct same-cluster originals stay below ~0.99999
    val out = Dedup.semDedupKmeans(embs, "vec_id", "embedding", k = 3, iters = 3,
      threshold = 0.9999999)
    val kept = out.select("vec_id").collect().map(_.getLong(0)).toSet
    // a near-identical copy always lands in its original's cluster
    // (identical argmin up to 1e-4 perturbation on well-separated centers)
    assert((200L until 203L).forall(id => !kept.contains(id)))
    assert((0L until 30L).forall(kept.contains)) // originals all survive
  }

  test("IVF scale path: cluster-partitioned write gives scan-time partition pruning") {
    val embs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (_, assigned) = Similarity.kmeans(embs, "vec_id", "embedding", k = 4, iters = 2)
    val dir = tempDir("ivf-part").toString
    embs.join(assigned, Seq("vec_id"))
      .write.mode("overwrite").partitionBy("cluster").parquet(dir)
    val probed = spark.read.parquet(dir).filter(col("cluster").isin(0, 1))
    val plan = probed.queryExecution.executedPlan.toString
    // the probe filter becomes a partition filter — non-probed cells are
    // never read (the 100 TB IVF payoff)
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"))
    assert(probed.count() > 0)
  }

  test("sketches: approx_count_distinct within 5% of exact at sf0.01") {
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
    val row = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx")).collect().head
    val exact = row.getLong(0).toDouble
    val approx = row.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05)
  }

  test("k-means IVF: partitions the corpus, probe search recalls brute-force hits") {
    val embs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (centroids, assigned) = Similarity.kmeans(embs, "vec_id", "embedding", k = 8, iters = 4)
    assert(centroids.length == 8 && centroids.head.length == 64)
    val counts = assigned.groupBy("cluster").count().collect()
    assert(counts.map(_.getLong(1)).sum == embs.count())
    val q = Array.tabulate(64)(i => math.cos(i * 0.7))
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = SimilarityVariants.ivfKmeansTopK(embs, "vec_id", "embedding", q, 10, nClusters = 8, nProbe = 4)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(ivf.size == 10)
    assert(recall >= 0.3, s"ivf recall $recall too low")
  }

  test("kmeans scans the corpus once across all Lloyd iterations (cached)") {
    import spark.implicits._
    // instrument the source with an accumulator: every recomputation of a
    // row re-fires the map, so `scans == rows` ⟺ exactly one source pass
    val n = 200
    val acc = spark.sparkContext.longAccumulator("kmeans-src-rows")
    val rows = spark.sparkContext
      .parallelize(0 until n, 4)
      .map { i =>
        acc.add(1)
        (i.toLong, Seq.tabulate(8)(d => math.sin(i * 0.37 + d).toFloat))
      }
    val embs = rows.toDF("vec_id", "embedding")
    val (centroids, _) = Similarity.kmeans(embs, "vec_id", "embedding", k = 4, iters = 5)
    assert(centroids.length == 4)
    assert(acc.value == n,
      s"source rows computed ${acc.value} times for $n rows — " +
        "Lloyd iterations are re-scanning the corpus instead of the cache")
  }

  test("connected components: chains collapse to one cluster label (both paths)") {
    import spark.implicits._
    // two chains: 1-2-3-4 (via pairwise links) and 10-11; singleton 99 absent
    val pairs = Seq((2L, 1L), (3L, 2L), (4L, 3L), (11L, 10L)).toDF("a", "b")
    Seq(
      "local" -> Dedup.connectedComponents(pairs, "a", "b"),
      "distributed" -> Dedup.distributedComponents(pairs, "a", "b", maxIter = 20)
    ).foreach { case (path, comps) =>
      val labels = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Seq(1L, 2L, 3L, 4L).forall(labels(_) == 1L), path)
      assert(labels(10L) == 10L && labels(11L) == 10L, path)
    }
  }

  test("distributed connected components: still changing past maxIter throws naming maxIter") {
    import spark.implicits._
    // the chain 1-2-3-4 takes two rewiring rounds plus the stable one
    val pairs = Seq((2L, 1L), (3L, 2L), (4L, 3L)).toDF("a", "b")
    val ex = intercept[IllegalStateException](
      Dedup.distributedComponents(pairs, "a", "b", maxIter = 2))
    assert(ex.getMessage.contains("maxIter=2"), ex.getMessage)
    val labels = Dedup.distributedComponents(pairs, "a", "b", maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == (1L to 4L).map(_ -> 1L).toMap)
  }

  test("grouped percentile filter matches per-group reference nearest-rank") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = for {
      g <- Seq("a", "b", "c")
      i <- 0 until (10 + rnd.nextInt(40))
    } yield (g, rnd.nextDouble() * 1000, i)
    val df = rows.toDF("g", "v", "i")
    val got = Relational.groupedPercentileFilter(df, "g", "v", 80.0)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    // reference: per group, sort asc, threshold = value at round(.8·(n−1))
    // .toSeq first: flatMap on a Map returning pairs would rebuild a Map
    // and silently dedup by group key
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      val sorted = rs.map(_._2).sorted
      val thr = sorted(math.round(0.8 * (sorted.length - 1)).toInt)
      rs.filter(_._2 >= thr).map(r => (g, r._2))
    }.toSet
    assert(got == expected)
  }

  test("grouped percentile: bisection path ≡ window twin (ties, skew, tiny groups)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows =
      // heavy-tie group (few distinct values → deep bisection on adjacent doubles)
      (0 until 500).map(i => ("ties", (i % 3) * 10.0)) ++
        // skewed group + a singleton + a two-value group
        (0 until 800).map(_ => ("skew", math.pow(rnd.nextDouble(), 8) * 1e6)) :+
        (("one", 42.0)) :+ (("two", 1.0)) :+ (("two", 2.0))
    val df = rows.toDF("g", "v")
    val win = RelationalWindowForms.groupedPercentileFilterWindow(df, "g", "v", 80.0)
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    // exactCutoff=1 forces the bisection loop for every group ≥ 2 rows
    val bis = Relational.groupedPercentileFilter(df, "g", "v", 80.0, exactCutoff = 1L)
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(bis == win, "bisection narrowing must reproduce the window thresholds exactly")
    // default cutoff (straight exact pass) too
    val dflt = Relational.groupedPercentileFilter(df, "g", "v", 80.0)
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(dflt == win)
  }

  test("grouped percentile: many-groups guard switches to the window path, bit-identical") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // 60 groups of mixed sizes — far above a maxBisectGroups of 8, so the
    // guard must reroute to the window form instead of collecting 60 band
    // rows and looping on the driver
    val rows = for {
      g <- 0 until 60
      i <- 0 until (1 + rnd.nextInt(20))
    } yield (s"g$g", rnd.nextDouble() * 100)
    val df = rows.toDF("g", "v")
    val win = RelationalWindowForms.groupedPercentileFilterWindow(df, "g", "v", 80.0)
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    val guarded = Relational.groupedPercentileFilter(df, "g", "v", 80.0, maxBisectGroups = 8)
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(guarded == win)
    // below the cap the bisection path still runs and agrees
    val bis = Relational.groupedPercentileFilter(df, "g", "v", 80.0, maxBisectGroups = 100)
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(bis == win)
  }

  test("grouped percentile multi-rank kernel ≡ one single-rank run per " +
      "percentile (bisection, exact pass, window fallback)") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows =
      (0 until 500).map(i => ("ties", (i % 3) * 10.0)) ++
        (0 until 800).map(_ => ("skew", math.pow(rnd.nextDouble(), 8) * 1e6)) :+
        (("one", 42.0)) :+ (("two", 1.0)) :+ (("two", 2.0))
    val df = rows.toDF("g", "v")
    val pcts = Seq(10.0, 25.0, 50.0, 75.0, 90.0)
    def multiMap(exactCutoff: Long, maxBisectGroups: Int) =
      Relational.groupedPercentileThresholdsMulti(
        df, "g", "v", pcts, exactCutoff, maxBisectGroups)
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    def singleMap(p: Double, exactCutoff: Long, maxBisectGroups: Int) =
      Relational.groupedPercentileThresholds(df, "g", "v", p, exactCutoff, maxBisectGroups)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // deep-bisection regime (exactCutoff=1 forces narrowing on every band)
    val mBis = multiMap(1L, 10000)
    // default regime (straight exact pass)
    val mDflt = multiMap(262144L, 10000)
    // window-fallback regime (3 groups > maxBisectGroups=2)
    val mWin = multiMap(262144L, 2)
    for (p <- pcts) {
      val s = singleMap(p, 1L, 10000)
      for ((g, thr) <- s) {
        assert(mBis((g, p)) == thr, s"bisection multi mismatch at ($g, $p)")
        assert(mDflt((g, p)) == thr, s"default multi mismatch at ($g, $p)")
        assert(mWin((g, p)) == thr, s"window multi mismatch at ($g, $p)")
      }
      assert(mBis.keys.count(_._2 == p) == s.size)
    }
  }

  test("decontaminate: flags eval docs sharing an n-gram, counts distinct hits") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, "x alpha beta gamma y one two three z"), // 3-grams hit both train docs
      (11L, "alpha beta gamma delta"), // identical doc
      (12L, "entirely different words here")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, eval, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(10L) == 2L) // "alpha beta gamma" + "one two three"
    assert(out(11L) == 2L) // "alpha beta gamma" + "beta gamma delta"
    assert(!out.contains(12L)) // clean doc not flagged
  }

  test("bloom-semi: bloom prefilter + exact semi join ≡ plain semi join") {
    import spark.implicits._
    val facts = (1L to 2000L).map(k => (k, k % 97)).toDF("fk", "v")
    val dim = (1L to 2000L by 7).toDF("pk") // ~286 build keys
    val plain = facts.join(dim, col("fk") === col("pk"), "left_semi")
    // engine path: bloom prunes the probe side before the join; fpp only
    // lets EXTRA rows through, which the exact join then removes
    val bf = dim.stat.bloomFilter("pk", 1000L, 0.05)
    val bfB = spark.sparkContext.broadcast(bf)
    val mc = udf((k: Long) => bfB.value.mightContain(k))
    val bloomed = facts.filter(mc(col("fk"))).join(dim, col("fk") === col("pk"), "left_semi")
    assert(bloomed.collect().map(_.getLong(0)).sorted.toSeq ==
      plain.collect().map(_.getLong(0)).sorted.toSeq)
    // and the prefilter really prunes: kept rows between match count and total
    val kept = facts.filter(mc(col("fk"))).count()
    val matches = plain.count()
    assert(kept >= matches && kept < 2000)
  }

  test("cube ≡ union of the four explicit group-bys") {
    import spark.implicits._
    val df = Seq(("A", "X", 1.0), ("A", "Y", 2.0), ("B", "X", 4.0)).toDF("f", "s", "q")
    val cube = df.cube(col("f"), col("s")).agg(sum(col("q")).as("t"))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) -> r.getDouble(2)).toMap
    assert(cube((Some("A"), Some("Y"))) == 2.0)
    assert(cube((Some("A"), None)) == 3.0) // per-f subtotal
    assert(cube((None, Some("X"))) == 5.0) // per-s subtotal
    assert(cube((None, None)) == 7.0) // grand total
    assert(cube.size == 3 + 2 + 2 + 1)
  }

  test("similarity: IVF probe is a subset of brute-force ranking space") {
    val embs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = Array.tabulate(64)(i => math.sin(i + 1.0))
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10).collect()
    assert(brute.length == 10)
    // descending similarity, tie-broken by id
    val sims = brute.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    val ivf = Similarity.ivfTopK(embs, "vec_id", "embedding", q, 10, bits = 6, nProbe = 2).collect()
    assert(ivf.nonEmpty && ivf.length <= 10)
    val queries = embs.limit(3).select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val knn = Similarity.knnJoin(embs, queries, "vec_id", "embedding", "q_id", "q_vec", 5)
    val got = knn.collect()
    assert(got.length == 15) // 3 queries × 5
    // bounded-aggregator plan is row-identical to the naive window twin
    val naive = SimilarityVariants.knnJoinWindow(embs, queries, "vec_id", "embedding", "q_id", "q_vec", 5)
      .collect()
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    assert(got.map(key).sortBy(t => (t._1, t._4)).toSeq == naive.map(key).sortBy(t => (t._1, t._4)).toSeq)
  }

  test("knnJoin: buffer stays bounded and ranks are dense per query") {
    val embs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = embs.limit(2).select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // k larger than any single partition's candidate count still yields exact global top-k
    val knn = Similarity.knnJoin(embs.repartition(8), queries, "vec_id", "embedding", "q_id", "q_vec", 40)
    val rows = knn.collect()
    assert(rows.length == 80)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == (1L to 40L)) // dense ranks
      val sims = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }) // monotone by rank
    }
  }

  test("TopKByScore over 3 partitions: (score desc, id asc), NaN first, " +
      "at most k, distinct drops a split duplicate but not a score tie") {
    import spark.implicits._
    // one group in three slices; (0.5, 7) sits in slices 0 and 2, so the
    // distinct check must hold across the partial → final merge
    val rows = Seq(
      (0.5, 7L), (0.9, 3L), (Double.NaN, 9L),
      (0.9, 1L), (0.2, 4L), (Double.NegativeInfinity, 2L),
      (0.5, 7L), (0.5, 6L), (1.0, 8L))
    val df = spark.sparkContext.parallelize(rows, 3).toDF("score", "id")
    assert(df.rdd.getNumPartitions == 3)
    def top(f: org.apache.spark.sql.expressions.UserDefinedFunction): Seq[(Double, Long)] =
      df.groupBy(lit(1)).agg(f(col("score"), col("id")).as("t")).select("t")
        .head().getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getDouble(0), r.getLong(1)))
    def ids(s: Seq[(Double, Long)]) = s.map(_._2)
    assert(top(udaf(new TopKByScore(7))).head._1.isNaN)
    assert(ids(top(udaf(new TopKByScore(7)))) == Seq(9L, 8L, 1L, 3L, 6L, 7L, 7L))
    assert(ids(top(udaf(new TopKByScore(20)))) == Seq(9L, 8L, 1L, 3L, 6L, 7L, 7L, 4L, 2L))
    assert(ids(top(udaf(new TopKByScore(2)))) == Seq(9L, 8L))
    val distinct7 = top(udaf(new TopKByScore(7, distinct = true)))
    assert(ids(distinct7) == Seq(9L, 8L, 1L, 3L, 6L, 7L, 4L))
    assert(distinct7.count(_ == ((0.5, 7L))) == 1)
    assert(ids(top(udaf(new TopKByScore(20, distinct = true)))) ==
      Seq(9L, 8L, 1L, 3L, 6L, 7L, 4L, 2L))
  }

  test("TopKByScore distinct collapses a NaN-scored duplicate to one entry") {
    import spark.implicits._
    // slice 0 holds (NaN, 7) twice (the reduce path), slice 1 once more
    // (the merge path); NaN is never == NaN, so equality must compare bits
    val rows = Seq((Double.NaN, 7L), (Double.NaN, 7L), (0.5, 3L), (Double.NaN, 7L))
    val df = spark.sparkContext.parallelize(rows, 2).toDF("score", "id")
    val topK = udaf(new TopKByScore(3, distinct = true))
    val top = df.groupBy(lit(1)).agg(topK(col("score"), col("id")).as("t"))
      .select("t").head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(top.map(_._2) == Seq(7L, 3L), top)
    assert(top.head._1.isNaN)
  }

  test("mutualKnn: reciprocal pairs only, no self-match, symmetric sim, " +
      "hub's one-way neighbour excluded") {
    import spark.implicits._
    // two tight clusters {1,2} and {3,4}; 5 points between them — its
    // nearest is in a cluster, but no cluster point reciprocates at k=1.
    // nCells = 1: the candidate graph is complete, semantics = global
    val embs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(2.0f, 0.2f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.2f, 2.0f)),
      (5L, Array(1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val k1 = Similarity.mutualKnn(embs, "vec_id", "embedding", k = 1,
        nCells = 1, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(k1 == Set((1L, 2L), (3L, 4L)))
    // at k = 4 (all others) every pair is mutual: C(5,2) = 10 rows,
    // and sim/ranks are consistent with the directed lists
    val k4 = Similarity.mutualKnn(embs, "vec_id", "embedding", k = 4,
        nCells = 1, nProbe = 1)
      .collect()
    assert(k4.length == 10)
    k4.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(3) >= 1L && r.getLong(3) <= 4L)
      assert(r.getLong(4) >= 1L && r.getLong(4) <= 4L)
    }
  }

  test("mutualKnn: nCells = 1 reproduces the brute twin exactly; " +
      "multi-probe bucketing matches it on the gate corpus") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))
    val brute = SimilarityVariants.mutualKnnBrute(embs, "vec_id", "embedding", k = 3)
      .collect().map(key).toSet
    val one = Similarity.mutualKnn(embs, "vec_id", "embedding", k = 3,
      nCells = 1, nProbe = 1).collect().map(key).toSet
    assert(one == brute, "nCells = 1 must be the brute form bit-for-bit")
    // bucketed pairs are a SUBSET of candidate-restricted truth: every
    // emitted pair must be a genuinely reciprocal pair at some rank in
    // the brute directed lists is NOT guaranteed (candidate sets shrink
    // ranks), but symmetry and the (a < b) contract always hold
    val bucketed = Similarity.mutualKnn(embs, "vec_id", "embedding", k = 3,
      nCells = 8, nProbe = 2).collect()
    bucketed.foreach(r => assert(r.getLong(0) < r.getLong(1)))
  }

  test("mutualKnn recall contract: a mutual pair straddling unprobed " +
      "cells is MISSED at nProbe = 1 — the documented approximation") {
    import spark.implicits._
    // seeds (3 lowest ids) define the cells; id4/id5 are colinear
    // (exact mutual 1-NN by cosine) but sit next to DIFFERENT seeds,
    // so with one probe each they never share a cell
    val embs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(100.0f, 0.0f)),
      (3L, Array(50.0f, 50.0f)),
      (4L, Array(2.0f, 0.2f)),
      (5L, Array(98.0f, 9.8f))
    ).toDF("vec_id", "embedding")
    val brute = SimilarityVariants.mutualKnnBrute(embs, "vec_id", "embedding", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute == Set((1L, 2L), (4L, 5L)))
    val bucketed = Similarity.mutualKnn(embs, "vec_id", "embedding", k = 1,
      nCells = 3, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (4, 5) straddles cells → missed; within-cell reciprocals replace it
    assert(bucketed == Set((1L, 4L), (2L, 5L)))
  }

  test("stratifiedSample: exact ceil(frac·N_g) per stratum, deterministic, a subset") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val s1 = Relational.stratifiedSample(docs, "lang", "doc_id", 0.3)
    val got = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byLang.foreach { case (lang, n) =>
      assert(got(lang) == math.ceil(0.3 * n).toLong, s"stratum $lang: ${got(lang)} of $n")
    }
    // deterministic: an independent run selects the same ids
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Relational.stratifiedSample(docs, "lang", "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // nested fractions: the 10% sample is a subset of the 30% sample
    // (same pseudo-order prefix — what makes sample sizes tunable
    // without reshuffling data between runs)
    val ids10 = Relational.stratifiedSample(docs, "lang", "doc_id", 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids10.subsetOf(ids1))
  }

  test("IVF physical layout: cell-partitioned probe prunes partitions, output ≡ ivfTopK") {
    val embs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = Array.tabulate(64)(i => math.sin(i + 1.0))
    val (bits, nProbe) = (6, 2)
    val dir = tempDir("ivfpart").toString
    SimilarityVariants.writeCellPartitioned(embs, "vec_id", "embedding", dir, bits)
    // the driver-side cell twin matches the Column expression exactly
    val spCell = embs.limit(1)
      .select(graft.functions.VectorFunctions
        .hyperplaneSignature(col("embedding"), 64, bits).as("c"), col("embedding"))
      .first()
    val localCell = SimilarityVariants.hyperplaneCellLocal(
      spCell.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray, bits)
    assert(spCell.getLong(0) == localCell)
    val pruned = SimilarityVariants.ivfTopKPruned(spark, dir, "vec_id", "embedding", q, 10, bits, nProbe)
    val plain = Similarity.ivfTopK(embs, "vec_id", "embedding", q, 10, bits, nProbe)
    assert(pruned.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      plain.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // the probe is partition PRUNING, not a post-scan filter: the IN list
    // lands in PartitionFilters and the scan touches ≤ |probe ball| dirs
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && !scan.contains("PartitionFilters: []"),
      scan.take(600))
    val ball = (0 to nProbe).map(k =>
      (0 until bits).combinations(k).size).sum // C(6,0)+C(6,1)+C(6,2) = 22
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics.get("numPartitions").map(_.value) }
      .flatten
    assert(scanned.exists(_ <= ball), s"scanned $scanned partitions, probe ball is $ball")
  }

  test("bloomFilterJoin: output == plain join; pre-filter actually cuts the left side") {
    import spark.implicits._
    val left = spark.range(10000).select($"id".as("k"), ($"id" % 97).as("v"))
    val right = spark.range(10000).filter($"id" % 100 === 0)
      .select($"id".as("k"), lit("dim").as("tag")) // 100 selective keys
    val plain = left.join(right, Seq("k")).select($"k", $"v", $"tag")
      .as[(Long, Long, String)].collect().toSet
    val bloomed = Relational.bloomFilterJoin(left, right, "k", expectedKeys = 1000L)
      .select($"k", $"v", $"tag").as[(Long, Long, String)].collect().toSet
    assert(bloomed == plain && bloomed.size == 100)
    // the bloom predicate must remove ~99% of left rows BEFORE the join
    val keyed = right.withColumn("__k", org.apache.spark.sql.functions.xxhash64($"k"))
    val bloom = keyed.stat.bloomFilter("__k", 1000L, 0.01)
    val mc = org.apache.spark.sql.functions.udf((h: Long) => bloom.mightContainLong(h))
    val surviving = left
      .filter(mc(org.apache.spark.sql.functions.xxhash64($"k"))).count()
    assert(surviving >= 100 && surviving < 400,
      s"bloom pre-filter passed $surviving of 10000 rows (want ~100 + fpp)")
    // semantics guard: outer joins would resurrect bloom-dropped rows
    intercept[IllegalArgumentException](
      Relational.bloomFilterJoin(left, right, "k", 1000L, joinType = "left_outer"))
  }
  test("prefix-filtered similarity join: recall 1.0 vs brute force, exact scores") {
    import spark.implicits._
    // templated corpus with shuffled word orders, near-dups at several
    // similarities, exact dups, and unrelated docs
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "epsilon delta gamma beta alpha"), // same set, different order -> J=1
      (3L, "alpha beta gamma delta zeta"), // 4/6 vs doc 1
      (4L, "alpha beta gamma delta epsilon zeta"), // 5/6 vs doc 1
      (5L, "totally unrelated words here now"),
      (6L, "alpha alpha beta beta gamma gamma delta delta epsilon"), // dup words -> same SET as 1
      (7L, "one two three"),
      (8L, "one two three four five six seven eight nine ten"),
      (9L, "")
    ).toDF("doc_id", "text")
    def brute(tau: Double): Set[(Long, Long, Double)] = {
      val w = docs.select($"doc_id",
        array_distinct(split(lower(trim($"text")), "\\s+")).as("ws"))
      w.as("a").join(w.as("b"), $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"),
          (size(array_intersect($"a.ws", $"b.ws")).cast("double") /
            (size($"a.ws") + size($"b.ws") -
              size(array_intersect($"a.ws", $"b.ws"))).cast("double")).as("j"))
        .filter($"j" >= tau)
        .select($"a_id", $"b_id", round($"j", 6).as("j"))
        .as[(Long, Long, Double)].collect().toSet
    }
    // both candidate strategies must equal brute force: the default cap
    // picks the pigeonhole path on this corpus (small nmax), and
    // partitionCap = 0 forces the prefix-filter path on the SAME inputs
    // — including the duplicate-set {1,2,6} clique the dictionary
    // collapse folds
    for (tau <- Seq(0.5, 0.66, 0.8, 1.0); cap <- Seq(16, 0)) {
      val got = Dedup.prefixFilterJoin(docs, "doc_id", "text", tau, partitionCap = cap)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == brute(tau), s"tau=$tau cap=$cap")
    }
    // hand-checkable: at tau = 0.8 the {1,2,6} clique is mutual J=1 and
    // doc 4 reaches each at 5/6
    val at08 = Dedup.prefixFilterJoin(docs, "doc_id", "text", 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(at08.contains((1L, 2L, 1.0)) && at08.contains((1L, 6L, 1.0)) &&
      at08.contains((2L, 6L, 1.0)))
    assert(at08.contains((1L, 4L, 0.833333)) && at08.contains((2L, 4L, 0.833333)))
    assert(!at08.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("containment join: recall 1.0 vs brute force, directional, quote detection") {
    import spark.implicits._
    // doc 2 quotes doc 1's middle; doc 3 = doc 1 reworded tail; doc 4
    // is doc 1 verbatim (identical shingle set); doc 5 unrelated;
    // doc 6 too short for a 3-gram; doc 7 contains doc 2 entirely
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "brown fox jumps over the lazy"),
      (3L, "the quick brown fox jumps over a sleepy cat instead"),
      (4L, "the quick brown fox jumps over the lazy dog tonight"),
      (5L, "completely different words appear in this one document"),
      (6L, "too short"),
      (7L, "she said brown fox jumps over the lazy and left")
    ).toDF("doc_id", "text")
    def shingles(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", split(lower(trim($"text")), "\\s+").as("t"))
      .filter(size($"t") >= 3) // BEFORE the transform: ANSI element_at throws past the end
      .select($"doc_id",
        array_distinct(transform(
          sequence(lit(1), size($"t") - 2),
          i => concat_ws(" ",
            element_at($"t", i), element_at($"t", i + 1),
            element_at($"t", i + 2)))).as("ws"))
    def brute(tau: Double): Set[(Long, Long, Double)] = {
      val w = shingles(docs)
      w.as("a").join(w.as("b"), $"a.doc_id" =!= $"b.doc_id")
        .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"),
          size(array_intersect($"a.ws", $"b.ws")).as("c"), size($"a.ws").as("na"))
        .filter($"c" * 1000 >= lit((tau * 1000).toInt) * $"na")
        .select($"a_id", $"b_id",
          round($"c".cast("double") / $"na".cast("double"), 6).as("cont"))
        .as[(Long, Long, Double)].collect().toSet
    }
    for (tau <- Seq(0.5, 0.75, 0.9, 1.0)) {
      val got = Dedup.containmentJoin(docs, "doc_id", "text", tau)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == brute(tau), s"tau=$tau")
    }
    val at09 = Dedup.containmentJoin(docs, "doc_id", "text", 0.9)
      .as[(Long, Long, Double)].collect().toSet
    // quotes contain forward, not backward: 2 -> 1 yes, 1 -> 2 no
    assert(at09.contains((2L, 1L, 1.0)) && !at09.exists(p => p._1 == 1L && p._2 == 2L))
    // the quote also sits inside doc 7; identical docs contain BOTH ways
    assert(at09.contains((2L, 7L, 1.0)))
    assert(at09.contains((1L, 4L, 1.0)) && at09.contains((4L, 1L, 1.0)))
    // short and unrelated docs never appear
    assert(!at09.exists(p => p._1 == 6L || p._2 == 6L || p._1 == 5L || p._2 == 5L))
  }

  test("drift report: hand-computed PSI, missing keys report null, identical slices = 0") {
    import spark.implicits._
    val a = (Seq.fill(80)("x") ++ Seq.fill(20)("y")).toDF("k")
    val b = (Seq.fill(60)("x") ++ Seq.fill(30)("y") ++ Seq.fill(10)("z")).toDF("k")
    val out = Profiling.driftReport(a, b, "k").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    // x: p=.8 q=.6 -> .2*ln(4/3); y: p=.2 q=.3 -> -.1*ln(2/3)
    assert(out("x")._3.get == math.rint((0.8 - 0.6) * math.log(0.8 / 0.6) * 1e6) / 1e6)
    assert(out("y")._3.get == math.rint((0.2 - 0.3) * math.log(0.2 / 0.3) * 1e6) / 1e6)
    // z exists only in b: counts kept, psi undefined -> null
    assert(out("z")._1 == 0L && out("z")._2 == 10L && out("z")._3.isEmpty)
    // identical slices: psi exactly 0 for every key
    val same = Profiling.driftReport(a, a, "k").collect()
    assert(same.forall(_.getDouble(5) == 0.0))
    // a NULL category present in both slices is ONE compared row (the
    // join is null-safe), not two half-rows each seeing the other as 0
    val an = (Seq.fill(50)(Some("x")) ++ Seq.fill(50)(Option.empty[String])).toDF("k")
    val bn = (Seq.fill(75)(Some("x")) ++ Seq.fill(25)(Option.empty[String])).toDF("k")
    val nullRows = Profiling.driftReport(an, bn, "k").collect().filter(_.isNullAt(0))
    assert(nullRows.length == 1)
    val nr = nullRows.head
    assert(nr.getLong(1) == 50L && nr.getLong(2) == 25L)
    assert(nr.getDouble(5) ==
      math.rint((0.5 - 0.25) * math.log(0.5 / 0.25) * 1e6) / 1e6)
  }

  test("embeddingDrift: per-dimension mean shift from exact micro sums, " +
      "ranked (drift desc, dim asc), topK cut, negative half-up rounding") {
    import spark.implicits._
    val a = Seq(Seq(1.0f, 2.0f), Seq(3.0f, 2.0f)).toDF("embedding")
    val b = Seq(Seq(1.0f, 5.0f)).toDF("embedding")
    val out = Profiling.embeddingDrift(a, b, "embedding", topK = 2).collect()
    // dim1 drifts 3.0 (2 → 5), dim0 drifts 1.0 (2 → 1)
    assert(out.map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2),
      r.getDouble(3))).toSeq ==
      Seq((1, 2.0, 5.0, 3.0), (0, 2.0, 1.0, 1.0)))
    // topK cuts: asking for 1 keeps only the biggest mover
    assert(Profiling.embeddingDrift(a, b, "embedding", topK = 1)
      .collect().head.getInt(0) == 1)
    // negative components micro-quantize half-up toward +inf on both
    // sides of the subtraction (floor(v·1e6 + 0.5))
    val n1 = Seq(Seq(-1.5f)).toDF("embedding")
    val n2 = Seq(Seq(-2.5f)).toDF("embedding")
    val nd = Profiling.embeddingDrift(n1, n2, "embedding", topK = 1).collect().head
    assert(nd.getDouble(1) == -1.5 && nd.getDouble(2) == -2.5 && nd.getDouble(3) == 1.0)
  }

  test("benford: integer digit extraction (fractions, abs, zero/null " +
      "drop), hand-computed chi-square, literal probabilities") {
    import spark.implicits._
    val df = Seq(
      // digits: 1.0 -> 1, 19.0 -> 1, 2.0 -> 2, 0.5 -> 5 (500000),
      // -3.0 -> 3 (abs); 0.0 and null drop (no leading digit)
      ("k", Option(1.0)), ("k", Option(19.0)), ("k", Option(2.0)),
      ("k", Option(0.5)), ("k", Option(-3.0)), ("k", Option(0.0)),
      ("k", None)
    ).toDF("g", "v")
    val r = Profiling.benford(df, "g", "v").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) == 5L) // n_values
    val counts = (2 to 10).map(row.getLong) // d1..d9
    assert(counts == Seq(2L, 1L, 1L, 0L, 1L, 0L, 0L, 0L, 0L))
    // chi-square over the exact literal p_d, left-associated
    val p = Seq(0.3010299956639812, 0.17609125905568124,
      0.12493873660829992, 0.09691001300805642, 0.07918124604762482,
      0.06694678963061322, 0.05799194697768673, 0.05115252244738129,
      0.04575749056067514)
    var chi = 0.0
    for (d <- 0 until 9) {
      val e = 5.0 * p(d)
      val diff = counts(d).toDouble - e
      chi = chi + diff * diff / e
    }
    assert(row.getDouble(11) == math.rint(chi * 1e6) / 1e6)
    assert(row.getDouble(11) == 2.919952)
    assert(row.getLong(12) == 1L) // 2.92 <= 15.507313
    // a digit-1-only column is maximally non-Benford at modest n:
    // chi2 = n * ((1-p1)^2/p1 + sum_{d>=2} p_d) > 15.507 for n = 8
    val skew = (1 to 8).map(i => ("s", Option(1.0 + i * 0.01))).toDF("g", "v")
    val sr = Profiling.benford(skew, "g", "v").collect().head
    assert(sr.getLong(12) == 0L)
  }

  test("ab test: hand-computed pooled z both signs, significance flag, " +
      "degenerate pool reports zero") {
    import spark.implicits._
    // arm A (even id): outcomes [x, x, y]; arm B: [x, y, y]
    val df = Seq((0L, "x"), (2L, "x"), (4L, "y"),
      (1L, "x"), (3L, "y"), (5L, "y")).toDF("id", "o")
    val out = Profiling.abTest(df, col("id") % 2 === 0, "o").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7), r.getLong(8)))).toMap
    // x: pa=2/3 pb=1/3 pool=.5 -> z = (1/3)/sqrt(.25*(2/3)) = 0.816497
    assert(out("x") == ((3L, 2L, 3L, 1L, 0.666667, 0.333333, 0.816497, 0L)))
    assert(out("y") == ((3L, 1L, 3L, 2L, 0.333333, 0.666667, -0.816497, 0L)))
    // 90/100 vs 50/100 -> z = 0.4/sqrt(0.21*0.02) = 6.172134, significant
    val big = ((1 to 90).map(i => (i * 2L, "w")) ++
      (1 to 10).map(i => (200L + i * 2L, "l")) ++
      (1 to 50).map(i => (i * 2L + 1L, "w")) ++
      (1 to 50).map(i => (400L + i * 2L + 1L, "l"))).toDF("id", "o")
    val bw = Profiling.abTest(big, col("id") % 2 === 0, "o").collect()
      .map(r => r.getString(0) -> ((r.getDouble(7), r.getLong(8)))).toMap
    assert(bw("w") == ((6.172134, 1L)))
    // every row the same outcome: pool = 1, zero variance -> z 0, flag 0
    val degen = Seq((0L, "only"), (1L, "only")).toDF("id", "o")
    val dr = Profiling.abTest(degen, col("id") % 2 === 0, "o").collect().head
    assert(dr.getDouble(7) == 0.0 && dr.getLong(8) == 0L)
  }

  test("mmr: diversity beats redundancy at low lambda, relevance tie " +
      "breaks to smallest id, dyadic guard") {
    import spark.implicits._
    // probe [1,0]: a,b point along it (rel 1), c diagonal (rel
    // 0.707107), d orthogonal (rel 0). Plain top-3 = {a,b,c}; at
    // lambda 0.25 MMR picks a (tie -> smallest id), then d (orthogonal
    // beats the near-duplicate b), then c.
    val embs = Seq(
      (1L, Array(2f, 0f)), (2L, Array(4f, 0f)),
      (3L, Array(1f, 1f)), (4L, Array(0f, 3f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(embs, "vec_id", "embedding",
        Array(1.0, 0.0), poolK = 4, k = 3, lambda = 0.25)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // step-3 score: 0.25*0.707107 - 0.75*0.707107 lands one ulp above
    // -0.3535535 in IEEE, so 6-dp HALF_UP gives -0.353553
    assert(out.toSeq == Seq(
      (1, 1L, 0.25),
      (2, 4L, 0.0),
      (3, 3L, -0.353553)))
    // pool smaller than k is rejected; non-dyadic lambda is rejected
    intercept[IllegalArgumentException](Similarity.mmrRerank(
      embs, "vec_id", "embedding", Array(1.0, 0.0), 2, 3, 0.5))
    intercept[IllegalArgumentException](Similarity.mmrRerank(
      embs, "vec_id", "embedding", Array(1.0, 0.0), 4, 3, 0.3))
    // at lambda = 1 MMR IS plain top-k (scores = rel, same order)
    val pure = Similarity.mmrRerank(embs, "vec_id", "embedding",
        Array(1.0, 0.0), poolK = 4, k = 3, lambda = 1.0)
      .collect().map(r => r.getLong(1)).toSeq
    assert(pure == Seq(1L, 2L, 3L))
  }

  test("calibration: hand-computed bins and ECE, conf=1.0 clamps into " +
      "the top bin, null conf drops") {
    import spark.implicits._
    val df = Seq(
      // bin 0: conf .2 (hit), .4 (miss) -> avg_conf .3, acc .5
      (Option(0.2), true), (Option(0.4), false),
      // bin 1: .5 (hit), 1.0 (hit, clamped), .8 (miss)
      (Option(0.5), true), (Option(1.0), true), (Option(0.8), false),
      (None, true)
    ).toDF("c", "y")
    val out = Profiling.calibration(df, col("c"), col("y"), bins = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5)))).toMap
    // ECE = (2/5)*|.5-.3| + (3/5)*|2/3 - 2.3/3| = 0.14
    assert(out(0L) == ((2L, 0.3, 0.5, 5L, 0.14)))
    assert(out(1L) == ((3L, 0.766667, 0.666667, 5L, 0.14)))
    intercept[IllegalArgumentException](
      Profiling.calibration(df, col("c"), col("y"), bins = 1))
  }

  test("ndcg: hand-computed graded gains, ideal from the whole corpus, " +
      "k guard") {
    import spark.implicits._
    // probe [1,0]: ranking = id1 (rel 0), id2 (rel 3); the corpus
    // ideal top-2 is (5, 3) — id3's rel 5 is OUT of the ranking but IN
    // the ideal, which is what normalizes a bad ranking down
    val embs = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(1f, 1f), 3), (3L, Array(0f, 1f), 5)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.ndcgAtK(embs, "vec_id", "embedding", "label",
      Array(1.0, 0.0), k = 2).collect().head
    assert(r.getDouble(0) == 1.892789) // 0*1 + 3*w2
    assert(r.getDouble(1) == 6.892789) // 5*1 + 3*w2
    assert(r.getDouble(2) == 0.274604)
    intercept[IllegalArgumentException](Similarity.ndcgAtK(
      embs, "vec_id", "embedding", "label", Array(1.0, 0.0), k = 11))
  }

  test("chi-square independence: hand 2x2 with a zero-densified cell, " +
      "Cramér's V") {
    import spark.implicits._
    // counts: (x,0)=10 (x,1)=20 (y,0)=30; (y,1) ABSENT -> must enter
    // as o=0 with e=10 (skipping it would understate chi2 by 10)
    val df = (Seq.fill(10)(("x", 0L)) ++ Seq.fill(20)(("x", 1L)) ++
      Seq.fill(30)(("y", 0L))).toDF("a", "b")
    val r = Profiling.chiSquareIndependence(df, col("a"), col("b"))
      .collect().head
    // e = 20/10/20/10 -> chi = 5 + 10 + 5 + 10 = 30; V = sqrt(30/60)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((60L, 2L, 2L, 1L)))
    assert(r.getDouble(4) == 30.0)
    assert(r.getDouble(5) == 0.707107)
  }

  test("good-turing: hand frequency-of-frequencies, empty tokens drop") {
    import spark.implicits._
    // tokens: a:2 b:2 c:3 d:1 -> vocab 4, N 8, N1 1, N2 2
    val docs = Seq("a b  b c c c", " a d ", "").toDF("text")
    val r = TextAnalysis.goodTuring(docs, "text").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 8L, 1L, 2L)))
    assert(r.getDouble(4) == 0.125) // unseen mass N1/N
    assert(r.getDouble(5) == 4.0) // c1* = 2*N2/N1
  }

  test("ks test: hand ECDF supremum, tie group carries boundary counts, " +
      "identical arms give zero") {
    import spark.implicits._
    // A = [1,2,3], B = [3,4,5]: sup gap 2/3 at v in [2,3)
    val df = Seq(("k", 1.0, 0L), ("k", 2.0, 2L), ("k", 3.0, 4L),
      ("k", 3.0, 1L), ("k", 4.0, 3L), ("k", 5.0, 5L)).toDF("g", "v", "id")
    val r = Profiling.ksTest(df, "g", "v", col("id") % 2 === 0)
      .collect().head
    assert((r.getLong(1), r.getLong(2)) == ((3L, 3L)))
    assert(r.getDouble(3) == 0.666667)
    assert(r.getDouble(4) == 0.816497 && r.getLong(5) == 0L)
    // ties across arms: A = [1,1], B = [1,2] -> F_a(1)=1, F_b(1)=.5,
    // D = .5 — every row of the q=1 tie group must see the full
    // boundary counts (RANGE frame), else intra-tie order would leak
    val t2 = Seq(("k", 1.0, 0L), ("k", 1.0, 2L), ("k", 1.0, 1L),
      ("k", 2.0, 3L)).toDF("g", "v", "id")
    val r2 = Profiling.ksTest(t2, "g", "v", col("id") % 2 === 0)
      .collect().head
    assert(r2.getDouble(3) == 0.5)
    // identical arms: D = 0, not significant
    val same = Seq(("k", 1.0, 0L), ("k", 2.0, 2L), ("k", 1.0, 1L),
      ("k", 2.0, 3L)).toDF("g", "v", "id")
    val r3 = Profiling.ksTest(same, "g", "v", col("id") % 2 === 0)
      .collect().head
    assert(r3.getDouble(3) == 0.0 && r3.getLong(5) == 0L)
  }

  test("mann-whitney: hand U and z, midranks exact on cross-arm ties, " +
      "all-tied arms degenerate to zero") {
    import spark.implicits._
    // A = [1,3], B = [2,4]: R1 = 4, U = 1, z = -1/sqrt(5/3) = -0.774597
    val df = Seq(("k", 1.0, 0L), ("k", 3.0, 2L), ("k", 2.0, 1L),
      ("k", 4.0, 3L)).toDF("g", "v", "id")
    val r = Profiling.mannWhitney(df, "g", "v", col("id") % 2 === 0)
      .collect().head
    assert((r.getLong(1), r.getLong(2)) == ((2L, 2L)))
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == -0.774597)
    // cross-arm tie at 2: midrank 2.5 -> U = 0.5; tie-corrected
    // variance (t^3 - t = 6) gives sigma^2 = 1.5 -> z = -1.224745
    val t2 = Seq(("k", 1.0, 0L), ("k", 2.0, 2L), ("k", 2.0, 1L),
      ("k", 3.0, 3L)).toDF("g", "v", "id")
    val r2 = Profiling.mannWhitney(t2, "g", "v", col("id") % 2 === 0)
      .collect().head
    assert(r2.getDouble(3) == 0.5 && r2.getDouble(4) == -1.224745)
    // every value identical: zero variance -> z 0, flag 0
    val same = Seq(("k", 5.0, 0L), ("k", 5.0, 2L), ("k", 5.0, 1L),
      ("k", 5.0, 3L)).toDF("g", "v", "id")
    val r3 = Profiling.mannWhitney(same, "g", "v", col("id") % 2 === 0)
      .collect().head
    assert(r3.getDouble(4) == 0.0 && r3.getLong(5) == 0L)
  }

  test("count correlation: perfect +/-1, zero-densified absent cells, " +
      "constant category reports null") {
    import spark.implicits._
    // per-unit counts — x:[1,2,3] y:[2,4,6] z:[3,2,1] w:[2,0,0] c:[5,5,5]
    def rep(u: Long, c: String, n: Int) = Seq.fill(n)((u, c))
    val df = (rep(1, "x", 1) ++ rep(1, "y", 2) ++ rep(1, "z", 3) ++
      rep(1, "w", 2) ++ rep(1, "c", 5) ++
      rep(2, "x", 2) ++ rep(2, "y", 4) ++ rep(2, "z", 2) ++ rep(2, "c", 5) ++
      rep(3, "x", 3) ++ rep(3, "y", 6) ++ rep(3, "z", 1) ++ rep(3, "c", 5))
      .toDF("u", "cat")
    val out = Profiling.countCorrelation(df, col("u"), "cat").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3)))).toMap
    assert(out.size == 10) // all 5-choose-2 pairs, even all-null ones
    assert(out(("x", "y")) == ((3L, 1.0)))
    assert(out(("x", "z")) == ((3L, -1.0)))
    // w is ABSENT on units 2/3 — densification supplies the zeros:
    // w=[2,0,0] vs x=[1,2,3] -> r = -6/sqrt(48) = -0.866025
    assert(out(("w", "x")) == ((3L, -0.866025)))
    // constant category: zero variance -> null r
    assert(out(("c", "x")) == ((3L, null)))
  }

  test("one-way anova: textbook F, zero within-variance null F with " +
      "eta 1, single group undefined") {
    import spark.implicits._
    // groups [1,2,3] [4,5,6] [7,8,9]: SSB 54, SSW 6 -> F 27, eta .9
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0), ("b", 5.0),
      ("b", 6.0), ("c", 7.0), ("c", 8.0), ("c", 9.0)).toDF("g", "v")
    val r = Profiling.oneWayAnova(df, "g", "v").collect().head
    assert(r.getLong(0) == 9L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 2L && r.getLong(3) == 6L)
    assert(r.getDouble(4) == 54.0 && r.getDouble(5) == 6.0)
    assert(r.getDouble(6) == 27.0 && r.getDouble(7) == 0.9)
    // within-variance zero: F undefined (null), effect size 1
    val sep = Seq(("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0))
      .toDF("g", "v")
    val r2 = Profiling.oneWayAnova(sep, "g", "v").collect().head
    assert(r2.isNullAt(6) && r2.getDouble(7) == 1.0)
    // one group: no between-variance to test
    val one = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v")
    val r3 = Profiling.oneWayAnova(one, "g", "v").collect().head
    assert(r3.getLong(2) == 0L && r3.isNullAt(6))
    // empty input: no row (the oracle's WHERE k > 0 twin)
    assert(Profiling.oneWayAnova(one.filter(lit(false)), "g", "v").count() == 0L)
  }

  test("gini: 0 for uniform mass, (n-1)/n for one-holder, tie-order " +
      "invariant") {
    import spark.implicits._
    val df = Seq(
      ("u", 2.0), ("u", 2.0), ("u", 2.0), ("u", 2.0),
      ("x", 0.0), ("x", 0.0), ("x", 0.0), ("x", 10.0)
    ).toDF("k", "v")
    val got = Profiling.gini(df, "k", "v").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    assert(got("u") == ((4L, 8.0, 0.0)))
    assert(got("x") == ((4L, 10.0, 0.75)))
    // all-zero mass: undefined -> null gini
    val z = Seq(("z", 0.0), ("z", 0.0)).toDF("k", "v")
    assert(Profiling.gini(z, "k", "v").collect().head.isNullAt(3))
  }

  test("ivfPqTopK: nProbe = nCells reproduces full-corpus pqTopK; " +
      "a 2-probe search returns a k-cut from the probed cells only") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Array.tabulate(64)(i => math.sin(i * 0.3 + 2.0))
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getDouble(1))
    val full = Similarity.pqTopK(embs, "vec_id", "embedding", q, 20)
      .collect().map(key).toSeq
    val all = Similarity.ivfPqTopK(embs, "vec_id", "embedding", q, 20,
      nCells = 8, nProbe = 8).collect().map(key).toSeq
    assert(all == full, "full probe must equal the un-pruned ADC scan")
    val pruned = Similarity.ivfPqTopK(embs, "vec_id", "embedding", q, 20,
      nCells = 8, nProbe = 2).collect().map(key).toSeq
    assert(pruned.length == 20)
    // pruned results are a subset of the corpus ADC ordering restricted
    // to the probed cells: every returned adc must also appear when no
    // pruning happens at the same or worse rank
    val fullMap = Similarity.pqTopK(embs, "vec_id", "embedding", q, 500)
      .collect().map(key).toMap
    pruned.foreach { case (id, adc) => assert(fullMap.get(id).contains(adc)) }
  }

  test("focalMean: exact neighborhood means, edges use real neighbors " +
      "only") {
    import spark.implicits._
    val row = Seq((0L, 0L, 1.0f), (1L, 0L, 2.0f), (2L, 0L, 3.0f))
      .toDF("cx", "cy", "value")
    val got = Spatial.focalMean(row).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got(0L) == ((2L, 1.5)))
    assert(got(1L) == ((3L, 2.0)))
    assert(got(2L) == ((2L, 2.5)))
    val sq = Seq((0L, 0L, 1.0f), (1L, 0L, 2.0f), (0L, 1L, 3.0f), (1L, 1L, 4.0f))
      .toDF("cx", "cy", "value")
    val g2 = Spatial.focalMean(sq).collect()
    assert(g2.length == 4)
    g2.foreach(r => assert(r.getLong(2) == 4L && r.getDouble(3) == 2.5))
  }

  test("mutualInformation: 0 for independence, ln 2 with NMI 1 for a " +
      "deterministic 2x2, margins and entropies exact") {
    import spark.implicits._
    // perfectly independent 2x2 (all cells equal): every log term is ln 1
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q")).toDF("a", "b")
    val r1 = Profiling.mutualInformation(ind, col("a"), col("b")).collect().head
    assert(r1.getLong(0) == 4L && r1.getLong(1) == 2L && r1.getLong(2) == 2L)
    assert(r1.getDouble(3) == 0.0 && r1.getDouble(6) == 0.0)
    // deterministic mapping a -> b: MI = H = ln 2, NMI = 1
    val dep = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q")).toDF("a", "b")
    val r2 = Profiling.mutualInformation(dep, col("a"), col("b")).collect().head
    assert(r2.getDouble(3) == 0.693147 && r2.getDouble(4) == 0.693147)
    assert(r2.getDouble(6) == 1.0)
    // empty input: no row
    assert(Profiling.mutualInformation(
      ind.filter(lit(false)), col("a"), col("b")).count() == 0L)
  }

  test("jsDivergence: identical distributions -> 0, disjoint -> ln 2 " +
      "(norm 1), zero-count categories absorbed, empty input -> no row") {
    import spark.implicits._
    val a = Seq("x", "x", "y").toDF("c")
    // same distribution at a different total: JSD = 0
    val a2 = Seq("x", "x", "x", "x", "y", "y").toDF("c")
    val r0 = Profiling.jsDivergence(a, a2, "c").collect().head
    assert(r0.getLong(0) == 3L && r0.getLong(1) == 6L && r0.getLong(2) == 2L)
    assert(r0.getDouble(3) == 0.0 && r0.getDouble(4) == 0.0)
    // disjoint supports: JSD = ln 2 exactly, normalized 1
    val b = Seq("z", "w").toDF("c")
    val r1 = Profiling.jsDivergence(a, b, "c").collect().head
    assert(r1.getLong(2) == 4L)
    assert(r1.getDouble(3) == 0.693147 && r1.getDouble(4) == 1.0)
    // symmetric: swapping sides gives the same divergence
    val r2 = Profiling.jsDivergence(b, a, "c").collect().head
    assert(r2.getDouble(3) == r1.getDouble(3))
    // empty either side: no row (guarded by the size filter)
    assert(Profiling.jsDivergence(
      a.filter(lit(false)), a.filter(lit(false)), "c").count() == 0L)
    // ONE-side-empty: also no row (p = c/0 is a null divide, not the
    // ln 2 limit — the documented contract drops the row explicitly)
    assert(Profiling.jsDivergence(a, a.filter(lit(false)), "c").count() == 0L)
    assert(Profiling.jsDivergence(a.filter(lit(false)), a, "c").count() == 0L)
  }

  test("editDistanceJoin == brute force on a typo corpus (substitution, " +
      "insert, delete, short strings, shared long prefix, exact dups)") {
    import spark.implicits._
    val base = Seq(
      // shared-prefix family (the rare-first stress): one-sub neighbors
      "Customer#000000001", "Customer#000000002", "Customer#000000011",
      "Customer#000000100", "Customer#999999999",
      // insert/delete neighbors
      "spark", "sparks", "spak", "spork",
      // short strings (below the gram floor): pairwise distance 1
      "a", "b", "ab", "xy",
      // no neighbors at all
      "completely-different",
      // exact-dup groups (the dictionary collapse): a 3-member group
      // whose string also has cross-group dist-1 neighbors, and a
      // duplicated short string — pins dist-0 intra pairs AND that
      // cross pairs expand through BOTH member lists
      "spark", "spark", "a")
    val df = base.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    def pairSet(out: org.apache.spark.sql.DataFrame) = out
      .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSet
    val got = pairSet(Dedup.editDistanceJoin(df, "id", "s", k = 1))
    val a = df.select(col("id").as("ia"), col("s").as("sa"))
    val b = df.select(col("id").as("ib"), col("s").as("sb"))
    val brute = pairSet(a.crossJoin(b)
      .filter(col("ia") < col("ib") && levenshtein(col("sa"), col("sb")) <= 1)
      .select(col("ia").as("id_a"), col("ib").as("id_b"),
        levenshtein(col("sa"), col("sb")).cast("long").as("dist")))
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    assert(got.nonEmpty) // the corpus genuinely has close pairs
    // k = 2 widens: still equal to brute at the wider radius
    val got2 = pairSet(Dedup.editDistanceJoin(df, "id", "s", k = 2))
    val brute2 = pairSet(a.crossJoin(b)
      .filter(col("ia") < col("ib") && levenshtein(col("sa"), col("sb")) <= 2)
      .select(col("ia").as("id_a"), col("ib").as("id_b"),
        levenshtein(col("sa"), col("sb")).cast("long").as("dist")))
    assert(got2 == brute2)
    assert(got2.size > got.size)
  }

  test("keepBestNearDups: longest member survives, ties to lowest id, " +
      "singletons excluded") {
    import spark.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = t1 + " iota" // near-dup of t1, longer
    val t3 = t1 // exact dup of t1 (same length as t1 < t2)
    val docs = Seq(
      (10L, t1), (11L, t2), (12L, t3),
      (20L, "utterly unrelated content nothing shared here at all"))
      .toDF("doc_id", "text")
    val out = Dedup.keepBestNearDups(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length == 1) // the unrelated doc forms no cluster
    val (cluster, survivor, len, n) = out.head
    assert(cluster == 10L && survivor == 11L && n == 3L)
    assert(len == t2.length.toLong)
    // tie case: equal lengths -> lowest id survives
    val tie = Seq((5L, t1), (3L, t1)).toDF("doc_id", "text")
    val t = Dedup.keepBestNearDups(tie, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().head
    assert(t._2 == 3L)
  }

  test("leakageSafeSplit: near-dup clusters never straddle splits, every " +
      "doc assigned exactly once, fractions near weights, deterministic") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    // 300 distinct docs + three planted near-dup families
    val rnd = new scala.util.Random(3)
    val distinct = (100L until 400L).map(i =>
      (i, (0 until 10).map(_ => s"w${rnd.nextInt(5000)}").mkString(" ")))
    val fams = Seq(
      (1L, base), (2L, base + " iota"), (3L, base),
      (10L, "one two three four five six seven eight nine"),
      (11L, "one two three four five six seven eight nine ten"))
    val docs = (distinct ++ fams).toDF("doc_id", "text")
    val out = Dedup.leakageSafeSplit(docs, "doc_id", "text")
      .as[(Long, Long, String)].collect()
    assert(out.length == distinct.size + fams.size)
    assert(out.map(_._1).distinct.length == out.length, "a doc assigned twice")
    val splitOf = out.map(r => r._1 -> r._3).toMap
    // planted families stay together
    assert(Set(splitOf(1L), splitOf(2L), splitOf(3L)).size == 1)
    assert(splitOf(10L) == splitOf(11L))
    // fractions at cluster granularity: train should be near 80%
    val trainFrac = out.count(_._3 == "train").toDouble / out.length
    assert(trainFrac > 0.68 && trainFrac < 0.92, s"train fraction $trainFrac")
    assert(out.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
    // deterministic under repartitioning
    val again = Dedup.leakageSafeSplit(docs.repartition(7), "doc_id", "text")
      .as[(Long, Long, String)].collect().toSet
    assert(again == out.toSet)
  }

  test("leakageSafeSplit: null-id docs are dropped, not silently routed " +
      "into the last split") {
    import spark.implicits._
    val docs = Seq[(java.lang.Long, String)](
      (1L, "alpha beta gamma delta"),
      (null, "contaminant text that must not land in test"),
      (2L, "one two three four")).toDF("doc_id", "text")
    val out = Dedup.leakageSafeSplit(docs, "doc_id", "text").collect()
    assert(out.length == 2, "null-id doc must be dropped")
    assert(out.forall(!_.isNullAt(0)))
  }

  test("otsuThreshold: bimodal image splits at the lowest maximizing t, " +
      "constant and undecodable images emit no row") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    import graft.multimodal.Multimodal.{Media, MediaMeta}
    val bimodal = Array.fill(8)(10) ++ Array.fill(8)(200)
    val media = Seq(
      Media(1L, MediaMeta("image", 4, 4, 0), graft.sources.Png.encodeGray(bimodal, 4, 4)),
      Media(2L, MediaMeta("image", 4, 4, 0), graft.sources.Png.encodeGray(Array.fill(16)(7), 4, 4)),
      Media(3L, MediaMeta("image", 0, 0, 0), Array[Byte](1, 2, 3))).toDS()
    val got = Multimodal.otsuThreshold(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set(1L)) // constant + corrupt emit nothing
    // every t in [10, 199] separates perfectly; lowest wins
    val (t, below, v) = got(1L)
    assert(t == 10L && below == 8L)
    // hand: n=16, s0=80, sall=1680 -> num = 80*8 - 1600*8; v = num^2/64
    assert(v == ((80.0 * 8 - 1600.0 * 8) * (80.0 * 8 - 1600.0 * 8)) / 64.0)
  }

  test("qualityReport: null rule results count as FAIL, one row per " +
      "rule, empty input reports null rate") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)](
      (1L, "ok"), (2L, null), (null, "ok")).toDF("v", "s")
    val got = Profiling.qualityReport(df, Seq(
      "v_positive" -> (col("v") > 0), // null v -> null cond -> FAIL
      "s_present" -> col("s").isNotNull))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("v_positive") == ((3L, 2L, math.rint(2.0 / 3.0 * 1e6) / 1e6)))
    assert(got("s_present") == ((3L, 2L, math.rint(2.0 / 3.0 * 1e6) / 1e6)))
    val empty = Profiling.qualityReport(df.filter(lit(false)),
      Seq("any" -> lit(true))).collect().head
    assert(empty.getLong(1) == 0L && empty.getLong(2) == 0L && empty.isNullAt(3))
  }

  test("robustSummary: nearest-rank selections by hand — median, " +
      "quartiles, IQR and MAD are actual data values") {
    import spark.implicits._
    // k=a: 1..9 -> p25 rank round(.25*8)=2 -> 3; med 5; p75 rank 6 -> 7
    // MAD: |x-5| = 0,1,1,2,2,3,3,4,4 sorted -> rank 4 -> 2
    val df = (1L to 9L).map(v => ("a", v)).toDF("k", "v")
    val r = Relational.robustSummary(df, "k", "v").collect().head
    assert(r.getLong(1) == 9L)
    assert(r.getDouble(2) == 3.0 && r.getDouble(3) == 5.0 && r.getDouble(4) == 7.0)
    assert(r.getDouble(5) == 4.0) // IQR
    assert(r.getDouble(6) == 2.0) // MAD
  }

  test("winsorize: clamps both tails to nearest-rank thresholds, keeps " +
      "row count, bisection == window-threshold form") {
    import spark.implicits._
    val df = ((1L to 9L).map(v => ("a", v * 10L)) ++
      Seq(("a", 1000L), ("b", 5L), ("b", 6L), ("b", 7L))).toDF("k", "v")
    val out = Relational.winsorize(df, "k", "v", 10.0, 90.0)
    assert(out.count() == df.count())
    val aRows = out.filter(col("k") === "a")
      .select(col("v"), col("__w"), col("__clip")).collect()
    // group a: n=10, lo rank round(.1*9)=1 -> 20, hi rank round(.9*9)=8 -> 90
    val byV = aRows.map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(byV(10L) == ((20.0, -1L))) // below lo -> clamped up
    assert(byV(1000L) == ((90.0, 1L))) // above hi -> clamped down
    assert(byV(50L) == ((50.0, 0L)))
    // window-threshold twin agrees on both tails
    val loB = Relational.groupedPercentileThresholds(df, "k", "v", 10.0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val loW = RelationalWindowForms.groupedPercentileThresholdsWindow(df, "k", "v", 10.0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(loB == loW)
  }

  test("winnowingNearDup: planted overlap detected, disjoint docs silent, " +
    "stop-fingerprint cap prunes boilerplate pairs") {
    import spark.implicits._
    val run = (1 to 30).map(i => s"s$i").mkString(" ") // 30 shared words
    def noise(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, noise("a") + " " + run),
      (2L, run + " " + noise("b")),
      (3L, noise("c")), // disjoint
      (4L, noise("d"))).toDF("doc_id", "text")
    val got = Dedup.winnowingNearDup(docs, "doc_id", "text", minShared = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the 30-word overlap guarantees shared fingerprints for (1,2) and
    // nothing else
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L)) >= 1L)
    // jaccard in (0, 1] and sizes positive
    val row = Dedup.winnowingNearDup(docs, "doc_id", "text", minShared = 1)
      .collect().head
    assert(row.getLong(3) > 0 && row.getLong(4) > 0)
    assert(row.getDouble(5) > 0.0 && row.getDouble(5) <= 1.0)
    // boilerplate cap: the shared run winnows into every doc carrying
    // it; capping fingerprint doc-frequency at 1 removes those buckets
    assert(Dedup.winnowingNearDup(docs, "doc_id", "text",
      minShared = 1, maxDocsPerFingerprint = 1).count() == 0)
  }

  test("srmCheck: hand chi-square on a 60/40 split, zero-obs arm carries " +
    "full mass, unexpected arms ignored") {
    import spark.implicits._
    val df = (Seq.fill(60)("t") ++ Seq.fill(40)("c") ++ Seq.fill(7)("x"))
      .toDF("arm")
    val got = Profiling.srmCheck(df, "arm", Seq("t" -> 0.5, "c" -> 0.5))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // n = 100 (the 'x' rows are not expected arms): e = 50 each,
    // contrib = 100/50 = 2.0 each -> chi2 = 4 at 1 dof
    assert(got("t") == ((60L, 50.0, 2.0)))
    assert(got("c") == ((40L, 50.0, 2.0)))
    // an expected arm with no observations carries its full mass
    val miss = Profiling.srmCheck(
      Seq.fill(10)("t").toDF("arm"), "arm", Seq("t" -> 0.5, "c" -> 0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(miss("t") == 5.0) // (10-5)^2/5
    assert(miss("c") == 5.0) // (0-5)^2/5
    // zero observations anywhere -> null terms, not 0/0
    val none = Profiling.srmCheck(
      Seq.empty[String].toDF("arm"), "arm", Seq("t" -> 1.0)).collect()
    assert(none.length == 1 && none(0).isNullAt(3))
  }

  test("incrementalWinnowDedup: corpus hits drop, within-batch dups keep " +
    "min id, unique docs survive, empty corpus = pure batch dedup") {
    import spark.implicits._
    val r1 = (1 to 30).map(i => s"r$i").mkString(" ")
    val r2 = (1 to 30).map(i => s"s$i").mkString(" ")
    def noise(tag: String) = (1 to 20).map(i => s"$tag$i").mkString(" ")
    val corpus = Seq((100L, noise("c") + " " + r1)).toDF("doc_id", "text")
    val corpusFp = TextAnalysis.winnowingFingerprints(corpus, "doc_id", "text")
    val batch = Seq(
      (1L, r1 + " " + noise("a")), // contains the corpus run -> drops
      (2L, noise("b") + " " + r2), // near-dup pair with 3 -> kept (min id)
      (3L, r2 + " " + noise("d")), // -> dropped (component min is 2)
      (4L, noise("e"))) // unique -> survives
      .toDF("doc_id", "text")
    val kept = Dedup
      .incrementalWinnowDedup(corpusFp, batch, "doc_id", "text", minShared = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
    // empty corpus: the screen is inert, only the batch pair collapses
    val empty = corpusFp.filter(lit(false))
    val kept2 = Dedup
      .incrementalWinnowDedup(empty, batch, "doc_id", "text", minShared = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(1L, 2L, 4L))
  }

  test("prefixRerankTopK: all-candidates equals brute force; a prefix-blind " +
    "dimension is invisible to stage 1 and recovered by the rerank") {
    import spark.implicits._
    // 4-dim vectors, 2-dim prefix: ids 1/2 tie on the prefix, differ in
    // the tail; id 3 is prefix-orthogonal
    val embs = Seq(
      (1L, Seq(1.0f, 0.0f, 1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f, 1.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Array(1.0, 0.0, 1.0, 0.0)
    // wide candidate budget: the two-stage answer IS the exact answer
    val wide = Similarity
      .prefixRerankTopK(embs, "vec_id", "embedding", q, 2, 3, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(wide.toSeq == brute.toSeq)
    // full vector ranks 1 (sim 1.0) above 2 (sim 0.5); the prefix alone
    // cannot distinguish them (both 1.0) — the rerank must
    val r = Similarity.prefixRerankTopK(embs, "vec_id", "embedding", q, 2, 2, 2)
      .collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(r(0).getDouble(1) == 1.0 && r(1).getDouble(1) == 1.0) // prefix tie
    assert(r(0).getDouble(2) == 1.0 && r(1).getDouble(2) == 0.5)
  }

  test("cuped: exact theta on a linear fixture, perfect covariate kills " +
    "variance, arm imbalance corrects, constant X degenerates") {
    import spark.implicits._
    // y = 2x + arm effect, arms balanced on x -> pooled theta exactly 2
    val lin = Seq(
      ("A", 2.0, 1.0), ("A", 4.0, 2.0), ("A", 6.0, 3.0),
      ("B", 3.0, 1.0), ("B", 5.0, 2.0), ("B", 7.0, 3.0))
      .toDF("arm", "y", "x")
    val got = Profiling.cuped(lin, "arm", "y", "x").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    assert(got("A") == ((3L, 2.0, 4.0, 4.0, 2.6667, 0.0)))
    assert(got("B") == ((3L, 2.0, 5.0, 5.0, 2.6667, 0.0)))
    // imbalanced arms, y = x: the adjustment moves both arm means to
    // the same value (the covariate explains the whole gap)
    val imb = Seq(
      ("A", 0.0, 0.0), ("A", 2.0, 2.0),
      ("B", 2.0, 2.0), ("B", 4.0, 4.0)).toDF("arm", "y", "x")
    val adj = Profiling.cuped(imb, "arm", "y", "x").collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))).toMap
    assert(adj("A") == ((1.0, 1.0, 2.0)))
    assert(adj("B") == ((1.0, 3.0, 2.0)))
    // constant covariate: var(X) = 0 -> theta and adjusted columns null
    val const = Seq(("A", 1.0, 5.0), ("A", 2.0, 5.0)).toDF("arm", "y", "x")
    val c = Profiling.cuped(const, "arm", "y", "x").collect()(0)
    assert(c.isNullAt(2) && c.isNullAt(4) && c.isNullAt(6))
    assert(c.getDouble(3) == 1.5) // raw mean still reports
  }

}
