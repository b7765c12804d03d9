package graft.operators

import graft.GraftSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TemporalSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(2, "temporal-spec")

  test("as-of join: latest at-or-before, nulls before first right row") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 10L, 300L), (4L, 20L, 100L))
      .toDF("event_id", "user_id", "tus")
    val right = Seq((10L, 200L, 5.0), (10L, 205L, 7.0), (10L, 250L, 9.0))
      .toDF("user_id", "tus", "pvalue")
    val out = Temporal.asofJoin(left, right, "user_id", "tus", Seq("pvalue"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) null else r.getDouble(3)))
      .toMap
    assert(out(1L) == null) // before any purchase
    assert(out(2L) == 7.0) // equal timestamp counts (<= semantics)
    assert(out(3L) == 9.0) // latest prior wins
    assert(out(4L) == null) // other user, no right rows
  }

  test("as-of join matches a brute-force reference on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val left = (1 to 300).map(i => (i.toLong, (rnd.nextInt(5) + 1).toLong, rnd.nextInt(1000).toLong))
    val rightRaw = (1 to 150).map(i => ((rnd.nextInt(5) + 1).toLong, rnd.nextInt(1000).toLong, rnd.nextDouble()))
    // unique (key, time) on the right, as the operator contract requires
    val right = rightRaw.groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val got = Temporal
      .asofJoin(
        left.toDF("event_id", "user_id", "tus"),
        right.toDF("user_id", "tus", "pvalue"),
        "user_id", "tus", Seq("pvalue"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    left.foreach { case (id, key, t) =>
      val expected = right.filter(r => r._1 == key && r._2 <= t).sortBy(_._2).lastOption.map(_._3)
      assert(got(id) == expected, s"event $id key $key t $t")
    }
  }

  test("range join: plans as equi-join on bins, no nested loop") {
    import spark.implicits._
    val points = (1 to 1000).map(i => (i.toLong, i * 3.7)).toDF("id", "v")
    val intervals = Seq((1, 100.0, 250.0), (2, 2000.0, 2100.0)).toDF("ik", "lo", "hi")
    val joined = Relational.rangeJoin(points, intervals, "v", "lo", "hi", binSize = 100.0)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    val got = joined.groupBy("ik").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // brute-force check
    val expect = Map(
      1 -> (1 to 1000).count(i => i * 3.7 >= 100.0 && i * 3.7 <= 250.0).toLong,
      2 -> (1 to 1000).count(i => i * 3.7 >= 2000.0 && i * 3.7 <= 2100.0).toLong)
    assert(got == expect)
  }

  test("GeoJSON polygonRings decodes nested ring arrays") {
    import spark.implicits._
    val df = Seq(("Polygon", "[[[0,0],[4,0],[4,4],[0,4],[0,0]]]", Map.empty[String, String]))
      .toDF("geom_type", "coordinates_json", "properties")
    val rings = graft.sources.GeoJson.polygonRings(df).collect().head
      .getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[Double]]]]("rings")
    assert(rings.size == 1 && rings.head.size == 5)
    assert(graft.functions.GeoFunctions.pointInPolygon(2, 2, rings.map(_.map(_.toSeq).toSeq).toSeq))
  }
  test("ewma: hand-computed fold, tie order, and single-event seed") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    // user 1: 10, 20, 30 -> y1=10, y2=10*.75+20*.25=12.5, y3=12.5*.75+30*.25=16.875
    // user 2: single event seeds and stays
    // user 3: same-ts tie ordered by event_id: (40 then 0) != (0 then 40)
    val df = Seq(
      (1L, ts(1), 1L, 10.0), (1L, ts(2), 2L, 20.0), (1L, ts(3), 3L, 30.0),
      (2L, ts(5), 4L, 7.5),
      (3L, ts(9), 6L, 40.0), (3L, ts(9), 5L, 0.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val out = Temporal.ewma(df, "user_id", "ts", "event_id", "value", 0.25)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) == ((3L, 16.875)))
    assert(out(2L) == ((1L, 7.5)))
    // event 5 (value 0) seeds, then event 6: 0*.75 + 40*.25 = 10
    assert(out(3L) == ((2L, 10.0)))
    // a NaN INPUT poisons the series like any float aggregate (the fold
    // seeds on a (seen, acc) struct, not a NaN sentinel — a mid-stream
    // NaN must NOT silently re-seed the accumulator on the next element)
    val withNan = Seq(
      (4L, ts(1), 1L, 10.0), (4L, ts(2), 2L, Double.NaN), (4L, ts(3), 3L, 50.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val nanOut = Temporal.ewma(withNan, "user_id", "ts", "event_id", "value", 0.25)
      .as[(Long, Long, Double)].collect().head
    assert(nanOut._2 == 3L && nanOut._3.isNaN)
    // a null VALUE is kept, not dropped: it still counts in n_events,
    // and the fold's arithmetic carries the null through to the result
    val withNull = Seq(
      (5L, ts(1), 1L, Option(10.0)), (5L, ts(2), 2L, Option.empty[Double]),
      (5L, ts(3), 3L, Option(50.0))
    ).toDF("user_id", "ts", "event_id", "value")
    val nullOut = Temporal.ewma(withNull, "user_id", "ts", "event_id", "value", 0.25)
      .collect().head
    assert(nullOut.getLong(1) == 3L && nullOut.isNullAt(2))
  }

  test("funnel: strictly-after chaining, stalls propagate, same-instant never counts") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val ev = Seq(
      // u1 completes in order
      (1L, ts(10), "view"), (1L, ts(20), "click"), (1L, ts(30), "purchase"),
      // u2: purchase BEFORE the click — stage 2, not 3
      (2L, ts(10), "view"), (2L, ts(30), "click"), (2L, ts(20), "purchase"),
      // u3: click at the SAME instant as the view — strictly-after fails
      (3L, ts(10), "view"), (3L, ts(10), "click"),
      // u4: never views — stage 0 even with later steps present
      (4L, ts(5), "click"), (4L, ts(6), "purchase"),
      // u5: the EARLIEST qualifying step wins (view at 10, not 50)
      (5L, ts(50), "view"), (5L, ts(10), "view"), (5L, ts(20), "click")
    ).toDF("user_id", "ts", "event_type")
    val out = Temporal.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(out == Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 0, 5L -> 2))
    val u1 = Temporal.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
      .filter($"user_id" === 1L).collect().head
    assert(u1.getLong(1) == 10000000L && u1.getLong(2) == 20000000L &&
      u1.getLong(3) == 30000000L)
  }

  test("cohort retention: first-week cohorts, offsets, no double-count within a week") {
    import spark.implicits._
    import java.sql.Timestamp
    val wk = 7L * 86400L
    def ts(week: Long, sec: Long) = new Timestamp((week * wk + sec) * 1000L)
    val ev = Seq(
      // u1 joins week 0, active weeks 0 and 2 (twice in week 2 — counted once)
      (1L, ts(0, 10)), (1L, ts(2, 10)), (1L, ts(2, 20)),
      // u2 joins week 0, active week 0 only
      (2L, ts(0, 50)),
      // u3 joins week 1, active weeks 1 and 2
      (3L, ts(1, 10)), (3L, ts(2, 10))
    ).toDF("user_id", "ts")
    val out = Temporal.cohortRetention(ev, "user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expected = Map((0L, 0L) -> 2L, (0L, 2L) -> 1L, (1L, 0L) -> 1L, (1L, 1L) -> 1L)
    assert(out == expected, s"got $out")
  }

  test("transition matrix: adjacency within key only, tie order, probabilities sum to 1") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val ev = Seq(
      // u1: a -> b -> a  => (a,b), (b,a)
      (1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"), (1L, ts(3), 3L, "a"),
      // u2: a -> c       => (a,c); u2's first event is NOT preceded by u1's last
      (2L, ts(4), 4L, "a"), (2L, ts(5), 5L, "c"),
      // u3: same-second tie — event_id orders it: a(6) -> b(7)
      (3L, ts(9), 6L, "a"), (3L, ts(9), 7L, "b")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = Temporal.transitionMatrix(ev, "user_id", "ts", "event_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      ("a", "b") -> ((2L, 0.666667)), ("a", "c") -> ((1L, 0.333333)),
      ("b", "a") -> ((1L, 1.0))))
    // per-from probabilities sum to ~1
    val sums = out.toSeq.groupBy(_._1._1).map { case (f, xs) => f -> xs.map(_._2._2).sum }
    assert(sums.values.forall(s => math.abs(s - 1.0) < 1e-5))
  }

  test("ohlc: bar edges, tie-ordered open/close, hand-computed bars") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val df = Seq(
      // bucket 0 (0..59): open=5 (t=1), close=9 (t=50), high=12 (t=30), low=2
      (1L, ts(1), 1L, 5.0), (1L, ts(30), 2L, 12.0), (1L, ts(40), 3L, 2.0),
      (1L, ts(50), 4L, 9.0),
      // bucket 1: same-second tie — event_id decides open (id 5) and close (id 6)
      (1L, ts(70), 5L, 100.0), (1L, ts(70), 6L, 200.0),
      // exact bar edge: t=120 starts bucket 2, never joins bucket 1
      (1L, ts(120), 7L, 7.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val out = Temporal.resampleOhlc(df, "user_id", "ts", "event_id", "value", 60L)
      .as[(Long, Long, Double, Double, Double, Double, Long, Double)]
      .collect().map(r => r._2 -> r).toMap
    assert(out(0L) == ((1L, 0L, 5.0, 12.0, 2.0, 9.0, 4L, 28.0)))
    assert(out(1L) == ((1L, 1L, 100.0, 200.0, 100.0, 200.0, 2L, 300.0)))
    assert(out(2L) == ((1L, 2L, 7.0, 7.0, 7.0, 7.0, 1L, 7.0)))
  }

  test("twap: holding-time weights, bucket-edge close, tie order") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val df = Seq(
      // bucket 0: v=10 holds 30 s (10..40), v=20 holds 20 s (40..60
      // edge) -> (10*30 + 20*20)/50 = 14; a plain AVG would say 15
      (1L, ts(10), 1L, 10.0), (1L, ts(40), 2L, 20.0),
      // bucket 1: same-instant tie — id 5's dt is 0, id 6 holds to the
      // edge, so the (ts, tie)-LAST value is the whole bar
      (1L, ts(70), 5L, 100.0), (1L, ts(70), 6L, 50.0),
      // bucket 2: single observation holds to the edge
      (1L, ts(130), 7L, 7.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val out = Temporal.twap(df, "user_id", "ts", "event_id", "value", 60L)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) == ((2L, 14.0)))
    assert(out(1L) == ((2L, 50.0)))
    assert(out(2L) == ((1L, 7.0)))
  }

  test("holt: hand-computed level/trend steps, single-point seed, " +
      "null exclusion, dyadic literal guard") {
    import spark.implicits._
    val df = Seq(
      // a: x = [2, 4, 8] with alpha = beta = 0.5:
      //   seed l=2 b=0; then l=3, b=0.5; then l=5.75, b=1.625
      ("a", 1L, 1L, Option(2.0)), ("a", 2L, 2L, Option(4.0)),
      ("a", 3L, 3L, Option(8.0)),
      // b: a single point is its own level, zero trend
      ("b", 1L, 4L, Option(7.0)),
      // c: the null vanishes before the fold — effective series [5, 9]
      ("c", 1L, 5L, Option(5.0)), ("c", 2L, 6L, None),
      ("c", 3L, 7L, Option(9.0))
    ).toDF("k", "t", "id", "v")
    val out = Temporal.holt(df, "k", "t", "id", "v", alpha = 0.5, beta = 0.5)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out("a") == ((3L, 5.75, 1.625, 7.375)))
    assert(out("b") == ((1L, 7.0, 0.0, 7.0)))
    assert(out("c") == ((2L, 7.0, 1.0, 8.0)))
    // non-dyadic smoothing constants are a loud error, not a
    // cross-engine 7th-decimal mismatch
    intercept[IllegalArgumentException](
      Temporal.holt(df, "k", "t", "id", "v", alpha = 0.3, beta = 0.5))
  }

  test("gap-fill: bucket-last pick, linear interpolation, maxGap break, " +
      "contiguous no-op, null drop") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val df = Seq(
      // bucket 0 (key 1): three observations — the (ts, tie)-last wins
      // (id 2 v=10 beats the same-instant id 1 v=7 and the earlier v=4)
      (1L, ts(10), 0L, Option(4.0)), (1L, ts(40), 1L, Option(7.0)),
      (1L, ts(40), 2L, Option(10.0)),
      // null value vanishes before bucketing
      (1L, ts(50), 3L, None),
      // bucket 3: gap of 3 -> buckets 1, 2 interpolate on the line
      // 10 -> 16 (12.0 and 14.0)
      (1L, ts(190), 4L, Option(16.0)),
      // bucket 4: contiguous, nothing to fill
      (1L, ts(250), 5L, Option(20.0)),
      // bucket 9: gap of 5 > maxGap 4 -> a break, no invented points
      (1L, ts(580), 6L, Option(1.0)),
      // key 2: a single observation emits itself and nothing else
      (2L, ts(70), 7L, Option(5.0))
    ).toDF("user_id", "ts", "event_id", "value")
    val out = Temporal
      .gapFill(df, "user_id", "ts", "event_id", "value",
        bucketSec = 60L, maxGapBuckets = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getInt(3))))
      .toMap
    assert(out == Map(
      (1L, 0L) -> ((10.0, 0)),
      (1L, 60L) -> ((12.0, 1)),
      (1L, 120L) -> ((14.0, 1)),
      (1L, 180L) -> ((16.0, 0)),
      (1L, 240L) -> ((20.0, 0)),
      (1L, 540L) -> ((1.0, 0)),
      (2L, 60L) -> ((5.0, 0))))
  }

  test("lttb: matches an independent reference implementation; endpoints kept; " +
      "n <= k passes through") {
    import spark.implicits._
    import java.sql.Timestamp
    // independent reference: textbook LTTB over the same quantized ints
    def refLttb(pts: Seq[(Long, Long)], k: Int): Seq[(Long, Long)] = {
      val n = pts.length
      if (n <= k) pts
      else {
        val mBk = k - 2
        val sel = scala.collection.mutable.ArrayBuffer(pts.head)
        var prev = pts.head
        val mid = pts.slice(1, n - 1) // rn 2..n-1
        def bucket(i: Int): Seq[(Long, Long)] =
          mid.zipWithIndex.filter { case (_, j) =>
            ((j.toLong * mBk).toDouble / (n - 2)).toLong + 1 == i
          }.map(_._1)
        for (i <- 1 to mBk) {
          val next: (Double, Double) =
            if (i < mBk) {
              val nb = bucket(i + 1)
              (nb.map(_._1).sum.toDouble / nb.size, nb.map(_._2).sum.toDouble / nb.size)
            } else (pts.last._1.toDouble, pts.last._2.toDouble)
          var best = (-1.0, (0L, 0L))
          for (p <- bucket(i)) {
            val area = math.abs(
              (prev._1.toDouble - next._1) * (p._2.toDouble - prev._2.toDouble) -
                (prev._1.toDouble - p._1.toDouble) * (next._2 - prev._2.toDouble))
            if (area > best._1) best = (area, p)
          }
          sel += best._2
          prev = best._2
        }
        sel += pts.last
        sel.toSeq
      }
    }
    val rnd = new scala.util.Random(11)
    val series = (1 to 87).map(i =>
      (i.toLong * 60L + rnd.nextInt(20), math.rint(rnd.nextDouble() * 1e8).toLong))
      .sortBy(_._1)
    val df = series.zipWithIndex.map { case ((sec, yq), i) =>
      (1L, new Timestamp(sec * 1000L), i.toLong, yq.toDouble / 1e6)
    }.toDF("k", "ts", "id", "v")
    val got = Temporal.lttb(df, "k", "ts", "id", "v", k = 12)
      .collect().map(r => (r.getLong(1), math.rint(r.getDouble(2) * 1e6).toLong))
      .sortBy(_._1).toSeq
    val expect = refLttb(series.map { case (sec, yq) => (sec * 1000000L, yq) }, 12)
      .sortBy(_._1)
    assert(got.length == 12 && got == expect)
    // endpoints always survive
    assert(got.head == expect.head && got.last == expect.last)
    // n <= k: identity
    val tiny = (1 to 5).map(i => (2L, new Timestamp(i * 1000L), i.toLong, i * 1.5))
      .toDF("k", "ts", "id", "v")
    val passthrough = Temporal.lttb(tiny, "k", "ts", "id", "v", k = 8)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(passthrough == (1 to 5).map(i => (i * 1000000L, i * 1.5)))
    intercept[IllegalArgumentException](
      Temporal.lttb(tiny, "k", "ts", "id", "v", k = 2))
  }

  test("rolling z-score: hand-computed baseline, full-window drop, " +
      "zero-variance null, nulls excluded before the frame") {
    import spark.implicits._
    val df = Seq(
      // key a, lookback 2: rows 1-2 have no full window and drop;
      // row 3 (v=2) vs (1,3): mean 2, var 1 -> z = 0;
      // row 4 (v=10) vs (3,2): mean 2.5, var 0.25 -> z = 7.5/0.5 = 15
      ("a", 1L, 1L, Option(1.0)), ("a", 2L, 2L, Option(3.0)),
      ("a", 3L, 3L, Option(2.0)), ("a", 4L, 4L, Option(10.0)),
      // key b: never a full window
      ("b", 1L, 5L, Option(4.0)), ("b", 2L, 6L, Option(7.0)),
      // key c: the null row vanishes BEFORE the frame, so the effective
      // series is 4, 4, 9 — only the last row scores, against a
      // zero-variance baseline -> null z, flag 0
      ("c", 1L, 7L, Option(4.0)), ("c", 2L, 8L, None),
      ("c", 3L, 9L, Option(4.0)), ("c", 4L, 10L, Option(9.0))
    ).toDF("k", "t", "id", "v")
    val out = Temporal.rollingZscore(df, "k", "t", "id", "v",
        lookback = 2, threshold = 1.0)
      .collect().map(r => r.getLong(1) ->
        ((if (r.isNullAt(3)) null else r.getDouble(3)), r.getInt(4))).toMap
    assert(out.keySet == Set(3L, 4L, 10L))
    assert(out(3L) == ((0.0, 0)))
    assert(out(4L) == ((15.0, 1)))
    assert(out(10L) == ((null, 0)))
  }

  test("holt-winters: hand-computed level/trend/ring steps, single-point " +
      "seed, dyadic literal guard") {
    import spark.implicits._
    val df = Seq(
      // a: x = [2, 4, 8, 6], m = 2, alpha = 0.5, beta = gamma = 0.25:
      //   seed l=2 b=0 ring=[0,0]
      //   x=4 slot 1: l=3, b=0.25, ring=[0, 0.25]
      //   x=8 slot 0: l=5.625, b=0.84375, ring=[0.59375, 0.25]
      //   x=6 slot 1: l=6.109375, b=0.75390625, ring=[0.59375, 0.16015625]
      //   next slot = 4 % 2 = 0 -> seasonal_next 0.59375,
      //   forecast = 6.109375 + 0.75390625 + 0.59375 = 7.45703125
      ("a", 1L, 1L, Option(2.0)), ("a", 2L, 2L, Option(4.0)),
      ("a", 3L, 3L, Option(8.0)), ("a", 4L, 4L, Option(6.0)),
      // b: a single point is its own level; zero trend and seasonal
      ("b", 1L, 5L, Option(7.0)),
      // c: the null vanishes before the fold — series [1, 5]
      ("c", 1L, 6L, Option(1.0)), ("c", 2L, 7L, None),
      ("c", 3L, 8L, Option(5.0))
    ).toDF("k", "t", "id", "v")
    val out = Temporal.holtWinters(df, "k", "t", "id", "v",
        alpha = 0.5, beta = 0.25, gamma = 0.25, period = 2)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(out("a") == ((4L, 6.109375, 0.753906, 0.59375, 7.457031)))
    assert(out("b") == ((1L, 7.0, 0.0, 0.0, 7.0)))
    // c: x=5 slot 1: l = 4*0.5 + 1*0.5 = 3, b = 2*0.25 = 0.5,
    //    s = (5-3)*0.25 = 0.5; next slot = 2 % 2 = 0 -> ring[0] = 0
    assert(out("c") == ((2L, 3.0, 0.5, 0.0, 3.5)))
    intercept[IllegalArgumentException](Temporal.holtWinters(
      df, "k", "t", "id", "v", 0.3, 0.25, 0.25, 2))
    intercept[IllegalArgumentException](Temporal.holtWinters(
      df, "k", "t", "id", "v", 0.5, 0.25, 0.25, 1))
  }

  test("cusum: integer fold, alarm count, first-alarm rank, reset to zero") {
    import spark.implicits._
    // target 5.0, slack 1.0 (shift 6.0), threshold 3.0 — micro-integers
    val df = Seq(
      // a: x = [10, 5, 8, 2]:
      //   t1 = max(0, 10-6) = 4 > 3 -> alarm (rn 1)
      //   t2 = max(0, 4+5-6) = 3     -> NOT > 3, no alarm (boundary)
      //   t3 = max(0, 3+8-6) = 5 > 3 -> alarm
      //   t4 = max(0, 5+2-6) = 1
      ("a", 1L, 1L, Option(10.0)), ("a", 2L, 2L, Option(5.0)),
      ("a", 3L, 3L, Option(8.0)), ("a", 4L, 4L, Option(2.0)),
      // b: never drifts — clamp keeps t at 0 throughout
      ("b", 1L, 5L, Option(1.0)), ("b", 2L, 6L, Option(2.0)),
      // c: null drops; alarm only fires on the SECOND row (rank 2)
      ("c", 1L, 7L, Option(8.0)), ("c", 2L, 8L, None),
      ("c", 3L, 9L, Option(9.0))
    ).toDF("k", "t", "id", "v")
    val out = Temporal.cusum(df, "k", "t", "id", "v",
        targetMicro = 5000000L, slackMicro = 1000000L,
        thresholdMicro = 3000000L)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), if (r.isNullAt(4)) null else r.getLong(4))))
      .toMap
    assert(out("a") == ((4L, 2L, 5.0, 1L)))
    assert(out("b") == ((2L, 0L, 0.0, null)))
    // c: effective series [8, 9] — t1 = 2 (no alarm),
    //    t2 = max(0, 2+9-6) = 5 -> alarm at rank 2
    assert(out("c") == ((2L, 1L, 5.0, 2L)))
  }

  test("interval coverage: containment, partial overlap, disjoint " +
      "segments, zero/negative/null duration drop") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val df = Seq(
      // key 1: [0,10) ∪ [5,8) (contained) ∪ [8,12) (extends by 2)
      //        ∪ [20,25) (new segment) -> covered 17 s over 2 segments
      (1L, ts(0), 1L, Option(10.0)), (1L, ts(5), 2L, Option(3.0)),
      (1L, ts(8), 3L, Option(4.0)), (1L, ts(20), 4L, Option(5.0)),
      // dropped rows: zero, negative, and null durations
      (1L, ts(30), 5L, Option(0.0)), (1L, ts(31), 6L, Option(-2.0)),
      (1L, ts(32), 7L, None),
      // key 2: a single interval with a fractional duration
      (2L, ts(0), 8L, Option(2.5))
    ).toDF("user_id", "ts", "event_id", "value")
    val out = Temporal.intervalCoverage(df, "user_id", "ts", "event_id", "value")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out(1L) == ((4L, 2L, 17000000L, 17.0)))
    assert(out(2L) == ((1L, 1L, 2500000L, 2.5)))
  }

  test("peak concurrency: half-open touch doesn't overlap, earliest peak " +
      "instant wins, same-instant deltas collapse, bad durations drop") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val df = Seq(
      // key 1: [0,10), [5,15), [10,20) — at t=10 the first END cancels
      //        the third START (half-open touch): run 1,2,2,1 — peak 2
      //        first at t=5s
      (1L, ts(0), Option(10.0)), (1L, ts(5), Option(10.0)),
      (1L, ts(10), Option(10.0)),
      // dropped: zero/negative/null durations
      (1L, ts(30), Option(0.0)), (1L, ts(31), Option(-1.0)),
      (1L, ts(32), None),
      // key 2: three intervals starting at the SAME instant — the
      //        per-instant collapse makes run jump straight to 3
      (2L, ts(0), Option(1.0)), (2L, ts(0), Option(2.0)),
      (2L, ts(0), Option(3.0)),
      // key 3: disjoint back-to-back [0,1), [1,2): peak 1 at t=0
      (3L, ts(0), Option(1.0)), (3L, ts(1), Option(1.0))
    ).toDF("user_id", "ts", "value")
    val out = Temporal.peakConcurrency(df, "user_id", "ts", "value")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 2L, 5000000L)))
    assert(out(2L) == ((2L, 3L, 3L, 0L)))
    assert(out(3L) == ((3L, 2L, 1L, 0L)))
    // all-dropped key yields no row
    assert(!out.contains(4L))
  }

  test("mann-kendall: hand-computed S/ties, monotone significance both " +
      "directions, all-tied zero variance") {
    import spark.implicits._
    val rows =
      // a: [1, 3, 2, 3] -> S = 3; tie (two 3s) = 18;
      //    var_num = 4*3*13 - 18 = 138; z = 2/sqrt(138/18) = 0.722315
      Seq(("a", 1L, 1L, 1.0), ("a", 2L, 2L, 3.0), ("a", 3L, 3L, 2.0),
        ("a", 4L, 4L, 3.0)) ++
      // b: strictly increasing 1..10 -> S = 45, var_num = 2250,
      //    z = 44/sqrt(125) = 3.93548 -> increasing
      (1 to 10).map(i => ("b", i.toLong, 10L + i, i.toDouble)) ++
      // c: strictly decreasing -> S = -45, z = -3.93548 -> decreasing
      (1 to 10).map(i => ("c", i.toLong, 30L + i, (11 - i).toDouble)) ++
      // d: all tied -> S = 0, var_num = 0 -> z = 0, no_trend
      Seq(("d", 1L, 50L, 5.0), ("d", 2L, 51L, 5.0), ("d", 3L, 52L, 5.0))
    val out = rows.toDF("k", "t", "id", "v")
    val got = Temporal.mannKendall(out, "k", "t", "id", "v")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getString(5))))
      .toMap
    assert(got("a") == ((4L, 3L, 138L, 0.722315, "no_trend")))
    assert(got("b") == ((10L, 45L, 2250L, 3.93548, "increasing")))
    assert(got("c") == ((10L, -45L, 2250L, -3.93548, "decreasing")))
    assert(got("d") == ((3L, 0L, 0L, 0.0, "no_trend")))
  }

  test("scd2: run compression, half-open validity chain, null-safe " +
      "attribute changes, current flag") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val df = Seq(
      // key 1: A A B B A -> three runs (A, B, A)
      (1L, ts(10), 1L, Option("A")), (1L, ts(20), 2L, Option("A")),
      (1L, ts(30), 3L, Option("B")), (1L, ts(40), 4L, Option("B")),
      (1L, ts(50), 5L, Option("A")),
      // key 2: null null C -> the null RUN is one version (null-safe
      // equality), C opens the second
      (2L, ts(10), 6L, None), (2L, ts(20), 7L, None),
      (2L, ts(30), 8L, Option("C"))
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Temporal.scd2History(df, "user_id", "ts", "event_id", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(4)) ->
        ((if (r.isNullAt(1)) null else r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getLong(3), r.getLong(5))))
      .toMap
    assert(got((1L, 1L)) == (("A", 10000000L, 30000000L, 0L)))
    assert(got((1L, 2L)) == (("B", 30000000L, 50000000L, 0L)))
    assert(got((1L, 3L)) == (("A", 50000000L, null, 1L)))
    assert(got((2L, 1L)) == ((null, 10000000L, 30000000L, 0L)))
    assert(got((2L, 2L)) == (("C", 30000000L, null, 1L)))
    assert(got.size == 5)
  }

  test("interval overlap join: half-open touch excluded, containment, " +
      "cross-bin pair counted once, matches brute force on random data") {
    import spark.implicits._
    import graft.operators.Relational
    def iv(rows: Seq[(Long, Long, Long, Long)]) =
      rows.toDF("k", "id", "st", "en")
    // bin size 100 so spans cross bins: L [0,100) vs R [50,150) -> 50;
    // R [100,200) touches L at 100 -> excluded (half-open);
    // R [10,20) contained -> 10; the [0,1000) x [950,1050) pair spans
    // 10 bins and must come out ONCE (overlap 50)
    val l = iv(Seq((1L, 2L, 0L, 100L), (1L, 4L, 0L, 1000L),
      (2L, 6L, 5L, 5L))) // empty interval drops
    val r = iv(Seq((1L, 1L, 50L, 150L), (1L, 3L, 100L, 200L),
      (1L, 5L, 10L, 20L), (1L, 7L, 950L, 1050L), (2L, 9L, 0L, 10L)))
    val got = Relational
      .intervalOverlapJoin(l, r, "k", "id", "st", "en", binUs = 100L)
      .collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getLong(2)) -> row.getLong(3))
      .toMap
    assert(got == Map(
      (1L, 2L, 1L) -> 50L, (1L, 2L, 5L) -> 10L,
      (1L, 4L, 1L) -> 100L, (1L, 4L, 3L) -> 100L, (1L, 4L, 5L) -> 10L,
      (1L, 4L, 7L) -> 50L))
    // brute-force equality on random intervals with a tiny bin (7) so
    // nearly every pair crosses bins — the dedup rule carries the load
    val rnd = new scala.util.Random(13)
    def randIv(n: Int, idBase: Long) = (1 to n).map { i =>
      val st = rnd.nextInt(500).toLong
      ((rnd.nextInt(3) + 1).toLong, idBase + i, st, st + 1 + rnd.nextInt(60))
    }
    val la = randIv(80, 1000); val ra = randIv(80, 2000)
    val fast = Relational
      .intervalOverlapJoin(iv(la), iv(ra), "k", "id", "st", "en", binUs = 7L)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .toSet
    val brute = (for {
      (lk, lid, lst, len) <- la; (rk, rid, rst, ren) <- ra
      if lk == rk && lst < ren && rst < len
    } yield (lk, lid, rid, math.min(len, ren) - math.max(lst, rst))).toSet
    assert(fast == brute && brute.nonEmpty)
    // plans as an equi-join (bin key), never a nested loop
    val p = Relational
      .intervalOverlapJoin(iv(la), iv(ra), "k", "id", "st", "en", binUs = 7L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.toLowerCase.contains("cartesian"), p.take(600))
  }

  test("acf: textbook values for 1..4, short-series and zero-variance " +
      "nulls, null exclusion") {
    import spark.implicits._
    val df = (
      // a: [1,2,3,4] -> acf = (0.25, -0.3, -0.45), the textbook case
      Seq(("a", 1L, 1L, Option(1.0)), ("a", 2L, 2L, Option(2.0)),
        ("a", 3L, 3L, Option(3.0)), ("a", 4L, 4L, Option(4.0))) ++
      // b: [1,2] -> acf1 = -0.5 (num -2500 / denom 5000), lags 2-3 null
      Seq(("b", 1L, 5L, Option(1.0)), ("b", 2L, 6L, Option(2.0))) ++
      // c: constant -> zero variance -> every lag null
      Seq(("c", 1L, 7L, Option(3.0)), ("c", 2L, 8L, Option(3.0)),
        ("c", 3L, 9L, Option(3.0))) ++
      // d: null drops -> effective [5, 7] -> acf1 = -0.5
      Seq(("d", 1L, 10L, Option(5.0)), ("d", 2L, 11L, None),
        ("d", 3L, 12L, Option(7.0)))
    ).toDF("k", "t", "id", "v")
    def cell(r: org.apache.spark.sql.Row, i: Int): Any =
      if (r.isNullAt(i)) null else r.getDouble(i)
    val out = Temporal.acf(df, "k", "t", "id", "v", maxLag = 3)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), cell(r, 2), cell(r, 3), cell(r, 4)))).toMap
    assert(out("a") == ((4L, 0.25, -0.3, -0.45)))
    assert(out("b") == ((2L, -0.5, null, null)))
    assert(out("c") == ((3L, null, null, null)))
    assert(out("d") == ((2L, -0.5, null, null)))
  }

  test("seasonal decompose: pure period-4 series recovers its indices, " +
      "margins excluded, short series emits nothing") {
    import spark.implicits._
    // a: 10,20,30,40 repeated 3x — the 2x4 MA is the constant mean 25,
    // so detrended = x - 25 and slots recover (-15, -5, 5, 15) exactly;
    // only i = 3..10 have both margins (2 terms per slot)
    val a = (0 until 12).map(i =>
      ("a", (i + 1).toLong, (i + 1).toLong, Option((Seq(10, 20, 30, 40)(i % 4)).toDouble)))
    // b: shorter than 5 points -> nothing survives the margins
    val b = (0 until 4).map(i => ("b", (i + 1).toLong, (20 + i).toLong, Option(5.0)))
    val df = (a ++ b).toDF("k", "t", "id", "v")
    val got = Temporal.seasonalDecompose(df, "k", "t", "id", "v")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map(
      ("a", 0) -> ((2L, -15.0)), ("a", 1) -> ((2L, -5.0)),
      ("a", 2) -> ((2L, 5.0)), ("a", 3) -> ((2L, 15.0))))
  }

  test("kaplan-meier: textbook curve with censoring, death-before-last " +
      "observation, day-0 death") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(day: Long) = new Timestamp(day * 86400L * 1000L)
    val ev = Seq(
      // s1: only a purchase at day 0 -> dur 0, death
      (1L, ts(0), "purchase"),
      // s2: death at day 1
      (2L, ts(0), "view"), (2L, ts(1), "purchase"),
      // s3: censored at day 1
      (3L, ts(0), "view"), (3L, ts(1), "view"),
      // s4: death at day 2 — the trailing view at day 5 must NOT
      // extend the duration (td beats tmax)
      (4L, ts(0), "view"), (4L, ts(2), "purchase"), (4L, ts(5), "view"),
      // s5: censored at day 3
      (5L, ts(0), "view"), (5L, ts(3), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = Temporal.kaplanMeier(ev, "user_id", "ts",
        col("event_type") === "purchase")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))).toMap
    // d=0: 1/5 die -> 0.8; d=1: 1 dies 1 censors of 4 -> 0.6;
    // d=2: 1 of 2 -> 0.3; d=3: censor only -> 0.3 carries
    assert(got == Map(
      0L -> ((5L, 1L, 0L, 0.8)),
      1L -> ((4L, 1L, 1L, 0.6)),
      2L -> ((2L, 1L, 0L, 0.3)),
      3L -> ((1L, 0L, 1L, 0.3))))
  }

  test("log-rank: hand-computed O/E/V over mixed death/censor days, " +
      "identical arms give z = 0") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(day: Long) = new Timestamp(day * 86400L * 1000L)
    // arm 1 (even ids): deaths at d0 and d2; arm 0: death d1, censor d2
    val ev = Seq(
      (2L, ts(0), "purchase"),
      (4L, ts(0), "view"), (4L, ts(2), "purchase"),
      (1L, ts(0), "view"), (1L, ts(1), "purchase"),
      (3L, ts(0), "view"), (3L, ts(2), "click")
    ).toDF("user_id", "ts", "event_type")
    val r = Temporal.logRank(ev, "user_id", "ts",
        col("event_type") === "purchase", col("user_id") % 2 === 0)
      .collect().head
    // O=2; E = .5 + 1/3 + .5; V = .25 + 2/9 + .25
    assert(r.getLong(0) == 2L)
    assert(r.getDouble(1) == 1.333333 && r.getDouble(2) == 0.722222)
    assert(r.getDouble(3) == 0.615385 && r.getDouble(4) == 0.784465)
    assert(r.getLong(5) == 0L)
    // both arms identical series -> O = E exactly, z = 0
    val sym = Seq(
      (2L, ts(0), "view"), (2L, ts(1), "purchase"),
      (1L, ts(0), "view"), (1L, ts(1), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val rs = Temporal.logRank(sym, "user_id", "ts",
        col("event_type") === "purchase", col("user_id") % 2 === 0)
      .collect().head
    assert(rs.getDouble(4) == 0.0 && rs.getLong(5) == 0L)
  }

  test("changepoint: level-shift localized exactly, deviation tie " +
      "breaks to smallest k, single-point keys omitted") {
    import spark.implicits._
    val df = Seq(
      // a: [1,1,1,5,5] -> deviations 800/1600/2400/1200 -> k=3,
      //    means 1.0 | 5.0
      ("a", 1L, 1L, Option(1.0)), ("a", 2L, 2L, Option(1.0)),
      ("a", 3L, 3L, Option(1.0)), ("a", 4L, 4L, Option(5.0)),
      ("a", 5L, 5L, Option(5.0)),
      // b: [1,2,1] -> dev 100 at k=1 and k=2 -> tie picks k=1
      ("b", 1L, 6L, Option(1.0)), ("b", 2L, 7L, Option(2.0)),
      ("b", 3L, 8L, Option(1.0)),
      // c: a single point has no interior split -> omitted
      ("c", 1L, 9L, Option(4.0))
    ).toDF("k", "t", "id", "v")
    val got = Temporal.changepoint(df, "k", "t", "id", "v")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got == Map(
      "a" -> ((5L, 3L, 2400L, 1.0, 5.0)),
      "b" -> ((3L, 1L, 100L, 1.0, 1.5))))
  }

  test("pit composition: scd2 versions bind each fact via as-of join") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val ev = Seq(
      // user 1: A B A -> versions 1/2/3, one fact each
      (1L, ts(10), 1L, "A"), (1L, ts(20), 2L, "B"), (1L, ts(30), 3L, "A"),
      // user 2: A A B -> version 1 covers two facts, version 2 one
      (2L, ts(10), 4L, "A"), (2L, ts(20), 5L, "A"), (2L, ts(30), 6L, "B")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val dim = Temporal.scd2History(ev, "user_id", "ts", "event_id", "event_type")
      .groupBy(col("user_id"), col("valid_from_us").as("tus"))
      .agg(max(col("version")).as("version"))
    val facts = ev.select(col("user_id"), col("event_id"),
      expr("unix_micros(ts)").as("tus"))
    val got = Temporal.asofJoin(facts, dim, "user_id", "tus", Seq("version"))
      .groupBy(col("user_id"), col("version"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (1L, 1L) -> 1L, (1L, 2L) -> 1L, (1L, 3L) -> 1L,
      (2L, 1L) -> 2L, (2L, 2L) -> 1L))
  }

  test("theil-sen: hand-computed medians, even-count averaging, " +
      "equal-ts pairs excluded, all-same-ts key reports null slope") {
    import spark.implicits._
    import java.sql.Timestamp
    def hr(h: Long) = new Timestamp(h * 3600L * 1000L)
    // key a at hours 0,1,2,3 / values 0,1,4,5:
    //   6 slopes [1, 1, 1.666667, 2, 2, 3] -> median (5/3 + 2)/2
    //   value median (1+4)/2 = 2.5
    // key b: 3 points, odd slope count -> middle slope
    //   (0h,1),(1h,3),(2h,4): slopes [1, 1.5, 2] -> 1.5; vmed 3
    val df = Seq(
      ("a", hr(0), 1L, 0.0), ("a", hr(1), 2L, 1.0),
      ("a", hr(2), 3L, 4.0), ("a", hr(3), 4L, 5.0),
      ("b", hr(0), 5L, 1.0), ("b", hr(1), 6L, 3.0), ("b", hr(2), 7L, 4.0)
    ).toDF("k", "ts", "id", "v")
    val got = Temporal.theilSen(df, "k", "ts", "id", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got("a") == ((4L, 6L, round6((5.0 / 3.0 + 2.0) / 2.0), 2.5)))
    assert(got("b") == ((3L, 3L, 1.5, 3.0)))
    // equal-ts pair contributes no slope; the remaining pairs still do
    val tied = Seq(
      ("c", hr(0), 1L, 0.0), ("c", hr(0), 2L, 10.0), ("c", hr(1), 3L, 2.0))
      .toDF("k", "ts", "id", "v")
    val gc = Temporal.theilSen(tied, "k", "ts", "id", "v").collect().head
    // pairs: (0h,0)->(1h,2) slope 2; (0h,10)->(1h,2) slope -8; median -3
    assert(gc.getLong(2) == 2L && gc.getDouble(3) == -3.0)
    // all events at one instant: no slope exists
    val flat = Seq(("d", hr(5), 1L, 1.0), ("d", hr(5), 2L, 2.0))
      .toDF("k", "ts", "id", "v")
    val gd = Temporal.theilSen(flat, "k", "ts", "id", "v").collect().head
    assert(gd.getLong(2) == 0L && gd.isNullAt(3))
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("linear attribution: equal split, strictly-before, window cut, " +
      "unattributed conversion, same-ts tie to smaller id") {
    import spark.implicits._
    import java.sql.Timestamp
    def hr(h: Long) = new Timestamp(h * 3600L * 1000L)
    val df = Seq(
      // user 1: clicks at h1/h2, purchase at h3 -> 2 touches, 0.5 each
      (1L, hr(1), 1L, "click"), (1L, hr(2), 2L, "click"),
      (1L, hr(3), 3L, "purchase"),
      // same-instant click must NOT attribute (strictly before)
      (1L, hr(3), 4L, "click"),
      // user 2: purchase with no clicks at all
      (2L, hr(5), 5L, "purchase"),
      // user 3: click outside the 2h window, purchase unattributed
      (3L, hr(1), 6L, "click"), (3L, hr(10), 7L, "purchase"),
      // user 4: two clicks at the SAME ts -> first/last tie on id
      (4L, hr(1), 8L, "click"), (4L, hr(1), 9L, "click"),
      (4L, hr(2), 10L, "purchase")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Temporal.linearAttribution(
      df, "user_id", "ts", "event_id", "event_type",
      "click", "purchase", windowUs = 2L * 3600L * 1000000L)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1.0 else r.getDouble(5)))).toMap
    assert(got(3L) == ((2L, 1L, 2L, 0.5)))
    assert(got(5L) == ((0L, -1L, -1L, -1.0)))
    assert(got(7L) == ((0L, -1L, -1L, -1.0)))
    assert(got(10L) == ((2L, 8L, 9L, 0.5)))
  }

  test("robustOutliers: exact median/MAD selections, Hampel count, " +
      "outlier can't drag the screen") {
    import spark.implicits._
    // odd count with one wild point: median/MAD stay at the bulk
    val df = Seq(
      (1L, 1.0), (1L, 1.0), (1L, 1.0), (1L, 1.0), (1L, 100.0),
      // even count, no outliers: median = mean of middles, MAD likewise
      (2L, 1.0), (2L, 2.0), (2L, 3.0), (2L, 4.0)
    ).toDF("k", "v")
    val got = Temporal.robustOutliers(df, "k", "v")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    // k=1: median 1.0, deviations {0,0,0,0,198} at 2x -> MAD 0; the
    // wild point is the single Hampel hit (2*198 > 3*0)
    assert(got(1L) == ((5L, 1.0, 0.0, 1L)))
    // k=2: q = {100,200,300,400}; median 2.5; devs(2x) {300,100,100,300}
    // sorted -> dm2 = 100+300 = 400 -> MAD 1.0; no 2*dev > 3*400
    assert(got(2L) == ((4L, 2.5, 1.0, 0L)))
  }

  test("olsTrend: perfect line recovers slope/intercept/R2 exactly; " +
      "degenerate keys report null") {
    import spark.implicits._
    def ts(h: Long) = new java.sql.Timestamp((1577836800L + h * 3600L) * 1000L)
    val df = Seq(
      // value = t - 99 at hours 100, 101, 102 since 2020
      (1L, ts(100L), 1.0), (1L, ts(101L), 2.0), (1L, ts(102L), 3.0),
      // all events in one hour: no slope
      (2L, ts(5L), 1.0), (2L, ts(5L), 9.0),
      // zero value variance: slope 0, R2 null
      (3L, ts(1L), 4.0), (3L, ts(2L), 4.0)
    ).toDF("k", "ts", "v")
    val got = Temporal.olsTrend(df, "k", "ts", "v").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getDouble(2) == 1.0) // slope per hour
    assert(got(1L).getDouble(3) == -99.0) // value at 2020-01-01
    assert(got(1L).getDouble(4) == 1.0) // R2
    assert(got(2L).isNullAt(2) && got(2L).isNullAt(3) && got(2L).isNullAt(4))
    assert(got(3L).getDouble(2) == 0.0 && got(3L).isNullAt(4))
  }

  test("bollinger: exact window power sums, full windows only, spike " +
      "breaks the +1-sigma band (a 5-window's max |z| is 1.79, so " +
      "k = 2 would be unbreakable by construction)") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // constant warm-up then a spike at t=6
    val df = (1L to 5L).map(i => (1L, ts(i), i, 2.0)) :+ ((1L, ts(6L), 6L, 9.0))
    val got = Temporal.bollinger(df.toDF("k", "ts", "tie", "v"),
      "k", "ts", "tie", "v", window = 5, k = 1.0)
      .collect().map(r => r.getLong(1) ->
        ((r.getDouble(2), r.getDouble(3), r.getLong(6)))).toMap
    // only rows 5 and 6 have full windows
    assert(got.keySet == Set(5L, 6L))
    assert(got(5L) == ((2.0, 0.0, 0L)))
    // window at t=6: q = {200,200,200,200,900} -> mean 3.4,
    // varNum = 5*970000 - 1700^2 = 1960000, sd = 1400/500 = 2.8,
    // upper = 6.2 < 9.0 -> breakout +1
    assert(got(6L) == ((3.4, 2.8, 1L)))
  }

  test("rfmSegments: exact quantile thresholds, ties share a band, " +
      "recency inverts so 5 = most recent") {
    import spark.implicits._
    def ts(d: Long) = new java.sql.Timestamp(d * 86400L * 1000L)
    // 5 users, one event each on days 1..5 with values 10,20,30,40,50:
    // every metric is a clean 5-way spread -> scores are a permutation
    val df = (1L to 5L).flatMap { u =>
      // user u has u events (frequency spread), last on day u
      (1L to u).map(i => (u, ts(u), u * 10.0))
    }.toDF("u", "ts", "v")
    val got = Temporal.rfmSegments(df, "u", "ts", "v", buckets = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // user 5: most recent (r=5), most events (f=5), most value (m=5)
    assert(got(5L) == ((0L, 5L, 5L, 5L)))
    // user 1: 4 days stale, single event, least total value
    assert(got(1L) == ((4L, 1L, 1L, 1L)))
    // monotone scores across the board
    (1L to 5L).foreach(u => assert(got(u) ==
      ((5L - u, 6L - (5L - u + 1L), u, u))))
  }

  test("spearman: monotone = ±1 regardless of spacing, ties take " +
      "average ranks, constant series reports null") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val df = Seq(
      // strictly increasing values on an irregular grid
      (1L, ts(10L), 1L, 1.0), (1L, ts(500L), 2L, 1.5), (1L, ts(501L), 3L, 9.0),
      // strictly decreasing
      (2L, ts(1L), 4L, 9.0), (2L, ts(2L), 5L, 5.0), (2L, ts(3L), 6L, 1.0),
      // constant
      (3L, ts(1L), 7L, 2.0), (3L, ts(2L), 8L, 2.0),
      // tie in the middle: rho strictly between 0 and 1
      (4L, ts(1L), 9L, 1.0), (4L, ts(2L), 10L, 2.0),
      (4L, ts(3L), 11L, 2.0), (4L, ts(4L), 12L, 3.0)
    ).toDF("k", "ts", "tie", "v")
    val got = Temporal.spearman(df, "k", "ts", "tie", "v").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getDouble(2) == 1.0)
    assert(got(2L).getDouble(2) == -1.0)
    assert(got(3L).isNullAt(2))
    val tied = got(4L).getDouble(2)
    assert(tied > 0.9 && tied < 1.0, s"tied rho = $tied")
  }

  test("burstiness: periodic series -> B = -1 with CV 0, bursty " +
      "two-level gaps match hand values, single-gap keys dropped") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val periodic = (0L to 4L).map(i => (1L, ts(10L * i), i))
    // key 2: gaps 1, 1, 10 s -> mean 4, var (9+9+36... ) hand below
    val bursty = Seq((2L, ts(0L), 10L), (2L, ts(1L), 11L),
      (2L, ts(2L), 12L), (2L, ts(12L), 13L))
    val single = Seq((3L, ts(0L), 20L), (3L, ts(5L), 21L)) // one gap only
    val df = (periodic ++ bursty ++ single).toDF("k", "ts", "tie")
    val got = Temporal.burstiness(df, "k", "ts", "tie")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(!got.contains(3L))
    assert(got(1L) == ((4L, 10.0, 0.0, -1.0)))
    // gaps 1,1,10: n=3, sg=12, sgg=102 -> m=4, sd=sqrt(3*102-144)/3
    val m = 4.0
    val sd = math.sqrt((3.0 * 102 - 144.0)) / 3.0
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got(2L)._2 == 4.0)
    assert(got(2L)._3 == r6(sd / m) && got(2L)._4 == r6((sd - m) / (sd + m)))
  }

  test("peakDetect: strict local maxima only — plateaus and boundaries " +
      "excluded, delta gates the rise") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    //          t:   1    2    3    4    5    6    7    8
    val vals = Seq(5.0, 9.0, 5.0, 7.0, 7.0, 5.0, 9.5, 9.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (1L, ts(i + 1L), i + 1L, v)
    }.toDF("k", "ts", "tie", "v")
    // no threshold: peaks at t=2 (9 > 5,5: delta 4) and t=7 (9.5 > 5,9:
    // delta 0.5); the 7,7 plateau is NOT a peak; t=8 boundary excluded
    val all = Temporal.peakDetect(df, "k", "ts", "tie", "v", 0.0)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(all == Map(2L -> 4.0, 7L -> 0.5))
    // minDelta 2.0 keeps only the big spike
    val gated = Temporal.peakDetect(df, "k", "ts", "tie", "v", 2.0)
      .collect().map(_.getLong(1)).toSeq
    assert(gated == Seq(2L))
  }

  test("naiveBacktest: hand sMAPE on a ramp, n=1 keys dropped, " +
      "zero-zero terms contribute 0") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val df = (
      // key 1: values 1..5 -> cut 4, forecast 4.00, one test row (5.00)
      (1L to 5L).map(i => (1L, ts(i), i, i.toDouble)) ++
      // key 2: single row -> cut 0 -> dropped
      Seq((2L, ts(1L), 10L, 7.0)) ++
      // key 3: zeros -> zero-denominator terms contribute 0
      Seq((3L, ts(1L), 20L, 0.0), (3L, ts(2L), 21L, 0.0))
    ).toDF("k", "ts", "tie", "v")
    val got = Temporal.naiveBacktest(df, "k", "ts", "tie", "v", 0.8)
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(!got.contains(2L))
    // 2*|400-500| / (400+500) = 200/900
    assert(got(1L) == ((4L, 1L, math.rint(200.0 / 900.0 * 1e6) / 1e6)))
    assert(got(3L) == ((1L, 1L, 0.0)))
  }

  test("rollingAutocorr: alternating series -> -1, linear ramp -> +1, " +
      "constant window -> null, partial windows suppressed") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // key 1: strict alternation 1,9,1,9,... lag pairs anti-correlate
    val alt = (1L to 6L).map(i => (1L, ts(i), i, if (i % 2 == 0) 9.0 else 1.0))
    // key 2: linear ramp -> consecutive pairs perfectly correlate
    val ramp = (1L to 6L).map(i => (2L, ts(i), 10L + i, i.toDouble))
    // key 3: constant -> zero variance -> null
    val const = (1L to 6L).map(i => (3L, ts(i), 20L + i, 4.0))
    val df = (alt ++ ramp ++ const).toDF("k", "ts", "tie", "v")
    val got = Temporal.rollingAutocorr(df, "k", "ts", "tie", "v", window = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    // 6 rows -> 5 lag pairs -> full windows of 4 pairs end at ties 5, 6
    assert(got.keySet.count(_._1 == 1L) == 2)
    assert(got((1L, 5L)) == -1.0 && got((1L, 6L)) == -1.0)
    assert(got((2L, 15L)) == 1.0 && got((2L, 16L)) == 1.0)
    assert(got((3L, 25L)) == null && got((3L, 26L)) == null)
  }

  test("dtwDistances: hand-computed alignments, truncation, tie order") {
    import spark.implicits._
    def df(rows: Seq[(Long, Long, Long, Double)]) =
      rows.toDF("user_id", "ts", "event_id", "value")
    def run(rows: Seq[(Long, Long, Long, Double)], maxLen: Int = 40) =
      Temporal.dtwDistances(df(rows), "user_id", "ts", "event_id", "value", maxLen)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // identical series align at zero cost
    val same = Seq((1L, 1L, 1L, 5.0), (1L, 2L, 2L, 7.0),
      (2L, 1L, 1L, 5.0), (2L, 2L, 2L, 7.0))
    assert(run(same) == Map((1L, 2L) -> ((2L, 2L, 0.0))))
    // step functions at different speeds: warping absorbs the shift
    val warp = Seq(
      (1L, 1L, 1L, 0.0), (1L, 2L, 2L, 0.0), (1L, 3L, 3L, 10.0),
      (2L, 1L, 1L, 0.0), (2L, 2L, 2L, 10.0), (2L, 3L, 3L, 10.0))
    assert(run(warp)((1L, 2L))._3 == 0.0)
    // ramp vs shifted ramp: best path repeats the endpoints, cost 2
    val ramp = Seq(
      (1L, 1L, 1L, 1.0), (1L, 2L, 2L, 2.0), (1L, 3L, 3L, 3.0),
      (2L, 1L, 1L, 2.0), (2L, 2L, 2L, 3.0), (2L, 3L, 3L, 4.0))
    assert(run(ramp)((1L, 2L))._3 == 2.0)
    // maxLen truncates to the FIRST observations in (ts, tie) order:
    // with maxLen = 1 only the first values (1.0 vs 9.0) compare
    val long = Seq(
      (1L, 1L, 1L, 1.0), (1L, 2L, 2L, 50.0),
      (2L, 1L, 1L, 9.0), (2L, 2L, 2L, 50.0))
    assert(run(long, maxLen = 1) == Map((1L, 2L) -> ((1L, 1L, 8.0))))
    // equal-ts rows order by the tie column, not arrival order
    val tied = Seq(
      (1L, 1L, 2L, 100.0), (1L, 1L, 1L, 0.0),
      (2L, 1L, 1L, 0.0), (2L, 1L, 2L, 100.0))
    assert(run(tied)((1L, 2L))._3 == 0.0)
    // three keys -> three unordered pairs, each key_a < key_b
    val tri = (1L to 3L).flatMap(k => Seq((k, 1L, 1L, k.toDouble)))
    val pairs = run(tri)
    assert(pairs.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs((1L, 3L)) == ((1L, 1L, 2.0)))
  }

  test("asofJoinForward: earliest at-or-after, equal-ts matches, null past " +
    "the last right row, keys never cross") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 10L, 300L),
      (4L, 20L, 100L))
      .toDF("event_id", "user_id", "tus")
    val right = Seq((10L, 200L, 5.0), (10L, 205L, 7.0), (10L, 250L, 9.0))
      .toDF("user_id", "tus", "pvalue")
    val got = Temporal
      .asofJoinForward(left, right, "user_id", "tus", Seq("pvalue"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(got(1L) == 5.0) // 100 -> earliest at-or-after is 200
    assert(got(2L) == 7.0) // equal timestamp matches (>= contract)
    assert(got(3L) == null) // nothing after 300
    assert(got(4L) == null) // user 20 has no right rows
  }

  test("laggedCrossCorrelation: anti-phase keys hit -1 at lag 0 and +1 at " +
    "the shift; constant series are null; zero-fill spans the grid") {
    import spark.implicits._
    // key A fires in even hours, B in odd hours (A shifted by one), C
    // fires once EVERY hour (constant after zero-fill)
    val rows =
      (0 to 4 by 2).map(h => ("A", h.toLong * 3600L)) ++
      (1 to 5 by 2).map(h => ("B", h.toLong * 3600L)) ++
      (0 to 5).map(h => ("C", h.toLong * 3600L))
    val df = rows.toDF("k", "sec")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"))
    val got = Temporal.laggedCrossCorrelation(df, "k", "ts", 3600L, maxLag = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        ((r.getLong(3), if (r.isNullAt(4)) null else r.getDouble(4))))
      .toMap
    // A = [1,0,1,0,1,0], B = [0,1,0,1,0,1] on the shared 6-bucket span
    assert(got(("A", "B", 0L)) == ((6L, -1.0)))
    assert(got(("A", "B", 1L)) == ((5L, 1.0)))
    assert(got(("A", "B", 2L)) == ((4L, -1.0)))
    // C is constant 1 -> zero variance -> null r against anything
    assert(got(("A", "C", 0L))._2 == null)
    assert(got(("B", "C", 1L))._2 == null)
    // every (pair, lag) emitted: 3 pairs x 3 lags
    assert(got.size == 9)
  }

  test("laggedCrossCorrelation: a bucket span over the grid cap fails inside " +
    "the plan and names the span, the cap and the bucket width") {
    import spark.implicits._
    // two events 2,000,000 s apart at 1-second buckets: a 2,000,001-row
    // grid for one key
    val df = Seq(("A", 0L), ("A", 2000000L)).toDF("k", "sec")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"))
    val e = intercept[Exception](
      Temporal.laggedCrossCorrelation(df, "k", "ts", 1L, maxLag = 1))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msgs.contains("span of 2000001 buckets"), msgs)
    assert(msgs.contains("cap of 1000000"), msgs)
    assert(msgs.contains("bucketSeconds = 1"), msgs)
  }

}
