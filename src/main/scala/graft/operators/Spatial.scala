package graft.operators

import graft.functions.GeoFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spatial operators (SURVEY.md §2.3 J8/J9, §2.4 A4).
  *
  * Physical strategy: the reference builds an in-memory rbush R-tree over
  * areas and probes per way (`utils.js:83-98`,
  * `indicator-from-areas.js:74-84`). The Spark-native equivalent broadcasts
  * the (small) area side and evaluates the cheap bbox-overlap predicate as
  * the join condition — a BroadcastNestedLoopJoin where the bbox test
  * prunes before the exact geometry UDF runs. At 100 TB of ways the stream
  * side never shuffles; if the AREA side ever outgrew broadcast, the
  * upgrade path is grid-cell bucketing (explode both sides by cell id →
  * equi-join on cell), which keeps the same operator contract.
  */
object Spatial {

  /** J9 — bbox-prefiltered spatial join: `ways ⋈ areas` on bbox overlap,
    * exact predicate applied afterwards. `waysBbox`/`areasBbox` are
    * [minX, minY, maxX, maxY] array columns.
    */
  def bboxJoin(ways: DataFrame, areas: DataFrame, waysBbox: Column, areasBbox: Column): DataFrame =
    ways.join(broadcast(areas), GeoFunctions.bboxOverlap(waysBbox, areasBbox))

  /** J9 scale path — grid-cell bucketed spatial join for when the area
    * side outgrows broadcast: both sides explode to the grid cells their
    * bbox covers, equi-join on cell id (a plain shuffle hash join — no
    * cross product anywhere), refine with the exact bbox test.
    *
    * Pair dedup (a pair shares many cells) uses the reference-cell trick:
    * a pair is emitted ONLY from the cell containing the top-left corner
    * of the bbox intersection — exactly one cell qualifies, so no
    * `distinct()` shuffle is needed. Skew: pick `cellSize` near the median
    * bbox diagonal; pathological hot cells fall to AQE skew-join handling.
    */
  def bboxJoinGrid(left: DataFrame, right: DataFrame, leftBbox: Column, rightBbox: Column, cellSize: Double): DataFrame = {
    def cells(b: Column): Column = {
      val x0 = floor(b.getItem(0) / cellSize).cast("long")
      val x1 = floor(b.getItem(2) / cellSize).cast("long")
      val y0 = floor(b.getItem(1) / cellSize).cast("long")
      val y1 = floor(b.getItem(3) / cellSize).cast("long")
      flatten(transform(sequence(x0, x1), cx => transform(sequence(y0, y1), cy => struct(cx.as("cx"), cy.as("cy")))))
    }
    val l = left.withColumn("__lbox", leftBbox).withColumn("__cell", explode(cells(col("__lbox"))))
    val r = right.withColumn("__rbox", rightBbox).withColumn("__cell", explode(cells(col("__rbox"))))
    val ownerX = floor(greatest(col("__lbox").getItem(0), col("__rbox").getItem(0)) / cellSize).cast("long")
    val ownerY = floor(greatest(col("__lbox").getItem(1), col("__rbox").getItem(1)) / cellSize).cast("long")
    l.join(r, Seq("__cell"))
      .filter(GeoFunctions.bboxOverlap(col("__lbox"), col("__rbox")))
      .filter(col("__cell.cx") === ownerX && col("__cell.cy") === ownerY)
      .drop("__cell", "__lbox", "__rbox")
  }

  /** FOCAL (neighborhood) RASTER STATISTIC — per pixel, the mean over
    * its (2r+1)² window: the kernel-op class zonal statistics can't
    * express (zonal reduces BY polygon; focal convolves the grid —
    * smoothing, slope, hillshade all start here). Edge pixels average
    * over their real neighbors only (no padding invented).
    *
    * Distributed shape — NO per-pixel gather loop: every pixel
    * SCATTERS its value to the (2r+1)² windows it belongs to (a narrow
    * in-row explode), one hash aggregate sums per window center with
    * map-side combine, and an inner join back to the pixel table drops
    * phantom centers outside the raster. Two keyed exchanges total,
    * both on grid keys — tiles partition cleanly at any raster size.
    *
    * Exactness: values quantize by `quant` (round-half-up to the
    * nearest 1/quant — rasters carry fixed-precision physical values),
    * sums are exact Longs, and the mean is ONE IEEE divide.
    * Input: (cx, cy, value) integer grid coords; output
    * (cx, cy, n_nbrs, focal_mean).
    */
  def focalMean(
      cells: DataFrame, radius: Int = 1, quant: Double = 10.0): DataFrame = {
    require(radius >= 1, s"radius must be >= 1, got $radius")
    val q = floor(col("value").cast("double") * lit(quant) + lit(0.5)).cast("long")
    val offs = (-radius to radius).flatMap(dx =>
      (-radius to radius).map(dy => struct(lit(dx).as("dx"), lit(dy).as("dy"))))
    val contrib = cells
      .select(col("cx").cast("long").as("cx"), col("cy").cast("long").as("cy"), q.as("__q"))
      .select(col("cx"), col("cy"), col("__q"), explode(array(offs: _*)).as("__o"))
      .select(
        (col("cx") + col("__o.dx")).as("__tx"),
        (col("cy") + col("__o.dy")).as("__ty"),
        col("__q"))
      .groupBy(col("__tx"), col("__ty"))
      .agg(sum(col("__q")).as("__s"), count(lit(1)).as("n_nbrs"))
    cells
      .select(col("cx").cast("long").as("cx"), col("cy").cast("long").as("cy"))
      .join(contrib, col("cx") === col("__tx") && col("cy") === col("__ty"))
      .select(
        col("cx"), col("cy"), col("n_nbrs"),
        round(col("__s").cast("double") / (col("n_nbrs").cast("double") * lit(quant)), 6)
          .as("focal_mean"))
  }

  /** A11 equivalent — zonal statistics over a cell table (reference
    * `scripts/imgstats/img-stats.py:98-104` computes count/mean/min/max of
    * raster cells under each polygon + `percent = count/total·100`; the
    * raster decode itself is upstream, its cell table is the input here):
    * point-in-polygon join (bbox-prefiltered) → groupBy polygon.
    */
  def zonalStats(cells: DataFrame, polys: DataFrame, gridCell: Double = 2.0): DataFrame = {
    // total cell count as an in-plan broadcast 1-row aggregate (the
    // `Relational.scaleScore` pattern) — NOT a driver-side count(): the
    // whole query stays ONE lazy plan / one job, no extra scan of `cells`
    // before the query's own job runs.
    val total = cells.agg(count(lit(1)).as("__total"))
    val cellsB = cells.withColumn("__pbox", array(col("x"), col("y"), col("x"), col("y")))
    val polysB = polys.withColumn("__abox", GeoFunctions.bboxUdf(flatten(col("rings"))))
    // grid equi-join, not nested-loop: points explode to exactly one grid
    // cell, zones to the cells they cover
    bboxJoinGrid(cellsB, polysB, col("__pbox"), col("__abox"), gridCell)
      .filter(GeoFunctions.pointInPolygonUdf(col("x"), col("y"), col("rings")))
      .groupBy(col("zone_id"))
      .agg(
        count(lit(1)).as("n_cells"),
        round(avg(col("value")), 4).as("mean_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .crossJoin(broadcast(total))
      .withColumn("percent", round(col("n_cells") * 100.0 / col("__total"), 4))
      .drop("__total")
  }

  /** J8 fastest form — argmin via a packed-Long `min()`: (dist rounded to
    * 1e-6, tie key) packs into one comparable Long, so the aggregate is a
    * plain `min` — fully hash-aggregable (HashAggregate + map-side
    * partials), unlike `min_by(struct)` which falls back to SortAggregate
    * and locally sorts every candidate row.
    *
    * Bounds (documented AND runtime-enforced): dist in [0, 2^43/1e6 ≈
    * 8.8e6 km) and 0 ≤ tie key < 2^20. Out-of-range input raises an error
    * instead of silently corrupting the argmin (a tie key ≥ 2^20 would
    * bleed into the distance bits). Unpacked dist is bit-identical to
    * `round(dist, 6)` (both resolve to the double nearest n/1e6).
    */
  def nearestJoinAggPacked(
      pairs: DataFrame,
      leftKey: String,
      distCol: Column,
      tieKeyCol: Column): DataFrame = {
    val distL = round(distCol * 1e6).cast("long")
    val packed = when(
      tieKeyCol < 0 || tieKeyCol >= lit(1048576L) || distCol < 0 || distL >= lit(8796093022208L),
      raise_error(concat(
        lit("nearestJoinAggPacked bounds exceeded (need 0<=dist<8.8e6, 0<=tieKey<2^20): dist="),
        distCol.cast("string"), lit(" tieKey="), tieKeyCol.cast("string"))).cast("long")
    ).otherwise(distL * lit(1048576L) + tieKeyCol)
    pairs
      .groupBy(col(leftKey))
      .agg(min(packed).as("__packed"))
      .select(
        col(leftKey),
        pmod(col("__packed"), lit(1048576L)).as("__tie"),
        // integer div BEFORE the double conversion: packed itself exceeds
        // double's 2^53 exact range, the quotient does not
        (expr("__packed div 1048576") / 1e6).as("dist"))
  }

  /** J8 **scale** form — grid-bucketed exact nearest neighbour, the shape
    * that survives 100 TB. The broadcast-cross-join + packed-min pipeline
    * is O(|left|·|right|): fine at 15M pairs, catastrophic at 1.5B (the
    * sf1 scale proof caught qsp2 going 100× super-linear). Here both
    * sides bucket into `cellDeg`° grid cells and each round k joins left
    * rows only against right rows within Chebyshev distance k cells —
    * candidates are O(|left|·density·k²), not O(|left|·|right|).
    *
    * EXACTNESS (not approximate): a round-k winner at distance d is
    * accepted only if d clears the haversine lower bound any right point
    * OUTSIDE the (2k+1)² block must exceed: separation ≥ k·cellDeg
    * degrees in lat (≥ 111 km/°) or lon (≥ 70·cos(|lat|+(k+1)·cellDeg)
    * km/° — per-row, so equatorial points resolve at k=1 while polar
    * points iterate). Unresolved rows re-probe with doubled k; once k
    * covers the data bbox the tail (typically a handful of rows) falls
    * back to the exhaustive argmin. Same rounding (1e-6 km) and
    * (dist, tie-key) ordering as [[nearestJoinAggPacked]], so results are
    * bit-identical to the cross-join form — spec-asserted.
    *
    * `cellDeg` ≤ 0 (the default) auto-sizes cells to ~4 right rows each
    * from the right side's bbox and count, so sparse data probes few big
    * cells and dense data probes small ones — round count stays O(1)
    * across scale factors. No antimeridian wrap: lon cells don't wrap at
    * ±180° (candidates near the seam resolve via the exhaustive tail
    * round).
    *
    * SMALL-RIGHT FAST PATH: when the right side fits `kdThreshold` rows
    * (default 2^20 — the same order as a comfortable broadcast), the ring
    * rounds are skipped entirely for a broadcast [[SphereKd]]: the right
    * side collects to the driver (the sanctioned bounded-side pattern, cf.
    * the CSR road graph), builds a balanced 3D KD-tree over unit-sphere
    * vectors, and each left row probes it in O(log n) inside one narrow
    * map — zero shuffles, zero iteration, left-side-linear at any scale.
    * This exists because the ring rounds' per-row longitude lower bound
    * decays as cos(|lat|+(k+1)g): a polar-heavy left side strands rows in
    * the rings and dumps them on the exhaustive cross-join tail (measured
    * 41k stranded rows × 100k right = 4·10⁹ haversines, 360 s at sf1;
    * the KD path runs the same query in seconds, bit-identical). The ring
    * machinery remains the path for a right side too big to broadcast.
    */
  def nearestJoinGridKm(
      left: DataFrame,
      leftKey: String,
      leftLon: String,
      leftLat: String,
      right: DataFrame,
      rightKey: String,
      rightLon: String,
      rightLat: String,
      cellDeg: Double = 0.0,
      exhaustiveBudget: Long = 100000000L,
      kdThreshold: Long = 1048576L): DataFrame = {
    val lRaw0 = left.select(
      col(leftKey).as("__lkey"),
      col(leftLon).cast("double").as("__llon"),
      col(leftLat).cast("double").as("__llat"))
    // a small-file left side arrives as ONE scan partition, and every
    // downstream op here is narrow (broadcast ring joins, broadcast anti
    // joins, the broadcast cross tail) — without this, the whole argmin
    // runs single-task while 31 cores idle (measured live at sf1)
    val par = left.sparkSession.sparkContext.defaultParallelism
    val lRaw = if (lRaw0.rdd.getNumPartitions < par) lRaw0.repartition(par) else lRaw0
    val rRaw = right.select(
      col(rightKey).as("__rkey"),
      col(rightLon).cast("double").as("__rlon"),
      col(rightLat).cast("double").as("__rlat"))
    val empty = lRaw.select(
      col("__lkey").as(leftKey),
      lit(null).cast("long").as("__tie"),
      lit(null).cast("double").as("dist")).limit(0)
    // one tiny agg: both bboxes + right count → auto cell size + cover-k
    val b = lRaw
      .agg(min("__llon").as("a"), max("__llon").as("b"), min("__llat").as("c"), max("__llat").as("d"))
      .crossJoin(rRaw.agg(
        min("__rlon").as("e"), max("__rlon").as("f"),
        min("__rlat").as("g2"), max("__rlat").as("h"), count(lit(1)).as("n")))
      .first()
    if (b.getLong(8) == 0L || b.isNullAt(0)) return empty // empty side
    if (b.getLong(8) <= kdThreshold) {
      // broadcast KD-tree path: exact, shuffle-free, left-linear
      val pts = rRaw
        .select(col("__rkey").cast("long"), col("__rlon"), col("__rlat"))
        .collect()
      val lonA = new Array[Double](pts.length)
      val latA = new Array[Double](pts.length)
      val keyA = new Array[Long](pts.length)
      var i = 0
      while (i < pts.length) {
        keyA(i) = pts(i).getLong(0); lonA(i) = pts(i).getDouble(1); latA(i) = pts(i).getDouble(2)
        i += 1
      }
      val bcKd = left.sparkSession.sparkContext.broadcast(SphereKd.build(lonA, latA, keyA))
      val nn = udf { (lonv: Double, latv: Double) =>
        if (lonv.isNaN || latv.isNaN) None
        else {
          val (nMicro, tie) = bcKd.value.nearestPacked(lonv, latv)
          Some((tie, nMicro.toDouble / 1e6))
        }
      }
      return lRaw
        .withColumn("__nn", nn(col("__llon"), col("__llat")))
        .select(col("__lkey").as(leftKey), col("__nn._1").as("__tie"), col("__nn._2").as("dist"))
    }
    // auto cell: aim ~4 right rows per cell so the 3×3 first probe sees
    // ~36 candidates regardless of density (sparse data → big cells → few
    // rounds; dense data → small cells → small candidate sets)
    val g = if (cellDeg > 0) cellDeg
    else {
      val area = math.max(1.0, (b.getDouble(5) - b.getDouble(4)) * (b.getDouble(7) - b.getDouble(6)))
      math.min(45.0, math.max(0.5, math.sqrt(4.0 * area / b.getLong(8))))
    }
    val l0 = lRaw
      .withColumn("__lcx", floor(col("__llon") / g).cast("long"))
      .withColumn("__lcy", floor(col("__llat") / g).cast("long"))
    val r0 = rRaw
      .withColumn("__rcx", floor(col("__rlon") / g).cast("long"))
      .withColumn("__rcy", floor(col("__rlat") / g).cast("long"))
    r0.persist()
    def cell(v: Double): Long = math.floor(v / g).toLong
    val kCover = math.max(
      math.max(cell(b.getDouble(1)) - cell(b.getDouble(4)), cell(b.getDouble(5)) - cell(b.getDouble(0))),
      math.max(cell(b.getDouble(3)) - cell(b.getDouble(6)), cell(b.getDouble(7)) - cell(b.getDouble(2)))).max(1L)
    // RAW distance — the packed argmin rounds once at pack time
    // (round(d·1e6) ≡ round(round(d,6)·1e6) for HALF_UP at 1e-6), and the
    // unpacked dist output is n/1e6 either way; skipping the intermediate
    // round halves the per-pair BigDecimal cost in the exhaustive tail
    val dist =
      graft.functions.GeoFunctions.haversineColKm(col("__llon"), col("__llat"), col("__rlon"), col("__rlat"))
    val rightCount = b.getLong(8)
    // once |unresolved|·|right| fits this budget, the exhaustive argmin is
    // ONE balanced linear-work job — cheaper than more ring rounds. This is
    // also what rescues the polar tail: a high-latitude row's longitude
    // lower bound decays with cos(lat) and may never clear, but the tail
    // it belongs to is tiny, so it lands in the exhaustive pass instead of
    // iterating. Small inputs (≤ budget outright) skip the grid entirely.
    // (parameter; spec-sized inputs pass a tiny budget to force the ring
    // rounds that production sizes hit)
    // ring rounds stop at k=8 (17² probe cells): beyond that the lon
    // lower bound has decayed (cos(|lat|+(k+1)g)) so extra rings resolve
    // almost nothing, and the exploded probe grows quadratically in k —
    // AQE also badly under-estimates explode output and can try to
    // broadcast it (driver OOM, caught at sf1). The unresolved tail is by
    // then a small fraction; its exhaustive pass is bounded streaming work.
    val kMaxRing = 8L
    // broadcast-size right side → pin the build side explicitly so the
    // planner can never broadcast the exploded probe
    val rSmall = rightCount < 1000000L
    def rightSide: DataFrame = if (rSmall) broadcast(r0) else r0
    val resolved = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var unresolved = l0
    var unresolvedCount = lRaw.count()
    var k = 1L
    var done = false
    while (!done) {
      if (k >= kCover || unresolvedCount * rightCount <= exhaustiveBudget
        || (rSmall && k > kMaxRing)) {
        // exhaustive tail: the stragglers (typically high-latitude or
        // isolated rows) argmin against the full right side. Persist +
        // materialize HERE, in a job with the plan's natural parallelism:
        // left lazy, a downstream `.coalesce(1).write` would swallow this
        // whole branch into one task (coalesce collapses the final stage
        // back to the last exchange — measured 380 s single-task at sf1).
        val tail = nearestJoinAggPacked(
          unresolved.crossJoin(rightSide).withColumn("__d", dist), "__lkey", col("__d"), col("__rkey"))
          .persist()
        tail.count()
        resolved += tail
        done = true
      } else {
        val offs = for { dx <- -k to k; dy <- -k to k } yield (dx, dy)
        val probe = unresolved.withColumn(
          "__off", explode(array(offs.map { case (dx, dy) => struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)))
        val cands = probe
          .join(rightSide,
            probe("__lcx") + col("__off.dx") === r0("__rcx") &&
              probe("__lcy") + col("__off.dy") === r0("__rcy"))
          .withColumn("__d", dist)
        val winners = nearestJoinAggPacked(
          cands.select(col("__lkey"), col("__llat"), col("__d"), col("__rkey")),
          "__lkey", col("__d"), col("__rkey"))
          // per-row resolution bound: anything outside the block is ≥ k·g
          // degrees away in lat OR lon; 1e-3 km margin absorbs the 1e-6
          // rounding so a boundary tie can never flip the argmin
          .join(unresolved.select(col("__lkey"), col("__llat")), "__lkey")
          .withColumn("__lb",
            least(
              lit(111.0 * k * g),
              lit(70.0 * k * g) * cos(radians(least(lit(90.0), abs(col("__llat")) + lit((k + 1) * g))))) - lit(1e-3))
          // aggregated, |left|-bounded — persist so the round's candidate
          // join runs ONCE (the isEmpty probe and the final union would
          // otherwise both recompute it)
          .persist()
        resolved += winners.filter(col("dist") <= col("__lb")).select(col("__lkey"), col("__tie"), col("dist"))
        val settled = winners.filter(col("dist") <= col("__lb")).select(col("__lkey"))
        unresolved = unresolved.join(settled, Seq("__lkey"), "left_anti").persist()
        unresolvedCount = unresolved.count()
        if (unresolvedCount == 0) done = true else k *= 2
      }
    }
    val out = resolved.reduce(_ unionByName _).withColumnRenamed("__lkey", leftKey)
    // materialization happens lazily downstream; persisted helpers are
    // small (cell-tagged right side + shrinking unresolved fronts)
    out
  }

  /** A4 + J9 + F11/F12 — weighted overlay (reference
    * `indicator-from-areas.js:68-134`, the §3.2 representative query):
    * for each (way, area) candidate pair from the bbox join, split the way
    * by the area boundary (F11), keep pieces whose first-segment midpoint
    * (F9) lies strictly inside (F12), weight `len(piece)/len(way) · value`
    * (geodesic lengths, F8), then sum per way and scale-score (A1).
    *
    * `ways`: (way_id, coords array<array<double>>);
    * `areas`: (area_id, rings array<array<array<double>>>, value).
    */
  def indicatorFromAreas(ways: DataFrame, areas: DataFrame): DataFrame = {
    val contribUdf = udf {
      (coords: Seq[Seq[Double]], rings: Seq[Seq[Seq[Double]]], value: Double) =>
        val wayLen = GeoFunctions.lineLengthKm(coords)
        if (wayLen == 0.0) 0.0
        else {
          val pieces = GeoFunctions.lineSplit(coords, rings)
          pieces.iterator.map { piece =>
            val mid = GeoFunctions.firstSegmentMidpoint(piece)
            if (GeoFunctions.pointInPolygon(mid(0), mid(1), rings))
              GeoFunctions.lineLengthKm(piece) / wayLen * value
            else 0.0
          }.sum
        }
    }
    val waysB = ways.withColumn("__wbox", GeoFunctions.bboxUdf(col("coords")))
    val areasB = areas.withColumn("__abox", GeoFunctions.bboxUdf(flatten(col("rings"))))
    val pairs = bboxJoin(waysB, areasB, col("__wbox"), col("__abox"))
      .withColumn("__contrib", contribUdf(col("coords"), col("rings"), col("value")))
      .filter(col("__contrib") > 0.0)
    val summed = pairs
      .groupBy(col("way_id"))
      .agg(sum(col("__contrib")).as("value"))
    Relational.scaleScore2(summed, "value")
  }
}
