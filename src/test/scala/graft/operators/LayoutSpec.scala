package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TempDirs}

/** Layout-tier contracts: Z-order bit exactness vs a loop reference,
  * disjoint Z ranges after clustering (the file-pruning precondition),
  * a measured pruning win vs round-robin layout, shuffle-free compaction,
  * and the no-Exchange bucketed join.
  */
class LayoutSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(4, "layout-spec")
  import spark.implicits._

  /** Bit-by-bit reference interleave (the definition, no magic). */
  private def mortonRef(x: Long, y: Long, bits: Int): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  private def mortonRef3(x: Long, y: Long, z: Long, bits: Int): Long = {
    var m = 0L
    var i = 0
    while (i < bits) {
      m |= ((x >> i) & 1L) << (3 * i)
      m |= ((y >> i) & 1L) << (3 * i + 1)
      m |= ((z >> i) & 1L) << (3 * i + 2)
      i += 1
    }
    m
  }

  test("zorder2 matches the bit-by-bit interleave definition") {
    val rnd = new scala.util.Random(7)
    val pts = Seq.tabulate(512)(i =>
      if (i < 8) (Seq(0L, 1L, 65535L, 32768L)(i % 4), Seq(0L, 65535L, 1L, 32767L)(i % 4))
      else (rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val got = pts.toDF("x", "y")
      .select($"x", $"y", Layout.zorder2($"x", $"y").as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) == mortonRef(r.getLong(0), r.getLong(1), 16),
        s"(${r.getLong(0)},${r.getLong(1)})")
    }
    // masking contract: only the low 16 bits participate
    val masked = Seq((0x12345L, 0x10001L)).toDF("x", "y")
      .select(Layout.zorder2($"x", $"y")).as[Long].head()
    assert(masked == mortonRef(0x2345L, 0x0001L, 16))
  }

  test("zorder3 matches the 3-D interleave definition") {
    val rnd = new scala.util.Random(11)
    val pts = Seq.tabulate(256)(_ =>
      (rnd.nextInt(1 << 10).toLong, rnd.nextInt(1 << 10).toLong, rnd.nextInt(1 << 10).toLong))
    val got = pts.toDF("x", "y", "w")
      .select($"x", $"y", $"w", Layout.zorder3($"x", $"y", $"w").as("m"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(3) == mortonRef3(r.getLong(0), r.getLong(1), r.getLong(2), 10))
    }
  }

  test("clusterByZorder yields disjoint per-partition Z ranges and a real pruning win") {
    // 64×64 grid of points, shuffled input order
    val rnd = new scala.util.Random(3)
    val pts = rnd.shuffle(for { x <- 0 until 64; y <- 0 until 64 } yield (x, y))
    val df = pts.toDF("x", "y")
    val parts = 16
    val clustered = Layout.clusterByZorder(df, Seq($"x", $"y"), parts)

    // per-partition (zmin, zmax, xmin, xmax, ymin, ymax)
    def stats(d: org.apache.spark.sql.DataFrame) = d
      .select($"x", $"y", Layout.zorder2($"x", $"y").as("z"))
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg(min("z").as("zlo"), max("z").as("zhi"),
        min("x").as("xlo"), max("x").as("xhi"),
        min("y").as("ylo"), max("y").as("yhi"))
      .collect()

    val cs = stats(clustered)
    // disjoint Z intervals (range partitioning on z ⇒ files prune on z)
    val sorted = cs.sortBy(_.getAs[Long]("zlo"))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("zhi") < b.getAs[Long]("zlo"),
          s"overlapping z ranges: $a vs $b")
      case _ =>
    }

    // pruning proxy: how many partitions' (x,y) bounding boxes intersect a
    // 8×8 query box? Z-clustering keeps it to a corner of the partitions;
    // a round-robin layout intersects with ALL of them.
    def hits(rows: Array[org.apache.spark.sql.Row]): Int = rows.count { r =>
      !(r.getAs[Int]("xhi") < 8 || r.getAs[Int]("xlo") > 15 ||
        r.getAs[Int]("yhi") < 40 || r.getAs[Int]("ylo") > 47)
    }
    val roundRobin = stats(df.repartition(parts))
    assert(hits(roundRobin) == parts, "round-robin baseline should intersect everywhere")
    assert(hits(cs) <= parts / 4, s"z-layout should prune ≥75% of partitions, hit ${hits(cs)}/$parts")
  }

  test("zRangesForBox: exact cover — z in ranges iff (x,y) in box; coarsening stays a superset") {
    def inRanges(rs: Seq[(Long, Long)], z: Long) = rs.exists { case (lo, hi) => z >= lo && z <= hi }
    val rnd = new scala.util.Random(19)
    (1 to 20).foreach { _ =>
      val x0 = rnd.nextInt(200); val x1 = x0 + rnd.nextInt(60)
      val y0 = rnd.nextInt(200); val y1 = y0 + rnd.nextInt(60)
      val rs = Layout.zRangesForBox(x0, x1, y0, y1)
      // sorted, disjoint, merged
      rs.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 + 1 < b._1, s"unmerged/unsorted: $a $b")
        case _ =>
      }
      // exhaustive over a window containing the box
      for (x <- math.max(0, x0 - 2) to x1 + 2; y <- math.max(0, y0 - 2) to y1 + 2) {
        val z = mortonRef(x.toLong, y.toLong, 16)
        val inBox = x >= x0 && x <= x1 && y >= y0 && y <= y1
        assert(inRanges(rs, z) == inBox, s"($x,$y) z=$z box=[$x0..$x1]x[$y0..$y1]")
      }
      // a coarsened decomposition covers at least everything the exact one does
      val coarse = Layout.zRangesForBox(x0, x1, y0, y1, maxRanges = 4)
      assert(coarse.size <= rs.size || rs.size <= 4)
      for (x <- x0 to x1; y <- y0 to y1)
        assert(inRanges(coarse, mortonRef(x.toLong, y.toLong, 16)), "coarse ranges lost a box point")
    }
    // degenerate single cell
    assert(Layout.zRangesForBox(5, 5, 7, 7) == Seq((mortonRef(5, 7, 16), mortonRef(5, 7, 16))))
  }

  test("boxQuery over a z-clustered table: pushed z intervals, exact result") {
    val dir = tempDir("graft-zbox").toString
    val rnd = new scala.util.Random(23)
    val pts = rnd.shuffle(for { x <- 0 until 128; y <- 0 until 128 } yield (x, y))
    Layout.clusterByZorderKeep(pts.toDF("x", "y"), Seq($"x", $"y"), numFiles = 16)
      .write.mode("overwrite").parquet(dir)
    val table = spark.read.parquet(dir)
    val got = Layout.boxQuery(table, $"x", $"y", $"z", 32, 47, 96, 111)
    val rows = got.select("x", "y").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val want = (for { x <- 32 to 47; y <- 96 to 111 } yield (x, y)).toSet
    assert(rows == want, s"missing ${want.diff(rows).size}, extra ${rows.diff(want).size}")
    // the z BETWEEN predicates reach the parquet scan as pushed filters
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThanOrEqual(z,"),
      "z intervals did not push to the scan:\n" + plan.take(800))
  }

  test("compact coalesces a small-files directory without a shuffle") {
    val in = tempDir("graft-compact-in").toString
    val out = tempDir("graft-compact-out").toString
    spark.range(10000).select($"id", ($"id" % 97).as("k"))
      .repartition(32).write.mode("overwrite").parquet(in)
    val inFiles = new java.io.File(in).listFiles.count(_.getName.endsWith(".parquet"))
    assert(inFiles == 32)

    val total = new java.io.File(in).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // pin scan split sizing: the shared test session may carry other
    // specs' conf, and if the scan packs all 32 shards into < n splits,
    // coalesce (correctly) emits fewer files than planned
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    val n =
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", (total / 16).max(1L).toString)
        spark.conf.set("spark.sql.files.openCostInBytes", (total / 16).max(1L).toString)
        Layout.compact(spark, in, out, targetBytes = total / 4)
      } finally {
        spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
        spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
      }
    val outFiles = new java.io.File(out).listFiles.count(_.getName.endsWith(".parquet"))
    assert(n >= 4 && n <= 5, s"expected ~4 output files, planned $n")
    assert(outFiles == n, s"planned $n files, wrote $outFiles")

    // content identical
    val a = spark.read.parquet(in).groupBy("k").count()
    val b = spark.read.parquet(out).groupBy("k").count()
    assert(a.except(b).isEmpty && b.except(a).isEmpty)

    // narrow plan: coalesce, not an exchange
    val plan = spark.read.parquet(in).coalesce(4).queryExecution.executedPlan.toString
    assert(plan.contains("Coalesce") && !plan.contains("Exchange"), plan.take(400))
  }

  test("compact sizes PARTITIONED layouts correctly (nested data files, not 0 bytes)") {
    val in = tempDir("graft-compact-part").toString
    val out = tempDir("graft-compact-part-out").toString
    spark.range(20000).select($"id", ($"id" % 4).as("p"), ($"id" % 97).as("k"))
      .repartition(8).write.mode("overwrite").partitionBy("p").parquet(in)
    // data files live under p=*/ subdirectories; a top-level listing sees 0
    val n = Layout.compact(spark, in, out, targetBytes = Long.MaxValue)
    assert(n == 1, s"everything fits one coalesce task, planned $n")
    val a = spark.read.parquet(in).groupBy("p").count()
    val b = spark.read.parquet(out).groupBy("p").count()
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    // the partition scheme SURVIVES the rewrite (pruning stays possible)
    val outDirs = new java.io.File(out).listFiles.filter(_.isDirectory).map(_.getName).sorted
    assert(outDirs.toSeq == Seq("p=0", "p=1", "p=2", "p=3"),
      s"partition directories lost: ${outDirs.mkString(",")}")
    val pruned = spark.read.parquet(out).filter($"p" === 2)
    assert(pruned.count() == 5000)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(p"),
      "partition filter did not reach the scan")
    // an empty directory fails loudly instead of planning a 1-file rewrite
    val empty = tempDir("graft-compact-empty").toString
    val ex = intercept[IllegalArgumentException](
      Layout.compact(spark, empty, out, targetBytes = 1024))
    assert(ex.getMessage.contains("no .parquet"))
  }

  test("bloom index: point lookup scans candidate files only, result == full-scan filter") {
    val dir = tempDir("graft-bloom").toString
    // high-cardinality key with NO ordering: min/max file stats are
    // useless (every file spans ~the full key range), only the bloom prunes
    val df = spark.range(50000)
      .select(($"id" * 2654435761L % 100003).as("k"), $"id".as("payload"))
    Layout.writeBloomIndexed(df, "k", dir, numFiles = 16, expectedPerFile = 10000L, fpp = 0.01)

    val probe = df.limit(1).collect().head.getLong(0)
    // hash-partitioned by k ⇒ the true rows live in exactly ONE file; at
    // fpp=0.01 the expected false-positive candidates are ~0.15 files —
    // allow a generous margin but require a real pruning win
    val cand = Layout.bloomCandidateFiles(spark, dir, lit(probe))
    assert(cand >= 1 && cand <= 4, s"candidates=$cand of 16")

    val got = Layout.bloomLookup(spark, dir, "k", lit(probe))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    val want = df.filter($"k" === probe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    assert(got.nonEmpty && got.toSeq == want.toSeq)

    // absent key: overwhelmingly zero candidates at this fpp; lookup is
    // exact-empty regardless (residual filter erases any false positive)
    val absent = Layout.bloomLookup(spark, dir, "k", lit(100004L)).count()
    assert(absent == 0)
  }

  test("minmax index: range lookup scans overlapping files only, result == full-scan filter") {
    val dir = tempDir("graft-minmax").toString
    val df = spark.range(50000).select($"id".as("k"), ($"id" * 7).as("payload"))
    Layout.writeMinMaxIndexed(df, "k", dir, numFiles = 16)

    // range-partitioned ⇒ zones are nearly disjoint (~3125 keys/file); a
    // 1000-wide probe range overlaps at most 2 zones
    val cand = Layout.minMaxCandidateFiles(spark, dir, lit(20000L), lit(20999L))
    assert(cand >= 1 && cand <= 2, s"candidates=$cand of 16")

    val got = Layout.rangeLookup(spark, dir, "k", lit(20000L), lit(20999L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val want = df.filter($"k".between(20000L, 20999L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.length == 1000 && got.toSeq == want.toSeq)

    // a range outside the key domain overlaps NO zone: zero candidates
    // and an exact-empty result without touching any data file
    assert(Layout.minMaxCandidateFiles(spark, dir, lit(60000L), lit(70000L)) == 0)
    assert(Layout.rangeLookup(spark, dir, "k", lit(60000L), lit(70000L)).count() == 0)
  }

  test("shuffleShard: permutation, balanced shards, invariant to input partitioning") {
    val df = spark.range(1000).select($"id".as("doc_id"))
    val out = Layout.shuffleShard(df, "doc_id", numShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))

    // positions are exactly 0..n-1 (a permutation, no gaps/dups)
    assert(out.map(_._2).sorted.toSeq == (0L until 1000L))
    // the deal is round-robin off the position
    assert(out.forall { case (_, pos, shard, pis) => shard == pos % 8 && pis == pos / 8 })
    // shards are equal ±1 with no counting pass
    val sizes = out.groupBy(_._3).map(_._2.length)
    assert(sizes.max - sizes.min <= 1)
    // the order is shuffled, not identity (hash order ≠ id order)
    assert(out.sortBy(_._2).map(_._1).take(20).toSeq != (0L until 20L))

    // determinism: a radically different input partitioning yields the
    // IDENTICAL permutation — the resume/reproducibility contract
    val repartitioned = Layout.shuffleShard(df.repartition(13), "doc_id", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(repartitioned.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
  }

  test("bucketed tables join with no Exchange on either side") {
    val wh = tempDir("graft-bucket").toString
    val facts = spark.range(20000).select($"id".as("k"), ($"id" * 7 % 1000).as("v"))
    val dims = spark.range(5000).select($"id".as("k"), concat(lit("n"), $"id").as("name"))
    Layout.writeBucketed(facts, "layoutspec_facts", "k", 8, wh)
    Layout.writeBucketed(dims, "layoutspec_dims", "k", 8, wh)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("layoutspec_facts")
        .join(spark.table("layoutspec_dims"), "k")
        .groupBy()
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
      val rows = j.collect()
      val plan = j.queryExecution.executedPlan.toString
      // the join itself is exchange-free: the only Exchange permitted is
      // the single-partition one feeding the global aggregate
      val exchanges = "Exchange".r.findAllIn(plan).size
      val single = "Exchange SinglePartition".r.findAllIn(plan).size
      assert(exchanges == single, s"join introduced a shuffle:\n${plan.take(1200)}")
      assert(plan.contains("SortMergeJoin"), plan.take(400))
      // values: every fact with k < 5000 matches exactly one dim
      assert(rows.head.getLong(1) == 5000L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // ------------------------------------------------------------- Hilbert tier

  import graft.functions.expressions.HilbertExpressions.xy2d

  /** Driver-side d→(x, y) inverse of [[xy2d]]. Note the rotation here
    * uses the CURRENT level size `s`, not `n`: the published inverse
    * pairs with xy2d exactly.
    */
  private def d2xy(order: Int, d: Long): (Long, Long) = {
    val n = 1L << order
    var x = 0L
    var y = 0L
    var t = d
    var s = 1L
    while (s < n) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s <<= 1
    }
    (x, y)
  }

  test("hilbert2 column matches the driver xy2d loop; d2xy round-trips; masking") {
    val rnd = new scala.util.Random(31)
    val pts = Seq.tabulate(512)(i =>
      if (i < 8) (Seq(0L, 1L, 65535L, 32768L)(i % 4), Seq(0L, 65535L, 1L, 32767L)(i % 4))
      else (rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val got = pts.toDF("x", "y")
      .select($"x", $"y", Layout.hilbert2($"x", $"y", order = 16).as("h"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) == xy2d(16, r.getLong(0), r.getLong(1)),
        s"(${r.getLong(0)},${r.getLong(1)})")
    }
    // masking contract: only the low `order` bits participate
    val masked = Seq((0x12345L, 0x10001L)).toDF("x", "y")
      .select(Layout.hilbert2($"x", $"y", order = 16)).as[Long].head()
    assert(masked == xy2d(16, 0x2345L, 0x0001L))
    // inverse round-trip at order 8, exhaustively
    (0L until 65536L).foreach { d =>
      val (x, y) = d2xy(8, d)
      assert(xy2d(8, x, y) == d, s"d=$d")
    }
  }

  test("hilbert adjacency: consecutive codes are 4-neighbour cells (Z provably is not)") {
    // THE locality property that motivates Hilbert over Morton: every
    // step of the curve moves one grid cell. Exhaustive at order 8.
    (0L until 65535L).foreach { d =>
      val (x0, y0) = d2xy(8, d)
      val (x1, y1) = d2xy(8, d + 1)
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1, s"jump at d=$d")
    }
    // the Z curve violates it at every power-of-two boundary
    val (zx0, zy0) = (1L, 1L)   // z=3
    val (zx1, zy1) = (2L, 0L)   // z=4
    assert(mortonRef(zx0, zy0, 8) + 1 == mortonRef(zx1, zy1, 8) &&
      math.abs(zx1 - zx0) + math.abs(zy1 - zy0) == 2)
  }

  test("hilbertRangesForBox: exact cover — h in ranges iff (x,y) in box; coarse superset") {
    def inRanges(rs: Seq[(Long, Long)], h: Long) = rs.exists { case (lo, hi) => h >= lo && h <= hi }
    val rnd = new scala.util.Random(37)
    (1 to 20).foreach { _ =>
      val x0 = rnd.nextInt(200).toLong; val x1 = x0 + rnd.nextInt(60)
      val y0 = rnd.nextInt(200).toLong; val y1 = y0 + rnd.nextInt(60)
      val rs = Layout.hilbertRangesForBox(x0, x1, y0, y1)
      rs.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 + 1 < b._1, s"unmerged/unsorted: $a $b")
        case _ =>
      }
      for (x <- math.max(0L, x0 - 2) to x1 + 2; y <- math.max(0L, y0 - 2) to y1 + 2) {
        val h = xy2d(16, x, y)
        val inBox = x >= x0 && x <= x1 && y >= y0 && y <= y1
        assert(inRanges(rs, h) == inBox, s"($x,$y) h=$h box=[$x0..$x1]x[$y0..$y1]")
      }
      val coarse = Layout.hilbertRangesForBox(x0, x1, y0, y1, maxRanges = 4)
      for (x <- x0 to x1; y <- y0 to y1)
        assert(inRanges(coarse, xy2d(16, x, y)), "coarse ranges lost a box point")
    }
    // degenerate single cell
    val d55 = xy2d(16, 5, 7)
    assert(Layout.hilbertRangesForBox(5, 5, 7, 7) == Seq((d55, d55)))
  }

  test("hilbertBoxQuery over a clustered table: pushed h intervals, exact result") {
    val dir = tempDir("graft-hbox").toString
    val rnd = new scala.util.Random(41)
    val pts = rnd.shuffle(for { x <- 0 until 128; y <- 0 until 128 } yield (x, y))
    Layout.clusterByHilbertKeep(pts.toDF("x", "y"), Seq($"x", $"y"), numFiles = 16, order = 8)
      .write.mode("overwrite").parquet(dir)
    val table = spark.read.parquet(dir)
    val got = Layout.hilbertBoxQuery(table, $"x", $"y", $"h", 32, 47, 96, 111, order = 8)
    val rows = got.select("x", "y").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val want = (for { x <- 32 to 47; y <- 96 to 111 } yield (x, y)).toSet
    assert(rows == want, s"missing ${want.diff(rows).size}, extra ${rows.diff(want).size}")
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThanOrEqual(h,"),
      "h intervals did not push to the scan:\n" + plan.take(800))
  }

  test("clusterByHilbert: disjoint per-partition h ranges and a pruning win") {
    val rnd = new scala.util.Random(43)
    val pts = rnd.shuffle(for { x <- 0 until 64; y <- 0 until 64 } yield (x, y))
    val df = pts.toDF("x", "y")
    val parts = 16
    val clustered = Layout.clusterByHilbert(df, Seq($"x", $"y"), parts, order = 6)

    def stats(d: org.apache.spark.sql.DataFrame) = d
      .select($"x", $"y", Layout.hilbert2($"x", $"y", order = 6).as("h"))
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg(min("h").as("hlo"), max("h").as("hhi"),
        min("x").as("xlo"), max("x").as("xhi"),
        min("y").as("ylo"), max("y").as("yhi"))
      .collect()

    val cs = stats(clustered)
    val sorted = cs.sortBy(_.getAs[Long]("hlo"))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("hhi") < b.getAs[Long]("hlo"),
          s"overlapping h ranges: $a vs $b")
      case _ =>
    }
    def hits(rows: Array[org.apache.spark.sql.Row]): Int = rows.count { r =>
      !(r.getAs[Int]("xhi") < 8 || r.getAs[Int]("xlo") > 15 ||
        r.getAs[Int]("yhi") < 40 || r.getAs[Int]("ylo") > 47)
    }
    val roundRobin = stats(df.repartition(parts))
    assert(hits(roundRobin) == parts, "round-robin baseline should intersect everywhere")
    assert(hits(cs) <= parts / 4, s"hilbert layout should prune ≥75% of partitions, hit ${hits(cs)}/$parts")
  }
}
