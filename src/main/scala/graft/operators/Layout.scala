package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-LAYOUT operators — how bytes are arranged at rest, the lever that
  * matters most at 100 TB and is invisible at spec scale:
  *
  *  - [[zorder2]]/[[zorder3]]: Morton (Z-order) interleave of column bits
  *    as a pure builtin-column expression (shiftleft/and/or only, so it
  *    stays inside whole-stage codegen and is replayable as ANSI SQL by
  *    the oracle). Sorting/range-partitioning by the Z value clusters
  *    rows that are close in EVERY keyed dimension into the same files,
  *    so parquet row-group min/max stats prune multi-dimensional
  *    predicates — the Databricks-Delta/Iceberg `ZORDER BY` shape,
  *    re-expressed on vanilla Spark.
  *  - [[clusterByZorder]]: repartitionByRange + sortWithinPartitions on
  *    the Z value — one range-exchange, then each output file covers a
  *    disjoint Z interval (asserted in LayoutSpec).
  *  - [[compact]]: the small-files fix — coalesce a directory of parquet
  *    shards to ceil(bytes/target) files WITHOUT a shuffle (coalesce, not
  *    repartition: it only narrows the read tasks). At 100 TB a streaming
  *    sink or over-parallel job leaves 10⁵ tiny files whose per-file open
  *    cost dominates the next scan; compaction is routine maintenance.
  *  - [[writeBucketed]]: hash-bucketed + per-bucket-sorted table write, so
  *    two tables bucketed on the same join key join with NO exchange on
  *    either side (LayoutSpec asserts the plan) — pre-shuffled at rest,
  *    the co-located-join contract from SURVEY §2's scale notes.
  *
  * No reference analog (the reference materializes flat GeoJSON/CSV
  * between stages); this is the beyond-reference mandate's storage tier.
  */
object Layout {

  /** Spread the low 16 bits of `c` so that bit i lands at position 2·i
    * (binary-magic-numbers bit spreading — the public branch-free form).
    * Input is masked to 16 bits first, so callers may pass any integral
    * column; output occupies the even bits of a 32-bit value.
    */
  def spread16(c: Column): Column = {
    val x0 = c.cast("long").bitwiseAND(lit(0xffffL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00ff00ffL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0f0f0f0fL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 2-D Morton code: interleaves the low 16 bits of `x` and `y`
    * (x in even bits, y in odd) into a 32-bit Z value. Pure builtin
    * expressions — codegen'd, pushdown-transparent, oracle-replayable.
    */
  def zorder2(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1)).as("z")

  /** Spread the low 10 bits of `c` to every 3rd position (for 3-D Morton;
    * 3 × 10 bits = 30-bit code). Magic numbers are the public 3-D set.
    */
  def spread10x3(c: Column): Column = {
    val x0 = c.cast("long").bitwiseAND(lit(0x3ffL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 16)).bitwiseAND(lit(0x030000ffL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 8)).bitwiseAND(lit(0x0300f00fL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 4)).bitwiseAND(lit(0x030c30c3L))
    x3.bitwiseOR(shiftleft(x3, 2)).bitwiseAND(lit(0x09249249L))
  }

  /** 3-D Morton code over the low 10 bits of each column. */
  def zorder3(x: Column, y: Column, z: Column): Column =
    spread10x3(x)
      .bitwiseOR(shiftleft(spread10x3(y), 1))
      .bitwiseOR(shiftleft(spread10x3(z), 2))

  /** Cluster `df` by the Z-order of `keys` into `numFiles` output
    * partitions: one range exchange on the Z value (AQE-friendly, skew
    * handled by the range sampler), then an in-partition sort so parquet
    * row groups inside each file are Z-contiguous too. The result's
    * partitions cover DISJOINT Z intervals — multi-dim min/max pruning
    * at file AND row-group granularity. The helper Z column is dropped
    * from the result; pass the returned frame straight to `.write`.
    */
  def clusterByZorder(df: DataFrame, keys: Seq[Column], numFiles: Int): DataFrame = {
    require(keys.size == 2 || keys.size == 3, s"zorder supports 2 or 3 keys, got ${keys.size}")
    val zc = if (keys.size == 2) zorder2(keys(0), keys(1)) else zorder3(keys(0), keys(1), keys(2))
    df.withColumn("__graft_z", zc)
      .repartitionByRange(numFiles, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
  }

  /** Variant of [[clusterByZorder]] that KEEPS the Z value as `zCol` in
    * the output — store it alongside the data and box queries can push
    * [[zRangesForBox]] intervals down to parquet row-group min/max stats.
    */
  def clusterByZorderKeep(
      df: DataFrame,
      keys: Seq[Column],
      numFiles: Int,
      zCol: String = "z"): DataFrame = {
    require(keys.size == 2, s"zorder box queries support 2 keys, got ${keys.size}")
    df.withColumn(zCol, zorder2(keys(0), keys(1)))
      .repartitionByRange(numFiles, col(zCol))
      .sortWithinPartitions(zCol)
  }

  /** Decompose the 2-D box `[xmin..xmax] × [ymin..ymax]` (inclusive,
    * 16-bit coords) into the EXACT set of Z-value intervals it covers —
    * the query-side half of Z-ordering (the classic quadtree walk behind
    * Tropf–Herzog BIGMIN/LITMAX, 1981): a quad cell fully inside the box
    * emits its whole contiguous Z interval; a cell partially overlapping
    * splits into its four children; disjoint cells drop. Adjacent
    * intervals merge, so the result is the minimal sorted interval set
    * with NO false positives — `z ∈ ranges ⟺ (x, y) ∈ box`. Interval
    * count is O(perimeter) worst-case; `maxRanges` coarsens beyond that
    * (cells emit their full interval once the budget is hit — still a
    * superset, callers keep the exact residual filter).
    */
  def zRangesForBox(
      xmin: Int, xmax: Int, ymin: Int, ymax: Int,
      maxRanges: Int = 1 << 12): Seq[(Long, Long)] = {
    require(xmin >= 0 && ymin >= 0 && xmax < 65536 && ymax < 65536 && xmin <= xmax && ymin <= ymax,
      s"box out of 16-bit range: [$xmin..$xmax]x[$ymin..$ymax]")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // cell = (x0, y0, size); z interval of a cell is [zbase, zbase + size²)
    def interleave(x: Long, y: Long): Long = {
      var z = 0L
      var i = 0
      while (i < 16) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    def walk(x0: Int, y0: Int, size: Int): Unit = {
      if (x0 > xmax || y0 > ymax || x0 + size - 1 < xmin || y0 + size - 1 < ymin) ()
      else if ((x0 >= xmin && x0 + size - 1 <= xmax && y0 >= ymin && y0 + size - 1 <= ymax) ||
        (size > 1 && out.size >= maxRanges)) {
        // a size-1 cell that is not disjoint is necessarily fully inside,
        // so this branch also terminates the recursion
        val zb = interleave(x0.toLong, y0.toLong)
        val ze = zb + size.toLong * size - 1
        if (out.nonEmpty && out.last._2 + 1 == zb) out(out.size - 1) = (out.last._1, ze)
        else out += ((zb, ze))
      } else {
        val h = size / 2
        // children in Z order: (0,0), (1,0), (0,1), (1,1) — x in even bits,
        // so the x step comes first; keeps emitted intervals sorted
        walk(x0, y0, h); walk(x0 + h, y0, h); walk(x0, y0 + h, h); walk(x0 + h, y0 + h, h)
      }
    }
    walk(0, 0, 65536)
    out.toSeq
  }

  /** Box query over a Z-clustered table: OR of `z BETWEEN` interval
    * predicates (pushed to parquet row-group/file min-max stats — the
    * scan skips every Z-disjoint unit) plus the exact per-column residual
    * filter. With exact ranges the residual is redundant but free; with a
    * coarsened superset (`maxRanges`) it restores exactness.
    */
  def boxQuery(
      df: DataFrame,
      xCol: Column, yCol: Column, zCol: Column,
      xmin: Int, xmax: Int, ymin: Int, ymax: Int): DataFrame = {
    val ranges = zRangesForBox(xmin, xmax, ymin, ymax, maxRanges = 64)
    val zPred = ranges
      .map { case (lo, hi) => zCol.between(lit(lo), lit(hi)) }
      .reduce(_ || _)
    df.filter(zPred)
      .filter(xCol.between(lit(xmin), lit(xmax)) && yCol.between(lit(ymin), lit(ymax)))
  }

  /** Compact the parquet directory `inDir` into ceil(totalBytes /
    * targetBytes) files at `outDir`. Uses `coalesce` — a NARROW
    * dependency, so no shuffle: each output task just reads several input
    * shards back-to-back. Path-scheme-generic (the Hadoop FS API resolves
    * `s3a://` the same as `file://`), which is where the small-files
    * problem actually lives. Returns the PLANNED task count; the writer
    * emits `min(planned, scan partitions)` files — coalesce never raises
    * parallelism, so if the scan already packs the shards into fewer
    * splits (`spark.sql.files.maxPartitionBytes`) the output is simply
    * more compact than asked, never less. Hive-partitioned inputs keep
    * their `k=v` directory scheme (each of the n tasks writes one file
    * per partition value it holds — pruning survives; for per-partition
    * file counts, compact each partition directory individually).
    */
  def compact(spark: SparkSession, inDir: String, outDir: String, targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val p = new org.apache.hadoop.fs.Path(inDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recursive: a partitioned layout (date=*/part-*.parquet) keeps its
    // data files below nested directories — a top-level-only listing
    // would size it at 0 bytes and collapse the dataset to ONE file
    val it = fs.listFiles(p, true)
    var total = 0L
    var sample: org.apache.hadoop.fs.Path = null
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.endsWith(".parquet")) { total += s.getLen; sample = s.getPath }
    }
    require(total > 0, s"no .parquet data files under $inDir")
    // hive-style `k=v` path segments between inDir and the data file are
    // partition columns — they MUST survive the rewrite, or every
    // downstream reader loses partition pruning
    val rel = sample.toString.stripPrefix(fs.makeQualified(p).toString).split('/')
    val partCols = rel.filter(seg => seg.contains('=') && !seg.startsWith("."))
      .map(_.takeWhile(_ != '='))
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(inDir).coalesce(n)
    val w = df.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols.toIndexedSeq: _*) else w).parquet(outDir)
    n
  }

  /** FILE-LEVEL BLOOM SKIPPING INDEX — point-lookup pruning for high-
    * cardinality keys where min/max stats are useless (uuid-ish keys are
    * uniform per file, so every file's [min,max] straddles every probe).
    * Writes `df` hash-partitioned by `keyCol` into `numFiles` data files
    * (each key's rows land in exactly ONE file), then builds one bloom
    * filter PER FILE over `xxhash64(keyCol)` and stores the sidecar at
    * `dir/_bloom_index` (file → serialized bloom). The aggregation uses
    * Spark's native `BloomFilterAggregate` (the expression behind runtime
    * row-group filtering): map-side partials are bloom merges, so the
    * index pass shuffles `numFiles` blooms, never rows.
    *
    * [[bloomLookup]] then answers a point query by reading the KB-sized
    * sidecar, keeping candidate files via `BloomFilterMightContain`, and
    * scanning only those — at 100 TB / 10⁵ files a lookup touches
    * 1 + fpp·(files−1) files instead of all of them, without any sort
    * order on the key. Exactness: the bloom admits false POSITIVES only,
    * and the residual `keyCol = value` filter inside the scan removes
    * them — output ≡ a full-scan filter (LayoutSpec + the qy4 oracle).
    */
  def writeBloomIndexed(
      df: DataFrame,
      keyCol: String,
      dir: String,
      numFiles: Int,
      expectedPerFile: Long = 1000000L,
      fpp: Double = 0.01): Unit = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.ColumnBridge
    val spark = df.sparkSession
    df.repartition(numFiles, col(keyCol))
      .write.mode("overwrite").parquet(s"$dir/data")
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .create(expectedPerFile, fpp).bitSize()
    val agg = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col(keyCol))),
        Literal(expectedPerFile),
        Literal(numBits)).toAggregateExpression())
    spark.read.parquet(s"$dir/data")
      .groupBy(input_file_name().as("file"))
      .agg(agg.as("bloom"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_bloom_index")
  }

  /** Point lookup through the [[writeBloomIndexed]] sidecar: returns the
    * rows with `keyCol = value`, scanning only bloom-candidate files.
    * The index read + candidate collect is bounded by the file count
    * (KBs); the data scan is the candidate files only.
    */
  /** Per-row `might_contain` over the sidecar: Spark's native
    * `BloomFilterMightContain` only accepts a CONSTANT bloom (it exists
    * for runtime filters), so candidate selection deserializes each
    * file's bloom once — one row per file by construction, so the work
    * is proportional to the file count, never the data.
    */
  private val mightContainUdf = udf { (bloom: Array[Byte], h: Long) =>
    org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bloom))
      .mightContainLong(h)
  }

  def bloomLookup(
      spark: SparkSession,
      dir: String,
      keyCol: String,
      value: Column): DataFrame = {
    val idx = spark.read.parquet(s"$dir/_bloom_index")
    val candidates = idx
      .filter(mightContainUdf(col("bloom"), xxhash64(value)))
      .select("file")
      .collect().map(_.getString(0))
    val schema = spark.read.parquet(s"$dir/data").schema
    if (candidates.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .filter(col(keyCol) === value)
    else
      spark.read.schema(schema).parquet(candidates.toIndexedSeq: _*)
        .filter(col(keyCol) === value)
  }

  /** Candidate-file count for a probe value — the pruning metric
    * (LayoutSpec asserts candidates ≪ total files for a present key and
    * documents the fpp contract for absent keys).
    * No gate or program calls it: it is how LayoutSpec checks the gated bloom
    * lookup's pruning.
    */
  def bloomCandidateFiles(spark: SparkSession, dir: String, value: Column): Long =
    spark.read.parquet(s"$dir/_bloom_index")
      .filter(mightContainUdf(col("bloom"), xxhash64(value)))
      .count()

  /** DETERMINISTIC CORPUS SHUFFLE + SHARDING — the terminal step of a
    * training-data pipeline: give every row a reproducible pseudorandom
    * global position (order by `orderKey`, tie-broken by `idCol`) and
    * deal rows round-robin into `numShards` shards (`shard = pos %
    * numShards`, `pos_in_shard = pos / numShards` — each shard is a
    * strided sample of the shuffled order, so shards are equal ±1 with
    * no second pass over the data).
    *
    * NOT a global sort: `repartitionByRange` on the key + in-partition
    * sort + `zipWithIndex` assigns the identical positions fully
    * distributed (range partitions are globally ordered, offsets
    * accumulate in partition order — the same pattern as RoadGraph's
    * dense node ids). A `row_number()` over an unpartitioned window
    * would serialize the corpus through ONE task.
    *
    * `orderKey` defaults to `xxhash64(idCol)` (production); pass any
    * deterministic expression — the qt22 gate uses a multiplicative hash
    * so DuckDB can replay the permutation exactly. Positions depend only
    * on (orderKey, idCol) values, never on input partitioning — the
    * reproducibility contract a training run needs to resume sharding.
    */
  def shuffleShard(
      df: DataFrame,
      idCol: String,
      numShards: Int,
      orderKey: Option[Column] = None): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val spark = df.sparkSession
    val key = orderKey.getOrElse(xxhash64(col(idCol)))
    val keyed = df
      .withColumn("__sk", key)
      .repartitionByRange(col("__sk"), col(idCol))
      .sortWithinPartitions(col("__sk"), col(idCol))
    val withPos = spark.createDataFrame(
      keyed.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      },
      keyed.schema.add("shuffle_pos", org.apache.spark.sql.types.LongType, nullable = false))
    withPos
      .withColumn("shard", (col("shuffle_pos") % numShards).cast("int"))
      .withColumn("pos_in_shard", expr(s"shuffle_pos div $numShards"))
      .drop("__sk")
  }

  /** FILE-LEVEL MIN/MAX ZONE-MAP INDEX — the range-query complement of
    * [[writeBloomIndexed]] (which serves point lookups on unordered
    * keys). Data is range-partitioned and sorted by `keyCol`, so each
    * output file covers a tight, nearly disjoint key interval; one
    * aggregation pass (`groupBy input_file_name`) records each file's
    * (lo, hi, rows) into a KB-sized `_minmax_index` sidecar.
    *
    * Parquet footers already carry row-group min/max — but at 100 TB /
    * 10⁵ files, footer-based skipping still opens every file. The
    * sidecar is ONE small read on the driver; non-overlapping files are
    * never listed in the scan at all, so a narrow range query plans
    * O(matching files) tasks instead of O(all files) footer probes.
    * This is the Iceberg/Delta manifest-stats shape on vanilla Spark.
    *
    * Exactness: pruning only drops files whose [lo, hi] cannot contain
    * the queried range; the residual BETWEEN filter inside the scan
    * handles partial overlap — output ≡ a full-scan filter (the qy5
    * oracle + LayoutSpec).
    */
  def writeMinMaxIndexed(
      df: DataFrame,
      keyCol: String,
      dir: String,
      numFiles: Int): Unit = {
    val spark = df.sparkSession
    df.repartitionByRange(numFiles, col(keyCol))
      .sortWithinPartitions(col(keyCol))
      .write.mode("overwrite").parquet(s"$dir/data")
    spark.read.parquet(s"$dir/data")
      .groupBy(input_file_name().as("file"))
      .agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"), count(lit(1)).as("rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_minmax_index")
  }

  /** Range query through the [[writeMinMaxIndexed]] sidecar: returns the
    * rows with `keyCol` in [lo, hi], scanning only files whose zone
    * interval overlaps the range. The index read is bounded by the file
    * count (KBs, driver-side); the data scan touches overlapping files
    * only.
    */
  def rangeLookup(
      spark: SparkSession,
      dir: String,
      keyCol: String,
      lo: Column,
      hi: Column): DataFrame = {
    val idx = spark.read.parquet(s"$dir/_minmax_index")
    val candidates = idx
      .filter(col("hi") >= lo && col("lo") <= hi)
      .select("file")
      .collect().map(_.getString(0))
    val schema = spark.read.parquet(s"$dir/data").schema
    if (candidates.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .filter(col(keyCol).between(lo, hi))
    else
      spark.read.schema(schema).parquet(candidates.toIndexedSeq: _*)
        .filter(col(keyCol).between(lo, hi))
  }

  /** Overlapping-file count for a probe range — the pruning metric
    * (LayoutSpec asserts candidates ≪ total files for a narrow range and
    * 0 for a range outside the key domain).
    * No gate or program calls it: it is how LayoutSpec checks the gated
    * min/max lookup's pruning.
    */
  def minMaxCandidateFiles(
      spark: SparkSession, dir: String, lo: Column, hi: Column): Long =
    spark.read.parquet(s"$dir/_minmax_index")
      .filter(col("hi") >= lo && col("lo") <= hi)
      .count()

  /** HILBERT-CURVE CLUSTERING — the locality-preserving upgrade of
    * [[clusterByZorder]]. The Hilbert index visits the 2-D grid so that
    * consecutive codes are always 4-neighbour cells (Z-order jumps across
    * half the domain at every power-of-two boundary), so range-clustering
    * by the Hilbert value yields files whose key-space footprint is a
    * compact blob instead of a Z-shaped straggle — fewer files overlap
    * any given query box, i.e. better min/max pruning at the same file
    * count (LayoutSpec pins the discriminating property exhaustively:
    * every consecutive Hilbert code pair is 4-adjacent; Z jumps at every
    * power-of-two boundary — plus the same ≥75% partition-pruning win
    * the Z layout is held to).
    * Computed by the codegen'd [[graft.functions.expressions.Hilbert2]]
    * expression — an O(order) loop at constant code size (a builtin-
    * column unroll would be O(2^order) tree nodes; that blowup is why
    * this sat in BACKLOG until the Expression tier picked it up).
    */
  def hilbert2(x: Column, y: Column, order: Int = 16): Column =
    graft.functions.expressions.HilbertExpressions.hilbert2(x, y, order)

  /** Cluster `df` by the Hilbert index of `(keys(0), keys(1))` into
    * `numFiles` range partitions, Hilbert-sorted within each — same
    * exchange shape as [[clusterByZorder]] (one range exchange, AQE/skew
    * friendly), different space-filling curve.
    */
  def clusterByHilbert(df: DataFrame, keys: Seq[Column], numFiles: Int, order: Int = 16): DataFrame = {
    require(keys.size == 2, s"hilbert clustering takes exactly 2 keys, got ${keys.size}")
    df.withColumn("__graft_h", hilbert2(keys(0), keys(1), order))
      .repartitionByRange(numFiles, col("__graft_h"))
      .sortWithinPartitions("__graft_h")
      .drop("__graft_h")
  }

  /** Variant keeping the Hilbert value as `hCol` — store it with the data
    * and box queries push [[hilbertRangesForBox]] intervals to parquet
    * min/max stats, the Hilbert analog of [[clusterByZorderKeep]].
    */
  def clusterByHilbertKeep(
      df: DataFrame,
      keys: Seq[Column],
      numFiles: Int,
      order: Int = 16,
      hCol: String = "h"): DataFrame =
    df.withColumn(hCol, hilbert2(keys(0), keys(1), order))
      .repartitionByRange(numFiles, col(hCol))
      .sortWithinPartitions(hCol)

  /** Decompose the inclusive box `[xmin..xmax] × [ymin..ymax]` into the
    * EXACT sorted set of Hilbert-index intervals covering it — the query
    * side of Hilbert clustering. Same quadtree walk as [[zRangesForBox]]:
    * a quad cell fully inside the box emits its d-interval whole, a
    * partial overlap splits into children, disjoint drops. The key fact
    * making this work for Hilbert exactly as for Z: an axis-aligned
    * power-of-two cell is a quadtree node, and every quadtree node's
    * points are CONTIGUOUS in Hilbert d (the curve fills each quadrant
    * entirely before leaving it), with `d_base = xy2d(corner) & ~(s²−1)`.
    * Unlike Z the children are NOT visited in d order here (the curve's
    * child order varies with rotation state), so intervals are sorted
    * and adjacent-merged after the walk. `maxRanges` coarsens to a
    * superset past the budget; callers keep the exact residual filter.
    */
  def hilbertRangesForBox(
      xmin: Long, xmax: Long, ymin: Long, ymax: Long,
      order: Int = 16,
      maxRanges: Int = 1 << 12): Seq[(Long, Long)] = {
    val n = 1L << order
    require(xmin >= 0 && ymin >= 0 && xmax < n && ymax < n && xmin <= xmax && ymin <= ymax,
      s"box out of $order-bit range: [$xmin..$xmax]x[$ymin..$ymax]")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def walk(x0: Long, y0: Long, size: Long): Unit = {
      if (x0 > xmax || y0 > ymax || x0 + size - 1 < xmin || y0 + size - 1 < ymin) ()
      else if ((x0 >= xmin && x0 + size - 1 <= xmax && y0 >= ymin && y0 + size - 1 <= ymax) ||
        (size > 1 && out.size >= maxRanges)) {
        val d = graft.functions.expressions.HilbertExpressions.xy2d(order, x0, y0)
        val cell = size * size
        val base = d - (d % cell)
        out += ((base, base + cell - 1))
      } else {
        val h = size / 2
        walk(x0, y0, h); walk(x0 + h, y0, h); walk(x0, y0 + h, h); walk(x0 + h, y0 + h, h)
      }
    }
    walk(0, 0, n)
    val sorted = out.sortBy(_._1)
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    sorted.foreach { case (lo, hi) =>
      if (merged.nonEmpty && merged.last._2 + 1 >= lo)
        merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, hi))
      else merged += ((lo, hi))
    }
    merged.toSeq
  }

  /** Box query over a Hilbert-clustered table: OR of `h BETWEEN`
    * intervals (pushed to file/row-group min-max stats) + the exact
    * per-column residual — the [[boxQuery]] twin on the Hilbert curve.
    */
  def hilbertBoxQuery(
      df: DataFrame,
      xCol: Column, yCol: Column, hCol: Column,
      xmin: Long, xmax: Long, ymin: Long, ymax: Long,
      order: Int = 16): DataFrame = {
    val ranges = hilbertRangesForBox(xmin, xmax, ymin, ymax, order, maxRanges = 64)
    val hPred = ranges
      .map { case (lo, hi) => hCol.between(lit(lo), lit(hi)) }
      .reduce(_ || _)
    df.filter(hPred)
      .filter(xCol.between(lit(xmin), lit(xmax)) && yCol.between(lit(ymin), lit(ymax)))
  }

  /** Write `df` as a hash-bucketed, per-bucket-sorted table: rows land in
    * bucket `hash(bucketKey) % numBuckets`, sorted by the key inside each
    * bucket file. Two tables bucketed on their join keys with the same
    * bucket count join with NO exchange (and no sort, when one file per
    * bucket) — the shuffle is paid ONCE at write time instead of per
    * query, which at 100 TB turns every repeated fact-fact join from a
    * full-network shuffle into a local merge. External table at
    * `path/name` in the session catalog (in-memory catalog carries the
    * bucket spec; no Hive needed).
    */
  def writeBucketed(
      df: DataFrame,
      name: String,
      bucketKey: String,
      numBuckets: Int,
      path: String): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $name")
    df.write
      .mode("overwrite")
      .option("path", s"$path/$name")
      .bucketBy(numBuckets, bucketKey)
      .sortBy(bucketKey)
      .saveAsTable(name)
  }
}
