package graft.operators

import scala.collection.immutable.ListSet
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** TRANSACTION-LOG TABLE FORMAT — versioned, atomically-committed
  * parquet tables with time travel, the minimal Delta-Lake/Iceberg shape
  * an incremental curation pipeline needs (the qd12/qd13/qd15
  * incremental-dedup operators maintain a standing corpus ARTIFACT; this
  * is the storage contract that makes updating that artifact safe while
  * trainers read it).
  *
  * Layout:
  * {{{
  *   table/
  *     data/c<version>-<uuid>/part-*.parquet   (immutable once committed)
  *     _log/<20-digit version>.json            (one commit per version)
  * }}}
  *
  * A commit file holds `{version, schemaJson, add: [...], remove: [...]}`
  * with paths RELATIVE to the table root. The live file set at version v
  * is the log replay `adds − removes` over commits 0..v — so a reader
  * never lists `data/` (at 100 TB / 10⁵ files, listing is the scan
  * planner's bottleneck and eventually-consistent stores lie); the log
  * IS the file inventory, Iceberg's core argument.
  *
  * Commit protocol: data files land fully under a fresh uuid directory
  * FIRST (invisible — nothing references them), then the commit file is
  * created with Hadoop `create(overwrite = false)`, which throws if the
  * version already exists — the loser of a concurrent race fails loudly
  * and retries against the new head (optimistic concurrency). Readers
  * resolve a version entirely from immutable files, so a reader never
  * sees a half-commit: either the JSON exists (all its data files do
  * too) or the version doesn't exist. On HDFS `create(overwrite=false)`
  * is an atomic namenode op; on S3 the same contract needs a
  * conditional PUT (If-None-Match) — the hook is [[commitFile]], one
  * method to swap. Crashed writers leave only orphan data dirs that no
  * log entry references; a vacuum can reclaim them.
  *
  * Two further metadata tiers complete the lakehouse surface:
  * PARTITIONED TABLES (declared at [[create]], inherited by every
  * commit) lay files out under path-encoded `__p_<col>=<val>/` dirs
  * while the columns stay IN the data files, so [[snapshotWhere]]
  * prunes whole partitions from the log + paths alone; and DELETION
  * VECTORS ([[delete]]) commit row-level deletes as (file, position)
  * parquet sidecars with zero data files rewritten — every read path
  * masks them with one anti-join until [[optimize]] folds and clears
  * them.
  *
  * Reference: no analog (the reference pipeline rewrites flat files in
  * place between stages); this is the beyond-reference storage tier,
  * SURVEY §2's scale mandate applied to mutation.
  */
object TxLog {

  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  private[operators] def fs(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[operators] def logPath(root: Path, version: Long): Path =
    new Path(root, f"_log/$version%020d.json")

  /** Committed versions, ascending (empty if the table doesn't exist). */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val (f, root) = fs(spark, dir)
    val logDir = new Path(root, "_log")
    if (!f.exists(logDir)) Seq.empty
    else f.listStatus(logDir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.endsWith(".checkpoint.json"))
      .map(_.stripSuffix(".json").toLong)
      .sorted
  }

  /** Checkpointed versions, ascending (see [[checkpoint]]). */
  private def checkpointVersions(f: FileSystem, root: Path): Seq[Long] = {
    val logDir = new Path(root, "_log")
    if (!f.exists(logDir)) Seq.empty
    else f.listStatus(logDir).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".checkpoint.json"))
      .map(_.stripSuffix(".checkpoint.json").toLong)
      .sorted
  }

  private case class Commit(
      version: Long,
      schemaJson: String,
      add: Seq[String],
      remove: Seq[String],
      statsCol: Option[String],
      stats: Map[String, (Long, Long)],
      partitionBy: Seq[String] = Seq.empty,
      dvAdd: Seq[String] = Seq.empty,
      dvRemove: Seq[String] = Seq.empty)

  /** Reads one log file (a commit or a checkpoint) through `read`. */
  private def readLogFile(f: FileSystem, p: Path)(read: JsonNode => Commit): Commit = {
    val in = f.open(p)
    try read(mapper.readTree(in)) finally in.close()
  }

  /** The field readers commits and checkpoints share: a string array, an
    * optional field (absent or JSON null → None), and the manifest stats
    * map `{path: [lo, hi]}`.
    */
  private def strings(a: JsonNode): Seq[String] = (0 until a.size()).map(a.get(_).asText())

  private def optField(node: JsonNode, name: String): Option[JsonNode] =
    Option(node.get(name)).filterNot(_.isNull)

  private def optStrings(node: JsonNode, name: String): Seq[String] =
    optField(node, name).fold(Seq.empty[String])(strings)

  private def statsOf(node: JsonNode): Map[String, (Long, Long)] =
    optField(node, "stats").fold(Map.empty[String, (Long, Long)])(_.properties().asScala
      .map(e => e.getKey -> (e.getValue.get(0).asLong(), e.getValue.get(1).asLong())).toMap)

  private def readCommit(f: FileSystem, root: Path, v: Long): Commit =
    readLogFile(f, logPath(root, v)) { node =>
      Commit(node.get("version").asLong(), node.get("schemaJson").asText(),
        strings(node.get("add")), strings(node.get("remove")),
        optField(node, "statsCol").map(_.asText()), statsOf(node),
        optStrings(node, "partitionBy"), optStrings(node, "dvAdd"), optStrings(node, "dvRemove"))
    }

  private def schemaOf(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  /** Absolute paths of table-relative `files` under `root`. */
  private def absPaths(root: Path, files: Seq[String]): Seq[String] =
    files.map(p => new Path(root, p).toString)

  /** The table at `dir` and the version a call resolves to — `version`,
    * or the latest when None — with its file system, root and committed
    * versions. Fails if no table is there or the version was never
    * committed.
    */
  private def resolve(spark: SparkSession, dir: String,
      version: Option[Long]): (FileSystem, Path, Seq[Long], Long) = {
    val (f, root) = fs(spark, dir)
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no table at $dir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in ${vs.mkString(",")}")
    (f, root, vs, v)
  }

  /** The one method whose atomicity the whole format rests on: create
    * the version file failing if it exists. Public-contract note: HDFS —
    * atomic; local FS — create(overwrite=false) checks-then-creates;
    * S3 — replace with a conditional PUT.
    */
  private def commitFile(
      f: FileSystem, root: Path, c: Commit): Unit = {
    val bytes = mapper.writeValueAsBytes(
      Map("version" -> c.version, "schemaJson" -> c.schemaJson,
        "add" -> c.add, "remove" -> c.remove,
        "statsCol" -> c.statsCol.orNull,
        "stats" -> c.stats.map { case (p, (lo, hi)) => p -> Seq(lo, hi) },
        "partitionBy" -> c.partitionBy,
        "dvAdd" -> c.dvAdd, "dvRemove" -> c.dvRemove))
    val out = f.create(logPath(root, c.version), false /* never overwrite */)
    try out.write(bytes) finally out.close()
    ()
  }

  /** Stage `df` as parquet under a fresh `data/c<v>-<uuid>` dir; return
    * table-relative paths of the files written, plus per-file (min, max)
    * of `statsCol` when declared — the MANIFEST STATS: collected once at
    * write time by one `groupBy(input_file_name)` pass over the just-
    * written files, stored in the commit, so a later range scan plans
    * its file set from the log alone (zero listing, zero footer probes —
    * the Iceberg manifest argument; the qy5 sidecar's lifecycle-managed
    * big sibling). Nothing references the staged files until the commit
    * file lands.
    */
  /** Table-relative path of a data file from a scan URI: the path below
    * the TABLE ROOT. Anchored on the root's own path (scheme/authority
    * stripped, so `file:/x` and `file:///x` forms agree) — never on a
    * marker substring like `/data/c`, which a table legitimately rooted
    * under e.g. `/data/cache/tbl` would match too early, recording
    * wrong relative paths in commits and splitting DV (file,pos) keys.
    * The first occurrence of the anchor IS the root (every data URI is
    * under it and a file-scheme authority is empty). Keyed on the FULL
    * relative path (never the basename): partitioned staging writes
    * `part-00000-…` in every partition subdir of one job, so basenames
    * collide by design.
    */
  private def rootAnchor(root: Path): String =
    root.toUri.getPath.stripSuffix("/") + "/"

  private def relOfUri(root: Path, u: String): String = {
    val anchor = rootAnchor(root)
    val i = u.indexOf(anchor)
    require(i >= 0, s"file $u is not under table root $anchor")
    u.substring(i + anchor.length)
  }

  /** Dir prefix for a partition-column duplicate — the column rides in
    * the PATH (`__p_<col>=<val>/`) for log-only pruning while the real
    * column stays in the data file, so every raw-file reader (CDF,
    * rewrite survivors, schema'd snapshots) is untouched by partitioning.
    */
  private val PartPrefix = "__p_"

  private def stage(
      spark: SparkSession,
      root: Path,
      df: DataFrame,
      v: Long,
      statsCol: Option[String],
      partitionBy: Seq[String] = Seq.empty): (Seq[String], Map[String, (Long, Long)]) = {
    val sub = s"data/c$v-${java.util.UUID.randomUUID().toString.take(8)}"
    val subPath = new Path(root, sub)
    if (partitionBy.isEmpty) {
      df.write.mode("errorifexists").parquet(subPath.toString)
    } else {
      // duplicate-column trick: partition the LAYOUT on __p_<col> copies
      // so the original columns remain in the data files (Spark's writer
      // strips partition columns from file contents)
      val staged = partitionBy.foldLeft(df)((d, c) =>
        d.withColumn(PartPrefix + c, col(c).cast("string")))
      staged.write.mode("errorifexists")
        .partitionBy(partitionBy.map(PartPrefix + _): _*)
        .parquet(subPath.toString)
    }
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = {
      val it = f.listFiles(subPath, true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val p = it.next().getPath.toString
        if (p.endsWith(".parquet")) b += relOfUri(root, p)
      }
      b.result().sorted
    }
    val stats = statsCol match {
      case None => Map.empty[String, (Long, Long)]
      case Some(c) if files.isEmpty => Map.empty[String, (Long, Long)]
      case Some(c) =>
        // read the explicit file list (not the dir) so partition-dir
        // discovery can't inject __p_ columns into the stats scan
        spark.read.parquet(absPaths(root, files): _*)
          .groupBy(input_file_name().as("uri"))
          .agg(min(col(c).cast("long")).as("lo"), max(col(c).cast("long")).as("hi"))
          .collect()
          .map(r => relOfUri(root, r.getString(0)) -> (r.getLong(1), r.getLong(2)))
          .toMap
    }
    (files, stats)
  }

  /** Create the table at `dir` with `df` as version 0. `statsCol`
    * declares a long-valued column whose per-file min/max ride in every
    * commit (see [[snapshotRange]]); it is a table property — appends
    * and rewrites inherit it from the log.
    */
  def create(
      spark: SparkSession, dir: String, df: DataFrame,
      statsCol: Option[String] = None,
      partitionBy: Seq[String] = Seq.empty): Long = {
    val (f, root) = fs(spark, dir)
    require(versions(spark, dir).isEmpty, s"table already exists at $dir")
    partitionBy.foreach(c => require(df.schema.fieldNames.contains(c),
      s"partition column $c not in schema ${df.schema.fieldNames.toSeq}"))
    val (files, stats) = stage(spark, root, df, 0L, statsCol, partitionBy)
    commitFile(f, root,
      Commit(0L, df.schema.json, files, Seq.empty, statsCol, stats, partitionBy))
    0L
  }

  private def tableStatsCol(f: FileSystem, root: Path, vs: Seq[Long]): Option[String] =
    vs.reverseIterator.map(readCommit(f, root, _).statsCol).collectFirst { case Some(c) => c }

  /** Partition spec is a table property set at create, inherited by every
    * later commit (like statsCol) — a table can't re-partition mid-log.
    */
  private def tablePartitionBy(f: FileSystem, root: Path, vs: Seq[Long]): Seq[String] =
    vs.reverseIterator.map(readCommit(f, root, _).partitionBy)
      .collectFirst { case p if p.nonEmpty => p }.getOrElse(Seq.empty)

  /** Append `df` as a new version. Returns the committed version. */
  def append(spark: SparkSession, dir: String, df: DataFrame): Long =
    appendAt(spark, dir, df, resolve(spark, dir, None)._4 + 1)

  /** The optimistic-concurrency core append targets: stage, then claim
    * exactly version `v` — if another writer claimed it between the
    * caller's log read and here, `commitFile` throws and the staged
    * files remain invisible orphans (vacuum's job). Package-visible so
    * the race is directly testable.
    */
  private[graft] def appendAt(spark: SparkSession, dir: String, df: DataFrame, v: Long): Long = {
    val (f, root) = fs(spark, dir)
    val vs = versions(spark, dir)
    val sc = tableStatsCol(f, root, vs)
    val pb = tablePartitionBy(f, root, vs)
    val (files, stats) = stage(spark, root, df, v, sc, pb)
    commitFile(f, root, Commit(v, df.schema.json, files, Seq.empty, sc, stats, pb))
    v
  }

  /** Fully-replayed table state at one version: live data files, the
    * committed schema, manifest stats, and the live DELETION-VECTOR
    * files whose (file, pos) rows mask deleted rows of still-live data
    * files.
    */
  private[operators] case class TableState(
      live: Seq[String],
      schema: StructType,
      stats: Map[String, (Long, Long)],
      dv: Seq[String])

  /** The replay fold's state: live files, stats and DVs in commit
    * order, and the latest schema.
    */
  private case class Replayed(
      live: ListSet[String],
      stats: Map[String, (Long, Long)],
      dv: ListSet[String],
      schema: StructType) {

    /** This state with `c` applied: the one step [[replay]] and
      * [[changes]] fold the log by (a checkpoint applies as a commit that
      * removes nothing).
      */
    def next(c: Commit): Replayed =
      Replayed(live -- c.remove ++ c.add, stats -- c.remove ++ c.stats,
        dv -- c.dvRemove ++ c.dvAdd, schemaOf(c.schemaJson))

    def sortedDv: Seq[String] = dv.toSeq.sorted
  }

  /** The fold to `upTo`, started from the newest checkpoint ≤ `upTo`:
    * O(commits SINCE it), not O(all commits) — at 10⁵ commits the log
    * replay is otherwise the planner bottleneck the log was built to
    * remove.
    */
  private def replayed(f: FileSystem, root: Path, upTo: Long): Replayed = {
    val cp = checkpointVersions(f, root).filter(_ <= upTo).lastOption
    val empty = Replayed(ListSet.empty, Map.empty, ListSet.empty, null)
    val start = cp.fold(empty)(cv => empty.next(readCheckpoint(f, root, cv)))
    (cp.fold(0L)(_ + 1) to upTo).foldLeft(start)((st, v) => st.next(readCommit(f, root, v)))
  }

  private[operators] def replay(f: FileSystem, root: Path, upTo: Long): TableState = {
    val r = replayed(f, root, upTo)
    TableState(r.live.toSeq.sorted, r.schema, r.stats, r.sortedDv)
  }

  private def checkpointPath(root: Path, v: Long): Path =
    new Path(root, f"_log/$v%020d.checkpoint.json")

  private def readCheckpoint(f: FileSystem, root: Path, v: Long): Commit =
    readLogFile(f, checkpointPath(root, v)) { node =>
      Commit(v, node.get("schemaJson").asText(), strings(node.get("live")), Seq.empty,
        optField(node, "statsCol").map(_.asText()), statsOf(node),
        optStrings(node, "partitionBy"), optStrings(node, "dv"))
    }

  /** LOG CHECKPOINT — collapse the replay prefix 0..`version` into one
    * derived summary file (`_log/<v>.checkpoint.json`: the fully-replayed
    * live set + schema + manifest stats), so any later snapshot /
    * range-scan / vacuum replays from the checkpoint forward instead of
    * from version 0. This is Delta's `_last_checkpoint` argument applied
    * to the qf11 format: the LOG solved O(files) listing, the checkpoint
    * solves O(commits) replay — a long-lived table absorbing a commit a
    * minute crosses 10⁵ commits in ten weeks, at which point cold
    * planning is 10⁵ small reads without one.
    *
    * The checkpoint is pure DERIVED data: it is written to a temp name
    * and RENAMED into place (atomic on HDFS/local — a crashed writer
    * leaves only an ignored temp file, never a half-parsable
    * checkpoint), commits never reference it, readers that ignore it get
    * identical answers (spec-pinned), re-checkpointing the same version
    * is idempotent, and deleting one merely slows the next replay.
    * Call periodically (every ~100 commits) from whatever owns the
    * write path. Returns the checkpointed version.
    */
  def checkpoint(spark: SparkSession, dir: String, version: Option[Long] = None): Long = {
    val (f, root, vs, v) = resolve(spark, dir, version)
    val st = replay(f, root, v)
    val sc = tableStatsCol(f, root, vs.filter(_ <= v))
    val bytes = mapper.writeValueAsBytes(
      Map("version" -> v, "schemaJson" -> st.schema.json, "live" -> st.live,
        "statsCol" -> sc.orNull,
        "stats" -> st.stats.map { case (p, (lo, hi)) => p -> Seq(lo, hi) },
        "partitionBy" -> tablePartitionBy(f, root, vs.filter(_ <= v)),
        "dv" -> st.dv))
    val tmp = new Path(root, s"_log/.cp-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = f.create(tmp, false)
    try out.write(bytes) finally out.close()
    if (!f.rename(tmp, checkpointPath(root, v))) f.delete(tmp, false)
    v
  }

  /** Bind each scanned row's physical identity — its data file's
    * table-relative path and row position — from the scan's `_metadata`
    * struct (computed by the parquet reader, codegen-friendly, no UDF).
    * Must run directly over the scan (projections preserve metadata
    * columns; joins don't).
    */
  private def bindFilePos(root: Path, df: DataFrame): DataFrame = {
    val anchor = rootAnchor(root)
    val fp = col("_metadata.file_path")
    df.withColumn("__file",
        fp.substr(locate(anchor, fp) + anchor.length, lit(Int.MaxValue)))
      .withColumn("__pos", col("_metadata.row_index"))
  }

  /** Mask rows listed in the live deletion vectors: an anti-join of the
    * (__file, __pos)-bound scan against the DV rows. DV files are tiny
    * relative to data (one (path, long) row per deleted row) — AQE
    * broadcasts them in the common case; a pathological billion-row DV
    * set degrades to a shuffled anti-join, never a wrong answer.
    */
  private def dvMask(
      spark: SparkSession, root: Path, bound: DataFrame, dv: Seq[String]): DataFrame =
    if (dv.isEmpty) bound
    else {
      val dvDf = spark.read.parquet(absPaths(root, dv): _*)
        .select(col("file").as("__dv_file"), col("pos").as("__dv_pos"))
      bound.join(dvDf,
        col("__file") === col("__dv_file") && col("__pos") === col("__dv_pos"),
        "left_anti")
    }

  /** Read `files` under the committed `schema` with deletion vectors
    * applied — the one read path every snapshot variant shares. With no
    * live DVs this is the plain multi-file scan (zero masking overhead).
    */
  private def readLive(
      spark: SparkSession, root: Path, files: Seq[String],
      schema: StructType, dv: Seq[String]): DataFrame =
    if (files.isEmpty) emptyFrame(spark, schema)
    else if (dv.isEmpty) spark.read.schema(schema).parquet(absPaths(root, files): _*)
    else readBound(spark, root, files, schema, dv)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*)

  /** `files` scanned under `schema`, each row bound to its (__file,
    * __pos) identity, with the rows `dv` masks removed: the read behind
    * every DV-aware path and every dirty-file check.
    */
  private def readBound(
      spark: SparkSession, root: Path, files: Seq[String],
      schema: StructType, dv: Seq[String]): DataFrame =
    dvMask(spark, root,
      bindFilePos(root, spark.read.schema(schema).parquet(absPaths(root, files): _*)), dv)

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Snapshot read — the table as of `version` (default: latest). The
    * scan lists NOTHING: the file set comes from the log replay, handed
    * to the reader explicitly with the committed schema (so an empty
    * table still has one), and deletion-vector rows are masked out.
    */
  def snapshot(spark: SparkSession, dir: String, version: Option[Long] = None): DataFrame = {
    val (f, root, vs, v) = resolve(spark, dir, version)
    val st = replay(f, root, v)
    readLive(spark, root, st.live, st.schema, st.dv)
  }

  /** ROW-LEVEL DELETE WITHOUT REWRITE — commit a DELETION VECTOR: the
    * (file, position) identity of every row matching `pred`, written as
    * parquet sidecars and referenced from the commit, while every data
    * file stays byte-identical. This is Delta/Iceberg v2's
    * merge-on-read delete: a GDPR-bounded retraction on a 100 TB table
    * commits KBs of positions instead of rewriting TBs of neighbours —
    * the read side pays one anti-join until [[optimize]] folds the
    * masks into a clean rewrite (and clears them). Positions come from
    * the scan's own `_metadata.row_index`, masked by prior DVs so a
    * twice-deleted row is recorded once; time travel below the delete
    * still sees the rows (the DV is versioned state like any other).
    * No matching rows → no commit. Returns the committed (or current)
    * version.
    */
  def delete(spark: SparkSession, dir: String, pred: Column): Long = {
    val (f, root, vs, _) = resolve(spark, dir, None)
    val st = replay(f, root, vs.last)
    if (st.live.isEmpty) return vs.last
    val newDv = readBound(spark, root, st.live, st.schema, st.dv)
      .filter(pred)
      .select(col("__file").as("file"), col("__pos").as("pos"))
    if (newDv.isEmpty) return vs.last
    val v = vs.last + 1
    val sub = s"data/c$v-${java.util.UUID.randomUUID().toString.take(8)}-dv"
    newDv.write.mode("errorifexists").parquet(new Path(root, sub).toString)
    val dvFiles = f.listStatus(new Path(root, sub)).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .map(n => s"$sub/$n").sorted
    val sc = tableStatsCol(f, root, vs)
    val pb = tablePartitionBy(f, root, vs)
    commitFile(f, root, Commit(v, st.schema.json, Seq.empty, Seq.empty, sc,
      Map.empty, pb, dvAdd = dvFiles))
    v
  }

  /** Live data files (table-relative) at a version — planning
    * introspection: what a snapshot scan would read, straight from the
    * log replay (deletion-vector sidecars not included).
    * No gate or program calls it: it is how TxLogSpec checks the file sets
    * the gated commits leave.
    */
  def liveFiles(spark: SparkSession, dir: String, version: Option[Long] = None): Seq[String] = {
    val (f, root, vs, v) = resolve(spark, dir, version)
    replay(f, root, v).live
  }

  /** Live deletion-vector row count — the masking metric (TxLogSpec
    * asserts delete commits positions, not rewritten files).
    * No gate or program calls it: it is how TxLogSpec checks the gated
    * delete, rewrite and restore commit positions, not files.
    */
  def deletionVectorRows(spark: SparkSession, dir: String, version: Option[Long] = None): Long = {
    val (f, root, vs, v) = resolve(spark, dir, version)
    val st = replay(f, root, v)
    if (st.dv.isEmpty) 0L
    else spark.read.parquet(absPaths(root, st.dv): _*).count()
  }

  /** Whether data file `rel` may hold a `statsCol` value in [lo, hi]:
    * false only when its committed (min, max) is disjoint from the range.
    * A file committed without stats cannot be proven disjoint.
    */
  private def statsMayOverlap(st: TableState, rel: String, lo: Long, hi: Long): Boolean =
    st.stats.get(rel).forall { case (flo, fhi) => fhi >= lo && flo <= hi }

  /** Range scan planned ENTIRELY from the log: keep only live files
    * whose committed [lo, hi] stats can contain `[lo, hi]` of the
    * table's declared stats column, scan those with the exact residual
    * BETWEEN. Files committed WITHOUT stats are never pruned (safety
    * under mixed history), and pruning only ever drops provably-disjoint
    * files, so output ≡ `snapshot(...).filter(between)` — the qy8
    * oracle's contract. At 10⁵ files this plans O(matching) tasks from
    * a KB of JSON, no listing, no footer reads.
    */
  def snapshotRange(
      spark: SparkSession,
      dir: String,
      lo: Long,
      hi: Long,
      version: Option[Long] = None): DataFrame = {
    val (f, root, vs, v) = resolve(spark, dir, version)
    val sc = tableStatsCol(f, root, vs.filter(_ <= v)).getOrElse(
      throw new IllegalArgumentException(s"table at $dir has no statsCol — use snapshot().filter"))
    val st = replay(f, root, v)
    val keep = st.live.filter(statsMayOverlap(st, _, lo, hi))
    readLive(spark, root, keep, st.schema, st.dv)
      .filter(col(sc).cast("long").between(lo, hi))
  }

  /** Planned file count for a range probe — the pruning metric
    * (TxLogSpec asserts candidates ≪ live files for a narrow range).
    * No gate or program calls it: it is how TxLogSpec checks that
    * [[snapshotRange]] (qy8) prunes.
    */
  def rangeCandidateFiles(spark: SparkSession, dir: String, lo: Long, hi: Long): Long = {
    val (f, root, _, v) = resolve(spark, dir, None)
    val st = replay(f, root, v)
    st.live.count(statsMayOverlap(st, _, lo, hi)).toLong
  }

  /** Null and empty partition values both land in this writer sentinel
    * dir — indistinguishable, so files under it are never pruned (the
    * residual filter keeps exactness).
    */
  private val DefaultPartDir = "__HIVE_DEFAULT_PARTITION__"

  /** Undo the writer's %XX path escaping of special chars in partition
    * values (mirror of Spark's escapePathName; plain chars pass through).
    */
  private def unescapePath(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Partition values of a data file, parsed from its table-relative
    * path (`…/__p_<col>=<val>/…`). Only the path is consulted — the log
    * stores no per-file partition tuple because the layout IS the
    * metadata, Hive's one good idea kept.
    */
  private def partValuesOf(rel: String): Map[String, String] =
    rel.split('/').iterator
      .filter(seg => seg.startsWith(PartPrefix) && seg.contains('='))
      .map { seg =>
        val eq = seg.indexOf('=')
        seg.substring(PartPrefix.length, eq) -> unescapePath(seg.substring(eq + 1))
      }.toMap

  /** Whether data file `rel` may hold rows `partFilter` allows: false
    * only when its path-encoded value of a filtered column is outside the
    * allowed set. A file with no segment for the column, or in the
    * null/empty sentinel dir, cannot be proven disjoint and may match.
    */
  private def partitionMayMatch(rel: String, partFilter: Map[String, Seq[String]]): Boolean = {
    val vals = partValuesOf(rel)
    partFilter.forall { case (c, allowed) =>
      vals.get(c).forall(pv => pv == DefaultPartDir || allowed.contains(pv))
    }
  }

  /** Partition-pruned snapshot: keep only live files whose path-encoded
    * partition value is in `partFilter`'s allowed set for every filtered
    * column, then apply the exact residual `IN` filter — so output ≡
    * `snapshot(...).filter(...)` while the planned file set shrinks to
    * the matching partitions, decided from the log + paths alone (no
    * listing, no footers). Safety mirrors stats pruning: a file with no
    * partition segment for a column, or in the null/empty sentinel dir,
    * can't be proven disjoint and is scanned. Values compare as strings
    * (the staging cast); composes with [[snapshotRange]]'s stats at scan
    * time via Catalyst's parquet min/max pushdown on the residual.
    */
  def snapshotWhere(
      spark: SparkSession,
      dir: String,
      partFilter: Map[String, Seq[String]],
      version: Option[Long] = None): DataFrame = {
    require(partFilter.nonEmpty, "empty partition filter — use snapshot()")
    val (f, root, vs, v) = resolve(spark, dir, version)
    val pb = tablePartitionBy(f, root, vs.filter(_ <= v))
    require(pb.nonEmpty, s"table at $dir is not partitioned — use snapshot().filter")
    partFilter.keys.foreach(c => require(pb.contains(c),
      s"$c is not a partition column (table partitionBy: ${pb.mkString(",")})"))
    val st = replay(f, root, v)
    val keep = st.live.filter(partitionMayMatch(_, partFilter))
    val base = readLive(spark, root, keep, st.schema, st.dv)
    partFilter.foldLeft(base) { case (d, (c, allowed)) =>
      d.filter(col(c).cast("string").isin(allowed: _*))
    }
  }

  /** COMPOSED pruning — partition dirs AND manifest stats decide the
    * file set together, from the log + paths alone: a probe like
    * "status IN (…) AND key BETWEEN lo AND hi" keeps only files whose
    * path-encoded partition value matches AND whose committed (min,
    * max) can overlap the range. Each pruning is independently
    * no-false-negative (unknown partition ⇒ keep; stat-less file ⇒
    * keep), so their conjunction is too; both residual filters restore
    * exactness. This is the full modern-planner shape: Hive-style
    * partition elimination first, Iceberg-style stats elimination
    * within the surviving partitions.
    */
  def snapshotWhereRange(
      spark: SparkSession,
      dir: String,
      partFilter: Map[String, Seq[String]],
      lo: Long,
      hi: Long,
      version: Option[Long] = None): DataFrame = {
    require(partFilter.nonEmpty, "empty partition filter — use snapshotRange()")
    val (f, root, vs, v) = resolve(spark, dir, version)
    val pb = tablePartitionBy(f, root, vs.filter(_ <= v))
    require(pb.nonEmpty, s"table at $dir is not partitioned — use snapshotRange")
    partFilter.keys.foreach(c => require(pb.contains(c),
      s"$c is not a partition column (table partitionBy: ${pb.mkString(",")})"))
    val sc = tableStatsCol(f, root, vs.filter(_ <= v)).getOrElse(
      throw new IllegalArgumentException(s"table at $dir has no statsCol — use snapshotWhere"))
    val st = replay(f, root, v)
    val keep = st.live.filter(p =>
      partitionMayMatch(p, partFilter) && statsMayOverlap(st, p, lo, hi))
    val base = readLive(spark, root, keep, st.schema, st.dv)
      .filter(col(sc).cast("long").between(lo, hi))
    partFilter.foldLeft(base) { case (d, (c, allowed)) =>
      d.filter(col(c).cast("string").isin(allowed: _*))
    }
  }

  /** Planned file count for a partition probe — the pruning metric
    * (TxLogSpec asserts candidates == the matching partitions' files).
    * No gate or program calls it: it is how TxLogSpec checks that
    * [[snapshotWhere]] prunes.
    */
  def partitionCandidateFiles(
      spark: SparkSession, dir: String, partFilter: Map[String, Seq[String]]): Long = {
    val (f, root, _, v) = resolve(spark, dir, None)
    val st = replay(f, root, v)
    st.live.count(partitionMayMatch(_, partFilter)).toLong
  }

  /** Rewrite: keep only rows satisfying `keep`, touching ONLY the files
    * that actually contain a dropped row (per-file dirty check via one
    * `input_file_name` aggregation — clean files carry over by
    * reference, the dominant case when a retraction hits a bounded key
    * range of a 10⁵-file table). Dirty files' surviving rows are
    * rewritten into the new commit's add-set; the commit removes the
    * dirty files. No dirty files → no commit (returns current version).
    */
  def rewrite(spark: SparkSession, dir: String, keep: Column): Long = {
    val (f, root, vs, _) = resolve(spark, dir, None)
    val st = replay(f, root, vs.last)
    if (st.live.isEmpty) return vs.last
    // dirty detection and survivors both read through the DV mask: a
    // row already deleted by a DV neither dirties its file nor survives
    val cur = readBound(spark, root, st.live, st.schema, st.dv)
    val dirtyRel = cur.filter(!keep)
      .select(col("__file")).distinct()
      .collect().map(_.getString(0))
      .toSeq.sorted
    if (dirtyRel.isEmpty) return vs.last
    val v = vs.last + 1
    val rewritten = readBound(spark, root, dirtyRel, st.schema, st.dv)
      .filter(keep)
      .select(st.schema.fieldNames.toIndexedSeq.map(col): _*)
    val sc = tableStatsCol(f, root, vs)
    val pb = tablePartitionBy(f, root, vs)
    val (files, stats) = stage(spark, root, rewritten, v, sc, pb)
    commitFile(f, root, Commit(v, st.schema.json, files, dirtyRel, sc, stats, pb))
    v
  }

  /** OPTIMIZE — compact (and optionally re-cluster) the live file set
    * into `numFiles` files as ONE atomic commit: the new version adds
    * the compacted files and removes every current live file, so
    * readers switch from the fragmented layout to the compacted one
    * atomically (a snapshot never sees half of each), and time travel
    * to pre-optimize versions keeps working until a retention vacuum.
    * This is the table-format answer to the qf7 small-files problem —
    * a streaming sink (qe12) leaves one small file set per batch;
    * periodic optimize folds them without stopping the writer (the
    * writer claims version head+1 = the optimizer's target, so one of
    * the two loses the claim and retries — never corruption).
    *
    * `clusterBy`: two key columns → the compacted files are
    * Hilbert-clustered ([[Layout.clusterByHilbert]]) so multi-dim
    * min/max pruning holds at rest — Delta's `OPTIMIZE ... ZORDER BY`
    * shape, on the better curve. Without it, a plain `repartition`
    * barrel-files the data. The declared stats column's per-file
    * (min, max) are re-collected for the new files either way.
    */
  def optimize(
      spark: SparkSession,
      dir: String,
      numFiles: Int,
      clusterBy: Seq[String] = Seq.empty): Long = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    require(clusterBy.isEmpty || clusterBy.size == 2,
      s"clusterBy takes exactly 2 key columns (Hilbert), got ${clusterBy.size}")
    val (f, root, vs, _) = resolve(spark, dir, None)
    val st = replay(f, root, vs.last)
    if (st.live.isEmpty) return vs.last
    // the compaction rewrite FOLDS deletion vectors: it reads the masked
    // view, so the new files physically exclude DV'd rows and the DVs
    // themselves are cleared by this commit (merge-on-read debt paid)
    val cur = readLive(spark, root, st.live, st.schema, st.dv)
    val arranged =
      if (clusterBy.isEmpty) cur.repartition(numFiles)
      else Layout.clusterByHilbert(cur, clusterBy.map(c => col(c).cast("long")), numFiles)
    val v = vs.last + 1
    val sc = tableStatsCol(f, root, vs)
    val pb = tablePartitionBy(f, root, vs)
    val (files, stats) = stage(spark, root, arranged, v, sc, pb)
    commitFile(f, root,
      Commit(v, st.schema.json, files, st.live, sc, stats, pb, dvRemove = st.dv))
    v
  }

  /** EXACTLY-ONCE streaming ingest: commit micro-batch `batchId` as
    * version `batchId + 1` over a table created (possibly empty) at v0.
    * Structured Streaming redelivers a batch after recovery with the
    * SAME deterministic batchId — and its version file already exists,
    * so the redelivery is a no-op (returns false, commits nothing): the
    * at-least-once delivery + at-most-once version claim = exactly-once
    * table contents, with the claim enforced by the SAME
    * create(overwrite=false) atomicity every other commit uses (a true
    * race on the version still throws rather than double-appending).
    * This is the transactional upgrade of the qe11 overwrite-partition
    * recipe: readers see whole versions, never a half-written batch
    * directory. Single-writer-per-table, like any txn-id scheme.
    */
  def appendStreamBatch(
      spark: SparkSession, dir: String, df: DataFrame, batchId: Long,
      checkpointEvery: Int = 0): Boolean = {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    val (f, root) = fs(spark, dir)
    val v = batchId + 1
    if (f.exists(logPath(root, v))) false
    else {
      appendAt(spark, dir, df, v)
      // steady-state log hygiene: a perpetual streaming writer is exactly
      // the producer that crosses 10⁵ commits — fold the replay prefix
      // periodically so cold planning stays O(checkpointEvery)
      if (checkpointEvery > 0 && v % checkpointEvery == 0) checkpoint(spark, dir, Some(v))
      true
    }
  }

  /** RESTORE — reset the table's live contents to those of an earlier
    * version, committed as a NEW version (Delta's `RESTORE TABLE`):
    * add = the old version's live files BY REFERENCE (data files are
    * immutable, so nothing re-stages and the commit is metadata-only —
    * O(file count), zero data moved), remove = the current live set;
    * deletion vectors swap the same way, so a restore below a DV delete
    * resurrects the masked rows. History is preserved — the bad-deploy
    * rollback that keeps its own audit trail: the restore itself can be
    * time-traveled past, and a later vacuum decides what physical
    * history to keep. Restoring to the current state is a no-op.
    */
  def restore(spark: SparkSession, dir: String, version: Long): Long = {
    val (f, root, vs, _) = resolve(spark, dir, Some(version))
    val old = replay(f, root, version)
    val cur = replay(f, root, vs.last)
    if (old.live == cur.live && old.dv == cur.dv) return vs.last
    val v = vs.last + 1
    val sc = tableStatsCol(f, root, vs)
    val pb = tablePartitionBy(f, root, vs)
    commitFile(f, root, Commit(
      v, old.schema.json,
      add = old.live, remove = cur.live,
      statsCol = sc, stats = old.stats, partitionBy = pb,
      dvAdd = old.dv, dvRemove = cur.dv))
    v
  }

  /** MERGE (upsert) — Delta's `WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *`, committed as ONE atomic version:
    *
    *   final = (target ANTI-JOIN source on keys) ∪ source
    *
    * Scale shape: the target is NEVER rewritten wholesale. One
    * semi-join pass (source keys vs the live scan — Catalyst/AQE
    * broadcast the key projection when the source is small, the
    * dominant upsert case) finds the files that physically contain a
    * matched key; only those files' UNMATCHED survivors are rewritten,
    * clean files carry into the new version by reference, and every
    * source row (update or insert alike) lands in fresh files. A
    * 10⁵-file table absorbing a thousand-row upsert touches O(matched
    * files), not O(table).
    *
    * Source keys must be unique (two source rows matching one target
    * row would make the update nondeterministic — same validation Delta
    * runs); violation throws before anything stages. Source schema must
    * match the table's fields by name. A pure-insert merge (no matched
    * keys) degenerates to an append; an empty source commits nothing.
    * Returns the committed (or current, if no-op) version.
    */
  def merge(
      spark: SparkSession, dir: String, source: DataFrame,
      keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val (f, root, vs, _) = resolve(spark, dir, None)
    val st = replay(f, root, vs.last)
    val (live, schema) = (st.live, st.schema)
    val tableCols = schema.fieldNames.toSeq
    require(source.schema.fieldNames.toSet == tableCols.toSet,
      s"source fields ${source.schema.fieldNames.toSeq} != table fields $tableCols")
    keyCols.foreach(k => require(tableCols.contains(k), s"key column $k not in table"))
    val src = source.select(tableCols.map(col): _*)
    val dupKeys = src.groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > 1).limit(1).count()
    require(dupKeys == 0L,
      s"source has duplicate rows on merge keys ${keyCols.mkString(",")}")
    if (src.isEmpty) return vs.last
    val v = vs.last + 1
    val sc = tableStatsCol(f, root, vs)
    val pb = tablePartitionBy(f, root, vs)
    if (live.isEmpty) { // empty table: merge == insert-all
      val (files, stats) = stage(spark, root, src, v, sc, pb)
      commitFile(f, root, Commit(v, schema.json, files, Seq.empty, sc, stats, pb))
      return v
    }
    // file identity must bind to the scan BEFORE any join (metadata
    // columns don't survive joins); the DV mask then hides rows already
    // deleted so they neither dirty their file nor survive the rewrite
    val cur = readBound(spark, root, live, schema, st.dv)
    val srcKeys = src.select(keyCols.map(col): _*).distinct()
    val dirtyRel = cur
      .join(srcKeys, keyCols, "left_semi")
      .select(col("__file")).distinct()
      .collect().map(_.getString(0))
      .toSeq.sorted
    val survivors =
      if (dirtyRel.isEmpty) emptyFrame(spark, schema)
      else readBound(spark, root, dirtyRel, schema, st.dv)
        .join(srcKeys, keyCols, "left_anti")
        .select(tableCols.map(col): _*)
    val (files, stats) = stage(spark, root, survivors.unionByName(src), v, sc, pb)
    commitFile(f, root, Commit(v, schema.json, files, dirtyRel, sc, stats, pb))
    v
  }

  /** ROW-LEVEL CHANGE DATA FEED — the changes each commit in
    * `(fromVersion, toVersion]` made to the table's logical contents,
    * computed from the commit's own add/remove file sets:
    *
    *   inserts(v) = rows(add v) EXCEPT ALL rows(remove v)
    *   deletes(v) = rows(remove v) EXCEPT ALL rows(add v)
    *
    * The EXCEPT ALL cancels the carried rows a file-granularity rewrite
    * re-stages untouched (rewrite/merge/optimize copy dirty files'
    * survivors into new files — physically moved, logically unchanged),
    * so the feed is exactly the logical diff: an upsert surfaces as a
    * delete of the old row + insert of the new one, an optimize
    * surfaces as NOTHING. Cost is a shuffle over only the files the
    * commits in range touched — churn-bounded, never O(table) — which
    * is what lets an incremental consumer (a downstream index, a
    * feature store, the qd12/qd13 incremental-dedup artifacts) follow a
    * 100 TB table by reading KBs of log and MBs of churn.
    *
    * Output: the table columns plus `_commit_version` and
    * `_change_type` ('insert' | 'delete'). Requires the range's data
    * files to still exist (i.e. not reclaimed by a retention vacuum) —
    * same contract as Delta's CDF retention. Removed files are read
    * with the commit's schema (null-filling under widening evolution).
    */
  def changes(
      spark: SparkSession, dir: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val (f, root, vs, _) = resolve(spark, dir, None)
    require(fromVersion >= 0 && fromVersion <= toVersion,
      s"bad range ($fromVersion, $toVersion]")
    require(vs.contains(toVersion), s"version $toVersion not in ${vs.mkString(",")}")
    // one replay to fromVersion, then each commit in range folds forward
    // once: the log is read once, not once per version
    var state = replayed(f, root, fromVersion)
    val perVersion = ((fromVersion + 1) to toVersion).map { v =>
      val c = readCommit(f, root, v)
      val schema = schemaOf(c.schemaJson)
      // DVs live BEFORE this commit: a row they mask was already
      // logically deleted, so a rewrite re-staging its file must not
      // re-report it as a delete here. The ADD side reads under the DVs
      // live AT this commit — vacuous for fresh files (no DV predates
      // them), load-bearing for a RESTORE whose add-set re-references
      // old files together with their old masks.
      val dvPrev = state.sortedDv
      state = state.next(c)
      val dvAt = state.sortedDv
      def readSet(rel: Seq[String], dv: Seq[String]): DataFrame =
        readLive(spark, root, rel, schema, dv)
      val added = readSet(c.add, dvAt)
      val removed = readSet(c.remove, dvPrev)
      val inserts = added.exceptAll(removed)
        .withColumn("_commit_version", lit(v))
        .withColumn("_change_type", lit("insert"))
      val fileDeletes = removed.exceptAll(added)
        .withColumn("_commit_version", lit(v))
        .withColumn("_change_type", lit("delete"))
      // a deletion-vector commit removes rows IN PLACE: surface exactly
      // the rows its (file, pos) entries mask, read back from the data
      // files they reference — but ONLY entries against files that were
      // already live (an entry whose file is in this commit's own
      // add-set is restored STATE, not a delete event: the add side
      // above already reads under it)
      val dvDeletes =
        if (c.dvAdd.isEmpty)
          fileDeletes.limit(0)
        else {
          val addSet = c.add.toSet
          val dvDf = spark.read.parquet(absPaths(root, c.dvAdd): _*)
            .select(col("file").as("__dv_file"), col("pos").as("__dv_pos"))
          val touched = dvDf.select(col("__dv_file")).distinct()
            .collect().map(_.getString(0)).toSeq.sorted
            .filterNot(addSet)
          if (touched.isEmpty) fileDeletes.limit(0)
          else bindFilePos(root,
            spark.read.schema(schema).parquet(absPaths(root, touched): _*))
            .join(dvDf,
              col("__file") === col("__dv_file") && col("__pos") === col("__dv_pos"),
              "left_semi")
            .select(schema.fieldNames.toIndexedSeq.map(col): _*)
            .withColumn("_commit_version", lit(v))
            .withColumn("_change_type", lit("delete"))
        }
      inserts.unionByName(fileDeletes).unionByName(dvDeletes)
    }
    require(perVersion.nonEmpty, s"empty version range ($fromVersion, $toVersion]")
    perVersion.reduce(_ unionByName _)
  }
}
