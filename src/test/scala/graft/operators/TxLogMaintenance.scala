package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import TxLog.{appendAt, fs, logPath, replay, versions}

/** Table maintenance over the [[TxLog]] format that no gate or program
  * runs: a retrying append and orphan-file vacuum. TxLogSpec uses them to
  * check the gated commit, optimize and deletion-vector paths (a lost
  * commit race leaves only invisible orphans; optimize and DV rewrites
  * leave every live file referenced).
  */
object TxLogMaintenance {

  /** Optimistic-concurrency RETRY loop around [[TxLog.append]] — the pattern
    * every concurrent writer otherwise hand-rolls: stage + claim the
    * current head+1; if the claim fails BECAUSE another writer took
    * that version (the version file now exists), re-read the head and
    * try again — up to `maxRetries` times. Any other failure (missing
    * table, IO error) propagates immediately: retrying can't fix those
    * and must not mask them. Each lost attempt's staged files are
    * invisible orphans ([[vacuum]]'s job), exactly like a crashed
    * writer — the loser never mutates visible state. Returns the
    * committed version.
    */
  def appendWithRetry(
      spark: SparkSession, dir: String, df: DataFrame, maxRetries: Int = 5): Long = {
    val (f, root) = fs(spark, dir)
    var attempt = 0
    while (true) {
      val vs = versions(spark, dir)
      require(vs.nonEmpty, s"no table at $dir")
      val target = vs.last + 1
      try return appendAt(spark, dir, df, target)
      catch {
        case e: Exception if f.exists(logPath(root, target)) && attempt < maxRetries =>
          attempt += 1 // lost the version race — head moved, re-target
        case e: Exception if f.exists(logPath(root, target)) =>
          throw new IllegalStateException(
            s"lost the commit race $maxRetries times at $dir (contention too high)", e)
      }
    }
    -1L // unreachable
  }

  /** Delete data files referenced by NO retained version (crashed
    * writers' orphan stage dirs, and — when `retain` drops old versions
    * — files only old snapshots referenced). Returns deleted
    * table-relative paths. Time travel to a dropped version dies after
    * vacuum, exactly like Delta's.
    */
  def vacuum(
      spark: SparkSession,
      dir: String,
      retain: Option[Seq[Long]] = None): Seq[String] = {
    val (f, root) = fs(spark, dir)
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no table at $dir")
    val keep = retain.getOrElse(vs)
    val referenced = keep.flatMap { v =>
      val st = replay(f, root, v); st.live ++ st.dv
    }.toSet
    val dataDir = new Path(root, "data")
    if (!f.exists(dataDir)) return Seq.empty
    val rootUri = f.makeQualified(root).toString
    val it = f.listFiles(dataDir, true)
    val all = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val s = it.next().getPath
      val rel = f.makeQualified(s).toString.stripPrefix(rootUri).stripPrefix("/")
      if (rel.endsWith(".parquet")) all += rel
    }
    val orphans = all.toSeq.filterNot(referenced)
    orphans.foreach(p => f.delete(new Path(root, p), false))
    orphans.sorted
  }
}
