package graft

import graft.operators.{Dedup, Layout, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM training-data curation — the beyond-reference composition the
  * training-data tier exists for (ENGINE.md §Training-data pipeline
  * operators), as ONE runnable program:
  *
  *   documents ──► Gopher quality rules (qt20) ──► repetition filters
  *   (qt19 thresholds) ──► exact dedup ──► MinHash near-dup ──► SemDeDup
  *   (qd14: embedding clusters + within-cluster cosine prune; docs with
  *   no embedding pass through) ──► deterministic shuffle + shard
  *   (qt22) ──► curated corpus (parquet, partitioned by shard) — and,
  *   for the survivors' embeddings, a PQ code table (the qs7 ANN index:
  *   m bytes per vector at rest).
  *
  * Every arrow is a lazy DataFrame the next stage consumes — no stage
  * materializes driver-side, so the same program is the 100 TB program:
  * the filters are zero-shuffle projections, each dedup is one bounded
  * shuffle, and the PQ encode is a projection against a broadcast
  * codebook. Counts are computed once at the end for the report.
  *
  * Usage: `sbt "runMain graft.CurationPipeline <sfDir> <outDir>"` —
  * defaults to sf0.001 → /tmp.
  */
object CurationPipeline {

  /** Returns the per-stage surviving-row counts (for reporting/specs). */
  def run(spark: SparkSession, sfDir: String, outDir: String): Map[String, Long] = {
    val docs = Tables.documents(spark, sfDir)

    // stage 1: Gopher quality rules — keep flag only (zero-shuffle scan)
    val quality = TextAnalysis
      .qualityRules(docs, "doc_id", "text", minWords = 20, maxWords = 100000)
      .filter(col("keep"))
      .select(col("doc_id"))

    // stage 2: repetition thresholds (Gopher repetition removal); the
    // synthetic corpus is word-repetitive by construction, so the gate
    // thresholds sit above its typical band — tune per real corpus
    val lowRepetition = TextAnalysis
      .repetitionStats(docs, "doc_id", "text")
      .filter(col("top_bigram_char_frac") <= 0.12 && col("dup_5gram_char_frac") <= 2.0)
      .select(col("doc_id"))

    val filtered = docs
      .join(quality, Seq("doc_id"), "left_semi")
      .join(lowRepetition, Seq("doc_id"), "left_semi")

    // stage 3: exact dedup (one fingerprint shuffle), then MinHash-LSH
    // near-dup (band-bucket equi-join) over the exact survivors
    val curated = Dedup.minHashDedup(
      Dedup.exactDedup(filtered, "doc_id", "text"), "doc_id", "text")

    // stage 4: SemDeDup — semantic redundancy the byte-level dedups can't
    // see (production k-means variant; within-cluster pairs only). Docs
    // without an embedding pass through: only a SURVIVING embedding's
    // absence from semKept drops its doc
    val curatedEmbs = Tables
      .embeddings(spark, sfDir)
      .join(curated.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    val semKept = Dedup
      .semDedupKmeans(curatedEmbs, "vec_id", "embedding", k = 8, iters = 3, threshold = 0.4)
    val semDropped = curatedEmbs.select(col("vec_id").as("doc_id"))
      .join(semKept.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_anti")
    val semantic = curated.join(semDropped, Seq("doc_id"), "left_anti")

    // stage 5: deterministic shuffle + shard — the terminal layout every
    // training run reads; partitioned by shard so a trainer's shard
    // filter is directory pruning
    Layout
      .shuffleShard(semantic, "doc_id", numShards = 4)
      .write.partitionBy("shard").mode("overwrite").parquet(s"$outDir/corpus")

    // stage 6: ANN index for the curated corpus — PQ-encode the
    // survivors' embeddings (vec_id aligns with doc_id in the harness
    // tables); codes parquet is what similarity queries scan
    val embs = curatedEmbs
      .join(semantic.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    // production codebook: per-subspace Lloyd refinement (ingest-time
    // cost, amortized over every query against the stored codes)
    val codebook = Similarity.pqCodebookKmeans(embs, "vec_id", "embedding", m = 8, k = 16)
    Similarity
      .pqEncode(embs, "vec_id", "embedding", codebook)
      .write.mode("overwrite").parquet(s"$outDir/pq_codes")

    val written = spark.read.parquet(s"$outDir/corpus")
    Map(
      "input" -> docs.count(),
      "after_quality" -> quality.count(),
      "after_repetition" -> filtered.count(),
      "curated" -> curated.count(),
      "after_semantic" -> written.count(),
      "shards" -> written.select(col("shard")).distinct().count(),
      "pq_codes" -> spark.read.parquet(s"$outDir/pq_codes").count())
  }

  /** INCREMENTAL curation into a standing transaction-log corpus — the
    * steady-state form of [[run]] for a pipeline that ingests crawl
    * batches forever: per-doc filters (Gopher quality + repetition)
    * apply to the BATCH alone; dedup runs against the standing corpus
    * through the incremental operators (exact: corpus reduced to its
    * distinct 8-byte fingerprints, qd12; near-dup: corpus reduced to its
    * LSH band buckets, qd13 — corpus text is never re-scanned, never
    * re-deduped); survivors commit ATOMICALLY as one `TxLog` version.
    * Trainers keep reading their pinned snapshot mid-append, time travel
    * reproduces any historical training set, and a crashed run leaves
    * only invisible orphans (vacuum) — the storage contract the
    * incremental-dedup artifacts assumed, now actually wired to them.
    * First call creates the table (batch curated against itself).
    *
    * Returns per-stage counts incl. the committed version.
    * No gate calls it: it is the program's incremental entry, which
    * PipelineSpec drives batch by batch.
    */
  def appendCuratedBatch(
      spark: SparkSession,
      tableDir: String,
      batch: DataFrame): Map[String, Long] = {
    val quality = TextAnalysis
      .qualityRules(batch, "doc_id", "text", minWords = 20, maxWords = 100000)
      .filter(col("keep"))
      .select(col("doc_id"))
    val lowRepetition = TextAnalysis
      .repetitionStats(batch, "doc_id", "text")
      .filter(col("top_bigram_char_frac") <= 0.12 && col("dup_5gram_char_frac") <= 2.0)
      .select(col("doc_id"))
    val filtered = batch
      .join(quality, Seq("doc_id"), "left_semi")
      .join(lowRepetition, Seq("doc_id"), "left_semi")

    val cols = batch.columns.toIndexedSeq.map(col)
    val (survivors, version) =
      if (operators.TxLog.versions(spark, tableDir).isEmpty) {
        val curated = Dedup
          .minHashDedup(Dedup.exactDedup(filtered, "doc_id", "text"), "doc_id", "text")
          .select(cols: _*)
        (curated, operators.TxLog.create(spark, tableDir, curated))
      } else {
        val corpus = operators.TxLog.snapshot(spark, tableDir)
        val novel = Dedup.incrementalMinHashDedup(
          corpus,
          Dedup.incrementalExactDedup(corpus, filtered, "doc_id", "text"),
          "doc_id", "text")
          .select(cols: _*)
        (novel, operators.TxLog.append(spark, tableDir, novel))
      }
    Map(
      "batch" -> batch.count(),
      "after_filters" -> filtered.count(),
      "appended" -> survivors.count(),
      "version" -> version,
      "corpus" -> operators.TxLog.snapshot(spark, tableDir).count())
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "graft-curation")
    val (sfDir, outDir) = args match {
      case Array(s, o) => (s, o)
      case _ => ("/root/testdata/sf0.001",
        java.nio.file.Files.createTempDirectory("curation-out").toString)
    }
    val counts = run(spark, sfDir, outDir)
    println(
      s"[curation] input=${counts("input")} quality=${counts("after_quality")} " +
        s"repetition=${counts("after_repetition")} curated=${counts("curated")} " +
        s"semantic=${counts("after_semantic")} shards=${counts("shards")} " +
        s"pq_codes=${counts("pq_codes")} -> $outDir")
    spark.stop()
  }
}
