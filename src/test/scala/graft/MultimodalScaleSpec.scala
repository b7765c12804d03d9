package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-shape probe for the multimodal near-dup clustering tail
  * ([[graft.multimodal.Multimodal.nearDupClusters]]): exact re-uploads are
  * the DOMINANT near-dup class in a crawled media corpus, and the
  * r14 band join re-verified them all-pairs — m byte-identical
  * fingerprints collide in EVERY band, Θ(m²·bands) candidate rows.
  * The dictionary collapse (the Dedup.prefixFilterJoin recipe) must
  * make the candidate tier Θ(distinct), independent of repetition.
  */
class MultimodalScaleSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4, "multimodal-scale-spec")

  test("exact-dup-heavy corpus: 10^4 copies of one fingerprint produce " +
      "Θ(distinct) candidate pairs, not Θ(m^2·bands), and every copy " +
      "still clusters under the min-media_id label") {
    import spark.implicits._
    val m = 10000L
    // 10^4 copies of fingerprint A + 3 distinct others (B within
    // hamming 2 of A, C/D far) — uncollapsed banding would emit
    // ~m^2/2 · bands ≈ 4·10^8 candidate rows before distinct()
    val a = "1010110010110100"
    val b = "1010110010110111" // hamming 2 from a
    val c = "0101001101001011"
    val d = "1111000011110000"
    val hashes = spark.range(m).select(col("id").as("media_id"), lit(a).as("hash_bits"))
      .unionAll(Seq((m, b), (m + 1, c), (m + 2, d)).toDF("media_id", "hash_bits"))
    val fp = graft.multimodal.Multimodal.collapseFingerprints(hashes)
    assert(fp.count() == 4L, "collapse must leave one row per distinct fingerprint")
    val cand = graft.multimodal.Multimodal.fingerprintCandidates(fp, bands = 4)
    val nCand = cand.count()
    assert(nCand <= 6L,
      s"candidate tier must be bounded by C(distinct,2)=6, got $nCand — " +
        "the identical-fingerprint collapse is not holding")
    // end-to-end: all copies + the hamming-2 neighbour in ONE cluster
    // labeled min media_id (0); far fingerprints label as themselves
    val clusters = graft.multimodal.Multimodal
      .nearDupClusters(hashes, bands = 4, maxHamming = 2)
      .as[(Long, Long)].collect().toMap
    assert(clusters.size == m.toInt + 3)
    assert((0L until m).forall(clusters(_) == 0L), "copies must share cluster 0")
    assert(clusters(m) == 0L, "the hamming-2 neighbour must join cluster 0")
    assert(clusters(m + 1) == m + 1 && clusters(m + 2) == m + 2)
  }

  test("incrementalNearDupMedia: corpus hits drop (exact AND near), " +
      "novel fingerprints survive and near-dedup within the batch to " +
      "min-label representatives") {
    import spark.implicits._
    val a = "1111000011110000"
    val b = "1111000011110001" // hamming 1 of a → corpus near-dup
    val c = "0000111100001111" // novel
    val d = "1010101010101010" // novel, far from c
    val corpus = Seq((0L, a)).toDF("media_id", "hash_bits")
    val batch = Seq(
      (10L, a), // exact corpus dup
      (11L, b), // near corpus dup
      (12L, c), (13L, c), // novel pair: collapse + keep min
      (14L, d)) // novel singleton
      .toDF("media_id", "hash_bits")
    val got = graft.multimodal.Multimodal
      .incrementalNearDupMedia(corpus, batch, bands = 4, maxHamming = 2)
      .as[(Long, String)].collect().toMap
    assert(got == Map(12L -> c, 14L -> d), s"got $got")
    // empty corpus: pure within-batch dedup
    val noCorpus = graft.multimodal.Multimodal
      .incrementalNearDupMedia(
        corpus.filter(org.apache.spark.sql.functions.lit(false)),
        batch, bands = 4, maxHamming = 2)
      .as[(Long, String)].collect().map(_._1).toSet
    assert(noCorpus == Set(10L, 12L, 14L),
      s"empty-corpus dedup wrong: $noCorpus") // 11 merges into 10's cluster
  }

  test("a fingerprint shorter than bands raises instead of degenerating " +
      "to all-pairs, and trailing bits are covered by the last band") {
    import spark.implicits._
    val short = Seq((1L, "101"), (2L, "010")).toDF("media_id", "hash_bits")
    val ex = intercept[Exception] {
      graft.multimodal.Multimodal
        .fingerprintCandidates(
          graft.multimodal.Multimodal.collapseFingerprints(short), bands = 4)
        .count()
    }
    assert(ex.getMessage.contains("band width"),
      s"expected the band-width guard, got: ${ex.getMessage}")
    // trailing coverage: length 10 over 4 bands = widths 2/2/2/4 — two
    // fingerprints differing ONLY in the last (remainder) bit must NOT
    // collide on the final band, but still collide on bands 0-2
    val fp2 = graft.multimodal.Multimodal.collapseFingerprints(
      Seq((1L, "1111000011"), (2L, "1111000010")).toDF("media_id", "hash_bits"))
    val cand2 = graft.multimodal.Multimodal.fingerprintCandidates(fp2, bands = 4)
    assert(cand2.count() == 1L)
    // and two differing in EVERY band's slice (incl. the remainder)
    // never become candidates
    val fp3 = graft.multimodal.Multimodal.collapseFingerprints(
      Seq((1L, "1111000011"), (2L, "0110110100")).toDF("media_id", "hash_bits"))
    assert(graft.multimodal.Multimodal.fingerprintCandidates(fp3, bands = 4).count() == 0L)
  }
}
