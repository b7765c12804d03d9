package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * Everything is built from `org.apache.spark.sql.functions._` column
  * expressions (whole-stage-codegen'd) — no Scala UDF in the hot path.
  * Each function is a scalar projection: zero shuffles, and Catalyst
  * prunes the scan down to the `text` column.
  */
object TextFunctions {

  /** Whitespace token count. Empty/blank text → 0 tokens. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword count: splits on word/non-word boundaries so
    * punctuation and numbers count as their own tokens — a cheap,
    * deterministic stand-in for a real BPE vocab, good for length
    * filtering at corpus scale.
    */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"), t => length(trim(t)) > 0))

  /** Greedy longest-prefix-match subword vocabulary (WordPiece-style
    * inference over a FIXED vocab — the real algorithm, unlike the regex
    * stand-in above; the vocab itself is hand-fixed, not learned, so the
    * whole tokenization is deterministic and SQL-replayable). Multi-char
    * merges cover frequent English fragments; all 26 letters + 10 digits
    * guarantee progress on alphanumerics, and any other char falls back to
    * one subword per char.
    */
  val wordpieceVocab: Seq[String] = Seq(
    "the", "and", "ing", "ion", "tion", "ent", "ati", "for", "her", "ter",
    "tha", "ere", "ate", "est", "ver", "all", "ith", "out",
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd", "ti", "es",
    "or", "te", "of", "ed", "is", "it", "al", "ar", "st", "to", "nt", "ng",
    "se", "ha", "as", "ou", "io", "le", "ve", "co", "me", "de", "hi", "ri",
    "ro", "ic", "ne", "ea", "ra", "ce", "li", "ch", "ll", "be", "ma", "si",
    "om", "ur") ++
    ('a' to 'z').map(_.toString) ++ ('0' to '9').map(_.toString)

  /** Subword count under greedy longest-prefix-match against
    * [[wordpieceVocab]]: per whitespace token (lowercased), repeatedly
    * take the LONGEST vocab entry prefixing the remainder (fallback: one
    * char) — the standard WordPiece inference loop, compiled (one UDF
    * call per row; the vocab lives in a length-bucketed Array so each
    * step probes at most 4 prefix lengths, no per-row regex).
    */
  def wordpieceCount: org.apache.spark.sql.expressions.UserDefinedFunction = {
    val vocab = wordpieceVocab
    val maxLen = vocab.map(_.length).max
    // byLen(l) = entries of length l, as a set for O(1) probe
    val byLen: Array[Set[String]] =
      Array.tabulate(maxLen + 1)(l => vocab.filter(_.length == l).toSet)
    udf { (text: String) =>
      if (text == null) 0L
      else {
        // Locale.ROOT: keep parity with SQL lower() under any JVM locale
        val t = text.trim.toLowerCase(java.util.Locale.ROOT)
        if (t.isEmpty) 0L
        else {
          var count = 0L
          t.split("\\s+").foreach { w =>
            var pos = 0
            while (pos < w.length) {
              var l = math.min(maxLen, w.length - pos)
              var matched = 1 // fallback: single (possibly OOV) char
              var found = false
              while (l >= 1 && !found) {
                if (byLen(l).contains(w.substring(pos, pos + l))) {
                  matched = l
                  found = true
                }
                l -= 1
              }
              pos += matched
              count += 1
            }
          }
          count
        }
      }
    }
  }

  /** Ratio of alphabetic chars to total chars (0 for empty). */
  def alphaRatio(text: Column): Column = {
    val total = length(text)
    when(total === 0, 0.0)
      .otherwise(length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") / total)
  }

  /** Ratio of punctuation chars to total chars (0 for empty). */
  def punctRatio(text: Column): Column = {
    val total = length(text)
    when(total === 0, 0.0)
      .otherwise(
        length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}-]", "")).cast("double") / total
      )
  }

  /** English stopword hit ratio over whitespace tokens. */
  val stopwords: Seq[String] = Seq(
    "the", "of", "and", "a", "to", "in", "is", "that", "it", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are")

  def stopwordRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val hits = size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
    when(length(trim(text)) === 0, 0.0)
      .otherwise(hits.cast("double") / size(toks))
  }

  /** Composite quality score in [0, 100]: rewards mid-length docs, alpha
    * content, and stopword presence; penalizes punctuation soup. A
    * Gopher/C4-style heuristic (see PAPERS.md) expressed as one codegen'd
    * projection.
    */
  def qualityScore(text: Column): Column = {
    val toks = tokenCount(text).cast("double")
    val lengthScore = least(toks / 50.0, lit(1.0)) // saturates at 50 tokens
    val score =
      lengthScore * 30.0 + alphaRatio(text) * 30.0 +
        least(stopwordRatio(text) * 4.0, lit(1.0)) * 25.0 +
        (lit(1.0) - least(punctRatio(text) * 4.0, lit(1.0))) * 15.0
    round(score, 2)
  }

  /** N-gram-heuristic language ID over a small marker-word table. Scores
    * each language by marker-token hits; argmax wins, ties break by
    * language order; no hits → "und". Column-only (no UDF) so it runs
    * inside whole-stage codegen across a 100 TB corpus scan.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "you", "with", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "sich", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"),
    "es" -> Seq("el", "los", "las", "es", "una", "por", "con", "para", "como", "del"),
    "pt" -> Seq("o", "os", "um", "uma", "não", "mais", "como", "mas", "foi", "ele"))

  def langId(text: Column): Column = langIdUdf(text)

  /** Compiled one-pass scorer (a token-set lookup per token per language
    * beats 5 interpreted HOF filter passes — see Dedup's scaladoc on HOF
    * CodegenFallback): argmax of marker hits, ties to the earlier
    * language, zero hits → "und".
    */
  private lazy val langIdUdf: org.apache.spark.sql.expressions.UserDefinedFunction = {
    val markerSets: Seq[(String, Set[String])] = langMarkers.map { case (l, m) => (l, m.toSet) }
    udf { (text: String) =>
      // null-safe: NULL text → "und", not an executor-killing NPE
      val toks = if (text == null) Array.empty[String] else text.trim.toLowerCase.split("\\s+")
      var bestLang = "und"
      var bestHits = 0
      markerSets.foreach { case (lang, markers) =>
        var hits = 0
        toks.foreach(t => if (markers.contains(t)) hits += 1)
        if (hits > bestHits) { bestHits = hits; bestLang = lang }
      }
      bestLang
    }
  }

  /** PII scrub for corpus cleaning: emails, E.164-ish phone numbers, and
    * IPv4 addresses replaced by typed placeholder tokens. Pure codegen'd
    * `regexp_replace` chain — no UDF on the full-corpus scan.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val phone = regexp_replace(email, "\\+?[0-9][0-9 ()-]{7,}[0-9]", "<PHONE>")
    regexp_replace(phone, "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>")
  }

  /** Repetition ratio (Gopher-style quality signal): fraction of
    * whitespace tokens belonging to the single most frequent token.
    * High values flag boilerplate/spam. Compiled one-pass kernel.
    */
  val repetitionRatioUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (text: String) =>
      // null-safe: NULL text → 0.0 repetition, matching the Column paths
      val toks = if (text == null) Array("") else text.trim.toLowerCase.split("\\s+")
      if (toks.isEmpty || (toks.length == 1 && toks(0).isEmpty)) 0.0
      else {
        val counts = scala.collection.mutable.HashMap.empty[String, Int]
        toks.foreach(t => counts.update(t, counts.getOrElse(t, 0) + 1))
        counts.values.max.toDouble / toks.length
      }
    }

  /** Rolling-hash document fingerprint: xxhash64 of the lowercased,
    * whitespace-normalized text. Collision-safe enough for corpus-scale
    * exact dedup keys (64-bit over ~1e10 docs ⇒ ~1% birthday collision;
    * pair with length as a secondary key).
    */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  // ------------------------------------------------------ URL curation

  /** Canonical URL for crawl dedup — the standard normalization chain a
    * crawl pipeline keys page-level dedup on (dupes of the SAME page
    * differ only in tracking params / fragment / case / default port):
    * strip fragment; lowercase scheme+host (path stays case-sensitive);
    * drop default ports :80/:443 and a leading `www.`; remove
    * `utm_*`/`fbclid`/`gclid` tracking params in any position; drop the
    * trailing slash. Pure codegen'd regexp chain — no UDF, replayable in
    * SQL (the qt17 oracle runs the identical steps under RE2).
    */
  def urlCanonicalize(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val head = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    val rest = noFrag.substr(length(head) + 1, lit(1000000))
    val headCanon = regexp_replace(
      regexp_replace(lower(head), ":(80|443)$", ""),
      "^(https?://)www\\.", "$1")
    val track = "(utm_[a-z0-9]+|fbclid|gclid)=[^&#]*"
    val restCanon = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(rest, s"&$track", ""),
          s"\\?$track&", "?"),
        s"\\?$track$$", ""),
      "/(\\?|$)", "$1")
    concat(headCanon, restCanon)
  }

  /** Registrable host for grouping: lowercase, `www.`-stripped, no port. */
  def urlHost(u: Column): Column =
    regexp_replace(
      regexp_extract(lower(u), "^[a-z][a-z0-9+.-]*://([^/?#:]+)", 1),
      "^www\\.", "")

  /** HTML → text extraction (the crawl pipeline's WET step): remove
    * `<script>`/`<style>` elements WITH their content (a naive tag strip
    * would leak JS/CSS into the corpus — the classic boilerplate bug),
    * strip comments and remaining tags, decode the five XML entities +
    * `&nbsp;`/`&#39;` (amp LAST, the standard order, so `&amp;lt;`
    * round-trips to the literal `&lt;`), collapse whitespace. Pure
    * codegen'd regexp/replace chain — no UDF, no HTML parser dependency;
    * patterns use inline `(?is)` so the identical chain runs under both
    * Java regex and DuckDB's RE2 (the qt24 oracle). For full-fidelity
    * DOM handling a real parser wins; for corpus curation this is the
    * scan-speed form.
    */
  def htmlExtract(c: Column): Column = {
    val noScript = regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val decoded = Seq(
      "&lt;" -> "<",
      "&gt;" -> ">",
      "&quot;" -> "\"",
      "&#39;" -> "'",
      "&nbsp;" -> " ",
      "&amp;" -> "&" // last: &amp;lt; must yield literal "&lt;", not "<"
    ).foldLeft(noTags) { case (col0, (ent, ch)) => replace(col0, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }
}
