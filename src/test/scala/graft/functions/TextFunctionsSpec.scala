package graft.functions

import graft.GraftSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextFunctionsSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(2, "text-spec")

  test("fingerprint is whitespace/case-normalized") {
    import spark.implicits._
    val df = Seq(("a", "The  Quick\tFox"), ("b", "the quick fox")).toDF("id", "text")
    val fps = df.select(TextFunctions.fingerprint(col("text"))).collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
  }

  test("quality score: boilerplate scores below clean prose") {
    import spark.implicits._
    val df = Seq(
      ("clean", "The quick brown fox jumps over the lazy dog and runs across the wide field to rest in the shade of an old tree for a while."),
      ("spam", "!!! $$$ ??? ### @@@ %%% ^^^ &&& *** ((()))")).toDF("id", "text")
    val scores = df
      .select(col("id"), TextFunctions.qualityScore(col("text")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scores("clean") > scores("spam"))
    assert(scores.values.forall(s => s >= 0 && s <= 100))
  }

  test("langId picks marker languages and falls back to und") {
    import spark.implicits._
    val df = Seq(
      ("en", "the cat is in the house with you"),
      ("de", "der hund ist nicht mit der katze"),
      ("und", "zzz qqq xxx www")).toDF("expect", "text")
    df.select(col("expect"), TextFunctions.langId(col("text")).as("got"))
      .collect()
      .foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("hyperplane signature determinism") {
    import spark.implicits._
    val sigs = Seq(Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)).toDF("v")
      .select(VectorFunctions.hyperplaneSignature(col("v"), dim = 3, bits = 8))
      .collect().map(_.getLong(0))
    assert(sigs(0) == sigs(1)) // same vector → same cell
  }

  test("wordpieceCount: greedy longest-prefix-match semantics") {
    import spark.implicits._
    // hand-traced against the vocab: "theory" = the|or|y, "ing" is a
    // single 3-char entry (NOT i|n|g), OOV punctuation falls back to one
    // piece per char, multi-word sums per word, blank/null → 0
    val df = Seq(
      ("a", "theory"),
      ("b", "ing"),
      ("c", "a!?b"),
      ("d", "theory ing"),
      ("e", "   "),
      ("f", null.asInstanceOf[String])).toDF("id", "text")
    val out = df
      .select(col("id"), TextFunctions.wordpieceCount(col("text")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("a") == 3L)
    assert(out("b") == 1L)
    assert(out("c") == 4L) // a | ! | ? | b
    assert(out("d") == 4L)
    assert(out("e") == 0L)
    assert(out("f") == 0L)
  }

  test("wordpieceCount: longest match wins over greedy-short prefixes") {
    import spark.implicits._
    // "tion" (4) must beat "ti" (2) + "on" (2) even though both cover it:
    // 1 piece, not 2; and case-insensitivity via lowercasing
    val out = Seq("TION").toDF("text")
      .select(TextFunctions.wordpieceCount(col("text"))).collect().head.getLong(0)
    assert(out == 1L)
  }

  test("redactPii handles all three classes in one text") {
    import spark.implicits._
    val df = Seq("mail a@b.co or call +258 21 123456 at 10.0.0.1 ok").toDF("text")
    val red = df.select(TextFunctions.redactPii(col("text"))).collect().head.getString(0)
    assert(red.contains("<EMAIL>") && red.contains("<PHONE>") && red.contains("<IP>"))
    assert(!red.contains("a@b.co"))
  }

  test("urlCanonicalize: tracking params, ports, www, fragments, case, slashes") {
    import spark.implicits._
    val cases = Seq(
      // same page, four disguises → one canonical form
      ("HTTPS://WWW.Site.COM:443/Page?utm_source=a&id=1#x", "https://site.com/Page?id=1"),
      ("https://site.com/Page/?id=1&utm_campaign=b", "https://site.com/Page?id=1"),
      ("https://site.com/Page?id=1&fbclid=zzz", "https://site.com/Page?id=1"),
      ("http://www.site.com:80/Page?gclid=q&id=1", "http://site.com/Page?id=1"),
      // ALL params are tracking → query gone entirely
      ("https://a.com/x?utm_source=s", "https://a.com/x"),
      // path case preserved; no query; trailing slash dropped
      ("HTTP://A.COM/CaseSensitive/", "http://a.com/CaseSensitive"),
      // schemeless input passes through the rest-chain only
      ("nota url", "nota url"))
    val got = cases.map(_._1).toDF("u")
      .select(TextFunctions.urlCanonicalize(col("u"))).collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (want, g) => assert(g == want, s"got $g want $want") }
    val hosts = Seq("HTTPS://WWW.Site.COM:443/p", "http://x.y.z/q?a=1")
      .toDF("u").select(TextFunctions.urlHost(col("u"))).collect().map(_.getString(0))
    assert(hosts.toSeq == Seq("site.com", "x.y.z"))
  }

  test("htmlExtract: script/style bodies removed, entities decode, whitespace collapses") {
    import spark.implicits._
    val cases = Seq(
      // the boilerplate trap: naive tag-strip leaks "p{color:red}" / JS
      ("<html><style>p{color:red}</style><script>var a=1;</script><p>Hi</p></html>", "Hi"),
      // script body containing a closing-tag-looking STRING still dies
      ("""<script>if (1 < 2) { var x = "</p>"; }</script><b>kept</b>""", "kept"),
      // multiline script (dotall) + comment
      ("<script>\nline1\nline2\n</script><!-- note\nmore -->text", "text"),
      // entity decode, amp-last: &amp;lt; is the LITERAL string &lt;
      ("a &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp; &amp; &amp;lt; end",
        "a <tag> \"q\" 's' & &lt; end"),
      // attributes with > inside quotes are NOT handled (documented scan-
      // speed form), but plain attributes strip fine; whitespace collapses
      ("<p  class=\"x\">  a \t b \n c  </p>", "a b c"),
      // no html at all passes through trimmed
      ("  plain   text  ", "plain text"))
    val got = cases.map(_._1).toDF("h")
      .select(TextFunctions.htmlExtract(col("h"))).collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (want, g) => assert(g == want, s"got [$g] want [$want]") }
  }
}
