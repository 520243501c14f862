package graft.filters

import graft.model.{DropStage, HeuristicConfig}
import graft.text.TextStats

/** Result of the single-pass heuristic analysis of one document.
  * `drop_stage` covers stages 2–5 only (repetition/quality/C4/FineWeb);
  * language-ID (stage 1) and dedup (6–7) are separate pipeline steps.
  * `scrubbed_text` is the byte-exact C4-line-scrub + PII/toxicity output —
  * the per-row invariant the tests pin (BASELINE.json:15).
  */
case class AnalyzeResult(
    drop_stage: String,
    scrubbed_text: String,
    n_tokens: Int,
    n_words: Int,
    n_chars: Int,
    n_lines: Int,
    n_sentences: Int
)

/** The reference's heuristic quality stack, reimplemented as pure Scala.
  * Stage order and thresholds mirror the executed pipeline
  * (/root/reference/datatrove/findweb.py:90-115): GopherRepetition →
  * GopherQuality → C4 (the only byte-mutating stage) → FineWeb (evaluated
  * on the C4-scrubbed text, matching the in-place mutation order).
  */
object Heuristics {

  private val PolicyPhrases: Seq[String] = Seq(
    "terms of use", "privacy policy", "cookie policy", "uses cookies",
    "javascript"
  )
  private val CitationRe = "\\[?\\bcitation needed\\b\\]?".r
  private val TerminalPunct: Set[Char] = Set('.', '!', '?', '"')

  /** GopherRepetitionFilter (findweb.py:101-103). Returns null if passing. */
  def gopherRepetition(st: graft.text.DocStats, cfg: HeuristicConfig): Boolean = {
    if (st.dupLineFrac > cfg.dupLineFrac) return true
    if (st.dupParaFrac > cfg.dupParaFrac) return true
    if (st.dupLineCharFrac > cfg.dupLineCharFrac) return true
    if (st.dupParaCharFrac > cfg.dupParaCharFrac) return true
    cfg.topNgramThresholds.foreach { case (n, thr) =>
      if (st.topNgramCharFrac(n) > thr) return true
    }
    cfg.dupNgramThresholds.foreach { case (n, thr) =>
      if (st.dupNgramCharFrac(n) > thr) return true
    }
    false
  }

  /** GopherQualityFilter (findweb.py:104-106). */
  def gopherQuality(st: graft.text.DocStats, cfg: HeuristicConfig): Boolean = {
    if (st.nWords < cfg.minDocWords || st.nWords > cfg.maxDocWords) return true
    if (st.meanWordLen < cfg.minAvgWordLength ||
        st.meanWordLen > cfg.maxAvgWordLength) return true
    if (st.hashRatio > cfg.maxSymbolWordRatio) return true
    if (st.ellipsisRatio > cfg.maxSymbolWordRatio) return true
    if (st.bulletLineFrac > cfg.maxBulletLinesRatio) return true
    if (st.ellipsisLineFrac > cfg.maxEllipsisLinesRatio) return true
    if (st.nonAlphaWordFrac > cfg.maxNonAlphaWordsRatio) return true
    if (st.stopWordCount < cfg.minStopWords) return true
    false
  }

  /** Allocation-free `hay.toLowerCase(ROOT).contains(needle)` for pure
    * ASCII `hay` and lowercase-ASCII `needle`. Callers must verify `hay`
    * is all-ASCII first: exotic mappings (Kelvin sign K → k) lower INTO
    * ascii, so a blind per-char fold would diverge from the String
    * lowering on such inputs — the non-ASCII fallback keeps byte-exact
    * parity with the original construction.
    */
  private def containsCiAscii(hay: String, needle: String): Boolean = {
    val n = needle.length
    if (n == 0) return true
    val max = hay.length - n
    val c0 = needle.charAt(0)
    var i = 0
    while (i <= max) {
      var c = hay.charAt(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      if (c == c0) {
        var j = 1
        var ok = true
        while (ok && j < n) {
          var h = hay.charAt(i + j)
          if (h >= 'A' && h <= 'Z') h = (h + 32).toChar
          if (h != needle.charAt(j)) ok = false else j += 1
        }
        if (ok) return true
      }
      i += 1
    }
    false
  }

  @inline private def isAllAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) >= 128) return false
      i += 1
    }
    true
  }

  /** C4QualityFilter (findweb.py:107-110) — line-level edit + doc filter.
    * Returns (scrubbedText, docDropped). Terminal-punct line filtering is
    * disabled in the reference run (filter_no_terminal_punct=False).
    *
    * r6: the case-insensitive phrase probes run allocation-free on ASCII
    * text (the overwhelming majority after langid) — the old form built
    * one lowercase copy of the whole document plus one per line; ASCII
    * lines now scan in place, non-ASCII lines keep the exact original
    * lowering ([[containsCiAscii]]).
    */
  def c4Process(text: String, cfg: HeuristicConfig): (String, Boolean) = {
    val docHasLorem =
      if (isAllAscii(text)) containsCiAscii(text, "lorem ipsum")
      else text.toLowerCase(java.util.Locale.ROOT).contains("lorem ipsum")
    if (docHasLorem || text.contains("{")) return (text, true)
    // single flatMap: the citation scrub runs AT MOST ONCE per line (the
    // old filter+map shape ran the regex twice per kept line), and the
    // regex is gated on a cheap substring probe — lines without
    // "citation needed" (case-insensitively, a superset of the regex's
    // case-sensitive match) skip Pattern matching entirely, which on this
    // hot path is the dominant per-line cost at 32 executor threads.
    // `changed` tracks whether any line was dropped or scrubbed: when
    // nothing was, split-then-join is the identity, so the ORIGINAL
    // string returns as-is — no mkString rebuild, and the caller's
    // identity probe hits String.equals' reference fast path (analyze
    // reuses the raw-text stats on exactly this case)
    var changed = false
    val kept = TextStats.lines(text).flatMap { line =>
      val t = line.trim
      if (t.isEmpty) Some(line)
      else {
        // ASCII lines probe in place; non-ASCII keep the exact lowering
        val lw =
          if (isAllAscii(t)) null else t.toLowerCase(java.util.Locale.ROOT)
        @inline def has(needle: String): Boolean =
          if (lw == null) containsCiAscii(t, needle) else lw.contains(needle)
        val cleaned =
          if (has("citation needed")) CitationRe.replaceAllIn(line, "")
          else line
        val wc = TextStats.countWords(cleaned)
        if (wc < cfg.c4MinWordsPerLine) { changed = true; None }
        else if (PolicyPhrases.exists(has)) { changed = true; None }
        else if (cfg.c4FilterNoTerminalPunct &&
                 !(t.nonEmpty && TerminalPunct.contains(t.charAt(t.length - 1)))) {
          changed = true; None
        } else {
          if (cleaned ne line) changed = true
          Some(cleaned)
        }
      }
    }
    val scrubbed = if (changed) kept.mkString("\n") else text
    var sentences = 0
    scrubbed.foreach(c => if (c == '.' || c == '!' || c == '?') sentences += 1)
    (scrubbed, sentences < cfg.c4MinSentences)
  }

  /** FineWebQualityFilter (findweb.py:111-113), evaluated on post-C4
    * text. One body for both stats shapes: the [[graft.text.TextStats
    * .FineWebStats]] overload is the decision, and the DocStats form
    * projects into it so the identity and rewrite paths can never
    * apply different rules.
    */
  def fineWeb(fw: graft.text.TextStats.FineWebStats,
              cfg: HeuristicConfig): Boolean = {
    if (fw.linePunctRatio < cfg.fwLinePunctRatio) return true
    if (fw.shortLineFrac > cfg.fwShortLineFrac) return true
    if (fw.dupLineCharFrac > cfg.fwDupLineCharFrac) return true
    if (fw.newLineRatio > cfg.fwNewLineRatio) return true
    false
  }

  def fineWeb(st: graft.text.DocStats, cfg: HeuristicConfig): Boolean =
    fineWeb(graft.text.TextStats.FineWebStats(st.nWords, st.linePunctRatio,
      st.shortLineFrac, st.dupLineCharFrac, st.newLineRatio), cfg)

  /** Single-pass analysis: one DocStats on the raw text drives stages 2–3,
    * C4 produces the scrubbed bytes, one DocStats on the scrubbed text
    * drives stage 5, and PII/toxicity scrubbing finalizes the output bytes.
    * Exactly two tokenization passes per document total.
    */
  def analyze(text: String, cfg: HeuristicConfig): AnalyzeResult = {
    val t = if (text == null) "" else text
    val st = TextStats.compute(t)
    if (gopherRepetition(st, cfg))
      return AnalyzeResult(DropStage.GopherRep, null, 0, st.nWords, st.nChars,
        st.nLines, st.nSentences)
    if (gopherQuality(st, cfg))
      return AnalyzeResult(DropStage.GopherQual, null, 0, st.nWords, st.nChars,
        st.nLines, st.nSentences)
    val (c4Text, c4Drop) = c4Process(t, cfg)
    if (c4Drop)
      return AnalyzeResult(DropStage.C4, null, 0, st.nWords, st.nChars,
        st.nLines, st.nSentences)
    // stats are pure, so when the C4 pass changed nothing (the common
    // clean-doc case) the raw-text stats ARE the post-C4 stats — an O(n)
    // equality probe replaces the second stats pass entirely; when it
    // DID rewrite, FineWeb reads only four line-level fields, so a
    // line-level-only pass (no n-gram maps — the bulk of compute's
    // 36 µs/doc, `Probe kernel heuristics_analyze`) replaces the full
    // recompute
    val c4Identity = c4Text == t
    val (fwDrop, c4Words) =
      if (c4Identity) (fineWeb(st, cfg), st.nWords)
      else {
        val fw = TextStats.computeFineWeb(c4Text)
        (fineWeb(fw, cfg), fw.nWords)
      }
    if (fwDrop)
      return AnalyzeResult(DropStage.FineWeb, null, 0, st.nWords, st.nChars,
        st.nLines, st.nSentences)
    val finalText = Pii.scrub(c4Text)
    // same identity-reuse: when the PII scrub changed nothing, the
    // post-C4 word count IS countWords(finalText) (compute/countWords
    // share the \s+ word definition, property-pinned)
    val nTok =
      if (finalText == c4Text) c4Words else TextStats.countWords(finalText)
    AnalyzeResult(null, finalText, nTok,
      st.nWords, st.nChars, st.nLines, st.nSentences)
  }
}
