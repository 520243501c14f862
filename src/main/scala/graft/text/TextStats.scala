package graft.text

import scala.collection.mutable

/** One-pass per-document statistics feeding every heuristic filter
  * (Gopher quality / Gopher repetition / FineWeb). All fields are computed
  * in a single tokenize+scan so the whole heuristic stack costs one pass
  * per document regardless of how many filters consume it — the Spark plan
  * calls this once per row and evaluates every threshold as a Column
  * expression over the resulting struct.
  *
  * Semantics follow the public datatrove filters the reference configures
  * (/root/reference/datatrove/findweb.py:101-113); word n-grams are
  * word-based, "char fraction" is the character share of the affected words
  * relative to total word characters.
  */
case class DocStats(
    nChars: Int,
    nWords: Int,
    meanWordLen: Double,
    hashRatio: Double,          // '#' occurrences / word
    ellipsisRatio: Double,      // '...' or '…' occurrences / word
    bulletLineFrac: Double,     // lines starting with a bullet
    ellipsisLineFrac: Double,   // lines ending with an ellipsis
    nonAlphaWordFrac: Double,   // words with NO alphabetic char
    stopWordCount: Int,         // distinct stop words present
    nLines: Int,
    dupLineFrac: Double,
    dupLineCharFrac: Double,
    dupParaFrac: Double,
    dupParaCharFrac: Double,
    topNgramCharFrac2: Double,
    topNgramCharFrac3: Double,
    topNgramCharFrac4: Double,
    dupNgramCharFrac5: Double,
    dupNgramCharFrac6: Double,
    dupNgramCharFrac7: Double,
    dupNgramCharFrac8: Double,
    dupNgramCharFrac9: Double,
    dupNgramCharFrac10: Double,
    linePunctRatio: Double,     // lines ending in . ' " ! ?
    shortLineFrac: Double,      // lines shorter than 30 chars
    newLineRatio: Double,       // '\n' count / word count
    nSentences: Int             // '.'/'!'/'?' terminated segments
) {
  def topNgramCharFrac(n: Int): Double = n match {
    case 2 => topNgramCharFrac2
    case 3 => topNgramCharFrac3
    case 4 => topNgramCharFrac4
    case _ => 0.0
  }
  def dupNgramCharFrac(n: Int): Double = n match {
    case 5 => dupNgramCharFrac5
    case 6 => dupNgramCharFrac6
    case 7 => dupNgramCharFrac7
    case 8 => dupNgramCharFrac8
    case 9 => dupNgramCharFrac9
    case 10 => dupNgramCharFrac10
    case _ => 0.0
  }
}

object TextStats {

  /** Gopher stop-word list (public Gopher paper / datatrove default). */
  val StopWords: Set[String] =
    Set("the", "be", "to", "of", "and", "that", "have", "with")

  private val BulletChars: Set[Char] = Set('•', '-', '*', '‣', '◦')
  private val PunctEnd: Set[Char] = Set('.', '\'', '"', '!', '?')

  // Precompiled: String.split/replaceAll with a multi-char regex compiles a
  // fresh Pattern PER CALL — words() runs per line (c4Process) and the
  // stop-word strip ran per word, which at 32 executor threads turned
  // Pattern.compile's allocation storm into the pipeline bottleneck
  // (thread dumps: all workers inside Pattern.sequence/expr/clazz).
  private val WsPat = java.util.regex.Pattern.compile("\\s+")
  private val ParaPat =
    java.util.regex.Pattern.compile("\n\n", java.util.regex.Pattern.LITERAL)

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\u000B' || c == '\f'

  /** Non-empty tokens between `\s+` runs. Hand-rolled (not `WsPat.split`):
    * the regex engine's lambda char predicates run an order of magnitude
    * slower in profile-polluted executor threads, and words() is called
    * per line in the C4 scrub. Matches the regex exactly: the separator
    * set is Java's `\s` = [ \t\n\x0B\f\r].
    */
  def words(text: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = -1
    var i = 0
    val n = text.length
    while (i < n) {
      if (isWs(text.charAt(i))) {
        if (start >= 0) { out += text.substring(start, i); start = -1 }
      } else if (start < 0) start = i
      i += 1
    }
    if (start >= 0) out += text.substring(start)
    out.toArray
  }

  /** Word count without materializing the words — counts ws→non-ws
    * transitions in one char pass (words(t).length allocates a substring
    * per word just to throw it away).
    */
  def countWords(text: String): Int = {
    var count = 0
    var inWord = false
    var i = 0
    val n = text.length
    while (i < n) {
      if (isWs(text.charAt(i))) inWord = false
      else if (!inWord) { count += 1; inWord = true }
      i += 1
    }
    count
  }

  def lines(text: String): Array[String] = text.split("\n", -1)

  def paragraphs(text: String): Array[String] = ParaPat.split(text, -1)

  /** Lowercase letters of `w` only — allocation-light equivalent of
    * `w.toLowerCase.replaceAll("[^a-z]", "")` for stop-word matching.
    */
  private def lettersLower(w: String): String = {
    // fast path: a word that is already all-lowercase-letters (the
    // overwhelming majority in body text) is its own result — return
    // the SAME reference, no allocation (r3 profile: this per-word
    // StringBuilder was a visible leaf frame)
    var i = 0
    while (i < w.length && w.charAt(i) >= 'a' && w.charAt(i) <= 'z') i += 1
    if (i == w.length) return w
    val sb = new java.lang.StringBuilder(w.length)
    i = 0
    while (i < w.length) {
      val c = Character.toLowerCase(w.charAt(i))
      if (c >= 'a' && c <= 'z') sb.append(c)
      i += 1
    }
    sb.toString
  }

  private def hasAlpha(w: String): Boolean = {
    var i = 0
    while (i < w.length) { if (Character.isLetter(w.charAt(i))) return true; i += 1 }
    false
  }

  private def countOcc(s: String, sub: String): Int = {
    var c = 0; var i = s.indexOf(sub)
    while (i >= 0) { c += 1; i = s.indexOf(sub, i + sub.length) }
    c
  }

  /** Fraction of (items, item-chars) appearing more than once. Returns
    * (dupItemFrac, dupCharFrac) where duplicate occurrences beyond the
    * first count toward both numerators.
    */
  private def dupFractions(items: Array[String]): (Double, Double) = {
    val nonEmpty = items.filter(_.trim.nonEmpty)
    if (nonEmpty.isEmpty) return (0.0, 0.0)
    val counts = mutable.HashMap.empty[String, Int]
    nonEmpty.foreach(it => counts.update(it, counts.getOrElse(it, 0) + 1))
    var dupItems = 0; var dupChars = 0; var totChars = 0
    nonEmpty.foreach(it => totChars += it.length)
    counts.foreach { case (it, c) =>
      if (c > 1) { dupItems += c - 1; dupChars += (c - 1) * it.length }
    }
    (dupItems.toDouble / nonEmpty.length,
      if (totChars == 0) 0.0 else dupChars.toDouble / totChars)
  }

  /** Rolling n-gram key over the per-word 64-bit polynomial hashes that
    * [[compute]] builds once per doc — replacing per-window StringBuilder
    * keys (9 n-gram passes × string alloc + full rehash was the analyze
    * hot spot). A 64-bit collision across a document's ≤100k windows is
    * ~1e-9-rare; thresholds are fractions, so the effect would be noise.
    */
  @inline private def ngramKey(hs: Array[Long], i: Int, n: Int): Long = {
    var h = -7046029254386353131L
    var j = 0
    while (j < n) { h = h * 0x9E3779B97F4A7C15L + hs(i + j); j += 1 }
    h
  }

  /** Character share of the single most frequent word n-gram (counted over
    * all its occurrences) relative to total word characters.
    */
  private def topNgramCharFrac(wl: Array[Int], hs: Array[Long], n: Int,
                               totWordChars: Int): Double = {
    if (wl.length < n || totWordChars == 0) return 0.0
    // presized to 2× the n-gram count: LongMap repacks at ~50% load, so
    // exact-count sizing still rehashed once at the end (confirmed by a
    // second jstack pass); 2× clears the load factor for the whole doc
    val counts = new mutable.LongMap[Int](2 * (wl.length - n + 1))
    var best = 0.0
    var i = 0
    while (i + n <= wl.length) {
      var chars = 0
      var j = 0
      while (j < n) { chars += wl(i + j); j += 1 }
      val k = ngramKey(hs, i, n)
      val c = counts.getOrElse(k, 0) + 1
      counts.update(k, c)
      if (c > 1) {
        val share = c.toDouble * chars / totWordChars
        if (share > best) best = share
      }
      i += 1
    }
    math.min(best, 1.0)
  }

  /** Character fraction of words covered by non-first occurrences of any
    * duplicated n-gram (overlap-deduped by word index).
    */
  private def dupNgramCharFrac(wl: Array[Int], hs: Array[Long], n: Int,
                               totWordChars: Int, dupWordIdx: Array[Boolean]): Double = {
    if (wl.length < n || totWordChars == 0) return 0.0
    java.util.Arrays.fill(dupWordIdx, false)
    val seen = new mutable.LongMap[Boolean](2 * (wl.length - n + 1)) // see above
    var i = 0
    while (i + n <= wl.length) {
      val k = ngramKey(hs, i, n)
      if (seen.contains(k)) {
        var j2 = 0
        while (j2 < n) { dupWordIdx(i + j2) = true; j2 += 1 }
      } else seen.update(k, true)
      i += 1
    }
    var dupChars = 0
    i = 0
    while (i < wl.length) { if (dupWordIdx(i)) dupChars += wl(i); i += 1 }
    dupChars.toDouble / totWordChars
  }

  /** Exactly the stats the FineWeb filter reads (plus the word count the
    * downstream token-count reuse needs) — all line-level, none of the
    * n-gram maps that dominate [[compute]]'s cost. Field definitions
    * mirror [[compute]]'s term for term (property-pinned equal), so a
    * caller that only gates on FineWeb can skip the full pass.
    */
  final case class FineWebStats(nWords: Int, linePunctRatio: Double,
                                shortLineFrac: Double,
                                dupLineCharFrac: Double,
                                newLineRatio: Double)

  def computeFineWeb(text: String): FineWebStats = {
    val nWords = countWords(text)
    val ls = lines(text)
    // one pass, one trim per line (compute() trims repeatedly but
    // amortizes against its n-gram maps; this pass has nothing to hide
    // behind); newline count == segments - 1 for a "\n" split with -1
    // limit, so no countOcc rescan
    val trimmed = Array.newBuilder[String]
    var punctEnd = 0; var short = 0; var nLines = 0
    var i = 0
    while (i < ls.length) {
      val l = ls(i)
      val t = l.trim
      if (t.nonEmpty) {
        nLines += 1
        if (PunctEnd.contains(t.charAt(t.length - 1))) punctEnd += 1
        if (l.length < 30) short += 1
        trimmed += t
      }
      i += 1
    }
    val (_, dlcf) = dupFractions(trimmed.result())
    FineWebStats(
      nWords = nWords,
      linePunctRatio = if (nLines == 0) 0.0 else punctEnd.toDouble / nLines,
      shortLineFrac = if (nLines == 0) 0.0 else short.toDouble / nLines,
      dupLineCharFrac = dlcf,
      newLineRatio =
        if (nWords == 0) 0.0 else (ls.length - 1).toDouble / nWords)
  }

  /** Word spans (starts, ends) between `\s+` runs — the allocation-free
    * core of [[words]]; identical boundaries, no substrings.
    */
  private[text] def wordSpans(text: String): (Array[Int], Array[Int]) = {
    val starts = new mutable.ArrayBuilder.ofInt
    val ends = new mutable.ArrayBuilder.ofInt
    var start = -1
    var i = 0
    val n = text.length
    while (i < n) {
      if (isWs(text.charAt(i))) {
        if (start >= 0) { starts += start; ends += i; start = -1 }
      } else if (start < 0) start = i
      i += 1
    }
    if (start >= 0) { starts += start; ends += n }
    (starts.result(), ends.result())
  }

  // stable order for the stopword bitmask fold; ≤ 64 entries by the
  // bitCount contract below (StopWords is 8)
  private val StopWordsArr: Array[String] = StopWords.toArray.sorted
  private val MaxStopLen: Int = StopWordsArr.map(_.length).max

  def compute(text: String): DocStats = {
    // r6: span-based word pass — the old `words(text)` form allocated a
    // substring per word (plus a lettersLower string and a HashSet entry
    // per stop-word probe) just to read lengths, hashes and letter
    // folds that all derive directly from (text, start, end). Word
    // boundaries, hash values and every downstream statistic are
    // unchanged (the brute-force n-gram pin and the property suite
    // cover the equivalence).
    val (wStarts, wEnds) = wordSpans(text)
    val nWords = wStarts.length
    val wl = new Array[Int](nWords)
    val hs = new Array[Long](nWords)
    var totWordChars = 0
    var wi = 0
    while (wi < nWords) {
      val s = wStarts(wi); val e = wEnds(wi)
      wl(wi) = e - s
      totWordChars += e - s
      var h = 1125899906842597L
      var j = s
      while (j < e) { h = h * 31 + text.charAt(j); j += 1 }
      hs(wi) = h
      wi += 1
    }
    val dupIdx = new Array[Boolean](nWords)
    val ls = lines(text)
    val ps = paragraphs(text)
    val meanWordLen = if (nWords == 0) 0.0 else totWordChars.toDouble / nWords

    val nHash = countOcc(text, "#")
    val nEll = countOcc(text, "...") + countOcc(text, "…")
    val hashRatio = if (nWords == 0) 0.0 else nHash.toDouble / nWords
    val ellipsisRatio = if (nWords == 0) 0.0 else nEll.toDouble / nWords

    // one trim per line (r6): the old shape trimmed in the non-empty
    // filter, again in the stats loop, and a third time inside
    // dupFractions — ~3 allocations per line on the hottest corpus path
    val neLines = Array.newBuilder[String]   // untrimmed, trim non-empty
    val neTrimmed = Array.newBuilder[String] // trimmed counterparts
    var li = 0
    while (li < ls.length) {
      val t = ls(li).trim
      if (t.nonEmpty) { neLines += ls(li); neTrimmed += t }
      li += 1
    }
    val nonEmptyLines = neLines.result()
    val trimmedLines = neTrimmed.result()
    val nLines = nonEmptyLines.length
    var bullet = 0; var ellEnd = 0; var punctEnd = 0; var short = 0
    var lj = 0
    while (lj < nLines) {
      val l = nonEmptyLines(lj)
      val t = trimmedLines(lj)
      if (BulletChars.contains(t.charAt(0))) bullet += 1
      if (t.endsWith("...") || t.endsWith("…")) ellEnd += 1
      if (PunctEnd.contains(t.charAt(t.length - 1))) punctEnd += 1
      if (l.length < 30) short += 1
      lj += 1
    }
    val bulletFrac = if (nLines == 0) 0.0 else bullet.toDouble / nLines
    val ellFrac = if (nLines == 0) 0.0 else ellEnd.toDouble / nLines
    val punctRatio = if (nLines == 0) 0.0 else punctEnd.toDouble / nLines
    val shortFrac = if (nLines == 0) 0.0 else short.toDouble / nLines

    // per-word letter scan over the spans: alpha presence + a stopword
    // bitmask fold replacing lettersLower + HashSet. The fold mirrors
    // lettersLower exactly (Character.toLowerCase first, keep only
    // a–z); folding stops once the letter count exceeds the longest
    // stopword, since a longer fold can never match. Distinct stopword
    // count = set bits.
    var nonAlpha = 0
    var stopMask = 0L
    val foldBuf = new Array[Char](MaxStopLen + 1)
    var wk = 0
    while (wk < nWords) {
      var alpha = false
      var bl = 0
      var j = wStarts(wk)
      val e = wEnds(wk)
      while (j < e && bl <= MaxStopLen) {
        val c0 = text.charAt(j)
        if (!alpha && Character.isLetter(c0)) alpha = true
        val c = Character.toLowerCase(c0)
        if (c >= 'a' && c <= 'z') { foldBuf(bl) = c; bl += 1 }
        j += 1
      }
      // the alpha scan must cover the whole word even when the fold
      // stopped early
      while (!alpha && j < e) {
        if (Character.isLetter(text.charAt(j))) alpha = true
        j += 1
      }
      if (!alpha) nonAlpha += 1
      if (bl > 0 && bl <= MaxStopLen) {
        var k = 0
        var matched = false
        while (!matched && k < StopWordsArr.length) {
          val sw = StopWordsArr(k)
          if (sw.length == bl) {
            var m = 0
            while (m < bl && sw.charAt(m) == foldBuf(m)) m += 1
            if (m == bl) { stopMask |= 1L << k; matched = true }
          }
          k += 1
        }
      }
      wk += 1
    }
    val nonAlphaFrac = if (nWords == 0) 0.0 else nonAlpha.toDouble / nWords

    val (dlf, dlcf) = dupFractions(trimmedLines)
    val (dpf, dpcf) = dupFractions(ps.map(_.trim).filter(_.nonEmpty))

    val newLineRatio =
      if (nWords == 0) 0.0 else countOcc(text, "\n").toDouble / nWords

    var sentences = 0
    var k = 0
    while (k < text.length) {
      val c = text.charAt(k)
      if (c == '.' || c == '!' || c == '?') sentences += 1
      k += 1
    }

    // n-gram early-skip: a repeated (n+1)-gram contains a repeated n-gram
    // at distinct window positions (equal words → equal word hashes →
    // equal n-gram keys), so a level with NO duplicate implies every
    // higher level is exactly 0.0 — its whole map-building pass can be
    // skipped. Words are non-empty, so any repeat yields a nonzero frac
    // (the implication is an equivalence, not just one-way). On clean
    // body text (no repetition — the common case) this cuts the nine
    // n-gram passes to two, which `Probe kernel textstats_compute`
    // measured as the dominant
    // allocation pressure in compute at 32 threads (161 µs·core/doc,
    // 3.9× thread inflation).
    val top2 = topNgramCharFrac(wl, hs, 2, totWordChars)
    val top3 =
      if (top2 == 0.0) 0.0 else topNgramCharFrac(wl, hs, 3, totWordChars)
    val top4 =
      if (top3 == 0.0) 0.0 else topNgramCharFrac(wl, hs, 4, totWordChars)
    val dup5 = dupNgramCharFrac(wl, hs, 5, totWordChars, dupIdx)
    val dup6 =
      if (dup5 == 0.0) 0.0
      else dupNgramCharFrac(wl, hs, 6, totWordChars, dupIdx)
    val dup7 =
      if (dup6 == 0.0) 0.0
      else dupNgramCharFrac(wl, hs, 7, totWordChars, dupIdx)
    val dup8 =
      if (dup7 == 0.0) 0.0
      else dupNgramCharFrac(wl, hs, 8, totWordChars, dupIdx)
    val dup9 =
      if (dup8 == 0.0) 0.0
      else dupNgramCharFrac(wl, hs, 9, totWordChars, dupIdx)
    val dup10 =
      if (dup9 == 0.0) 0.0
      else dupNgramCharFrac(wl, hs, 10, totWordChars, dupIdx)

    DocStats(
      nChars = text.length,
      nWords = nWords,
      meanWordLen = meanWordLen,
      hashRatio = hashRatio,
      ellipsisRatio = ellipsisRatio,
      bulletLineFrac = bulletFrac,
      ellipsisLineFrac = ellFrac,
      nonAlphaWordFrac = nonAlphaFrac,
      stopWordCount = java.lang.Long.bitCount(stopMask),
      nLines = nLines,
      dupLineFrac = dlf,
      dupLineCharFrac = dlcf,
      dupParaFrac = dpf,
      dupParaCharFrac = dpcf,
      topNgramCharFrac2 = top2,
      topNgramCharFrac3 = top3,
      topNgramCharFrac4 = top4,
      dupNgramCharFrac5 = dup5,
      dupNgramCharFrac6 = dup6,
      dupNgramCharFrac7 = dup7,
      dupNgramCharFrac8 = dup8,
      dupNgramCharFrac9 = dup9,
      dupNgramCharFrac10 = dup10,
      linePunctRatio = punctRatio,
      shortLineFrac = shortFrac,
      newLineRatio = newLineRatio,
      nSentences = sentences
    )
  }
}
