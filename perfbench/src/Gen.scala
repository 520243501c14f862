package perfbench

import java.util.Random

import org.apache.spark.sql.SparkSession

import graft.pipeline.Synth.{DeVocab, EnVocab, FrVocab}

/** One row of the `pages` input table. */
final case class PageRow(url: String, warc_ts: java.sql.Timestamp,
                         html: Array[Byte], text: String, lang: String)

/** The generator's verdict for one page: kept with `expected` as its
  * scrubbed text, or dropped at `stage`.
  */
final case class TruthRow(url: String, keep: Boolean, stage: String,
                          expected: String)

/** Seeded workload generator. Every document and its truth are a pure
  * function of (workload, seed, idx), built here from word lists alone:
  * the truth is assembled while the text is written, never by running a
  * filter, and nothing here calls the engine's filters or its own
  * synthetic corpus (only `Synth`'s word lists are shared).
  *
  * Each workload lays its document kinds out by `idx % 100`, so every seed
  * gives the same mix and the same amount of work; the seed changes the
  * words, the line counts and the group contents.
  */
object Gen {

  final case class Doc(url: String, tsMs: Long, text: String, lang: String,
                       keep: Boolean, stage: String, expected: String)

  // drop_stage values of the pipeline's output contract
  val NonEnglish = "1_non_english"
  val GopherRep = "2_gopher_repetition"
  val GopherQual = "3_gopher_quality"
  val C4 = "4_c4"
  val FineWeb = "5_fineweb"
  val ExactDup = "6_exact_dup"
  val MinhashDup = "7_minhash_dup"

  /** Files the pages table is written as, fixed so that the same seed
    * gives the same bytes on any machine.
    */
  val InputFiles = 16

  sealed abstract class Workload(val name: String, val docs: Int) extends Serializable {
    def doc(seed: Long, idx: Int): Doc
  }

  val workloads: Seq[Workload] = Seq(LongPages, DupSkew)

  def byName(name: String): Workload =
    workloads.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${workloads.map(_.name).mkString(", ")})"))

  // --- deterministic helpers ---------------------------------------------

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long): Random =
    new Random(mix(mix(seed) + stream * 0x9E3779B97F4A7C15L))

  private val GroupStream = 1L << 40
  private val GiantStream = 2L << 40

  private def pick(r: Random, v: IndexedSeq[String]): String = v(r.nextInt(v.length))

  private def pad(idx: Int): String = {
    val s = Integer.toString(idx)
    "00000000".substring(math.min(s.length, 8)) + s
  }

  private val BaseTsMs = 1704067200000L // 2024-01-01T00:00:00Z

  /** Pages of one near-duplicate cluster share a host, so the cluster's
    * smallest url is its smallest idx, which is also its earliest page.
    */
  private def url(host: String, idx: Int): String = s"https://$host/p/${pad(idx)}"
  private def siteOf(key: Long): String = s"site${java.lang.Math.floorMod(key, 97L)}.example.com"

  /** `words` words (8–14 at random when 0), capitalized, '.'-terminated;
    * English sentences carry "the", "of" and "and" so the stop-word gate
    * passes.
    */
  def sentence(r: Random, vocab: IndexedSeq[String], english: Boolean, words: Int = 0): String = {
    val n = if (words > 0) words else 8 + r.nextInt(7)
    val sb = new java.lang.StringBuilder(96)
    var j = 0
    while (j < n) {
      val p = pick(r, vocab)
      val w =
        if (english && j == 1) "the"
        else if (english && j == 3) "of"
        else if (english && j == 5) "and"
        else p
      if (j > 0) sb.append(' ')
      if (j == 0) sb.append(Character.toUpperCase(w.charAt(0))).append(w, 1, w.length)
      else sb.append(w)
      j += 1
    }
    sb.append('.').toString
  }

  def lines(r: Random, vocab: IndexedSeq[String], n: Int,
            english: Boolean = true): Seq[String] =
    Seq.fill(n)(sentence(r, vocab, english))

  def clean(r: Random, n: Int): String = lines(r, EnVocab, n).mkString("\n")

  // --- document kinds -----------------------------------------------------
  // Each returns (text, lang, keep, stage, expected scrubbed text).

  private type Kind = (String, String, Boolean, String, String)

  private def kept(t: String, expected: String): Kind = (t, "en", true, null, expected)
  private def dropped(t: String, stage: String, lang: String = "en"): Kind =
    (t, lang, false, stage, null)

  /** Every other line is the same sentence. */
  private def repeatedLines(r: Random): Kind = {
    val rep = sentence(r, EnVocab, english = true)
    dropped(Seq.tabulate(10)(i =>
      if (i % 2 == 1) rep else sentence(r, EnVocab, english = true)).mkString("\n"), GopherRep)
  }

  /** A five-word phrase looped six times. */
  private def ngramLoop(r: Random): Kind = {
    val base = clean(r, 6)
    val phrase = Seq.fill(5)(pick(r, EnVocab)).mkString(" ")
    dropped(base + "\n" + ((phrase + " ") * 6).trim + ".", GopherRep)
  }

  /** Three English sentences on one line: fewer than the 50 words the
    * quality gate asks for, yet English enough for language ID. Apart from
    * "the", "of" and "and", no word repeats, and those three are never
    * adjacent, so no word n-gram repeats and the repetition gate passes.
    */
  private def tooShort(r: Random): Kind = {
    val words = scala.util.Random.javaRandomToRandom(r).shuffle(EnVocab).iterator
    val ls = Seq.fill(3) {
      val n = 8 + r.nextInt(7)
      Seq.tabulate(n) { j =>
        val w = words.next()
        if (j == 1) "the" else if (j == 3) "of" else if (j == 5) "and"
        else if (j == 0) w.capitalize else w
      }.mkString(" ") + "."
    }
    dropped(ls.mkString(" "), GopherQual)
  }

  /** A "##" after every seventh word. */
  private def symbolHeavy(r: Random): Kind = {
    val ws = clean(r, 8).split(" ")
    dropped(ws.zipWithIndex.map { case (w, i) => if (i % 7 == 3) w + " ##" else w }
      .mkString(" "), GopherQual)
  }

  /** Ten bulleted English sentences. */
  private def bullets(r: Random): Kind =
    dropped(lines(r, EnVocab, 10).map("- " + _).mkString("\n"), GopherQual)

  private def lorem(r: Random): Kind =
    dropped(clean(r, 8) + "\nLorem ipsum dolor sit amet consectetur adipiscing elit.", C4)

  private def brace(r: Random): Kind =
    dropped(clean(r, 8) + "\nThe config block { contains the value } shown here.", C4)

  /** Lines without terminal punctuation, each with one mid-line period. */
  private def lowPunct(r: Random): Kind =
    dropped(Seq.fill(14) {
      val w = Seq.fill(7)(pick(r, EnVocab))
      s"Then ${w(0)} the ${w(1)} of Mr. ${w(2).capitalize} and ${w(3)} ${w(4)} ${w(5)} here"
    }.mkString("\n"), FineWeb)

  private def email(r: Random, idx: Int, nLines: Int): Kind = {
    val base = clean(r, nLines)
    kept(base + s"\nContact the admin at box$idx@mail${idx % 9}.example.org for the details.",
      base + "\nContact the admin at email@example.com for the details.")
  }

  private def globalIp(r: Random, idx: Int, nLines: Int): Kind = {
    val base = clean(r, nLines)
    kept(base + s"\nThe server at 93.184.216.${idx % 200 + 1} responded to all of the requests and logs.",
      base + "\nThe server at 22.214.171.124 responded to all of the requests and logs.")
  }

  private def privateIp(r: Random, nLines: Int): Kind = {
    val t = clean(r, nLines) +
      "\nThe router at 10.0.0.7 and the gateway of 192.168.1.1 stayed private today."
    kept(t, t)
  }

  private def toxic(r: Random, nLines: Int): Kind = {
    val base = clean(r, nLines)
    kept(base + "\nIt was a fucking mess of the worst and slowest kind.",
      base + "\nIt was a [removed] mess of the worst and slowest kind.")
  }

  /** Cookie and policy lines and a one-word line, all removed by the C4
    * line scrub; the page itself is kept.
    */
  private def policyLines(r: Random, nLines: Int): Kind = {
    val ls = lines(r, EnVocab, nLines)
    val a = nLines / 3
    val b = 2 * nLines / 3
    val t = (ls.take(a) :+ "This website uses cookies to improve your experience.") ++
      (ls.slice(a, b) :+ "Yes.") ++
      ("Please read the privacy policy before you continue." +: ls.drop(b))
    kept(t.mkString("\n"), ls.mkString("\n"))
  }

  /** A "[citation needed]" marker, cut out of its line by the C4 scrub. */
  private def citation(r: Random, nLines: Int): Kind = {
    val ls = lines(r, EnVocab, nLines)
    val cut = nLines / 2
    val t = (ls.take(cut) :+ "The result was well known [citation needed] among many people.") ++ ls.drop(cut)
    val e = (ls.take(cut) :+ "The result was well known  among many people.") ++ ls.drop(cut)
    kept(t.mkString("\n"), e.mkString("\n"))
  }

  private def foreign(r: Random, vocab: IndexedSeq[String], lang: String, nLines: Int): Kind =
    dropped(lines(r, vocab, nLines, english = false).mkString("\n"), NonEnglish, lang)

  /** A near-duplicate: the base page with two words appended to its last
    * line. Two new 5-word shingles against ~100 shared ones put every
    * member in a shared LSH band with the base with probability
    * 1 - (1 - 0.98^8)^14 > 1 - 1e-11.
    */
  private def nearDup(base: String, tag: String): String = base + s" Item $tag."

  private def mk(idx: Int, host: String, k: Kind): Doc =
    Doc(url(host, idx), BaseTsMs + idx * 1000L, k._1, k._2, k._3, k._4, k._5)

  // --- workloads -----------------------------------------------------------

  /** Long, mostly clean English pages (40–80 lines): the per-document
    * filter kernels, the scored cache and the kept-side write carry the
    * lap. 16% are planted filter failures, foreign pages or scrub
    * carriers; one page in a hundred is an exact copy, so dedup has almost
    * nothing to remove.
    */
  object LongPages extends Workload("long_pages", 4000) {
    def doc(seed: Long, idx: Int): Doc = {
      val r = rng(seed, idx)
      val m = idx % 100
      def long = 40 + r.nextInt(41)
      val k: Kind = m match {
        case x if x < 83 => val t = clean(r, long); kept(t, t)
        case 83 => foreign(r, FrVocab, "fr", long)
        case 84 => foreign(r, DeVocab, "de", long)
        case 85 => privateIp(r, long)
        case 86 => repeatedLines(r)
        case 87 => ngramLoop(r)
        case 88 => tooShort(r)
        case 89 => symbolHeavy(r)
        case 90 => bullets(r)
        case 91 => lorem(r)
        case 92 => brace(r)
        case 93 => lowPunct(r)
        case 94 => email(r, idx, long)
        case 95 => globalIp(r, idx, long)
        case 96 => toxic(r, long)
        case 97 => policyLines(r, long)
        case 98 => citation(r, long)
        case _ => // an exact copy of the block's first (clean, earlier) page
          dropped(doc(seed, idx - 99).text, ExactDup)
      }
      mk(idx, siteOf(idx), k)
    }
  }

  /** Short pages, 85% of them duplicates: per 100 pages, 15 unique, five
    * groups of five exact copies, four near-duplicate clusters of ten, and
    * 20 members of one corpus-wide cluster whose pages share all their LSH
    * band keys. Dedup marks most rows, and most of the write is the removed
    * side.
    */
  object DupSkew extends Workload("dup_skew", 12000) {
    def doc(seed: Long, idx: Int): Doc = {
      val block = idx / 100
      val m = idx % 100
      if (m < 15) {
        val r = rng(seed, idx)
        val t = clean(r, 8 + r.nextInt(4))
        mk(idx, siteOf(idx), kept(t, t))
      } else if (m < 40) {
        val g = (m - 15) / 5
        val key = block * 16L + g
        val t = clean(rng(seed, GroupStream + key), 9)
        val first = (m - 15) % 5 == 0
        mk(idx, siteOf(idx), if (first) kept(t, t) else dropped(t, ExactDup))
      } else if (m < 80) {
        val c = (m - 40) / 10
        val j = (m - 40) % 10
        val key = block * 16L + 8 + c
        val base = clean(rng(seed, GroupStream + key), 10)
        val t = if (j == 0) base else nearDup(base, s"n${block}c${c}k$j")
        mk(idx, siteOf(key), if (j == 0) kept(t, t) else dropped(t, MinhashDup))
      } else {
        // fixed sentence lengths: this one text is a fifth of the input,
        // so its length would otherwise set the input size of a seed
        val r = rng(seed, GiantStream)
        val t = nearDup(Seq.fill(12)(sentence(r, EnVocab, english = true, words = 11)).mkString("\n"), s"g$idx")
        mk(idx, "hot-portal.example.com", if (idx == 80) kept(t, t) else dropped(t, MinhashDup))
      }
    }
  }

  // --- Spark surfaces -------------------------------------------------------

  def page(d: Doc): PageRow = {
    val html = ("<html><body>" + d.text + "</body></html>")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    PageRow(d.url, new java.sql.Timestamp(d.tsMs), html, d.text, d.lang)
  }

  def truth(d: Doc): TruthRow = TruthRow(d.url, d.keep, d.stage, d.expected)

  /** Writes the first `n` documents as the `pages` table and its truth
    * table, both parquet.
    */
  def write(spark: SparkSession, w: Workload, seed: Long,
            pagesDir: String, truthDir: String, n: Int = -1): Unit = {
    import spark.implicits._
    val docs = spark.range(0, if (n < 0) w.docs else n, 1, InputFiles)
      .mapPartitions(_.map(i => w.doc(seed, i.toInt))).persist()
    try {
      docs.map(page).write.mode("overwrite").parquet(pagesDir)
      docs.map(truth).write.mode("overwrite").parquet(truthDir)
    } finally docs.unpersist()
  }
}
