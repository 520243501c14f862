package graft.pipeline

import java.sql.Timestamp
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic page corpus with generator-side ground truth.
  *
  * Every row is a pure function of (seed, idx, n): no wall-clock, no
  * external data (FIXTURES.md §A). Populations are planted per idx%100 so
  * each document carries a *constructed* violation of exactly one filter
  * stage (or none), and the expected keep/drop stage plus byte-exact
  * scrubbed text are assembled literally at generation time — never by
  * running the filters themselves, so the end-to-end F1/byte-identity test
  * is non-circular.
  *
  * Index layout per 100-block:
  *   0-49  clean English            50-56  non-English (fr/es/de/qq)
  *   57-59 too short                60-61  extreme mean word length
  *   62-63 symbol-heavy             64-65  bullet / ellipsis walls
  *   66-68 repeated lines           69-71  n-gram loops
  *   72-75 C4 line-scrub survivors  76-77  C4 doc drops (lorem ipsum, brace)
  *   78-80 FineWeb failures         81-85  PII / toxicity carriers
  *   86-88 exact-duplicate triple   89-97  near-dup cluster (9 members)
  *   98-99 giant skew near-dup cluster (2% of corpus, one global cluster)
  */
object Synth {

  val DefaultSeed = 42L

  // --- vocabularies -------------------------------------------------------
  // Distinct per language; all ASCII, no '#', '{', '...', digits or policy
  // phrases so clean docs cannot trip a filter accidentally.

  val EnVocab: IndexedSeq[String] = Vector(
    "data", "value", "table", "river", "house", "light", "sound", "story",
    "paper", "stone", "cloud", "field", "train", "glass", "plant", "horse",
    "water", "money", "music", "night", "ocean", "dream", "voice", "world",
    "friend", "garden", "market", "window", "bridge", "forest", "silver",
    "spring", "summer", "winter", "camera", "letter", "mother", "father",
    "sister", "people", "moment", "minute", "record", "report", "result",
    "school", "street", "system", "theory", "travel", "effort", "energy",
    "engine", "family", "flower", "answer", "artist", "author", "bottle",
    "branch", "circle", "corner", "county", "course", "danger", "dinner",
    "doctor", "editor", "island", "jacket", "kitchen", "lesson", "machine",
    "meeting", "morning", "nature", "number", "office", "orange", "palace",
    "pencil", "picture", "pocket", "praise", "reason", "ribbon", "saddle",
    "sample", "season", "secret", "shadow", "signal", "singer", "sleep",
    "smile", "speech", "square", "statue", "stream", "studio", "sugar",
    "temple", "thread", "ticket", "tissue", "valley", "vessel", "village",
    "weather", "wheel", "wisdom", "yellow"
  )
  val EnShortVocab: IndexedSeq[String] = Vector(
    "a", "an", "be", "in", "on", "it", "is", "of", "to", "at", "or", "we",
    "he", "my", "up", "so", "do", "if", "no", "me", "us", "by", "as", "go"
  )
  val EnLongVocab: IndexedSeq[String] = Vector(
    "internationalization", "representatives", "considerations",
    "approximately", "understanding", "comprehensively", "administrations",
    "characteristics", "recommendations", "responsibilities",
    "transformations", "communications", "investigations", "circumstances"
  )
  val FrVocab: IndexedSeq[String] = Vector(
    "le", "la", "les", "des", "une", "dans", "pour", "avec", "sur", "est",
    "sont", "mais", "nous", "vous", "leur", "cette", "comme", "plus",
    "maison", "riviere", "lumiere", "histoire", "papier", "pierre", "nuage",
    "champ", "verre", "plante", "cheval", "eau", "argent", "musique",
    "nuit", "reve", "voix", "monde", "jardin", "marche", "fenetre", "pont",
    "foret", "printemps", "hiver", "lettre", "mere", "pere", "soeur",
    "gens", "moment", "minute", "rapport", "resultat", "ecole", "rue",
    "voyage", "famille", "fleur", "reponse", "artiste", "auteur",
    "bouteille", "cercle", "coin", "cours", "diner", "medecin", "cuisine",
    "matin", "bureau", "palais", "crayon", "image", "poche", "raison",
    "saison", "ombre", "sommeil", "sourire", "place", "ruisseau", "sucre",
    "temple", "billet", "vallee", "village", "temps", "roue", "sagesse"
  )
  val EsVocab: IndexedSeq[String] = Vector(
    "el", "los", "las", "unos", "para", "con", "sobre", "esta", "son",
    "pero", "nosotros", "ellos", "como", "mas", "casa", "rio", "luz",
    "sonido", "historia", "papel", "piedra", "nube", "campo", "tren",
    "vaso", "planta", "caballo", "agua", "dinero", "musica", "noche",
    "sueno", "mundo", "amigo", "jardin", "mercado", "ventana", "puente",
    "bosque", "plata", "primavera", "verano", "invierno", "carta", "madre",
    "padre", "hermana", "gente", "momento", "minuto", "informe",
    "resultado", "escuela", "calle", "sistema", "viaje", "familia", "flor",
    "respuesta", "artista", "autor", "botella", "rama", "circulo",
    "esquina", "curso", "peligro", "cena", "medico", "isla", "cocina",
    "leccion", "maquina", "reunion", "manana", "numero", "oficina",
    "naranja", "palacio", "lapiz", "bolsillo", "razon", "temporada",
    "secreto", "sombra", "senal", "cantante", "sonrisa", "plaza", "azucar"
  )
  val DeVocab: IndexedSeq[String] = Vector(
    "der", "die", "das", "und", "ein", "eine", "mit", "auf", "fur", "ist",
    "sind", "aber", "wir", "ihr", "diese", "wie", "mehr", "haus", "fluss",
    "licht", "klang", "geschichte", "papier", "stein", "wolke", "feld",
    "zug", "glas", "pflanze", "pferd", "wasser", "geld", "musik", "nacht",
    "traum", "stimme", "welt", "freund", "garten", "markt", "fenster",
    "brucke", "wald", "silber", "fruhling", "sommer", "winter", "brief",
    "mutter", "vater", "schwester", "leute", "moment", "minute", "bericht",
    "ergebnis", "schule", "strasse", "reise", "familie", "blume",
    "antwort", "kunstler", "autor", "flasche", "zweig", "kreis", "ecke",
    "kurs", "gefahr", "abendessen", "arzt", "insel", "kuche", "lektion",
    "maschine", "treffen", "morgen", "nummer", "buro", "palast", "stift",
    "tasche", "grund", "jahreszeit", "geheimnis", "schatten", "zeichen"
  )
  val QqVocab: IndexedSeq[String] = Vector(
    "zyqvor", "wqezil", "vzzyqa", "qorvex", "xulqep", "zeqwix", "yvoqzu",
    "quzzex", "wyxqol", "zavqiw", "exqyzu", "ozqywe", "uqzexy", "izqowy",
    "yqzuwe", "eqzyxo", "aqzwey", "oqzxiw", "uwzqey", "ywqzex", "zixquw",
    "zoyqwe", "zuwqix", "zyexqo", "qwezyx", "qixzuw", "qoyzwe", "quxziw",
    "vexqzy", "vixquz", "voyqze", "vuzqxi", "wexqzy", "wixzqu", "woyzqe"
  )

  val LangVocabs: Map[String, IndexedSeq[String]] = Map(
    "en" -> EnVocab, "fr" -> FrVocab, "es" -> EsVocab, "de" -> DeVocab,
    "qq" -> QqVocab)

  // --- deterministic helpers ---------------------------------------------

  def rngFor(seed: Long, stream: Long): Random =
    new Random(seed ^ (stream * 0x9E3779B97F4A7C15L) ^ 0x5DEECE66DL)

  private def pick(rng: Random, v: IndexedSeq[String]): String =
    v(rng.nextInt(v.length))

  /** One sentence that passes every heuristic: 8–14 words, capitalized,
    * '.'-terminated; for English, "the"/"of"/"and" are woven in so the
    * Gopher stop-word gate is satisfied by construction.
    *
    * Streamed into `sb` (r6): the original Array.fill + mkString + "."
    * form allocated a word array, a joined string and a re-copied final
    * string per sentence — at 32 executor threads the generator's
    * allocation churn measured 121 µs·core/doc (`Probe kernel synth_row`),
    * a visible slice of every filterScrub lap. The rng call sequence
    * (one nextInt(7) + n vocab picks) and the emitted characters are
    * IDENTICAL: picks at word slots 1/3/5 are still drawn and then
    * shadowed by the/of/and when `english`, and word 0's capitalize is
    * the same single-char toUpper (all-lowercase vocab).
    */
  private def appendSentence(sb: java.lang.StringBuilder, rng: Random,
                             vocab: IndexedSeq[String],
                             english: Boolean): Unit = {
    val n = 8 + rng.nextInt(7) // n >= 8, so slots 1%n/3%n/5%n are 1/3/5
    var j = 0
    while (j < n) {
      val p = pick(rng, vocab) // always drawn — rng sequence preserved
      val w =
        if (english && j == 1) "the"
        else if (english && j == 3) "of"
        else if (english && j == 5) "and"
        else p
      if (j > 0) sb.append(' ')
      if (j == 0) {
        sb.append(Character.toUpperCase(w.charAt(0)))
        sb.append(w, 1, w.length)
      } else sb.append(w)
      j += 1
    }
    sb.append('.')
    ()
  }

  def sentence(rng: Random, vocab: IndexedSeq[String], english: Boolean): String = {
    val sb = new java.lang.StringBuilder(96)
    appendSentence(sb, rng, vocab, english)
    sb.toString
  }

  /** A clean multi-line document: `nLines` distinct sentences, one per
    * line — passes the full heuristic stack by construction. One
    * StringBuilder for the whole document (see [[appendSentence]]).
    */
  def cleanDoc(rng: Random, vocab: IndexedSeq[String], nLines: Int,
               english: Boolean = true): String = {
    val sb = new java.lang.StringBuilder(nLines * 96)
    var l = 0
    while (l < nLines) {
      if (l > 0) sb.append('\n')
      appendSentence(sb, rng, vocab, english)
      l += 1
    }
    sb.toString
  }

  // --- urls / timestamps --------------------------------------------------

  // hand-rolled zero-pad (f"$idx%08d" re-parses the format string per
  // call — measurable at generator rates); identical output for the
  // non-negative ids Synth uses, including >8-digit ones
  private def pad(idx: Long): String = {
    val s = java.lang.Long.toString(idx)
    if (s.length >= 8) s else "00000000".substring(s.length) + s
  }

  /** ~30% of pages share one hot domain — the planted domain skew. */
  def urlOf(idx: Long): String = {
    val domain =
      if (idx % 10 < 3) "big-portal.example.com"
      else s"site${idx % 97}.example.com"
    s"https://$domain/p/${pad(idx)}"
  }

  private val BaseTs = 1696118400000L // 2023-10-01T00:00:00Z, fixed epoch

  def tsOf(idx: Long): Timestamp = new Timestamp(BaseTs + idx * 1000L)

  // --- giant-cluster representative cache --------------------------------

  private val giantRepCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Long), String]()

  /** Lexicographically smallest url among giant-cluster members (idx%100 ∈
    * {98,99}); memoized per (n, seed) since executors call it per row.
    */
  def giantRepUrl(n: Long): String =
    giantRepCache.computeIfAbsent((n, 0L), { _ =>
      var best: String = null
      var i = 98L
      while (i < n) {
        val u1 = urlOf(i)
        if (best == null || u1 < best) best = u1
        val u2 = urlOf(i + 1)
        if (i + 1 < n && u2 < best) best = u2
        i += 100L
      }
      if (best == null) "" else best
    })

  // --- the full labeled row ----------------------------------------------

  case class SynthRow(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String,
      expect_keep: Boolean,
      expect_stage: String,
      expect_scrubbed: String,
      dup_cluster: Long // -1 = none; otherwise representative idx
  )

  import graft.model.DropStage._

  private val HtmlPrefix = "<html><body>".getBytes("UTF-8")
  private val HtmlSuffix = "</body></html>".getBytes("UTF-8")

  /** `"<html><body>" + text + "</body></html>"` as UTF-8 bytes, built
    * without the interpolated-String intermediate (one encode + one
    * array instead of two full char copies + encode). Byte-identical.
    */
  private def htmlBytes(text: String): Array[Byte] = {
    val tb = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Byte](HtmlPrefix.length + tb.length + HtmlSuffix.length)
    System.arraycopy(HtmlPrefix, 0, out, 0, HtmlPrefix.length)
    System.arraycopy(tb, 0, out, HtmlPrefix.length, tb.length)
    System.arraycopy(HtmlSuffix, 0, out, HtmlPrefix.length + tb.length,
      HtmlSuffix.length)
    out
  }

  def row(idx: Long, n: Long, seed: Long): SynthRow = {
    val rng = rngFor(seed, idx)
    val block = idx / 100
    val m = (idx % 100).toInt

    def mk(text: String, lang: String, keep: Boolean, stage: String,
           scrubbed: String, cluster: Long = -1L): SynthRow =
      SynthRow(urlOf(idx), tsOf(idx), htmlBytes(text),
        text, lang, keep, stage, scrubbed, cluster)

    m match {
      // ---- clean English ------------------------------------------------
      case x if x < 50 =>
        val t = cleanDoc(rng, EnVocab, 8 + rng.nextInt(4))
        mk(t, "en", keep = true, null, t)

      // ---- non-English --------------------------------------------------
      case 50 | 51 =>
        val t = cleanDoc(rng, FrVocab, 8, english = false)
        mk(t, "fr", keep = false, NonEnglish, null)
      case 52 | 53 =>
        val t = cleanDoc(rng, EsVocab, 8, english = false)
        mk(t, "es", keep = false, NonEnglish, null)
      case 54 | 55 =>
        val t = cleanDoc(rng, DeVocab, 8, english = false)
        mk(t, "de", keep = false, NonEnglish, null)
      case 56 =>
        val t = cleanDoc(rng, QqVocab, 8, english = false)
        mk(t, "qq", keep = false, NonEnglish, null)

      // ---- too short (Gopher word-count gate) ---------------------------
      case 57 | 58 | 59 =>
        val ws = Array.fill(20 + rng.nextInt(10))(pick(rng, EnVocab))
        ws(1) = "the"; ws(3) = "of"
        val t = ws.mkString(" ").capitalize + "."
        mk(t, "en", keep = false, GopherQual, null)

      // ---- extreme mean word length -------------------------------------
      case 60 =>
        val ws = Array.fill(70)(pick(rng, EnShortVocab))
        val t = ws.mkString(" ").capitalize + "."
        mk(t, "en", keep = false, GopherQual, null)
      case 61 =>
        val ws = Array.fill(60)(pick(rng, EnLongVocab))
        val t = ws.mkString(" ").capitalize + "."
        mk(t, "en", keep = false, GopherQual, null)

      // ---- symbol-heavy -------------------------------------------------
      case 62 | 63 =>
        val base = cleanDoc(rng, EnVocab, 8)
        val ws = base.split(" ")
        val t = ws.zipWithIndex
          .map { case (w, i) => if (i % 7 == 3) w + " ##" else w }
          .mkString(" ")
        mk(t, "en", keep = false, GopherQual, null)

      // ---- bullet / ellipsis walls --------------------------------------
      case 64 =>
        val t = Array.fill(10)(
          "- " + Array.fill(6)(pick(rng, EnVocab)).mkString(" ")).mkString("\n")
        mk(t, "en", keep = false, GopherQual, null)
      case 65 =>
        val lines = Array.tabulate(10) { i =>
          val s = sentence(rng, EnVocab, english = true)
          if (i % 5 < 2) s.stripSuffix(".") + "..." else s
        }
        mk(lines.mkString("\n"), "en", keep = false, GopherQual, null)

      // ---- repeated lines (Gopher repetition) ---------------------------
      case 66 | 67 | 68 =>
        val repLine = sentence(rng, EnVocab, english = true)
        val lines = Array.tabulate(10) { i =>
          if (i % 2 == 1) repLine else sentence(rng, EnVocab, english = true)
        }
        mk(lines.mkString("\n"), "en", keep = false, GopherRep, null)

      // ---- n-gram loops -------------------------------------------------
      case 69 | 70 | 71 =>
        val base = cleanDoc(rng, EnVocab, 6)
        val phrase = Array.fill(5)(pick(rng, EnVocab)).mkString(" ")
        val loop = (phrase + " ") * 6
        mk(base + "\n" + loop.trim + ".", "en", keep = false, GopherRep, null)

      // ---- C4 line-scrub survivors (byte-exact expectations) ------------
      case 72 | 73 | 74 =>
        val lines = Array.fill(8)(sentence(rng, EnVocab, english = true))
        val policy1 = "This website uses cookies to improve your experience."
        val policy2 = "Please read the privacy policy before you continue."
        val shortLine = "Yes."
        val text = (lines.take(3) :+ policy1) ++ (lines.slice(3, 6) :+ shortLine) ++
          (Array(policy2) ++ lines.drop(6))
        val expected = lines.mkString("\n")
        mk(text.mkString("\n"), "en", keep = true, null, expected)
      case 75 =>
        val lines = Array.fill(7)(sentence(rng, EnVocab, english = true))
        val cite = "The result was well known [citation needed] among many people."
        val citeScrubbed = "The result was well known  among many people."
        val text = (lines.take(4) :+ cite) ++ lines.drop(4)
        val expected = (lines.take(4) :+ citeScrubbed) ++ lines.drop(4)
        mk(text.mkString("\n"), "en", keep = true, null, expected.mkString("\n"))

      // ---- C4 doc drops -------------------------------------------------
      case 76 =>
        val base = cleanDoc(rng, EnVocab, 8)
        val t = base + "\nLorem ipsum dolor sit amet consectetur adipiscing elit."
        mk(t, "en", keep = false, C4, null)
      case 77 =>
        val base = cleanDoc(rng, EnVocab, 8)
        val t = base + "\nThe config block { contains the value } shown here."
        mk(t, "en", keep = false, C4, null)

      // ---- FineWeb failures --------------------------------------------
      case 78 | 79 =>
        // low terminal-punct ratio, but ≥5 mid-line periods so C4 passes
        val lines = Array.fill(14) {
          val w = Array.fill(7)(pick(rng, EnVocab))
          s"Then ${w(0)} the ${w(1)} of Mr. ${w(2).capitalize} and ${w(3)} ${w(4)} ${w(5)} here"
        }
        mk(lines.mkString("\n"), "en", keep = false, FineWeb, null)
      case 80 =>
        // >2/3 short lines (<30 chars)
        val shortLines = Array.fill(16)(
          s"The ${pick(rng, EnVocab).take(4)} of ${pick(rng, EnVocab).take(4)}.")
        val longLines = Array.fill(3)(sentence(rng, EnVocab, english = true))
        mk((shortLines ++ longLines).mkString("\n"), "en",
          keep = false, FineWeb, null)

      // ---- PII / toxicity carriers (keep, bytes change) -----------------
      case 81 =>
        val base = cleanDoc(rng, EnVocab, 8)
        val t = base + s"\nContact the admin at box${idx}@mail${idx % 9}.example.org for the details."
        val e = base + "\nContact the admin at email@example.com for the details."
        mk(t, "en", keep = true, null, e)
      case 82 =>
        val base = cleanDoc(rng, EnVocab, 8)
        val oct = (idx % 200 + 1).toString
        val t = base + s"\nThe server at 93.184.216.$oct responded to all of the requests and logs."
        val e = base + "\nThe server at 22.214.171.124 responded to all of the requests and logs."
        mk(t, "en", keep = true, null, e)
      case 83 =>
        val base = cleanDoc(rng, EnVocab, 8)
        val t = base + "\nThe router at 10.0.0.7 and the gateway of 192.168.1.1 stayed private today."
        mk(t, "en", keep = true, null, t) // private IPs untouched
      case 84 =>
        val base = cleanDoc(rng, EnVocab, 8)
        val t = base + "\nIt was a fucking mess of the worst and slowest kind."
        val e = base + "\nIt was a [removed] mess of the worst and slowest kind."
        mk(t, "en", keep = true, null, e)
      case 85 =>
        val base = cleanDoc(rng, EnVocab, 8)
        val t = base + s"\nWrite to sales${idx}@corp.example.net or ping 93.184.216.34 for the access."
        val e = base + "\nWrite to email@example.com or ping 22.214.171.124 for the access."
        mk(t, "en", keep = true, null, e)

      // ---- exact-duplicate triple (86 survives) -------------------------
      case 86 | 87 | 88 =>
        val groupRng = rngFor(seed, 10000000000L + block)
        val t = cleanDoc(groupRng, EnVocab, 9)
        val keep = m == 86
        mk(t, "en", keep, if (keep) null else ExactDup, if (keep) t else null)

      // ---- near-dup cluster: members 89..97, rep = min url --------------
      case x if x >= 89 && x <= 97 =>
        val groupRng = rngFor(seed, 20000000000L + block)
        val base = cleanDoc(groupRng, EnVocab, 10)
        val k = x - 89
        val t =
          if (k == 0) base
          else base + s"\nExtra note number b${block}x$k was appended to the record here."
        val memberUrls = (89 to 97).map(mm => urlOf(block * 100 + mm))
        val repUrl = memberUrls.min
        val keep = urlOf(idx) == repUrl
        mk(t, "en", keep, if (keep) null else MinhashDup,
          if (keep) t else null, cluster = block * 100 + 89)

      // ---- giant skew cluster ------------------------------------------
      case _ =>
        val gRng = rngFor(seed, 30000000000L)
        val base = cleanDoc(gRng, EnVocab, 12)
        val t = base + s"\nExtra remark number r$idx stands in the line s${idx % 7} of this page."
        val keep = urlOf(idx) == giantRepUrl(n)
        mk(t, "en", keep, if (keep) null else MinhashDup,
          if (keep) t else null, cluster = 98L)
    }
  }

  // --- Spark surfaces -----------------------------------------------------

  /** Full labeled table (pages + labels side by side). */
  def rows(spark: SparkSession, n: Long, seed: Long = DefaultSeed): DataFrame = {
    import spark.implicits._
    spark.range(n).mapPartitions(_.map(i => row(i, n, seed))).toDF()
  }

  /** The `pages` table per the input hint (url, warc_ts, html, text, lang). */
  def pages(spark: SparkSession, n: Long, seed: Long = DefaultSeed): DataFrame =
    rows(spark, n, seed).select("url", "warc_ts", "html", "text", "lang")

  /** The sibling `labels` table (FIXTURES.md §A). */
  def labels(spark: SparkSession, n: Long, seed: Long = DefaultSeed): DataFrame =
    rows(spark, n, seed).select("url", "expect_keep", "expect_stage",
      "expect_scrubbed", "dup_cluster")

  /** Labeled (lang, text) samples for language-ID training — same
    * generative process as the corpus, disjoint stream ids. English
    * samples mix in the short-/long-word vocabularies so every planted
    * English population (including the extreme-word-length ones) is inside
    * the training distribution.
    */
  def langSamples(perLang: Int, seed: Long = DefaultSeed): IndexedSeq[(String, String)] = {
    val langs = Vector("en", "fr", "es", "de", "qq")
    for {
      lang <- langs
      i <- 0 until perLang
    } yield {
      val rng = rngFor(seed, 7777777L + langs.indexOf(lang) * 1000003L + i)
      val vocab =
        if (lang == "en") i % 6 match {
          case 0 => EnShortVocab
          case 1 => EnLongVocab
          case 2 => EnVocab ++ EnLongVocab
          case _ => EnVocab
        }
        else LangVocabs(lang)
      val nSent = 1 + rng.nextInt(3)
      (lang, Array.fill(nSent)(
        sentence(rng, vocab, lang == "en")).mkString(" "))
    }
  }

  /** Clean English documents for perplexity-LM training. */
  def lmSamples(nDocs: Int, seed: Long = DefaultSeed): IndexedSeq[String] =
    (0 until nDocs).map { i =>
      val rng = rngFor(seed, 8888888L + i)
      cleanDoc(rng, EnVocab, 6 + rng.nextInt(4))
    }
}
