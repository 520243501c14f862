package graft.filters

import scala.collection.mutable

/** Interpolated Kneser-Ney bigram language model for KenLM-style
  * perplexity scoring (north-rule extension — the reference repo itself
  * contains no perplexity code; its quality scoring is fastText + datatrove
  * heuristics, see SURVEY.md preamble).
  *
  * P_KN(w2|w1) = max(c(w1,w2) - d, 0)/c(w1) + d * N1+(w1,·)/c(w1) * Pcont(w2)
  * Pcont(w2)  = N1+(·,w2) / |distinct bigrams|
  *
  * The trained model is nested hash maps (w1 → (w2 → count)) plus
  * continuation tables — a few MB for the corpus-sample vocabularies we
  * train on, broadcast to executors and applied per document. The nested
  * layout (rather than a flat `w1+sep+w2`-keyed map) matters on the hot
  * path: scoring a doc hashes each token once and never allocates — the
  * flat layout's per-bigram string concat + rehash was the pipeline's
  * single most expensive operation after the regex fix.
  */
class KneserNeyLM(
    val unigram: Map[String, Long],
    val bigramByW1: Map[String, Map[String, Long]],
    val contLeft: Map[String, Int],      // w1 -> N1+(w1,·)
    val contRight: Map[String, Int],     // w2 -> N1+(·,w2)
    val bigramTypes: Long,
    val discount: Double = 0.75
) extends Serializable {

  private val vocabFloor = 1.0 / math.max(bigramTypes, 1L)
  private val Log2 = math.log(2.0)

  private def pCont(w: String): Double = {
    val c = contRight.getOrElse(w, 0)
    if (c == 0) vocabFloor else c.toDouble / bigramTypes
  }

  private def prob(c1: Long, sub: Map[String, Long], n1p: Int, w2: String): Double =
    if (c1 == 0L) pCont(w2)
    else {
      val c12 = if (sub == null) 0L else sub.getOrElse(w2, 0L)
      math.max(c12 - discount, 0.0) / c1 +
        discount * n1p / c1 * pCont(w2)
    }

  /** Lowercased [a-z0-9'] token stream. Equivalent to
    * `text.toLowerCase(Locale.ROOT).split("[^a-z0-9']+")` — hand-rolled
    * because `java.util.regex` with lambda-compiled char predicates ran
    * ~35× slower inside executor threads than the same pattern
    * single-threaded (profile-polluted megamorphic call sites); this loop
    * was the single hottest frame in the whole pipeline.
    *
    * Non-ASCII chars go through String lowercasing so EXPANDING case
    * mappings match the spec (e.g. U+0130 'İ' → "i" + combining dot:
    * the dot splits the token exactly as the regex does —
    * `Character.toLowerCase` would silently merge it). Locale.ROOT on
    * both sides keeps the mapping machine-independent (no Turkish-locale
    * dotless-ı surprises). Context-sensitive mappings (Greek final sigma)
    * lower to non-matching chars either way, so per-char lowering stays
    * token-equivalent to full-string lowering.
    */
  def tokenize(text: String): Array[String] = tokenize(text, null)

  /** [[tokenize]] with an optional per-task [[KneserNeyLM.TokenInterner]]:
    * interning is EXACT (char-for-char compare before reuse), so the
    * token stream is identical to the uninterned one — what changes is
    * that a Zipf-distributed stream allocates (and hashes) each distinct
    * token once per task instead of once per occurrence. Pass null to
    * skip interning.
    */
  def tokenize(text: String, interner: KneserNeyLM.TokenInterner): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder(16)
    @inline def take(c: Char): Unit =
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '\'')
        sb.append(c)
      else if (sb.length > 0) {
        out += (if (interner == null) sb.toString else interner.intern(sb))
        sb.setLength(0)
      }
    var i = 0
    val n = text.length
    while (i < n) {
      val c0 = text.charAt(i)
      if (c0 < 128) // ASCII fast path: branchless case fold
        take(if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0)
      else {
        val lowered =
          String.valueOf(c0).toLowerCase(java.util.Locale.ROOT)
        var k = 0
        while (k < lowered.length) { take(lowered.charAt(k)); k += 1 }
      }
      i += 1
    }
    if (sb.length > 0)
      out += (if (interner == null) sb.toString else interner.intern(sb))
    out.toArray
  }

  /** Per-word perplexity 2^(-avg log2 P) over the document's bigrams.
    * Context lookups (unigram count, bigram submap, continuation count)
    * are carried from step i to i+1, so scoring costs one map probe set
    * per token.
    */
  def perplexity(text: String): Double = perplexity(text, null)

  /** [[perplexity]] with an optional per-task interner (see
    * [[tokenize]]): bit-identical scores — interned tokens are
    * char-identical strings, and as a bonus their cached hashCode
    * amortizes across every map probe of every later occurrence.
    */
  def perplexity(text: String, interner: KneserNeyLM.TokenInterner): Double = {
    val toks = tokenize(text, interner)
    if (toks.isEmpty) return Double.MaxValue
    var w1 = "<s>"
    var c1 = unigram.getOrElse(w1, 0L)
    var sub = bigramByW1.getOrElse(w1, null)
    var n1p = contLeft.getOrElse(w1, 0)
    var lp = 0.0
    var i = 0
    while (i < toks.length) {
      val w2 = toks(i)
      val p = prob(c1, sub, n1p, w2)
      lp += math.log(math.max(p, 1e-12)) / Log2
      w1 = w2
      c1 = unigram.getOrElse(w1, 0L)
      sub = bigramByW1.getOrElse(w1, null)
      n1p = contLeft.getOrElse(w1, 0)
      i += 1
    }
    math.pow(2.0, -lp / toks.length)
  }
}

object KneserNeyLM {

  /** Per-task EXACT string-interning dictionary for scoring hot loops:
    * an open-addressing table keyed on the token's chars, probed with an
    * FNV-1a hash and confirmed by a char-for-char compare — so a reused
    * string is always char-identical to what `sb.toString` would have
    * produced, and interning cannot change any downstream value. On a
    * Zipf token stream (any natural-language corpus) the hit rate is
    * ≥99%, which removes both the per-occurrence String allocation and
    * the per-fresh-string hashCode pass that every model-map probe pays
    * (an interned instance caches its hashCode after the first probe,
    * for the rest of the task).
    *
    * Bounded and total: above ~70% fill new tokens are returned without
    * being stored (allocation-as-before fallback, never an error), and
    * the probe loop is capped at one sweep. NOT thread-safe by design —
    * one instance per task closure, the [[perplexityFn]] deserialization
    * pattern.
    */
  final class TokenInterner(capBits: Int = 16) {
    require(capBits >= 4 && capBits <= 24, s"capBits out of range: $capBits")
    private val mask = (1 << capBits) - 1
    private val keys = new Array[String](1 << capBits)
    private var used = 0
    private val maxUsed = (1 << capBits) * 7 / 10

    def intern(sb: java.lang.StringBuilder): String = {
      val n = sb.length
      // over-long tokens are returned uninterned (r6, ADVICE): crawled
      // corpora carry base64/hash blobs that tokenize to single large
      // [a-z0-9'] tokens; interning caps entry COUNT but not bytes, so
      // ~45k mostly-distinct large strings could stay retained for the
      // whole task. Zipf mass sits in short tokens — the hit-rate loss
      // above 32 chars is negligible, and the skipped strings stay
      // GC-able exactly like the pre-interner path.
      if (n > 32) return sb.toString
      var h = -2128831035 // FNV-1a over UTF-16 code units
      var i = 0
      while (i < n) { h = (h ^ sb.charAt(i)) * 16777619; i += 1 }
      var idx = h & mask
      var probes = 0
      while (probes <= mask) {
        val k = keys(idx)
        if (k == null) {
          val s = sb.toString
          if (used < maxUsed) { keys(idx) = s; used += 1 }
          return s
        }
        if (k.length == n) {
          var j = 0
          while (j < n && k.charAt(j) == sb.charAt(j)) j += 1
          if (j == n) return k
        }
        idx = (idx + 1) & mask
        probes += 1
      }
      sb.toString // unreachable below maxUsed fill; total regardless
    }
  }

  /** Perplexity scorer for use inside a `udf`, reading the broadcast ONCE
    * per task (via a transient lazy val re-initialized at closure
    * deserialization). Calling `bc.value` per row is a trap: the broadcast
    * caches through a SoftReference, and under allocation pressure every
    * clear sends 32 threads through a global lock plus a full LM
    * re-deserialization — measured at 3× CPU inflation on the ppl stage.
    * The per-task [[TokenInterner]] rides the same deserialization
    * pattern: one instance per task, single-threaded use.
    */
  def perplexityFn(bc: org.apache.spark.broadcast.Broadcast[KneserNeyLM]): String => Double =
    new (String => Double) with Serializable {
      @transient private lazy val lm = bc.value
      @transient private lazy val interner = new TokenInterner()
      def apply(t: String): Double =
        lm.perplexity(if (t == null) "" else t, interner)
    }

  /** Precompiled tokenizer pattern — a per-call `String.split(regex)`
    * recompiles the Pattern per document, which serializes badly at high
    * executor-thread counts (see TextStats.WsPat note).
    */
  private[filters] val TokPat = java.util.regex.Pattern.compile("[^a-z0-9']+")

  /** CCNet trains ONE language model PER LANGUAGE and scores each doc
    * against its own language's model (Wenzek et al. 2020 §3.3 — the
    * per-language Wikipedia KenLMs); a single global LM conflates
    * fluency with language frequency. This trains a KN bigram model per
    * distinct `langCol` value from a bounded DETERMINISTIC per-language
    * sample.
    *
    * Scale shape: the sample ranks docs per language with
    * [[graft.analytics.Ranking.rankInGroup]] (range shuffle — the
    * dominant language never sorts through one task, unlike a
    * per-stratum window), each doc truncated to `maxCharsPerDoc` BEFORE
    * the shuffle so no exchange ever carries an unbounded document;
    * `maxLangs` caps the model table with a loud failure. Training then
    * runs ONE TASK PER LANGUAGE (`groupByKey(lang).mapGroups` over the
    * rank-bounded sample) — per-task memory is ≤ perLangSampleN ×
    * maxCharsPerDoc bytes by construction, the 512 models train in
    * parallel instead of serially on the driver, and the driver holds
    * only the finished O(#langs) model map (the r4 design collected the
    * raw sample — up to ~8 GB at the caps — and trained through one
    * thread). Each group sorts its texts before training, so the
    * training sequence (and hence the model) is independent of shuffle
    * arrival order — the same determinism discipline the driver loop
    * had, now pinned per task. The rank orders on two independent
    * 64-bit text hashes (not the text: a megabyte document must not be
    * a range-partition SORT KEY); rows where both hashes tie are
    * identical texts for any practical purpose, and interchangeable as
    * training rows. The finished map broadcasts exactly like every
    * learned component here (fastText, BPE, DSIR).
    */
  def trainPerLang(df: org.apache.spark.sql.DataFrame, textCol: String,
                   langCol: String, perLangSampleN: Int = 2000,
                   seed: Long = 42L, maxLangs: Int = 512,
                   discount: Double = 0.75,
                   maxCharsPerDoc: Int = 8192): Map[String, KneserNeyLM] = {
    import org.apache.spark.sql.functions._
    require(perLangSampleN > 0, "perLangSampleN must be positive")
    require(maxCharsPerDoc > 0, "maxCharsPerDoc must be positive")
    val base = df.select(col(langCol).as("_lang"),
        substring(col(textCol), 1, maxCharsPerDoc).as("_text"))
      .filter(col("_lang").isNotNull && col("_text").isNotNull)
    val nLangs = base.select("_lang").distinct()
      .limit(maxLangs + 1).count()
    require(nLangs <= maxLangs,
      s"trainPerLang: > $maxLangs distinct languages — raise maxLangs " +
        "or pre-bucket rare languages")
    val sampled = graft.analytics.Ranking.rankInGroup(
        base.withColumn("_h", xxhash64(col("_text"), lit(seed)))
          .withColumn("_h2", xxhash64(col("_text"), lit(seed + 1))),
        Seq("_lang"), Seq("_h", "_h2"), "_rk")
      .filter(col("_rk") <= perLangSampleN)
      .select("_lang", "_text")
    // one task per language; the model rides a java-serialization
    // encoder (KneserNeyLM is Serializable nested maps — there is no
    // meaningful columnar shape for it, and only #langs rows ever cross)
    implicit val modelEnc: org.apache.spark.sql.Encoder[(String, KneserNeyLM)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.javaSerialization[KneserNeyLM])
    sampled
      .groupByKey(_.getString(0))(org.apache.spark.sql.Encoders.STRING)
      .mapGroups { (lang, rows) =>
        // sort for a reproducible training sequence — shuffle arrival
        // order is nondeterministic, the trained model must not be
        lang -> train(rows.map(_.getString(1)).toArray.sorted.iterator,
          discount)
      }
      .collect().toMap
  }

  /** Per-language scorer for use inside a `udf`: each doc scores against
    * its own language's model; a language with no trained model yields
    * null (the caller decides whether that is a drop or a pass).
    * Broadcast read once per task — same SoftReference trap note as
    * [[perplexityFn]].
    */
  def perplexityByLangFn(
      bc: org.apache.spark.broadcast.Broadcast[Map[String, KneserNeyLM]])
      : (String, String) => Option[Double] =
    new ((String, String) => Option[Double]) with Serializable {
      @transient private lazy val models = bc.value
      @transient private lazy val interner = new TokenInterner()
      def apply(lang: String, text: String): Option[Double] =
        if (lang == null) None
        else models.get(lang)
          .map(_.perplexity(if (text == null) "" else text, interner))
    }

  /** Pipeline-flavored own-language scorer: unlike [[perplexityByLangFn]]
    * (which yields null for untrained languages and lets the caller
    * decide), this FALLS BACK to a global model so the pipeline's
    * perplexity column stays total — a doc in a language too rare to
    * train never escapes the perplexity gate by scoring null. One
    * broadcast carries both so a task deserializes a single value.
    */
  def perplexityOwnLangFn(
      bc: org.apache.spark.broadcast.Broadcast[
        (Map[String, KneserNeyLM], KneserNeyLM)])
      : (String, String) => Double =
    new ((String, String) => Double) with Serializable {
      @transient private lazy val v = bc.value
      @transient private lazy val interner = new TokenInterner()
      def apply(lang: String, text: String): Double = {
        val m = if (lang == null) v._2 else v._1.getOrElse(lang, v._2)
        m.perplexity(if (text == null) "" else text, interner)
      }
    }

  /** Count-based training from an iterator of documents. Deterministic. */
  /** Full-corpus distributed KN training — the scale path past
    * [[trainPerLang]]'s bounded per-language samples. `train` and
    * `trainPerLang` cap what the model SEES (a deterministic sample);
    * this trains on every token of the input with one corpus-wide
    * count aggregation and bounds only what the DRIVER HOLDS:
    *
    *  - one pass emits `(w1, w2)` bigram rows plus `(w, null)` unigram
    *    rows per token; `groupBy(w1, w2).count` is the canonical
    *    word-count shape — map-side partial aggregation shrinks the
    *    shuffle to per-partition-distinct pairs, so the exchange
    *    carries counts, never text;
    *  - `maxVocab` keeps the top-V unigrams (count desc, word asc —
    *    deterministic ties) and folds the tail to `<unk>` by
    *    RE-AGGREGATING THE COUNT TABLE, not re-scanning the corpus:
    *    summing remapped counts is exactly counting the remapped token
    *    stream, so the second pass runs over the (already small)
    *    aggregate;
    *  - `minCount` prunes bigrams rarer than the floor (they fall back
    *    to the continuation distribution at scoring time, which is what
    *    KN backoff is for); unigrams are never pruned — they are the
    *    c(w1) denominators;
    *  - a loud `require` on the final collected row count replaces the
    *    silent OOM: at web scale you SET maxVocab/minCount, and the
    *    guard tells you when you forgot.
    *
    * With `maxVocab = 0, minCount = 1` the collected tables equal
    * [[train]]'s in-JVM tables row for row (PerplexitySpec pins
    * score-identity), so the distributed path is a drop-in for the
    * sampled one wherever the corpus no longer fits a sample.
    */
  def trainDistributed(df: org.apache.spark.sql.DataFrame, textCol: String,
                       discount: Double = 0.75, maxVocab: Int = 0,
                       minCount: Long = 1L,
                       maxCollectedRows: Long = 4000000L,
                       partialAggEntries: Int = 1 << 18): KneserNeyLM = {
    import org.apache.spark.sql.functions.{col, lit, sum, udf}
    val spark = df.sparkSession
    import spark.implicits._
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(maxVocab >= 0,
      s"maxVocab must be >= 0 (0 = unbounded), got $maxVocab")
    require(partialAggEntries >= 1,
      s"partialAggEntries must be >= 1, got $partialAggEntries")
    // Emission is one `("<s>", null, nDocs)` marker row per partition
    // flush plus PRE-AGGREGATED `(w1, w2, c)` bigram rows — NOT a tuple
    // per token. Every token position i >= 1 is exactly one bigram's
    // w2, so uni(w) for w != "<s>" re-derives from the (already
    // aggregated, small) bigram table as `groupBy(w2).sum(c)`, and
    // uni("<s>") is the marker total (which also covers zero-token
    // docs). "<s>" cannot collide with a real token (the tokenizer's
    // alphabet is [a-z0-9'], so literal "<s>" in text tokenizes to
    // "s").
    //
    // The in-partition pre-aggregation exists for allocation pressure,
    // not shuffle volume (Tungsten's partial hash-agg already dedups
    // map-side): emitting a Tuple2 per token costs a tuple + two
    // UTF8String row conversions per OCCURRENCE, and the 8M-doc
    // `Probe e2e lm` measured exactly that allocation churn as the 32-thread
    // scaling ceiling (0.68, BENCH.md). Counting into a two-level
    // java.util.HashMap with a long[1] cell makes the steady-state
    // per-token cost two map probes and zero allocations; each
    // DISTINCT pair crosses the row boundary once per flush. The map
    // is UNMANAGED heap (outside Spark's memory manager, unlike the
    // Tungsten partial agg it bypasses), so the cap must be sized to
    // the executor: the default 2^18 entries is ~40-75 MB with key
    // strings — safe at 8 task slots in a 4 GB executor — and on a
    // Zipf vocabulary still covers the overwhelming mass of
    // occurrences; a bigger cap only saves re-summing duplicate pairs
    // across flushes, because totals are flush-INVARIANT (pinned by
    // DistributedPerplexitySpec at a cap of 8). Budget roughly
    // 300 B/entry × partialAggEntries × concurrent tasks per executor.
    val pairs = df.select(col(textCol).cast("string")).as[String]
      .mapPartitions { it =>
        val tok = new KneserNeyLM(Map.empty, Map.empty, Map.empty,
          Map.empty, 1L)
        // task-local exact interner: repeated tokens reuse one String
        // instance, so map probes hit a cached hashCode and sb.toString
        // only runs once per distinct token (same churn the emission
        // rewrite targets; interning is char-exact, see TokenInterner)
        val interner = new KneserNeyLM.TokenInterner()
        new Iterator[(String, String, Long)] {
          private val agg = new java.util.HashMap[
            String, java.util.HashMap[String, Array[Long]]]()
          private var entries = 0
          private var markers = 0L
          private var out: Iterator[(String, String, Long)] = Iterator.empty
          // mid-doc resume state (r6, ADVICE): the flush cap is enforced
          // INSIDE the per-token loop, so one pathological doc (huge,
          // mostly-distinct bigrams) can no longer push the unmanaged
          // map arbitrarily past partialAggEntries. A doc split across
          // flushes keeps `curPrev` alive, so the straddling bigram is
          // still emitted and the output multiset is flush-invariant;
          // markers count docs at entry, once.
          private var curToks: Array[String] = null
          private var curI = 0
          private var curPrev = "<s>"
          private def fill(): Unit = {
            // every drain zeroes markers/entries, so leftover state never
            // survives into a re-check — input is the only refill source
            while (!out.hasNext && (it.hasNext || curToks != null)) {
              while (entries < partialAggEntries &&
                     (curToks != null || it.hasNext)) {
                if (curToks == null) {
                  val t = it.next()
                  markers += 1L
                  curPrev = "<s>"
                  curToks = tok.tokenize(if (t == null) "" else t, interner)
                  curI = 0
                }
                while (curI < curToks.length && entries < partialAggEntries) {
                  val w = curToks(curI)
                  var sub = agg.get(curPrev)
                  if (sub == null) {
                    sub = new java.util.HashMap[String, Array[Long]]()
                    agg.put(curPrev, sub)
                  }
                  val cell = sub.get(w)
                  if (cell == null) { sub.put(w, Array(1L)); entries += 1 }
                  else cell(0) += 1L
                  curPrev = w
                  curI += 1
                }
                if (curI >= curToks.length) curToks = null
              }
              val buf = new scala.collection.mutable.ArrayBuffer[
                (String, String, Long)](entries + 1)
              agg.forEach((w1, sub) =>
                sub.forEach((w2, c) => buf += ((w1, w2, c(0)))))
              if (markers > 0) buf += (("<s>", null: String, markers))
              agg.clear(); entries = 0; markers = 0L
              out = buf.iterator
            }
          }
          def hasNext: Boolean = { fill(); out.hasNext }
          def next(): (String, String, Long) = { fill(); out.next() }
        }
      }.toDF("w1", "w2", "c")
    val grouped = pairs.groupBy("w1", "w2").agg(sum(col("c")).as("c"))
    val biCounts = grouped.filter(col("w2").isNotNull)
    val counts = grouped.filter(col("w2").isNull) // the <s> marker row
      .unionByName(biCounts.groupBy(col("w2").as("w1"))
        .agg(sum(col("c")).as("c"))
        .select(col("w1"), lit(null).cast("string").as("w2"), col("c")))
      .unionByName(biCounts)
    val bounded =
      if (maxVocab == 0) counts
      else {
        // `counts` feeds two jobs (top-V, then the remap re-agg) — worth
        // one scoped persist exactly like the CC loop's reused frames;
        // released below once `pruned` has materialized through it
        counts.persist()
        // "<s>" is force-kept below, so it must not occupy one of the V
        // slots — its count is nDocs, which outranks the V-th word on
        // any real corpus and would silently fold that word to <unk>
        val keep = counts.filter(col("w2").isNull && col("w1") =!= "<s>")
          .orderBy(col("c").desc, col("w1").asc).limit(maxVocab)
          .select("w1").as[String].collect().toSet + "<s>"
        val bc = spark.sparkContext.broadcast(keep)
        val remap = udf((w: String) =>
          if (w == null || bc.value(w)) w else "<unk>")
        counts.select(remap(col("w1")).as("w1"),
            remap(col("w2")).as("w2"), col("c"))
          .groupBy("w1", "w2").agg(sum(col("c")).as("c"))
      }
    val pruned = bounded.filter(col("w2").isNull || col("c") >= minCount)
      .select(col("w1"), col("w2"), col("c").cast("long").as("c"))
      .persist()
    val nRows = pruned.count() // materializes the cache for the collect
    if (maxVocab > 0) counts.unpersist(blocking = false)
    require(nRows <= maxCollectedRows,
      s"trainDistributed: $nRows count rows exceed maxCollectedRows=" +
        s"$maxCollectedRows — raise minCount or lower maxVocab (or raise " +
        "the cap if the driver can hold the model)")
    val rows = pruned.collect()
    pruned.unpersist(blocking = false)
    val uni = mutable.HashMap.empty[String, Long]
    val bi = mutable.HashMap.empty[String, mutable.HashMap[String, Long]]
    rows.foreach { r =>
      if (r.isNullAt(1)) uni.update(r.getString(0), r.getLong(2))
      else bi.getOrElseUpdate(r.getString(0), mutable.HashMap.empty)
        .update(r.getString(1), r.getLong(2))
    }
    val cl = mutable.HashMap.empty[String, Int]
    val cr = mutable.HashMap.empty[String, Int]
    var nBigrams = 0L
    bi.foreach { case (w1, sub) =>
      cl.update(w1, sub.size)
      nBigrams += sub.size
      sub.keysIterator.foreach(w2 => cr.update(w2, cr.getOrElse(w2, 0) + 1))
    }
    new KneserNeyLM(uni.toMap, bi.view.mapValues(_.toMap).toMap,
      cl.toMap, cr.toMap, math.max(nBigrams, 1L), discount)
  }

  def train(docs: IterableOnce[String], discount: Double = 0.75): KneserNeyLM = {
    val uni = mutable.HashMap.empty[String, Long]
    val bi = mutable.HashMap.empty[String, mutable.HashMap[String, Long]]
    val tmp = new KneserNeyLM(Map.empty, Map.empty, Map.empty, Map.empty, 1L)
    docs.iterator.foreach { doc =>
      val toks = "<s>" +: tmp.tokenize(doc)
      var i = 0
      while (i < toks.length) {
        uni.update(toks(i), uni.getOrElse(toks(i), 0L) + 1L)
        if (i > 0) {
          val sub = bi.getOrElseUpdate(toks(i - 1), mutable.HashMap.empty)
          sub.update(toks(i), sub.getOrElse(toks(i), 0L) + 1L)
        }
        i += 1
      }
    }
    val cl = mutable.HashMap.empty[String, Int]
    val cr = mutable.HashMap.empty[String, Int]
    var nBigrams = 0L
    bi.foreach { case (w1, sub) =>
      cl.update(w1, sub.size)
      nBigrams += sub.size
      sub.keysIterator.foreach(w2 => cr.update(w2, cr.getOrElse(w2, 0) + 1))
    }
    new KneserNeyLM(uni.toMap, bi.view.mapValues(_.toMap).toMap,
      cl.toMap, cr.toMap, math.max(nBigrams, 1L), discount)
  }
}
