package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.MinHash

/** Near-duplicate detection family beyond MinHash (training-data pipeline
  * extensions): SimHash, exact n-gram Jaccard verification, and
  * embedding-cosine near-dup — each built on the same block-then-verify
  * shape so no stage is O(n²).
  */
object NearDup {

  /** Cap on hot keys collected to the driver for salting (see
    * [[Similarity.MaxHotKeysCollected]] — shared discipline).
    */
  private val MaxHotKeysCollected: Int = Similarity.MaxHotKeysCollected

  /** 64-bit SimHash over word features (Charikar 2002): per-word 64-bit
    * hash votes ±1 per bit, sign of the vote sum becomes the bit. Pure
    * per-document function (no shuffle); near-dups differ in few bits.
    */
  def simhash64(text: String): Long = {
    if (text == null) return 0L
    val votes = new Array[Int](64)
    var start = 0
    val n = text.length
    var i = 0
    while (i <= n) {
      if (i == n || Character.isWhitespace(text.charAt(i))) {
        if (i > start) {
          // FNV-1a 64-bit of the word
          var h = 0xcbf29ce484222325L
          var j = start
          while (j < i) { h ^= text.charAt(j); h *= 0x100000001b3L; j += 1 }
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** UDF form kept for callers without a session at hand; the operator
    * path below uses the codegen'd native expression
    * ([[graft.functions.SimHash64]]) instead.
    */
  val simhashUdf = udf((t: String) => simhash64(t))

  /** Candidate SimHash near-dup pairs: block on 4 × 16-bit bands (two
    * signatures within Hamming distance ≤3 of 64 bits share at least one
    * band by pigeonhole... for ≤3 flipped bits over 4 bands), then verify
    * exact Hamming distance ≤ `maxHamming`.
    *
    * Hot band keys (e.g. many identical texts → identical signatures)
    * are split across `saltBuckets` shards with side-B replication — the
    * same output-preserving discipline as `Similarity.nearPairs`: every
    * pair still meets in exactly one shard, so the result set is
    * unchanged while no single task owns a degenerate key's full
    * membership. The signature is 8 bytes, so it rides both join sides.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, saltBuckets: Int = 8,
                   hotKeyThreshold: Long = 4096L): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    hamming64Pairs(
      df.select(col(idCol).as("id"),
        graft.functions.GraftFunctions.simhash64(col(textCol)).as("sig")),
      maxHamming, saltBuckets, hotKeyThreshold)
  }

  /** The salted 4×16-bit-band Hamming join over ANY 64-bit signature
    * table `(id, sig)` — the blocking/verify engine behind
    * [[simhashPairs]] and [[PerceptualHash.nearDups]] (one definition so
    * the skew discipline can never drift between signature families).
    * Emits `(id_a, id_b, hamming)` for every pair sharing at least one
    * band with verified Hamming distance ≤ `maxHamming` (guaranteed
    * complete for distance ≤ 3 by pigeonhole; farther pairs only when a
    * band happens to collide — deterministic either way).
    */
  def hamming64Pairs(sigs: DataFrame,
                     maxHamming: Int = 3, saltBuckets: Int = 8,
                     hotKeyThreshold: Long = 4096L): DataFrame = {
    val banded = (0 until 4).map { b =>
      sigs.select(col("id"), col("sig"), lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
    }.reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val s = math.max(saltBuckets, 1)
    // top-N hottest keys only (TakeOrderedAndProject — a bounded driver
    // collect even on a degenerate corpus where every key crosses the
    // threshold); keys past the cap fall back to AQE skew handling.
    // Salting is output-preserving, so the cap only shifts work.
    val hotKeys: Array[Long] =
      if (s <= 1) Array.empty
      else banded
        .groupBy("band", "key").agg(count(lit(1)).as("n"))
        .filter(col("n") > hotKeyThreshold)
        .orderBy(col("n").desc, col("band"), col("key"))
        .limit(MaxHotKeysCollected)
        .select(xxhash64(col("band"), col("key")))
        .collect().map(_.getLong(0))
    val isHot =
      if (hotKeys.isEmpty) lit(false)
      else xxhash64(col("band"), col("key")).isInCollection(hotKeys)
    val a = banded
      .withColumn("salt",
        when(isHot, pmod(xxhash64(col("id")), lit(s.toLong))).otherwise(lit(0L)))
      .select(col("band"), col("key"), col("salt"),
        col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded
      .withColumn("salt", explode(
        when(isHot, sequence(lit(0L), lit((s - 1).toLong)))
          .otherwise(array(lit(0L)))))
      .select(col("band"), col("key"), col("salt"),
        col("id").as("id_b"), col("sig").as("sig_b"))
    // materialize verified pairs while the band table is cached, then
    // release the cache. SparkUtil.materialize (eager; reliable checkpoint when a cluster checkpoint dir is set, localCheckpoint otherwise), not persist: the
    // returned frame is backed by GC-managed checkpoint blocks that the
    // ContextCleaner releases when the caller drops it — a persist here
    // leaked one permanent CacheManager entry per call in a long-lived
    // session.
    val pairs = a.join(b, Seq("band", "key", "salt"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .distinct()
      .transform(graft.SparkUtil.materialize)
    banded.unpersist(false)
    pairs
  }

  /** Cross-set form of [[hamming64Pairs]]: for every signature in
    * `sigs` `(id, sig)`, the minimum Hamming distance to any REFERENCE
    * signature within `maxHamming` — the decontamination shape (corpus
    * probes a stored reference snapshot; the reference is band-keyed,
    * never re-scanned). Emits `(id, hamming)` for hits only; candidates
    * come from 4×16-bit band equality (complete for distance ≤ 3 by
    * pigeonhole), verified by exact bit_count. Both joined sides are
    * narrow (id, sig, band key ≈ 28 B/row); reference-side hot bands
    * (e.g. a flat-image sig shared by millions) are AQE skew-join
    * territory — this probe has no corpus-side explosion to salt.
    */
  def hamming64Against(sigs: DataFrame, refSigs: DataFrame,
                       maxHamming: Int = 3): DataFrame = {
    def bands(df: DataFrame, sigName: String): DataFrame =
      (0 until 4).map { b =>
        df.select(col("id"), col("sig"), lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * 16)
            .bitwiseAND(lit(0xFFFFL)).as("key"))
      }.reduce(_ unionByName _)
        .withColumnRenamed("sig", sigName)
    bands(sigs, "sig_a")
      .join(bands(refSigs.select(col("id"), col("sig")), "sig_b")
          .select("band", "key", "sig_b").distinct(),
        Seq("band", "key"))
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id").agg(min(col("hamming")).as("hamming"))
  }

  /** Exact word n-gram Jaccard between two texts (verification kernel). */
  def ngramJaccard(a: String, b: String, n: Int = 3): Double = {
    def grams(t: String): Set[String] = {
      val ws = graft.text.TextStats.words(if (t == null) "" else t)
      if (ws.length < n) Set(ws.mkString(" "))
      else ws.sliding(n).map(_.mkString(" ")).toSet
    }
    val (ga, gb) = (grams(a), grams(b))
    val inter = ga.intersect(gb).size
    val union = ga.size + gb.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  private val jaccardUdf = udf((a: String, b: String, n: Int) => ngramJaccard(a, b, n))

  /** Block-then-verify n-gram Jaccard dedup: MinHash bands generate the
    * candidate pairs (O(dups), not O(n²)), then the exact Jaccard UDF
    * verifies each candidate against `minJaccard`. This is the
    * "MinHash with exact verification" variant datatrove omits (its
    * stage 2 trusts the bands — SURVEY.md §2.5 D6).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   minJaccard: Double, n: Int = 3,
                   cfg: MinHash.Config = MinHash.Config()): DataFrame = {
    val edges = MinHash.candidateEdges(
      MinHash.signatures(df, idCol, textCol, cfg))
    val texts = df.select(col(idCol).as("_id"), col(textCol).as("_text"))
    edges
      .join(texts.withColumnRenamed("_id", "src")
        .withColumnRenamed("_text", "text_src"), "src")
      .join(texts.withColumnRenamed("_id", "dst")
        .withColumnRenamed("_text", "text_dst"), "dst")
      .withColumn("jaccard",
        round(jaccardUdf(col("text_src"), col("text_dst"), lit(n)), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("src").as("id_a"), col("dst").as("id_b"), col("jaccard"))
  }

  /** Cap on reference documents accepted by [[jaccardAgainst]] — same
    * single-broadcast-row discipline as
    * [[Similarity.MaxExactRefVectors]]; eval suites are thousands of
    * docs, not corpora.
    */
  val MaxExactRefDocs: Long = 1L << 15

  /** Distinct word `n`-gram shingle set as a native column — no UDF:
    * `regexp_extract_all` tokens (so leading/trailing whitespace never
    * fabricates empty tokens), sliding windows via
    * `transform(sequence(...))`, de-duplicated with `array_distinct`.
    * Documents shorter than `n` words yield the empty set.
    */
  def shingleSet(textCol: Column, n: Int): Column =
    // single source of truth for shingle construction: the occurrence
    // (non-distinct) form lives in TextAnalysis.shingleAll; diverging
    // tokenizations would silently desynchronize Jaccard decontamination
    // from the boilerplate/duplication diagnostics
    array_distinct(TextAnalysis.shingleAll(textCol, n))

  /** Exact n-gram Jaccard decontamination against a SMALL reference set:
    * per corpus doc, the max Jaccard similarity of its distinct-shingle
    * set to ANY reference doc's (`simCol`, 4 dp) and a flag (rounded max
    * ≥ `minJaccard`). Exact counterpart of the hashed-gram semi-join
    * ([[graft.dedup.Decontaminate]]) and MinHash
    * [[graft.dedup.MinHash.markAgainst]]: recall 1.0 by construction,
    * for when the reference is eval-suite-sized.
    *
    * 100-TB shape: reference shingle sets ride in ONE broadcast row;
    * the corpus side is a single narrow map pass (each doc's shingle set
    * computed once into `_s`, then |ref| set intersections per row), no
    * corpus shuffle, no driver collect, all codegen'd native functions.
    */
  def jaccardAgainst(corpus: DataFrame, ref: DataFrame, idCol: String,
                     textCol: String, minJaccard: Double, n: Int = 3,
                     simCol: String = "max_ref_jaccard",
                     flagCol: String = "is_contaminated"): DataFrame = {
    val nRef = ref.count()
    require(nRef > 0, "jaccardAgainst: empty reference set")
    require(nRef <= MaxExactRefDocs,
      s"jaccardAgainst: $nRef reference docs exceed MaxExactRefDocs=" +
        s"$MaxExactRefDocs - use Decontaminate/MinHash.markAgainst for " +
        "corpus-sized reference sets")
    val refRow = ref.agg(
      collect_list(shingleSet(col(textCol), n)).as("_ref_sh"))
    // r6: the document's shingle set is BOUND ONCE as a lambda variable
    // (one-element-array transform). As a plain `withColumn`
    // intermediate, CollapseProject could inline the shingleSet subtree
    // into the per-ref lambda, where higher-order functions evaluate
    // interpreted with no subexpression sharing. Values are identical;
    // measured 15.9 → 14.3 s on q_jaccard_decon under a noop sink —
    // modest, because the intrinsic cost is the |ref| interpreted
    // array_intersect kernels per row (the price of the EXACT small-ref
    // path the MaxExactRefDocs guard documents).
    corpus.crossJoin(broadcast(refRow))
      .withColumn(simCol, round(
        transform(array(shingleSet(col(textCol), n)), s =>
          array_max(transform(col("_ref_sh"), r => {
            val inter = size(array_intersect(s, r)).cast("double")
            val uni = (size(s) + size(r)).cast("double") - inter
            when(uni > 0.0, inter / uni).otherwise(lit(0.0))
          }))).getItem(0), 4))
      .withColumn(flagCol, col(simCol) >= minJaccard)
      .drop("_ref_sh")
  }

  /** Embedding-cosine near-dup marking: LSH-bucketed pairs above `minSim`
    * collapse to clusters; non-representatives are flagged. Same
    * block→verify→CC shape as MinHash, on vectors.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        minSim: Double)(implicit spark: SparkSession): DataFrame = {
    // string ids so the small-graph driver union-find fast path applies
    // regardless of the caller's id type
    val pairs = Similarity.nearPairs(df, idCol, vecCol, minSim)
      .select(greatest(col("id_a"), col("id_b")).cast("string").as("src"),
        least(col("id_a"), col("id_b")).cast("string").as("dst"))
    val cl = MinHash.clusters(pairs)
      .select(col("id").as("_cc_id"), col("cluster").as("embed_cluster"))
    df.join(cl, df(idCol).cast("string") === col("_cc_id"), "left")
      .drop("_cc_id")
      .withColumn("is_embed_dup",
        col("embed_cluster").isNotNull &&
          col(idCol).cast("string") =!= col("embed_cluster"))
  }
}
