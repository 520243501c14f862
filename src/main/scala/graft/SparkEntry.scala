package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.{ExactDedup, MinHash}
import graft.pipeline.{CorpusPipeline, Synth}

/** Driver contract (see SURVEY.md §5.4/§7): `entry` is the flagship
  * end-to-end corpus pipeline; `queries` maps SURVEY.md §2 operators onto
  * the driver's parquet tables; `oracleSql` gives the DuckDB-equivalent
  * ANSI SQL for every SQL-expressible query (identical column aliases —
  * the driver hash-compares after sorting columns by name).
  */
object SparkEntry {

  /** Deterministic Page-shaped view of the driver's `documents` table
    * (input_hint shape: url, warc_ts, html, text, lang) so corpus
    * operators run over driver data too, not only the synthetic corpus.
    */
  def pagesFromDocs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        concat(lit("https://docs.example.com/"),
          lpad(col("doc_id").cast("string"), 8, "0")).as("url"),
        (lit(1696118400L) + col("doc_id")).cast("timestamp").as("warc_ts"),
        col("text").cast("binary").as("html"),
        col("text"),
        col("lang"))

  /** Flagship: full filter+scrub+dedup pipeline over the synthetic corpus
    * (driver smoke-checks rows > 0 on sf0.001).
    */
  def entry(spark: SparkSession): DataFrame =
    CorpusPipeline.run(Synth.pages(spark, 2000L))
      .filter(col("keep"))
      .select("url", "scrubbed_text", "n_tokens", "perplexity")

  // Memoized table resolution (r6): `s.read.parquet` re-runs datasource
  // resolution — file listing plus a driver-side footer schema-inference
  // job — on EVERY call, a ~30 ms single-task job at the head of each
  // bench query lap. The resolved DataFrame pins its file listing, so it
  // is cached per (session, path) with the path's modification time and
  // resolved again when the path was rewritten (one getFileStatus per
  // lookup); entries of stopped sessions are dropped.
  private val tableCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (Long, DataFrame)]()
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    tableCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val mtime = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(path).getModificationTime
    tableCache.compute((s, path.toString), (key, held) =>
      if (held != null && held._1 == mtime) held
      else (mtime, key._1.read.parquet(key._2)))._2
  }

  /** Query vector for the similarity queries: embedding of vec_id 0,
    * degrading to a deterministic synthetic vector if that row is absent
    * (subset exports / reseeded tables) instead of crashing the whole
    * query sweep on an eager head().
    */
  private def queryVector(emb: DataFrame): Array[Double] =
    emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head(1).headOption
      .map(_.getSeq[Double](0).toArray)
      .getOrElse(analytics.Similarity.hyperplanes(1, 64, seed = 3L).head)

  // Shared email/IP regexes — kept RE2-compatible so the same pattern
  // string runs in DuckDB (oracle) and Spark (engine).
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Oracle-parity quality score (shared by q_quality_score and the
    * source-prior queries): length band × 5-stopword vote, 4 dp.
    */
  private def qscoreExpr: Column = {
    val words = size(split(col("text"), "\\s+")).cast("double")
    val stop = size(filter(split(lower(col("text")), "[^a-z']+"),
      w => w.isInCollection(Seq("the", "of", "and", "to", "is"))))
      .cast("double")
    round(least(lit(1.0), words / 100.0) *
      (lit(0.5) + least(lit(1.0), stop / 5.0) * 0.5), 4)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1/A2 partial+final aggregation (domain_statistic.py semantics)
    "q_agg_sum" -> ((s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"),
        sum("l_quantity").as("sum_qty"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))),

    // A1 group-count by a low-cardinality key
    "q_group_count" -> ((s, dir) => t(s, dir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("cnt"))),

    // A3 group-count by higher-cardinality key
    "q_url_count" -> ((s, dir) => t(s, dir, "events")
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))),

    // J1 + A5: inner equi-join then guarded ratio (process_data.py:107-128)
    "q_join_ratio" -> ((s, dir) => {
      // decimal accumulation: double sums are order-dependent and land on
      // rounding boundaries (observed: 4201.315 → .31 vs .32)
      val c = t(s, dir, "customer").groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(18,2)")).as("bal"))
      t(s, dir, "nation").join(c, col("n_nationkey") === col("c_nationkey"))
        .select(col("n_name"), col("n_cust"),
          round(when(col("n_cust") =!= 0, col("bal") / col("n_cust")), 2)
            .cast("double").as("avg_bal"))
    }),

    // J2 semi-join membership keep (filter_by_url.py semantics)
    "q_semi_join" -> ((s, dir) => {
      val f = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("l_orderkey"))
      t(s, dir, "lineitem").join(broadcast(f), Seq("l_orderkey"), "left_semi")
        .agg(count(lit(1)).as("n"))
    }),

    // J3 anti-join decontamination (process_data.py:157-171)
    "q_anti_join" -> ((s, dir) => {
      val f = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"))
      t(s, dir, "lineitem").join(broadcast(f), Seq("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
    }),

    // D1 deterministic keep-first exact dedup. Keyed on a 20-char text
    // prefix so the driver tables (all-distinct full texts) actually
    // produce duplicate groups — 24 real groups at sf0.01 — and the
    // oracle exercises the keep-first window, not a no-op.
    "q_dedup_exact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("k", substring(col("text"), 1, 20))
      ExactDedup.dedup(d, Seq("k"), Seq("doc_id")).select("doc_id")
    }),

    // A4 duplicate-count metric (pd_util.py:97-98)
    "q_dup_count" -> ((s, dir) => t(s, dir, "documents")
      .agg((count(lit(1)) - countDistinct(col("text"))).as("dups"))),

    // D2 hash-keyed dedup groups (dedup_large_csv.py:8-13 md5('|'.join)).
    // Keyed on (lang, source) — a tuple that genuinely collides in the
    // driver tables (~97 groups at sf0.01) so the matched dup rows are > 0.
    "q_hash_dedup" -> ((s, dir) => t(s, dir, "documents")
      .groupBy(md5(concat_ws("|", col("lang"), col("source"))).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)),

    // O1/O2 global sort + limit with total tie-break
    "q_topk" -> ((s, dir) => t(s, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("cnt"), sum("n_chars").as("chars"))
      .orderBy(col("chars").desc, col("source"))
      .limit(5)),

    // P4 length-band filter (20 < len < 100000)
    "q_len_filter" -> ((s, dir) => t(s, dir, "documents")
      .filter(length(col("text")).between(21, 99999))
      .select("doc_id", "n_chars")),

    // A6 histogram by fixed-width bins
    "q_histogram" -> ((s, dir) => t(s, dir, "documents")
      .groupBy(floor(col("n_chars") / 100).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))),

    // F6 word count via split
    "q_word_count" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("words"))),

    // P11/P12-ish normalization chain (lower, strip urls, collapse ws)
    "q_clean_text" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")), "http\\S+", ""),
          "\\s+", " ")).as("cleaned"))),

    // U1 union of two filtered slices
    "q_union" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.filter(col("lang") === "en").select("doc_id")
        .unionByName(d.filter(col("n_chars") > 400).select("doc_id"))
    }),

    // U3 split-by-predicate as a label column (infer.py pos/neg split)
    "q_split_label" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        when(col("n_chars") >= 300, lit("long")).otherwise(lit("short"))
          .as("label"))),

    // M2 stratified sampling, deterministic via content-hash ranking
    "q_stratified_sample" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("text")), col("doc_id"))
      t(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("doc_id", "lang")
    }),

    // P21 token counting (regex word tokens)
    "q_token_count" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z0-9]+"), lit(0)))
          .as("tokens"))),

    // F12 document fingerprinting
    "q_fingerprint" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("fp"))),

    // P19 PII scrub as a relational op (regex parity with the oracle)
    "q_pii_scrub" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        regexp_replace(col("text"), EmailPat, "email@example.com")
          .as("scrubbed"))),

    // D5–D8 MinHash marking over Page-shaped driver docs (rows-only check:
    // LSH banding is not ANSI-SQL-expressible)
    "q_minhash_mark" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      MinHash.mark(pagesFromDocs(s, dir), "url", "text")
        .select(col("url"), col("is_near_dup"),
          col("minhash_cluster").cast("string").as("minhash_cluster"))
    }),

    // Verified near-dup marking: band-collision candidates re-checked
    // against the full signature vectors, clustered only at estimated
    // Jaccard >= 0.6 (rows-only: xxhash64-seeded signature state — same
    // ledger class as q_minhash_mark; MinHashSpec pins the estimator
    // and the strict/loose threshold behavior)
    "q_minhash_verified" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      MinHash.mark(pagesFromDocs(s, dir), "url", "text",
          MinHash.Config(verifyThreshold = 0.6))
        .select(col("url"), col("is_near_dup"),
          col("minhash_cluster").cast("string").as("minhash_cluster"))
    }),

    // Quality-aware near-dup representative selection: each cluster
    // keeps its longest member (n_chars as the quality signal) instead
    // of the min-id one. Rows-only for the same reason as
    // q_minhash_mark (xxhash64 bands + iterative CC — SURVEY §2.12);
    // representative choice pinned in DedupSpec markKeepBest test.
    "q_minhash_keep_best" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      MinHash.markKeepBest(t(s, dir, "documents"),
        "doc_id", "text", "n_chars")
        .select(col("doc_id"), col("is_near_dup"))
    }),

    // Incremental cross-corpus near-dup marking: src0 docs play the
    // stored reference snapshot (signatures computed once), the rest the
    // incoming batch; a batch doc sharing any MinHash band with the
    // reference is flagged without re-clustering the reference. Rows-
    // only (band hashes are Spark xxhash64 — see SURVEY §2.12 ledger);
    // semantics pinned in DedupSpec markAgainst tests.
    "q_minhash_mark_against" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val refSigs = MinHash.signatures(
        docs.filter(col("source") === "src0"), "doc_id", "text")
      MinHash.markAgainst(docs.filter(col("source") =!= "src0"),
        "doc_id", "text", refSigs)
        .select(col("doc_id"), col("is_minhash_dup"))
    }),

    // D1 windowed keep-first over Page shape, keyed on a text prefix so
    // real dup groups exist (oracle-checked: url/warc_ts derive
    // deterministically from doc_id)
    "q_exact_dedup_pages" -> ((s, dir) => {
      val p = pagesFromDocs(s, dir)
        .withColumn("k", substring(col("text"), 1, 20))
      ExactDedup.dedup(p, Seq("k"), Seq("warc_ts", "url"))
        .select("url")
    }),

    // Full pipeline over Page-shaped driver docs (rows-only: verdict cols)
    "q_pipeline_full" -> ((s, dir) => {
      CorpusPipeline.run(pagesFromDocs(s, dir))
        .select("url", "keep", "drop_stage")
    }),

    // ---- similarity search -------------------------------------------

    // Brute-force cosine top-k against a query vector (exact baseline)
    "q_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVector(emb)
      analytics.Similarity.topK(emb.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", q, 10)
    }),

    // LSH-bucketed near-pair search (scale path; rows-only — banding is
    // not SQL-expressible)
    "q_cosine_pairs_lsh" -> ((s, dir) =>
      analytics.Similarity.nearPairs(t(s, dir, "embeddings"),
        "vec_id", "embedding", minSim = 0.3, bands = 8, bitsPerBand = 6)),

    // IVF cell assignment (rows-only) — centroids are TRAINED (spherical
    // k-means over a bounded deterministic sample), not PRNG vectors:
    // random centroids leave cells merged/empty on clustered real
    // embeddings, which defeats IVF as a partition key
    "q_ivf_assign" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = analytics.Similarity.trainCentroids(emb,
        "vec_id", "embedding", k = 8)
      analytics.Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
        .select("vec_id", "ivf_cell")
    }),

    // IVF-probed top-k (scale search path; rows-only — cell ranking is a
    // driver-side computation)
    "q_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVector(emb)
      val cents = analytics.Similarity.trainCentroids(emb,
        "vec_id", "embedding", k = 8)
      analytics.Similarity.ivfTopK(emb.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", q, k = 10, cents, nProbe = 3)
    }),

    // Vocabulary builder: corpus word counts with frequency floor and
    // deterministic top-k (oracle-checked)
    "q_vocab" -> ((s, dir) =>
      analytics.TextAnalysis.vocabulary(t(s, dir, "documents"), "text",
        minCount = 5L, topK = 100)),

    // Per-doc unigram Shannon entropy (bits): the low-entropy template/
    // spam-page signal (oracle-checked via decimal term accumulation)
    "q_word_entropy" -> ((s, dir) =>
      analytics.TextAnalysis.wordEntropy(t(s, dir, "documents"),
        "doc_id", "text")),

    // Boilerplate diagnostic: most-repeated word 3-gram shingles with
    // occurrence + doc-frequency counts (MassiveText duplicated-lines
    // analog at shingle granularity; deterministic total order)
    "q_boilerplate" -> ((s, dir) =>
      analytics.TextAnalysis.boilerplateShingles(t(s, dir, "documents"),
        "doc_id", "text", n = 3, minOccurrences = 2L, topK = 100)),

    // Corpus duplication statistic: fraction of 3-gram occurrences in
    // shingles seen more than once anywhere (RefinedWeb §3.3 shape)
    "q_dupgram_stats" -> ((s, dir) =>
      analytics.TextAnalysis.duplicatedGramStats(t(s, dir, "documents"),
        "text", n = 3)),

    // Within-doc line dedup (dolma dedupe-paragraphs): synthesize
    // 5-word lines, replant line 1 at the end, keep first occurrences
    "q_line_dedup_doc" -> ((s, dir) => {
      // words from a WHITESPACE-class split of coalesced text: no word
      // can embed a newline and null text behaves like empty on both
      // engines, so rejoining lines with \n and re-splitting inside
      // dedupLinesWithinDoc is exactly the oracle's element-wise dedup
      val words = split(coalesce(col("text"), lit("")), "\\s+")
      val nLines = ceil(size(words).cast("double") / 5.0).cast("int")
      val lines = transform(sequence(lit(0), nLines - 1),
        i => concat_ws(" ", slice(words, i * 5 + 1, lit(5))))
      val withDup = concat(lines, slice(lines, 1, 1))
      t(s, dir, "documents").select(col("doc_id"),
        dedup.SpanDedup.dedupLinesWithinDoc(concat_ws("\n", withDup))
          .as("deduped"))
    }),

    // Per-group quantile profile (exact percentile = DuckDB quantile_cont
    // R-7 interpolation; the approx_percentile variant is the scale path)
    "q_quantile_profile" -> ((s, dir) =>
      analytics.Ranking.quantileProfile(t(s, dir, "documents"),
        "lang", "n_chars", Seq(0.5, 0.9, 0.99))),

    // Parquet small-file compaction round-trip: row set is invariant
    "q_compact" -> ((s, dir) => {
      val out = java.nio.file.Files
        .createTempDirectory("q_compact").toString
      sources.CorpusIO.compactParquet(s, s"$dir/documents.parquet", out,
        targetBytesPerFile = 64L * 1024)
      s.read.parquet(out)
    }),

    // Data-skipping sink round-trip: range-sorted + bloom-filtered
    // parquet layout (CorpusIO.writeSkipIndexed); the filtered
    // read-back pushes down onto the sorted layout and must return
    // exactly the oracle's rows (SkipIndexSpec pins the actual
    // row-group pruning through task inputMetrics)
    "q_skip_index" -> ((s, dir) => {
      val out = java.nio.file.Files
        .createTempDirectory("q_skip_index").toString
      sources.CorpusIO.writeSkipIndexed(t(s, dir, "documents"), out,
        "doc_id", bloomCols = Seq("source"), nFiles = 8)
      s.read.parquet(out).filter(col("doc_id").between(1000, 3000))
    }),

    // Content-level corpus overlap ledger (Snapshots.overlap): would
    // ingesting corpus B add anything beyond corpus A? Two overlapping
    // doc_id-derived slices stand in for two crawl snapshots.
    "q_corpus_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      analytics.Snapshots.overlap(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 2 =!= 0), Seq("text"))
    }),

    // Corpus profile: per-group column statistics (the pandas-describe
    // surface the reference's notebooks lean on; one partial+final agg)
    "q_corpus_profile" -> ((s, dir) => t(s, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        countDistinct(col("source")).as("sources"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        round(avg(col("n_chars").cast("decimal(18,4)")), 2)
          .cast("double").as("avg_chars"),
        sum(when(col("text").isNull || length(col("text")) === 0, 1)
          .otherwise(0)).cast("bigint").as("empty_texts"))),

    // ---- near-dup family beyond MinHash ------------------------------

    // SimHash band-blocked pairs over the synthetic corpus (rows-only)
    "q_simhash_pairs" -> ((s, dir) =>
      analytics.NearDup.simhashPairs(Synth.pages(s, 2000L), "url", "text")),

    // MinHash-blocked exact n-gram Jaccard verification (rows-only)
    "q_ngram_jaccard" -> ((s, dir) =>
      analytics.NearDup.jaccardPairs(Synth.pages(s, 2000L), "url", "text",
        minJaccard = 0.5)),

    // SemDeDup (Abbas et al. 2023): semantic dedup via spherical k-means
    // cells + within-cell cosine epsilon-balls, keeping each duplicate
    // group's farthest-from-centroid member. Rows-only: the k-means
    // model state and the iterative CC fixpoint are not SQL-expressible
    // (same ledger class as q_ivf_assign / q_minhash_mark).
    "q_semdedup" -> ((s, dir) =>
      analytics.SemDedup.mark(t(s, dir, "embeddings"),
        "vec_id", "embedding", eps = 0.15, nClusters = 8)),

    // Semantic decontamination: corpus docs inside the epsilon-ball of
    // any reference vector (every 50th doc stands in for a benchmark
    // suite). Rows-only: same learned-centroid ledger class as
    // q_semdedup.
    "q_semdedup_against" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      analytics.SemDedup.markAgainst(emb,
        emb.filter(col("vec_id") % 50 === 0).select("embedding"),
        "vec_id", "embedding", eps = 0.05, nClusters = 8)
    }),

    // STREAMING tumbling-window aggregation, run to completion via
    // Trigger.AvailableNow and returned as a batch frame — the one
    // streaming operator with a full DuckDB oracle (time_bucket replay);
    // stream/batch equivalence also pinned in StreamingSpec
    "q_stream_window" -> ((s, dir) =>
      streaming.StreamingPipeline.streamWindowCounts(s,
        s"$dir/events.parquet")),

    // Snapshot diff (oracle-checked): per-id added/removed/changed/
    // unchanged ledger between two crawl snapshots — the new snapshot is
    // a deterministic transform of the base (every 7th doc removed,
    // every 11th edited, every 13th re-added under a shifted id)
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val newSnap = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000))
      analytics.Snapshots.diff(docs, newSnap, "doc_id", Seq("text"))
    }),

    // Order-independent per-language corpus checksum (oracle-checked):
    // count + mod-2^64 sum of per-doc 64-bit content hashes — replica
    // verification by exchanging O(#languages) rows
    "q_corpus_checksum" -> ((s, dir) =>
      analytics.Snapshots.checksum(t(s, dir, "documents"),
        Seq("lang"), Seq("text"))),

    // EXACT semantic decontamination (oracle-checked): max cosine of
    // every corpus vector to a small broadcast reference set — recall
    // 1.0 by construction; the small-|ref| exact counterpart of
    // q_semdedup_against's cell-probed approximate path.
    "q_semdecon_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      analytics.Similarity.cosineAgainst(emb,
        emb.filter(col("vec_id") % 50 === 0).select("embedding"),
        "vec_id", "embedding", minSim = 0.95)
        .select(col("vec_id"), col("max_ref_sim"), col("is_contaminated"))
    }),

    // EXACT n-gram Jaccard decontamination (oracle-checked): max
    // 3-gram-shingle Jaccard of every doc to a small broadcast
    // reference set — exact counterpart of q_ngram_decontaminate's
    // hashed-gram semi-join.
    "q_jaccard_decon" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      analytics.NearDup.jaccardAgainst(docs,
        docs.filter(col("doc_id") % 50 === 0).select("text"),
        "doc_id", "text", minJaccard = 0.5)
        .select(col("doc_id"), col("max_ref_jaccard"),
          col("is_contaminated"))
    }),

    // Embedding-cosine near-dup clustering (rows-only)
    "q_embed_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      analytics.NearDup.embeddingNearDups(t(s, dir, "embeddings"),
        "vec_id", "embedding", minSim = 0.3)
        .select(col("vec_id"), col("embed_cluster"), col("is_embed_dup"))
    }),

    // Perceptual-hash image near-dup: the embedding vectors stand in as
    // pre-resized 8x8 luminance grids (the post-decode shape a real
    // pipeline feeds the kernel); dHash via a 64-term Column expression
    // (no UDF), candidates via the shared salted 4x16-bit Hamming-band
    // join, exact bit_count verification. FULLY oracle-checked: the
    // DuckDB SQL replays the same 64 comparison terms, band keys, and
    // Hamming filter (PerceptualHash.dhashSqlExpr generates both sides
    // from one bit layout).
    "q_phash_neardup" -> ((s, dir) =>
      analytics.PerceptualHash.nearDups(t(s, dir, "embeddings"),
        "vec_id", "embedding", maxHamming = 24)
        .select(col("id_a"), col("id_b"), col("hamming"))),

    // Image decontamination: every-7th grid plays the benchmark/eval
    // reference set; the rest of the corpus probes its dhash snapshot
    // through the band join. Oracle-checked end to end (same generated
    // 64-term kernel on both sides).
    "q_phash_decontaminate" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ref = analytics.PerceptualHash.dhashSigs(
        emb.filter(col("vec_id") % 7 === 0), "vec_id", "embedding")
      analytics.PerceptualHash.markAgainst(
        emb.filter(col("vec_id") % 7 =!= 0), "vec_id", "embedding",
        ref, maxHamming = 24)
        .select(col("vec_id"), col("is_phash_dup"), col("phash_hamming"))
    }),

    // ---- text analysis ------------------------------------------------

    // Heuristic language ID via marker-word voting (oracle-checked)
    "q_lang_heuristic" -> ((s, dir) => {
      def hits(words: Seq[String]) =
        size(filter(split(lower(col("text")), "[^a-z']+"),
          w => w.isInCollection(words)))
      t(s, dir, "documents").select(col("doc_id"),
        hits(Seq("the", "of", "and", "to", "is")).as("en_hits"),
        hits(Seq("le", "la", "les", "des", "est")).as("fr_hits"),
        hits(Seq("el", "los", "las", "para", "esta")).as("es_hits"),
        hits(Seq("der", "die", "das", "und", "ein")).as("de_hits"))
    }),

    // Unicode script profile + dominant-script routing label over a
    // deterministic multi-script fixture (the driver text is all-ASCII,
    // so per-lang script suffixes are planted identically on both sides;
    // `script` classifies the SUFFIX alone so labels actually vary)
    "q_script_profile" -> ((s, dir) => {
      val d = col("doc_id")
      val sfx = concat(
        when(d % 5 === 0, lit(" 中文处理网页")).otherwise(lit("")),
        when(d % 5 === 1, lit(" кириллица текст")).otherwise(lit("")),
        when(d % 5 === 2, lit(" ひらがな カタカナ")).otherwise(lit("")),
        when(d % 5 === 3, lit(" العربية ١٢٣")).otherwise(lit("")),
        when(d % 3 === 0, lit(" 4213")).otherwise(lit("")))
      t(s, dir, "documents")
        .select(d, concat(col("text"), sfx).as("mx"), sfx.as("sfx"))
        .select(col("doc_id"),
          analytics.TextAnalysis.scriptProfile(col("mx")).as("sp"),
          analytics.TextAnalysis.dominantScript(col("sfx")).as("script"))
        .select(col("doc_id"), col("sp.*"), col("script"))
    }),

    // Quality scoring: length saturation × stopword presence (oracle)
    "q_quality_score" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), qscoreExpr.as("qscore"))),

    // Own-language stopword fraction (CCNet-style per-language quality
    // signal; languages without a table → null, not 0)
    "q_stopword_frac" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        analytics.TextAnalysis.stopwordFrac(col("text"), col("lang"))
          .as("stopword_frac"))),

    // Readability + lexical-diversity screen (Flesch ease, FK grade,
    // hapax fraction) — one narrow codegen projection per doc
    "q_readability" -> ((s, dir) => {
      val sigs = analytics.TextAnalysis.readabilitySignals(col("text"))
      t(s, dir, "documents").select(
        col("doc_id") +: sigs.map { case (n, c) => c.as(n) }: _*)
    }),

    // Source-diversity report: Shannon entropy (bits + normalized),
    // Simpson concentration, hottest-group share — decimal-accumulated,
    // shuffle-order-independent (dataset-card composition numbers)
    "q_source_diversity" -> ((s, dir) =>
      analytics.DomainStats.diversityReport(t(s, dir, "documents"),
        "source")),

    // Domain-level quality prior: per-source doc count + order-independent
    // decimal mean score + keep flag (mean >= 0.37, >= 10 docs)
    "q_source_prior" -> ((s, dir) =>
      analytics.DomainStats.groupPrior(
        t(s, dir, "documents").withColumn("qscore", qscoreExpr),
        "source", "qscore", minMean = 0.37, minDocs = 10L)),

    // Apply the prior: keep docs only from sources that pass it
    "q_source_prior_filter" -> ((s, dir) =>
      analytics.DomainStats.applyGroupPrior(
        t(s, dir, "documents").withColumn("qscore", qscoreExpr),
        "source", "qscore", minMean = 0.37, minDocs = 10L)
        .select("doc_id", "source")),

    // BPE-ish token budget estimate (oracle)
    "q_bpe_estimate" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        analytics.TextAnalysis.bpeTokenEstimate(col("text")).as("bpe_tokens"))),

    // Rolling-hash order-sensitive fingerprint — oracle-checked since r3
    // (bit-exact HUGEINT mod-2^64 fold in DuckDB, see oracleSql)
    "q_rolling_fingerprint" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        analytics.TextAnalysis.rollingFingerprintUdf(col("text")).as("rfp"))),

    // ---- domain analytics ---------------------------------------------

    // Host extraction + group-count (oracle via split_part)
    "q_domain_count" -> ((s, dir) => {
      CorpusPipeline // touch to keep import
      val pages = pagesFromDocs(s, dir)
      pages.groupBy(split_part(col("url"), lit("/"), lit(3)).as("host"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // ---- multimodal plumbing -----------------------------------------

    // Payload metadata (oracle: byte length + content hash)
    "q_multimodal_meta" -> ((s, dir) => pagesFromDocs(s, dir)
      .select(col("url"), length(col("html")).as("n_bytes"),
        md5(col("html")).as("content_hash"))),

    // STUB decode + featurize via partition-batched extraction (rows-only)
    "q_multimodal_features" -> ((s, dir) =>
      analytics.Multimodal.extractFeatures(pagesFromDocs(s, dir), "html")
        .select("url", "n_bytes", "header_hash", "byte_entropy")),

    // Frame-sampling plumbing (rows-only)
    "q_frame_sample" -> ((s, dir) =>
      analytics.Multimodal.sampleFrames(
        pagesFromDocs(s, dir).limit(100), "html", nFrames = 4)
        .select("url", "frame_id", "frame_bytes")),

    // Real header parse round-trip: spec-conformant PNG/JPEG/GIF/BMP/WebP
    // header bytes synthesized from doc_id, parsed back by the byte-level
    // parser; the oracle recomputes the planted dims arithmetically, so a
    // parse that doesn't exactly invert the binary encoding hash-mismatches.
    "q_media_header" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        analytics.MediaHeader.roundTrip(col("doc_id")).as("m"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.width").as("width"), col("m.height").as("height"),
        col("m.bit_depth").as("bit_depth"))),

    // WAV fmt/data chunk-walk round-trip; duration derives from the
    // declared data size at the declared byte rate (integer ms).
    "q_audio_header" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        analytics.MediaHeader.audioRoundTrip(col("doc_id")).as("a"))
      .select(col("doc_id"), col("a.channels").as("channels"),
        col("a.sample_rate").as("sample_rate"),
        col("a.bits_per_sample").as("bits_per_sample"),
        col("a.duration_ms").as("duration_ms"))),

    // ---- sampling -----------------------------------------------------

    // Exact-n uniform sample, md5-ranked for oracle parity
    "q_sample_uniform" -> ((s, dir) => t(s, dir, "documents")
      .orderBy(md5(col("text")), col("doc_id"))
      .limit(50)
      .select("doc_id")),

    // Stratified train/val split sizes (oracle: window count parity)
    "q_train_split" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("text")), col("doc_id"))
      val n = Window.partitionBy(col("lang"))
      t(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(n))
        .select(col("doc_id"),
          // EXACT integer threshold (cnt*8 div 10), not (cnt*0.8)::int:
          // Spark's double->int cast truncates while DuckDB's ROUNDS, so
          // a group count ending in .5 after *0.8 flips the boundary row
          // (caught by the sf0.1 invariance replay; sf0.01 masked it)
          (col("rn") <= expr("cnt * 8 div 10")).as("is_train"))
    }),

    // Leakage-safe grouped split: every row of a source lands in the
    // same split (md5-bucket arithmetic, engine-portable, no shuffle)
    "q_grouped_split" -> ((s, dir) =>
      analytics.Sampling.groupedSplit(t(s, dir, "documents"), "source",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "source", "split")),

    // DEFLATE compression-ratio quality signal (rows-only: DEFLATE has
    // no SQL form; order-relation pins live in TextAnalysisSpec)
    "q_compression_ratio" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        analytics.TextAnalysis.compressionRatioUdf(col("text"))
          .as("compression_ratio"))),

    // P5 min-length filter (filter_by_len.py:11-35)
    "q_min_len_filter" -> ((s, dir) => t(s, dir, "documents")
      .filter(length(col("text")) >= 300)
      .select("doc_id")),

    // P6 probability-threshold filter (filter_by_prob.py:43-73; keep
    // prob >= threshold AND label match)
    "q_prob_filter" -> ((s, dir) => t(s, dir, "events")
      .filter(col("value") >= 10.0 && col("event_type") === "click")
      .select("event_id")),

    // P7 + F13 score-band filter with numeric coercion
    // (filter_by_score.py:11-38: to_numeric(errors='coerce') + band)
    "q_score_band" -> ((s, dir) => t(s, dir, "events")
      .withColumn("score",
        regexp_extract(col("props"), "\"k\": ([0-9.]+)", 1).try_cast("double"))
      .filter(col("score").isNotNull && col("score").between(20, 60))
      .select("event_id", "score")),

    // P8/J2 membership filter on a small broadcast list (filter_by_url.py)
    "q_member_filter" -> ((s, dir) => t(s, dir, "documents")
      .filter(col("source").isInCollection(Seq("src1", "src3", "src5")))
      .select("doc_id")),

    // P9/J3/U2 decontamination: drop rows whose text appears in a removal
    // set (process_data.py:157-171)
    "q_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val removed = d.filter(col("source") === "src0")
        .select(col("text").as("rtext"))
      d.join(broadcast(removed), d("text") === col("rtext"), "left_anti")
        .select("doc_id")
    }),

    // D3/D4 Bloom-prefiltered decontamination: broadcast Bloom filter
    // prunes the probe side, exact anti-join verifies — output is exact,
    // so the NOT IN oracle holds despite the probabilistic prefilter
    "q_bloom_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val seen = d.filter(col("source") === "src2").select("text")
      ExactDedup.bloomDecontaminate(d, seen, "text",
        expectedItems = 10000L)
        .select("doc_id")
    }),

    // Sequence packing (rows-only: stateful greedy fold per partition;
    // invariants pinned in AnalyticsSpec — see SURVEY §2.12 ledger)
    "q_pack_sequences" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("toks", size(split(col("text"), " ")).cast("long"))
      graft.analytics.Sampling.packSequences(d, "toks", maxTokens = 500L,
        keyCols = Seq("doc_id"), numPartitions = 8)
        .select("doc_id", "doc_tokens", "seq_id", "seq_tokens")
    }),

    // Token-budget corpus cut (M-family extension): keep docs in
    // md5-hash order while the running word-token total stays <= 5000.
    // Runs the two-scan bucketed scale path; the oracle replays the
    // naive cumulative window it must equal bit-for-bit.
    "q_token_budget" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("toks", size(split(col("text"), " ")).cast("long"))
      graft.analytics.Sampling.tokenBudget(d, "toks", 5000L,
        md5(col("text")), Seq("doc_id"))
        .select("doc_id")
    }),

    // Deterministic corpus shuffle: salted-md5 training-order permutation,
    // computed via order-preserving hex-prefix buckets (no global sort) —
    // bit-identical to the naive global row_number window the oracle runs
    "q_corpus_shuffle" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.analytics.Sampling.deterministicShuffle(
          d.select("doc_id"), Seq("doc_id"), salt = "epoch0")
        .select("doc_id", "shuffle_pos")
    }),

    // CCNet-style per-language perplexity bucketing (head/middle/tail
    // thirds by score within each language) — rank-based tiles with
    // integer ntile arithmetic, no float quantile cutoffs, so the
    // oracle's ntile(3) window hash-matches exactly. The score column
    // here is n_chars (DuckDB-computable); the pipeline passes its KN
    // perplexity column through the same operator (FiltersSpec).
    "q_ccnet_bucket" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.filters.CcNet.buckets(d, "n_chars", "lang", Seq("doc_id"))
        .select("doc_id", "lang", "ppl_bucket")
    }),

    // Temperature-based mixture sampling (unigram-LM T=2 exponentiated
    // group weights): each language contributes min(n, T_total *
    // floor(sqrt(n)) / sum-of-weights) docs, selected by salted-md5 rank.
    // All-integer target arithmetic → the oracle recomputes identical
    // targets and the same window selection.
    "q_temperature_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "lang")
      graft.analytics.Sampling.temperatureSample(
          d, "lang", totalTarget = 200L, keyCols = Seq("doc_id"),
          temperature = 2.0, salt = "mix0")
        .select("doc_id", "lang")
    }),

    // Benchmark decontamination by word n-gram overlap (GPT-3/PaLM-style
    // 13-gram collision removal; n=4 here so the fixture's 31-word vocab
    // produces real cross-doc collisions — 36 contaminated docs, not
    // just the planted exact dups). Broadcast probe path; the join path
    // is asserted equivalent in DedupSpec.
    "q_ngram_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.Decontaminate.filter(
        docs.filter(col("source") =!= "src4"), "text",
        docs.filter(col("source") === "src4"), "text", n = 4)
        .select("doc_id")
    }),

    // Cross-document span dedup (C4's corpus-wide keep-first span rule,
    // word-span form): every 5-word tumbling span that occurs more than
    // once in the corpus is removed from all but its lexicographically
    // first (doc_id, pos) occurrence; the trailing partial span never
    // dedups. Exact-duplicate docs are stripped to "" (all spans
    // repeat), boilerplate-sharing docs lose only the shared spans.
    "q_span_dedup" -> ((s, dir) => {
      graft.dedup.SpanDedup.removeDuplicateWordSpans(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", spanWords = 5)
        .select(col("doc_id"), col("text").as("deduped"))
    }),

    // Corpus-frequency boilerplate removal (RefinedWeb/Dolma document-
    // frequency rule): lines appearing in > 50 of the 500 docs vanish
    // from EVERY doc — unlike the keep-first span rule above. Planted
    // layout: a cookie banner on doc_id%3 (~167 docs, removed
    // everywhere), a copyright footer on doc_id%2 (250 docs, removed),
    // and a per-doc unique footer on the odd docs (kept); 2-word
    // frequent lines stay under the minWords=3 immunity.
    "q_frequent_lines" -> ((s, dir) => {
      val d = col("doc_id")
      val planted = t(s, dir, "documents").select(d, concat(
        when(d % 3 === 0, lit("accept all cookies to continue\n"))
          .otherwise(lit("")),
        lit("site menu\n"),
        col("text"), lit("\n"),
        when(d % 2 === 0, lit("copyright example corp all rights reserved"))
          .otherwise(concat(lit("unique footer "), d.cast("string"),
            lit(" tail words")))).as("text"))
      graft.dedup.SpanDedup.removeFrequentLines(
          planted, "doc_id", "text", maxDocs = 50, minWords = 3)
        .select(d, col("text").as("cleaned"))
    }),

    // URL-keyed dedup on the canonical form (datatrove url_dedup shape):
    // deterministic messy variants (scheme case, WWW, :443, trailing
    // slash, utm_ tracking param, fragment) synthesized per doc_id, path
    // keyed on doc_id % 100 so ~5 docs collapse per canonical URL;
    // keep-first by doc_id. Non-utm query params are preserved, so the
    // %7 docs (carrying ?id=…) form their own canonical groups.
    "q_url_dedup" -> ((s, dir) => {
      val d = col("doc_id")
      val messy = t(s, dir, "documents").select(d).withColumn("url", concat(
        when(d % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
        when(d % 3 === 0, lit("WWW.Example.COM")).otherwise(lit("example.com")),
        when(d % 5 === 0, lit(":443")).otherwise(lit("")),
        lit("/p/"), (d % 100).cast("string"),
        when(d % 4 === 0, lit("/")).otherwise(lit("")),
        when(d % 7 === 0,
          concat(lit("?utm_source=feed&id="), (d % 100).cast("string")))
          .otherwise(lit("")),
        when(d % 11 === 0, lit("#sec")).otherwise(lit(""))))
      graft.dedup.ExactDedup.urlDedup(messy, "url", Seq("doc_id"))
        .select("doc_id", "url")
    }),

    // Per-source PII exposure audit over planted emails/IPs (RE2-safe
    // patterns — the scrub's lookbehind IP form is deliberately not used
    // so the oracle replays the exact counts)
    "q_pii_report" -> ((s, dir) => {
      val d = col("doc_id")
      val planted = t(s, dir, "documents").withColumn("t2", concat(col("text"),
        when(d % 11 === 0, lit(" contact bob@site.example.org now"))
          .otherwise(lit("")),
        when(d % 13 === 0, lit(" from 10.1.2.3 and 192.168.7.9"))
          .otherwise(lit("")),
        when(d % 17 === 0, lit(" mail alice@mail.example.net"))
          .otherwise(lit(""))))
      filters.Pii.auditReport(planted, "t2", "source", Seq(
        "email" -> EmailPat,
        "ipv4" -> "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"))
    }),

    // Lexical URL features (DCLM-style spam signals from the string
    // alone) over the same messy URL construction as q_url_dedup
    "q_url_features" -> ((s, dir) => {
      val d = col("doc_id")
      val urls = t(s, dir, "documents").select(d).withColumn("url", concat(
        when(d % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
        when(d % 3 === 0, lit("WWW.Example.COM")).otherwise(lit("example.com")),
        when(d % 5 === 0, lit(":443")).otherwise(lit("")),
        lit("/p/"), (d % 100).cast("string"),
        when(d % 4 === 0, lit("/")).otherwise(lit("")),
        when(d % 7 === 0,
          concat(lit("?utm_source=feed&id="), (d % 100).cast("string")))
          .otherwise(lit("")),
        when(d % 11 === 0, lit("#sec")).otherwise(lit(""))))
      urls.select(d, graft.text.UrlNorm.urlFeatures(col("url")).as("f"))
        .select(col("doc_id"), col("f.*"))
    }),

    // Crawl-revisit resolution: latest row per user_id (events is the
    // driver table with real recurring keys + timestamps) via ONE max_by
    // aggregation — no per-group sort, map-side combinable
    "q_keep_latest" -> ((s, dir) => ExactDedup.keepLatest(
      t(s, dir, "events").select("user_id", "ts", "event_id", "event_type"),
      Seq("user_id"), "ts", Seq("event_id"))),

    // URL pattern blocklist: drop crawl-trap shapes (tracking queries,
    // port-decorated hosts) via one fused RE2-compatible alternation
    "q_url_pattern_filter" -> ((s, dir) => {
      val d = col("doc_id")
      val urls = t(s, dir, "documents").select(d).withColumn("url", concat(
        when(d % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
        when(d % 3 === 0, lit("WWW.Example.COM")).otherwise(lit("example.com")),
        when(d % 5 === 0, lit(":443")).otherwise(lit("")),
        lit("/p/"), (d % 100).cast("string"),
        when(d % 7 === 0,
          concat(lit("?utm_source=feed&id="), (d % 100).cast("string")))
          .otherwise(lit(""))))
      analytics.DomainStats.excludeUrlPatterns(urls, "url",
        Seq("[?&]utm_", ":443/"))
    }),

    // Mirror detection: same page text under >= 2 distinct sources
    // (20-char prefixes stand in for page bodies on the word-soup corpus)
    "q_mirror_report" -> ((s, dir) =>
      analytics.DomainStats.mirrorReport(
        t(s, dir, "documents")
          .withColumn("page_text", substring(col("text"), 1, 20)),
        "doc_id", "page_text", "source", minDomains = 2L, topK = 100)),

    // Per-benchmark-doc contamination overlap report (eval hygiene):
    // for each src4 (benchmark) doc, the fraction of its distinct
    // 4-grams appearing anywhere in the rest of the corpus — the
    // paraphrase-leakage signal next to the binary q_ngram_decontaminate
    // call. Corpus scan emits only matched hashes (bounded by the
    // benchmark), no corpus-sized shuffle.
    "q_contamination_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.Decontaminate.overlapReport(
        docs.filter(col("source") =!= "src4"), "text",
        docs.filter(col("source") === "src4"), "doc_id", "text", n = 4)
    }),

    // Learned-BPE token counts (Sennrich 2016): fit 200 merges on the
    // corpus (one capped word-count aggregation + driver merge loop),
    // count subword tokens per doc. Rows-only — the iterative merge
    // learning is not SQL-expressible (SURVEY §2.12 ledger); the merge
    // sequence itself is pinned against the hand-computed paper example
    // in BpeSpec.
    "q_bpe_tokenize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.text.Bpe.fit(docs, "text", numMerges = 200,
        maxVocab = 5000)
      graft.text.Bpe.tokenCounts(docs, "text", model)
        .select(col("doc_id"), col("bpe_tokens"))
    }),

    // Exact-substring dedup at sliding-window granularity (Lee et al.
    // 2022 rule): every duplicated 8-word sliding window keeps only its
    // first (doc_id, start) occurrence; later occurrences' words are
    // deleted, consecutive duplicated windows merging into one removed
    // region. The oracle keys on the window TEXT, so the engine's
    // internal rolling hash is semantics-invisible (collision-free on
    // the fixture by construction).
    "q_substring_dedup" -> ((s, dir) => {
      graft.dedup.SpanDedup.removeDuplicateSubstrings(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", windowWords = 8)
        .select(col("doc_id"), col("text").as("deduped"))
    }),

    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // log-ratio score of every raw doc against the src0 target slice.
    // portableHash=true (md5 buckets) so the whole model — two smoothed
    // distributions and the per-doc sums — replays bit-for-bit in the
    // DuckDB oracle; the fast path (XXH64 buckets) is spec-tested.
    "q_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val target = docs.filter(col("source") === "src0")
      val raw = docs.filter(col("source") =!= "src0")
      val model = graft.analytics.Dsir.fit(target, raw, "text",
        buckets = 256, alpha = 1.0, portableHash = true)
      graft.analytics.Dsir.score(raw, "text", model)
        .select(col("doc_id"), round(col("dsir_logweight"), 4).as("lw"))
    }),

    // P20 main-content extraction (datatrove Trafilatura stage,
    // findweb.py:5; simplified readability-style reimplementation).
    // Deterministic harness: wrap each doc's text in a page skeleton
    // (head/script/title chrome + a link-dense nav) — the extractor must
    // return exactly the text, with the chrome and nav pruned, so the
    // PLUMBING is oracle-checked while the boilerplate heuristics are
    // unit-tested in HtmlExtractSpec.
    "q_html_extract" -> ((s, dir) => {
      val ex = udf((h: String) => graft.text.HtmlExtract.extract(h))
      t(s, dir, "documents").select(col("doc_id"),
        ex(concat(
          lit("<html><head><title>t</title><script>var x=\"<p>no</p>\";</script></head><body><p>"),
          col("text"),
          lit("</p><nav><a href=\"/\">home</a> <a href=\"/a\">about</a></nav></body></html>")))
          .as("extracted"))
    }),

    // Encoding-damage detection + repair over planted mojibake (UTF-8
    // seen through cp1252): the oracle recomputes the damage signal with
    // the same signature regex and emits the CLEAN construction as the
    // expected repair — so fix() must exactly invert the byte damage,
    // including the doubly-corrupted variant (two repair rounds)
    "q_mojibake" -> ((s, dir) => {
      val d = col("doc_id")
      val corrupted = concat(col("text"),
        when(d % 4 === 0, lit(" Ã©tÃ© naÃ¯ve cafÃ©")).otherwise(lit("")),
        when(d % 4 === 1, lit(" â€˜itâ€™sâ€¦ â‚¬100")).otherwise(lit("")),
        when(d % 4 === 2, lit(" ÃƒÂ©ÃƒÂ©")).otherwise(lit("")))
      t(s, dir, "documents").select(d,
        graft.text.Mojibake.signatureChars(corrupted).as("sig_chars"),
        graft.text.Mojibake.fixUdf(corrupted).as("fixed"))
    }),

    // robots.txt parsing: planted per-variant files (comments, empty
    // Disallow, agent groups, wildcards) → exploded rule lists; the
    // oracle emits the expected parse, so parse() must invert the
    // construction including the skip rules
    "q_robots_rules" -> ((s, dir) => {
      val d = col("doc_id")
      val content = when(d % 4 === 0,
        lit("User-agent: *\nDisallow: /private/   # staff\nAllow: /private/ok/\n"))
        .when(d % 4 === 1,
          lit("User-agent: graftbot\nDisallow: /\nUser-agent: *\nDisallow:\n"))
        .when(d % 4 === 2,
          lit("# policy\nUser-agent: *\nDisallow: /*.pdf$\nDisallow: /tmp*\n"))
        .otherwise(lit(""))
      val hosts = t(s, dir, "documents").select(d, content.as("content"))
      graft.text.RobotsTxt.rulesTable(hosts, "doc_id", "content")
        .select(col("doc_id"),
          posexplode(col("robots_rules")).as(Seq("idx", "rule")))
        .select(col("doc_id"), col("idx"),
          (substring(col("rule"), 1, 1) === "A").as("allow"),
          substring(col("rule"), 2, 100000).as("pattern"))
    }),

    // robots.txt application: per-host rules joined to constructed urls,
    // RFC 9309 longest-match decision; the oracle hand-encodes the
    // expected verdict for every (host-variant, path-variant) pair
    "q_robots_allowed" -> ((s, dir) => {
      val d = col("doc_id")
      val content = when(col("h") === 0,
        lit("User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n"))
        .when(col("h") === 1,
          lit("User-agent: graftbot\nDisallow: /\nUser-agent: *\nDisallow:\n"))
        .when(col("h") === 2,
          lit("User-agent: *\nDisallow: /*.pdf$\nDisallow: /tmp*\n"))
        .otherwise(lit(""))
      val hosts = t(s, dir, "documents").select((d % 4).as("h")).distinct()
        .withColumn("content", content)
      val rules = graft.text.RobotsTxt.rulesTable(hosts, "h", "content")
      val urls = t(s, dir, "documents").select(d, concat(
        lit("https://h"), (d % 4).cast("string"), lit(".example.com"),
        when(d % 5 === 0, lit("/private/x"))
          .when(d % 5 === 1, lit("/private/ok/y"))
          .when(d % 5 === 2, lit("/docs/file.pdf"))
          .when(d % 5 === 3, lit("/tmp123"))
          .otherwise(lit("/public/z"))).as("url"))
      graft.text.RobotsTxt.markAllowed(urls, "url", d % 4, rules, "h")
        .select("doc_id", "allowed")
    }),

    // Robots meta directives over planted tag variants (attribute order,
    // quote style, case, unquoted values, a decoy non-robots meta) —
    // the crawl-compliance gate, as two RE2 regexp passes both engines run
    "q_robots_meta" -> ((s, dir) => {
      val d = col("doc_id")
      val html = concat(lit("<html><head>"),
        when(d % 7 === 0, lit("<meta name=\"robots\" content=\"noindex, follow\">"))
          .otherwise(lit("")),
        when(d % 7 === 1, lit("<META NAME='ROBOTS' CONTENT='NOFOLLOW'>"))
          .otherwise(lit("")),
        when(d % 7 === 2, lit("<meta content=\"none\" name=\"robots\">"))
          .otherwise(lit("")),
        when(d % 7 === 3, lit("<meta name=robots content=noindex,nofollow>"))
          .otherwise(lit("")),
        when(d % 7 === 4,
          lit("<meta name=\"viewport\" content=\"width=1\">" +
            "<meta name=\"robots\" content=\"index, follow\">"))
          .otherwise(lit("")),
        lit("</head><body><p>"), col("text"), lit("</p></body></html>"))
      t(s, dir, "documents").select(d,
        graft.text.HtmlExtract.robotsNoindex(html).as("noindex"),
        graft.text.HtmlExtract.robotsNofollow(html).as("nofollow"))
    }),

    // Head harvest: title / meta description / declared charset over
    // planted head variants (charset both as <meta charset> and the
    // http-equiv form; description with flipped attribute order)
    "q_head_harvest" -> ((s, dir) => {
      val d = col("doc_id")
      val html = concat(lit("<html><head>"),
        when(d % 3 === 0, lit("<meta charset=\"UTF-8\">"))
          .otherwise(lit("")),
        when(d % 3 === 1, lit("<META http-equiv=\"Content-Type\" " +
          "content=\"text/html; charset=ISO-8859-1\">")).otherwise(lit("")),
        when(d % 5 === 0, concat(lit("<meta name=\"description\" " +
          "content=\"A doc about "), col("source"), lit("\">")))
          .otherwise(lit("")),
        when(d % 5 === 1, lit("<meta content='short desc' name='description'>"))
          .otherwise(lit("")),
        when(d % 7 === 2, lit("<meta name=\"keywords\" " +
          "content=\"how to set charset=shift_jis in html\">"))
          .otherwise(lit("")),
        when(d % 2 === 0, concat(lit("<title> Doc "), d.cast("string"),
          lit(" of "), col("source"), lit(" </title>"))).otherwise(lit("")),
        lit("</head><body><p>"), col("text"), lit("</p></body></html>"))
      t(s, dir, "documents").select(d,
        graft.text.HtmlExtract.title(html).as("title"),
        graft.text.HtmlExtract.metaDescription(html).as("meta_description"),
        graft.text.HtmlExtract.declaredCharset(html).as("declared_charset"))
    }),

    // Charset-aware byte decoding (WHATWG sniff order: BOM > declared >
    // utf-8 > cp1252): bytes are constructed by ENCODING a known string
    // per variant — utf-8 plain, declared latin-1, BOM'd utf-16le, and
    // undeclared latin-1 (the utf-8-strict-fails → cp1252 fallback path)
    // — and the oracle emits the clean construction, so decode() must
    // exactly invert each encoding
    "q_charset_decode" -> ((s, dir) => {
      val d = col("doc_id")
      val accented = concat(col("text"), lit(" café"))
      val bytes = when(d % 4 === 0, encode(accented, "UTF-8"))
        .when(d % 4 === 1, encode(accented, "ISO-8859-1"))
        .when(d % 4 === 2, concat(lit(Array(0xFF.toByte, 0xFE.toByte)),
          encode(col("text"), "UTF-16LE")))
        .otherwise(encode(accented, "ISO-8859-1"))
      val declared = when(d % 4 === 1, lit("iso-8859-1")).otherwise(lit(""))
      t(s, dir, "documents").select(d,
        graft.text.CharsetDecode.decodeUdf(bytes, declared).as("decoded"))
    }),

    // F11 sentence-aware truncation (utils.py:39-50) — oracle-checked
    // since r3 (exact for the unpunctuated fixture; see oracleSql note)
    "q_truncate" -> ((s, dir) => {
      val truncUdf = udf((x: String) => graft.text.Segmenter.truncateSentences(x, 200))
      t(s, dir, "documents")
        .select(col("doc_id"), truncUdf(col("text")).as("truncated"))
    }),

    // F8 fastText label prefixing (process_data.py:30, train.py:46-47)
    "q_label_prefix" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("__label__"), col("lang"), lit(" "), col("text"))
          .as("line"))),

    // F17 JSON field extraction per line (utils.py:52-74)
    "q_json_extract" -> ((s, dir) => t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))),

    // A7 score-distribution stats (llm_judge.py:345-416)
    "q_score_dist" -> ((s, dir) => t(s, dir, "events")
      .groupBy(floor(col("value") / 10).cast("long").as("score_bin"))
      .agg(count(lit(1)).as("cnt"))),

    // A9 confusion-matrix eval counters (fasttext/train.py:124-214)
    "q_confusion_eval" -> ((s, dir) => t(s, dir, "embeddings")
      .withColumn("truth", col("label") === 1)
      .withColumn("pred", element_at(col("embedding"), 1).cast("double") > 0.0)
      .agg(
        sum(when(col("truth") && col("pred"), 1).otherwise(0)).as("tp"),
        sum(when(!col("truth") && col("pred"), 1).otherwise(0)).as("fp"),
        sum(when(col("truth") && !col("pred"), 1).otherwise(0)).as("fn"),
        sum(when(!col("truth") && !col("pred"), 1).otherwise(0)).as("tn"))),

    // P15 Gopher doc-stats subset (word count, mean word length) as an
    // oracle-checked relational query; full filter verdicts are exercised
    // by q_pipeline_full + unit tests
    // RedPajama-v2-style quality-signal vector: 14 per-doc signals as one
    // narrow zero-UDF projection (oracle-checked column by column; the
    // word-entropy signal is a sorted-run decimal fold, replayed in the
    // oracle as the mathematically identical grouped decimal sum)
    "q_quality_signals" -> ((s, dir) =>
      analytics.QualitySignals.withSignals(
        t(s, dir, "documents").select("doc_id", "text"), "text")
        .drop("text")),

    // Corpus datasheet (Gebru et al. 2021, "Datasheets for Datasets"):
    // per-language release-audit aggregates over the signal vector.
    // Decimal accumulation keeps the averages shuffle-order-independent
    // (hash-exact vs the oracle).
    "q_corpus_datasheet" -> ((s, dir) => {
      val sig = analytics.QualitySignals.withSignals(
        t(s, dir, "documents").select("doc_id", "lang", "text"), "text")
      sig.groupBy("lang").agg(
        count(lit(1)).as("docs"),
        sum(col("n_words").cast("long")).as("total_words"),
        round(avg(col("mean_word_len").cast("decimal(18,6)")), 4)
          .cast("double").as("avg_word_len"),
        round(avg(col("stopword_frac").cast("decimal(18,6)")), 4)
          .cast("double").as("avg_stopword_frac"),
        round(avg(col("frac_unique_words").cast("decimal(18,6)")), 4)
          .cast("double").as("avg_unique_frac"))
    }),

    "q_gopher_stats" -> ((s, dir) => {
      val words = size(split(trim(col("text")), "\\s+"))
      val chars = length(regexp_replace(col("text"), "\\s+", ""))
      t(s, dir, "documents").select(col("doc_id"),
        words.as("words"),
        round(chars.cast("double") / words, 4).as("mean_wlen"))
    }),

    // L2/P13 broadcast-model langid inference (rows-only: model scoring is
    // not SQL-expressible)
    "q_langid_model" -> ((s, dir) =>
      CorpusPipeline.withLangId(pagesFromDocs(s, dir),
        CorpusPipeline.defaultModels.lang)
        .select("url", "lang_pred", "lang_prob")),

    // L4 pluggable judge-scorer stage, fresh pass (llm_judge.py semantics
    // with the deterministic stub scorer — oracle-checked)
    "q_judge_score" -> ((s, dir) =>
      graft.filters.JudgeScorer.score(t(s, dir, "documents"),
        graft.filters.JudgeScorer.stubScorer())
        .select("doc_id", "judge_score")),

    // FineWeb-Edu-style distillation: the deterministic stub judge's
    // scores train a fastText-style quality classifier (hi >= 4, lo <=
    // 1, middle band dropped), which then rates every doc. Rows-only —
    // quality_prob comes from learned float weights (SURVEY §2.12
    // ledger); the recipe's correctness (signal recovery, determinism,
    // middle-band exclusion) is pinned in QualityDistillSpec.
    "q_quality_distill" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val judged = graft.filters.JudgeScorer.score(docs,
        graft.filters.JudgeScorer.stubScorer())
      val model = graft.filters.QualityDistill.train(
        judged, "text", "judge_score", dim = 16, epochs = 3)
      graft.filters.QualityDistill.score(docs, "text", model)
        .select(col("doc_id"), round(col("quality_prob"), 4).as("quality_prob"))
    }),

    // L4 resume-with-repair: planted invalid scores (-1 error marker,
    // null, above-scale, FRACTIONAL-in-a-double-column) get re-scored;
    // valid scores kept byte-for-byte (llm_judge.py:216-226)
    "q_judge_repair" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("judge_score",
        when(col("doc_id") % 7 === 0, lit(-1.0))
          .when(col("doc_id") % 11 === 0, lit(null).cast("double"))
          .when(col("doc_id") % 13 === 0, lit(9.0))
          .when(col("doc_id") % 17 === 0, lit(4.5))
          .otherwise(pmod(col("doc_id"), lit(6)).cast("double")))
      graft.filters.JudgeScorer.repair(planted,
        graft.filters.JudgeScorer.stubScorer())
        .select("doc_id", "judge_score")
    }),

    // L4/A7 per-group score distribution (count + within-group share;
    // llm_judge.py:345-416)
    "q_judge_dist" -> ((s, dir) =>
      graft.filters.JudgeScorer.distribution(
        graft.filters.JudgeScorer.score(t(s, dir, "documents"),
          graft.filters.JudgeScorer.stubScorer()),
        groupCols = Seq("lang"))
        .select("lang", "judge_score", "cnt", "share")),

    // L5 Kneser-Ney perplexity scoring (rows-only: LM is not SQL)
    "q_perplexity" -> ((s, dir) => {
      val bc = s.sparkContext.broadcast(CorpusPipeline.defaultModels.lm)
      val ppl = udf(graft.filters.KneserNeyLM.perplexityFn(bc))
      t(s, dir, "documents")
        .select(col("doc_id"), round(ppl(col("text")), 4).as("perplexity"))
    }),

    // Full-corpus distributed KN training (every token counted via one
    // word-count-shaped aggregation, not a bounded sample), then scoring.
    // Rows-only: learned LM state, same ledger class as q_perplexity.
    "q_perplexity_corpus" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val lm = graft.filters.KneserNeyLM.trainDistributed(d, "text")
      val bc = s.sparkContext.broadcast(lm)
      val ppl = udf(graft.filters.KneserNeyLM.perplexityFn(bc))
      d.select(col("doc_id"), round(ppl(col("text")), 4).as("perplexity"))
    }),

    // CCNet per-language LMs: each doc scored against its OWN language's
    // Kneser-Ney model (Wenzek et al. §3.3 — one KenLM per language;
    // a single global LM conflates fluency with language frequency).
    // Rows-only: learned LM state, same ledger class as q_perplexity.
    "q_perplexity_by_lang" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val models = graft.filters.KneserNeyLM.trainPerLang(
        d, "text", "lang", perLangSampleN = 200)
      val bc = s.sparkContext.broadcast(models)
      val f = udf(graft.filters.KneserNeyLM.perplexityByLangFn(bc))
      d.select(col("doc_id"), col("lang"),
        round(f(col("lang"), col("text")), 4).as("ppl_own"))
    }),

    // BM25 query-targeted relevance (analytics.Relevance): score every
    // document against a seed-term set — the third selection primitive
    // next to membership filters and DSIR. Fixed term order makes the
    // float sum deterministic; the oracle replays the identical
    // expression tree (same association, double literals) in DuckDB.
    "q_bm25_score" -> ((s, dir) =>
      graft.analytics.Relevance.bm25(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "join", "vector", "window"))
        .select(col("doc_id"), round(col("bm25"), 4).as("bm25"))),

    // TF-IDF keyword extraction: per-doc top-3 characteristic terms.
    // The broadcast-idf narrow pass must reproduce the textbook
    // explode-join-window plan the DuckDB oracle runs.
    "q_tfidf_keywords" -> ((s, dir) =>
      graft.analytics.Relevance.tfIdfKeywords(
          t(s, dir, "documents"), "doc_id", "text", topK = 3, minDf = 2)
        .select(col("doc_id"), col("rank"), col("keyword"),
          round(col("tfidf"), 4).as("tfidf"))),

    // binary token-shard sink round-trip: write word-length token ids
    // through the GPT-style .bin/.idx sink, read them back, and reduce
    // to a position-weighted integer checksum. The oracle computes the
    // same checksum STRAIGHT from SQL with no sink involved — the
    // hashes agree exactly iff the binary round-trip is faithful.
    "q_token_shards" -> ((s, dir) => {
      val out = java.nio.file.Files
        .createTempDirectory("q_token_shards").toString
      val toks = t(s, dir, "documents").select(col("doc_id"),
        expr("""transform(
          filter(split(lower(coalesce(text, '')), '[^a-z0-9\']+'),
                 x -> x != ''),
          x -> CAST(least(length(x), 65535) AS INT))""").as("tokens"))
      graft.sources.TokenShards.write(toks, "doc_id", "tokens", out,
        "u16", numShards = 8)
      graft.sources.TokenShards.read(s, out)
        .select(col("seq_id").as("doc_id"),
          posexplode_outer(col("tokens")).as(Seq("pos", "tok")))
        .groupBy("doc_id")
        .agg(count(col("tok")).as("n_tokens"),
          coalesce(sum((col("pos") + 1).cast("long") * col("tok")
            .cast("long")), lit(0L)).as("wsum"))
    }),

    // domain-authority PageRank, 3 INTEGER-EXACT iterations (ppb fixed
    // point — long sums are order-independent, so the iterative ranks
    // replay exactly in SQL where floating-point PageRank could not).
    // The driver tables carry no hyperlinks, so the edge list derives
    // deterministically from lineitem by modulo arithmetic.
    "q_pagerank" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .selectExpr("l_partkey % 500 AS src", "l_suppkey % 500 AS dst")
        .filter(col("src") =!= col("dst"))
      graft.analytics.LinkGraph.pagerank(edges, "src", "dst", iterations = 3)
    }),

    // ---- segmentation (UDTF-shaped, rows-only) ------------------------
    "q_segment" -> ((s, dir) => {
      val segUdf = udf((t: String) => graft.text.Segmenter.segment(t, 20, 60))
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(segUdf(col("text")))
          .as(Seq("seg_id", "segment")))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_agg_sum" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |sum(l_quantity) AS sum_qty, min(l_extendedprice) AS min_price,
        |max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_group_count" ->
      "SELECT lang, count(*) AS cnt FROM documents GROUP BY lang",

    "q_url_count" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",

    "q_join_ratio" ->
      """SELECT n_name, n_cust,
        |CAST(round(CASE WHEN n_cust <> 0 THEN bal / n_cust END, 2) AS DOUBLE)
        |  AS avg_bal
        |FROM nation
        |JOIN (SELECT c_nationkey, count(*) AS n_cust,
        |             sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal
        |      FROM customer GROUP BY c_nationkey) c
        |ON n_nationkey = c_nationkey""".stripMargin,

    "q_semi_join" ->
      """SELECT count(*) AS n FROM lineitem
        |WHERE l_orderkey IN
        |(SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin,

    "q_anti_join" ->
      """SELECT count(*) AS n FROM lineitem
        |WHERE l_orderkey NOT IN
        |(SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')""".stripMargin,

    "q_dedup_exact" ->
      """SELECT doc_id FROM documents
        |QUALIFY row_number() OVER
        |(PARTITION BY substr(text, 1, 20) ORDER BY doc_id) = 1""".stripMargin,

    "q_exact_dedup_pages" ->
      """SELECT 'https://docs.example.com/' ||
        |  lpad(CAST(doc_id AS VARCHAR), 8, '0') AS url
        |FROM documents
        |QUALIFY row_number() OVER
        |(PARTITION BY substr(text, 1, 20) ORDER BY doc_id) = 1""".stripMargin,

    "q_dup_count" ->
      "SELECT count(*) - count(DISTINCT text) AS dups FROM documents",

    "q_hash_dedup" ->
      """SELECT md5(concat_ws('|', lang, source)) AS h, count(*) AS cnt
        |FROM documents GROUP BY 1 HAVING count(*) > 1""".stripMargin,

    "q_topk" ->
      """SELECT source, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY source
        |ORDER BY chars DESC, source LIMIT 5""".stripMargin,

    "q_len_filter" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE length(text) BETWEEN 21 AND 99999""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(floor(n_chars / 100) AS BIGINT) AS bin, count(*) AS cnt
        |FROM documents GROUP BY 1""".stripMargin,

    "q_word_count" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS words
        |FROM documents""".stripMargin,

    "q_clean_text" ->
      """SELECT doc_id,
        |trim(regexp_replace(regexp_replace(lower(text), 'http\S+', '', 'g'),
        |'\s+', ' ', 'g')) AS cleaned
        |FROM documents""".stripMargin,

    "q_union" ->
      """SELECT doc_id FROM documents WHERE lang = 'en'
        |UNION ALL
        |SELECT doc_id FROM documents WHERE n_chars > 400""".stripMargin,

    "q_split_label" ->
      """SELECT doc_id,
        |CASE WHEN n_chars >= 300 THEN 'long' ELSE 'short' END AS label
        |FROM documents""".stripMargin,

    "q_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |QUALIFY row_number() OVER
        |(PARTITION BY lang ORDER BY md5(text), doc_id) <= 3""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INT) AS tokens
        |FROM documents""".stripMargin,

    "q_fingerprint" ->
      "SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents",

    "q_pii_scrub" ->
      """SELECT doc_id,
        |regexp_replace(text,
        |'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |'email@example.com', 'g') AS scrubbed
        |FROM documents""".stripMargin,

    "q_cosine_topk" ->
      """SELECT vec_id,
        |round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |  (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4)
        |  AS sim
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    // the 64 dHash comparison terms are generated from the same bit
    // layout as the Spark Column expression (one definition, zero drift);
    // band keys mask to the low 16 bits so arithmetic-vs-logical shift
    // of the signed sig cannot differ
    "q_phash_neardup" ->
      s"""WITH s AS (SELECT vec_id AS id,
        |  ${analytics.PerceptualHash.dhashSqlExpr("embedding")} AS sig
        |  FROM embeddings),
        |b AS (SELECT id, sig, band, (sig >> (band * 16)) & 65535 AS key
        |      FROM s, (SELECT unnest(range(4)) AS band)),
        |p AS (SELECT DISTINCT a.id AS id_a, c.id AS id_b,
        |        CAST(bit_count(xor(a.sig, c.sig)) AS INT) AS hamming
        |      FROM b a JOIN b c
        |        ON a.band = c.band AND a.key = c.key AND a.id < c.id)
        |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 24""".stripMargin,

    "q_phash_decontaminate" ->
      s"""WITH s AS (SELECT vec_id AS id,
        |  ${analytics.PerceptualHash.dhashSqlExpr("embedding")} AS sig
        |  FROM embeddings),
        |corp AS (SELECT * FROM s WHERE id % 7 <> 0),
        |ref AS (SELECT * FROM s WHERE id % 7 = 0),
        |cb AS (SELECT id, sig, band, (sig >> (band * 16)) & 65535 AS key
        |       FROM corp, (SELECT unnest(range(4)) AS band)),
        |rb AS (SELECT DISTINCT band, (sig >> (band * 16)) & 65535 AS key,
        |         sig AS sig_b
        |       FROM ref, (SELECT unnest(range(4)) AS band)),
        |h AS (SELECT cb.id,
        |        min(CAST(bit_count(xor(cb.sig, rb.sig_b)) AS INT))
        |          AS phash_hamming
        |      FROM cb JOIN rb ON cb.band = rb.band AND cb.key = rb.key
        |      WHERE bit_count(xor(cb.sig, rb.sig_b)) <= 24
        |      GROUP BY cb.id)
        |SELECT c.id AS vec_id, h.phash_hamming IS NOT NULL AS is_phash_dup,
        |  h.phash_hamming
        |FROM corp c LEFT JOIN h ON c.id = h.id""".stripMargin,

    "q_stream_window" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_snapshot_diff" ->
      """WITH newsnap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text <> n.text THEN 'changed'
        |       ELSE 'unchanged' END AS change
        |FROM documents o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id""".stripMargin,

    "q_corpus_checksum" ->
      """SELECT lang, n_docs,
        |  CAST(CASE WHEN f >= 9223372036854775808::HUGEINT
        |       THEN f - 18446744073709551616::HUGEINT ELSE f END AS BIGINT)
        |    AS content_checksum
        |FROM (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    sum(h) % 18446744073709551616::HUGEINT AS f
        |  FROM (
        |    SELECT lang,
        |      list_reduce(list_transform(
        |        regexp_split_to_array(substr(md5(coalesce(text, chr(0))), 1, 16), ''),
        |        c -> (strpos('0123456789abcdef', c) - 1)::HUGEINT),
        |        (a, v) -> a * 16 + v) AS h
        |    FROM documents) t
        |  GROUP BY lang) g""".stripMargin,

    "q_semdecon_exact" ->
      """SELECT vec_id, max_ref_sim, max_ref_sim >= 0.95 AS is_contaminated
        |FROM (
        |  SELECT e.vec_id,
        |    round(max(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(r.embedding AS DOUBLE[]))), 4) AS max_ref_sim
        |  FROM embeddings e,
        |    (SELECT embedding FROM embeddings WHERE vec_id % 50 = 0) r
        |  GROUP BY e.vec_id) t""".stripMargin,

    "q_jaccard_decon" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> array_to_string(w[i:i+2], ' ')))
        |    ELSE [] END AS s
        |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS w
        |        FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id,
        |    CASE WHEN len(a.s) + len(r.s) - len(list_intersect(a.s, r.s)) > 0
        |      THEN CAST(len(list_intersect(a.s, r.s)) AS DOUBLE) /
        |        (len(a.s) + len(r.s) - len(list_intersect(a.s, r.s)))
        |      ELSE 0.0 END AS j
        |  FROM sh a, (SELECT s FROM sh WHERE doc_id % 50 = 0) r)
        |SELECT doc_id, max_ref_jaccard,
        |  max_ref_jaccard >= 0.5 AS is_contaminated
        |FROM (SELECT doc_id, round(max(j), 4) AS max_ref_jaccard
        |      FROM pairs GROUP BY doc_id) t""".stripMargin,

    "q_lang_heuristic" ->
      """SELECT doc_id,
        |CAST(len(list_filter(string_split_regex(lower(text), '[^a-z'']+'),
        |  x -> x IN ('the','of','and','to','is'))) AS INT) AS en_hits,
        |CAST(len(list_filter(string_split_regex(lower(text), '[^a-z'']+'),
        |  x -> x IN ('le','la','les','des','est'))) AS INT) AS fr_hits,
        |CAST(len(list_filter(string_split_regex(lower(text), '[^a-z'']+'),
        |  x -> x IN ('el','los','las','para','esta'))) AS INT) AS es_hits,
        |CAST(len(list_filter(string_split_regex(lower(text), '[^a-z'']+'),
        |  x -> x IN ('der','die','das','und','ein'))) AS INT) AS de_hits
        |FROM documents""".stripMargin,

    "q_script_profile" ->
      """WITH m AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 5 = 0 THEN ' 中文处理网页' ELSE '' END) ||
        |  (CASE WHEN doc_id % 5 = 1 THEN ' кириллица текст' ELSE '' END) ||
        |  (CASE WHEN doc_id % 5 = 2 THEN ' ひらがな カタカナ' ELSE '' END) ||
        |  (CASE WHEN doc_id % 5 = 3 THEN ' العربية ١٢٣' ELSE '' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN ' 4213' ELSE '' END) AS sfx,
        |  text FROM documents),
        |c AS (SELECT doc_id, text || sfx AS mx, sfx FROM m),
        |k AS (SELECT doc_id,
        |  length(mx) AS n,
        |  length(mx) - length(regexp_replace(mx, '[\p{Latin}]+', '', 'g')) AS cl,
        |  length(mx) - length(regexp_replace(mx, '[\p{Cyrillic}]+', '', 'g')) AS cc,
        |  length(mx) - length(regexp_replace(mx, '[\p{Han}]+', '', 'g')) AS ch,
        |  length(mx) - length(regexp_replace(mx, '[\p{Hiragana}\p{Katakana}]+', '', 'g')) AS ck,
        |  length(mx) - length(regexp_replace(mx, '[\p{Arabic}]+', '', 'g')) AS ca,
        |  length(mx) - length(regexp_replace(mx, '[0-9]+', '', 'g')) AS cd,
        |  length(mx) - length(regexp_replace(mx, '[ \t\n\r]+', '', 'g')) AS cs,
        |  length(sfx) - length(regexp_replace(sfx, '[\p{Latin}]+', '', 'g')) AS sl,
        |  length(sfx) - length(regexp_replace(sfx, '[\p{Cyrillic}]+', '', 'g')) AS sc,
        |  length(sfx) - length(regexp_replace(sfx, '[\p{Han}]+', '', 'g')) AS sh,
        |  length(sfx) - length(regexp_replace(sfx, '[\p{Hiragana}\p{Katakana}]+', '', 'g')) AS sk,
        |  length(sfx) - length(regexp_replace(sfx, '[\p{Arabic}]+', '', 'g')) AS sa
        |  FROM c)
        |SELECT doc_id,
        |  CASE WHEN n > 0 THEN round(1.0 * cl / n, 4) ELSE 0.0 END AS frac_latin,
        |  CASE WHEN n > 0 THEN round(1.0 * cc / n, 4) ELSE 0.0 END AS frac_cyrillic,
        |  CASE WHEN n > 0 THEN round(1.0 * ch / n, 4) ELSE 0.0 END AS frac_han,
        |  CASE WHEN n > 0 THEN round(1.0 * ck / n, 4) ELSE 0.0 END AS frac_kana,
        |  CASE WHEN n > 0 THEN round(1.0 * ca / n, 4) ELSE 0.0 END AS frac_arabic,
        |  CASE WHEN n > 0 THEN round(1.0 * cd / n, 4) ELSE 0.0 END AS frac_digit,
        |  CASE WHEN n > 0 THEN round(1.0 * cs / n, 4) ELSE 0.0 END AS frac_space,
        |  CASE WHEN n > 0 THEN round(1.0 *
        |    (n - cl - cc - ch - ck - ca - cd - cs) / n, 4)
        |    ELSE 0.0 END AS frac_other,
        |  CASE WHEN sl > 0 AND sl >= sc AND sl >= sh AND sl >= sk AND sl >= sa
        |         THEN 'latin'
        |       WHEN sc > 0 AND sc >= sh AND sc >= sk AND sc >= sa
        |         THEN 'cyrillic'
        |       WHEN sh > 0 AND sh >= sk AND sh >= sa THEN 'han'
        |       WHEN sk > 0 AND sk >= sa THEN 'kana'
        |       WHEN sa > 0 THEN 'arabic'
        |       ELSE 'und' END AS script
        |FROM k""".stripMargin,

    "q_quality_score" ->
      """SELECT doc_id,
        |round(least(1.0, len(string_split_regex(text, '\s+')) / 100.0) *
        |  (0.5 + least(1.0,
        |     len(list_filter(string_split_regex(lower(text), '[^a-z'']+'),
        |       x -> x IN ('the','of','and','to','is'))) / 5.0) * 0.5), 4)
        |  AS qscore
        |FROM documents""".stripMargin,

    "q_stopword_frac" ->
      """WITH w AS (SELECT doc_id, lang,
        |  list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z'']+'),
        |    x -> length(x) > 0) AS ws FROM documents)
        |SELECT doc_id, lang,
        |  CASE lang
        |    WHEN 'de' THEN CASE WHEN len(ws) > 0
        |      THEN round(1.0 * len(list_filter(ws, x -> x IN
        |        ('der','die','und','das','ist','mit','ein','nicht','von','zu')
        |        )) / len(ws), 4) ELSE 0.0 END
        |    WHEN 'en' THEN CASE WHEN len(ws) > 0
        |      THEN round(1.0 * len(list_filter(ws, x -> x IN
        |        ('the','of','and','to','in','is','that','it','was','for')
        |        )) / len(ws), 4) ELSE 0.0 END
        |    WHEN 'es' THEN CASE WHEN len(ws) > 0
        |      THEN round(1.0 * len(list_filter(ws, x -> x IN
        |        ('el','la','los','las','es','para','con','que','una','por')
        |        )) / len(ws), 4) ELSE 0.0 END
        |    WHEN 'fr' THEN CASE WHEN len(ws) > 0
        |      THEN round(1.0 * len(list_filter(ws, x -> x IN
        |        ('le','la','les','des','est','dans','pour','que','une','sur')
        |        )) / len(ws), 4) ELSE 0.0 END
        |    ELSE NULL END AS stopword_frac
        |FROM w""".stripMargin,

    "q_readability" ->
      """WITH s AS (SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x <> '') AS words,
        |  CASE WHEN text IS NULL THEN NULL
        |    ELSE greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |    END AS n_sentences,
        |  len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS n_syllables
        |  FROM documents),
        |p AS (SELECT doc_id, n_sentences, n_syllables,
        |  len(words) AS nw,
        |  list_transform(words, x -> translate(x, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS lws
        |  FROM s)
        |SELECT doc_id,
        |  CAST(n_sentences AS INT) AS n_sentences,
        |  CAST(n_syllables AS INT) AS n_syllables,
        |  round(nw / CAST(n_sentences AS DOUBLE), 4) AS words_per_sentence,
        |  round(n_syllables / CAST(nullif(nw, 0) AS DOUBLE), 4)
        |    AS syllables_per_word,
        |  round(206.835 - 1.015 * (nw / CAST(n_sentences AS DOUBLE))
        |    - 84.6 * (n_syllables / CAST(nullif(nw, 0) AS DOUBLE)), 4)
        |    AS flesch_ease,
        |  round(0.39 * (nw / CAST(n_sentences AS DOUBLE))
        |    + 11.8 * (n_syllables / CAST(nullif(nw, 0) AS DOUBLE))
        |    - 15.59, 4) AS fk_grade,
        |  round(len(list_filter(list_distinct(lws),
        |      w -> len(list_filter(lws, x -> x = w)) = 1))
        |    / CAST(nullif(nw, 0) AS DOUBLE), 4) AS hapax_frac
        |FROM p""".stripMargin,

    "q_source_diversity" ->
      """WITH c AS (SELECT source, count(*) AS c FROM documents
        |           GROUP BY source),
        |a AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS g,
        |  sum(CAST(c * ln(c) AS DECIMAL(38,12))) AS clnc,
        |  sum(CAST(c * c AS DECIMAL(38,0))) AS c2,
        |  max(c) AS maxc FROM c)
        |SELECT n AS n_docs, g AS n_groups,
        |  greatest(0.0, round((ln(n) - CAST(clnc AS DOUBLE) / n) / ln(2), 6))
        |    AS entropy_bits,
        |  greatest(0.0, round(CASE WHEN g > 1
        |    THEN (ln(n) - CAST(clnc AS DOUBLE) / n) / ln(g)
        |    ELSE 0.0 END, 6)) AS norm_entropy,
        |  round(CAST(c2 AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6)
        |    AS simpson,
        |  round(CAST(maxc AS DOUBLE) / n, 6) AS top_share
        |FROM a""".stripMargin,

    "q_source_prior" ->
      """WITH q AS (SELECT source,
        |  round(least(1.0, len(string_split_regex(text, '\s+')) / 100.0) *
        |  (0.5 + least(1.0,
        |     len(list_filter(string_split_regex(lower(text), '[^a-z'']+'),
        |       x -> x IN ('the','of','and','to','is'))) / 5.0) * 0.5), 4)
        |    AS qscore
        |  FROM documents)
        |SELECT source, docs, mean_score,
        |  (docs >= 10 AND mean_score >= 0.37) AS keep
        |FROM (SELECT source, CAST(count(*) AS BIGINT) AS docs,
        |        CAST(round(sum(CAST(qscore AS DECIMAL(18,4))) / count(*), 4)
        |          AS DOUBLE) AS mean_score
        |      FROM q GROUP BY source)""".stripMargin,

    "q_source_prior_filter" ->
      """WITH q AS (SELECT doc_id, source,
        |  round(least(1.0, len(string_split_regex(text, '\s+')) / 100.0) *
        |  (0.5 + least(1.0,
        |     len(list_filter(string_split_regex(lower(text), '[^a-z'']+'),
        |       x -> x IN ('the','of','and','to','is'))) / 5.0) * 0.5), 4)
        |    AS qscore
        |  FROM documents),
        |ledger AS (SELECT source,
        |    count(*) AS docs,
        |    CAST(round(sum(CAST(qscore AS DECIMAL(18,4))) / count(*), 4)
        |      AS DOUBLE) AS mean_score
        |  FROM q GROUP BY source)
        |SELECT doc_id, source FROM q
        |WHERE source IN (SELECT source FROM ledger
        |                 WHERE docs >= 10 AND mean_score >= 0.37)"""
        .stripMargin,

    "q_bpe_estimate" ->
      """SELECT doc_id,
        |CAST(ceil(length(regexp_replace(text, '\s+', '', 'g')) / 4.0) AS BIGINT)
        |  AS bpe_tokens
        |FROM documents""".stripMargin,

    "q_token_budget" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id,
        |    sum(len(string_split(text, ' ')))
        |      OVER (ORDER BY md5(text), doc_id ROWS UNBOUNDED PRECEDING) AS c
        |  FROM documents)
        |WHERE c <= 5000""".stripMargin,

    "q_corpus_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('epoch0' || chr(1) || CAST(doc_id AS VARCHAR)),
        |             doc_id) AS BIGINT) AS shuffle_pos
        |FROM documents""".stripMargin,

    "q_ccnet_bucket" ->
      """SELECT doc_id, lang,
        |  CASE ntile(3) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
        |  END AS ppl_bucket
        |FROM documents""".stripMargin,

    "q_temperature_sample" ->
      """WITH n AS (SELECT lang, count(*) AS cnt FROM documents
        |           GROUP BY lang),
        |w AS (SELECT lang, cnt,
        |        CAST(floor(sqrt(cnt)) AS BIGINT) AS wt FROM n),
        |tg AS (SELECT lang,
        |         least(cnt, 200 * wt // (SELECT sum(wt) FROM w)) AS target
        |       FROM w),
        |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |        ORDER BY md5('mix0' || chr(1) || CAST(doc_id AS VARCHAR)),
        |                 doc_id) AS rn
        |      FROM documents)
        |SELECT r.doc_id, r.lang FROM r
        |JOIN tg ON r.lang IS NOT DISTINCT FROM tg.lang
        |WHERE rn <= target""".stripMargin,

    "q_ngram_decontaminate" ->
      """WITH w AS (SELECT doc_id, source,
        |            regexp_split_to_array(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, source, array_to_string(ws[i:i+3], ' ') AS gram
        |      FROM (SELECT doc_id, source, ws,
        |                   unnest(range(1, len(ws) - 2)) AS i FROM w)),
        |bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src4')
        |SELECT doc_id FROM documents
        |WHERE source <> 'src4' AND doc_id NOT IN (
        |  SELECT DISTINCT doc_id FROM g WHERE source <> 'src4'
        |    AND gram IN (SELECT gram FROM bench))""".stripMargin,

    "q_span_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |st AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1, 5)) AS i
        |       FROM w),
        |sp AS (SELECT doc_id, (i - 1) // 5 AS pos,
        |         array_to_string(ws[i:least(i + 4, len(ws))], ' ') AS span,
        |         least(i + 4, len(ws)) - i + 1 AS nw
        |       FROM st),
        |rk AS (SELECT doc_id, pos, span,
        |         row_number() OVER (PARTITION BY span
        |                            ORDER BY doc_id, pos) AS rn
        |       FROM sp WHERE nw = 5),
        |kept AS (SELECT doc_id, pos, span FROM rk WHERE rn = 1
        |         UNION ALL
        |         SELECT doc_id, pos, span FROM sp WHERE nw < 5)
        |SELECT d.doc_id,
        |       coalesce(string_agg(k.span, ' ' ORDER BY k.pos), '') AS deduped
        |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
        |GROUP BY d.doc_id""".stripMargin,

    "q_frequent_lines" ->
      """WITH base AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0
        |          THEN 'accept all cookies to continue' || chr(10)
        |          ELSE '' END)
        |    || 'site menu' || chr(10) || text || chr(10) ||
        |    (CASE WHEN doc_id % 2 = 0
        |          THEN 'copyright example corp all rights reserved'
        |          ELSE 'unique footer ' || CAST(doc_id AS VARCHAR)
        |               || ' tail words' END) AS text
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM base),
        |li AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM ls),
        |ln AS (SELECT doc_id, i - 1 AS pos, l[i] AS line,
        |         len(list_filter(string_split(l[i], ' '),
        |             x -> x <> '')) >= 3 AS elig
        |       FROM li),
        |freq AS (SELECT line FROM ln WHERE elig
        |         GROUP BY line HAVING count(DISTINCT doc_id) > 50),
        |kept AS (SELECT doc_id, pos, line FROM ln
        |         WHERE NOT (elig AND line IN (SELECT line FROM freq))),
        |agg AS (SELECT doc_id,
        |          coalesce(string_agg(line, chr(10) ORDER BY pos), '')
        |            AS cleaned
        |        FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, coalesce(a.cleaned, '') AS cleaned
        |FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id""".stripMargin,

    "q_url_dedup" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM'
        |        ELSE 'example.com' END) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
        |  '/p/' || CAST(doc_id % 100 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 7 = 0
        |        THEN '?utm_source=feed&id=' || CAST(doc_id % 100 AS VARCHAR)
        |        ELSE '' END) ||
        |  (CASE WHEN doc_id % 11 = 0 THEN '#sec' ELSE '' END) AS url
        |  FROM documents),
        |c1 AS (SELECT doc_id, url,
        |  regexp_replace(split_part(url, '#', 1), '^(?i)https?://', '') AS a,
        |  regexp_matches(split_part(url, '#', 1), '^(?i)https://') AS is_https
        |  FROM u),
        |c2 AS (SELECT doc_id, url, is_https, a,
        |  regexp_extract(a, '^[^/?]*') AS auth_raw FROM c1),
        |c3 AS (SELECT doc_id, url,
        |  CASE WHEN is_https
        |       THEN regexp_replace(regexp_replace(lower(auth_raw),
        |         '^www\.', ''), ':443$', '')
        |       ELSE regexp_replace(regexp_replace(lower(auth_raw),
        |         '^www\.', ''), ':80$', '') END AS auth,
        |  substr(a, length(auth_raw) + 1) AS rest FROM c2),
        |c4 AS (SELECT doc_id, url, auth,
        |  rtrim(split_part(rest, '?', 1), '/') AS pathn,
        |  CASE WHEN contains(rest, '?')
        |       THEN array_to_string(list_filter(
        |         string_split(substr(rest, length(split_part(rest,'?',1)) + 2),
        |           '&'),
        |         x -> NOT (starts_with(x, 'utm_') OR x = 'fbclid'
        |           OR starts_with(x, 'fbclid=') OR x = 'gclid'
        |           OR starts_with(x, 'gclid=') OR x = 'msclkid'
        |           OR starts_with(x, 'msclkid='))), '&')
        |       ELSE '' END AS keptq
        |  FROM c3)
        |SELECT doc_id, url FROM (
        |  SELECT doc_id, url,
        |    auth || pathn ||
        |    (CASE WHEN keptq = '' THEN '' ELSE '?' || keptq END) AS canon
        |  FROM c4)
        |QUALIFY row_number() OVER (PARTITION BY canon ORDER BY doc_id) = 1""".stripMargin,

    "q_pii_report" ->
      """WITH m AS (SELECT source, text ||
        |  (CASE WHEN doc_id % 11 = 0
        |    THEN ' contact bob@site.example.org now' ELSE '' END) ||
        |  (CASE WHEN doc_id % 13 = 0
        |    THEN ' from 10.1.2.3 and 192.168.7.9' ELSE '' END) ||
        |  (CASE WHEN doc_id % 17 = 0
        |    THEN ' mail alice@mail.example.net' ELSE '' END) AS t2
        |  FROM documents)
        |SELECT source, count(*) AS docs,
        |  count(*) FILTER (regexp_matches(t2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS email_docs,
        |  CAST(sum(len(regexp_extract_all(t2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT)
        |    AS email_mentions,
        |  count(*) FILTER (regexp_matches(t2,
        |    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS ipv4_docs,
        |  CAST(sum(len(regexp_extract_all(t2,
        |    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))) AS BIGINT)
        |    AS ipv4_mentions
        |FROM m GROUP BY source""".stripMargin,

    "q_url_features" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM'
        |        ELSE 'example.com' END) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
        |  '/p/' || CAST(doc_id % 100 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 7 = 0
        |        THEN '?utm_source=feed&id=' || CAST(doc_id % 100 AS VARCHAR)
        |        ELSE '' END) ||
        |  (CASE WHEN doc_id % 11 = 0 THEN '#sec' ELSE '' END) AS url
        |  FROM documents),
        |p AS (SELECT doc_id, url,
        |  split_part(CASE WHEN length(split_part(url, '://', 2)) > 0
        |                  THEN split_part(url, '://', 2) ELSE url END,
        |             '#', 1) AS rest FROM u),
        |c AS (SELECT doc_id, url, rest,
        |  split_part(split_part(rest, '?', 1), '/', 1) AS hostport FROM p),
        |e AS (SELECT doc_id, url, hostport,
        |  split_part(substr(rest, length(hostport) + 1), '?', 1) AS path,
        |  split_part(substr(rest, length(hostport) + 1), '?', 2) AS query,
        |  regexp_replace(hostport, '^.*@', '') AS hostnouser,
        |  split_part(regexp_replace(hostport, '^.*@', ''), ':', 1) AS host
        |  FROM c)
        |SELECT doc_id,
        |  CAST(length(path) AS INT) AS path_len,
        |  CAST(length(path) - length(regexp_replace(path, '/', '', 'g'))
        |    AS INT) AS path_depth,
        |  CAST(length(query) AS INT) AS query_len,
        |  CAST(CASE WHEN length(query) = 0 THEN 0
        |    ELSE length(query) - length(regexp_replace(query, '&', '', 'g'))
        |         + 1 END AS INT) AS n_params,
        |  CAST(length(host) AS INT) AS host_len,
        |  CASE WHEN length(host) > 0
        |    THEN round(1.0 * (length(host) -
        |      length(regexp_replace(host, '[0-9]', '', 'g'))) / length(host),
        |      4)
        |    ELSE 0.0 END AS host_digit_frac,
        |  strpos(hostnouser, ':') > 0 AS has_port,
        |  starts_with(lower(url), 'https://') AS is_https
        |FROM e""".stripMargin,

    "q_keep_latest" ->
      """SELECT user_id, ts, event_id, event_type, n_revisions FROM (
        |  SELECT user_id, ts, event_id, event_type,
        |         count(*) OVER (PARTITION BY user_id) AS n_revisions,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "q_url_pattern_filter" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM'
        |        ELSE 'example.com' END) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
        |  '/p/' || CAST(doc_id % 100 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 7 = 0
        |        THEN '?utm_source=feed&id=' || CAST(doc_id % 100 AS VARCHAR)
        |        ELSE '' END) AS url
        |  FROM documents)
        |SELECT doc_id, url FROM u
        |WHERE NOT regexp_matches(url,
        |  '(?:[?&]utm_)|(?::443/)')""".stripMargin,

    "q_mirror_report" ->
      """WITH per AS (
        |  SELECT md5(left(text, 20)) AS text_md5, source,
        |         count(*) AS c, min(doc_id) AS m
        |  FROM documents GROUP BY md5(left(text, 20)), source)
        |SELECT text_md5, copies, n_domains, example_id FROM (
        |  SELECT text_md5, CAST(sum(c) AS BIGINT) AS copies,
        |         CAST(count(*) AS BIGINT) AS n_domains,
        |         CAST(min(m) AS BIGINT) AS example_id
        |  FROM per GROUP BY text_md5)
        |WHERE n_domains >= 2
        |ORDER BY n_domains DESC, copies DESC, text_md5
        |LIMIT 100""".stripMargin,

    "q_contamination_report" ->
      """WITH w AS (SELECT doc_id, source,
        |            regexp_split_to_array(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, source, array_to_string(ws[i:i+3], ' ') AS gram
        |      FROM (SELECT doc_id, source, ws,
        |                   unnest(range(1, len(ws) - 2)) AS i FROM w)),
        |bg AS (SELECT DISTINCT doc_id, gram FROM g WHERE source = 'src4'),
        |cg AS (SELECT DISTINCT gram FROM g WHERE source <> 'src4')
        |SELECT bg.doc_id,
        |  CAST(count(*) AS BIGINT) AS grams_total,
        |  CAST(count(cg.gram) AS BIGINT) AS grams_matched,
        |  round(count(cg.gram) * 1.0 / count(*), 4) AS overlap_frac
        |FROM bg LEFT JOIN cg ON bg.gram = cg.gram
        |GROUP BY bg.doc_id""".stripMargin,

    "q_substring_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |win AS (SELECT doc_id, i - 1 AS pos,
        |          array_to_string(ws[i:i+7], ' ') AS wtext
        |        FROM (SELECT doc_id, ws,
        |                unnest(range(1, len(ws) - 6)) AS i FROM w)),
        |rk AS (SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY wtext
        |                            ORDER BY doc_id, pos) AS rn
        |       FROM win),
        |rem AS (SELECT DISTINCT doc_id, pos + o AS wi
        |        FROM (SELECT doc_id, pos, unnest(range(0, 8)) AS o
        |              FROM rk WHERE rn > 1)),
        |words AS (SELECT doc_id, i - 1 AS wi, ws[i] AS wd
        |          FROM (SELECT doc_id, ws,
        |                  unnest(range(1, len(ws) + 1)) AS i FROM w)),
        |kept AS (SELECT wo.doc_id, wo.wi, wo.wd FROM words wo
        |         LEFT JOIN rem ON wo.doc_id = rem.doc_id AND wo.wi = rem.wi
        |         WHERE rem.wi IS NULL)
        |SELECT d.doc_id,
        |       coalesce(string_agg(k.wd, ' ' ORDER BY k.wi), '') AS deduped
        |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
        |GROUP BY d.doc_id""".stripMargin,

    "q_dsir_weights" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
        |           FROM documents),
        |uni AS (SELECT doc_id, source, unnest(ws) AS g FROM w),
        |bi AS (SELECT doc_id, source, ws[i] || ' ' || ws[i+1] AS g
        |       FROM (SELECT doc_id, source, ws,
        |                    unnest(range(1, len(ws))) AS i FROM w)),
        |g AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
        |gb AS (SELECT doc_id, source,
        |         ('0x' || substr(md5(g), 1, 8))::BIGINT % 256 AS b FROM g),
        |tc AS (SELECT b, count(*) AS n FROM gb WHERE source = 'src0'
        |       GROUP BY b),
        |rc AS (SELECT b, count(*) AS n FROM gb WHERE source <> 'src0'
        |       GROUP BY b),
        |wt AS (SELECT bb.b,
        |         ln((coalesce(tc.n, 0) + 1.0) /
        |            ((SELECT sum(n) FROM tc) + 256.0)) -
        |         ln((coalesce(rc.n, 0) + 1.0) /
        |            ((SELECT sum(n) FROM rc) + 256.0)) AS lw
        |       FROM (SELECT unnest(range(0, 256)) AS b) bb
        |       LEFT JOIN tc ON bb.b = tc.b
        |       LEFT JOIN rc ON bb.b = rc.b)
        |SELECT gb.doc_id, round(sum(wt.lw), 4) AS lw
        |FROM gb JOIN wt ON gb.b = wt.b
        |WHERE gb.source <> 'src0'
        |GROUP BY gb.doc_id""".stripMargin,

    // The deterministic page-skeleton harness means extraction must
    // return the text verbatim (fixture texts are single-spaced with >4
    // words, so no collapse or minWords effect applies)
    "q_html_extract" ->
      "SELECT doc_id, text AS extracted FROM documents",

    // Exact for the driver fixture: documents.text is unpunctuated ASCII
    // (verified: zero [.!?] occurrences), so Segmenter.sentences returns
    // the whole text as one sentence and truncateSentences reduces to
    // identity-or-hard-cut — which IS SQL-expressible. The abbreviation-
    // aware sentence branch stays pinned by SegmenterSpec unit tests.
    "q_truncate" ->
      """SELECT doc_id,
        |CASE WHEN length(text) <= 200 THEN text
        |     ELSE substr(text, 1, 200) END AS truncated
        |FROM documents""".stripMargin,

    // Bit-exact replay of the 64-bit rolling hash in DuckDB: fold the
    // char stream (word chars: h=h*31+code; each word end, marked by the
    // appended ' ': h=h*131+7) over HUGEINT mod 2^64, then reinterpret
    // as signed BIGINT. Exact for single-space-separated ASCII text (the
    // fixture shape — verified no runs/tabs/leading ws).
    "q_rolling_fingerprint" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |            THEN h - 18446744073709551616::HUGEINT
        |            ELSE h END AS BIGINT) AS rfp
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_concat([1125899906842597::HUGEINT],
        |        list_transform(regexp_split_to_array(text || ' ', ''),
        |          c -> CASE WHEN c = ' ' THEN -1
        |               ELSE unicode(c) END::HUGEINT)),
        |      (a, x) -> CASE
        |        WHEN x = -1 THEN (a * 131 + 7) % 18446744073709551616::HUGEINT
        |        ELSE (a * 31 + x) % 18446744073709551616::HUGEINT END
        |    ) AS h
        |  FROM documents)""".stripMargin,

    "q_head_harvest" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><head>' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN '<meta charset="UTF-8">'
        |        ELSE '' END) ||
        |  (CASE WHEN doc_id % 3 = 1 THEN '<META http-equiv="Content-Type" ' ||
        |        'content="text/html; charset=ISO-8859-1">' ELSE '' END) ||
        |  (CASE WHEN doc_id % 5 = 0
        |    THEN '<meta name="description" content="A doc about ' ||
        |         source || '">' ELSE '' END) ||
        |  (CASE WHEN doc_id % 5 = 1
        |    THEN '<meta content=''short desc'' name=''description''>'
        |    ELSE '' END) ||
        |  (CASE WHEN doc_id % 7 = 2
        |    THEN '<meta name="keywords" content="how to set ' ||
        |         'charset=shift_jis in html">' ELSE '' END) ||
        |  (CASE WHEN doc_id % 2 = 0
        |    THEN '<title> Doc ' || CAST(doc_id AS VARCHAR) || ' of ' ||
        |         source || ' </title>' ELSE '' END) ||
        |  '</head><body><p>' || text || '</p></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_extract(html, '(?i)<title[^>]*>([^<]*)</title>', 1))
        |    AS title,
        |  regexp_extract(regexp_extract(html,
        |    '(?i)<meta\b[^>]*\bname\s*=\s*["'']?description["'']?[^>]*>', 0),
        |    '(?i)\bcontent\s*=\s*["'']?([^"''>]*)', 1) AS meta_description,
        |  lower(CASE WHEN regexp_extract(html,
        |      '(?i)<meta\s[^>=]*\bcharset\s*=\s*["'']?([A-Za-z0-9_\-]+)', 1) <> ''
        |    THEN regexp_extract(html,
        |      '(?i)<meta\s[^>=]*\bcharset\s*=\s*["'']?([A-Za-z0-9_\-]+)', 1)
        |    ELSE regexp_extract(regexp_extract(html,
        |      '(?i)<meta\b[^>]*\bhttp-equiv\s*=\s*["'']?content-type["'']?[^>]*>', 0),
        |      '(?i)\bcharset\s*=\s*["'']?([A-Za-z0-9_\-]+)', 1)
        |    END) AS declared_charset
        |FROM h""".stripMargin,

    "q_charset_decode" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 2 THEN text
        |       ELSE text || ' café' END AS decoded
        |FROM documents""".stripMargin,

    "q_mojibake" ->
      """WITH m AS (SELECT doc_id, text ||
        |  (CASE WHEN doc_id % 4 = 0 THEN ' Ã©tÃ© naÃ¯ve cafÃ©' ELSE '' END) ||
        |  (CASE WHEN doc_id % 4 = 1 THEN ' â€˜itâ€™sâ€¦ â‚¬100' ELSE '' END) ||
        |  (CASE WHEN doc_id % 4 = 2 THEN ' ÃƒÂ©ÃƒÂ©' ELSE '' END) AS corrupted,
        |  text ||
        |  (CASE WHEN doc_id % 4 = 0 THEN ' été naïve café' ELSE '' END) ||
        |  (CASE WHEN doc_id % 4 = 1 THEN ' ‘it’s… €100' ELSE '' END) ||
        |  (CASE WHEN doc_id % 4 = 2 THEN ' éé' ELSE '' END) AS clean
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(corrupted) - length(regexp_replace(corrupted,
        |    '[Â-ô][€‚ƒ„…†‡ˆ‰Š‹ŒŽ‘’“”•–—˜™š›œžŸ\x{81}\x{8D}\x{8F}\x{90}\x{9D}\x{A0}-\x{BF}]', '', 'g'))
        |    AS INT) AS sig_chars,
        |  clean AS fixed
        |FROM m""".stripMargin,

    "q_robots_rules" ->
      """SELECT doc_id, 0 AS idx, false AS allow, '/private/' AS pattern
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id, 1, true, '/private/ok/'
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id, 0, false, '/*.pdf$'
        |FROM documents WHERE doc_id % 4 = 2
        |UNION ALL
        |SELECT doc_id, 1, false, '/tmp*'
        |FROM documents WHERE doc_id % 4 = 2""".stripMargin,

    "q_robots_allowed" ->
      """SELECT doc_id,
        |  NOT ((doc_id % 4 = 0 AND doc_id % 5 = 0)
        |    OR (doc_id % 4 = 2 AND doc_id % 5 IN (2, 3))) AS allowed
        |FROM documents""".stripMargin,

    "q_robots_meta" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><head>' ||
        |  (CASE WHEN doc_id % 7 = 0
        |    THEN '<meta name="robots" content="noindex, follow">' ELSE '' END) ||
        |  (CASE WHEN doc_id % 7 = 1
        |    THEN '<META NAME=''ROBOTS'' CONTENT=''NOFOLLOW''>' ELSE '' END) ||
        |  (CASE WHEN doc_id % 7 = 2
        |    THEN '<meta content="none" name="robots">' ELSE '' END) ||
        |  (CASE WHEN doc_id % 7 = 3
        |    THEN '<meta name=robots content=noindex,nofollow>' ELSE '' END) ||
        |  (CASE WHEN doc_id % 7 = 4
        |    THEN '<meta name="viewport" content="width=1">' ||
        |         '<meta name="robots" content="index, follow">' ELSE '' END) ||
        |  '</head><body><p>' || text || '</p></body></html>' AS html
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  regexp_extract(regexp_extract(html,
        |    '(?i)<meta\b[^>]*\bname\s*=\s*["'']?robots\b[^>]*>', 0),
        |    '(?i)\bcontent\s*=\s*["'']?([^"''>]*)', 1) AS rc
        |  FROM h)
        |SELECT doc_id,
        |  regexp_matches(rc, '(?i)(^|[\s,])(noindex|none)([\s,]|$)') AS noindex,
        |  regexp_matches(rc, '(?i)(^|[\s,])(nofollow|none)([\s,]|$)') AS nofollow
        |FROM c""".stripMargin,

    "q_domain_count" ->
      """SELECT split_part('https://docs.example.com/' ||
        |  lpad(CAST(doc_id AS VARCHAR), 8, '0'), '/', 3) AS host,
        |count(*) AS cnt
        |FROM documents GROUP BY 1""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT 'https://docs.example.com/' ||
        |  lpad(CAST(doc_id AS VARCHAR), 8, '0') AS url,
        |CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |md5(text) AS content_hash
        |FROM documents""".stripMargin,

    "q_media_header" ->
      """SELECT doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    WHEN 2 THEN 'gif' WHEN 3 THEN 'bmp' ELSE 'webp' END AS format,
        |  CAST(1 + doc_id % 1019 AS INT) AS width,
        |  CAST(1 + doc_id % 761 AS INT) AS height,
        |  CAST(CASE doc_id % 5 WHEN 0 THEN 8 WHEN 1 THEN 8
        |    WHEN 3 THEN 24 ELSE NULL END AS INT) AS bit_depth
        |FROM documents""".stripMargin,

    "q_audio_header" ->
      """SELECT doc_id,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |    WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS INT)
        |    AS sample_rate,
        |  CAST(16 AS INT) AS bits_per_sample,
        |  CAST((1000 + doc_id % 9000) * 1000 //
        |    (CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |     WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END)
        |    AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,

    "q_sample_uniform" ->
      """SELECT doc_id FROM documents
        |ORDER BY md5(text), doc_id LIMIT 50""".stripMargin,

    "q_min_len_filter" ->
      "SELECT doc_id FROM documents WHERE length(text) >= 300",

    "q_prob_filter" ->
      """SELECT event_id FROM events
        |WHERE value >= 10.0 AND event_type = 'click'""".stripMargin,

    "q_score_band" ->
      """SELECT event_id, score FROM (
        |  SELECT event_id,
        |    try_cast(regexp_extract(props, '"k": ([0-9.]+)', 1) AS DOUBLE)
        |      AS score
        |  FROM events)
        |WHERE score IS NOT NULL AND score BETWEEN 20 AND 60""".stripMargin,

    "q_member_filter" ->
      """SELECT doc_id FROM documents
        |WHERE source IN ('src1', 'src3', 'src5')""".stripMargin,

    "q_decontaminate" ->
      """SELECT doc_id FROM documents
        |WHERE text NOT IN
        |  (SELECT text FROM documents WHERE source = 'src0')""".stripMargin,

    "q_bloom_decontaminate" ->
      """SELECT doc_id FROM documents
        |WHERE text NOT IN
        |  (SELECT text FROM documents WHERE source = 'src2')""".stripMargin,

    "q_label_prefix" ->
      """SELECT doc_id, '__label__' || lang || ' ' || text AS line
        |FROM documents""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id,
        |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,

    "q_score_dist" ->
      """SELECT CAST(floor(value / 10) AS BIGINT) AS score_bin,
        |count(*) AS cnt
        |FROM events GROUP BY 1""".stripMargin,

    "q_confusion_eval" ->
      """SELECT
        |CAST(sum(CASE WHEN truth AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |CAST(sum(CASE WHEN NOT truth AND pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |CAST(sum(CASE WHEN truth AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |CAST(sum(CASE WHEN NOT truth AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |FROM (SELECT label = 1 AS truth,
        |             CAST(embedding[1] AS DOUBLE) > 0.0 AS pred
        |      FROM embeddings)""".stripMargin,

    "q_corpus_datasheet" ->
      """WITH s AS (
        |  SELECT lang,
        |    list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '') AS words
        |  FROM documents),
        |p AS (
        |  SELECT lang,
        |    CAST(len(words) AS INT) AS n_words,
        |    round(list_sum(list_transform(words, x -> length(x)))
        |      / CAST(nullif(len(words), 0) AS DOUBLE), 4) AS mean_word_len,
        |    round(len(list_filter(words, x -> lower(x) IN
        |        ('the','and','of','to','is','in','a','that')))
        |      / CAST(nullif(len(words), 0) AS DOUBLE), 4) AS stopword_frac,
        |    round(len(list_distinct(list_transform(words, x -> lower(x))))
        |      / CAST(nullif(len(words), 0) AS DOUBLE), 4) AS frac_unique_words
        |  FROM s)
        |SELECT lang, count(*) AS docs,
        |  CAST(sum(n_words) AS BIGINT) AS total_words,
        |  CAST(round(avg(CAST(mean_word_len AS DECIMAL(18,6))), 4)
        |    AS DOUBLE) AS avg_word_len,
        |  CAST(round(avg(CAST(stopword_frac AS DECIMAL(18,6))), 4)
        |    AS DOUBLE) AS avg_stopword_frac,
        |  CAST(round(avg(CAST(frac_unique_words AS DECIMAL(18,6))), 4)
        |    AS DOUBLE) AS avg_unique_frac
        |FROM p GROUP BY lang""".stripMargin,

    "q_quality_signals" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '') AS words,
        |    list_filter(string_split(text, chr(10)),
        |      x -> x <> '') AS lines
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS INT) AS n_chars,
        |  CAST(len(words) AS INT) AS n_words,
        |  CAST(len(lines) AS INT) AS n_lines,
        |  round(list_sum(list_transform(words, x -> length(x)))
        |    / CAST(nullif(len(words), 0) AS DOUBLE), 4) AS mean_word_len,
        |  round(len(list_distinct(list_transform(words, x -> lower(x))))
        |    / CAST(nullif(len(words), 0) AS DOUBLE), 4) AS frac_unique_words,
        |  round(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))
        |    / CAST(nullif(len(words), 0) AS DOUBLE), 4) AS frac_alpha_words,
        |  round(len(list_filter(words, x -> lower(x) IN
        |      ('the','and','of','to','is','in','a','that')))
        |    / CAST(nullif(len(words), 0) AS DOUBLE), 4) AS stopword_frac,
        |  round(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |    / CAST(nullif(length(text), 0) AS DOUBLE), 4) AS frac_digit_chars,
        |  round(length(regexp_replace(text, '[^A-Z]', '', 'g'))
        |    / CAST(nullif(length(text), 0) AS DOUBLE), 4) AS frac_upper_chars,
        |  round(len(list_filter(lines, x -> regexp_matches(x, '[.!?]$')))
        |    / CAST(nullif(len(lines), 0) AS DOUBLE), 4) AS frac_lines_end_punct,
        |  round(len(list_filter(lines, x -> length(x) < 30))
        |    / CAST(nullif(len(lines), 0) AS DOUBLE), 4) AS frac_short_lines,
        |  round(len(list_filter(lines, x -> regexp_matches(x, '^\s*[-*•]')))
        |    / CAST(nullif(len(lines), 0) AS DOUBLE), 4) AS frac_bullet_lines,
        |  round(len(list_filter(lines, x -> regexp_matches(x, '(\.\.\.|…)$')))
        |    / CAST(nullif(len(lines), 0) AS DOUBLE), 4) AS frac_ellipsis_lines,
        |  e.word_entropy
        |FROM s LEFT JOIN (
        |  SELECT doc_id,
        |    round(greatest(0.0, log2(n) - CAST(sd AS DOUBLE) / n), 4)
        |      AS word_entropy
        |  FROM (
        |    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |      sum(CAST(round(c * log2(c), 6) AS DECIMAL(28,6))) AS sd
        |    FROM (
        |      SELECT doc_id, lower(x) AS w, count(*) AS c FROM (
        |        SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS x
        |        FROM documents)
        |      GROUP BY doc_id, lower(x))
        |    GROUP BY doc_id)) e USING (doc_id)""".stripMargin,

    "q_gopher_stats" ->
      """SELECT doc_id,
        |CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS words,
        |round(length(regexp_replace(text, '\s+', '', 'g')) /
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 4)
        |  AS mean_wlen
        |FROM documents""".stripMargin,

    "q_vocab" ->
      """SELECT word, cnt FROM (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(string_split_regex(text, '\s+')) AS word
        |    FROM documents)
        |  WHERE length(word) > 0 GROUP BY word)
        |WHERE cnt >= 5 ORDER BY cnt DESC, word LIMIT 100""".stripMargin,

    "q_word_entropy" ->
      """WITH w AS (
        |  SELECT doc_id, lower(x) AS w FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS x
        |    FROM documents)),
        |f AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |        sum(CAST(round(c * log2(c), 6) AS DECIMAL(28,6))) AS s
        |      FROM f GROUP BY doc_id)
        |SELECT doc_id,
        |  round(greatest(0.0, log2(n) - CAST(s AS DOUBLE) / n), 4)
        |    AS word_entropy
        |FROM a""".stripMargin,

    "q_boilerplate" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(w) >= 3 THEN
        |      list_transform(range(1, len(w) - 1),
        |        i -> array_to_string(w[i:i+2], ' '))
        |    ELSE [] END) AS shingle
        |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS w
        |        FROM documents)),
        |per AS (SELECT shingle, doc_id, count(*) AS c
        |        FROM sh GROUP BY shingle, doc_id)
        |SELECT shingle, occurrences, doc_freq FROM (
        |  SELECT shingle, CAST(sum(c) AS BIGINT) AS occurrences,
        |         CAST(count(*) AS BIGINT) AS doc_freq
        |  FROM per GROUP BY shingle)
        |WHERE occurrences >= 2
        |ORDER BY occurrences DESC, doc_freq DESC, shingle
        |LIMIT 100""".stripMargin,

    "q_dupgram_stats" ->
      """WITH sh AS (
        |  SELECT unnest(CASE WHEN len(w) >= 3 THEN
        |      list_transform(range(1, len(w) - 1),
        |        i -> array_to_string(w[i:i+2], ' '))
        |    ELSE [] END) AS shingle
        |  FROM (SELECT regexp_extract_all(text, '\S+') AS w
        |        FROM documents)),
        |cnt AS (SELECT shingle, count(*) AS c FROM sh GROUP BY shingle)
        |SELECT CAST(sum(c) AS BIGINT) AS total_occurrences,
        |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
        |    AS dup_occurrences,
        |  CAST(count(*) AS BIGINT) AS distinct_shingles,
        |  round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
        |    / sum(c), 6) AS dup_fraction
        |FROM cnt""".stripMargin,

    "q_line_dedup_doc" ->
      """WITH w AS (SELECT doc_id,
        |             string_split_regex(coalesce(text, ''), '\s+') AS words
        |           FROM documents),
        |l AS (SELECT doc_id,
        |        list_transform(range(0, CAST(ceil(len(words)/5.0) AS INT)),
        |          i -> array_to_string(words[i*5+1:i*5+5], ' ')) AS lines
        |      FROM w),
        |d AS (SELECT doc_id, list_concat(lines, lines[1:1]) AS lns FROM l)
        |SELECT doc_id, array_to_string(
        |  list_filter(lns, (x, i) -> x = '' OR list_position(lns, x) = i),
        |  chr(10)) AS deduped
        |FROM d""".stripMargin,

    "q_quantile_profile" ->
      """SELECT lang,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90,
        |  round(quantile_cont(n_chars, 0.99), 4) AS p99
        |FROM documents GROUP BY lang""".stripMargin,

    "q_compact" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",

    "q_skip_index" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id BETWEEN 1000 AND 3000""".stripMargin,

    "q_corpus_overlap" ->
      """WITH a AS (SELECT DISTINCT coalesce(text, chr(0)) AS t
        |           FROM documents WHERE doc_id % 3 <> 0),
        |b AS (SELECT DISTINCT coalesce(text, chr(0)) AS t
        |      FROM documents WHERE doc_id % 2 <> 0),
        |s AS (SELECT (SELECT count(*) FROM a) AS da,
        |             (SELECT count(*) FROM b) AS db,
        |             (SELECT count(*) FROM a JOIN b USING (t)) AS ov)
        |SELECT CAST(da AS BIGINT) AS distinct_a,
        |  CAST(db AS BIGINT) AS distinct_b,
        |  CAST(ov AS BIGINT) AS overlap,
        |  CASE WHEN da = 0 THEN NULL
        |       ELSE round(CAST(ov AS DOUBLE) / da, 6) END AS containment_a_in_b,
        |  CASE WHEN db = 0 THEN NULL
        |       ELSE round(CAST(ov AS DOUBLE) / db, 6) END AS containment_b_in_a,
        |  CASE WHEN da + db - ov = 0 THEN NULL
        |       ELSE round(CAST(ov AS DOUBLE) / (da + db - ov), 6) END AS jaccard
        |FROM s""".stripMargin,

    "q_corpus_profile" ->
      """SELECT lang, count(*) AS docs,
        |CAST(count(DISTINCT source) AS BIGINT) AS sources,
        |CAST(min(n_chars) AS BIGINT) AS min_chars,
        |CAST(max(n_chars) AS BIGINT) AS max_chars,
        |CAST(round(avg(CAST(n_chars AS DECIMAL(18,4))), 2) AS DOUBLE)
        |  AS avg_chars,
        |CAST(sum(CASE WHEN text IS NULL OR length(text) = 0
        |              THEN 1 ELSE 0 END) AS BIGINT) AS empty_texts
        |FROM documents GROUP BY lang""".stripMargin,

    "q_judge_score" ->
      """SELECT doc_id,
        |CAST((2*length(text) - length(translate(text,'e',''))) % 6 AS INT)
        |  AS judge_score
        |FROM documents""".stripMargin,

    "q_judge_repair" ->
      """SELECT doc_id,
        |CASE WHEN old >= 0 AND old <= 5 AND old = floor(old)
        |     THEN CAST(old AS INT)
        |     ELSE CAST((2*length(text) - length(translate(text,'e',''))) % 6
        |          AS INT) END AS judge_score
        |FROM (SELECT doc_id, text,
        |  CASE WHEN doc_id % 7 = 0 THEN -1.0
        |       WHEN doc_id % 11 = 0 THEN NULL
        |       WHEN doc_id % 13 = 0 THEN 9.0
        |       WHEN doc_id % 17 = 0 THEN 4.5
        |       ELSE CAST(doc_id % 6 AS DOUBLE) END AS old
        |  FROM documents)""".stripMargin,

    "q_judge_dist" ->
      """SELECT lang, judge_score, cnt, share FROM (
        |  SELECT lang, judge_score, count(*) AS cnt,
        |    round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY lang), 4)
        |      AS share
        |  FROM (SELECT lang,
        |          CAST((2*length(text) - length(translate(text,'e',''))) % 6
        |            AS INT) AS judge_score
        |        FROM documents)
        |  GROUP BY lang, judge_score)""".stripMargin,

    "q_grouped_split" ->
      """SELECT doc_id, source,
        |  CASE WHEN b < 800000 THEN 'train'
        |       WHEN b < 900000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |        ('0x' || substr(md5('graft|' || source), 1, 8))::BIGINT
        |          % 1000000 AS b
        |      FROM documents)""".stripMargin,

    "q_train_split" ->
      """SELECT doc_id,
        |row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id)
        |  <= (count(*) OVER (PARTITION BY lang) * 8) // 10 AS is_train
        |FROM documents""".stripMargin,

    // BM25 replay: the same tokenizer ([^a-z0-9']+ on lowercased text,
    // empties dropped), the same stats (N, avgdl, per-term df — all
    // integer-exact sums, so avgdl is bit-identical), and the same
    // per-doc expression tree with identical association and explicit
    // DOUBLE literals (0.5e0 etc. — DuckDB would otherwise do DECIMAL
    // arithmetic). Terms summed in the same fixed order; round(4)
    // absorbs the ≤1-ulp ln() divergence between libm and Math.log.
    "q_bm25_score" ->
      """WITH dd AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(coalesce(text, '')),
        |      '[^a-z0-9'']+'), x -> x <> '') AS tk
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, tk, len(tk) AS dl FROM dd
        |), s AS (
        |  SELECT count(*) AS n, avg(dl) AS avgdl,
        |    sum(CASE WHEN list_contains(tk, 'spark')  THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN list_contains(tk, 'join')   THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN list_contains(tk, 'vector') THEN 1 ELSE 0 END) AS df2,
        |    sum(CASE WHEN list_contains(tk, 'window') THEN 1 ELSE 0 END) AS df3
        |  FROM d
        |), f AS (
        |  SELECT doc_id, CAST(dl AS DOUBLE) AS dl,
        |    CAST(len(list_filter(tk, x -> x = 'spark'))  AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(tk, x -> x = 'join'))   AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(tk, x -> x = 'vector')) AS DOUBLE) AS tf2,
        |    CAST(len(list_filter(tk, x -> x = 'window')) AS DOUBLE) AS tf3
        |  FROM d
        |)
        |SELECT doc_id, round(
        |    ln(1e0 + (n - df0 + 0.5e0) / (df0 + 0.5e0)) * tf0 * (1.2e0 + 1e0)
        |      / (tf0 + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl))
        |  + ln(1e0 + (n - df1 + 0.5e0) / (df1 + 0.5e0)) * tf1 * (1.2e0 + 1e0)
        |      / (tf1 + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl))
        |  + ln(1e0 + (n - df2 + 0.5e0) / (df2 + 0.5e0)) * tf2 * (1.2e0 + 1e0)
        |      / (tf2 + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl))
        |  + ln(1e0 + (n - df3 + 0.5e0) / (df3 + 0.5e0)) * tf3 * (1.2e0 + 1e0)
        |      / (tf3 + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 4) AS bm25
        |FROM f, s""".stripMargin,

    // the textbook explode → tf → df-join → per-doc rank plan; the
    // Spark side reaches the same rows through a broadcast idf map
    "q_tfidf_keywords" ->
      """WITH dd AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(coalesce(text, '')),
        |      '[^a-z0-9'']+'), x -> x <> '') AS tk
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, u.term AS term, count(*) AS tf
        |  FROM dd, unnest(tk) AS u(term) GROUP BY doc_id, u.term
        |), dfr AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), n AS (
        |  SELECT count(*) AS n FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    tf.tf * (ln((n.n + 1e0) / (dfr.df + 1e0)) + 1e0) AS tfidf
        |  FROM tf JOIN dfr USING (term) CROSS JOIN n
        |  WHERE dfr.df >= 2
        |), ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY tfidf DESC, term) AS rnk
        |  FROM scored
        |)
        |SELECT doc_id, CAST(rnk AS INT) AS rank, term AS keyword,
        |  round(tfidf, 4) AS tfidf
        |FROM ranked WHERE rnk <= 3""".stripMargin,

    // the sink-free replay of the shard round-trip's checksum — all
    // integers, so agreement is exact or the sink corrupted a byte
    "q_token_shards" ->
      """WITH dd AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(coalesce(text, '')),
        |      '[^a-z0-9'']+'), x -> x <> '') AS tk
        |  FROM documents
        |)
        |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(list_sum(
        |    list_transform(tk, (x, i) -> i * least(length(x), 65535))),
        |    0) AS BIGINT) AS wsum
        |FROM dd""".stripMargin,

    // the Spark loop's recurrence unrolled 3 iterations; every value is
    // a BIGINT (// is DuckDB integer division), so the replay is exact
    "q_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT l_partkey % 500 AS src, l_suppkey % 500 AS dst
        |  FROM lineitem WHERE l_partkey % 500 <> l_suppkey % 500
        |), nodes AS (
        |  SELECT src AS node FROM e UNION SELECT dst AS node FROM e
        |), deg AS (
        |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
        |), nn AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM nodes
        |), r0 AS (
        |  SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes
        |), c1 AS (
        |  SELECT e.dst AS node, CAST(sum(r.rank // d.deg) AS BIGINT) AS inc
        |  FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst
        |), d1 AS (
        |  SELECT CAST(coalesce(sum(r.rank), 0) AS BIGINT) AS dsum
        |  FROM r0 r LEFT JOIN deg d ON r.node = d.src WHERE d.src IS NULL
        |), x1 AS (
        |  SELECT nodes.node, coalesce(c1.inc, 0) + (d1.dsum // nn.n) AS x
        |  FROM nodes LEFT JOIN c1 USING (node) CROSS JOIN d1 CROSS JOIN nn
        |), r1 AS (
        |  SELECT node,
        |    150000000 + (x // 100) * 85 + ((x % 100) * 85) // 100 AS rank
        |  FROM x1
        |), c2 AS (
        |  SELECT e.dst AS node, CAST(sum(r.rank // d.deg) AS BIGINT) AS inc
        |  FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst
        |), d2 AS (
        |  SELECT CAST(coalesce(sum(r.rank), 0) AS BIGINT) AS dsum
        |  FROM r1 r LEFT JOIN deg d ON r.node = d.src WHERE d.src IS NULL
        |), x2 AS (
        |  SELECT nodes.node, coalesce(c2.inc, 0) + (d2.dsum // nn.n) AS x
        |  FROM nodes LEFT JOIN c2 USING (node) CROSS JOIN d2 CROSS JOIN nn
        |), r2 AS (
        |  SELECT node,
        |    150000000 + (x // 100) * 85 + ((x % 100) * 85) // 100 AS rank
        |  FROM x2
        |), c3 AS (
        |  SELECT e.dst AS node, CAST(sum(r.rank // d.deg) AS BIGINT) AS inc
        |  FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst
        |), d3 AS (
        |  SELECT CAST(coalesce(sum(r.rank), 0) AS BIGINT) AS dsum
        |  FROM r2 r LEFT JOIN deg d ON r.node = d.src WHERE d.src IS NULL
        |), x3 AS (
        |  SELECT nodes.node, coalesce(c3.inc, 0) + (d3.dsum // nn.n) AS x
        |  FROM nodes LEFT JOIN c3 USING (node) CROSS JOIN d3 CROSS JOIN nn
        |)
        |SELECT node,
        |  150000000 + (x // 100) * 85 + ((x % 100) * 85) // 100 AS rank_ppb
        |FROM x3""".stripMargin
  )
}
