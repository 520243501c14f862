package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.TaskMetricsListener.inPhase
import graft.pipeline.{CorpusPipeline, Lineage, Metrics, Synth}
import graft.sources.CorpusIO

/** Production entry point — the spark-submit surface the reference's
  * `run_flow` / `findweb.py` CLI maps to
  * (/root/reference/datatrove/findweb.py:260-277,
  * /root/reference/datatrove/run_flow:1-25): read a page corpus, run the
  * full filter+scrub+dedup pipeline, write kept docs plus per-stage
  * exclusion audit dirs, and print one JSON metrics line.
  *
  * Usage (all flags optional):
  *   spark-submit --class graft.Run <jar> \
  *     --input <dir> [--format jsonl|parquet|csv|warc] | --synth <N> \
  *     --output <dir> [--out-format jsonl|parquet] \
  *     [--repartition <n>] [--lineage [--buckets-per-commit <k>]] \
  *     [--no-minhash] [--no-exact] \
  *     [--cc-driver-max-edges <m>] [--url-blocklist <file>] \
  *     [--extract-html] [--url-dedup] [--span-dedup <w>] \
  *     [--substring-dedup <w>] [--frequent-lines <maxDocs>[,<minWords>]] \
  *     [--dsir-target <dir> [--dsir-format <fmt>] --dsir-keep <k>] \
  *     [--bm25-terms <t1,t2,..> --bm25-keep <k>] \
  *     [--write-sigs <dir>] [--ref-sigs <dir>] [--task-metrics]
  *     [--shuffle-salt <s> [--sort-by-pos [<shards>]]] [--ppl-per-lang <n>]
  *     [--ppl-corpus <maxVocab>[,<minCount>[,<maxRows>]]]
  *     [--ppl-buckets <k> [--ppl-keep <b1,b2>]]
  *     [--semdedup <eps>,<nClusters>] [--keep-where <sql predicate>]
  *     [--pii-extended] [--signals]
  *     [--fix-mojibake] [--keep-latest] [--robots-respect] [--datasheet]
  *     [--robots-txt <dir> [--robots-agent <token>]]
  *     [--export-tokens <dir> [--export-vocab <k>] [--export-shards <n>]
  *      [--export-ordered]]
  *     [--compact-target <bytes>]
  *     [--skip-index <col>] [--bloom <c1,c2,..> [--bloom-ndv <n>]]
  *     [--out-compression <zstd|snappy|gzip|lz4|...>]
  *     [--minhash-verify <estJaccard>]
  *
  * `--url-dedup` drops canonical-URL duplicates (scheme/www/tracking-
  * param/… variants, [[graft.text.UrlNorm]]) BEFORE scoring — dropped
  * variants are not scored and do not appear in the stage accounting.
  * `--span-dedup <w>` / `--substring-dedup <w>` rewrite KEPT docs'
  * scrubbed text after document-level dedup: corpus-wide keep-first
  * removal of duplicated w-word tumbling spans / sliding windows
  * ([[graft.dedup.SpanDedup]]). `--frequent-lines <maxDocs>[,<minWords>]`
  * additionally removes template boilerplate lines (lines of >= minWords
  * words, default 3, appearing in more than maxDocs distinct kept docs)
  * from EVERY doc — the document-frequency rule, run after the
  * keep-first rewrites on the final text.
  * `--dsir-target <dir> --dsir-keep <k>` (must be used together) run
  * DSIR data selection as the FINAL stage: fit hashed-n-gram importance
  * weights of kept docs against the target corpus ([[graft.analytics
  * .Dsir]]), Gumbel-resample the k most target-like docs, and demote
  * the rest to `drop_stage = 8_dsir` — they land in the exclusion audit
  * like every other dropped doc.
  * `--bm25-terms <t1,t2,..> --bm25-keep <k>` (must be used together)
  * run BM25 query-targeted selection after DSIR: score kept docs'
  * scrubbed text against the seed terms ([[graft.analytics.Relevance]])
  * and keep the k most relevant (demoting the rest to `8_bm25`). The
  * top-k cut ranks via [[graft.analytics.Ranking.rankInGroup]] — the
  * range-partitioned rank primitive — NOT orderBy().limit(k), whose
  * global-limit stage would funnel k rows through one task at corpus
  * scale.
  * `--export-tokens <dir>` ships the kept corpus as GPT-style binary
  * training shards ([[graft.sources.TokenShards]]): a top
  * `--export-vocab` (default 60000) whitespace word vocabulary is
  * counted, broadcast, and each kept doc encodes to u16 token ids in
  * one narrow pass; `<dir>/vocab` holds the decode table and the run
  * JSON gains a `token_export` ledger. With `--export-ordered` (needs
  * `--shuffle-salt`) shards cut by EXACT shuffle_pos ranges instead of
  * content hash: the trainer streams part-0.bin, part-1.bin, … and
  * reads the training permutation directly — the binary twin of
  * `--sort-by-pos`.
  *
  * Incremental crawl updates: `--write-sigs <dir>` stores the kept
  * docs' MinHash signature VECTORS (computed on the scrubbed text;
  * bands derive from them on read, and `--minhash-verify` can
  * Jaccard-test incoming docs against them — legacy band-format
  * snapshots still gate, but only unverified);
  * `--ref-sigs <dir>` gates the NEXT run's incoming pages against such
  * a stored snapshot BEFORE scoring ([[graft.dedup.MinHash
  * .dedupAgainst]] — the prior corpus is never re-scanned). Gating
  * probes raw incoming text against scrubbed-text signatures: MinHash
  * banding tolerates the scrub's small edits by construction, which is
  * the operator's whole purpose. Like `--url-dedup`, gated docs are
  * dropped pre-score and absent from the stage accounting.
  *
  * `--repartition` is the explicit pre-stage repartitioning the north rule
  * names (size it to ~2-4 tasks per executor core on a real cluster).
  * `--lineage` runs the scoring stage through [[Lineage.runStage]]. By
  * default the whole run is one commit — the input is read exactly once,
  * and a kill before completion resumes from nothing; pass
  * `--buckets-per-commit <k>` to trade one input scan per k-bucket group
  * for resume-from-committed-buckets durability on long runs.
  */
object Run {

  /** Collision-proof synthesized row key for the join-back stages
    * (span/substring dedup, `--ref-sigs` gating, DSIR selection): urls
    * recur across crawl snapshots so these stages key on a hash of the
    * full row identity — and that hash must be wide enough that corpus-
    * scale birthday collisions cannot merge two docs' removal/selection
    * state (SpanDedup.scala documents exactly that cross-contamination
    * failure). A 64-bit key expects ~15-20 collisions at 25B rows; this
    * 128-bit md5 makes the expectation ~2^-61 at the same scale. Fields
    * are coalesced to "" and joined with a U+0001 separator so null vs
    * missing cannot shift field boundaries (concat_ws alone SKIPS
    * nulls, which would alias (null,"a") with ("a",null)).
    */
  private[graft] def rowKey128(cols: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.Column =
    md5(concat_ws("\u0001",
      cols.map(c => coalesce(c.cast("string"), lit(""))): _*))

  /** 64-bit sibling of [[rowKey128]] for consumers that need a LONG key
    * (the token-shard idx stores 8-byte sequence ids). Same null-safe
    * field framing; the narrower width is acceptable here because a
    * collision only aliases two idx entries’ labels — nothing joins
    * back on this key, so it cannot cross-contaminate rows. */
  private[graft] def rowKey64(cols: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.Column =
    xxhash64(concat_ws("\u0001",
      cols.map(c => coalesce(c.cast("string"), lit(""))): _*))

  private val BooleanFlags = Set("lineage", "no-minhash", "no-exact",
    "extract-html", "url-dedup", "task-metrics", "pii-extended", "signals",
    "fix-mojibake", "keep-latest", "robots-respect", "datasheet",
    "export-ordered")

  /** Every flag [[execute]] reads. [[parseArgs]] rejects any other, so a
    * misspelled or retired flag fails at argv time instead of running on
    * defaults.
    */
  private[graft] val KnownFlags: Set[String] = BooleanFlags ++ Set(
    "bloom", "bloom-ndv", "bm25-keep", "bm25-terms", "buckets-per-commit",
    "cc-driver-max-edges", "compact-target", "dsir-format", "dsir-keep",
    "dsir-target", "export-shards", "export-tokens", "export-vocab",
    "format", "frequent-lines", "input", "keep-where", "minhash-verify",
    "out-compression", "out-format", "output", "ppl-buckets", "ppl-corpus",
    "ppl-keep", "ppl-per-lang", "ref-sigs", "repartition", "robots-agent",
    "robots-txt", "semdedup", "shuffle-salt", "skip-index", "sort-by-pos",
    "span-dedup", "substring-dedup", "synth", "url-blocklist", "write-sigs")

  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val f = args(i)
      if (f.startsWith("--") && !KnownFlags(f.drop(2)))
        throw new IllegalArgumentException(s"unknown flag $f")
      f match {
        case _ if f.startsWith("--") && BooleanFlags(f.drop(2)) =>
          m(f.drop(2)) = "true"; i += 1
        // optional-value flag: bare `--sort-by-pos` must not swallow the
        // next `--flag` as its shard count
        case "--sort-by-pos"
            if i + 1 >= args.length || args(i + 1).startsWith("--") =>
          m(f.drop(2)) = "true"; i += 1
        case _ if f.startsWith("--") && i + 1 < args.length =>
          m(f.drop(2)) = args(i + 1); i += 2
        case other =>
          System.err.println(s"[run] ignoring arg: $other"); i += 1
      }
    }
    m.toMap
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    // validate argv BEFORE building a session: a misconfigured CLI must
    // fail instantly, not after allocating a cluster application
    if (!a.contains("output")) sys.error("--output <dir> is required")
    if (a.contains("dsir-target") != a.contains("dsir-keep"))
      sys.error("--dsir-target and --dsir-keep must be used together")
    if (a.contains("bm25-terms") != a.contains("bm25-keep"))
      sys.error("--bm25-terms and --bm25-keep must be used together")
    if (a.contains("compact-target")) {
      // toLongOption, not toLong: a malformed value ('2G') must die
      // naming the flag, never as a raw NumberFormatException
      if (!a("compact-target").toLongOption.exists(_ > 0))
        sys.error("--compact-target must be a positive byte count")
      if (a.get("out-format").exists(_ != "parquet"))
        sys.error("--compact-target requires --out-format parquet " +
          "(jsonl sinks are compacted by targetRowsPerFile at write time)")
    }
    val spark = SparkSession.builder()
      .appName("graft-corpus-pipeline")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(execute(spark, a))
    finally spark.stop()
  }

  /** The kept sink's output column list — a pure function of the flag
    * map, shared by the argv-time validation (a typo'd --skip-index /
    * --bloom column must die before any job launches) and the sink
    * projection, so the two can never drift.
    */
  private def keptOutputColumns(a: Map[String, String]): Seq[String] =
    Seq("url", "warc_ts", "lang", "lang_pred", "lang_prob",
      "drop_stage", "scrubbed_text", "n_tokens", "perplexity", "keep") ++
      (if (a.contains("ppl-buckets")) Seq("ppl_bucket") else Nil) ++
      (if (a.contains("shuffle-salt")) Seq("shuffle_pos") else Nil) ++
      (if (a.contains("signals"))
        graft.analytics.QualitySignals.signals(col("scrubbed_text"))
          .map(_._1) ++
          graft.analytics.TextAnalysis.readabilitySignals(
            col("scrubbed_text")).map(_._1)
      else Nil)

  /** The whole CLI composition against a CALLER-OWNED session (main's
    * body, minus session lifecycle) — returns the metrics JSON line it
    * would print. Split out so the composition runs under CI on the
    * shared test session instead of only via spark-submit.
    */
  def execute(spark: SparkSession, a: Map[String, String]): String = {
    val out = a.getOrElse("output",
      sys.error("--output <dir> is required"))
    // every stage persist, and the materialized scored frame, is released
    // on return: execute() may run repeatedly on one long-lived session
    // (CI, notebooks)
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      pins += df
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // argv cross-checks BEFORE any job launches: a run passing both
    // restamp policies must die here, not after --ppl-per-lang has
    // already trained a corpus-wide model
    require(!(a.contains("ppl-corpus") && a.contains("ppl-per-lang")),
      "--ppl-corpus and --ppl-per-lang are alternative perplexity " +
        "restamp policies — pass at most one")
    a.get("ppl-corpus").foreach { v =>
      val parts = v.split(",").map(_.trim)
      // positional range checks at ARGV time, matching trainDistributed's
      // own requires — a negative minCount (toLongOption accepts it) or
      // an Int-overflowing maxVocab must die here, not after the kept
      // corpus has been scored
      require(parts.length >= 1 && parts.length <= 3 &&
        parts(0).toIntOption.exists(_ >= 0) &&
        parts.lift(1).forall(_.toLongOption.exists(_ >= 1)) &&
        parts.lift(2).forall(_.toLongOption.exists(_ >= 1)),
        "--ppl-corpus takes <maxVocab>[,<minCount>[,<maxRows>]] " +
          s"(maxVocab >= 0 int, minCount/maxRows >= 1) — got '$v'")
    }
    // the same argv-time rule for every other mid-pipeline flag value:
    // these used to parse inside their phase — AFTER the eagerly-executed
    // dedup/scoring phases — so a malformed value wasted the entire
    // pre-sink compute before dying (review-caught regression of the
    // sink-shape rule below)
    a.get("bm25-keep").foreach { v =>
      require(v.toIntOption.exists(_ > 0),
        s"--bm25-keep must be a positive int, got '$v'")
    }
    a.get("semdedup").foreach { v =>
      val parts = v.split(",", -1).map(_.trim)
      require(parts.length == 2 &&
        parts(0).toDoubleOption.exists(e => e >= 0.0 && e <= 2.0) &&
        parts(1).toIntOption.exists(_ >= 1),
        "--semdedup expects <eps>,<nClusters> (cosine-distance eps in " +
          s"[0, 2], nClusters >= 1) — got '$v'")
    }
    a.get("export-vocab").foreach { v =>
      require(v.toIntOption.exists(k => k >= 1 && k <= 65535),
        s"--export-vocab must be in [1, 65535] for u16 shards, got '$v'")
    }
    a.get("export-shards").foreach { v =>
      require(v.toIntOption.exists(_ >= 1),
        s"--export-shards must be a positive int, got '$v'")
    }
    require(!(a.contains("skip-index") && a.contains("sort-by-pos")),
      "--skip-index and --sort-by-pos both choose the kept output's " +
        "file layout — pass at most one")
    require(!(a.contains("skip-index") &&
        a.get("out-format").exists(_ != "parquet")),
      "--skip-index writes a parquet row-group-pruned layout — it " +
        "requires --out-format parquet")
    require(!(a.contains("bloom") &&
        a.get("out-format").exists(_ != "parquet")),
      "--bloom writes parquet bloom filters — it requires " +
        "--out-format parquet")
    require(a.contains("bloom") || !a.contains("bloom-ndv"),
      "--bloom-ndv sizes the --bloom filters — pass --bloom <cols>")
    a.get("bloom-ndv").foreach { v =>
      require(v.toLongOption.exists(_ > 0),
        s"--bloom-ndv must be a positive count, got '$v'")
    }
    // sink-shape checks at ARGV time: the kept sink's column set and
    // codec are pure functions of flags. These requires used to sit at
    // sink construction — AFTER the eagerly-executed dedup/scoring
    // phases (MinHash.mark materializes its cluster map during pipeline
    // construction) — so a typo'd column or codec wasted the entire
    // pre-sink compute before dying.
    a.get("out-format").foreach { f =>
      require(f == "parquet" || f == "jsonl",
        s"--out-format must be parquet or jsonl, got '$f'")
    }
    val outColsArgv = keptOutputColumns(a)
    a.get("skip-index").foreach { c =>
      require(outColsArgv.contains(c),
        s"--skip-index column '$c' is not an output column " +
          s"(have: ${outColsArgv.mkString(", ")})")
    }
    a.get("bloom").foreach { csv =>
      csv.split(",").map(_.trim).filter(_.nonEmpty).foreach { c =>
        require(outColsArgv.contains(c),
          s"--bloom column '$c' is not an output column " +
            s"(have: ${outColsArgv.mkString(", ")})")
      }
    }
    // --out-compression <codec>: validated against the codec list of the
    // ACTUAL sink format, so a typo (or a parquet-only codec like zstd
    // on a jsonl sink) dies here. parquet codecs per ParquetOptions;
    // text-source (json/csv) codecs per Spark's HadoopCompressionCodec
    // enum — zstd/brotli are parquet-only, bzip2/deflate are text-only.
    a.get("out-compression").foreach { c =>
      val parquetOut = !a.get("out-format").exists(_ == "jsonl")
      val known =
        if (parquetOut)
          Set("zstd", "snappy", "gzip", "lz4", "uncompressed", "none")
        else
          Set("gzip", "bzip2", "deflate", "lz4", "snappy",
            "uncompressed", "none")
      require(known(c),
        s"--out-compression '$c' is not a supported " +
          s"${if (parquetOut) "parquet" else "jsonl"} codec " +
          s"(${known.toSeq.sorted.mkString(", ")})")
    }
    require(!(a.contains("sort-by-pos") && !a.contains("shuffle-salt")),
      "--sort-by-pos orders the kept output by shuffle_pos — it requires " +
        "--shuffle-salt")
    a.get("sort-by-pos").filter(_ != "true").foreach { v =>
      val n = try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"--sort-by-pos takes an optional shard count — got '$v'")
      }
      require(n > 0, s"--sort-by-pos shard count must be > 0: $v")
    }
    require(!(a.contains("export-ordered") &&
        !(a.contains("shuffle-salt") && a.contains("export-tokens"))),
      "--export-ordered shards the token export by shuffle_pos range — " +
        "it requires --export-tokens and --shuffle-salt")
    // parsed ONCE, at argv time (maxDocs long, minWords INT — an
    // Int-overflowing minWords must die here with the friendly message,
    // not as a NumberFormatException mid-phase)
    val freqLines: Option[(Long, Int)] = a.get("frequent-lines").map { v =>
      val parts = v.split(",", -1).map(_.trim)
      require(parts.length >= 1 && parts.length <= 2 &&
        parts(0).toLongOption.exists(_ >= 1) &&
        (parts.length == 1 || parts(1).toIntOption.exists(_ >= 1)),
        s"--frequent-lines expects <maxDocs>[,<minWords>] (positive " +
          s"integers) — got '$v'")
      (parts(0).toLong, if (parts.length == 2) parts(1).toInt else 3)
    }
    // a malformed --keep-where predicate must die at parse time, not
    // after the whole scoring pipeline has run up to its gate
    a.get("keep-where").foreach { p =>
      try spark.sessionState.sqlParser.parseExpression(p)
      catch { case e: Exception =>
        sys.error(s"--keep-where predicate does not parse: ${e.getMessage}")
      }
    }
    val taskMetrics =
      if (a.contains("task-metrics")) {
        val l = new TaskMetricsListener
        spark.sparkContext.addSparkListener(l)
        Some(l)
      } else None

    val t0 = System.nanoTime()

    // try/finally: a failed run (bad flag combination, unreadable input,
    // write error) must still release its persists on the caller's
    // long-lived session
    try {

    val raw: DataFrame = (a.get("input"), a.get("synth")) match {
      case (Some(dir), _) =>
        CorpusIO.read(spark, dir, a.get("format").map(f =>
          CorpusIO.sniffFormat(f)))
      case (None, Some(n)) => Synth.pages(spark, n.toLong)
      case _ => sys.error("one of --input <dir> or --synth <N> is required")
    }
    // Input-schema tolerance: real crawl dumps routinely lack the
    // OPTIONAL columns of the canonical page shape (declared lang, raw
    // html payload, fetch timestamp). Fill those with typed nulls —
    // loudly, on stderr, so a mis-pointed input is noticed — and fail
    // fast on the required ones (url, text): every downstream key
    // coalesces null fields by construction (rowKey128) and the
    // dedup orderings sort null warc_ts deterministically.
    val schemaed = {
      // case-INSENSITIVE presence check: Spark's default resolver is
      // case-insensitive, so a populated 'Lang'/'WARC_TS' column counts
      // as present — a case-sensitive check would make withColumn
      // REPLACE the real data with nulls (resolution is
      // case-insensitive even when the lookup that guarded it was not)
      val have = raw.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      Seq("url", "text").foreach(c => require(have(c),
        s"input must have a '$c' column (got: ${raw.columns.sorted.mkString(", ")})"))
      Seq("warc_ts" -> "timestamp", "html" -> "binary", "lang" -> "string")
        .foldLeft(raw) { case (d, (n, t)) =>
          if (have(n)) d
          else {
            System.err.println(
              s"[run] input lacks optional column '$n' — filling null $t")
            d.withColumn(n, lit(null).cast(t))
          }
        }
    }
    // --extract-html: P20 pre-stage for raw WARC ingestion — fill text
    // from the html payload where text is absent (pre-extracted text is
    // untouched; see CorpusPipeline.extractText)
    val extracted =
      if (a.contains("extract-html")) CorpusPipeline.extractText(schemaed)
      else schemaed
    // --fix-mojibake: repair cp1252-through-UTF-8 encoding damage BEFORE
    // any scoring or dedup — damaged and clean copies of a page must
    // collapse, and heuristics must see the intended characters. The
    // repair is conservative (byte-identical passthrough unless both
    // transcodings are exact), so clean corpora are unaffected.
    // The repair UDF only runs on rows the codegen'd signature detector
    // flags (damage is the rare case; clean rows stay in the fused
    // projection and never pay the UDF's transcode attempt).
    val demojibaked =
      if (a.contains("fix-mojibake"))
        extracted.withColumn("text",
          when(graft.text.Mojibake.signatureChars(col("text")) > 0,
            graft.text.Mojibake.fixUdf(col("text")))
            .otherwise(col("text")))
      else extracted
    // --keep-latest: crawl-revisit resolution — collapse each url to its
    // newest fetch before canonical-URL dedup and scoring, via the
    // narrow-agg + join-back form (keepLatestById over a synthesized
    // 128-bit row key, the --ref-sigs precedent): corpus-width rows
    // cross one AQE-planned exchange, nothing sorts. Byte-identical
    // full-duplicate rows share the row key and all survive here — the
    // exact-dedup stage downstream collapses them. The churn audit
    // column is dropped: downstream stages expect the Page shape.
    val latestKept =
      if (a.contains("keep-latest"))
        graft.dedup.ExactDedup.keepLatestById(
          demojibaked.withColumn("_kl_id",
            rowKey128(col("url"), col("warc_ts"), col("text"))),
          Seq("url"), "warc_ts", "_kl_id")
          .drop("_kl_id", "n_revisions")
      else demojibaked
    // --url-dedup: canonical-URL keep-first (earliest warc_ts wins) on
    // the raw crawl, before any scoring work is spent on URL variants
    val urlDeduped =
      if (a.contains("url-dedup"))
        graft.dedup.ExactDedup.urlDedup(latestKept, "url",
          Seq("warc_ts", "url"))
      else latestKept
    // --robots-txt <dir>: crawl-compliance pre-filter — parquet of
    // (host, content) robots.txt files; pages a host disallowed for our
    // agent are dropped before any scoring work, like --url-dedup's
    // silent pre-stage (the publisher asked not to be indexed at all,
    // so an audit sink of their content would defeat the point)
    val robotsGated = a.get("robots-txt") match {
      case Some(dir) =>
        // hostnames are case-insensitive (RFC 4343) — lower both join
        // sides so a mixed-case crawl url still meets its rules row.
        // Duplicate host rows (crawl snapshots, case variants collapsing
        // under lower()) go through markAllowedMerged: one row per host
        // after a grouped collect (no join fan-out) and a
        // MOST-RESTRICTIVE cross-file decision — flattening snapshots
        // into one rule set would let an Allow/Disallow disagreement
        // tie-break open.
        val rules = graft.text.RobotsTxt.rulesTable(
          spark.read.parquet(dir).withColumn("host", lower(col("host"))),
          "host", "content", agent = a.getOrElse("robots-agent", "*"))
        // robots rules key on the HOST, not the full authority: strip
        // userinfo, port, and any query/fragment a path-less url keeps
        // glued to the authority ('https://h?p=1' → 'h') — each variant
        // would otherwise miss its rules row and fail the compliance
        // gate silently OPEN. Bracketed IPv6 literals keep their
        // brackets.
        val authority = split_part(col("url"), lit("/"), lit(3))
        val hostExpr = lower(regexp_extract(authority,
          "^(?:[^@/\\[\\]]*@)?(\\[[^\\]]*\\]|[^:?#]*)", 1))
        graft.text.RobotsTxt.markAllowedMerged(urlDeduped, "url",
          hostExpr, rules, "host")
          .filter(col("allowed")).drop("allowed")
      case None => urlDeduped
    }
    // --minhash-verify <t>: parsed once here, consumed by BOTH dedup
    // gates — the in-corpus pass (PipelineConfig below) and the
    // --ref-sigs incremental gate, so the two run under the SAME
    // semantics (a verified run must not drop incoming docs on
    // unverified reference band collisions).
    val minhashVerify = a.get("minhash-verify").map { v =>
      // argv-time rule: a typo must die naming the flag, never as a
      // raw NumberFormatException
      val t = v.toDoubleOption.getOrElse(sys.error(
        s"--minhash-verify must be a number in (0, 1], got '$v'"))
      require(t > 0.0 && t <= 1.0,
        s"--minhash-verify must be in (0, 1], got '$v'")
      t
    }.getOrElse(0.0)
    // --ref-sigs: gate incoming pages against a prior run's stored
    // signature snapshot before any scoring work is spent on them.
    // markAgainst's join-back needs a UNIQUE id and urls recur across
    // crawl snapshots, so gate on a synthesized 128-bit full-row hash
    // (the same precaution the span rewrites take below). The snapshot
    // may be band-format (legacy) or vector-format (--write-sigs since
    // the verified-incremental change); verification requires vectors
    // and markAgainst enforces that loudly.
    val refGated = a.get("ref-sigs") match {
      case Some(dir) =>
        val rid = rowKey128(col("url"), col("warc_ts"), col("text"))
        // inPhase: the verified gate materializes its dup-id set during
        // pipeline construction (scoped vector cache), so without a
        // phase tag that work lands unattributed in --task-metrics
        inPhase(spark, "ref_gate") {
          // stored per-bucket reps (written by --write-sigs since the
          // verified-incremental change) spare the per-batch
          // reference-sized aggregation; older snapshots lack them and
          // fall back to deriving in-run
          val repsPath = new org.apache.hadoop.fs.Path(dir, "_band_reps/_SUCCESS")
          val fs = repsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val reps =
            if (minhashVerify > 0.0 && fs.exists(repsPath))
              Some(spark.read.parquet(s"$dir/_band_reps"))
            else None
          graft.dedup.MinHash.dedupAgainst(
            robotsGated.withColumn("_ref_id", rid), "_ref_id", "text",
            spark.read.parquet(dir),
            cfg = graft.dedup.MinHash.Config(verifyThreshold = minhashVerify),
            precomputedReps = reps)
            .drop("_ref_id")
        }
      case None => robotsGated
    }
    val pages = a.get("repartition") match {
      case Some(n) => refGated.repartition(n.toInt)
      case None => refGated
    }

    val cfg = graft.model.PipelineConfig(
      exactDedup = !a.contains("no-exact"),
      minhashDedup = !a.contains("no-minhash"),
      // --minhash-verify <t>: re-check band-collision candidates against
      // the full signature vectors; cluster only pairs with estimated
      // Jaccard >= t (off = reference's any-shared-band semantics).
      // Parsed above, shared with the --ref-sigs gate.
      minhashVerifyThreshold = minhashVerify,
      // --cc-driver-max-edges bounds the driver union-find fast path for
      // small drivers (cluster-deploy tunable)
      ccDriverMaxEdges = a.get("cc-driver-max-edges").map(_.toLong)
        .getOrElse(graft.dedup.MinHash.DriverCcMaxEdges),
      // --url-blocklist <file>: one registrable domain per line enables
      // the stage-0 URLFilter (off without the flag — reference parity)
      // any Spark-reachable URI (hdfs://, s3a://, file:, bare local path)
      urlBlocklist = a.get("url-blocklist")
        .map(p => graft.analytics.DomainStats.loadBlocklist(
          p, spark.sparkContext.hadoopConfiguration))
        .getOrElse(Set.empty),
      // --robots-respect: honor <meta name=robots> noindex/none under a
      // 0_robots_noindex audit stage (off = reference label parity)
      respectRobots = a.contains("robots-respect"),
      // --lineage also makes the DEDUP phase resumable: the dedup key
      // table and cluster map commit under the output dir, so a kill
      // during CC on a long run no longer redoes the corpus-wide
      // signature pass (the score stage already resumed via runStage)
      dedupStageDir =
        if (a.contains("lineage")) Some(s"$out/_dedup_stage") else None)

    val metrics = Metrics.pipelineMetrics(spark)

    val result =
      if (a.contains("lineage")) {
        // resumable scoring; dedup (a global operation) runs on the full
        // scored output. Default = one commit for the whole run (input
        // read exactly once); --buckets-per-commit N opts into N-bucket
        // durable commits at one input scan per group — finer crash
        // granularity for very long runs, explicit about the scan cost.
        val perCommit = a.get("buckets-per-commit").map(_.toInt).getOrElse(0)
        val staged = inPhase(spark, "score") {
          Lineage.runStage(pages, s"$out/_score_stage", "url",
            bucketsPerCommit = perCommit) {
            df => CorpusPipeline.score(df, cfg, metrics = Some(metrics))
          }
        }
        System.err.println(s"[run] lineage: recomputed " +
          s"${staged.recomputedBuckets.size} buckets, " +
          s"${staged.commits.size} total committed")
        // a committed dedup stage belongs to the score files it read
        if (staged.recomputedBuckets.nonEmpty) {
          val d = new org.apache.hadoop.fs.Path(s"$out/_dedup_stage")
          d.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(d, true)
        }
        // dedup's row key: the row's place in the committed score files
        // (bucket dir/file, row index), the same on a resume whatever
        // its file splits
        val scored = staged.output.withColumn("_row", struct(
          xxhash64(regexp_extract(col("_metadata.file_path"), "[^/]+/[^/]+$", 0)),
          col("_metadata.row_index")))
        inPhase(spark, "dedup")(CorpusPipeline.dedup(scored, cfg))
      } else {
        val scored = inPhase(spark, "score")(CorpusPipeline.score(pages, cfg,
          metrics = Some(metrics)).transform(SparkUtil.materialize))
        pins += scored
        inPhase(spark, "dedup")(CorpusPipeline.dedup(scored, cfg))
      }

    // --pii-extended: widen the scrub beyond reference parity (phones +
    // Luhn-validated payment cards — the Dolma-style PII surface) on
    // KEPT docs only; the default chain stays byte-identical to the
    // reference, which the E2E gate pins. Runs before the span rewrites
    // so spans dedup the final text.
    val piiExtended =
      if (!a.contains("pii-extended")) result
      else {
        val base = pin(result)
        val ext = udf((t: String) =>
          if (t == null) null
          else graft.filters.Pii.scrubPhones(graft.filters.Pii.scrubCards(t)))
        val recount = udf((t: String) =>
          graft.text.TextStats.countWords(if (t == null) "" else t))
        base.filter(col("keep"))
          .withColumn("scrubbed_text", ext(col("scrubbed_text")))
          .withColumn("n_tokens", recount(col("scrubbed_text")))
          .unionByName(base.filter(!col("keep")))
      }

    // span-level rewrites apply to KEPT docs only (dropped docs' text
    // must stay byte-identical for the exclusion audit), after document-
    // level dedup so surviving docs dedup against survivors
    val spanDeduped = inPhase(spark, "span_dedup") {
      (a.get("span-dedup"), a.get("substring-dedup"), freqLines) match {
      case (None, None, None) => piiExtended
      case (spanW, subW, freqSpec) =>
        // persist before the fan-out: the kept/dropped split plus each
        // rewrite's own multi-scan would otherwise recompute the whole
        // scoring+dedup stage up to ~5×
        val base = pin(piiExtended)
        // SpanDedup requires a UNIQUE row id; url recurs across crawl
        // snapshots (the exact-dedup module documents this), so key the
        // rewrite on a synthesized 128-bit full-row hash ([[rowKey128]]
        // — wide enough that birthday collisions cannot merge two docs'
        // removal arrays even at 10^10+ rows) — deterministic, and a
        // repeated url can no longer cross-contaminate removal arrays
        val rowKey = rowKey128(col("url"), col("warc_ts"),
          col("scrubbed_text"))
        val kept0 = base.filter(col("keep")).withColumn("_span_id", rowKey)
        val dropped = base.filter(!col("keep"))
        // each rewrite scans its input TWICE (occurrence table +
        // join-back side), so an intermediate that is itself a rewrite
        // output and feeds ANOTHER rewrite gets its own pin — without
        // it the upstream rewrite's UDF-explode + groupBy + join re-runs
        // multiplicatively (2x per chained stage). kept0 needs none: it
        // is a filter over the already-pinned base.
        val kept1 = spanW.map(w => graft.dedup.SpanDedup
          .removeDuplicateWordSpans(kept0, "_span_id", "scrubbed_text",
            w.toInt))
          .getOrElse(kept0)
        val kept1p =
          if (spanW.isDefined && (subW.isDefined || freqSpec.isDefined))
            pin(kept1)
          else kept1
        val kept2 = subW.map(w => graft.dedup.SpanDedup
          .removeDuplicateSubstrings(kept1p, "_span_id", "scrubbed_text",
            w.toInt))
          .getOrElse(kept1p)
        val kept2p =
          if (subW.isDefined && freqSpec.isDefined) pin(kept2) else kept2
        // document-frequency boilerplate cut runs LAST among the
        // rewrites, over the text the corpus actually ships
        val kept3 = freqSpec.map { case (maxDocs, minWords) =>
          graft.dedup.SpanDedup.removeFrequentLines(kept2p, "_span_id",
            "scrubbed_text", maxDocs, minWords)
        }.getOrElse(kept2p)
        // the rewrite changed the bytes → recount tokens so downstream
        // token-budget accounting sees the post-rewrite corpus (the
        // perplexity column deliberately keeps the score that made the
        // keep decision — it describes the decision, not the final text)
        val recount = udf((t: String) =>
          graft.text.TextStats.countWords(if (t == null) "" else t))
        kept3.drop("_span_id")
          .withColumn("n_tokens", recount(col("scrubbed_text")))
          .unionByName(dropped)
    } }

    // --dsir-target + --dsir-keep: final data-selection stage — keep the
    // k most target-corpus-like docs, demote the rest to 8_dsir so the
    // exclusion audit accounts for them like any other drop
    val dsirApplied = inPhase(spark, "dsir") {
      (a.get("dsir-target"), a.get("dsir-keep")) match {
      case (None, None) => spanDeduped
      case (Some(dirT), Some(kStr)) =>
        val target = CorpusIO.read(spark, dirT,
          a.get("dsir-format").map(f => CorpusIO.sniffFormat(f)))
        val base = pin(spanDeduped)
        val keyed = base.filter(col("keep")).withColumn("_dsir_id",
          rowKey128(col("url"), col("warc_ts"), col("scrubbed_text")))
        val asText = keyed.select(col("_dsir_id"),
          col("scrubbed_text").as("text"))
        val model = graft.analytics.Dsir.fit(
          target.select("text"), asText.select("text"), "text")
        // dropDuplicates: byte-identical (url, warc_ts, scrubbed_text)
        // rows share one _dsir_id (possible only with --no-exact
        // --no-minhash); without it the join-back would multiply rows.
        // Such literal duplicates count as ONE selection unit.
        val chosen = graft.analytics.Dsir.resample(
            asText, "text", model, kStr.toInt, Seq("_dsir_id"))
          .select(col("_dsir_id"), lit(true).as("_dsir_pick"))
          .dropDuplicates("_dsir_id")
        val marked = keyed
          .join(chosen, Seq("_dsir_id"), "left")
          .withColumn("keep", col("_dsir_pick").isNotNull)
          .withColumn("drop_stage",
            when(col("_dsir_pick").isNotNull, col("drop_stage"))
              .otherwise(lit("8_dsir")))
          .drop("_dsir_id", "_dsir_pick")
        marked.unionByName(base.filter(!col("keep")))
      case _ =>
        sys.error("--dsir-target and --dsir-keep must be used together")
    } }

    // --bm25-terms + --bm25-keep: BM25 query-targeted selection — keep
    // the k docs most relevant to the seed terms, demote the rest to
    // 8_bm25. Selection unit mirrors DSIR: byte-identical
    // (url, warc_ts, scrubbed_text) rows share one id and one verdict.
    // The top-k cut goes through Ranking.rankInGroup (range-partitioned
    // global rank), not orderBy().limit(k): GlobalLimit would pull all
    // k winners through a single task, which at production k (millions)
    // is a driver-shaped bottleneck.
    val bm25Applied = inPhase(spark, "bm25") {
      (a.get("bm25-terms"), a.get("bm25-keep")) match {
      case (None, None) => dsirApplied
      case (Some(termsCsv), Some(kStr)) =>
        val terms = termsCsv.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
        val k = kStr.toInt
        require(k > 0, s"--bm25-keep must be positive, got $k")
        val base = pin(dsirApplied)
        val keyed = base.filter(col("keep")).withColumn("_bm25_id",
          rowKey128(col("url"), col("warc_ts"), col("scrubbed_text")))
        val scored = graft.analytics.Relevance.bm25(
          keyed.select(col("_bm25_id"), col("scrubbed_text").as("text"))
            .dropDuplicates("_bm25_id"),
          "_bm25_id", "text", terms)
          .withColumn("_neg_bm25", -col("bm25"))
        val chosen = graft.analytics.Ranking.rankInGroup(
            scored, Nil, Seq("_neg_bm25", "_bm25_id"), "_bm25_rank")
          .filter(col("_bm25_rank") <= k)
          .select(col("_bm25_id"), lit(true).as("_bm25_pick"))
        val marked = keyed
          .join(chosen, Seq("_bm25_id"), "left")
          .withColumn("keep", col("_bm25_pick").isNotNull)
          .withColumn("drop_stage",
            when(col("_bm25_pick").isNotNull, col("drop_stage"))
              .otherwise(lit("8_bm25")))
          .drop("_bm25_id", "_bm25_pick")
        marked.unionByName(base.filter(!col("keep")))
      case _ =>
        sys.error("--bm25-terms and --bm25-keep must be used together")
    } }

    val outFormat = a.getOrElse("out-format", "parquet") match {
      case "jsonl" => CorpusIO.Jsonl
      case _ => CorpusIO.Parquet
    }
    // --ppl-per-lang <n>: CCNet own-language re-scoring — train one KN
    // model per PREDICTED language from a deterministic ≤n-doc/language
    // sample of the kept corpus (Wenzek et al. §3.3 score each doc with
    // its own language's KenLM; the kept corpus is this run's stand-in
    // for their clean per-language training text), then restamp kept
    // docs' perplexity with the own-language score so the bucket stage
    // below tiles fluency WITHIN a language rather than language
    // frequency. Languages too rare to train fall back to the global
    // LM inside the scorer. Dropped docs keep the score that made the
    // drop decision — the audit stays truthful.
    val perLangScored = inPhase(spark, "ppl_per_lang") {
      a.get("ppl-per-lang") match {
      case None => bm25Applied
      case Some(nStr) =>
        val base = pin(bm25Applied)
        val kept = base.filter(col("keep"))
        val models = graft.filters.KneserNeyLM.trainPerLang(
          kept, "scrubbed_text", "lang_pred", perLangSampleN = nStr.toInt)
        val bc = spark.sparkContext.broadcast(
          (models, CorpusPipeline.defaultModels.lm))
        val f = udf(graft.filters.KneserNeyLM.perplexityOwnLangFn(bc))
        kept
          .withColumn("perplexity", f(col("lang_pred"), col("scrubbed_text")))
          .unionByName(base.filter(!col("keep")))
    } }

    // --ppl-corpus <maxVocab>: full-corpus KN re-scoring — train ONE
    // model on EVERY kept token (trainDistributed's word-count-shaped
    // aggregation; maxVocab folds the unigram tail to <unk>, 0 =
    // unbounded) and restamp kept docs' perplexity with it. The
    // alternative restamp policy to --ppl-per-lang: per-language models
    // measure fluency within a language, the corpus model measures
    // typicality against the whole kept distribution — choose one.
    val corpusScored = inPhase(spark, "ppl_corpus") {
      a.get("ppl-corpus") match {
      case None => perLangScored
      case Some(vStr) =>
        // <maxVocab>[,<minCount>[,<maxCollectedRows>]] — all three of
        // trainDistributed's scale knobs reach the CLI, because the loud
        // collected-rows guard's documented remedies ("raise minCount…
        // or raise the cap") must be applicable without a code change
        val usage = "--ppl-corpus takes <maxVocab>[,<minCount>[,<maxRows>]]" +
          s" (numeric) — got '$vStr'"
        val parts = vStr.split(",").map(_.trim)
        require(parts.length >= 1 && parts.length <= 3, usage)
        def num(i: Int, default: Long): Long = parts.lift(i) match {
          case None => default
          case Some(p) => p.toLongOption.getOrElse(sys.error(usage))
        }
        val base = pin(perLangScored)
        val kept = base.filter(col("keep"))
        val lm = graft.filters.KneserNeyLM.trainDistributed(
          kept, "scrubbed_text", maxVocab = num(0, 0L).toInt,
          minCount = num(1, 1L), maxCollectedRows = num(2, 4000000L))
        val bc = spark.sparkContext.broadcast(lm)
        val f = udf(graft.filters.KneserNeyLM.perplexityFn(bc))
        kept.withColumn("perplexity", f(col("scrubbed_text")))
          .unionByName(base.filter(!col("keep")))
    } }

    // --ppl-buckets <k>: stamp kept docs with their CCNet-style
    // per-language perplexity tile ([[graft.filters.CcNet]] — `head` is
    // the most-fluent third for k=3), grouped by the PREDICTED language
    // (the lang the perplexity models a doc against, as in CCNet).
    // Dropped docs carry a null bucket. --ppl-keep <b1,b2> additionally
    // DROPS kept docs outside the listed buckets (the actual CCNet
    // recipe keeps head+middle) under drop_stage 9_ppl_bucket; it runs
    // BEFORE the shuffle stage so shuffle_pos stays a gapless
    // permutation of the docs that actually ship.
    val bucketed = inPhase(spark, "ppl_buckets") {
      a.get("ppl-buckets") match {
      case None =>
        require(!a.contains("ppl-keep"),
          "--ppl-keep requires --ppl-buckets")
        corpusScored
      case Some(kStr) =>
        val base = pin(corpusScored)
        // tiebreak on the synthesized 128-bit row key, not the raw text:
        // the rank's range shuffle sorts on its order columns, and a
        // 32-char hex key moves through that exchange where the full
        // document text must not
        val keptB = graft.filters.CcNet.buckets(
            base.filter(col("keep")).withColumn("_ppl_tie",
              rowKey128(col("url"), col("warc_ts"), col("scrubbed_text"))),
            "perplexity", "lang_pred", Seq("_ppl_tie"), k = kStr.toInt)
          .drop("_ppl_tie")
        val gated = a.get("ppl-keep") match {
          case None => keptB
          case Some(keepList) =>
            val keepSet = keepList.split(",").map(_.trim).toSet
            keptB
              .withColumn("keep", col("ppl_bucket").isin(keepSet.toSeq: _*))
              .withColumn("drop_stage", when(col("keep"), col("drop_stage"))
                .otherwise(lit("9_ppl_bucket")))
        }
        gated.unionByName(base.filter(!col("keep"))
          .withColumn("ppl_bucket", lit(null).cast("string")))
    } }
    // --semdedup <eps>,<nClusters>: SemDeDup semantic near-dup removal
    // on KEPT docs (Abbas et al. 2023 — paraphrased/re-expressed
    // duplicates that MinHash's lexical shingles cannot see). The
    // embedding is the langid model's deterministic hashed char-n-gram
    // projection over the FINAL scrubbed text ([[graft.filters
    // .FastTextModel.embed]]) — zero new model state, broadcast once; a
    // corpus with a learned embedding column feeds SemDedup.mark
    // directly instead. Non-representatives demote to 10_semdedup and
    // land in the exclusion audit like every other drop; the stage runs
    // BEFORE --shuffle-salt so shuffle_pos stays a gapless permutation
    // of the docs that actually ship. Under --lineage the O(corpus)
    // mark table commits under `_semdedup_stage` (the same
    // _SUCCESS-gated contract as the MinHash signature/cluster
    // commits): a kill after the quadratic cell pass resumes from the
    // stored marks instead of re-embedding the corpus.
    val semDeduped = inPhase(spark, "semdedup") {
      a.get("semdedup") match {
      case None => bucketed
      case Some(spec) =>
        val parts = spec.split(",", -1)
        require(parts.length == 2,
          s"--semdedup expects <eps>,<nClusters> (got '$spec')")
        val (eps, nClusters) = (parts(0).toDouble, parts(1).toInt)
        val base = pin(bucketed)
        val bcLang = spark.sparkContext.broadcast(
          CorpusPipeline.defaultModels.lang)
        val embUdf = udf(new (String => Array[Double]) with Serializable {
          @transient private lazy val m = bcLang.value
          def apply(t: String): Array[Double] = m.embed(t)
        })
        val keyed = base.filter(col("keep")).withColumn("_sem_id",
          rowKey128(col("url"), col("warc_ts"), col("scrubbed_text")))
        def computeMarks(): DataFrame = graft.analytics.SemDedup.mark(
            keyed.select(col("_sem_id"),
              embUdf(col("scrubbed_text")).as("_emb")),
            "_sem_id", "_emb", eps, nClusters)
          .select(col("_sem_id"), col("keep_sem"))
          // byte-identical (url, warc_ts, scrubbed_text) rows (possible
          // only with --no-exact --no-minhash) share one _sem_id and an
          // identical keep_sem decision; collapse so the join-back
          // cannot multiply rows — the DSIR stage's precaution
          .dropDuplicates("_sem_id")
        // commit under a non-underscore LEAF (like _dedup_stage/
        // signatures): Spark's file index silently ignores a read ROOT
        // whose name starts with '_' — reading `_semdedup_stage`
        // directly returns an empty frame and every semantic drop would
        // vanish (RunSpec pins the planted-dup drop through the commit)
        val marks =
          if (a.contains("lineage"))
            graft.dedup.MinHash.committed(
              spark, s"$out/_semdedup_stage/marks")(computeMarks())
          else computeMarks()
        val marked = keyed.join(marks, Seq("_sem_id"), "left")
          .withColumn("keep", coalesce(col("keep_sem"), lit(true)))
          .withColumn("drop_stage",
            when(col("keep"), col("drop_stage"))
              .otherwise(lit("10_semdedup")))
          .drop("_sem_id", "keep_sem")
        marked.unionByName(base.filter(!col("keep")))
    } }
    // --shuffle-salt <s>: stamp kept docs with their training-order
    // position (salted-md5 permutation, [[graft.analytics.Sampling
    // .deterministicShuffle]]) — the corpus ships ready to shard-and-read
    // in shuffle_pos order; a different salt per epoch reshuffles
    // reproducibly. Dropped docs carry a null position.
    // --keep-where <sql predicate>: the generic re-threshold gate.
    // "Publish signals, not decisions" becomes actionable IN-RUN: demote
    // kept docs failing a user predicate over the full column surface —
    // base pipeline columns plus the 21 signal columns (14 quality + 7
    // readability), computed transiently for the evaluation whether or
    // not --signals publishes them. Runs LAST among the gates and
    // before the shuffle so positions stay gapless. A null predicate
    // result demotes: a row the predicate cannot affirm is not kept
    // (the same null discipline as every filter stage).
    val customGated = inPhase(spark, "keep_where") {
      a.get("keep-where") match {
      case None => semDeduped
      case Some(pred) =>
        val base = pin(semDeduped)
        val kept = base.filter(col("keep"))
        val sigCols =
          graft.analytics.QualitySignals.signals(col("scrubbed_text")) ++
            graft.analytics.TextAnalysis
              .readabilitySignals(col("scrubbed_text"))
        // compute ONLY the signal columns the predicate references —
        // stamping all 21 (including the O(distinct × words) hapax scan)
        // for a predicate that reads one of them would tax every kept
        // row at corpus scale for nothing
        val refs = spark.sessionState.sqlParser.parseExpression(pred)
          .collect {
            case u: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute =>
              u.name.toLowerCase(java.util.Locale.ROOT)
          }.toSet
        val existing = kept.columns.toSet
        val added = sigCols.filterNot(c => existing(c._1))
          .filter(c => refs(c._1))
        val surface = added.foldLeft(kept) {
          case (d, (n, c)) => d.withColumn(n, c)
        }
        val gated = surface
          .withColumn("keep",
            coalesce(expr(pred).cast("boolean"), lit(false)))
          .withColumn("drop_stage", when(col("keep"), col("drop_stage"))
            .otherwise(lit("11_keep_where")))
          .drop(added.map(_._1): _*)
        gated.unionByName(base.filter(!col("keep")))
    } }
    val shuffled = inPhase(spark, "shuffle") {
      a.get("shuffle-salt") match {
      case None => customGated
      case Some(saltStr) =>
        // the order key is STAMPED INTO THE CACHE: computing it during
        // the inherent materializing pass lets the shuffle's offset-
        // histogram job read a pruned 32-char column instead of
        // re-hashing (url, warc_ts, scrubbed_text) — i.e. the full
        // corpus text — a second time
        val shufCols = Seq("url", "warc_ts", "scrubbed_text")
        val base = pin(customGated.withColumn("_shuf_key",
          graft.analytics.Sampling.shuffleKey(shufCols, saltStr)))
        val keptSh = graft.analytics.Sampling.deterministicShuffle(
          base.filter(col("keep")), shufCols, salt = saltStr,
          precomputedKey = Some("_shuf_key")).drop("_shuf_key")
        keptSh.unionByName(base.filter(!col("keep")).drop("_shuf_key")
          .withColumn("shuffle_pos", lit(null).cast("long")))
    } }
    // --signals: publish the RedPajama-v2-style quality-signal vector as
    // output columns (signals-not-decisions — downstream consumers can
    // re-threshold without re-reading the corpus). One narrow zero-UDF
    // projection over the shipped text; dropped docs (null scrubbed
    // text) carry null signals.
    val readability =
      graft.analytics.TextAnalysis.readabilitySignals(col("scrubbed_text"))
    val signaled =
      if (a.contains("signals"))
        readability.foldLeft(graft.analytics.QualitySignals
            .withSignals(shuffled, "scrubbed_text")) {
          case (d, (n, c)) => d.withColumn(n, c)
        }
      else shuffled
    val outCols = keptOutputColumns(a) // validated against flags at argv
    val persisted = pin(signaled)
    // --sort-by-pos: ship the kept corpus in CONTIGUOUS training-order
    // files — range-repartition + sort on shuffle_pos, so file i holds
    // positions strictly before file i+1 and a trainer streams the
    // permutation without its own sort. One range shuffle of the kept
    // side, inherent to the deliverable; the removed audit side keeps
    // its drop_stage layout. The optional value is an explicit shard
    // count (user-pinned partitioning — AQE won't re-coalesce it);
    // `true` lets spark.sql.shuffle.partitions + AQE size the files.
    val keptTransform: DataFrame => DataFrame =
      (a.get("sort-by-pos"), a.get("skip-index")) match {
        case (None, None) => identity
        case (Some("true"), _) =>
          d => d.repartitionByRange(col("shuffle_pos"))
            .sortWithinPartitions("shuffle_pos")
        case (Some(v), _) => // numeric form validated at argv time above
          d => d.repartitionByRange(v.toInt, col("shuffle_pos"))
            .sortWithinPartitions("shuffle_pos")
        // --skip-index <col>: data-skipping layout for the kept corpus —
        // range-sorted on a LOOKUP key (url, lang_pred, …) so downstream
        // point/range reads prune row groups from footer min/max alone
        // (mutually exclusive with --sort-by-pos; both exclusivity and
        // column membership validated at argv time)
        case (None, Some(c)) =>
          d => d.repartitionByRange(col(c)).sortWithinPartitions(c)
      }
    // --bloom <cols>: parquet bloom filters on the kept sink's named
    // output columns — point lookups on unsorted columns (url probes,
    // doc-hash membership) reject non-matching row groups from the
    // footer; composes with either kept layout
    val keptOptions: Map[String, String] = a.get("bloom") match {
      case None => Map.empty
      case Some(csv) =>
        val ndv = a.getOrElse("bloom-ndv", (1L << 20).toString).toLong
        // column membership validated at argv time
        val cols = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        CorpusIO.bloomOptions(cols, ndv)
    }
    // --out-compression <codec>: storage codec for BOTH sinks (kept +
    // removed audit). At 100-TB corpus scale zstd typically halves
    // parquet text bytes vs the snappy default for ~equal scan speed —
    // a storage/egress knob. Codec-vs-format compatibility is validated
    // at argv time, before any job launches.
    val outCodec = a.get("out-compression")
    inPhase(spark, "sink") {
      CorpusIO.writeWithExclusions(
        persisted.select(outCols.map(col): _*), out, outFormat,
        keptTransform, keptOptions, outCodec)
      // --write-sigs: store kept docs' signature snapshot for the next
      // run's --ref-sigs gate. VECTOR format (id, sig — numHashes longs
      // per doc, ~the same bytes as the old bands×(id, 2 longs) rows):
      // strictly more informative, since bands derive from it on read
      // (MinHash.bandsFromVectors) and a later verified run can
      // Jaccard-test against it; the band format cannot be verified.
      a.get("write-sigs").foreach { dir =>
        graft.dedup.MinHash.sigVectors(
            persisted.filter(col("keep")), "url", "scrubbed_text")
          .write.mode("overwrite").parquet(dir)
        // snapshot-static verification reps, stored under an
        // underscore leaf (invisible to the vector read): computed ONCE
        // here from the just-written parquet instead of re-aggregating
        // the reference-sized band table on every future incoming batch
        graft.dedup.MinHash.bandReps(spark.read.parquet(dir))
          .write.mode("overwrite").parquet(s"$dir/_band_reps")
      }
      // --datasheet: ship the release-audit dataset card next to the
      // corpus (Gebru et al. 2021) — per-language composition of the
      // KEPT set as one decimal-accumulated aggregation (shuffle-order-
      // independent numbers, same discipline as q_corpus_datasheet).
      // O(#langs) rows collect; the card is a driver-written JSON file.
      if (a.contains("datasheet")) {
        val card = persisted.filter(col("keep"))
          .groupBy(coalesce(col("lang_pred"), lit("und")).as("lang"))
          .agg(
            count(lit(1)).as("docs"),
            sum(col("n_tokens").cast("long")).as("tokens"),
            round(avg(col("perplexity").cast("decimal(18,6)")), 2)
              .cast("double").as("avg_perplexity"))
          .orderBy(col("docs").desc, col("lang"))
          .collect()
        val total = card.map(_.getLong(1)).sum.toDouble
        val rows = card.map { r =>
          // Locale.ROOT, not the f-interpolator: String.format under a
          // comma-decimal default locale would emit "share":0,1234 —
          // malformed JSON
          val share = String.format(java.util.Locale.ROOT, "%.4f",
            Double.box(r.getLong(1) / math.max(total, 1.0)))
          s"""{"lang":"${r.getString(0)}","docs":${r.getLong(1)},""" +
            s""""share":$share,"tokens":${r.getLong(2)},""" +
            s""""avg_perplexity":${r.get(3)}}"""
        }
        // Hadoop FS, not java.nio: `out` may live on HDFS/S3 on a real
        // cluster, and the card belongs next to the corpus it describes
        val cardPath = new org.apache.hadoop.fs.Path(out, "datasheet.json")
        val fs = cardPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val os = fs.create(cardPath, true)
        try os.write(rows.mkString("[\n", ",\n", "\n]")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally os.close()
      }
    }

    // --export-tokens <dir>: the pipeline's last mile — ship the kept
    // corpus as GPT-style binary training shards (sources.TokenShards).
    // A whitespace word vocabulary over the SHIPPED text (top
    // --export-vocab words by count, default 60000; id 0 = UNK, so the
    // u16 dtype holds any vocab ≤ 65535) is built in one
    // map-side-reducible count job, broadcast as an id map, and each
    // kept doc encodes in one narrow pass. seq_id is the content hash
    // of (url, warc_ts, scrubbed_text) — reproducible across runs; a
    // corpus that shipped byte-identical pages (only possible with the
    // dedup stages disabled) repeats ids in the idx, faithfully. The
    // vocab table lands at <dir>/vocab as (token_id, word, cnt) parquet
    // for the decode side.
    var exportJson = ""
    inPhase(spark, "export_tokens") { a.get("export-tokens").foreach { dir =>
      val vocabK = a.get("export-vocab").map(_.toInt).getOrElse(60000)
      require(vocabK >= 1 && vocabK <= 65535,
        s"--export-vocab must be in [1, 65535] for u16 shards, got $vocabK")
      val nShards = a.get("export-shards").map(_.toInt).getOrElse(64)
      val keptDocs = persisted.filter(col("keep"))
      val vocabRows = graft.analytics.TextAnalysis.vocabulary(
        keptDocs, "scrubbed_text", minCount = 1L, topK = vocabK).collect()
      val ids = vocabRows.iterator.zipWithIndex
        .map { case (r, i) => r.getString(0) -> (i + 1) }.toMap
      val bcIds = spark.sparkContext.broadcast(ids)
      val encUdf = udf((t: String) =>
        if (t == null) Array.empty[Int]
        else t.split("\\s+").iterator.filter(_.nonEmpty)
          .map(w => bcIds.value.getOrElse(w, 0)).toArray)
      // --export-ordered: shard by exact shuffle_pos ranges instead of
      // content hash — streaming part-0.bin, part-1.bin, … IS the
      // training permutation (validated gapless inside TokenShards)
      val ordered = a.contains("export-ordered")
      val exportCols = Seq(
        rowKey64(col("url"), col("warc_ts"), col("scrubbed_text"))
          .as("seq_id"),
        encUdf(col("scrubbed_text")).as("tokens")) ++
        (if (ordered) Seq(col("shuffle_pos")) else Nil)
      val stats = graft.sources.TokenShards.write(
        keptDocs.select(exportCols: _*),
        "seq_id", "tokens", dir, "u16", nShards,
        orderCol = if (ordered) Some("shuffle_pos") else None)
      spark.createDataFrame(vocabRows.toSeq.zipWithIndex.map { case (r, i) =>
        (i + 1, r.getString(0), r.getLong(1))
      }).toDF("token_id", "word", "cnt")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/vocab")
      exportJson = s""","token_export":{"sequences":${
        stats.map(_.sequences).sum},"tokens":${
        stats.map(_.tokens).sum},"shards":${stats.length},"vocab":${ids.size}}"""
    } }

    // --compact-target <bytes>: post-sink small-file maintenance — rewrite
    // the kept output into target-sized parquet files (file count derived
    // from actual on-disk bytes), then swap directories. The rename swap
    // is atomic on posix/HDFS; object-store deployments should orchestrate
    // a copy-then-flip around CorpusIO.compactParquet instead.
    var compactJson = ""
    a.get("compact-target").foreach { tStr =>
      inPhase(spark, "compact") {
        val keptDir = s"$out/kept"
        val tmpDir = s"$out/_kept_compact"
        val oldDir = s"$out/_kept_precompact"
        // with --sort-by-pos or --skip-index the kept layout IS a
        // contract (training order / row-group pruning key) — compact
        // order-preservingly (range + in-file sort) instead of
        // round-robin, which would silently scramble it; likewise the
        // --bloom footers and --out-compression codec are file
        // properties the rewrite must re-establish or it would
        // silently strip them
        val n = CorpusIO.compactParquet(spark, keptDir, tmpDir, tStr.toLong,
          orderBy = if (a.contains("sort-by-pos")) Some("shuffle_pos")
                    else a.get("skip-index"),
          writerOptions =
            keptOptions ++ outCodec.map("compression" -> _))
        val fs = new org.apache.hadoop.fs.Path(out)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        def p(s: String) = new org.apache.hadoop.fs.Path(s)
        // swap order never leaves the run without a kept/ recoverable in
        // ONE rename: aside old, install new, only then delete the old.
        // A crash between the renames strands data only in underscore
        // dirs Spark readers skip — but the original survives intact at
        // _kept_precompact; delete-then-rename would have destroyed it
        fs.delete(p(oldDir), true) // stale leftover from a crashed run
        require(fs.rename(p(keptDir), p(oldDir)),
          s"compact: rename $keptDir -> $oldDir failed; output unchanged")
        if (!fs.rename(p(tmpDir), p(keptDir))) {
          fs.rename(p(oldDir), p(keptDir)) // roll back, keep the original
          sys.error(s"compact: rename $tmpDir -> $keptDir failed; " +
            "original kept/ restored")
        }
        fs.delete(p(oldDir), true)
        compactJson = s""","compact_files":$n"""
      }
    }

    val byStage = inPhase(spark, "accounting") {
      persisted.groupBy("drop_stage").count()
        .collect().map(r => Option(r.getString(0)).getOrElse("kept") -> r.getLong(1))
        .sortBy(_._1)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val kept = byStage.collectFirst { case ("kept", n) => n }.getOrElse(0L)
    val total = byStage.map(_._2).sum
    val stagesJson = byStage.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val tmJson = taskMetrics.map { l =>
      l.settle()
      s""","task_metrics":${l.json}"""
    }.getOrElse("")
    f"""{"docs_in":$total,"kept":$kept,"wall_sec":$wall%.1f,"docs_per_sec":${total / wall}%.0f,"partitions":${metrics.partitionsProcessed.value},"skew_factor":${metrics.skewFactor}%.2f,"stages":{$stagesJson}$exportJson$compactJson$tmJson}"""

    } finally {
      pins.foreach { p => p.unpersist(false); SparkUtil.release(p) }
      taskMetrics.foreach(spark.sparkContext.removeSparkListener)
    }
  }
}
