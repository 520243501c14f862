package graft.model

/** Thresholds for the heuristic filter stack. Defaults mirror the public
  * datatrove defaults as configured by the reference
  * (/root/reference/datatrove/findweb.py:101-113,
  * /root/reference/datatrove/2_local_filter_quality.py:43-55).
  */
case class HeuristicConfig(
    // GopherQualityFilter (findweb.py:104-106)
    minDocWords: Int = 50,
    maxDocWords: Int = 100000,
    minAvgWordLength: Double = 3.0,
    maxAvgWordLength: Double = 10.0,
    maxSymbolWordRatio: Double = 0.1,     // "#" and "..." per word
    maxBulletLinesRatio: Double = 0.9,
    maxEllipsisLinesRatio: Double = 0.3,
    maxNonAlphaWordsRatio: Double = 0.2,  // ≥80% words must contain a letter
    minStopWords: Int = 2,
    // GopherRepetitionFilter (findweb.py:101-103)
    dupLineFrac: Double = 0.30,
    dupParaFrac: Double = 0.30,
    dupLineCharFrac: Double = 0.20,
    dupParaCharFrac: Double = 0.20,
    topNgramThresholds: Seq[(Int, Double)] =
      Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16),
    dupNgramThresholds: Seq[(Int, Double)] =
      Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10),
    // C4QualityFilter (findweb.py:107-110); terminal-punct line filter is
    // DISABLED in the reference run (filter_no_terminal_punct=False).
    c4MinWordsPerLine: Int = 3,
    c4FilterNoTerminalPunct: Boolean = false,
    c4MinSentences: Int = 5,
    // FineWebQualityFilter (findweb.py:111-113)
    fwLinePunctRatio: Double = 0.12,
    fwShortLineFrac: Double = 0.67,
    fwShortLineLength: Int = 30,
    fwDupLineCharFrac: Double = 0.10,
    fwNewLineRatio: Double = 0.30
)

/** End-to-end pipeline configuration. */
case class PipelineConfig(
    heur: HeuristicConfig = HeuristicConfig(),
    // Registrable domains to drop before any other stage (the reference's
    // URLFilter category blocklist, datatrove/findweb.py:12). Empty =
    // stage off (reference-run parity: the filter is imported but not in
    // the executed stack). Broadcast to executors as a hash set — scales
    // to multi-million-entry category lists without plan blowup.
    urlBlocklist: Set[String] = Set.empty,
    // Honor `<meta name=robots content=noindex|none>` — the publisher's
    // indexing opt-out (C4/CCNet-style crawl compliance). Off by default
    // (reference-run parity: the reference stack has no robots stage).
    // Checked against the raw html payload in stage 0, short-circuiting
    // langid + heuristics like the URL blocklist.
    respectRobots: Boolean = false,
    keepLanguages: Set[String] = Set("en"),  // 1_local:54-55 languages=['en']
    minLangProb: Double = 0.65,
    // MinHash-LSH: sha1/64-bit, 14 buckets x 8 hashes, 5-gram shingles
    // (findweb.py:134-142). We use seeded 64-bit mixes instead of sha1 —
    // same banding math, fresh implementation.
    minhashBands: Int = 14,
    minhashRowsPerBand: Int = 8,
    shingleSize: Int = 5,
    // >0 re-checks every band-collision candidate pair against the full
    // signature vectors and clusters only pairs whose estimated Jaccard
    // reaches this value (MinHash.verifiedEdges) — cuts the LSH S-curve's
    // false-positive tail; 0 keeps the reference's any-shared-band
    // semantics. Quality tunable — see MinHash.Config.verifyThreshold.
    minhashVerifyThreshold: Double = 0.0,
    // Driver union-find fast-path ceiling for connected components;
    // lower on small-driver deployments (0 forces distributed CC).
    ccDriverMaxEdges: Long = graft.dedup.MinHash.DriverCcMaxEdges,
    // Optional perplexity gate — north-rule extension; the reference has no
    // perplexity filter, so it defaults OFF to preserve label parity.
    maxPerplexity: Option[Double] = None,
    // Exact-dedup before MinHash (utils/dedup_large_csv.py semantics).
    exactDedup: Boolean = true,
    minhashDedup: Boolean = true,
    // Dedup-stage resume dir: when set, the dedup key table
    // (CorpusPipeline.dedup) and the cluster map (MinHash.clustersOf)
    // are committed as parquet under this directory and a re-run over
    // the SAME scored input reuses them instead of recomputing. Run
    // wires this under the --lineage output so a kill during the dedup
    // phase of a long run no longer redoes the signature pass. The caller owns input identity:
    // reusing the dir against different input returns stale marks (same
    // contract as the score-stage lineage manifest).
    dedupStageDir: Option[String] = None
)
