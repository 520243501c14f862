package graft.analytics

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.DomainOf

/** Domain/url statistics — the reference's analytics family:
  * group-count by domain (/root/reference/process_data.py:88-98,
  * /root/reference/utils/extract_dclm_domain.py:30-33), url counts
  * (/root/reference/utils/url_count.py:34-56), base-vs-all ratio join
  * (/root/reference/process_data.py:107-128), and domain-membership
  * filters (/root/reference/utils/filter_by_url.py:8-21).
  *
  * The reference's chunked partial-then-final aggregation
  * (/root/reference/utils/domain_statistic.py:46-66) is exactly Spark's
  * partial aggregation — a single groupBy here compiles to the same
  * two-phase tree, distributed.
  */
object DomainStats {

  val fqdnUdf = udf((u: String) => DomainOf.fqdn(u))
  val registrableUdf = udf((u: String) => DomainOf.registrable(u))

  /** Pure-Column host extraction for oracle-parity paths (scheme://host/…). */
  def hostCol(urlCol: Column): Column = split_part(urlCol, lit("/"), lit(3))

  def domainCounts(df: DataFrame, urlCol: String): DataFrame =
    df.groupBy(registrableUdf(col(urlCol)).as("domain"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("domain"))

  /** Ratio of per-domain counts between two frames, 0-denominator → null
    * (process_data.py:120-125 semantics). Broadcasts the smaller side.
    */
  def ratioJoin(base: DataFrame, all: DataFrame, urlCol: String): DataFrame = {
    val b = domainCounts(base, urlCol).withColumnRenamed("cnt", "base_cnt")
    val a = domainCounts(all, urlCol).withColumnRenamed("cnt", "all_cnt")
    a.join(broadcast(b), Seq("domain"), "inner")
      .withColumn("ratio",
        when(col("all_cnt") =!= 0,
          round(col("base_cnt") / col("all_cnt"), 4)))
      .orderBy(col("ratio").desc, col("domain"))
  }

  /** Per-group quality prior: document count and order-independent mean
    * of a per-document score (decimal accumulation — double sums drift
    * with partitioning), plus a keep flag gating on both a mean floor and
    * a minimum sample size (a domain seen twice has no reliable prior).
    * The domain-level statistical filter CommonCrawl-derived corpora run
    * before any per-document model scoring: a consistently low-quality
    * host predicts its unseen pages too.
    *
    * 100-TB shape: one partial+final aggregation to an O(#groups) ledger.
    * At web scale #groups is registrable domains (~10^8) — still ledger-
    * sized, never corpus-sized, but too big to assume broadcastable:
    * [[applyGroupPrior]] therefore leaves join-strategy choice to AQE
    * instead of forcing a broadcast.
    */
  def groupPrior(df: DataFrame, groupCol: String, scoreCol: String,
                 minMean: Double, minDocs: Long = 1L): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("docs"),
        round(sum(col(scoreCol).cast("decimal(18,4)")) / count(lit(1)), 4)
          .cast("double").as("mean_score"))
      .withColumn("keep",
        col("docs") >= minDocs && col("mean_score") >= minMean)

  /** Apply [[groupPrior]]: keep only rows whose group passes the prior.
    * Semi-join against the kept-group ledger; AQE picks broadcast when
    * the ledger is small enough.
    */
  def applyGroupPrior(df: DataFrame, groupCol: String, scoreCol: String,
                      minMean: Double, minDocs: Long = 1L): DataFrame =
    df.join(
      groupPrior(df, groupCol, scoreCol, minMean, minDocs)
        .filter(col("keep")).select(col(groupCol)),
      Seq(groupCol), "left_semi")

  /** Mirror/aggregator detection: texts that appear under SEVERAL
    * distinct domains — syndicated articles, scraper mirrors, parked-
    * domain templates. Training corpora de-bias these before sampling
    * (MinHash catches the near-dup PAIRS; this report names the
    * worst-mirrored CONTENT with its spread). Returns `(text_md5,
    * copies, n_domains, example_id)` in the deterministic total order
    * (n_domains desc, copies desc, text_md5).
    *
    * 100-TB shape: md5 computes map-side, so the first `groupBy(md5,
    * domain)` exchange carries (16-byte-hex, domain) pairs — never
    * text — and collapses per-domain repeats behind its combine; the
    * second `groupBy(md5)` reduces to mirrored-content size and the
    * top-K plans as TakeOrderedAndProject. Exact distinct-domain
    * counting via the two-level form, not countDistinct's expand.
    */
  def mirrorReport(df: DataFrame, idCol: String, textCol: String,
                   domainCol: String, minDomains: Long = 2L,
                   topK: Int = 100): DataFrame =
    df.select(md5(col(textCol)).as("text_md5"), col(domainCol).as("_dom"),
        col(idCol).as("_mid"))
      .groupBy("text_md5", "_dom")
      .agg(count(lit(1)).as("_c"), min("_mid").as("_m"))
      .groupBy("text_md5")
      .agg(sum("_c").as("copies"), count(lit(1)).as("n_domains"),
        min("_m").as("example_id"))
      .filter(col("n_domains") >= minDomains)
      .orderBy(col("n_domains").desc, col("copies").desc, col("text_md5"))
      .limit(topK)

  /** Source-diversity report — the release-audit number next to the
    * per-language datasheet: how concentrated is the corpus over its
    * domains/sources? One row: doc and group counts, Shannon entropy in
    * bits with its normalized form (H / log2(groups) ∈ [0,1]), the
    * Simpson concentration index (Σp² — the probability two random docs
    * share a group), and the hottest group's share. Dataset cards report
    * exactly these (Gebru et al. 2021 §3.2 composition questions).
    *
    * Determinism at scale: entropy uses the algebraic form
    * H = ln N − (Σ c·ln c)/N, so the only float-sum is Σ c·ln c — each
    * group's contribution is computed per group (deterministic) and
    * accumulated as decimal(38,12), which is shuffle-order-independent
    * (the q_corpus_datasheet discipline); Σc² is exact integer decimal.
    * Plan shape: one `groupBy(group)` count (map-side combine to
    * O(groups)) + one O(groups) final aggregate. No window, no collect.
    */
  def diversityReport(df: DataFrame, groupCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("c"))
    counts.agg(
      sum("c").as("_n"),
      count(lit(1)).as("n_groups"),
      sum((col("c").cast("double") * log(col("c").cast("double")))
        .cast("decimal(38,12)")).as("_clnc"),
      sum((col("c") * col("c")).cast("decimal(38,0)")).as("_c2"),
      max("c").as("_maxc"))
    .select(
      col("_n").as("n_docs"),
      col("n_groups"),
      // greatest(0, ·): entropy is non-negative by theory; float residue
      // of the decimal accumulation could otherwise land at -0.0/-1e-16,
      // which hash-compares differently across engines
      greatest(lit(0.0), round((log(col("_n").cast("double")) -
        col("_clnc").cast("double") / col("_n").cast("double")) /
        lit(math.log(2.0)), 6)).as("entropy_bits"),
      greatest(lit(0.0), round(when(col("n_groups") > 1,
        (log(col("_n").cast("double")) -
          col("_clnc").cast("double") / col("_n").cast("double")) /
          log(col("n_groups").cast("double"))).otherwise(0.0), 6))
        .as("norm_entropy"),
      round(col("_c2").cast("double") /
        (col("_n").cast("double") * col("_n").cast("double")), 6)
        .as("simpson"),
      round(col("_maxc").cast("double") / col("_n").cast("double"), 6)
        .as("top_share"))
  }

  /** URL PATTERN blocklist — the path/query-shape sibling of the domain
    * blocklist: drop URLs matching ANY of the regex patterns (calendar
    * pages, session-id queries, tag/search listings, tracking params —
    * the crawl-trap shapes a domain list cannot express). Patterns fuse
    * into one alternation compiled once per task; the filter is a
    * narrow codegen'd pass. Keep patterns RE2-compatible so the same
    * strings drive Spark and any RE2-based replay.
    */
  def excludeUrlPatterns(df: DataFrame, urlCol: String,
                         patterns: Seq[String]): DataFrame = {
    require(patterns.nonEmpty, "excludeUrlPatterns: empty pattern list")
    require(patterns.size <= 10000,
      s"excludeUrlPatterns: ${patterns.size} patterns — fuse upstream " +
        "or precompute a match column; a megabyte-scale regex stops " +
        "being a compiled filter")
    val fused = patterns.mkString("(?:", ")|(?:", ")")
    // null-url rows match no pattern, so they stay: a bare negated
    // rlike is null for null input and filter() would silently drop
    // rows the blocklist never named
    df.filter(col(urlCol).isNull || !col(urlCol).rlike(fused))
  }

  /** Keep rows whose registrable domain is in `domains` — broadcast
    * semi-join for big lists, `isin` for small (filter_by_url.py P8/J2).
    */
  def filterByDomains(df: DataFrame, urlCol: String,
                      domains: Seq[String]): DataFrame =
    if (domains.size <= 1000)
      df.filter(registrableUdf(col(urlCol)).isInCollection(domains))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      df.join(broadcast(domains.toDF("domain")),
        registrableUdf(col(urlCol)) === col("domain"), "left_semi")
    }

  /** Drop rows on a blocklist — broadcast anti-join (URLFilter P14/J3). */
  def excludeDomains(df: DataFrame, urlCol: String,
                     blocklist: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.join(broadcast(blocklist.toDF("domain")),
      registrableUdf(col(urlCol)) === col("domain"), "left_anti")
  }

  /** Driver-side blocklist loader: one registrable domain per line, `#`
    * comments and blanks skipped (the on-disk shape of public category
    * blocklists like the UT1 list the reference's URLFilter consumes).
    * Feed the result to `PipelineConfig.urlBlocklist`.
    *
    * Reads through the Hadoop FileSystem API, so the path may be any
    * Spark-reachable URI (`hdfs://`, `s3a://`, `gs://`, `file:` or a
    * bare local path) — on a real cluster deploy the list lives next to
    * the data, not on the driver's local disk.
    */
  def loadBlocklist(path: String,
                    hadoopConf: org.apache.hadoop.conf.Configuration =
                      new org.apache.hadoop.conf.Configuration()): Set[String] = {
    // Path(String) parses its argument as a URI, so a scheme-less local
    // path containing '#' or '%' would be mangled (fragment split / escape
    // decode); route those through File.toURI, which escapes correctly
    val hasScheme = path.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*")
    val p =
      if (hasScheme) new org.apache.hadoop.fs.Path(path)
      else new org.apache.hadoop.fs.Path(new java.io.File(path).toURI)
    val fs = p.getFileSystem(hadoopConf)
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .map(_.trim.toLowerCase(java.util.Locale.ROOT))
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSet
    finally in.close()
  }
}
