package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.{ExactDedup, MinHash}
import graft.filters.{FastTextModel, FastTextTrainer, Heuristics, KneserNeyLM}
import graft.model.{DropStage, PipelineConfig}

/** The end-to-end corpus-cleaning pipeline: one declarative DataFrame DAG
  * reproducing the reference's flagship flow
  * (/root/reference/datatrove/findweb.py:57-232):
  *
  *   read → langid (broadcast model + mapPartitions batched inference)
  *        → heuristic filters (one analyze pass: Gopher rep/qual, C4 scrub,
  *          FineWeb) → PII/toxicity scrub → perplexity score
  *        → exact dedup (shuffle keep-first) → MinHash-LSH near-dup removal
  *
  * Filter short-circuiting (a doc dropped at stage k never reaches k+1) is
  * preserved as first-failing-stage semantics: `drop_stage` records the
  * first stage whose predicate fails, and dedup stages only consider rows
  * still alive. Everything upstream of the dedup shuffles is narrow and
  * whole-stage-codegen-fused except the two model/analyze functions, which
  * are deliberately single-pass per row.
  */
object CorpusPipeline {

  /** Broadcastable model bundle. Training is driver-side, deterministic,
    * and off the hot path (mirrors the reference: models are trained once,
    * then broadcast per process — /root/reference/fasttext/mult_infer.py:56-66).
    */
  case class Models(lang: FastTextModel, lm: KneserNeyLM,
                    perLang: Map[String, KneserNeyLM] = Map.empty)

  /** Default models trained on the deterministic synthetic distributions.
    * ~2s of driver CPU, cached for the JVM lifetime.
    */
  lazy val defaultModels: Models = {
    val lang = FastTextTrainer.train(Synth.langSamples(300), dim = 24,
      buckets = 1 << 14, epochs = 4, lr = 0.25, seed = 42L)
    val lm = KneserNeyLM.train(Synth.lmSamples(300))
    Models(lang, lm)
  }

  /** The langid scorer as a per-row function for `udf`: reads the
    * broadcast ONCE per task via a transient-lazy val (the
    * `KneserNeyLM.perplexityFn` trick — calling `bc.value` per row hits a
    * SoftReference + global-lock re-deserialization storm), and flushes
    * per-task row counts into the metrics accumulators through a
    * task-completion listener. Task closures are deserialized fresh per
    * task, so the mutable counters are task-local.
    */
  private final class LangScoreFn(
      bc: org.apache.spark.broadcast.Broadcast[FastTextModel],
      metrics: Option[Metrics.PipelineMetrics])
    extends (String => (String, Double)) with Serializable {
    @transient private lazy val m = bc.value
    @transient private var taskRows = 0L
    @transient private var hooked = false
    def apply(t: String): (String, Double) = {
      metrics.foreach { mm =>
        if (!hooked) {
          hooked = true
          val tc = org.apache.spark.TaskContext.get()
          if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
            mm.partitionsProcessed.add(1)
            mm.partitionRows.add(taskRows)
          }
        }
        taskRows += 1
        mm.docsSeen.add(1)
        if (t == null || t.isEmpty) mm.emptyTexts.add(1)
      }
      m.predict(if (t == null) "" else t)
    }
  }

  /** Language-ID stage: broadcast the model once per executor, score via a
    * struct-returning scalar UDF over the `text` column ONLY, append
    * `lang_pred`/`lang_prob` columns.
    *
    * Deliberately NOT a Row-encoder `mapPartitions`: that formulation
    * deserializes and re-encodes every input column per row — including
    * the `html` binary, which is most of the bytes per page — and severs
    * whole-stage codegen for the entire scoring stage. The scalar UDF
    * touches one string column, leaves the rest of the row inside
    * Tungsten format, and keeps the stage codegen'd. Marked
    * nondeterministic so the optimizer materializes the struct once per
    * row instead of inlining the UDF into each field extraction (which
    * would also double the metrics accumulators).
    */
  def withLangId(df: DataFrame, model: FastTextModel,
                 metrics: Option[Metrics.PipelineMetrics] = None,
                 gate: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val fn: String => (String, Double) = new LangScoreFn(bc, metrics)
    val scoreUdf = udf(fn).asNondeterministic()
    // optional gate: rows failing it skip model inference entirely
    // (lang_pred/lang_prob null) — used to run the URL filter BEFORE
    // langid, the reference's stage order
    val lid = gate match {
      case Some(g) => when(g, scoreUdf(col("text")))
      case None => scoreUdf(col("text"))
    }
    df.withColumn("_lid", lid)
      .withColumn("lang_pred", col("_lid._1"))
      .withColumn("lang_prob", col("_lid._2"))
      .drop("_lid")
  }

  private val scoreObserveId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Opt-in P20 pre-stage (the reference's Trafilatura position, before
    * the filters — datatrove/findweb.py:75): rows whose `text` is
    * null/empty but whose `html` payload is present get text extracted
    * from the html ([[graft.text.HtmlExtract]], simplified
    * readability-style). Rows that already carry extracted text keep it
    * BYTE-IDENTICAL — the input-hint invariant the E2E suite pins. One
    * narrow projection, no shuffle; call before [[score]] when ingesting
    * raw WARC without a pre-extraction step.
    */
  def extractText(pages: DataFrame, textCol: String = "text",
                  htmlCol: String = "html"): DataFrame = {
    val ex = udf((h: Array[Byte]) => graft.text.HtmlExtract.extractFromBytes(h))
    pages.withColumn(textCol,
      when((col(textCol).isNull || length(col(textCol)) === 0) &&
        col(htmlCol).isNotNull, ex(col(htmlCol)))
        .otherwise(col(textCol)))
  }

  /** Stages 1–5 + scrub + perplexity: adds lang_pred, lang_prob,
    * drop_stage (nullable, stages 1–5 only so far), scrubbed_text,
    * n_tokens, perplexity.
    */
  def score(pages: DataFrame, cfg: PipelineConfig = PipelineConfig(),
            models: Models = defaultModels,
            metrics: Option[Metrics.PipelineMetrics] = None): DataFrame = {
    val spark = pages.sparkSession
    val heurCfg = cfg.heur
    // DELIBERATELY DETERMINISTIC — round 4 reverts the r3-advisory
    // asNondeterministic() "insurance" after measuring its cost (see the
    // A/B below and BENCH.md r4): nondeterministic expressions block
    // CollapseProject/pushdown and pin extra projection barriers into
    // the scored plan, and the flagship path pays for it. Single
    // evaluation per row of this struct UDF is instead GUARANTEED by a
    // PlanSpec pin (exactly one analyze ScalaUDF in the optimized
    // flagship plan); CollapseProject's cost guard + codegen
    // subexpression elimination keep the property today, and the pin
    // fails loudly if a future optimizer change breaks it.
    val analyzeUdf = udf((t: String) => Heuristics.analyze(t, heurCfg))
    // CCNet own-language scoring is opt-in (Models.perLang non-empty):
    // each doc scores against its PREDICTED language's model, falling
    // back to the global LM for untrained languages — Wenzek et al. §3.3.
    // The default (empty map) keeps the single-global-LM behavior the
    // reference-parity F1 gate is pinned to.
    val pplExpr: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (models.perLang.isEmpty) {
        val bcLm = spark.sparkContext.broadcast(models.lm)
        val f = udf(KneserNeyLM.perplexityFn(bcLm))
        t => f(t)
      } else {
        val bcPl = spark.sparkContext.broadcast((models.perLang, models.lm))
        val f = udf(KneserNeyLM.perplexityOwnLangFn(bcPl))
        t => f(col("lang_pred"), t)
      }
    val keepLangs = cfg.keepLanguages.toSeq

    // stage 0: URL/domain blocklist (reference URLFilter position). The
    // list rides a broadcast hash set probed per row — a plan-literal
    // isin would explode the expression tree at category-list sizes, and
    // a join would add an exchange to the otherwise shuffle-free stage.
    val urlBlockedCol: org.apache.spark.sql.Column =
      if (cfg.urlBlocklist.isEmpty) lit(false)
      else {
        val bcBlock = spark.sparkContext.broadcast(cfg.urlBlocklist)
        val blockedUdf = udf(new (String => Boolean) with Serializable {
          @transient private lazy val set = bcBlock.value
          def apply(u: String): Boolean =
            u != null && set.contains(graft.text.DomainOf.registrable(u))
        })
        blockedUdf(col("url"))
      }

    // stage 0b (opt-in): robots meta opt-out — a codegen'd regexp pair
    // over the raw html payload (HtmlExtract.robotsNoindex), no UDF, no
    // exchange; shares the URL filter's short-circuit position
    // the regexp pair scans only the first 16 KB: robots meta lives in
    // the <head> (browsers honor it nowhere else), and on real ~100 KB
    // pages a full-payload scan would cost ~10× for nothing
    // UTF-16 pages would defeat the regexp through a blind UTF-8 cast
    // (NULs interleave every ASCII char, '<meta' never matches, and the
    // publisher's opt-out is ignored). Gate a tiny head-decode UDF on the
    // 2-byte BOM — same rare-case-pays pattern as the mojibake repair:
    // the overwhelming UTF-8/latin majority stays in the fused codegen
    // projection and never calls the UDF.
    val robotsBlockedCol: org.apache.spark.sql.Column =
      if (!cfg.respectRobots) lit(false)
      else {
        val utf16Head = udf { (b: Array[Byte]) =>
          // one source of truth for BOM semantics: CharsetDecode
          graft.text.CharsetDecode.bomCharset(b) match {
            case bom @ ("utf-16le" | "utf-16be") =>
              val cs =
                if (bom == "utf-16le")
                  java.nio.charset.StandardCharsets.UTF_16LE
                else java.nio.charset.StandardCharsets.UTF_16BE
              // even byte count: a split code unit must not shift the rest
              val len = math.min(b.length - 2, 32768) & ~1
              new String(b, 2, math.max(len, 0), cs) // replaces malformed
            case _ => null // unreachable behind the BOM gate
          }
        }
        val bom2 = substring(col("html"), 1, 2)
        val head = when(
          bom2 === lit(Array(0xFF.toByte, 0xFE.toByte)) ||
            bom2 === lit(Array(0xFE.toByte, 0xFF.toByte)),
          utf16Head(col("html")))
          .otherwise(substring(col("html").cast("string"), 1, 16384))
        coalesce(graft.text.HtmlExtract.robotsNoindex(head), lit(false))
      }

    val base = pages.withColumn("_urlBlocked", urlBlockedCol)
      .withColumn("_robotsBlocked", robotsBlockedCol)
    val preBlocked = col("_urlBlocked") || col("_robotsBlocked")
    val scored = withLangId(base, models.lang, metrics = metrics,
        gate = if (cfg.urlBlocklist.isEmpty && !cfg.respectRobots) None
               else Some(!preBlocked))
      .withColumn("_langFail",
        !col("lang_pred").isin(keepLangs: _*) ||
          col("lang_prob") < cfg.minLangProb)
      // reference short-circuit semantics, enforced as compute savings
      // too: a doc dropped by the URL filter, robots opt-out or langid
      // never runs the heuristic analyze pass (codegen evaluates the
      // `when` branch lazily). On real Common-Crawl mixes where most docs
      // fail langid, this skips the most expensive per-doc function for
      // the majority of the corpus.
      .withColumn("_h",
        when(!preBlocked && !col("_langFail"), analyzeUdf(col("text"))))
      .withColumn("drop_stage",
        when(col("_urlBlocked"), lit(DropStage.UrlFilter))
          .when(col("_robotsBlocked"), lit(DropStage.Robots))
          .when(col("_langFail"), lit(DropStage.NonEnglish))
          .otherwise(col("_h.drop_stage")))
      .withColumn("scrubbed_text",
        when(col("drop_stage").isNull, col("_h.scrubbed_text")))
      .withColumn("n_tokens",
        when(col("drop_stage").isNull, col("_h.n_tokens")).otherwise(lit(0)))
      .withColumn("perplexity",
        when(col("drop_stage").isNull, pplExpr(col("scrubbed_text"))))

    val withPpl = cfg.maxPerplexity match {
      case Some(maxP) =>
        scored.withColumn("drop_stage",
          when(col("drop_stage").isNull && col("perplexity") > maxP,
            lit(DropStage.Perplexity)).otherwise(col("drop_stage")))
      case None => scored
    }

    withPpl
      .select(col("url"), col("warc_ts"), col("lang"), col("lang_pred"),
        col("lang_prob"), col("drop_stage"), col("scrubbed_text"),
        col("n_tokens"), col("perplexity"))
      // unique name per invocation: two scored frames in one query (e.g. a
      // determinism A/B compare) would otherwise collide on the metric name
      .observe(s"graft_score_${scoreObserveId.incrementAndGet()}",
        count(lit(1)).as("docs_in"),
        count(when(col("drop_stage").isNull, 1)).as("docs_alive"),
        sum(col("n_tokens")).as("tokens_alive"))
  }

  /** Stages 6–7 on the survivors of 1–5: deterministic keep-first exact
    * dedup, then MinHash-LSH near-dup removal, both keyed on the scrubbed
    * bytes. Early-dropped rows pass through untouched (their exclusion
    * columns null), mirroring the reference's per-stage exclusion sinks.
    *
    * Plan shape: one route for any input.
    *  1. Every scored row has a key, `_row`: the input's own `_row`
    *     column when it has one, else a positional id.
    *  2. One narrow key table over the alive rows, built in one scan of
    *     the text and materialized once (committed under
    *     `cfg.dedupStageDir` instead, when set): `_row`, `url`, the band
    *     hashes (the min-hash vector under verification) and a keep-first
    *     flag from a window over the content hash, ordered by
    *     (warc_ts, url).
    *  3. Exact verdicts are the non-first rows, keyed by `_row` and
    *     materialized with their row count. Near-dup verdicts are the
    *     url -> cluster map of the first rows' bands (every alive row
    *     with exact dedup off) from [[MinHash.clustersOf]]. Neither reads
    *     the key table afterwards, so it is released.
    *  4. One pass over the scored frame joins both, each broadcast when
    *     its size is known to be small: the only full-width pass. The
    *     cluster map marks only alive rows that are not exact dups, i.e.
    *     the first rows it was built from.
    * Exact verdicts are keyed by position, not by url: a url may recur
    * (raw multi-snapshot crawls without `--url-dedup`), and of several
    * byte-identical records exactly one must be kept.
    *
    * `scored` is read twice (key table, final pass). A positional
    * `_row` needs the same rows in the same partitions both times: pass
    * a materialized frame, as `run`, `graft.Run` and `graft.Probe` do. A
    * committed key table (`cfg.dedupStageDir`) outlives one read, so it
    * needs a `_row` on `scored` that does not depend on how the input is
    * split: `graft.Run --lineage` passes each row's place in the
    * committed score files. A verdict that lands on a row with another
    * url fails the final pass instead of marking the wrong document.
    */
  def dedup(scored: DataFrame, cfg: PipelineConfig = PipelineConfig()): DataFrame = {
    implicit val spark: SparkSession = scored.sparkSession
    if (!cfg.exactDedup && !cfg.minhashDedup)
      return scored.drop("_row")
        .withColumn("minhash_cluster", lit(null).cast("string"))
        .withColumn("keep", col("drop_stage").isNull)
        .withColumn("scrubbed_text", when(col("keep"), col("scrubbed_text")))
    val mh = minhashConfig(cfg)
    val verify = mh.verifyThreshold > 0.0
    val keyed =
      if (scored.columns.contains("_row")) scored
      else {
        require(cfg.dedupStageDir.isEmpty, "a committed dedup key table " +
          "needs a `_row` column that does not depend on the input's splits")
        scored.withColumn("_row", monotonically_increasing_id())
      }
    val text = col("scrubbed_text")
    val hashes = Seq(
      Option.when(cfg.exactDedup)(ExactDedup.key(Seq(text)).as("_k")),
      Option.when(cfg.minhashDedup)(
        if (verify) MinHash.minVectors(mh)(text).as("sig")
        else MinHash.bandHashes(mh)(text).as("bands"))).flatten
    // _row is assigned before parallelized()'s repartition, which only
    // moves the narrow projection the hash UDF reads
    val hashed = MinHash.parallelized(keyed.filter(col("drop_stage").isNull)
        .select("_row", "url", "warc_ts", "scrubbed_text"))
      .select(Seq(col("_row"), col("url"), col("warc_ts")) ++ hashes: _*)
    val table =
      if (!cfg.exactDedup) hashed.drop("warc_ts")
      else hashed
        // the window's exchange at a fixed width, never below the
        // session's shuffle width: AQE would coalesce this narrow table to
        // a task or two, and every dedup stage after it (band join,
        // verdicts) would read it at that width
        .repartition(math.max(spark.sparkContext.defaultParallelism,
          spark.conf.get("spark.sql.shuffle.partitions").toInt), col("_k"))
        .withColumn("first", row_number().over(Window.partitionBy("_k")
          .orderBy("warc_ts", "url")) === 1)
        .drop("warc_ts", "_k")
    val keys = cfg.dedupStageDir match {
      // the leaf names the table's columns, so a resume with other dedup
      // flags (or a dir from before the key table) is never misread
      case Some(d) => MinHash.committed(spark,
        s"$d/${("keys" +: table.columns.drop(2)).mkString("-")}")(table)
      case None => table.transform(graft.SparkUtil.materialize)
    }
    val first = if (cfg.exactDedup) keys.filter(col("first")) else keys
    // the exact dups by row: O(duplicates), materialized with its count
    val exactDups = Option.when(cfg.exactDedup) {
      val counted = org.apache.spark.sql.Observation()
      val dups = keys.filter(!col("first"))
        .select(col("_row"), col("url").as("_x_url"))
        .observe(counted, count(lit(1)).as("rows"))
        .transform(graft.SparkUtil.materialize)
      broadcastIf(dups, counted.get("rows").asInstanceOf[Long])
    }
    // the url -> cluster map of the first rows' band graph
    val clusters = Option.when(cfg.minhashDedup) {
      val (cl, clSize) =
        if (verify) {
          val vecs = first.select(col("url").as("id"), col("sig"))
          MinHash.clustersOf(MinHash.bandsFromVectors(vecs, mh), Some(vecs),
            mh, cfg.dedupStageDir)
        } else MinHash.clustersOf(first.select(col("url").as("id"),
            posexplode(col("bands")).as(Seq("band_id", "band_hash"))),
          None, mh, cfg.dedupStageDir)
      broadcastIf(cl.select(col("id").as("_c_id"),
          col("cluster").cast("string").as("_c_cluster")),
        clSize.getOrElse(cl.count()))
    }
    // both verdict tables stand on their own: the key table is done with
    graft.SparkUtil.release(keys)
    val none = lit(null).cast("string")
    val byRow = exactDups.fold(keyed.withColumn("_x_url", none))(
      keyed.join(_, Seq("_row"), "left"))
    // near-dup marks reach the alive rows that are not exact dups: the
    // first rows the band graph was built from
    val marked = clusters.fold(
      byRow.withColumn("_c_id", none).withColumn("_c_cluster", none))(cl =>
      byRow.join(cl, col("url") === col("_c_id") &&
        col("drop_stage").isNull && col("_x_url").isNull, "left"))
    marked
      .withColumn("drop_stage",
        when(col("_x_url").isNull || col("_x_url") === col("url"),
          coalesce(col("drop_stage"),
            when(col("_x_url").isNotNull, lit(DropStage.ExactDup)),
            when(col("_c_id") =!= col("_c_cluster"),
              lit(DropStage.MinhashDup))))
          .otherwise(raise_error(lit("dedup verdict keyed to a row with " +
            "another url: the scored input changed between its reads"))))
      .withColumn("minhash_cluster", col("_c_cluster"))
      .drop("_row", "_x_url", "_c_id", "_c_cluster")
      .withColumn("keep", col("drop_stage").isNull)
      .withColumn("scrubbed_text", when(col("keep"), col("scrubbed_text")))
  }

  /** An explicit broadcast hint for an O(duplicates) table of at most
    * [[MinHash.BroadcastClustersMaxRows]] rows; larger ones are left to
    * AQE's own statistics.
    */
  private def broadcastIf(df: DataFrame, rows: Long): DataFrame =
    if (rows <= MinHash.BroadcastClustersMaxRows) broadcast(df) else df

  /** The MinHash settings dedup runs with. */
  private def minhashConfig(cfg: PipelineConfig): MinHash.Config =
    MinHash.Config(cfg.minhashBands, cfg.minhashRowsPerBand, cfg.shingleSize,
      driverCcMaxEdges = cfg.ccDriverMaxEdges,
      verifyThreshold = cfg.minhashVerifyThreshold)

  /** Full run. Materializes the scored frame ([[graft.SparkUtil.materialize]])
    * because dedup reads it twice (its key table, then the final verdict
    * join) and keys rows by position, which needs the same partitions on
    * both reads — at cluster scale this becomes a checkpointed
    * intermediate table via [[Lineage]]. The checkpoint stores rows, not a
    * columnar cache, so no session conf is written around it; the
    * returned frame references it, and it is released when that frame is
    * dropped.
    */
  def run(pages: DataFrame, cfg: PipelineConfig = PipelineConfig(),
          models: Models = defaultModels): DataFrame =
    dedup(score(pages, cfg, models).transform(graft.SparkUtil.materialize), cfg)

  /** Exclusion-sink split (reference: per-stage removed-doc audit dirs,
    * findweb.py:95-113): returns (kept, dropped) without recomputation
    * when `result` is persisted; the dropped side is partitioned by
    * drop_stage at write time.
    */
  def split(result: DataFrame): (DataFrame, DataFrame) =
    (result.filter(col("keep")), result.filter(!col("keep")))
}
