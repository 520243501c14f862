package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
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
    * Plan shape (round 5): with a UNIQUE id column — the flagship case;
    * one cheap narrow aggregation verifies it — both dedup stages compute
    * their mark tables from NARROW (url, warc_ts, scrubbed_text)
    * projections and the final result is ONE pass over the scored frame
    * with two O(duplicates) left joins. The r4 union-of-filtered-branches
    * form decoded the uncompressed scored cache three times at sink (the
    * 10M-doc stress attributed 65 GB of input and 17% executor GC mostly
    * to those re-reads) and evaluated the exact-dup join twice. Recurring
    * ids (raw multi-snapshot crawls without `--url-dedup`) fall back to
    * the windowed branch form, which is correct for any input. Both
    * paths are output-identical (PipelineE2ESpec parity pin).
    */
  def dedup(scored: DataFrame, cfg: PipelineConfig = PipelineConfig()): DataFrame = {
    implicit val spark: SparkSession = scored.sparkSession
    if (!cfg.exactDedup && !cfg.minhashDedup)
      return scored
        .withColumn("minhash_cluster", lit(null).cast("string"))
        .withColumn("keep", col("drop_stage").isNull)
        .withColumn("scrubbed_text", when(col("keep"), col("scrubbed_text")))
    // the same uniqueness gate markById runs, hoisted so one check
    // serves both stages AND the single-pass join-back below (a dead row
    // sharing a url with an alive duplicate must never inherit its mark).
    // r6: the exact-dup window subtree does not depend on the gate's
    // OUTCOME (it computes content-keyed dup ids either way; only the
    // id join-back needs uniqueness), so its materialization runs on a
    // second thread WHILE the gate aggregation runs — Spark schedules
    // concurrent jobs FIFO and the second job back-fills the first's
    // tail (optimization guide §2.6). On the rare non-unique route the
    // speculative table is simply discarded (checkpoint blocks are
    // ContextCleaner-managed); its failure, if any, is ignored there
    // because the windowed fallback recomputes from scratch anyway.
    val specX: Option[java.util.concurrent.FutureTask[(DataFrame, Long)]] =
      if (cfg.exactDedup) {
        val task = new java.util.concurrent.FutureTask(
          () => exactDupIdsTable(scored))
        val th = new Thread(task, "graft-dedup-exact-spec")
        th.setDaemon(true)
        th.start()
        Some(task)
      } else None
    val unique =
      try graft.dedup.ExactDedup.idIsUniqueKey(scored, "url")
      catch { case t: Throwable =>
        specX.foreach(f => try f.get() catch { case _: Throwable => () })
        throw t
      }
    if (unique)
      dedupById(scored, cfg,
        specX.map(f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause // surface the real Spark failure, not the wrapper
          }))
    else {
      specX.foreach(f => try f.get() catch { case _: Throwable => () })
      dedupByWindow(scored, cfg)
    }
  }

  /** The exact keep-first dup-id table over the alive rows of `scored`:
    * (url) of every non-first member of a content-hash group, with its
    * count — ~100 B/row through the window shuffle, never the text.
    * MATERIALIZED (r6): two consumers (the near-dup stage's anti-join
    * gate and the final verdict join), and the known count drives the
    * broadcast hint in [[dedupById]].
    */
  private def exactDupIdsTable(scored: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("warc_ts"), col("url"))
    val x = scored.filter(col("drop_stage").isNull)
      .select(col("url"), col("warc_ts"),
        ExactDedup.key(Seq(col("scrubbed_text"))).as("_k"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > 1)
      .select(col("url").as("_xd_id"))
      .transform(graft.SparkUtil.materialize)
    (x, x.count())
  }

  /** Single-sink-pass dedup for unique ids: narrow mark tables, one
    * full-width pass, two left joins (AQE broadcasts them at real dup
    * fractions; MinHash.mark's own cluster join-back has the explicit
    * `BroadcastClustersMaxRows` gate).
    */
  private[graft] def dedupById(scored: DataFrame, cfg: PipelineConfig,
                               precomputedX: Option[(DataFrame, Long)] = None)
                       (implicit spark: SparkSession): DataFrame = {
    val aliveN = scored.filter(col("drop_stage").isNull)
      .select(col("url"), col("warc_ts"), col("scrubbed_text"))
    // exact keep-first dup ids ([[exactDupIdsTable]]) — normally handed
    // in by [[dedup]], which materialized them concurrently with the
    // uniqueness gate; computed here only when called directly (tests).
    val exactDupIds: Option[(DataFrame, Long)] =
      if (!cfg.exactDedup) None
      else precomputedX.orElse(Some(exactDupIdsTable(scored)))
    val stillAliveN = exactDupIds match {
      case Some((x, _)) => aliveN.join(x, aliveN("url") === x("_xd_id"),
        "left_anti")
      case None => aliveN
    }
    // near-dup verdicts straight from the O(duplicates) cluster map
    // (id, cluster): every column the pipeline needs derives from the
    // map alone, so the r5 detour through MinHash.mark's full-frame
    // join — which re-executed the stillAliveN window/anti-join subtree
    // a second time just to project three columns back out — is gone.
    val nearTbl: Option[(DataFrame, Option[Long])] =
      if (!cfg.minhashDedup) None
      else {
        val (cl, clSize) = MinHash.clusterTable(stillAliveN, "url",
          "scrubbed_text", minhashConfig(cfg), stageDir = cfg.dedupStageDir)
        Some((cl.select(col("id").as("_mh_id"),
          col("cluster").cast("string").as("_mh_cluster"),
          (col("id") =!= col("cluster")).as("_mh_dup")), clSize))
      }
    var out = scored
    exactDupIds.foreach { case (x, n) =>
      val side =
        if (n <= MinHash.BroadcastClustersMaxRows) broadcast(x) else x
      out = out.join(side, out("url") === x("_xd_id"), "left")
    }
    nearTbl.foreach { case (nt, sz) =>
      // broadcast only on a KNOWN-small count; size-unknown maps (the
      // distributed-CC and stageDir paths) are parquet/RDD-backed and
      // left to AQE's own statistics
      val side =
        if (sz.exists(_ <= MinHash.BroadcastClustersMaxRows)) broadcast(nt)
        else nt
      out = out.join(side, out("url") === nt("_mh_id"), "left")
    }
    val withStage = out.withColumn("drop_stage", coalesce(
      Seq(col("drop_stage")) ++
        exactDupIds.map(_ => when(col("_xd_id").isNotNull,
          lit(DropStage.ExactDup))) ++
        nearTbl.map(_ => when(col("_mh_dup"), lit(DropStage.MinhashDup)))
        : _*))
    val withCluster = nearTbl match {
      case Some(_) => withStage
        .withColumn("minhash_cluster", col("_mh_cluster"))
        .drop("_mh_id", "_mh_cluster", "_mh_dup")
      case None => withStage
        .withColumn("minhash_cluster", lit(null).cast("string"))
    }
    (if (cfg.exactDedup) withCluster.drop("_xd_id") else withCluster)
      .withColumn("keep", col("drop_stage").isNull)
      .withColumn("scrubbed_text", when(col("keep"), col("scrubbed_text")))
  }

  /** The MinHash settings both dedup forms run with. */
  private def minhashConfig(cfg: PipelineConfig): MinHash.Config =
    MinHash.Config(cfg.minhashBands, cfg.minhashRowsPerBand, cfg.shingleSize,
      driverCcMaxEdges = cfg.ccDriverMaxEdges,
      verifyThreshold = cfg.minhashVerifyThreshold)

  /** Windowed branch form — correct for recurring ids (the keep-first
    * window ranks rows, not ids, and nothing joins back by id).
    */
  private[graft] def dedupByWindow(scored: DataFrame, cfg: PipelineConfig)
                           (implicit spark: SparkSession): DataFrame = {
    val alive = scored.filter(col("drop_stage").isNull)
    val dead = scored.filter(col("drop_stage").isNotNull)
      .withColumn("minhash_cluster", lit(null).cast("string"))

    val afterExact =
      if (cfg.exactDedup)
        ExactDedup.markById(alive, Seq("scrubbed_text"), Seq("warc_ts", "url"),
            idCol = "url", idIsUnique = Some(false))
          .withColumn("drop_stage",
            when(col("is_exact_dup"), lit(DropStage.ExactDup)))
          .drop("is_exact_dup")
      else alive

    val afterMinhash =
      if (cfg.minhashDedup) {
        val stillAlive = afterExact.filter(col("drop_stage").isNull)
        val exactDead = afterExact.filter(col("drop_stage").isNotNull)
          .withColumn("minhash_cluster", lit(null).cast("string"))
        val marked = MinHash.mark(stillAlive, "url", "scrubbed_text",
            minhashConfig(cfg), stageDir = cfg.dedupStageDir)
          .withColumn("drop_stage",
            when(col("is_near_dup"), lit(DropStage.MinhashDup)))
          .drop("is_near_dup")
          .withColumn("minhash_cluster", col("minhash_cluster").cast("string"))
        marked.unionByName(exactDead)
      } else afterExact.withColumn("minhash_cluster", lit(null).cast("string"))

    afterMinhash.unionByName(dead)
      .withColumn("keep", col("drop_stage").isNull)
      .withColumn("scrubbed_text",
        when(col("keep"), col("scrubbed_text")))
  }

  /** Full run. Persists the scored frame because the dedup stages traverse
    * it more than once (exact window + signatures + cluster joins) — at
    * cluster scale this persist becomes a checkpointed intermediate table
    * via [[Lineage]].
    *
    * The cache is built UNCOMPRESSED: measured at 2M docs, building the
    * default compressed columnar cache cost 79–245 s against 22 s
    * uncompressed (the dictionary/RLE encoders choke on long high-entropy
    * text columns), i.e. compression cost 3–10× the entire scoring
    * compute. The flag is captured at cache registration, so it is scoped
    * to this persist and restored immediately.
    */
  def run(pages: DataFrame, cfg: PipelineConfig = PipelineConfig(),
          models: Models = defaultModels): DataFrame = {
    val conf = pages.sparkSession.conf
    val key = "spark.sql.inMemoryColumnarStorage.compressed"
    val prev = conf.get(key, "true")
    conf.set(key, "false")
    // materialize, NOT persist: the returned frame references the scored
    // intermediate, so a persist here leaked one CacheManager entry per
    // run() call on a long-lived session (CI, notebooks). localCheckpoint
    // stores serialized UnsafeRows (no columnar compression at all); the
    // reliable-checkpoint path persists internally, where the scoped
    // compression flag still applies.
    val scored =
      try score(pages, cfg, models).transform(graft.SparkUtil.materialize)
      finally conf.set(key, prev)
    dedup(scored, cfg)
  }

  /** Exclusion-sink split (reference: per-stage removed-doc audit dirs,
    * findweb.py:95-113): returns (kept, dropped) without recomputation
    * when `result` is persisted; the dropped side is partitioned by
    * drop_stage at write time.
    */
  def split(result: DataFrame): (DataFrame, DataFrame) =
    (result.filter(col("keep")), result.filter(!col("keep")))
}
