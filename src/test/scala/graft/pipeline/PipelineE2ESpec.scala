package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.dedup.{ExactDedup, MinHash}
import graft.model.{DropStage, PipelineConfig}

/** The correctness gate (BASELINE.json:2): run the full pipeline on the
  * labeled synthetic corpus and require keep/drop F1 ≥ 0.99 against the
  * generator's planted labels, byte-identical scrubbed text, and
  * parallelism-independent determinism.
  */
class PipelineE2ESpec extends SparkSpec {
  import spark.implicits._

  val N = 2000L
  lazy val rows = Synth.rows(spark, N).cache()
  lazy val result = CorpusPipeline.run(
    rows.select("url", "warc_ts", "html", "text", "lang")).cache()
  lazy val joined = result.join(
    rows.select("url", "expect_keep", "expect_stage", "expect_scrubbed", "dup_cluster"),
    "url").cache()

  test("keep/drop F1 >= 0.99 vs planted labels") {
    val agg = joined.agg(
      sum(when($"keep" && $"expect_keep", 1).otherwise(0)).as("tp"),
      sum(when($"keep" && !$"expect_keep", 1).otherwise(0)).as("fp"),
      sum(when(!$"keep" && $"expect_keep", 1).otherwise(0)).as("fn"),
      count(lit(1)).as("n")
    ).head()
    val (tp, fp, fn, n) =
      (agg.getLong(0).toDouble, agg.getLong(1).toDouble, agg.getLong(2).toDouble, agg.getLong(3))
    assert(n == N)
    val precision = tp / (tp + fp)
    val recall = tp / (tp + fn)
    val f1 = 2 * precision * recall / (precision + recall)
    info(f"precision=$precision%.4f recall=$recall%.4f f1=$f1%.4f")
    assert(f1 >= 0.99, f"F1 $f1%.4f below gate; fp=$fp fn=$fn")
  }

  test("drop stages match the planted stage on >=99% of dropped docs") {
    val dropped = joined.filter(!$"expect_keep")
    val total = dropped.count()
    val matching = dropped.filter($"drop_stage" === $"expect_stage").count()
    info(s"stage match: $matching/$total")
    assert(matching.toDouble / total >= 0.99)
  }

  test("scrubbed text is byte-identical for kept docs") {
    val kept = joined.filter($"keep" && $"expect_keep")
    val mismatches = kept.filter($"scrubbed_text" =!= $"expect_scrubbed").count()
    val total = kept.count()
    info(s"byte-identical: ${total - mismatches}/$total")
    assert(mismatches == 0,
      s"$mismatches kept docs with non-identical scrubbed bytes")
  }

  test("near-dup clusters recover the planted clusters") {
    val planted = joined.filter($"dup_cluster" >= 0)
    // every planted near-dup member ends up clustered (cluster non-null)
    val unclustered = planted.filter($"minhash_cluster".isNull).count()
    val total = planted.count()
    info(s"clustered: ${total - unclustered}/$total")
    assert(unclustered.toDouble / total <= 0.01)
    // members of the same planted cluster that got clustered share one rep
    val repsPerCluster = planted.filter($"minhash_cluster".isNotNull)
      .groupBy("dup_cluster")
      .agg(countDistinct("minhash_cluster").as("reps"))
      .filter($"reps" > 1).count()
    assert(repsPerCluster == 0, s"$repsPerCluster planted clusters split")
  }

  /** The windowed branch form that dedup used for recurring urls,
    * kept as the reference `dedup` is compared against: a keep-first
    * window over the alive rows, then `MinHash.mark` over the
    * survivors, each branch unioned back.
    */
  private def windowOracle(scored: DataFrame, cfg: PipelineConfig): DataFrame = {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val mh = MinHash.Config(cfg.minhashBands, cfg.minhashRowsPerBand,
      cfg.shingleSize, driverCcMaxEdges = cfg.ccDriverMaxEdges,
      verifyThreshold = cfg.minhashVerifyThreshold)
    val alive = scored.filter(col("drop_stage").isNull)
    val dead = scored.filter(col("drop_stage").isNotNull)
      .withColumn("minhash_cluster", lit(null).cast("string"))
    val afterExact =
      if (cfg.exactDedup)
        ExactDedup.mark(alive, Seq("scrubbed_text"), Seq("warc_ts", "url"))
          .withColumn("drop_stage",
            when(col("is_exact_dup"), lit(DropStage.ExactDup)))
          .drop("is_exact_dup")
      else alive
    val afterMinhash =
      if (cfg.minhashDedup) {
        val stillAlive = afterExact.filter(col("drop_stage").isNull)
        val exactDead = afterExact.filter(col("drop_stage").isNotNull)
          .withColumn("minhash_cluster", lit(null).cast("string"))
        val marked = MinHash.mark(stillAlive, "url", "scrubbed_text", mh)
          .withColumn("drop_stage",
            when(col("is_near_dup"), lit(DropStage.MinhashDup)))
          .drop("is_near_dup")
          .withColumn("minhash_cluster", col("minhash_cluster").cast("string"))
        marked.unionByName(exactDead)
      } else afterExact.withColumn("minhash_cluster", lit(null).cast("string"))
    afterMinhash.unionByName(dead)
      .withColumn("keep", col("drop_stage").isNull)
      .withColumn("scrubbed_text", when(col("keep"), col("scrubbed_text")))
  }

  /** Every column of every row, as multisets. */
  private def assertMatchesOracle(scored: DataFrame, cfg: PipelineConfig): Unit = {
    val a = CorpusPipeline.dedup(scored, cfg)
    val b = windowOracle(scored, cfg)
    assert(a.columns.toSeq == b.columns.toSeq,
      s"column order diverged: ${a.columns.toSeq} vs ${b.columns.toSeq}")
    val (onlyA, onlyB) = (a.exceptAll(b).collect(), b.exceptAll(a).collect())
    assert(onlyA.isEmpty && onlyB.isEmpty,
      s"dedup diverges from the windowed oracle:\n  only dedup: " +
        onlyA.take(5).mkString("; ") + "\n  only oracle: " +
        onlyB.take(5).mkString("; "))
  }

  test("dedup == the windowed oracle on unique urls") {
    val scored = CorpusPipeline.score(
      Synth.pages(spark, 1500L)).transform(graft.SparkUtil.materialize)
    assertMatchesOracle(scored, PipelineConfig())
  }

  test("dedup == the windowed oracle on recurring urls: a later exact " +
       "copy, a near-dup revision, a dropped revision sharing a live url, " +
       "byte-identical records") {
    def doc(seed: Int, english: Boolean = true): String =
      Synth.cleanDoc(Synth.rngFor(31, seed),
        if (english) Synth.EnVocab else Synth.QqVocab, 8, english = english)
    def ts(i: Long) = new java.sql.Timestamp(Synth.tsOf(5000L + i).getTime)
    val (a, b, d) = (doc(1), doc(2), doc(4))
    def revised(x: String, tail: String) = x.dropRight(12) + tail
    val extra = Seq(
      ("https://r.example.com/a", ts(1), a, "en"),
      ("https://r.example.com/a", ts(9), a, "en"),
      ("https://r.example.com/b", ts(2), b, "en"),
      ("https://r.example.com/b2", ts(8), revised(b, " and revised"), "en"),
      ("https://r.example.com/b", ts(7), revised(b, " and amended"), "en"),
      ("https://r.example.com/c", ts(3), revised(a, " for c"), "en"),
      ("https://r.example.com/c", ts(6), doc(5, english = false), "qq"),
      ("https://r.example.com/d", ts(4), d, "en"),
      ("https://r.example.com/d", ts(4), d, "en")
    ).map { case (u, t, x, l) => (u, t, Array[Byte](), x, l) }
      .toDF("url", "warc_ts", "html", "text", "lang")
    val pages = Synth.pages(spark, 300L)
    val scored = CorpusPipeline.score(pages.unionByName(extra)
      .unionByName(pages.filter(col("url") === Synth.urlOf(3L))))
      .transform(graft.SparkUtil.materialize)
    // the fixture exercises what it names: the dropped revision is dead
    // while its url is live, everything else planted is alive
    val planted = scored.filter(col("url").startsWith("https://r.example.com/"))
      .groupBy(col("drop_stage").isNull.as("alive")).count()
      .as[(Boolean, Long)].collect().toMap
    assert(planted == Map(true -> 8L, false -> 1L), s"fixture drifted: $planted")
    for (cfg <- Seq(PipelineConfig(), PipelineConfig(exactDedup = false),
                    PipelineConfig(minhashVerifyThreshold = 0.8)))
      assertMatchesOracle(scored, cfg)
    val out = CorpusPipeline.dedup(scored, PipelineConfig())
    def verdicts(url: String) = out.filter(col("url") === url)
      .select(col("keep"), col("drop_stage")).as[(Boolean, String)]
      .collect().toSeq.sortBy(_._2 == null)
    assert(verdicts("https://r.example.com/d").map(_._1).count(identity) == 1,
      "exactly one of two byte-identical records is kept")
    assert(verdicts("https://r.example.com/a") ==
      Seq((false, DropStage.ExactDup), (true, null)))
    // both revisions under url b stay (one id to MinHash); b2 near-dups them
    assert(verdicts("https://r.example.com/b").map(_._1) == Seq(true, true))
    assert(verdicts("https://r.example.com/b2").map(_._2) ==
      Seq(DropStage.MinhashDup))
    // the live c near-dups a; the dead c keeps its own stage, no cluster
    assert(verdicts("https://r.example.com/c").map(_._2).toSet ==
      Set(DropStage.NonEnglish, DropStage.MinhashDup))
    assert(out.filter(col("url") === "https://r.example.com/c" &&
      col("drop_stage") === DropStage.NonEnglish &&
      col("minhash_cluster").isNull).count() == 1L)
    assert(out.count() == scored.count())
  }

  test("dedup of a materialized scored frame runs at most 8 jobs") {
    val scored = CorpusPipeline.score(Synth.pages(spark, 4000L))
      .transform(graft.SparkUtil.materialize)
    val (out, jobs) = jobsOf(CorpusPipeline.dedup(scored))
    assert(jobs.size <= 8, s"${jobs.size} jobs")
    assert(out.count() == 4000L)
  }

  test("deterministic across input partitioning") {
    val result8 = CorpusPipeline.run(
      rows.select("url", "warc_ts", "html", "text", "lang").repartition(17))
      .select("url", "keep", "drop_stage", "scrubbed_text")
    val base = result.select("url", "keep", "drop_stage", "scrubbed_text")
    assert(base.exceptAll(result8).count() == 0)
    assert(result8.exceptAll(base).count() == 0)
  }

  test("perplexity column is populated and sane for kept docs") {
    val stats = result.filter($"keep")
      .agg(min("perplexity"), max("perplexity")).head()
    assert(stats.getDouble(0) > 1.0)
    assert(stats.getDouble(1).isFinite)
  }

  test("extractText fills empty text from html, keeps existing text byte-identical") {
    import org.apache.spark.sql.functions._
    val pages = Synth.pages(spark, 40L)
    val htmlOf = udf((t: String) =>
      (s"<html><head><title>x</title><script>var a=1;</script></head>" +
        s"<body><p>$t</p><nav><a href='/'>home</a></nav></body></html>")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val cut = Synth.tsOf(10)
    val doctored = pages
      .withColumn("html", htmlOf(col("text")))
      .withColumn("orig_text", col("text"))
      .withColumn("text", when(col("warc_ts") < cut, lit("")).otherwise(col("text")))
    val out = CorpusPipeline.extractText(doctored)
      .select("warc_ts", "text", "orig_text")
      .as[(java.sql.Timestamp, String, String)].collect()
    assert(out.length == 40)
    out.foreach { case (ts, text, orig) =>
      if (ts.before(cut)) {
        // extraction recovers the doc body; block collapse turns any
        // internal newlines into single spaces (documented)
        val collapsed = orig.split("\\s+").filter(_.nonEmpty).mkString(" ")
        assert(text == collapsed, s"extracted mismatch at $ts")
      } else assert(text == orig, s"pre-extracted text not byte-identical at $ts")
    }
  }

  test("url blocklist stage drops blocked domains first, others untouched") {
    val clean = Synth.cleanDoc(Synth.rngFor(5, 3), Synth.EnVocab, 8)
    val pages = Seq(
      ("https://spam.blocked-site.com/page1", new java.sql.Timestamp(1L),
        Array[Byte](), clean, "en"),
      ("https://sub.blocked-site.com/page2", new java.sql.Timestamp(2L),
        Array[Byte](), clean + "\nAnother closing line ends the record here.", "en"),
      ("https://good.example.org/keep", new java.sql.Timestamp(3L),
        Array[Byte](), clean, "en")
    ).toDF("url", "warc_ts", "html", "text", "lang")
    val cfg = PipelineConfig(urlBlocklist = Set("blocked-site.com"),
      minLangProb = 0.0, minhashDedup = false, exactDedup = false)
    val out = CorpusPipeline.run(pages, cfg)
      .select("url", "drop_stage").as[(String, String)].collect().toMap
    assert(out("https://spam.blocked-site.com/page1") == "0_url_filter")
    assert(out("https://sub.blocked-site.com/page2") == "0_url_filter")
    assert(out("https://good.example.org/keep") == null)
    // default (empty blocklist) config: stage is a no-op — the main E2E
    // F1/byte-identity tests above pin that path
  }

  test("perplexity gate drops gibberish when enabled") {
    val pages = Seq(
      ("https://a/1", new java.sql.Timestamp(1L), Array[Byte](),
        Synth.cleanDoc(Synth.rngFor(5, 1), Synth.EnVocab, 8), "en"),
      ("https://a/2", new java.sql.Timestamp(2L), Array[Byte](),
        Synth.cleanDoc(Synth.rngFor(5, 2), Synth.QqVocab, 8, english = false), "qq")
    ).toDF("url", "warc_ts", "html", "text", "lang")
    val cfg = PipelineConfig(keepLanguages = Set("en", "qq"), minLangProb = 0.0,
      maxPerplexity = Some(5000.0), minhashDedup = false)
    val out = CorpusPipeline.run(pages, cfg)
    val kept = out.filter($"keep").select("url").as[String].collect().toSet
    assert(kept == Set("https://a/1"))
  }

  test("Models.perLang scores docs against their own language's model, " +
       "falling back to the global LM for untrained languages") {
    import graft.filters.KneserNeyLM
    val pages = (1 to 10).map(i =>
      (s"https://en/$i", new java.sql.Timestamp(i.toLong), Array[Byte](),
        Synth.cleanDoc(Synth.rngFor(9, i), Synth.EnVocab, 8), "en")) ++
      (1 to 10).map(i =>
        (s"https://qq/$i", new java.sql.Timestamp(100L + i), Array[Byte](),
          Synth.cleanDoc(Synth.rngFor(9, 100 + i), Synth.QqVocab, 8,
            english = false), "qq"))
    val df = pages.toDF("url", "warc_ts", "html", "text", "lang")
    // an en model trained on DIFFERENT text than the global LM, so the
    // own-language score is distinguishable from the fallback score
    val enLm = KneserNeyLM.train(
      (1 to 50).map(i => Synth.cleanDoc(Synth.rngFor(11, i), Synth.EnVocab, 6)))
    val global = CorpusPipeline.defaultModels.lm
    val models = CorpusPipeline.defaultModels.copy(perLang = Map("en" -> enLm))
    // minStopWords=0: the qq vocabulary has no English stop words, and
    // this test is about the scorer, not the Gopher gate
    val cfg = PipelineConfig(
      heur = graft.model.HeuristicConfig(minStopWords = 0),
      keepLanguages = Set("en", "qq"),
      minLangProb = 0.0, exactDedup = false, minhashDedup = false)
    val got = CorpusPipeline.score(df, cfg, models = models)
      .filter($"drop_stage".isNull)
      .select("lang_pred", "scrubbed_text", "perplexity")
      .collect()
    assert(got.map(_.getString(0)).toSet == Set("en", "qq"))
    got.foreach { r =>
      val expect = r.getString(0) match {
        case "en" => enLm.perplexity(r.getString(1))      // own model
        case _    => global.perplexity(r.getString(1))    // fallback
      }
      assert(r.getDouble(2) == expect,
        s"${r.getString(0)}: got ${r.getDouble(2)}, expected $expect")
    }
    // the own-language model really is a different model: at least one
    // en doc scores differently than the global LM would score it
    assert(got.filter(_.getString(0) == "en").exists(r =>
      enLm.perplexity(r.getString(1)) != global.perplexity(r.getString(1))))
  }
}
