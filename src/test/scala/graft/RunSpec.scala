package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.Synth

/** CI drive of the spark-submit composition (`Run.execute` — main minus
  * session lifecycle): flags compose, stage accounting holds, and the
  * incremental signature round-trip gates a second run's input.
  */
class RunSpec extends SparkSpec {

  private def dir(): String = Files.createTempDirectory("run_spec").toString

  private def stages(json: String): Map[String, Long] =
    """"([0-9a-z_]+)":(\d+)""".r.findAllMatchIn(
      json.substring(json.indexOf("\"stages\"")))
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  test("--fix-mojibake/--keep-latest/--robots-respect: repair, revisit " +
       "collapse and compliance audit compose; off = untouched") {
    val in = dir() + "/in"; val out = dir(); val outPlain = dir()
    import spark.implicits._
    def doc(i: Int) = Synth.cleanDoc(Synth.rngFor(47, i), Synth.EnVocab, 8)
    def corrupt(s: String) = new String(s.getBytes("UTF-8"), "windows-1252")
    val normal = (1 to 40).map { i =>
      (s"https://ok$i.example.com/p/$i", Synth.tsOf(i),
        Array.empty[Byte], doc(i), "en")
    }
    // mojibake page: the accented tail garbles without repair (ASCII
    // passes through corrupt() unchanged, so the doc stays keepable
    // either way — the assertion is on the scrubbed bytes)
    val moji = Seq(("https://moji.example.com/1", Synth.tsOf(100),
      Array.empty[Byte],
      corrupt(doc(100) + " visit the café étage today."), "en"))
    // one url fetched three times; only the NEWEST revision is keepable
    val revisits = Seq(
      ("https://revisit.example.com/p", Synth.tsOf(200),
        Array.empty[Byte], "junk", "en"),
      ("https://revisit.example.com/p", Synth.tsOf(202),
        Array.empty[Byte], doc(202), "en"),
      ("https://revisit.example.com/p", Synth.tsOf(201),
        Array.empty[Byte], "junk again", "en"))
    // clean text but the page opted out via robots meta — once in plain
    // UTF-8 and once as a BOM'd UTF-16LE payload (a blind UTF-8 cast
    // interleaves NULs and would miss the opt-out entirely)
    val robots = Seq(
      ("https://optout.example.com/1", Synth.tsOf(300),
        "<html><head><meta name=\"robots\" content=\"noindex\"></head></html>"
          .getBytes("UTF-8"), doc(300), "en"),
      ("https://optout16.example.com/1", Synth.tsOf(301),
        Array(0xFF.toByte, 0xFE.toByte) ++
          ("<html><head><meta name=\"robots\" content=\"noindex\">" +
            "</head></html>").getBytes("UTF-16LE"), doc(301), "en"))
    (normal ++ moji ++ revisits ++ robots)
      .toDF("url", "warc_ts", "html", "text", "lang").write.parquet(in)

    val json = Run.execute(spark, Map("input" -> in, "format" -> "parquet",
      "output" -> out, "fix-mojibake" -> "true", "keep-latest" -> "true",
      "robots-respect" -> "true"))
    val kept = spark.read.parquet(s"$out/kept").cache()
    val removed = spark.read.parquet(s"$out/removed").cache()
    // mojibake page repaired: the kept bytes carry the intended chars
    val mojiKept = kept.filter(col("url") === "https://moji.example.com/1")
    assert(mojiKept.count() == 1, "mojibake doc must be kept")
    assert(mojiKept.filter(col("scrubbed_text").contains("café étage"))
      .count() == 1, "scrubbed text must carry the REPAIRED characters")
    // revisit collapsed to ONE row total, and it is the newest (kept)
    val revKept = kept.filter(col("url") === "https://revisit.example.com/p")
    val revRemoved = removed
      .filter(col("url") === "https://revisit.example.com/p")
    assert(revKept.count() == 1 && revRemoved.count() == 0,
      "keep-latest must collapse revisions to the newest fetch")
    assert(revKept.select("warc_ts").head().getTimestamp(0) ==
      Synth.tsOf(202))
    // robots opt-out lands in its own audit stage — BOTH encodings
    assert(removed.filter(col("url") === "https://optout.example.com/1" &&
      col("drop_stage") === "0_robots_noindex").count() == 1)
    assert(removed.filter(col("url") === "https://optout16.example.com/1" &&
      col("drop_stage") === "0_robots_noindex").count() == 1,
      "a BOM'd UTF-16 opt-out must be honored too")
    assert(stages(json).getOrElse("0_robots_noindex", 0L) == 2L)
    kept.unpersist(); removed.unpersist()

    // without the flags: revisions all flow through, mojibake damage
    // survives to the scrubbed bytes, the robots page is kept
    // (reference parity)
    Run.execute(spark, Map("input" -> in, "format" -> "parquet",
      "output" -> outPlain))
    val keptP = spark.read.parquet(s"$outPlain/kept")
    val removedP = spark.read.parquet(s"$outPlain/removed")
    assert(keptP.filter(col("url") === "https://optout.example.com/1")
      .count() == 1)
    assert(keptP.filter(col("url") === "https://moji.example.com/1" &&
      col("scrubbed_text").contains("cafÃ©")).count() == 1,
      "without --fix-mojibake the damage must flow through untouched")
    assert(keptP.filter(col("url") === "https://revisit.example.com/p")
      .count() +
      removedP.filter(col("url") === "https://revisit.example.com/p")
        .count() == 3)
  }

  test("--robots-txt: disallowed pages drop pre-score; ruleless hosts flow") {
    val in = dir() + "/in"; val rb = dir() + "/robots"; val out = dir()
    import spark.implicits._
    def doc(i: Int) = Synth.cleanDoc(Synth.rngFor(53, i), Synth.EnVocab, 8)
    val rows = (1 to 30).map { i =>
      // one mixed-case variant: hostnames are case-insensitive and the
      // gate must still meet the lowercase rules row
      // case variant (hostnames are case-insensitive) and a port
      // variant (rules key on the host, not the authority — the port
      // must not fail the gate open)
      val host =
        if (i == 6) "Blocked.Example.COM"
        else if (i == 9) "blocked.example.com:8443"
        else if (i % 3 == 0) "blocked.example.com"
        else s"open$i.example.com"
      val path = if (i % 3 == 0) s"/private/$i" else s"/p/$i"
      // a few junk docs on OPEN hosts so removed/ is non-empty (an
      // all-kept run writes no removed parquet to read back)
      val text = if (i % 10 == 1) "junk" else doc(i)
      (s"https://$host$path", Synth.tsOf(i), Array.empty[Byte], text, "en")
    }
    rows.toDF("url", "warc_ts", "html", "text", "lang").write.parquet(in)
    // duplicate rules rows for one host (crawl snapshots + a case
    // variant): the gate must merge them, not fan pages out 3x —
    // the docs_in pin below catches any multiplication
    Seq(
      ("blocked.example.com", "User-agent: *\nDisallow: /private/\n"),
      ("blocked.example.com", "User-agent: *\nDisallow: /private/\n"),
      ("Blocked.example.com", "User-agent: *\nDisallow: /legacy/\n"))
      .toDF("host", "content").write.parquet(rb)
    val json = Run.execute(spark, Map("input" -> in, "format" -> "parquet",
      "output" -> out, "robots-txt" -> rb))
    val all = spark.read.parquet(s"$out/kept").select("url").as[String]
      .collect().toSet ++
      spark.read.parquet(s"$out/removed").select("url").as[String]
        .collect().toSet
    assert(!all.exists(_.toLowerCase.contains("blocked.example.com")),
      "disallowed pages must be gone before scoring")
    assert(all.exists(_.contains("open1.example.com")))
    assert(json.contains("\"docs_in\":20"), s"pre-filter count wrong: $json")
  }

  test("input lacking optional columns (lang/html/warc_ts) still runs; " +
       "missing required column fails fast") {
    val in = dir() + "/in"; val out = dir()
    import spark.implicits._
    (1 to 40).map(i => (s"https://bare$i.example.com/p/$i",
        Synth.cleanDoc(Synth.rngFor(61, i), Synth.EnVocab, 8)))
      .toDF("url", "text").write.parquet(in)
    val json = Run.execute(spark, Map("input" -> in,
      "format" -> "parquet", "output" -> out))
    assert(json.contains("\"docs_in\":40"))
    assert(spark.read.parquet(s"$out/kept").count() > 0)
    // case-VARIANT optional column: presence check must be
    // case-insensitive like Spark's resolver, else the null fill would
    // REPLACE the populated column
    val inCase = dir() + "/incase"; val outCase = dir()
    (1 to 30).map(i => (s"https://cased$i.example.com/p/$i",
        Synth.cleanDoc(Synth.rngFor(62, i), Synth.EnVocab, 8), "en"))
      .toDF("url", "text", "Lang").write.parquet(inCase)
    Run.execute(spark, Map("input" -> inCase,
      "format" -> "parquet", "output" -> outCase))
    val keptCase = spark.read.parquet(s"$outCase/kept")
    assert(keptCase.count() > 0 &&
      keptCase.filter(col("lang").isNull).count() == 0,
      "a populated case-variant column must survive, not be nulled")
    val bad = dir() + "/bad"
    (1 to 3).map(i => (s"u$i", i)).toDF("not_url", "i")
      .write.parquet(bad)
    val e = intercept[IllegalArgumentException] {
      Run.execute(spark, Map("input" -> bad,
        "format" -> "parquet", "output" -> dir()))
    }
    assert(e.getMessage.contains("'url'"))
  }

  test("full composition: url-dedup, span rewrites, dsir selection") {
    val out = dir()
    val json = Run.execute(spark, Map(
      "synth" -> "2000", "output" -> out, "repartition" -> "8",
      "url-dedup" -> "true", "span-dedup" -> "20", "substring-dedup" -> "12",
      "dsir-target" -> "/root/testdata/sf0.001/documents.parquet",
      "dsir-keep" -> "500"))
    val st = stages(json)
    assert(st("kept") == 500L, s"dsir cap not applied: $json")
    assert(st.contains("8_dsir") && st("8_dsir") > 0)
    assert(st.contains("7_minhash_dup"))
    // kept output exists and is non-empty; demoted docs in the audit dir
    assert(spark.read.parquet(s"$out/kept").count() == 500L)
    val removed = spark.read.parquet(s"$out/removed")
    assert(removed.filter(col("drop_stage") === "8_dsir").count() == st("8_dsir"))
  }

  test("--frequent-lines strips a planted banner from every kept doc; " +
      "dropped docs stay byte-identical; bad spec dies at parse time") {
    import spark.implicits._
    val in = dir() + "/freqin"; val out = dir()
    val banner = "accept all cookies to continue browsing this site"
    // 40 clean docs all carrying the banner line + unique bodies; the
    // banner (40 docs > maxDocs=10) must vanish from EVERY kept doc
    (1 to 40).map(i => (s"https://freq$i.example.com/p/$i",
        s"${Synth.cleanDoc(Synth.rngFor(63, i), Synth.EnVocab, 8)}\n$banner"))
      .toDF("url", "text").write.parquet(in)
    Run.execute(spark, Map("input" -> in, "format" -> "parquet",
      "output" -> out, "repartition" -> "4", "frequent-lines" -> "10"))
    val kept = spark.read.parquet(s"$out/kept")
    assert(kept.count() > 0)
    assert(kept.filter(col("scrubbed_text").contains(banner)).count() == 0,
      "banner must be removed from every kept doc")
    // with the flag OFF the banner ships — the rewrite is opt-in
    val out2 = dir()
    Run.execute(spark, Map("input" -> in, "format" -> "parquet",
      "output" -> out2, "repartition" -> "4"))
    val kept2 = spark.read.parquet(s"$out2/kept")
    assert(kept2.filter(col("scrubbed_text").contains(banner)).count() ==
      kept2.count(), "flag off: the banner must survive untouched")
    // malformed spec dies before any job launches
    val e = intercept[IllegalArgumentException] {
      Run.execute(spark, Map("input" -> in, "format" -> "parquet",
        "output" -> dir(), "frequent-lines" -> "0,x"))
    }
    assert(e.getMessage.contains("--frequent-lines"))
  }

  /** Pins the --sort-by-pos layout contract on `$out/kept`: shuffle_pos
    * is the gapless permutation 1..kept and per-file [min,max] ranges
    * are disjoint + contiguous in lexicographic file-name order. */
  private def assertSortedByPos(out: String, minFiles: Int): Unit = {
    val kept = spark.read.parquet(s"$out/kept")
      .select(input_file_name().as("f"), col("shuffle_pos").as("p"))
    val n = kept.count()
    assert(kept.agg(min("p"), max("p"), countDistinct("p")).head() ==
      org.apache.spark.sql.Row(1L, n, n))
    val ranges = kept.groupBy("f")
      .agg(min("p").as("lo"), max("p").as("hi"), count(lit(1)).as("c"))
      .orderBy("f").collect()
    assert(ranges.length >= minFiles,
      s"expected >= $minFiles output files, got ${ranges.length}")
    var next = 1L
    ranges.foreach { r =>
      assert(r.getLong(1) == next,
        s"file ${r.getString(0)} starts at ${r.getLong(1)}, expected $next")
      assert(r.getLong(2) - r.getLong(1) + 1 == r.getLong(3))
      next = r.getLong(2) + 1
    }
    assert(next == n + 1)
  }

  test("--sort-by-pos ships the kept corpus as disjoint ordered " +
      "shuffle_pos ranges per file") {
    import spark.implicits._
    val out = dir()
    // explicit shard count: user-pinned range partitioning (AQE would
    // coalesce 2000 docs to one file, which is right at scale but leaves
    // the multi-file range invariant untested)
    Run.execute(spark, Map("synth" -> "2000", "output" -> out,
      "repartition" -> "8", "shuffle-salt" -> "e0", "sort-by-pos" -> "4"))
    assertSortedByPos(out, minFiles = 2)
    // without --shuffle-salt the flag dies at parse time
    val e = intercept[IllegalArgumentException] {
      Run.execute(spark, Map("synth" -> "100", "output" -> dir(),
        "sort-by-pos" -> "true"))
    }
    assert(e.getMessage.contains("--sort-by-pos"))
    // a non-numeric shard count dies at parse time too
    val e2 = intercept[IllegalArgumentException] {
      Run.execute(spark, Map("synth" -> "100", "output" -> dir(),
        "shuffle-salt" -> "e0", "sort-by-pos" -> "many"))
    }
    assert(e2.getMessage.contains("shard count"))
  }

  test("--sort-by-pos survives --compact-target: compaction preserves " +
      "the training-order layout") {
    val out = dir()
    // tiny compact target forces a multi-file rewrite; without the
    // order-preserving path the round-robin repartition would scramble
    // shuffle_pos across files
    Run.execute(spark, Map("synth" -> "2000", "output" -> out,
      "repartition" -> "8", "shuffle-salt" -> "e0", "sort-by-pos" -> "4",
      "out-format" -> "parquet", "compact-target" -> "16384"))
    assertSortedByPos(out, minFiles = 2)
  }

  test("--skip-index/--bloom: kept corpus ships range-sorted with bloom " +
      "footers; layout flags are mutually exclusive") {
    import scala.jdk.CollectionConverters._
    val out = dir()
    Run.execute(spark, Map("synth" -> "2000", "output" -> out,
      "repartition" -> "8", "out-format" -> "parquet",
      "skip-index" -> "url", "bloom" -> "url", "bloom-ndv" -> "4096"))
    val conf = spark.sparkContext.hadoopConfiguration
    // per-file (min, max) of the url column from the parquet footers,
    // asserting every url column chunk carries a bloom filter; then
    // assert the sorted per-file ranges are pairwise disjoint
    def assertUrlRangesDisjoint(keptDir: String, what: String): Unit = {
      val files = new java.io.File(keptDir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty, s"$what: no parquet files in $keptDir")
      val ranges = files.toSeq.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(conf,
          new org.apache.hadoop.fs.Path(f.getAbsolutePath))
        val footer = r.getFooter; r.close()
        val urlCols = footer.getBlocks.asScala
          .flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == "url")
        assert(urlCols.nonEmpty &&
          urlCols.forall(_.getBloomFilterOffset >= 0),
          s"$what: ${f.getName}: url column chunk has no bloom filter")
        def s(v: Any) = v
          .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
        (urlCols.map(c => s(c.getStatistics.genericGetMin: Any)).min,
          urlCols.map(c => s(c.getStatistics.genericGetMax: Any)).max)
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, aMax), (bMin, _)) =>
          assert(aMax <= bMin, s"$what: url file ranges overlap: $ranges")
        case _ =>
      }
    }
    assertUrlRangesDisjoint(s"$out/kept", "indexed write")
    // the layout survives --compact-target: compaction must re-sort on
    // the skip key and re-write the bloom footers (+ codec), else the
    // maintenance rewrite silently strips the data-skipping contract
    val out2 = dir()
    Run.execute(spark, Map("synth" -> "2000", "output" -> out2,
      "repartition" -> "8", "out-format" -> "parquet",
      "skip-index" -> "url", "bloom" -> "url", "bloom-ndv" -> "4096",
      "out-compression" -> "zstd", "compact-target" -> "16384"))
    val files2 = new java.io.File(s"$out2/kept").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files2.length >= 2,
      s"tiny compact target must leave multiple files, got ${files2.length}")
    assert(files2.forall(_.getName.contains(".zstd.parquet")),
      "compaction dropped the --out-compression codec")
    assertUrlRangesDisjoint(s"$out2/kept", "post-compaction")
    assert(spark.read.parquet(s"$out2/kept").count() ==
      spark.read.parquet(s"$out/kept").count(),
      "compaction changed the kept row count")
    // layout flags are mutually exclusive
    val e = intercept[IllegalArgumentException] {
      Run.execute(spark, Map("synth" -> "100", "output" -> dir(),
        "shuffle-salt" -> "e0", "sort-by-pos" -> "true",
        "skip-index" -> "url"))
    }
    assert(e.getMessage.contains("at most one"))
    // a non-output column dies loudly, jsonl sinks reject the flag
    val e2 = intercept[IllegalArgumentException] {
      Run.execute(spark, Map("synth" -> "100", "output" -> dir(),
        "skip-index" -> "nope"))
    }
    assert(e2.getMessage.contains("not an output column"))
    val e3 = intercept[IllegalArgumentException] {
      Run.execute(spark, Map("synth" -> "100", "output" -> dir(),
        "out-format" -> "jsonl", "bloom" -> "url"))
    }
    assert(e3.getMessage.contains("parquet"))
    // a typo'd --out-format dies at argv time instead of silently
    // falling back to parquet (the codec check keys off the format)
    val e4 = intercept[IllegalArgumentException] {
      Run.execute(spark, Map("synth" -> "100", "output" -> dir(),
        "out-format" -> "json"))
    }
    assert(e4.getMessage.contains("--out-format"))
  }

  test("--minhash-verify: a strict threshold spares near-dups the " +
      "unverified path drops; invalid thresholds die at argv time") {
    import org.apache.spark.sql.functions.col
    def minhashDrops(extra: Map[String, String]): Long = {
      val out = dir()
      Run.execute(spark, Map("synth" -> "2000", "output" -> out,
        "repartition" -> "8", "out-format" -> "parquet") ++ extra)
      spark.read.option("basePath", s"$out/removed")
        .parquet(s"$out/removed")
        .filter(col("drop_stage") === "7_minhash_dup").count()
    }
    val unverified = minhashDrops(Map.empty)
    // estimated-Jaccard 1.0 keeps everything that is not an exact
    // signature twin — strictly fewer minhash drops than any-shared-band
    val strict = minhashDrops(Map("minhash-verify" -> "1.0"))
    assert(strict < unverified,
      s"verified drops $strict !< unverified $unverified")
    // a sub-S-curve threshold reproduces the unverified count
    val loose = minhashDrops(Map("minhash-verify" -> "0.05"))
    assert(loose == unverified)
    val e = intercept[IllegalArgumentException] {
      Run.execute(spark, Map("synth" -> "100", "output" -> dir(),
        "minhash-verify" -> "1.5"))
    }
    assert(e.getMessage.contains("--minhash-verify"))
    // a non-numeric value dies NAMING the flag, not as a bare
    // NumberFormatException from deep inside argv handling
    val e2 = intercept[RuntimeException] {
      Run.execute(spark, Map("synth" -> "100", "output" -> dir(),
        "minhash-verify" -> "abc"))
    }
    assert(e2.getMessage.contains("--minhash-verify"),
      s"expected the flag name in: ${e2.getMessage}")
  }

  test("--out-compression zstd: both sinks ship zstd parquet, round-trips") {
    val out = dir()
    Run.execute(spark, Map("synth" -> "500", "output" -> out,
      "repartition" -> "4", "out-format" -> "parquet",
      "out-compression" -> "zstd"))
    def parquets(d: String) = {
      val dd = new java.io.File(d)
      if (!dd.isDirectory) Array.empty[java.io.File]
      else dd.listFiles().flatMap {
        case f if f.isDirectory => f.listFiles()
        case f => Array(f)
      }.filter(_.getName.endsWith(".parquet"))
    }
    val kept = parquets(s"$out/kept")
    val removed = parquets(s"$out/removed")
    assert(kept.nonEmpty && removed.nonEmpty)
    assert((kept ++ removed).forall(_.getName.contains(".zstd.parquet")),
      "sink files are not zstd-coded parquet")
    // the corpus reads back whole through the codec
    val n = spark.read.parquet(s"$out/kept").count() +
      spark.read.option("basePath", s"$out/removed")
        .parquet(s"$out/removed").count()
    assert(n == 500L)
    // a typo'd codec dies at argv time
    val e = intercept[IllegalArgumentException] {
      Run.execute(spark, Map("synth" -> "100", "output" -> dir(),
        "out-compression" -> "zsdt"))
    }
    assert(e.getMessage.contains("not a supported"))
    // a parquet-only codec on a jsonl sink dies at argv time too —
    // NOT hours later when the text writer finally rejects it
    val e2 = intercept[IllegalArgumentException] {
      Run.execute(spark, Map("synth" -> "100", "output" -> dir(),
        "out-format" -> "jsonl", "out-compression" -> "zstd"))
    }
    assert(e2.getMessage.contains("jsonl"), e2.getMessage)
  }

  test("--out-compression reaches the jsonl kept sink; default stays gzip") {
    def keptNames(extra: Map[String, String]): Array[String] = {
      val out = dir()
      Run.execute(spark, Map("synth" -> "300", "output" -> out,
        "repartition" -> "2", "out-format" -> "jsonl") ++ extra)
      new java.io.File(s"$out/kept").listFiles()
        .map(_.getName).filter(_.startsWith("part-"))
    }
    // the explicit codec must win over the sink's gzip default (the
    // r5 defect: the later option("compression","gzip") silently
    // overrode the CLI's writerOptions codec)
    val bz = keptNames(Map("out-compression" -> "bzip2"))
    assert(bz.nonEmpty && bz.forall(_.endsWith(".json.bz2")),
      s"jsonl sink ignored --out-compression bzip2: ${bz.mkString(",")}")
    val gz = keptNames(Map.empty)
    assert(gz.nonEmpty && gz.forall(_.endsWith(".json.gz")),
      s"default jsonl codec regressed from gzip: ${gz.mkString(",")}")
  }

  test("--bm25-terms/--bm25-keep: relevance cap applies, audit accounts") {
    val out = dir()
    val json = Run.execute(spark, Map(
      "synth" -> "2000", "output" -> out, "repartition" -> "8",
      "bm25-terms" -> "river,ocean,bridge", "bm25-keep" -> "300"))
    val st = stages(json)
    assert(st("kept") == 300L, s"bm25 cap not applied: $json")
    assert(st.contains("8_bm25") && st("8_bm25") > 0)
    val keptDf = spark.read.parquet(s"$out/kept")
    assert(keptDf.count() == 300L)
    val removed = spark.read.parquet(s"$out/removed")
    assert(removed.filter(col("drop_stage") === "8_bm25").count() ==
      st("8_bm25"))
    // selection actually follows relevance: every kept doc must contain
    // at least one seed term (with 300 of ~1200 survivors kept from a
    // uniform vocab, zero-hit docs score 0 and cannot make the cut)
    val hits = keptDf.filter(col("scrubbed_text").contains("river") ||
      col("scrubbed_text").contains("ocean") ||
      col("scrubbed_text").contains("bridge")).count()
    assert(hits == 300L, s"kept docs without any seed term: ${300 - hits}")
  }

  test("--export-tokens ships decodable training shards for exactly the kept docs") {
    val out = dir(); val shardDir = dir() + "/shards"
    val json = Run.execute(spark, Map(
      "synth" -> "800", "output" -> out, "repartition" -> "4",
      "export-tokens" -> shardDir, "export-vocab" -> "5000",
      "export-shards" -> "4"))
    assert(json.contains("\"token_export\""), json)
    val kept = spark.read.parquet(s"$out/kept")
    val back = graft.sources.TokenShards.read(spark, shardDir)
    assert(back.count() == kept.count())
    // per-doc token COUNTS must equal the whitespace word counts of the
    // shipped text, keyed by the same content hash the export used
    val expect = kept.select(
      Run.rowKey64(col("url"), col("warc_ts"), col("scrubbed_text"))
        .as("seq_id"),
      size(filter(split(col("scrubbed_text"), "\\s+"),
        x => length(x) > 0)).cast("long").as("n"))
    val got = back.select(col("seq_id"), size(col("tokens"))
      .cast("long").as("n"))
    assert(got.except(expect).count() == 0 && expect.except(got).count() == 0)
    // the vocab decode table round-trips the most frequent word: id 1
    val vocab = spark.read.parquet(s"$shardDir/vocab")
    assert(vocab.count() > 0 && vocab.filter(col("token_id") === 1).count() == 1)
    val topWord = vocab.orderBy(col("cnt").desc, col("word"))
      .head().getString(1)
    assert(vocab.filter(col("token_id") === 1).head().getString(1) == topWord)
    // every emitted token id is inside [0, vocab]
    val maxId = back.select(max(array_max(col("tokens")))).head().getInt(0)
    assert(maxId <= vocab.count())
  }

  test("argv parser: boolean flags, optional-value --sort-by-pos") {
    // bare --sort-by-pos before another flag must NOT swallow it
    val m = Run.parseArgs(Array("--shuffle-salt", "e0", "--sort-by-pos",
      "--task-metrics", "--export-ordered"))
    assert(m("sort-by-pos") == "true" && m("task-metrics") == "true" &&
      m("export-ordered") == "true" && m("shuffle-salt") == "e0")
    // explicit shard count still parses as the value
    val m2 = Run.parseArgs(Array("--sort-by-pos", "64", "--lineage"))
    assert(m2("sort-by-pos") == "64" && m2("lineage") == "true")
    // trailing bare flag (end of argv) parses too
    assert(Run.parseArgs(Array("--sort-by-pos"))("sort-by-pos") == "true")
  }

  test("argv parser rejects unknown flags by name; every usage flag parses") {
    // a misspelled flag, or one that no longer exists, must fail before
    // main builds a session instead of running on defaults
    for (bad <- Seq(Array("--outptu", "out"), Array("--minhash-salt", "8"))) {
      val e = intercept[IllegalArgumentException](Run.parseArgs(bad))
      assert(e.getMessage.contains(bad(0)), e.getMessage)
    }
    val src = new String(Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/Run.scala")), "UTF-8")
    val from = src.indexOf("Usage (all flags optional):")
    val usage = src.substring(from, src.indexOf("\n  *\n", from))
    val flags = "--[a-z][a-z0-9-]*".r.findAllIn(usage).toSeq.distinct
      .filterNot(_ == "--class")
    assert(flags.map(_.drop(2)).toSet == Run.KnownFlags)
    for (f <- flags)
      assert(Run.parseArgs(Array(f, "1")).contains(f.drop(2)), f)
  }

  test("--export-ordered: shard files replay the training permutation") {
    val out = dir(); val shardDir = dir() + "/shards"
    Run.execute(spark, Map(
      "synth" -> "800", "output" -> out, "repartition" -> "4",
      "shuffle-salt" -> "e1", "export-tokens" -> shardDir,
      "export-shards" -> "4", "export-ordered" -> "true"))
    val man = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$shardDir/_manifest.json")), "UTF-8")
    assert(man.contains("\"ordered\":true"), man)
    // shard s must hold exactly the kept docs whose shuffle_pos falls in
    // its integer range, in that order — join idx-order back to positions
    val kept = spark.read.parquet(s"$out/kept").select(
      Run.rowKey64(col("url"), col("warc_ts"), col("scrubbed_text"))
        .as("seq_id"), col("shuffle_pos"))
    val total = kept.count()
    val back = graft.sources.TokenShards.read(spark, shardDir)
    assert(back.count() == total)
    // read each shard's idx seq_id order and map through kept's positions
    val posOf = kept.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val played = (0 until 4).flatMap { s =>
      val p = s"$shardDir/part-$s.idx"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(p))) Nil
      else {
        val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
          java.nio.file.Files.newInputStream(java.nio.file.Paths.get(p))))
        try {
          in.readInt(); in.readInt(); in.readInt() // magic, version, width
          val nSeq = in.readLong()
          (0L until nSeq).map { _ =>
            val id = in.readLong(); in.readInt(); posOf(id)
          }
        } finally in.close()
      }
    }
    assert(played == (1L to total), "idx order is not the permutation")
    // flag without its prerequisites dies at parse time
    val e = intercept[IllegalArgumentException] {
      Run.execute(spark, Map("synth" -> "100", "output" -> dir(),
        "export-ordered" -> "true"))
    }
    assert(e.getMessage.contains("--export-ordered"))
  }

  test("--compact-target collapses the kept output, preserving rows") {
    val out = dir()
    val json = Run.execute(spark, Map(
      "synth" -> "2000", "output" -> out, "repartition" -> "8",
      "compact-target" -> (64L * 1024 * 1024).toString))
    val files = new java.io.File(s"$out/kept").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 1, s"expected 1 compacted file, got $files")
    assert(json.contains("\"compact_files\":1"), json)
    assert(spark.read.parquet(s"$out/kept").count() == stages(json)("kept"))
  }

  test("--task-metrics reports aggregated task accounting in the JSON line") {
    val out = dir()
    val json = Run.execute(spark, Map(
      "synth" -> "1000", "output" -> out, "task-metrics" -> "true"))
    assert(json.contains("\"task_metrics\":{"), json)
    val tasks = "\"tasks\":(\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
    assert(tasks.exists(_ > 0), s"no tasks counted: $json")
    // a 1k-doc run shuffles (dedup groupBys) but must not spill
    assert(json.contains("\"disk_spill_mb\":0.0"), json)
    for (k <- Seq("shuffle_read_mb", "shuffle_write_mb", "cpu_sec",
        "gc_sec", "peak_exec_mem_mb", "max_task_sec", "failed_tasks"))
      assert(json.contains(s""""$k":"""), s"missing $k: $json")
    // each of the slowest tasks carries its own CPU, GC, spill and peak
    // execution memory, so a memory-stalled straggler reads off the record
    val top = org.json4s.jackson.JsonMethods.parse(json) \ "task_metrics" \
      "top_tasks"
    assert(top.children.nonEmpty, s"no top_tasks: $json")
    for (t <- top.children; k <- Seq("stage", "phase", "sec", "cpu_sec",
        "gc_sec", "mem_spill_mb", "disk_spill_mb", "peak_exec_mem_mb",
        "input_records", "shuffle_read_mb", "shuffle_write_mb"))
      assert(t \ k != org.json4s.JNothing, s"top task lacks $k: $json")
    // r5: per-phase attribution — the straggler stage must be nameable
    // from the record, not guessed (VERDICT r4 #4). Every flagship run
    // has at least score, dedup, sink and accounting phases.
    assert(json.contains("\"by_stage\":{"), json)
    for (phase <- Seq("score", "dedup", "sink", "accounting"))
      assert(json.contains(s""""$phase":{"tasks":"""),
        s"missing phase '$phase' in by_stage: $json")
    // the listener is removed on return: a second run must not double
    // the first one's counts into a fresh listener
    val json2 = Run.execute(spark, Map(
      "synth" -> "1000", "output" -> dir(), "task-metrics" -> "true"))
    val tasks2 = "\"tasks\":(\\d+)".r.findFirstMatchIn(json2)
      .map(_.group(1).toLong)
    assert(tasks2.exists(t => t > 0 && t < tasks.get * 3),
      s"listener leak suspected: first=$tasks second=$tasks2")
  }

  test("--shuffle-salt stamps kept docs with a training-order permutation") {
    val out = dir()
    Run.execute(spark, Map(
      "synth" -> "1000", "output" -> out, "shuffle-salt" -> "epoch0"))
    val kept = spark.read.parquet(s"$out/kept")
    val n = kept.count()
    val pos = kept.select("shuffle_pos")
      .collect().map(_.getLong(0)).sorted
    assert(pos.toSeq == (1L to n), "kept positions must be exactly 1..kept")
    val removed = spark.read.parquet(s"$out/removed")
    assert(removed.filter(col("shuffle_pos").isNotNull).count() == 0,
      "dropped docs must carry a null shuffle position")
  }

  test("--ppl-buckets stamps kept docs with per-language perplexity tiles") {
    val out = dir()
    Run.execute(spark, Map(
      "synth" -> "1000", "output" -> out, "ppl-buckets" -> "3"))
    val kept = spark.read.parquet(s"$out/kept")
    val n = kept.count()
    val byBucket = kept.groupBy("ppl_bucket").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"),
      s"got $byBucket")
    assert(byBucket.values.sum == n)
    // tiles are per predicted language and near-equal within each
    val skew = kept.groupBy("lang_pred", "ppl_bucket").count()
      .groupBy("lang_pred")
      .agg(max("count").as("mx"), min("count").as("mn"))
      .collect()
    skew.foreach { r =>
      assert(r.getLong(1) - r.getLong(2) <= 1,
        s"tiles must differ by at most one row: $r")
    }
    // head really is the most-fluent side per language
    val enHeadMax = kept.filter(col("ppl_bucket") === "head")
      .groupBy("lang_pred").agg(max("perplexity").as("m")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val enTailMin = kept.filter(col("ppl_bucket") === "tail")
      .groupBy("lang_pred").agg(min("perplexity").as("m")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    enHeadMax.foreach { case (lang, hm) =>
      enTailMin.get(lang).foreach(tm =>
        assert(hm <= tm, s"$lang head max $hm > tail min $tm"))
    }
    val removed = spark.read.parquet(s"$out/removed")
    assert(removed.filter(col("ppl_bucket").isNotNull).count() == 0,
      "dropped docs must carry a null bucket")
  }

  test("--ppl-keep drops the tail bucket; shuffle positions stay gapless") {
    val out = dir()
    Run.execute(spark, Map(
      "synth" -> "1000", "output" -> out, "ppl-buckets" -> "3",
      "ppl-keep" -> "head,middle", "shuffle-salt" -> "e0"))
    val kept = spark.read.parquet(s"$out/kept")
    val buckets = kept.select("ppl_bucket").distinct()
      .collect().map(_.getString(0)).toSet
    assert(buckets == Set("head", "middle"), s"got $buckets")
    // the bucket gate runs BEFORE the shuffle: positions are a gapless
    // permutation of exactly the docs that ship
    val pos = kept.select("shuffle_pos").collect().map(_.getLong(0)).sorted
    assert(pos.toSeq == (1L to kept.count()))
    // the dropped tail is audited under its own stage with its bucket
    val tail = spark.read.parquet(s"$out/removed")
      .filter(col("drop_stage") === "9_ppl_bucket")
    assert(tail.count() > 0)
    assert(tail.filter(col("ppl_bucket") =!= "tail").count() == 0)
  }

  test("--ppl-per-lang restamps kept docs with own-language scores") {
    val outA = dir(); val outB = dir()
    Run.execute(spark, Map(
      "synth" -> "1000", "output" -> outA, "ppl-buckets" -> "3"))
    Run.execute(spark, Map(
      "synth" -> "1000", "output" -> outB, "ppl-buckets" -> "3",
      "ppl-per-lang" -> "200"))
    val a = spark.read.parquet(s"$outA/kept")
      .select(col("url"), col("perplexity").as("ppl_global"))
    val b = spark.read.parquet(s"$outB/kept")
      .select(col("url"), col("perplexity").as("ppl_own"),
        col("ppl_bucket"), col("lang_pred"))
    // re-scoring never changes WHICH docs ship, only their score
    val j = a.join(b, Seq("url"), "full").cache()
    assert(j.filter(col("ppl_global").isNull || col("ppl_own").isNull)
      .count() == 0, "kept sets must be identical")
    // the per-language model is trained on the kept corpus itself, so
    // own-language scores must differ from the synthetic global LM's
    assert(j.filter(col("ppl_global") =!= col("ppl_own")).count() > 0)
    // and the bucket stage tiled the RESTAMPED scores (per language)
    val headMax = b.filter(col("ppl_bucket") === "head")
      .groupBy("lang_pred").agg(max("ppl_own").as("m")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val tailMin = b.filter(col("ppl_bucket") === "tail")
      .groupBy("lang_pred").agg(min("ppl_own").as("m")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    headMax.foreach { case (lang, hm) =>
      tailMin.get(lang).foreach(tm =>
        assert(hm <= tm, s"$lang head max $hm > tail min $tm"))
    }
    j.unpersist()
    // dropped docs keep the score that made the drop decision
    val remA = spark.read.parquet(s"$outA/removed")
      .filter(col("perplexity").isNotNull)
      .select(col("url"), col("perplexity").as("pA"))
    val remB = spark.read.parquet(s"$outB/removed")
      .filter(col("perplexity").isNotNull)
      .select(col("url"), col("perplexity").as("pB"))
    assert(remA.join(remB, "url").filter(col("pA") =!= col("pB"))
      .count() == 0, "dropped docs' scores must be untouched")
  }

  test("--datasheet ships a per-language dataset card next to the corpus") {
    val out = dir()
    Run.execute(spark, Map("synth" -> "1000", "output" -> out,
      "datasheet" -> "true"))
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "datasheet.json")), "UTF-8")
    val docsTotal = """"docs":(\d+)""".r.findAllMatchIn(raw)
      .map(_.group(1).toLong).sum
    assert(docsTotal == spark.read.parquet(s"$out/kept").count(),
      s"card docs must sum to the kept count: $raw")
    val shares = """"share":([0-9.]+)""".r.findAllMatchIn(raw)
      .map(_.group(1).toDouble).toSeq
    assert(math.abs(shares.sum - 1.0) < 0.01, s"shares must sum to 1: $raw")
    assert(raw.contains("\"avg_perplexity\""))
  }

  test("--keep-where demotes kept docs failing a signal predicate; " +
       "malformed predicate dies at parse time") {
    val out = dir(); val outPlain = dir()
    val jsonPlain = Run.execute(spark,
      Map("synth" -> "1000", "output" -> outPlain))
    // deterministic splitter that also touches a TRANSIENT signal
    // column (hapax_frac is computed for the evaluation even though
    // --signals is off and the column never ships)
    val json = Run.execute(spark, Map("synth" -> "1000", "output" -> out,
      "keep-where" -> "n_tokens % 2 = 0 AND hapax_frac IS NOT NULL"))
    val kept = spark.read.parquet(s"$out/kept")
    val keptPlain = spark.read.parquet(s"$outPlain/kept")
    val demoted = spark.read
      .parquet(s"$out/removed/drop_stage=11_keep_where")
    assert(demoted.count() > 0, "the gate must demote the odd half")
    assert(kept.count() + demoted.count() == keptPlain.count(),
      "gate only re-splits the previously-kept set")
    assert(!kept.columns.contains("hapax_frac"))
    assert(kept.filter(col("n_tokens") % 2 =!= 0).count() == 0)
    assert(demoted.filter(col("n_tokens") % 2 === 0).count() == 0)
    assert(json.contains("11_keep_where"), json)
    assert(!jsonPlain.contains("11_keep_where"))
    val e = intercept[RuntimeException] {
      Run.execute(spark, Map("synth" -> "100", "output" -> dir(),
        "keep-where" -> "n_tokens >== oops ((("))
    }
    assert(e.getMessage.contains("does not parse"))
  }

  test("--ppl-corpus restamps kept docs from the full-corpus LM; " +
       "mutually exclusive with --ppl-per-lang") {
    val outA = dir(); val outB = dir()
    Run.execute(spark, Map("synth" -> "1000", "output" -> outA))
    Run.execute(spark, Map("synth" -> "1000", "output" -> outB,
      "ppl-corpus" -> "0"))
    val a = spark.read.parquet(s"$outA/kept")
      .select(col("url"), col("perplexity").as("ppl_global"))
    val b = spark.read.parquet(s"$outB/kept")
      .select(col("url"), col("perplexity").as("ppl_corpus"))
    val j = a.join(b, Seq("url"), "full").cache()
    // re-scoring never changes WHICH docs ship, only their score
    assert(j.filter(col("ppl_global").isNull || col("ppl_corpus").isNull)
      .count() == 0, "kept sets must be identical")
    // the corpus model is trained on the kept corpus itself, so scores
    // must differ from the synthetic global LM's
    assert(j.filter(col("ppl_global") =!= col("ppl_corpus")).count() > 0)
    // self-trained typicality: finite sane scores on every kept doc
    assert(b.filter(col("ppl_corpus") <= 1.0 ||
      col("ppl_corpus").isNaN).count() == 0)
    j.unpersist()
    val e = intercept[IllegalArgumentException] {
      Run.execute(spark, Map("synth" -> "200", "output" -> dir(),
        "ppl-corpus" -> "0", "ppl-per-lang" -> "100"))
    }
    assert(e.getMessage.contains("alternative"))
  }

  test("--pii-extended scrubs phones/cards on kept docs only; --signals " +
       "publishes the quality-signal vector") {
    val in = dir() + "/in"; val out = dir(); val outPlain = dir()
    import spark.implicits._
    val pii = " call (212) 555-0198 or pay 4111-1111-1111-1111 today."
    val rows = (1 to 60).map { i =>
      val base = Synth.cleanDoc(Synth.rngFor(31, i), Synth.EnVocab, 8)
      (s"https://pii$i.example.com/p/$i", Synth.tsOf(i),
        Array.empty[Byte], base + pii, "en")
    }
    rows.toDF("url", "warc_ts", "html", "text", "lang")
      .write.parquet(in)
    Run.execute(spark, Map("input" -> in, "format" -> "parquet",
      "output" -> out, "pii-extended" -> "true", "signals" -> "true"))
    val kept = spark.read.parquet(s"$out/kept").cache()
    assert(kept.count() > 0)
    assert(kept.filter(col("scrubbed_text").contains("(212) 555-0198") ||
      col("scrubbed_text").contains("4111-1111-1111-1111")).count() == 0,
      "extended PII must be scrubbed")
    assert(kept.filter(
      col("scrubbed_text").contains(graft.filters.Pii.PhoneReplacement) &&
      col("scrubbed_text").contains(graft.filters.Pii.CardReplacement))
      .count() == kept.count())
    // signal columns ship, populated on kept docs
    assert(kept.filter(col("stopword_frac").isNull ||
      col("n_words") <= 0).count() == 0)
    // readability block rides the same flag, populated on kept docs
    assert(kept.filter(col("fk_grade").isNull || col("flesch_ease").isNull
      || col("hapax_frac").isNull || col("n_sentences") < 1).count() == 0)
    kept.unpersist()
    // without the flag the default reference-parity chain leaves both
    Run.execute(spark, Map("input" -> in, "format" -> "parquet",
      "output" -> outPlain))
    val plain = spark.read.parquet(s"$outPlain/kept")
    assert(plain.filter(col("scrubbed_text")
      .contains("4111-1111-1111-1111")).count() == plain.count())
    assert(!plain.columns.contains("stopword_frac"))
  }

  test("--semdedup drops semantic near-dups under 10_semdedup; " +
       "shuffle positions stay gapless") {
    val in = dir() + "/in"; val out = dir(); val outPlain = dir()
    import spark.implicits._
    // 60 distinct clean docs + a planted semantic-duplicate triple:
    // identical text under three urls. Exact dedup is OFF so the
    // semantic stage (cosine 1.0 — same embedding, same cell at any
    // nClusters) is the only thing that can collapse them; eps is set
    // tiny so no distinct fixture docs ride along.
    val base = Synth.cleanDoc(Synth.rngFor(77L, 1L), Synth.EnVocab, 8)
    val rows = (1 to 60).map { i =>
      (s"https://sem$i.example.com/p/$i", Synth.tsOf(i),
        Array.empty[Byte],
        Synth.cleanDoc(Synth.rngFor(78L, i.toLong), Synth.EnVocab, 8), "en")
    } ++ Seq("a", "b", "c").zipWithIndex.map { case (s, i) =>
      (s"https://semdup.example.com/$s", Synth.tsOf(100 + i),
        Array.empty[Byte], base, "en")
    }
    rows.toDF("url", "warc_ts", "html", "text", "lang").write.parquet(in)
    val json = Run.execute(spark, Map(
      "input" -> in, "format" -> "parquet", "output" -> out,
      "no-exact" -> "true", "no-minhash" -> "true",
      "semdedup" -> "0.000001,4", "shuffle-salt" -> "e0"))
    val st = stages(json)
    assert(st.getOrElse("10_semdedup", 0L) == 2L,
      s"expected exactly the 2 planted copies dropped: $json")
    val kept = spark.read.parquet(s"$out/kept").cache()
    // exactly ONE of the planted triple ships (the representative)
    assert(kept.filter(col("url").startsWith("https://semdup"))
      .count() == 1L)
    // the semdedup gate ran BEFORE the shuffle: positions are a gapless
    // permutation of exactly the docs that ship
    val pos = kept.select("shuffle_pos").as[Long].collect().sorted
    assert(pos.toSeq == (1L to kept.count()))
    kept.unpersist()
    // the two drops are audited under their stage with text preserved
    val audited = spark.read.parquet(s"$out/removed")
      .filter(col("drop_stage") === "10_semdedup")
    assert(audited.count() == 2L)
    // flag off → no 10_semdedup stage, triple ships whole
    val jsonPlain = Run.execute(spark, Map(
      "input" -> in, "format" -> "parquet", "output" -> outPlain,
      "no-exact" -> "true", "no-minhash" -> "true"))
    assert(!stages(jsonPlain).contains("10_semdedup"))
    assert(spark.read.parquet(s"$outPlain/kept")
      .filter(col("url").startsWith("https://semdup")).count() == 3L)
  }

  test("--semdedup under --lineage commits the mark table and resumes") {
    import java.nio.file.Paths
    val in = dir() + "/in"; val out = dir()
    import spark.implicits._
    // plant a semantic-dup triple (identical text, three urls) so the
    // commit path is exercised WITH real drops: an earlier build
    // committed marks under an underscore-named read root, which
    // Spark's file index silently ignores — the readback was empty and
    // every semantic drop vanished. This pin fails on that bug.
    val base = Synth.cleanDoc(Synth.rngFor(79L, 1L), Synth.EnVocab, 8)
    val rows = (1 to 40).map { i =>
      (s"https://lsem$i.example.com/p/$i", Synth.tsOf(i),
        Array.empty[Byte],
        Synth.cleanDoc(Synth.rngFor(80L, i.toLong), Synth.EnVocab, 8), "en")
    } ++ Seq("a", "b", "c").zipWithIndex.map { case (s, i) =>
      (s"https://lsemdup.example.com/$s", Synth.tsOf(200 + i),
        Array.empty[Byte], base, "en")
    }
    rows.toDF("url", "warc_ts", "html", "text", "lang").write.parquet(in)
    val args = Map(
      "input" -> in, "format" -> "parquet", "output" -> out,
      "lineage" -> "true", "no-exact" -> "true", "no-minhash" -> "true",
      "semdedup" -> "0.000001,4")
    val j1 = Run.execute(spark, args)
    assert(stages(j1).getOrElse("10_semdedup", 0L) == 2L,
      s"planted drops must survive the committed readback: $j1")
    assert(Files.exists(
      Paths.get(out, "_semdedup_stage", "marks", "_SUCCESS")),
      "semdedup mark table must commit under the output dir")
    // a rerun resumes the committed stages — identical accounting
    val j2 = Run.execute(spark, args)
    assert(stages(j2) == stages(j1), s"rerun diverged: $j1 vs $j2")
  }

  test("rowKey128 is 128-bit, distinct across variants, and null-field safe") {
    import spark.implicits._
    val df = Seq(
      (Option("https://ex.com/a"), Option("2024-01-01"), Option("body text")),
      // same url, different snapshot — the recurring-url case the
      // synthesized key exists for
      (Option("https://ex.com/a"), Option("2024-02-01"), Option("body text")),
      // concat_ws alone SKIPS nulls, aliasing these three rows; the
      // coalesce-to-sentinel encoding must keep them distinct
      (Option.empty[String], Option("x"), Option("y")),
      (Option("x"), Option.empty[String], Option("y")),
      (Option("x"), Option("y"), Option.empty[String])
    ).toDF("url", "warc_ts", "text")
    val keys = df.select(Run.rowKey128(
        col("url"), col("warc_ts"), col("text")).as("k"))
      .as[String].collect()
    // md5 hex = 128 bits: at 25B rows the birthday expectation is ~2^-61
    // collisions (vs ~15-20 for the 64-bit xxhash key this replaced)
    assert(keys.forall(k => k != null && k.matches("[0-9a-f]{32}")))
    assert(keys.distinct.length === keys.length,
      s"synthesized row keys collided: ${keys.mkString(", ")}")
  }

  test("--lineage commits the dedup phase; a rerun resumes both stages") {
    import java.nio.file.Paths
    val out = dir()
    val j1 = Run.execute(spark, Map(
      "synth" -> "1500", "output" -> out, "lineage" -> "true"))
    // the dedup intermediates are durably committed under the output
    assert(Files.exists(
      Paths.get(out, "_dedup_stage", "keys-bands-first", "_SUCCESS")))
    assert(Files.exists(
      Paths.get(out, "_dedup_stage", "clusters", "_SUCCESS")))
    // a rerun resumes: score stage recomputes 0 buckets (manifest) and
    // the dedup phase reads the committed tables — identical accounting
    val j2 = Run.execute(spark, Map(
      "synth" -> "1500", "output" -> out, "lineage" -> "true"))
    assert(stages(j2) == stages(j1), s"rerun diverged: $j1 vs $j2")
  }

  test("--lineage resumes the dedup phase under other file splits") {
    import java.nio.file.Paths
    val out = dir()
    val args = Map("synth" -> "1500", "output" -> out, "lineage" -> "true")
    val j1 = Run.execute(spark, args)
    val keys = Paths.get(out, "_dedup_stage", "keys-bands-first", "_SUCCESS")
    val committedAt = Files.getLastModifiedTime(keys)
    // the resume reads the committed score files in ~1 KB splits, so
    // its scan partitions differ from the first run's
    val key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, "1024")
    val j2 = try Run.execute(spark, args) finally spark.conf.unset(key)
    assert(Files.getLastModifiedTime(keys) == committedAt,
      "the rerun rebuilt the key table instead of resuming from it")
    assert(stages(j2) == stages(j1), s"rerun diverged: $j1 vs $j2")
  }

  test("signature snapshot round-trip gates an overlapping second run") {
    val out1 = dir(); val out2 = dir(); val sigs = dir() + "/sigs"
    val j1 = Run.execute(spark, Map(
      "synth" -> "2000", "output" -> out1, "repartition" -> "8",
      "write-sigs" -> sigs))
    val kept1 = stages(j1)("kept")
    assert(kept1 > 0)
    assert(spark.read.parquet(sigs).count() > 0)
    // run 2 over a superset input (synth is deterministic: the first
    // 2000 docs are identical) — gated docs_in must shrink well below
    // the raw 3000
    val j2 = Run.execute(spark, Map(
      "synth" -> "3000", "output" -> out2, "repartition" -> "8",
      "ref-sigs" -> sigs))
    val docsIn2 = """"docs_in":(\d+)""".r.findFirstMatchIn(j2).get.group(1).toLong
    assert(docsIn2 < 2000L,
      s"gate did not engage: docs_in $docsIn2 of 3000 (run2: $j2)")
    assert(docsIn2 > 0L)
    // verified incremental gating: the snapshot is vector-format, so
    // --minhash-verify composes with --ref-sigs — exact re-crawls
    // verify at estJaccard 1.0 and the gate still engages
    val j3 = Run.execute(spark, Map(
      "synth" -> "3000", "output" -> dir(), "repartition" -> "8",
      "ref-sigs" -> sigs, "minhash-verify" -> "0.8"))
    val docsIn3 = """"docs_in":(\d+)""".r.findFirstMatchIn(j3).get.group(1).toLong
    assert(docsIn3 < 2000L && docsIn3 > 0L,
      s"verified gate did not engage: docs_in $docsIn3 (run3: $j3)")
    // a verified run against a legacy BAND-format snapshot dies loudly
    // instead of silently gating unverified
    val bandSigs = dir() + "/band_sigs"
    graft.dedup.MinHash.bandsFromVectors(spark.read.parquet(sigs))
      .write.parquet(bandSigs)
    val e = intercept[IllegalArgumentException] {
      Run.execute(spark, Map(
        "synth" -> "1000", "output" -> dir(), "repartition" -> "8",
        "ref-sigs" -> bandSigs, "minhash-verify" -> "0.8"))
    }
    assert(e.getMessage.contains("vector snapshot"))
  }
}
