package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.dedup.MinHash
import graft.pipeline.{CorpusPipeline, Synth}

/** Pins for the materialization discipline: reliable checkpoints must not
  * compute the frame twice, and the operators that return frames backed
  * by intermediates must not leak CacheManager entries across calls on a
  * long-lived session.
  */
class SparkUtilSpec extends SparkSpec {

  /** `SparkContext.checkpointDir` is a private[spark] var with no public
    * unset; restore it reflectively so the reliable-checkpoint test does
    * not leave every later materialize() call in this JVM on the slower
    * disk-checkpoint path.
    */
  private def setCheckpointDirRaw(v: Option[String]): Unit = {
    val m = classOf[org.apache.spark.SparkContext]
      .getMethod("checkpointDir_$eq", classOf[Option[_]])
    m.invoke(spark.sparkContext, v)
    ()
  }

  test("materialize with a checkpoint dir computes the frame exactly once") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "precondition: no checkpoint dir")
    val dir = Files.createTempDirectory("mat_ckpt").toString
    try {
      sc.setCheckpointDir(dir)
      val acc = sc.longAccumulator("materialize_evals")
      val evalCounting = udf((x: Long) => { acc.add(1); x })
      val df = spark.range(1000).select(evalCounting(col("id")).as("v"))
      val out = SparkUtil.materialize(df)
      assert(out.count() === 1000L)
      // Spark's eager reliable checkpoint runs a materializing count job
      // AND a separate checkpoint-write job: unless both read a local
      // checkpoint of the frame, the write job recomputes it and this
      // reads 2000 — exactly double-charging the CC loop's 3 calls/round
      // on cluster deployments
      assert(acc.value === 1000L,
        s"frame evaluated ${acc.value} times; expected once")
      // no CacheManager entry is made for the input. Asserted on THIS
      // frame (lookupCachedData), not cacheManager.isEmpty: suites share
      // the session and run concurrently, so another suite's cached
      // frame can legitimately be live here (LineageSpec pins one).
      assert(spark.sharedState.cacheManager
        .lookupCachedData(
          df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty,
        "materialize leaked a CacheManager entry for its input frame")
    } finally setCheckpointDirRaw(None)
  }

  test("no pipeline job runs with the columnar-cache compression conf written") {
    // SQL confs a session has written ride every job's local properties,
    // and the session is shared: a pipeline path that sets this conf, or
    // restores it by writing the default back, leaves it written for
    // every later job of every suite. No suite writes it, so a job
    // carrying it means a pipeline path did. (graft.Run sets it only
    // while it registers its scored cache, which runs no job.)
    val key = "spark.sql.inMemoryColumnarStorage.compressed"
    def written(jobs: Seq[java.util.Properties]) =
      jobs.flatMap(p => Option(p.getProperty(key))).distinct
    val (n, runJobs) = jobsOf(
      CorpusPipeline.run(Synth.pages(spark, 300L)).count())
    assert(n === 300L && runJobs.nonEmpty)
    assert(written(runJobs).isEmpty,
      s"CorpusPipeline.run ran jobs with $key = ${written(runJobs)}")
    val out = Files.createTempDirectory("no_conf").toString
    val (json, execJobs) = jobsOf(Run.execute(spark, Map(
      "synth" -> "300", "output" -> out, "task-metrics" -> "true")))
    assert(json.contains("\"docs_in\":300") && execJobs.nonEmpty, json)
    assert(written(execJobs).isEmpty,
      s"Run.execute ran jobs with $key = ${written(execJobs)}")
  }

  test("repeated mark/run calls leave no CacheManager entries behind") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    spark.catalog.clearCache()
    import spark.implicits._
    val docs = (0 until 60).map { i =>
      val text =
        if (i % 3 == 0) "shared duplicate body of text repeated many times " * 8
        else s"unique document number $i with its own words " * 6
      (s"https://ex.com/p$i", text)
    }.toDF("url", "text")
    (1 to 3).foreach { _ =>
      assert(MinHash.mark(docs, "url", "text").count() === 60L)
    }
    (1 to 2).foreach { _ =>
      assert(CorpusPipeline.run(Synth.pages(spark, 200L)).count() === 200L)
    }
    // eventually-empty: suites share the session and run concurrently,
    // so a sibling suite's TRANSIENT scoped persist can be live at this
    // instant — poll briefly. A true leak never clears, so the pin
    // still fails deterministically on a regression.
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (!spark.sharedState.cacheManager.isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(200)
    assert(spark.sharedState.cacheManager.isEmpty,
      "mark/run leaked CacheManager entries on a long-lived session")
  }
}
