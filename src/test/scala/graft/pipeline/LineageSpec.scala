package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class LineageSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("lineage_test").toString

  test("stage runs to completion and records per-bucket metrics") {
    val dir = freshDir()
    val input = Synth.pages(spark, 400L)
    val run = Lineage.runStage(input, dir, "url", nBuckets = 8,
      bucketsPerCommit = 4)(df => df.filter(length(col("text")) > 0))
    assert(run.output.count() == 400L)
    assert(run.commits.map(_.bucket).sorted == (0 until 8))
    assert(run.commits.map(_.rowsIn).sum == 400L)
    assert(run.commits.map(_.rowsOut).sum == 400L)
  }

  test("dynamic bucket overwrite leaves the session conf as it was") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    try {
      val run = Lineage.runStage(Synth.pages(spark, 200L), freshDir(), "url",
        nBuckets = 8, bucketsPerCommit = 4)(identity)
      // the second group's write replaced only its own buckets
      assert(run.output.count() == 200L)
      assert(spark.conf.get(key) == "STATIC")
    } finally spark.conf.unset(key)
  }

  test("fresh run with default commit granularity scans the input once") {
    val dir = freshDir()
    val acc = spark.sparkContext.longAccumulator("scanned")
    // nondeterministic so the optimizer can't duplicate the probe into
    // both the bucket-hash and the output projection
    val counting = udf { (u: String) => acc.add(1L); u }.asNondeterministic()
    val input = Synth.pages(spark, 400L)
      .withColumn("url", counting(col("url")))
    val run = Lineage.runStage(input, dir, "url", nBuckets = 64)(identity)
    assert(run.output.count() == 400L)
    assert(run.commits.size == 64)
    assert(run.commits.map(_.rowsIn).sum == 400L)
    assert(run.commits.map(_.rowsOut).sum == 400L)
    assert(acc.value == 400L,
      s"input scanned ${acc.value / 400.0} times, expected exactly once")
  }

  test("crash mid-stage resumes from committed buckets without recompute") {
    val dir = freshDir()
    // cache scoped to this test (unpersist below): a dangling entry
    // would outlive the suite on the shared session and trip other
    // suites' CacheManager-leak pins when scheduled concurrently
    val input = Synth.pages(spark, 400L).cache()
    try {
    val poison = udf { (u: String) =>
      if (u == null) throw new RuntimeException("poison")
      u
    }

    // first attempt: second commit group fails (simulated executor crash)
    val bomb = udf { (s: String) => throw new RuntimeException("boom"); s }
    val attempt = scala.util.Try {
      Lineage.runStage(input, dir, "url", nBuckets = 8, bucketsPerCommit = 4) {
        df =>
          // fail only for buckets in the second commit group
          val failCol = when(col("_bucket") >= 4, bomb(col("url")))
            .otherwise(col("url"))
          df.withColumn("url", failCol)
      }
    }
    assert(attempt.isFailure)
    val committed = Lineage.readManifest(dir).map(_.bucket).toSet
    assert(committed == Set(0, 1, 2, 3), s"committed=$committed")

    // resume with healthy fn; count how many rows get reprocessed
    val acc = spark.sparkContext.longAccumulator("reprocessed")
    val counting = udf { (u: String) => acc.add(1L); u }
    val run2 = Lineage.runStage(input, dir, "url", nBuckets = 8,
      bucketsPerCommit = 4)(df => df.withColumn("url", counting(col("url"))))
    assert(run2.recomputedBuckets.toSet == Set(4, 5, 6, 7))
    assert(run2.output.count() == 400L)
    // only the missing buckets' rows were reprocessed (~half the corpus);
    // udf may evaluate more than once per row, so bound loosely
    val firstHalf = run2.commits.filter(c => c.bucket < 4).map(_.rowsOut).sum
    val secondHalf = run2.commits.filter(c => c.bucket >= 4).map(_.rowsOut).sum
    assert(firstHalf + secondHalf == 400L)
    assert(acc.value < 400L, s"reprocessed ${acc.value} rows, expected < 400")

    // final output identical to a clean full run
    val clean = Lineage.runStage(input, freshDir(), "url", nBuckets = 8,
      bucketsPerCommit = 8)(identity)
    val a = run2.output.select("url").as[String].collect().sorted
    val b = clean.output.select("url").as[String].collect().sorted
    assert(a.toSeq == b.toSeq)
    } finally input.unpersist(blocking = false)
  }

  test("resume over a bucketed input scans only the missing buckets' files") {
    // stage 1 writes _bucket-partitioned parquet; stage 2 reads it WITH
    // the partition column (readStageOutput), so its per-group isin
    // filter must prune partitions — a resume reads only the missing
    // buckets' rows from disk, listener-counted via task inputMetrics.
    val dir1 = freshDir()
    val input = Synth.pages(spark, 400L)
    Lineage.runStage(input, dir1, "url", nBuckets = 4)(identity)
    val bucketed = Lineage.readStageOutput(spark, dir1)
    assert(bucketed.columns.contains("_bucket"))
    val total = bucketed.count()
    assert(total == 400L)

    // first attempt at stage 2: second commit group (buckets 2,3) bombs
    val dir2 = freshDir()
    val bomb = udf { (s: String) => throw new RuntimeException("boom"); s }
    val attempt = scala.util.Try {
      Lineage.runStage(bucketed, dir2, "url", nBuckets = 4,
        bucketsPerCommit = 2) { df =>
        df.withColumn("url", when(col("_bucket") >= 2, bomb(col("url")))
          .otherwise(col("url")))
      }
    }
    assert(attempt.isFailure)
    assert(Lineage.readManifest(dir2).map(_.bucket).toSet == Set(0, 1))
    val committedRows = Lineage.readManifest(dir2).map(_.rowsOut).sum

    // resume: count records read from the source during the write job
    // (shared scoped-listener drain — SparkUtil.measureRecordsRead)
    val (run2, read) = graft.SparkUtil.measureRecordsRead(spark) {
      Lineage.runStage(bucketed, dir2, "url", nBuckets = 4,
        bucketsPerCommit = 2)(identity)
    }
    assert(run2.recomputedBuckets.toSet == Set(2, 3))
    val expected = total - committedRows // rows living in buckets 2,3
    assert(read > 0L)
    assert(read < total,
      s"resume read $read of $total rows — partition pruning " +
        s"did not engage (expected ~$expected)")
    // final output complete and identical to the unbucketed path
    assert(run2.output.count() == 400L)
  }

  test("bucketed input: stage fn may drop _bucket (hash recomputed)") {
    val dir1 = freshDir()
    val input = Synth.pages(spark, 200L)
    Lineage.runStage(input, dir1, "url", nBuckets = 4)(identity)
    val bucketed = Lineage.readStageOutput(spark, dir1)
    // a perfectly ordinary projection stage that does NOT preserve the
    // working column — must not crash on an unresolvable _bucket
    val dir2 = freshDir()
    val run = Lineage.runStage(bucketed, dir2, "url", nBuckets = 4) { df =>
      df.select("url", "text")
    }
    assert(run.output.count() == 200L)
    assert(run.commits.map(_.rowsOut).sum == 200L)
    // recomputed buckets agree with the input bucketing (same id hash):
    // per-bucket out counts equal per-bucket in counts for an identity-
    // cardinality fn
    run.commits.foreach(c => assert(c.rowsIn == c.rowsOut,
      s"bucket ${c.bucket}: in ${c.rowsIn} != out ${c.rowsOut}"))
  }

  test("bucketed input with mismatched nBuckets fails loudly") {
    val dir1 = freshDir()
    val input = Synth.pages(spark, 200L)
    Lineage.runStage(input, dir1, "url", nBuckets = 8)(identity)
    val bucketed = Lineage.readStageOutput(spark, dir1)
    val dir2 = freshDir()
    val ex = intercept[IllegalArgumentException] {
      Lineage.runStage(bucketed, dir2, "url", nBuckets = 4)(identity)
    }
    assert(ex.getMessage.contains("nBuckets=8"))
  }

  test("snapshot log and time travel: as-of reads see exactly the " +
      "buckets committed by then, across commit groups") {
    val dir = freshDir()
    val input = Synth.pages(spark, 400L)
    Lineage.runStage(input, dir, "url", nBuckets = 8,
      bucketsPerCommit = 2)(identity)
    val snaps = Lineage.snapshots(dir)
    assert(snaps.size == 4, s"4 commit groups expected: $snaps")
    assert(snaps == snaps.sorted && snaps.distinct == snaps,
      s"snapshot ids must be strictly increasing: $snaps")
    // each snapshot's as-of read returns exactly the rows of buckets
    // committed so far; the last equals the full output
    val manifest = Lineage.readManifest(dir)
    for (s <- snaps) {
      val expected = manifest.filter(_.snapshotId <= s).map(_.rowsOut).sum
      val got = Lineage.readSnapshot(spark, dir, s).count()
      assert(got == expected, s"as-of $s: got $got, expected $expected")
    }
    assert(Lineage.readSnapshot(spark, dir, snaps.last).count() == 400L)
    // before the first snapshot: empty, schema intact, no _bucket leak
    val before = Lineage.readSnapshot(spark, dir, snaps.head - 1)
    assert(before.count() == 0L && !before.columns.contains("_bucket"))
    // a RESUMED run mints ids strictly above the crashed run's (the
    // nanoTime origin trap): simulate by dropping two buckets' commits
    val manifestFile = java.nio.file.Paths.get(dir, "_lineage.csv")
    val lines = java.nio.file.Files.readAllLines(manifestFile)
    val kept = new java.util.ArrayList[String]()
    lines.forEach(l => if (!l.startsWith("6,") && !l.startsWith("7,")) kept.add(l))
    java.nio.file.Files.write(manifestFile, kept)
    Lineage.runStage(input, dir, "url", nBuckets = 8,
      bucketsPerCommit = 2)(identity)
    val resumed = Lineage.snapshots(dir)
    assert(resumed.size == 4 && resumed.last > snaps.last,
      s"resumed snapshot must sort after all prior ones: $resumed")
    assert(Lineage.readSnapshot(spark, dir, resumed.last).count() == 400L)
  }

  test("re-running a completed stage is a no-op") {
    val dir = freshDir()
    val input = Synth.pages(spark, 200L)
    Lineage.runStage(input, dir, "url", nBuckets = 4)(identity)
    val acc = spark.sparkContext.longAccumulator("rerun")
    val counting = udf { (u: String) => acc.add(1L); u }
    val run2 = Lineage.runStage(input, dir, "url", nBuckets = 4)(
      df => df.withColumn("url", counting(col("url"))))
    assert(run2.recomputedBuckets.isEmpty)
    assert(acc.value == 0L)
    assert(run2.output.count() == 200L)
  }
}
