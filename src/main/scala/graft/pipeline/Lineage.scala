package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint-resumable stage execution with partition-level lineage —
  * the offline emulation of Iceberg snapshot/commit semantics (SURVEY.md
  * §7.5: `/opt/spark/jars` ships no Iceberg runtime, so snapshots become
  * partitioned Parquet + a commit manifest; the `runStage` call sites keep
  * the shape of `writeTo(table)` so a real catalog drops in unchanged).
  *
  * Model: a stage's output space is `nBuckets` hash partitions of the id
  * column. Buckets are processed in commit groups; after each group's
  * files land, a manifest line `(bucket, rows_in, rows_out, snapshot_id)`
  * is committed atomically (tmp + rename). A crashed run leaves committed
  * groups durable; re-running the stage processes ONLY missing buckets —
  * the reference's `skip_completed`/skip-if-output-exists resume
  * (/root/reference/datatrove/1_local_language_and_filter.py:71,
  * /root/reference/fasttext/mult_infer.py:162-164) at partition
  * granularity instead of file granularity.
  *
  * The manifest doubles as the per-partition metrics ledger (rows in/out
  * per bucket per commit — the north rule's "per-partition metrics
  * accumulators" surface).
  */
object Lineage {

  case class BucketCommit(bucket: Int, rowsIn: Long, rowsOut: Long,
                          snapshotId: Long)

  case class StageRun(output: DataFrame, commits: Seq[BucketCommit],
                      recomputedBuckets: Seq[Int])

  private def manifestPath(outDir: String) = Paths.get(outDir, "_lineage.csv")

  /** Read a completed stage's output WITH its `_bucket` partition column,
    * for feeding into a downstream `runStage` of the same `nBuckets`: the
    * downstream per-group filters then prune partitions instead of
    * rescanning the whole input. (`StageRun.output` drops the column for
    * ordinary consumers.)
    */
  def readStageOutput(spark: SparkSession, outDir: String): DataFrame = {
    val df = spark.read.parquet(s"$outDir/data")
    // stamp the producing run's bucket count (recoverable from a COMPLETE
    // manifest: every bucket 0..max committed) so a downstream runStage
    // with a different nBuckets fails loudly instead of dropping buckets
    val buckets = readManifest(outDir).map(_.bucket).toSet
    val complete = buckets.nonEmpty && buckets == (0 to buckets.max).toSet
    if (complete && df.columns.contains("_bucket")) {
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("graft.nBuckets", buckets.max + 1L).build()
      df.withMetadata("_bucket", meta)
    } else df
  }

  /** The stage's snapshot log: distinct commit ids in commit order —
    * the offline analogue of Iceberg's snapshot list. Each `runStage`
    * commit group appends one snapshot; a fresh single-commit run has
    * exactly one.
    */
  def snapshots(outDir: String): Seq[Long] =
    readManifest(outDir).map(_.snapshotId).distinct

  /** Iceberg-style time travel: the stage output AS OF `asOfSnapshot` —
    * exactly the buckets whose commit id is <= the requested snapshot.
    * Sound because a bucket is committed at most once per stage dir
    * (resume only ever processes MISSING buckets), so later commits
    * strictly append buckets and never rewrite earlier ones. The bucket
    * filter lands on the parquet partition column → partition pruning,
    * not a full scan.
    */
  def readSnapshot(spark: SparkSession, outDir: String,
                   asOfSnapshot: Long): DataFrame = {
    val all = readManifest(outDir)
    require(all.nonEmpty, s"readSnapshot: no committed manifest at $outDir")
    val buckets = all.filter(_.snapshotId <= asOfSnapshot).map(_.bucket)
    val df = spark.read.parquet(s"$outDir/data")
    if (buckets.isEmpty) df.limit(0).drop("_bucket")
    else df.filter(col("_bucket").isin(buckets: _*)).drop("_bucket")
  }

  def readManifest(outDir: String): Seq[BucketCommit] = {
    val p = manifestPath(outDir)
    if (!Files.exists(p)) return Seq.empty
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty)
      .map { l =>
        val a = l.split(",")
        BucketCommit(a(0).toInt, a(1).toLong, a(2).toLong, a(3).toLong)
      }
  }

  private def appendManifest(outDir: String, commits: Seq[BucketCommit]): Unit = {
    val p = manifestPath(outDir)
    val prior = if (Files.exists(p))
      Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
    else Seq.empty
    val lines = prior ++ commits.map(c =>
      s"${c.bucket},${c.rowsIn},${c.rowsOut},${c.snapshotId}")
    val tmp = Paths.get(outDir, "_lineage.csv.tmp")
    Files.createDirectories(Paths.get(outDir))
    Files.write(tmp, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Run (or resume) a stage. `fn` must be a per-row/per-partition
    * transform (no cross-bucket aggregation) so bucket-wise execution is
    * semantics-preserving. Returns the full stage output (all buckets).
    *
    * Scan discipline: a commit group costs exactly ONE scan of its input
    * slice — per-bucket in/out row counts ride the write job as `observe`
    * aggregates (exactly-once per action, unlike accumulators) instead of
    * separate counting jobs, and nothing re-reads the written parquet.
    * With the default `bucketsPerCommit = 0` (one commit for the whole
    * run) a fresh 100 TB run therefore reads its input ONCE. Setting
    * `bucketsPerCommit > 0` opts into finer crash granularity — k-bucket
    * durable commits — at the documented cost of one input scan per group
    * (each group's filter prunes nothing unless the source is partitioned
    * by the id hash — see below).
    *
    * BEHAVIOR CHANGE (round 2): `bucketsPerCommit` defaulted to 16 before
    * round 2 and now defaults to 0. Unmodified call sites silently traded
    * mid-run resume granularity for the single-scan fresh run: a kill
    * before completion now resumes from NOTHING unless the caller passes
    * an explicit `bucketsPerCommit > 0`. Opt back in where crash recovery
    * matters more than the one-scan-per-group cost.
    *
    * Bucketed-input partition pruning: if `input` already carries a
    * `_bucket` column — e.g. it is a previous `runStage`'s `data/`
    * directory read via [[readStageOutput]] — that column is REUSED
    * instead of recomputing the id hash, so the per-group `isin` filter
    * becomes parquet partition pruning: a resume (or `bucketsPerCommit >
    * 0` run) scans only the missing buckets' files instead of the full
    * input (pinned by a listener-counted LineageSpec test). The caller
    * must ensure the existing bucketing used the SAME `nBuckets` and id
    * column; values ≥ `nBuckets` would never be scheduled.
    */
  def runStage(input: DataFrame, outDir: String, idCol: String,
               nBuckets: Int = 64, bucketsPerCommit: Int = 0)
              (fn: DataFrame => DataFrame): StageRun = {
    val spark = input.sparkSession
    val dataDir = s"$outDir/data"
    val done = readManifest(outDir).map(_.bucket).toSet
    val missing = (0 until nBuckets).filterNot(done)
    val inputBucketed = input.columns.contains("_bucket")
    if (inputBucketed) {
      // readStageOutput stamps the upstream run's bucket count into the
      // column metadata; a mismatched nBuckets here would silently never
      // schedule buckets >= nBuckets, so fail loudly instead.
      val f = input.schema("_bucket")
      if (f.metadata.contains("graft.nBuckets")) {
        val upstream = f.metadata.getLong("graft.nBuckets")
        require(upstream == nBuckets,
          s"input is bucketed with nBuckets=$upstream but runStage was " +
          s"called with nBuckets=$nBuckets; buckets >= $nBuckets would " +
          "silently never be processed")
      }
    }
    val hashBucketCol = pmod(xxhash64(col(idCol)), lit(nBuckets)).cast("int")
    val bucketCol = if (inputBucketed) col("_bucket").cast("int") else hashBucketCol
    val groupSize = if (bucketsPerCommit > 0) bucketsPerCommit else nBuckets

    // snapshot ids must be strictly increasing ACROSS JVMs for time
    // travel's `<= asOfSnapshot` to mean "committed no later than":
    // nanoTime has an arbitrary per-JVM origin (a resumed run could mint
    // ids BELOW the crashed run's), so ids are wall-clock millis bumped
    // past the manifest's previous maximum
    var lastSnapshot =
      readManifest(outDir).map(_.snapshotId).foldLeft(0L)(math.max)
    missing.grouped(groupSize).foreach { group =>
      lastSnapshot = math.max(System.currentTimeMillis(), lastSnapshot + 1)
      val snapshotId = lastSnapshot
      // bucketed input: filter directly on the partition column so the
      // scan prunes to the group's directories (no recomputed hash in
      // front of it — a recomputed filter is opaque to partition pruning)
      val slice = (if (inputBucketed) input
                   else input.withColumn("_bucket", bucketCol))
        .filter(col("_bucket").isin(group: _*))
      // per-bucket counts as observe aggregates: count(when) never
      // returns null on empty groups, and observe fires exactly once per
      // action — the write job below is the single scan of this group
      val obsIn = org.apache.spark.sql.Observation(s"lineage_in_$snapshotId")
      val inAggs = group.map(b =>
        count(when(col("_bucket") === b, 1)).as(s"b$b"))
      val observedIn = slice.observe(obsIn, inAggs.head, inAggs.tail: _*)
      val out = fn(observedIn)
      // if fn dropped _bucket, recompute it from the id hash (the
      // documented contract for bucketed inputs is same-nBuckets same-id
      // bucketing, so the hash reproduces the input's bucket); referencing
      // the input's _bucket column here would be unresolvable
      val outWithBucket =
        if (out.columns.contains("_bucket")) out
        else out.withColumn("_bucket", hashBucketCol)
      val obsOut = org.apache.spark.sql.Observation(s"lineage_out_$snapshotId")
      val outAggs = group.map(b =>
        count(when(col("_bucket") === b, 1)).as(s"b$b"))
      val observedOut = outWithBucket.observe(obsOut, outAggs.head, outAggs.tail: _*)
      // the writer's own option: dynamic overwrite replaces only this
      // group's bucket dirs, and the session conf stays as it was
      observedOut.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_bucket").parquet(dataDir)
      val inCounts = obsIn.get
      val outCounts = obsOut.get
      val commits = group.map(b => BucketCommit(b,
        inCounts.get(s"b$b").map(_.asInstanceOf[Long]).getOrElse(0L),
        outCounts.get(s"b$b").map(_.asInstanceOf[Long]).getOrElse(0L),
        snapshotId))
      appendManifest(outDir, commits)
    }

    val output =
      if (Files.exists(Paths.get(dataDir))) spark.read.parquet(dataDir).drop("_bucket")
      else input.limit(0)
    StageRun(output, readManifest(outDir), missing)
  }
}
