package graft.dedup

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pathological-skew stress (FIXTURES.md skew variant; north rule:
  * skew-aware banding): ~30% of the corpus is ONE near-dup cluster, so one
  * band_hash key holds ~30% of all signature rows. The star-reduction
  * banding (`groupBy(band).agg(min, count)` — partial aggregation absorbs
  * the hot key map-side) plus AQE must complete without a pair explosion,
  * and the distributed connected-components loop must converge on the
  * giant star component.
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("30%-hot near-dup cluster dedups correctly, edges stay linear") {
    val n = 6000
    val hot = 1800 // 30%
    val base = graft.pipeline.Synth.cleanDoc(
      graft.pipeline.Synth.rngFor(7L, 0), graft.pipeline.Synth.EnVocab, 12)
    val rows = (0 until n).map { i =>
      val text =
        if (i < hot) base + s"\nTrailing marker ${i % 7} closes the record."
        else graft.pipeline.Synth.cleanDoc(
          graft.pipeline.Synth.rngFor(7L, 1000L + i),
          graft.pipeline.Synth.EnVocab, 6 + i % 5)
      (f"u$i%06d", text)
    }
    val df = rows.toDF("id", "text")

    val sigs = MinHash.signatures(df, "id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val edges = MinHash.candidateEdges(sigs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nEdges = edges.count()
      // star reduction: O(members) edges for the hot cluster, never O(m^2)
      assert(nEdges < 3L * n, s"edge explosion: $nEdges edges for $n docs")

      // force the DISTRIBUTED CC path (driver fast path off)
      val cl = MinHash.clusters(edges, driverMaxEdges = 0L)
      val giant = cl.groupBy("cluster").count()
        .orderBy(col("count").desc).head()
      assert(giant.getLong(1) >= hot - 10,
        s"giant cluster not recovered: ${giant.getLong(1)} of $hot")
      edges.unpersist()
    } finally sigs.unpersist()
  }
}

class SpanDedupSkewSpec extends graft.SparkSpec {
  import spark.implicits._

  test("viral span shared by every doc: exact surgical result, no hot task blowup") {
    // the worst-case hash key: ONE footer span present in all 2,000 docs.
    // The first-occurrence groupBy must combine map-side (2,000 rows into
    // one (hash → min) row per partition before the exchange) and every
    // doc but the first must lose exactly that span.
    val footer = "subscribe to our newsletter today folks"
    // prefix is exactly 6 words so the footer lands on a span boundary
    val df = (0 until 2000).map(i =>
      (i.toLong, s"unique lead $i opening words now $footer"))
      .toDF("doc_id", "text").repartition(16)
    val out = SpanDedup.removeDuplicateWordSpans(df, "doc_id", "text", 6)
      .as[(Long, String)].collect().toMap
    assert(out(0L).endsWith(footer), "first occurrence must keep the span")
    (1 until 2000).foreach { i =>
      assert(out(i.toLong) == s"unique lead $i opening words now",
        s"doc $i: ${out(i.toLong)}")
    }
  }
}
