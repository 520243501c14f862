package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

/** `Probe` on tiny targets, one per layer: each target prints one
  * parseable record in the one schema, with every sample timed.
  */
class ProbeSpec extends SparkSpec {
  import spark.implicits._

  private val Fields = Seq("layer", "name", "samples", "cpu_s", "gc_s",
    "shuffle_mb", "spill_mb", "exchanges", "facts")

  // the four lineitem columns q_agg_sum reads
  private lazy val sfDir = {
    val d = java.nio.file.Files.createTempDirectory("probe_sf").toString
    (0 until 300).map(i => (if (i % 3 == 0) "A" else "N",
        if (i % 2 == 0) "F" else "O", BigDecimal(i % 50), BigDecimal(i) * 3))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
      .write.parquet(s"$d/lineitem.parquet")
    d
  }

  private def probe(layer: String, sel: String, n: Option[Long] = None)
      : Seq[JValue] = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    Probe.run(spark, layer, Probe.select(layer, sel), n, Some(sfDir))(
      r => lines += Probe.json(r))
    lines.toSeq.map { l =>
      val r = JsonMethods.parse(l)
      assert(r.asInstanceOf[JObject].obj.map(_._1) == Fields, l)
      assert(r \ "layer" == JString(layer), l)
      val samples = (r \ "samples").children
      assert(samples.size == Probe.Samples && samples.size >= 2, l)
      for (s <- samples) {
        for (k <- Seq("wall_s", "cpu_s", "gc_s", "parts"))
          assert(s \ k != JNothing, s"sample lacks $k: $l")
        assert((s \ "wall_s").asInstanceOf[JDouble].num > 0, l)
      }
      r
    }
  }

  private def fact(r: JValue, k: String): JValue = r \ "facts" \ k

  test("e2e: a query runs through the noop sink; its exchanges are counted") {
    val Seq(r) = probe("e2e", "q_agg_sum")
    assert(r \ "name" == JString("q_agg_sum"))
    assert((r \ "exchanges").asInstanceOf[JInt].num > 0, r)
  }

  test("e2e revisit: the three latest-revision forms agree") {
    val Seq(r) = probe("e2e", "revisit", Some(10000L))
    assert(fact(r, "rows") == JInt(10000))
    assert(fact(r, "survivors") == JInt(10000 / 15))
    assert(fact(r, "rows_match") == JBool(true))
    assert(fact(r, "checksum_match") == JBool(true))
    val parts = (r \ "samples")(0) \ "parts"
    assert(Seq("agg", "window", "by_id").forall(p => parts \ p != JNothing), r)
  }

  test("phase: per-job-group accounting and the slowest tasks") {
    val rs = probe("phase", "q_agg_sum,pipeline_filter_scrub", Some(200L))
    assert(rs.map(r => r \ "name") ==
      Seq(JString("q_agg_sum"), JString("pipeline_filter_scrub")))
    for ((r, group) <- rs.zip(Seq("q_agg_sum", "score"))) {
      assert((fact(r, "phases") \ group \ "tasks").asInstanceOf[JInt].num > 0, r)
      val top = fact(r, "top_tasks").children
      assert(top.nonEmpty && top.forall(t => t \ "cpu_sec" != JNothing &&
        t \ "peak_exec_mem_mb" != JNothing), r)
    }
    assert(fact(rs(1), "rows") == JInt(200))
  }

  test("plan: formatted explain plus Exchange and join counts") {
    val Seq(r) = probe("plan", "q_agg_sum")
    assert((r \ "exchanges").asInstanceOf[JInt].num == 1, r)
    val JString(explain) = fact(r, "explain")
    assert(explain.contains("Exchange"), explain)
    assert(fact(r, "joins") == JObject())
  }

  test("kernel: one record per component, with its per-doc cost") {
    val rs = probe("kernel", "*", Some(64L))
    assert(rs.size == Probe.select("kernel", "*").size && rs.size > 10)
    assert(rs.map(r => (r \ "name").asInstanceOf[JString].s)
      .contains("langid_predict"))
    for (r <- rs) {
      assert(fact(r, "docs") == JInt(64), r)
      assert(fact(r, "us_core_per_doc").asInstanceOf[JDouble].num > 0, r)
    }
  }

  test("target selection fails on an unknown layer or target") {
    intercept[IllegalArgumentException](Probe.select("latency", "*"))
    val e = intercept[IllegalArgumentException](Probe.select("e2e", "q_nope"))
    assert(e.getMessage.contains("q_nope"))
    assert(Probe.select("e2e", "q_agg*,ann") == Seq("q_agg_sum", "ann"))
  }
}
