package graft

import java.lang.management.ManagementFactory
import java.util.SplittableRandom

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.TaskMetricsListener.inPhase
import graft.analytics.{LinkGraph, SemDedup, Similarity}
import graft.dedup.ExactDedup
import graft.filters.{Heuristics, KneserNeyLM, Pii}
import graft.pipeline.{CorpusPipeline, Synth}
import graft.sources.CorpusIO

/** Every layer figure from one command, one sampler and one record:
  *
  *   spark-submit [--master local[N]] --class graft.Probe <jar> \
  *     <e2e|phase|plan|kernel> <target>[,<target>..] [n]
  *
  * A target is a name or a `prefix*` glob over the layer's targets.
  *   - `e2e`: every `SparkEntry.queries` name through the noop sink (every
  *     column of every row, so no count-side pruning flatters a query),
  *     and the operator-scale `ann` (n vectors, default 1M), `lm` (n docs,
  *     4M), `graph` (n nodes, 1M), `semdedup` (n vectors, 500k),
  *     `revisit`/`revisit_hot` (n rows, 10M) and `skipindex` (n rows, 5M).
  *   - `phase`: any query, `pipeline_filter_scrub`, `pipeline_full_dedup`
  *     or `dedup_steps` (n pages, default 40k); facts carry each job
  *     group's task accounting (`phases`) and the slowest tasks.
  *   - `plan`: any query or pipeline; facts carry the formatted explain
  *     and join-strategy counts, `exchanges` the planned Exchanges.
  *   - `kernel`: the per-document scoring components outside Spark over n
  *     docs (default 100k) striped across the session's N cores.
  *
  * Query targets read `SPARK_GRAFT_SF_DIR`. Without `--master` the session
  * is `local[SPARK_GRAFT_CPUS]` (default: all cores).
  *
  * One JSON line per target: `{layer, name, samples[], cpu_s, gc_s,
  * shuffle_mb, spill_mb, exchanges, facts{}}`. A sample is one timed lap
  * after [[WarmUps]] untimed ones: wall, process CPU and GC seconds and
  * its named parts. `cpu_s`/`gc_s` are medians over samples,
  * `shuffle_mb`/`spill_mb` the median per-lap shuffle write and spill,
  * `exchanges` the Exchanges in the plans one lap executed.
  */
object Probe {

  val WarmUps = 1
  val Samples = 3

  final case class Sample(wall_s: Double, cpu_s: Double, gc_s: Double,
      parts: Map[String, Double])

  final case class Record(layer: String, name: String, samples: Seq[Sample],
      cpu_s: Double, gc_s: Double, shuffle_mb: Double, spill_mb: Double,
      exchanges: Int, facts: Map[String, Any])

  def json(r: Record): String = Serialization.write(r)(DefaultFormats)

  /** One timed lap; [[part]] times a named piece of it and runs its jobs
    * under that name as job group, so phase accounting and parts line up.
    */
  final class Lap private[Probe] (spark: SparkSession) {
    private[Probe] val parts =
      scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def part[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try inPhase(spark, name)(f)
      finally parts(name) = parts.getOrElse(name, 0.0) + secs(System.nanoTime() - t0)
    }
  }

  private type Facts = Map[String, Any]
  private type Sampler = (Lap => Facts) => Record

  /** A target's default size and its run: set-up, then a lap body for
    * the sampler. */
  private final case class Target(defaultN: Long,
      run: (SparkSession, Long, Sampler) => Record)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum
  private def secs(ns: Long): Double = math.rint(ns / 1e3) / 1e6
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size
    def joins(p: SparkPlan): Map[String, Int] =
      collectWithSubqueries(p) { case j: BaseJoinExec => j.nodeName }
        .groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** [[WarmUps]] untimed laps, then [[Samples]] timed ones, each under its
    * own task listener and plan counter; facts come from the last lap. */
  private def sampler(spark: SparkSession, layer: String, name: String)
                     (body: Lap => Facts): Record = {
    (1 to WarmUps).foreach(_ => body(new Lap(spark)))
    val laps = (1 to Samples).map { _ =>
      val tasks = new TaskMetricsListener
      val exchanges = new java.util.concurrent.atomic.AtomicInteger
      val plans = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          exchanges.addAndGet(Plans.exchanges(qe.executedPlan))
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.sparkContext.addSparkListener(tasks)
      spark.listenerManager.register(plans)
      try {
        val lap = new Lap(spark)
        val (c0, g0, t0) = (os.getProcessCpuTime, gcMs, System.nanoTime())
        val facts = body(lap)
        val s = Sample(secs(System.nanoTime() - t0),
          secs(os.getProcessCpuTime - c0), (gcMs - g0) / 1e3,
          ListMap(lap.parts.toSeq: _*))
        tasks.settle()
        (s, facts, tasks, exchanges.get)
      } finally {
        spark.sparkContext.removeSparkListener(tasks)
        spark.listenerManager.unregister(plans)
      }
    }
    val (_, facts, tasks, exchanges) = laps.last
    val totals = laps.map(_._3.totals)
    Record(layer, name, laps.map(_._1),
      median(laps.map(_._1.cpu_s)), median(laps.map(_._1.gc_s)),
      median(totals.map(_.shuffle_write_mb)),
      median(totals.map(t => t.mem_spill_mb + t.disk_spill_mb)), exchanges,
      if (layer != "phase") facts
      else facts ++ Map("phases" -> ListMap(tasks.phases: _*),
        "top_tasks" -> tasks.top))
  }

  /** A fresh directory, removed with its contents when the JVM exits. */
  private def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(d))
    d.toString
  }

  /** The frame a query or pipeline target plans; for `pipeline_full_dedup`
    * that is the post-materialization dedup DAG (what actually executes).
    */
  private def frame(spark: SparkSession, name: String, n: Long,
                    sfDir: Option[String]): DataFrame = name match {
    case "pipeline_filter_scrub" => CorpusPipeline.score(Synth.pages(spark, n))
    case "pipeline_full_dedup" =>
      CorpusPipeline.run(Synth.pages(spark, n)).filter(col("keep"))
    case q => SparkEntry.queries(q)(spark, sfDir.getOrElse(
      sys.error("query targets read their tables from SPARK_GRAFT_SF_DIR")))
  }

  private def targets(layer: String, sfDir: Option[String])
      : Seq[(String, Target)] = {
    val queries = SparkEntry.queries.keys.toSeq.sorted
    def each(names: Seq[String], n: Long)(
        f: (SparkSession, String, Long, Sampler) => Record) =
      names.map(q => q -> Target(n, (s, size, sample) => f(s, q, size, sample)))
    val noopRuns = each(queries, 0L)((s, q, _, sample) => sample { lap =>
      lap.part(q)(frame(s, q, 0L, sfDir).write.format("noop")
        .mode("overwrite").save())
      Map.empty
    })
    layer match {
      case "e2e" => noopRuns ++ Seq(
          "ann" -> Target(1000000L, ann),
          "lm" -> Target(4000000L, lm),
          "graph" -> Target(1000000L, graph),
          "semdedup" -> Target(500000L, semDedup),
          "revisit" -> Target(10000000L, revisit(0)),
          "revisit_hot" -> Target(10000000L, revisit(40)),
          "skipindex" -> Target(5000000L, skipIndex))
      case "phase" => noopRuns ++ Seq(
          "pipeline_filter_scrub" -> Target(40000L, (s, n, sample) =>
            sample(lap => Map("rows" -> lap.part("score")(
              CorpusPipeline.score(Synth.pages(s, n)).count())))),
          "pipeline_full_dedup" -> Target(40000L, fullDedup(steps = false)),
          "dedup_steps" -> Target(40000L, fullDedup(steps = true)))
      case "plan" => each(queries ++ Seq("pipeline_filter_scrub",
          "pipeline_full_dedup"), 40000L) { (s, q, n, sample) =>
        var planned = 0
        sample { _ =>
          val qe = frame(s, q, n, sfDir).queryExecution
          planned = Plans.exchanges(qe.executedPlan)
          Map("explain" -> qe.explainString(FormattedMode),
            "joins" -> Plans.joins(qe.executedPlan))
        }.copy(exchanges = planned)
      }
      case other => throw new IllegalArgumentException(
        s"unknown layer '$other' (have: e2e, phase, plan, kernel)")
    }
  }

  /** The names `sel` picks among a layer's targets: comma-separated
    * names or `prefix*` globs, each of which must match something.
    */
  def select(layer: String, sel: String): Seq[String] = {
    val all =
      if (layer == "kernel") Components.map(_._1)
      else targets(layer, None).map(_._1)
    sel.split(",").toSeq.flatMap { p =>
      val hit =
        if (p.endsWith("*")) all.filter(_.startsWith(p.dropRight(1)))
        else all.filter(_ == p)
      require(hit.nonEmpty,
        s"no $layer target matches '$p' (have: ${all.mkString(", ")})")
      hit
    }.distinct
  }

  /** Run `names` (from [[select]]) of `layer` on a caller-owned session,
    * handing each target's record to `emit` as it completes. A failed
    * target is reported and skipped; the call fails after the rest ran.
    */
  def run(spark: SparkSession, layer: String, names: Seq[String],
          n: Option[Long], sfDir: Option[String])(emit: Record => Unit): Unit =
    if (layer == "kernel") kernel(spark, names, n.getOrElse(100000L))(emit)
    else {
      val all = targets(layer, sfDir).toMap
      val failed = names.filterNot { name =>
        val t = all(name)
        try {
          emit(t.run(spark, n.getOrElse(t.defaultN),
            sampler(spark, layer, name)))
          true
        } catch {
          case e: Exception =>
            System.err.println(s"[probe] $layer $name failed: $e"); false
        }
      }
      if (failed.nonEmpty)
        sys.error(s"$layer targets failed: ${failed.mkString(", ")}")
    }

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: Probe <e2e|phase|plan|kernel> <target>[,<target>..] [n]")
    val names = select(args(0), args(1))
    val n = args.lift(2).map(_.toLong)
    val builder = SparkSession.builder()
      .appName(s"graft-probe-${args(0)}")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
    if (!new org.apache.spark.SparkConf().contains("spark.master"))
      builder.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString)}]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toString)
    try run(spark, args(0), names, n, sys.env.get("SPARK_GRAFT_SF_DIR"))(
      r => println(json(r)))
    finally spark.stop()
  }

  /** Score then dedup `n` synthetic pages over one scored checkpoint;
    * `steps` isolates the dedup stage's costs between the two.
    */
  private def fullDedup(steps: Boolean)(s: SparkSession, n: Long,
                                        sample: Sampler): Record =
    sample { lap =>
      val scored = lap.part("score")(CorpusPipeline.score(
        Synth.pages(s, n)).transform(SparkUtil.materialize))
      if (steps) {
        lap.part("scan")(scored.count())
        lap.part("scan_again")(scored.count())
        val alive = scored.filter(col("drop_stage").isNull)
        lap.part("narrow_project")(
          alive.select("url", "warc_ts", "scrubbed_text").count())
        lap.part("xxhash_agg")(alive.select(col("url"),
          ExactDedup.key(Seq(col("scrubbed_text"))).as("k"))
          .agg(count(col("k"))).head().getLong(0))
      }
      Map("kept" -> lap.part("dedup")(
        CorpusPipeline.dedup(scored).filter(col("keep")).count()))
    }

  /** Brute-force cosine top-k vs the trained-IVF probe (64-dim, probe 4,
    * k 100), one query then 1000 batched, over 128 planted clusters
    * (seeded centers + noise): tight clusters like real embeddings.
    */
  private def ann(spark: SparkSession, nVec: Long, sample: Sampler): Record = {
    val (dim, nClusters, nProbe, k, nQueries) = (64, 128, 4, 100, 1000)
    def center(cluster: Int): Array[Double] = {
      val r = new SplittableRandom(0xC0FFEE00L + cluster)
      Array.fill(dim)(r.nextGaussian())
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.max(math.sqrt(na) * math.sqrt(nb), 1e-12)
    }
    def probed(q: Array[Double], centroids: Array[Array[Double]]): Array[Int] =
      centroids.zipWithIndex.map { case (c, i) => (cos(q, c), i) }
        .sortBy { case (s, i) => (-s, i) }.take(nProbe).map(_._2)
    val vecUdf = udf { (id: Long) =>
      val ctr = center((id % nClusters).toInt)
      val r = new SplittableRandom(id)
      val v = new Array[Double](dim)
      var i = 0
      while (i < dim) { v(i) = ctr(i) + 0.15 * r.nextGaussian(); i += 1 }
      v
    }
    val emb: DataFrame = spark.range(nVec)
      .select(col("id").as("vec_id"), vecUdf(col("id")).as("embedding"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    emb.count() // materialize so neither path pays synthesis
    // query: a fresh point inside planted cluster 7
    val qr = new SplittableRandom(-7L)
    val query = center(7).map(_ + 0.15 * qr.nextGaussian())
    val queries = Array.tabulate(nQueries) { q =>
      val r = new SplittableRandom(0xBA7C4000L + q)
      center(q % nClusters).map(_ + 0.15 * r.nextGaussian())
    }
    val indexPath = tempDir("ann_index")
    try sample { lap =>
      val bruteIds = lap.part("brute")(
        Similarity.topK(emb, "vec_id", "embedding", query, k)
          .select("vec_id").collect().map(_.getLong(0)).toSet)
      val centroids = lap.part("train")(
        Similarity.trainCentroids(emb, "vec_id", "embedding",
          nClusters, iters = 6, sampleN = math.max(4096, 32 * nClusters)))
      // one assignment pass written partitioned by cell, so every probe
      // is a partition-pruned read: the amortized cost of the index
      lap.part("index_build")(
        Similarity.ivfAssign(emb, "vec_id", "embedding", centroids)
          .write.mode("overwrite").partitionBy("ivf_cell").parquet(indexPath))
      val index = spark.read.parquet(indexPath)
      val ivfIds = lap.part("probe")(
        Similarity.ivfTopK(index, "vec_id", "embedding", query, k,
          centroids, nProbe)
          .select("vec_id").collect().map(_.getLong(0)).toSet)
      val cellSizes = index.groupBy("ivf_cell").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val scanned = probed(query, centroids)
        .map(c => cellSizes.getOrElse(c, 0L)).sum
      val largest = cellSizes.values.maxOption.getOrElse(0L)
      // batched: per-query probe cells rank on the driver (Q × nClusters)
      val truth = lap.part("brute_batch")(batchTopK(emb, queries, k, None))
      val got = lap.part("probe_batch")(batchTopK(index, queries, k,
        Some(queries.map(probed(_, centroids)))))
      val batchRecall = queries.indices.map { q =>
        val t = truth.getOrElse(q, Seq.empty).toSet
        if (t.isEmpty) 1.0
        else got.getOrElse(q, Seq.empty).toSet.intersect(t).size.toDouble / t.size
      }.sum / nQueries
      Map("n_vectors" -> nVec,
        "recall_at_k" -> ivfIds.intersect(bruteIds).size.toDouble / bruteIds.size,
        "scanned_fraction" -> scanned.toDouble / nVec,
        "max_cell_over_ideal" ->
          largest / math.max(1.0, nVec.toDouble / nClusters),
        "batch_recall_at_k" -> batchRecall)
    } finally emb.unpersist()
  }

  /** Batched top-k: ALL queries in ONE Spark job (one job per query
    * would drown in scheduling overhead). The query block broadcasts, each
    * partition keeps one bounded k-heap per query, and a narrow window
    * reduces to the exact top-k. `cellsPerQuery` = the IVF path: the scan
    * prunes to the probed cells and each row dots only the queries
    * probing ITS cell; `None` = brute ground truth. Both paths share the
    * kernel and tie-break (sim desc, vec_id asc), so recall compares like
    * with like.
    */
  private def batchTopK(df: DataFrame, queries: Array[Array[Double]],
                        k: Int, cellsPerQuery: Option[Array[Array[Int]]])
      : Map[Int, Seq[Long]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val bcQ = spark.sparkContext.broadcast(queries)
    val bcCellToQ = cellsPerQuery.map(per => spark.sparkContext.broadcast(
      per.zipWithIndex.flatMap { case (cells, q) => cells.map(_ -> q) }
        .groupBy(_._1).map { case (c, cq) => c -> cq.map(_._2) }))
    val pruned = cellsPerQuery match {
      case Some(per) =>
        df.filter(col("ivf_cell").isInCollection(per.flatten.distinct.toSeq))
          .select(col("vec_id").cast("long"),
            col("embedding").cast("array<double>"), col("ivf_cell").cast("int"))
      case None =>
        df.select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>"), lit(-1).as("ivf_cell"))
    }
    val candidates = pruned.as[(Long, Array[Double], Int)]
      .mapPartitions { it =>
        val qs = bcQ.value
        val all = qs.indices.toArray // brute: every query
        val none = Array.empty[Int]
        val byCell = bcCellToQ.map(_.value)
        // per-query bounded worst-first heap; better = higher sim, then
        // LOWER vec_id (the window below uses the same total order)
        val ord = Ordering.by[(Double, Long), (Double, Long)] {
          case (s, id) => (-s, id)
        }
        val heaps = Array.fill(qs.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord))
        it.foreach { case (id, v, cell) =>
          val qids = byCell.fold(all)(_.getOrElse(cell, none))
          var qi = 0
          while (qi < qids.length) {
            val q = qids(qi)
            val qv = qs(q)
            var d = 0.0; var nv = 0.0
            var x = 0
            val n = math.min(v.length, qv.length)
            while (x < n) { d += v(x) * qv(x); nv += v(x) * v(x); x += 1 }
            val sim = d / math.max(math.sqrt(nv), 1e-12)
            val h = heaps(q)
            if (h.size < k) h.enqueue((sim, id))
            else {
              val (ws, wid) = h.head
              if (sim > ws || (sim == ws && id < wid)) {
                h.dequeue(); h.enqueue((sim, id))
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
          h.iterator.map { case (s, id) => (q, id, s) }
        }
      }
      .toDF("qid", "vec_id", "sim")
    // exact reduce: ≤ partitions × Q × k narrow rows through one window
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    candidates.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select("qid", "vec_id")
      .collect()
      .groupBy(_.getInt(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSeq }
  }

  /** Distributed KN training over the synthetic page corpus; token totals
    * come from the model itself, so the throughput denominator is exact.
    */
  private def lm(spark: SparkSession, nDocs: Long, sample: Sampler): Record = {
    val docs = Synth.pages(spark, nDocs).select("text")
    sample { _ =>
      val lm = KneserNeyLM.trainDistributed(docs, "text",
        maxVocab = 0, minCount = 1, maxCollectedRows = 64L * 1000 * 1000)
      Map("n_docs" -> nDocs,
        "tokens" -> (lm.unigram.values.sum - nDocs), // minus the <s> marks
        "vocab" -> lm.unigram.size, "bigram_types" -> lm.bigramTypes)
    }
  }

  /** Integer-exact PageRank (5 iterations) over a synthetic domain graph
    * of 10 edge draws per node, pure column arithmetic: src uniform, dst
    * `h1 mod (h2 mod N + 1)`, so P(dst = d) ≈ ln(N/d)/N — a log-skewed
    * in-degree with node 0 the hottest hub, like real domain graphs.
    */
  private def graph(spark: SparkSession, nNodes: Long, sample: Sampler)
      : Record = {
    val (nEdges, iters) = (10 * nNodes, 5)
    sample { lap =>
      val edges = lap.part("edge_build") {
        val m = SparkUtil.materialize(spark.range(nEdges).select(
          pmod(xxhash64(col("id"), lit(1)), lit(nNodes)).as("src"),
          pmod(xxhash64(col("id"), lit(2)),
            pmod(xxhash64(col("id"), lit(3)), lit(nNodes)) + lit(1L)).as("dst")))
        m.count()
        m
      }
      val nDistinct = edges.distinct().count()
      val ranks = lap.part("pagerank") {
        val r = LinkGraph.pagerank(edges, "src", "dst", iterations = iters)
        r.count()
        r
      }
      // hub concentration + mass ledger: evidence the skew was real and
      // the integer recurrence conserved mass up to floor loss
      val total = ranks.agg(sum("rank_ppb")).head().getLong(0)
      val top = ranks.orderBy(col("rank_ppb").desc).limit(1).head()
      val n = ranks.count()
      SparkUtil.release(edges)
      Map("n_nodes" -> n, "n_edge_draws" -> nEdges,
        "n_edges_distinct" -> nDistinct, "top_node" -> top.getLong(0),
        "top_rank_ppb" -> top.getLong(1),
        "top_share" -> top.getLong(1).toDouble / total,
        "mass_retained" -> total.toDouble / (n * LinkGraph.Scale))
    }
  }

  /** SemDeDup over planted duplicate triples (64-dim, 256 cells, 30% of
    * vectors in triples): planted-duplicate precision and recall.
    * Synthesis is per-row seeded, so reproducible at any parallelism.
    */
  private def semDedup(spark: SparkSession, nVec: Long, sample: Sampler)
      : Record = {
    val (dim, nCells) = (64, 256)
    val nTriples = (nVec * 0.3).toInt / 3
    // every direction is an independent Gaussian (pairwise cosine
    // concentrates near 0 at dim=64 — far outside any ε-ball); members of
    // a planted triple share one direction plus a jitter well inside ε
    val vecUdf = udf { (id: Long) =>
      val dupMember = id < 3L * nTriples
      val bR = new SplittableRandom(
        if (dupMember) 0xABCDL + id / 3 else 0xEF0000L + id)
      val base = Array.fill(dim)(bR.nextGaussian())
      val r = new SplittableRandom(id)
      if (!dupMember) base else base.map(x => x + 0.002 * r.nextGaussian())
    }
    val emb: DataFrame = spark.range(nVec)
      .select(col("id").as("vec_id"), vecUdf(col("id")).as("embedding"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    emb.count() // synthesis off the clock
    // centroid training (single-threaded, on the driver) is its own
    // part: scaling efficiency is read on the distributed mark
    try sample { lap =>
      val centroids = lap.part("train")(Similarity.trainCentroids(
        emb, "vec_id", "embedding", k = nCells, iters = 8,
        sampleN = math.max(8192, 32 * nCells)))
      val (marked, dropped) = lap.part("mark") {
        val m = SemDedup.mark(emb, "vec_id", "embedding",
            eps = 0.02, nClusters = nCells,
            sampleN = math.max(8192, 32 * nCells),
            maxCellSize = math.max(SemDedup.DefaultMaxCellSize, 4L * nVec / nCells),
            trainedCentroids = Some(centroids))
          .persist(StorageLevel.MEMORY_AND_DISK)
        (m, m.filter(!col("keep_sem")).count())
      }
      // planted truth: ids < 3*nTriples should collapse 3 -> 1
      val tp = marked.filter(col("vec_id") < 3L * nTriples)
        .filter(!col("keep_sem")).count()
      marked.unpersist()
      Map("n_vectors" -> nVec, "planted_triples" -> nTriples,
        "dropped" -> dropped, "recall" -> tp.toDouble / (2L * nTriples),
        "precision" -> (if (dropped == 0) 1.0 else tp.toDouble / dropped),
        "false_positives" -> (dropped - tp))
    } finally emb.unpersist()
  }

  /** Crawl-revisit resolution: `ExactDedup.keepLatest`'s `max_by`
    * aggregation vs `keepLatestById` vs the textbook window form on a
    * synthetic crawl of 15 fetches per url (~512 B payload). All three
    * must agree on the row count and an order-invariant decimal sum of a
    * full-row hash. `hotPct` > 0 routes that share of ALL rows to one url
    * — the crawl-trap skew: the window form sorts it in ONE task, both
    * aggregation forms partial-combine it map-side.
    */
  private def revisit(hotPct: Int)(spark: SparkSession, nRows: Long,
                                   sample: Sampler): Record = {
    val nUrls = math.max(nRows / 15, 1L)
    // url_id uniform; ts a hash (distinct per row with overwhelming
    // probability — ties break on the unique id anyway)
    val urlId =
      if (hotPct <= 0) pmod(col("id"), lit(nUrls))
      else when(pmod(xxhash64(col("id"), lit(9)), lit(100)) < hotPct, lit(0L))
        .otherwise(pmod(col("id"), lit(nUrls)))
    val mat = SparkUtil.materialize(spark.range(nRows).select(
      concat(lit("https://site.example.com/p/"),
        urlId.cast("string")).as("url"),
      pmod(xxhash64(col("id"), lit(1)), lit(1000000000L)).as("ts"),
      col("id"),
      repeat(md5(col("id").cast("string")), 16).as("text")))
    val built = mat.count()
    def aggPath(): DataFrame =
      ExactDedup.keepLatest(mat, Seq("url"), "ts", Seq("id"))
        .drop("n_revisions")
    def byIdPath(): DataFrame =
      ExactDedup.keepLatestById(mat, Seq("url"), "ts", "id")
        .drop("n_revisions")
    def windowPath(): DataFrame = {
      val w = Window.partitionBy(col("url"))
        .orderBy(col("ts").desc, col("id").desc)
      mat.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
    }
    def checksum(df: DataFrame): String =
      df.agg(sum(xxhash64(col("url"), col("ts"), col("id"), col("text"))
        .cast("decimal(38,0)")).cast("string")).head().getString(0)
    val checksumMatch =
      Seq(aggPath(), windowPath(), byIdPath()).map(checksum).distinct.size == 1
    try sample { lap =>
      val aggRows = lap.part("agg")(aggPath().count())
      val winRows = lap.part("window")(windowPath().count())
      val byIdRows = lap.part("by_id")(byIdPath().count())
      Map("rows" -> built, "urls" -> nUrls, "hot_pct" -> hotPct,
        "survivors" -> aggRows,
        "rows_match" -> (aggRows == winRows && winRows == byIdRows),
        "checksum_match" -> checksumMatch)
    } finally SparkUtil.release(mat)
  }

  /** What `CorpusIO.writeSkipIndexed` (range shuffle + sort + bloom
    * build) buys a reader against a round-robin control of the SAME data
    * at the SAME file count (32 files, ~0.5 KB/row), and after compaction.
    * Each probe reports the records it read: `id_point`/`id_range` prune
    * row groups on the sort key's footer min/max; `url_absent` seeks a
    * value inside every row group's min/max span but not in the corpus,
    * which only the bloom filter can reject (the incremental-crawl
    * "already kept?" shape).
    */
  private def skipIndex(spark: SparkSession, nRows: Long, sample: Sampler)
      : Record = {
    val nFiles = 32
    // sorted key doc_id, bloom key url (md5 — uncorrelated with doc_id,
    // so url min/max spans every row group)
    val corpus = spark.range(nRows).select(
      col("id").as("doc_id"),
      md5(col("id").cast("string")).as("url"),
      repeat(md5(concat(lit("t"), col("id").cast("string"))), 16).as("text"))
    val probeId = nRows / 2 + 7
    // clamp the range probe to the id space so small nRows still measure
    val rangeLen = math.min(10000L, nRows - probeId)
    require(rangeLen >= 1, s"nRows=$nRows leaves no id space to probe")
    val absentUrl = spark.range(1)
      .select(md5(lit((nRows + 99991L).toString))).head().getString(0)
    def probes(lap: Lap, layout: String, dir: String): Map[String, Long] = {
      def df: DataFrame = spark.read.parquet(dir)
      def read(probe: String)(check: => Boolean): (String, Long) =
        lap.part(s"$layout.$probe") {
          val (ok, recs) = SparkUtil.measureRecordsRead(spark)(check)
          assert(ok, s"$layout $probe returned a wrong count")
          probe -> recs
        }
      df.count() // warm the FS cache symmetrically
      ListMap(
        read("id_point")(df.filter(col("doc_id") === probeId).count() == 1L),
        read("id_range")(df.filter(col("doc_id")
          .between(probeId, probeId + rangeLen - 1)).count() == rangeLen),
        read("url_absent")(df.filter(col("url") === absentUrl).count() == 0L))
    }
    sample { lap =>
      val base = tempDir("skipindex")
      val (idxDir, ctlDir, cmpDir) =
        (s"$base/indexed", s"$base/control", s"$base/compacted")
      lap.part("write_indexed")(CorpusIO.writeSkipIndexed(corpus, idxDir,
        "doc_id", bloomCols = Seq("url"), nFiles = nFiles, bloomNdv = nRows))
      lap.part("write_control")(
        corpus.repartition(nFiles).write.mode("overwrite").parquet(ctlDir))
      val indexed = probes(lap, "indexed", idxDir)
      val control = probes(lap, "control", ctlDir)
      // a maintenance rewrite into ~256 MB files must re-sort on the key
      // and rebuild the bloom footers, else every later probe silently
      // degrades to a full scan
      val nCmp = lap.part("compact")(CorpusIO.compactParquet(spark, idxDir,
        cmpDir, targetBytesPerFile = 256L * 1024 * 1024,
        orderBy = Some("doc_id"),
        writerOptions = CorpusIO.bloomOptions(Seq("url"), nRows)))
      Map("rows" -> nRows, "files" -> nFiles, "compact_files" -> nCmp,
        "records_read" -> Map("indexed" -> indexed, "control" -> control,
          "compacted" -> probes(lap, "compacted", cmpDir)))
    }
  }

  private lazy val models = CorpusPipeline.defaultModels
  private val heurCfg = graft.model.HeuristicConfig()
  private val mhCfg = graft.dedup.MinHash.Config()
  private val Rewritten = "\nthe result was shown [citation needed] here today."

  /** Kernel components: name → per-thread consumer factory (returning
    * Long, so results fold into a digest without boxing).
    */
  private val Components: Seq[(String, () => String => Long)] = Seq(
    "tokenize" -> (() => t => models.lm.tokenize(t).length.toLong),
    "perplexity_plain" -> (() => t =>
      java.lang.Double.doubleToLongBits(models.lm.perplexity(t))),
    "perplexity_interned" -> (() => {
      val interner = new KneserNeyLM.TokenInterner()
      t => java.lang.Double.doubleToLongBits(models.lm.perplexity(t, interner))
    }),
    "langid_predict" -> (() => t =>
      java.lang.Double.doubleToLongBits(models.lang.predict(t)._2)),
    "heuristics_analyze" -> (() => t =>
      Heuristics.analyze(t, heurCfg).n_tokens.toLong),
    // over docs with a [[Rewritten]] line appended outside the timed
    // region: times C4's NON-identity path (the line-level FineWeb pass)
    "heuristics_analyze_rewrite" -> (() => t =>
      Heuristics.analyze(t, heurCfg).n_tokens.toLong),
    "pii_scrub" -> (() => t => Pii.scrub(t).length.toLong),
    "clean_text" -> (() => t => graft.text.CleanText(t).length.toLong),
    // clean_text sub-components, isolated: NFD normalization, the fold
    // loop (includes NFD), and the three-regex scrub chain alone
    "nfd_normalize" -> (() => t => java.text.Normalizer
      .normalize(t, java.text.Normalizer.Form.NFD).length.toLong),
    "ascii_fold" -> (() => t =>
      graft.text.AsciiFold(t.toLowerCase(java.util.Locale.ROOT)).length.toLong),
    // the retained pre-fusion reference itself, so the regression
    // sentinel cannot drift from what it claims to measure
    "clean_regex_chain" -> (() => t =>
      graft.text.CleanText.scrubReference(t).length.toLong),
    "minhash_bands" -> (() => t =>
      graft.dedup.MinHash.bandHashesOf(t, mhCfg).sum),
    "simhash64" -> (() => t => graft.analytics.NearDup.simhash64(t)),
    // remaining regex-bearing per-doc operators, watched for the same
    // thread-scaling collapse the clean_text chain had
    "pii_scrub_extended" -> (() => t => Pii.scrubExtended(t).length.toLong),
    "segment_sentences" -> (() => t =>
      graft.text.Segmenter.sentences(t).length.toLong),
    "textstats_compute" -> (() => t =>
      graft.text.TextStats.compute(t).nWords.toLong),
    // INPUT-SIDE cost every filterScrub lap pays: one full Synth row per
    // call, indexed by a per-thread counter instead of the input
    "synth_row" -> (() => {
      var i = 0L
      t => {
        i += 1
        val r = Synth.row(i, 1000000L, Synth.DefaultSeed)
        r.text.length.toLong + r.html.length
      }
    }))

  /** `docs` striped across `threads` threads, each with its own `mk()`
    * consumer (and task-local state); returns the folded results so
    * nothing dead-code-eliminates. A worker crash fails the lap instead
    * of shortening it into a plausible-but-bogus timing.
    */
  private def stripe(docs: Array[String], threads: Int,
                     mk: () => String => Long): Long = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val accs = new Array[Long](threads)
    val ts = (0 until threads).map(tid => new Thread(() =>
      try {
        val f = mk()
        var acc = 0L
        var i = tid
        while (i < docs.length) { acc ^= f(docs(i)); i += threads }
        accs(tid) = acc
      } catch { case e: Throwable => failure.compareAndSet(null, e) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    if (failure.get() != null) throw failure.get()
    accs.sum
  }

  /** Per-component µs·core/doc at the session's core count: attributes a
    * phase's CPU to components and shows each one's thread-scaling
    * ceiling. Every selected component warms over a slice twice first, so
    * C2 has compiled all hot loops before any lap is timed.
    */
  private def kernel(spark: SparkSession, names: Seq[String], nDocs: Long)
                    (emit: Record => Unit): Unit = {
    require(nDocs > 0 && nDocs <= Int.MaxValue, s"docs out of range: $nDocs")
    val threads = spark.sparkContext.defaultParallelism
    val docs = Array.tabulate(nDocs.toInt) { i =>
      Synth.cleanDoc(Synth.rngFor(7L, i.toLong), Synth.EnVocab, 8 + (i % 4))
    }
    val rewritten = docs.map(_ + Rewritten)
    val selected = Components.filter(c => names.contains(c._1))
    def input(name: String) =
      if (name == "heuristics_analyze_rewrite") rewritten else docs
    for (_ <- 1 to 2; (name, mk) <- selected) {
      val f = mk()
      input(name).take(20000).foreach(f(_))
    }
    for ((name, mk) <- selected) {
      val r = sampler(spark, "kernel", name) { _ =>
        Map("docs" -> nDocs, "threads" -> threads,
          "digest" -> stripe(input(name), threads, mk))
      }
      emit(r.copy(facts = r.facts + ("us_core_per_doc" ->
        math.rint(median(r.samples.map(_.wall_s)) * threads / nDocs * 1e8) / 100)))
    }
  }
}
