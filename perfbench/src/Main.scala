package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkUtil
import graft.dedup.MinHash
import graft.filters.{Heuristics, Pii}
import graft.model.PipelineConfig
import graft.pipeline.CorpusPipeline
import graft.sources.CorpusIO

/** The benchmark: one workload in one JVM, as a closed loop of laps.
  *
  * A lap is the production path through public functions:
  * `CorpusIO.read` → `CorpusPipeline.run` → `CorpusIO.writeWithExclusions`,
  * over a parquet `pages` table. Every lap's output is checked against the
  * generator's truth outside the timed region; a lap that throws, loses a
  * Spark task or fails the check counts as failed.
  *
  * With `--trace 1` the run also makes traced laps, which call the steps
  * `run()` composes one at a time, each in a span with Spark task totals,
  * and it times the per-document kernels on a fixed sample.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * The last line of standard output is the result as one JSON object.
  */
object Main {

  /** Laps run and checked before timing, a fixed count so that a run that
    * never settles shows it in the warm-up times instead of hiding it.
    */
  val WarmupLaps = 3
  /** Set-up is repeated and its median reported. */
  val SetupReps = 3
  /** Timed laps are at least this many. A run fits exactly this many in
    * its `--seconds` on any machine speed seen so far; when a fast run fit
    * one lap more than a slow one, its median came from further along the
    * JIT's warm-up and the run-to-run spread doubled.
    */
  val MinTimedLaps = 4
  /** Documents of the kernel sample: the workload's first ones. */
  val KernelSample = 256
  /** Timed laps stop starting after this much run time, so that a run
    * ends well inside three minutes even on a slow machine.
    */
  val RunCapS = 140.0

  final case class Opts(workload: Gen.Workload, seed: Long, seconds: Int, trace: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val known = Set("workload", "seed", "seconds", "trace")
    require(args.length % 2 == 0 && m.size * 2 == args.length && m.keySet.subsetOf(known),
      s"usage: --workload <name> --seed <n> --seconds <s> --trace <0|1>; got ${args.mkString(" ")}")
    val trace = m.getOrElse("trace", "0")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Opts(Gen.byName(m.getOrElse("workload", throw new IllegalArgumentException("--workload is required"))),
      m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt, trace == "1")
  }

  def main(args: Array[String]): Unit = {
    val opts = try parse(args) catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    val work = new File(sys.props.getOrElse("perfbench.work", ".bench_build/perfbench/work"))
      .getAbsoluteFile
    val line = new Bench(opts, work).run()
    println(line)
    System.out.flush()
  }

  /** Generated-code classes Spark keeps compiled. At the default of 100 a
    * lap's ~50 generated classes and the checks' own are evicted between
    * laps, so every lap compiled ~30 of them again and the JIT compiled
    * those afresh: about a fifth of a timed lap's CPU and wall time.
    * A pipeline run over a real corpus compiles each once and amortizes it.
    */
  val CodegenCacheEntries = 2000

  def startSession(work: File): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    SparkSession.builder().master(s"local[$n]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
  }

  /** CPU seconds the JIT compiler threads have used, from
    * `/proc/self/task` (the JVM runs with a fixed set of compiler threads,
    * so none exits and takes its time with it); 0 where there is no procfs.
    * A lap's CPU leaves this out: a run is too short for the JIT to settle,
    * and what it still compiles in a timed lap is JVM warm-up, not the
    * engine's work, and the noisiest part of the lap's CPU.
    */
  def jitCpuS(): Double = {
    val tasks = Option(new File("/proc/self/task").listFiles).getOrElse(Array.empty[File])
    tasks.iterator.map { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(new File(t, "stat").toPath), "UTF-8")
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.matches("C[12] CompilerThre.*")) 0L
        else {
          // fields after the command: state is field 3, utime 14, stime 15
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong
        }
      } catch { case NonFatal(_) => 0L } // the thread ended meanwhile
    }.sum / ClockTicks
  }

  /** USER_HZ, the unit of `/proc` CPU times; 100 on Linux. */
  val ClockTicks = 100.0

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }
}

/** One lap's measurements. `window` is its timed region in JVM-uptime ms;
  * `cpuS` is the process CPU of that region less `jitS`, the JIT compiler
  * threads' share.
  */
final case class Lap(kind: String, wallS: Double, cpuS: Double, jitS: Double, window: (Long, Long),
                     ok: Boolean, problem: String, layers: Map[String, Double])

final class Bench(opts: Main.Opts, work: File) {
  import Main._

  private val w = opts.workload
  private val pagesDir = new File(work, "pages").getPath
  private val truthDir = new File(work, "truth").getPath
  private val outDir = new File(work, "out").getPath
  private val t0 = System.nanoTime()
  private def now: Long = System.nanoTime() - t0
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val runtime = ManagementFactory.getRuntimeMXBean
  private val gc = new GcPeak
  private val recorder = new Recorder
  private val spans = ArrayBuffer.empty[Span]
  private var tracedLaps = 0
  private var checkS = 0.0
  private var spark: SparkSession = _

  private def secondsOf(f: => Unit): Double = {
    val s = System.nanoTime()
    f
    (System.nanoTime() - s) / 1e9
  }

  private def diag(s: String): Unit = println(s"# $s")

  def run(): String = {
    deleteTree(work)
    work.mkdirs()
    spark = startSession(work)
    try measure()
    finally {
      spark.stop()
      deleteTree(new File(work, "spark-local"))
    }
  }

  private def measure(): String = {
    val sessionAt = now / 1e9
    val genS = secondsOf(Gen.write(spark, w, opts.seed, pagesDir, truthDir))
    val truth = Check.truthDigest(spark.read.parquet(truthDir))
    val inTextBytes = spark.read.parquet(pagesDir)
      .agg(sum(octet_length(col("text")))).head().getLong(0)

    // set-up: session start + model bundle + input registration, repeated;
    // the first repetition trains the bundle the laps use, the others train
    // fresh copies of it
    val setups = (0 until SetupReps).map { rep =>
      spark.stop()
      secondsOf {
        spark = startSession(work)
        if (rep == 0) CorpusPipeline.defaultModels else FreshLoader.defaultModels()
        CorpusIO.read(spark, pagesDir, Some(CorpusIO.Parquet)).schema
      }
    }
    spark.sparkContext.addSparkListener(recorder)
    val setupAt = now / 1e9

    val laps = ArrayBuffer.empty[Lap]
    var quality: Option[Check.Quality] = None
    def lap(kind: String): Lap = {
      val l = runLap(kind, truth)
      if (quality.isEmpty && new File(outDir, "kept").isDirectory)
        quality = Some(Check.quality(spark, spark.read.parquet(truthDir), outDir))
      laps += l
      l
    }
    (1 to WarmupLaps).foreach(_ => lap("warmup"))
    val warmAt = now / 1e9
    // closed loop: the next lap starts when the last one is checked; a
    // traced run alternates untraced and traced laps, so that both see the
    // same JVM warmth
    var acc = 0.0
    var n = 0
    val minLaps = if (opts.trace) 4 else MinTimedLaps
    while ((acc < opts.seconds || n < minLaps) && now / 1e9 < RunCapS) {
      acc += lap(if (opts.trace && n % 2 == 1) "traced" else "timed").wallS
      n += 1
    }

    diag(f"run phases end at (s): session $sessionAt%.2f setup $setupAt%.2f warm-up $warmAt%.2f " +
      f"laps ${now / 1e9}%.2f; checks and GCs between laps $checkS%.2f")
    val q = quality.getOrElse(Check.Quality(0.0, 0.0, 0L, Map.empty))
    val failed = laps.count(!_.ok)
    val timed = laps.filter(l => l.kind == "timed" && l.ok).toSeq
    val walls = timed.map(_.wallS)
    laps.filterNot(_.ok).foreach(l => diag(s"failed ${l.kind} lap: ${l.problem}"))
    diag(s"workload=${w.name} seed=${opts.seed} docs=${w.docs} " +
      s"nproc=${Runtime.getRuntime.availableProcessors} gen_s=$genS " +
      s"setup_s=${setups.mkString("[", ",", "]")}")
    diag(s"warmup_lap_s=${laps.filter(_.kind == "warmup").map(_.wallS).mkString("[", ",", "]")}")
    if (timed.nonEmpty)
      diag(s"timed_laps=${walls.length} lap_s q1=${quantile(walls, 0.25)} " +
        s"median=${median(walls)} q3=${quantile(walls, 0.75)} all=${walls.mkString("[", ",", "]")}")
    def secs(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    diag(s"lap_cpu_s_without_jit=${secs(laps.map(_.cpuS).toSeq)} lap_jit_cpu_s=${secs(laps.map(_.jitS).toSeq)}")
    diag(s"error_rate=${failed.toDouble / laps.length} gc_in_timed_laps=${gc.count(timed.map(_.window))} " +
      s"stage_counts=${q.stageCounts.toSeq.sorted.mkString(",")}")

    val correct = failed == 0 && timed.nonEmpty && q.keepF1 == 1.0 && q.textExact == 1.0
    val metrics: Seq[(String, Double, String)] =
      if (!opts.trace) Seq(
        ("docs_per_s", if (timed.isEmpty) 0.0 else w.docs / median(walls), "docs/s"),
        ("cpu_s_per_kdoc", if (timed.isEmpty) 0.0 else median(timed.map(_.cpuS)) / (w.docs / 1000.0), "s/kdoc"),
        ("peak_heap_mb", peakHeapMb(timed), "MB"),
        ("keep_f1", q.keepF1, "ratio"),
        ("text_exact", q.textExact, "ratio"),
        ("out_bytes_per_in_byte", q.keptBytes.toDouble / inTextBytes, "ratio"),
        ("ok_rate", (laps.length - failed).toDouble / laps.length, "ratio"),
        ("setup_s", median(setups), "s"))
      else layerMetrics(laps.toSeq, q)

    writeSpans()
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${laps.length}, "failed": $failed, "metrics": {$body}}"""
  }

  /** Per timed lap, the largest heap in use right after a GC that started
    * in it; the median over the laps that saw a GC. A maximum over all laps
    * would grow with the lap count.
    */
  private def peakHeapMb(timed: Seq[Lap]): Double = {
    val peaks = timed.map(l => gc.peakBytes(Seq(l.window))).filter(_ > 0)
    if (peaks.isEmpty) 0.0 else median(peaks.map(_ / 1048576.0))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def storageBytes(): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum

  /** One lap: timed production path, then (untimed) the output check and
    * a GC that brings every lap to the same heap start.
    */
  private def runLap(kind: String, truth: Check.Digest): Lap = {
    deleteTree(new File(outDir))
    recorder.reset()
    val stored = storageBytes()
    val sc = spark.sparkContext
    val c0 = os.getProcessCpuTime
    val j0 = Main.jitCpuS()
    val u0 = runtime.getUptime
    val s0 = System.nanoTime()
    var problem: String = null
    var layers: () => Map[String, Double] = () => Map.empty
    try {
      if (kind == "traced") layers = tracedLap()
      else {
        sc.setLocalProperty(Recorder.Key, "lap")
        val pages = CorpusIO.read(spark, pagesDir, Some(CorpusIO.Parquet))
        CorpusIO.writeWithExclusions(CorpusPipeline.run(pages), outDir, CorpusIO.Parquet)
      }
    } catch {
      case NonFatal(e) => problem = s"threw $e"
    } finally sc.setLocalProperty(Recorder.Key, null)
    val wallS = (System.nanoTime() - s0) / 1e9
    val u1 = runtime.getUptime
    val jitS = Main.jitCpuS() - j0
    val cpuS = (os.getProcessCpuTime - c0) / 1e9 - jitS
    val c1 = System.nanoTime()
    recorder.drain()
    val lost = recorder.all.values.map(_.failedTasks.get).sum
    if (problem == null && lost > 0) problem = s"$lost failed Spark tasks"
    if (problem == null) problem = Check.problem(spark, outDir, truth).orNull
    settle(stored)
    checkS += (System.nanoTime() - c1) / 1e9
    Lap(kind, wallS, cpuS, jitS, (u0, u1), problem == null, problem,
      if (problem == null) layers() else Map.empty)
  }

  /** Full GC, then a short wait for the context cleaner to drop the
    * lap's checkpoint and broadcast blocks, back to the `stored` bytes of
    * storage memory the lap started with.
    */
  private def settle(stored: Long): Unit = {
    System.gc()
    val deadline = System.nanoTime() + 200L * 1000 * 1000
    while (storageBytes() > stored && System.nanoTime() < deadline) Thread.sleep(10)
  }

  private def span[T](name: String, parent: String)(f: => T): (T, Span) = {
    spark.sparkContext.setLocalProperty(Recorder.Key, name)
    val s = now
    val r = f
    val sp = Span(tracedLaps, name, parent, s, now)
    spans += sp
    (r, sp)
  }

  /** The steps `CorpusPipeline.run` composes, called one at a time.
    * Returns the lap's per-layer figures, to be read once the listener has
    * drained.
    */
  private def tracedLap(): () => Map[String, Double] = {
    tracedLaps += 1
    val lapStart = now
    val (pages, read) = span("sources.read", "lap")(
      CorpusIO.read(spark, pagesDir, Some(CorpusIO.Parquet)))
    val before = storageBytes()
    val (scored, score) = span("pipeline.score", "lap") {
      // run() builds the scored intermediate with columnar compression off
      val conf = spark.conf
      val key = "spark.sql.inMemoryColumnarStorage.compressed"
      val prev = conf.get(key, "true")
      conf.set(key, "false")
      try CorpusPipeline.score(pages).transform(SparkUtil.materialize)
      finally conf.set(key, prev)
    }
    val cacheBytes = storageBytes() - before
    val (result, dedup) = span("pipeline.dedup", "lap")(CorpusPipeline.dedup(scored))
    val (_, write) = span("sources.write", "lap")(
      CorpusIO.writeWithExclusions(result, outDir, CorpusIO.Parquet))
    spans += Span(tracedLaps, "lap", null, lapStart, now)
    () => layersOf(read, score, dedup, write, cacheBytes)
  }

  private def layersOf(read: Span, score: Span, dedup: Span, write: Span,
                       cacheBytes: Long): Map[String, Double] = {
    val st = recorder.all
    def of(s: Span) = st.getOrElse(s.name, new SpanStats)
    val (sc, dd, wr) = (of(score), of(dedup), of(write))
    val mb = 1048576.0
    def meanTask(s: SpanStats) = if (s.tasks.get == 0) 0.0 else s.runMs.get / 1e3 / s.tasks.get
    Map(
      "sources.read.wall_s" -> read.seconds,
      "sources.read.input_mb" -> st.values.map(_.inputBytes.get).sum / mb,
      "sources.write.wall_s" -> write.seconds,
      "sources.write.out_mb" -> wr.outputBytes.get / mb,
      "sources.write.tasks" -> wr.tasks.get.toDouble,
      "pipeline.score.wall_s" -> score.seconds,
      "pipeline.score.cpu_s" -> sc.cpuNs.get / 1e9,
      "pipeline.score.gc_s" -> sc.gcMs.get / 1e3,
      "pipeline.score.max_task_s" -> sc.maxRunMs.get / 1e3,
      "pipeline.score.mean_task_s" -> meanTask(sc),
      "pipeline.score.cache_mb" -> cacheBytes / mb,
      "pipeline.dedup.wall_s" -> dedup.seconds,
      "pipeline.dedup.cpu_s" -> dd.cpuNs.get / 1e9,
      "pipeline.dedup.jobs" -> dd.jobs.get.toDouble,
      "pipeline.dedup.tasks" -> dd.tasks.get.toDouble,
      "pipeline.dedup.shuffle_mb" -> dd.shuffleBytes.get / mb,
      "pipeline.dedup.spill_mb" -> dd.spillBytes.get / mb,
      "pipeline.dedup.max_task_s" -> dd.maxRunMs.get / 1e3,
      "pipeline.dedup.mean_task_s" -> meanTask(dd))
  }

  /** Per-layer metrics: medians over the traced laps, the output-derived
    * ratios, the kernel timings and the tracing overhead.
    */
  private def layerMetrics(laps: Seq[Lap], q: Check.Quality): Seq[(String, Double, String)] = {
    val traced = laps.filter(l => l.kind == "traced" && l.ok)
    val untraced = laps.filter(l => l.kind == "timed" && l.ok)
    def med(k: String) = if (traced.isEmpty) 0.0 else median(traced.map(_.layers(k)))
    def unit(k: String) =
      if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB" else "count"
    val spanned = Seq("sources.read.wall_s", "sources.read.input_mb", "sources.write.wall_s",
      "sources.write.out_mb", "sources.write.tasks", "pipeline.score.wall_s",
      "pipeline.score.cpu_s", "pipeline.score.gc_s", "pipeline.score.max_task_s",
      "pipeline.score.mean_task_s", "pipeline.score.cache_mb", "pipeline.dedup.wall_s",
      "pipeline.dedup.cpu_s", "pipeline.dedup.jobs", "pipeline.dedup.tasks",
      "pipeline.dedup.shuffle_mb", "pipeline.dedup.spill_mb", "pipeline.dedup.max_task_s",
      "pipeline.dedup.mean_task_s").map(k => (k, med(k), unit(k)))
    val kept = w.docs - q.stageCounts.values.sum
    val dups = q.stageCounts.getOrElse(Gen.ExactDup, 0L) + q.stageCounts.getOrElse(Gen.MinhashDup, 0L)
    val alive = kept + dups
    val overhead =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else median(traced.map(_.wallS)) / median(untraced.map(_.wallS))
    spanned ++ Seq(
      ("pipeline.score.alive_ratio", alive.toDouble / w.docs, "ratio"),
      ("pipeline.dedup.dup_ratio", if (alive == 0) 0.0 else dups.toDouble / alive, "ratio")) ++
      kernels() :+ (("trace.overhead_ratio", overhead, "ratio"))
  }

  /** Single-thread µs per document of each per-document kernel, the median
    * of repeated passes over the workload's first [[KernelSample]] docs.
    */
  private def kernels(): Seq[(String, Double, String)] = {
    val sample = (0 until KernelSample).map(w.doc(opts.seed, _).text)
    val models = CorpusPipeline.defaultModels
    val cfg = PipelineConfig()
    val mh = MinHash.Config(cfg.minhashBands, cfg.minhashRowsPerBand, cfg.shingleSize)
    var sink = 0L // consumes every result, so no kernel call is dead code
    def time(f: String => AnyRef): Double = {
      sample.foreach(t => sink += f(t).hashCode)
      val passes = ArrayBuffer.empty[Double]
      val until = System.nanoTime() + 250L * 1000 * 1000
      while (passes.length < 3 || System.nanoTime() < until) {
        val s = System.nanoTime()
        sample.foreach(t => sink += f(t).hashCode)
        passes += (System.nanoTime() - s) / 1e3 / sample.length
      }
      median(passes.toSeq)
    }
    Seq(
      ("filters.langid_us", time(t => models.lang.predict(t)), "us"),
      ("filters.analyze_us", time(t => Heuristics.analyze(t, cfg.heur)), "us"),
      ("filters.pii_us", time(t => Pii.scrub(t)), "us"),
      ("filters.perplexity_us", time(t => Double.box(models.lm.perplexity(t))), "us"),
      ("dedup.minhash_sig_us", time(t => MinHash.minVectorOf(t, mh)), "us"))
  }

  /** Writes the recorded spans as JSON lines next to the run's inputs. */
  private def writeSpans(): Unit = if (spans.nonEmpty) {
    val f = new File(work.getParentFile, s"spans-${w.name}-${opts.seed}.jsonl")
    val lines = spans.map { s =>
      val parent = if (s.parent == null) "null" else s""""${s.parent}""""
      s"""{"lap": ${s.lap}, "name": "${s.name}", "parent": $parent, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }
    java.nio.file.Files.write(f.toPath, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    diag(s"spans=${f.getPath}")
  }
}
