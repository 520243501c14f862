package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.CorpusPipeline
import graft.sources.CorpusIO

/** The benchmark's own tests. Run with `python3 perfbench/run.py --self-test`;
  * exits non-zero if any test fails.
  */
object SelfTest {

  private val failures = ArrayBuffer.empty[String]

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch { case NonFatal(e) => failures += name; println(s"FAIL $name: $e") }

  private def assertThat(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  /** Part files of a parquet directory, in part-number order. */
  private def parts(dir: String): Seq[Array[Byte]] =
    new File(dir).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName.take(10))
      .map(f => Files.readAllBytes(f.toPath)).toSeq

  private def sameBytes(a: String, b: String): Boolean = {
    val (pa, pb) = (parts(a), parts(b))
    pa.nonEmpty && pa.length == pb.length && pa.zip(pb).forall { case (x, y) => java.util.Arrays.equals(x, y) }
  }

  def main(args: Array[String]): Unit = {
    val work = new File(sys.props.getOrElse("perfbench.work", ".bench_build/perfbench/work"))
      .getAbsoluteFile
    Main.deleteTree(work)
    work.mkdirs()
    def dir(name: String) = new File(work, name).getPath
    val spark = Main.startSession(work)
    try run(spark, dir) finally spark.stop()
    Main.deleteTree(work)
    if (failures.nonEmpty) {
      println(s"${failures.size} failed: ${failures.mkString(", ")}")
      sys.exit(1)
    }
    println("all passed")
  }

  private def run(spark: SparkSession, dir: String => String): Unit = {
    val n = 600

    test("the same seed gives byte-identical inputs, another seed different ones") {
      for (w <- Gen.workloads) {
        Gen.write(spark, w, 7L, dir(s"a-${w.name}"), dir(s"at-${w.name}"), n)
        Gen.write(spark, w, 7L, dir(s"b-${w.name}"), dir(s"bt-${w.name}"), n)
        Gen.write(spark, w, 8L, dir(s"c-${w.name}"), dir(s"ct-${w.name}"), n)
        assertThat(sameBytes(dir(s"a-${w.name}"), dir(s"b-${w.name}")), s"${w.name}: pages differ for one seed")
        assertThat(sameBytes(dir(s"at-${w.name}"), dir(s"bt-${w.name}")), s"${w.name}: truth differs for one seed")
        assertThat(!sameBytes(dir(s"a-${w.name}"), dir(s"c-${w.name}")), s"${w.name}: seeds 7 and 8 give the same pages")
      }
    }

    test("the truth is built without the engine's filters, dedup or text code") {
      val engineCode = Seq("graft.filters.", "graft.dedup.", "graft.text.", "graft.pipeline.CorpusPipeline")
      val loader = new FreshLoader(
        childFirst = c => c.startsWith("graft.") || c.startsWith("perfbench."),
        deny = c => engineCode.exists(c.startsWith))
      val denied = try { loader.loadClass("graft.filters.Heuristics$"); false }
        catch { case _: ClassNotFoundException => true }
      assertThat(denied, "the loader does not keep the filters out")
      for (w <- Gen.workloads) {
        val isolated = loader.callObject("perfbench.Gen", "byName", w.name)
        val doc = isolated.getClass.getMethod("doc", classOf[Long], classOf[Int])
        for (i <- 0 until 300) {
          val d = doc.invoke(isolated, Long.box(3L), Int.box(i))
          assertThat(d.getClass.getClassLoader eq loader, "generator ran outside the isolated loader")
          assertThat(d.toString == w.doc(3L, i).toString, s"${w.name} doc $i differs in isolation")
        }
      }
    }

    test("flipping one keep decision fails the lap and drops keep_f1 below 1") {
      val w = Gen.DupSkew
      Gen.write(spark, w, 5L, dir("pages"), dir("truth"), n)
      val truth = spark.read.parquet(dir("truth"))
      val digest = Check.truthDigest(truth)
      CorpusIO.writeWithExclusions(
        CorpusPipeline.run(CorpusIO.read(spark, dir("pages"), Some(CorpusIO.Parquet))),
        dir("out"), CorpusIO.Parquet)
      assertThat(Check.problem(spark, dir("out"), digest).isEmpty, "the real output fails its check")
      val q = Check.quality(spark, truth, dir("out"))
      assertThat(q.keepF1 == 1.0 && q.textExact == 1.0, s"the real output scores $q")

      val kept = spark.read.parquet(dir("out") + "/kept").withColumn("keep", lit(true))
      val removed = spark.read.parquet(dir("out") + "/removed").withColumn("keep", lit(false))
      val victim = kept.agg(min("url")).head().getString(0)
      val flipped = kept.unionByName(removed, allowMissingColumns = true)
        .withColumn("drop_stage",
          when(col("url") === victim, lit(Gen.FineWeb)).otherwise(col("drop_stage")))
        .withColumn("keep", col("keep") && col("url") =!= victim)
      CorpusIO.writeWithExclusions(flipped, dir("flipped"), CorpusIO.Parquet)
      assertThat(Check.problem(spark, dir("flipped"), digest).nonEmpty, "the flipped output passes its check")
      val fq = Check.quality(spark, truth, dir("flipped"))
      assertThat(fq.keepF1 < 1.0, s"keep_f1 is ${fq.keepF1} with one decision flipped")
    }
  }
}
