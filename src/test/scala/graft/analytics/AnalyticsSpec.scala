package graft.analytics

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.pipeline.Synth

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  test("zero-norm vectors score 0.0, never NaN (topK + nearPairs pins)") {
    // all-zero embeddings (the hashed embedding of an empty doc): 0/0 =
    // NaN, and NaN sorts GREATEST in Spark — unguarded, the zero docs
    // win every top-k and lshBucket pairs them all with sim = NaN
    val rnd = new scala.util.Random(5)
    val zeros = (0 until 12).map(i => (i.toLong, Seq.fill(64)(0.0f)))
    val reals = (100 until 110).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat())))
    val df = (zeros ++ reals).toDF("vec_id", "embedding")
    val q = Array.tabulate(64)(_ => rnd.nextDouble())
    val top = Similarity.topK(df, "vec_id", "embedding", q, 10)
      .as[(Long, Double)].collect()
    assert(top.forall(!_._2.isNaN), s"NaN sim in topK: ${top.toSeq}")
    assert(top.forall(_._1 >= 100L),
      s"zero vectors outrank real neighbors: ${top.toSeq}")
    val pairs = Similarity.nearPairs(df, "vec_id", "embedding",
      minSim = 0.1).as[(Long, Long, Double)].collect()
    assert(pairs.forall(p => !p._3.isNaN && p._3 >= 0.1),
      s"NaN/bogus pair leaked: ${pairs.filter(p => p._1 < 100 || p._2 < 100).toSeq}")
    assert(pairs.forall(p => p._1 >= 100L && p._2 >= 100L),
      "zero-vector pairs must not be emitted")
  }

  test("brute-force cosine top-k matches manual computation") {
    val df = Seq(
      (1L, vec(1, 0, 0)), (2L, vec(0.9, 0.1, 0)), (3L, vec(0, 1, 0)),
      (4L, vec(-1, 0, 0))
    ).toDF("vec_id", "embedding")
    val got = Similarity.topK(df, "vec_id", "embedding",
      Array(1.0, 0.0, 0.0), 2).as[(Long, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    assert(got(0)._2 == 1.0)
    assert(math.abs(got(1)._2 - 0.9 / math.sqrt(0.82)) < 1e-3)
  }

  test("exact cosine decontamination against a broadcast reference set") {
    val corpus = Seq(
      (1L, vec(1, 0, 0)), (2L, vec(0.9, 0.1, 0)), (3L, vec(0, 1, 0)),
      (4L, vec(0, 0.5, 0.5))
    ).toDF("vec_id", "embedding")
    val ref = Seq(Tuple1(vec(1, 0, 0)), Tuple1(vec(0, 0, 1)))
      .toDF("embedding")
    val got = Similarity
      .cosineAgainst(corpus, ref, "vec_id", "embedding", minSim = 0.95)
      .select("vec_id", "max_ref_sim", "is_contaminated")
      .as[(Long, Double, Boolean)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 1.0, true)))
    // cos((0.9,0.1,0),(1,0,0)) = 0.9/sqrt(0.82) ≈ 0.9939 ≥ 0.95
    assert(math.abs(got(1)._2 - 0.9939) < 1e-4 && got(1)._3)
    assert(got(2) == ((3L, 0.0, false)))
    // cos((0,.5,.5),(0,0,1)) = 1/sqrt(2) ≈ 0.7071 < 0.95
    assert(math.abs(got(3)._2 - 0.7071) < 1e-4 && !got(3)._3)
    intercept[IllegalArgumentException] {
      Similarity.cosineAgainst(corpus, ref.limit(0), "vec_id",
        "embedding", 0.9)
    }
  }

  test("cosineAgainst: zero-norm vectors score 0.0, never NaN-contaminate") {
    // a zero REF vector must not flag the whole corpus (0/0 = NaN and
    // NaN >= minSim is true under Spark's NaN-greatest ordering)
    val corpus = Seq((1L, vec(1, 0, 0)), (2L, vec(0, 0, 0)))
      .toDF("vec_id", "embedding")
    val ref = Seq(Tuple1(vec(0, 0, 0)), Tuple1(vec(0, 1, 0)))
      .toDF("embedding")
    val got = Similarity
      .cosineAgainst(corpus, ref, "vec_id", "embedding", minSim = 0.5)
      .select("vec_id", "max_ref_sim", "is_contaminated")
      .as[(Long, Double, Boolean)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 0.0, false)))  // orthogonal to the only live ref
    assert(got(1) == ((2L, 0.0, false)))  // zero corpus vector: incomparable
  }

  test("lsh near-pairs recover planted high-similarity pairs") {
    val rng = new java.util.SplittableRandom(5)
    val base = Array.fill(64)(rng.nextGaussian())
    def jitter(eps: Double, seed: Int) = {
      val r = new java.util.SplittableRandom(seed)
      base.map(x => (x + eps * r.nextGaussian()).toFloat).toSeq
    }
    val rows = Seq(
      (1L, jitter(0.05, 1)), (2L, jitter(0.05, 2)), (3L, jitter(0.05, 3))
    ) ++ (10L to 40L).map(i => (i, {
      val r = new java.util.SplittableRandom(i)
      Array.fill(64)(r.nextGaussian().toFloat).toSeq
    }))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.nearPairs(df, "vec_id", "embedding",
      minSim = 0.9, bands = 8, bitsPerBand = 6, dim = 64)
      .as[(Long, Long, Double)].collect()
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(ids == Set(1L, 2L, 3L), s"got pairs ${pairs.toSeq}")
    assert(pairs.forall(_._3 >= 0.9))
  }

  test("hot-bucket salting preserves the exact near-pair set") {
    // degenerate distribution: 60 IDENTICAL vectors land in one LSH bucket
    // per band (the unsalted join's worst case), plus background noise.
    // The salted path must produce the identical pair set (all C(60,2)
    // hot pairs at sim 1.0) while splitting the hot bucket across shards.
    val rng = new java.util.SplittableRandom(11)
    val hotVec = Array.fill(64)(rng.nextGaussian()).map(_.toFloat).toSeq
    val rows = (1L to 60L).map(i => (i, hotVec)) ++
      (100L to 130L).map(i => (i, {
        val r = new java.util.SplittableRandom(i * 13)
        Array.fill(64)(r.nextGaussian().toFloat).toSeq
      }))
    val df = rows.toDF("vec_id", "embedding")
    def pairSet(salt: Int, hotThreshold: Long) =
      Similarity.nearPairs(df, "vec_id", "embedding", minSim = 0.95,
        bands = 4, bitsPerBand = 6, dim = 64,
        saltBuckets = salt, hotBucketThreshold = hotThreshold)
        .as[(Long, Long, Double)].collect().toSet
    val unsalted = pairSet(1, Long.MaxValue)   // salting effectively off
    val salted = pairSet(8, 10L)               // hot bucket forced to shard
    assert(salted == unsalted, "salting changed the near-pair set")
    assert(unsalted.count(p => p._1 <= 60 && p._2 <= 60) == 60 * 59 / 2,
      "hot-cluster pairs missing")
  }

  test("ivf top-k probing all cells equals brute force; probing fewer is a subset") {
    val df = (1L to 40L).map { i =>
      val r = new java.util.SplittableRandom(i * 3)
      (i, Array.fill(64)(r.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val q = {
      val r = new java.util.SplittableRandom(99)
      Array.fill(64)(r.nextGaussian())
    }
    val cents = Similarity.hyperplanes(8, 64, seed = 7L)
    val brute = Similarity.topK(df, "vec_id", "embedding", q, 10)
      .as[(Long, Double)].collect().toSeq
    val allProbes = Similarity.ivfTopK(df, "vec_id", "embedding", q, 10,
      cents, nProbe = 8).as[(Long, Double)].collect().toSeq
    assert(allProbes == brute, "nProbe = nCells must equal brute force")
    val oneProbe = Similarity.ivfTopK(df, "vec_id", "embedding", q, 10,
      cents, nProbe = 1).as[(Long, Double)].collect()
    assert(oneProbe.nonEmpty && oneProbe.length <= 10)
    val bruteSims = brute.toMap
    // every probed result's sim matches the exact cosine from brute path
    oneProbe.foreach { case (id, sim) =>
      bruteSims.get(id).foreach(b => assert(b == sim)) }
  }

  test("ivf probe over a prebuilt partitioned index matches inline and prunes") {
    val df = (1L to 40L).map { i =>
      val r = new java.util.SplittableRandom(i * 3)
      (i, Array.fill(64)(r.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val q = {
      val r = new java.util.SplittableRandom(99)
      Array.fill(64)(r.nextGaussian())
    }
    val cents = Similarity.hyperplanes(8, 64, seed = 7L)
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    Similarity.ivfAssign(df, "vec_id", "embedding", cents)
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(dir)
    val index = spark.read.parquet(dir)
    val inline = Similarity.ivfTopK(df, "vec_id", "embedding", q, 10,
      cents, nProbe = 2).as[(Long, Double)].collect().toSeq
    val prebuilt = Similarity.ivfTopK(index, "vec_id", "embedding", q, 10,
      cents, nProbe = 2)
    assert(prebuilt.as[(Long, Double)].collect().toSeq == inline,
      "prebuilt-index probe must return exactly the inline-assignment result")
    // the probe's cell filter must reach the scan as a PARTITION filter
    // (pruned read), not a post-scan predicate over the whole index
    val plan = prebuilt.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(_.contains("ivf_cell")),
      s"expected ivf_cell in PartitionFilters, plan:\n$plan")
  }

  test("vocabulary builder counts, floors and ranks deterministically") {
    val df = Seq(
      "the cat and the dog and the bird",
      "the dog runs and the cat sleeps",
      "  spaced   words the  "
    ).toDF("text")
    val v = TextAnalysis.vocabulary(df, "text", minCount = 2L)
      .as[(String, Long)].collect().toSeq
    assert(v.head == ("the", 6L))
    assert(v.contains(("and", 3L)) && v.contains(("cat", 2L)) &&
      v.contains(("dog", 2L)))
    assert(!v.exists(_._1 == "bird")) // below the floor
    assert(!v.exists(_._1 == ""))     // whitespace artifacts dropped
    val top2 = TextAnalysis.vocabulary(df, "text", minCount = 1L, topK = 2)
      .as[(String, Long)].collect().toSeq
    assert(top2 == Seq(("the", 6L), ("and", 3L)))
  }

  test("centroid save/load round-trips bit-identically") {
    val cents = Array(
      Array(1.0, 0.25, -3.5e-7), Array(0.0, 0.0, 0.0),
      Array(Double.MinPositiveValue, 1e300, -1.0))
    val dir = java.nio.file.Files.createTempDirectory("cents").toString
    Similarity.saveCentroids(spark, cents, dir)
    val back = Similarity.loadCentroids(spark, dir)
    assert(back.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    // overwrite semantics: a second save replaces, never appends
    Similarity.saveCentroids(spark, cents.take(2), dir)
    assert(Similarity.loadCentroids(spark, dir).length == 2)
  }

  test("trained centroids beat PRNG centroids on clustered embeddings") {
    // 6 well-separated direction prototypes + small noise — the shape
    // real embedding corpora have and random centroids handle badly
    // (unbalanced cells → low recall at small nProbe)
    val protos = (0 until 6).map { p =>
      val r = new java.util.SplittableRandom(1000L + p)
      val v = Array.fill(32)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val rows = (0 until 240).map { i =>
      val r = new java.util.SplittableRandom(i.toLong)
      val base = protos(i % 6)
      (i.toLong, base.map(x => (x + 0.15 * r.nextGaussian()).toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")

    def meanRecallAt1Probe(cents: Array[Array[Double]]): Double =
      (0 until 6).map { p =>
        val q = protos(p).map(_ + 0.05)
        val brute = Similarity.topK(df, "vec_id", "embedding", q, 10)
          .as[(Long, Double)].collect().map(_._1).toSet
        val got = Similarity.ivfTopK(df, "vec_id", "embedding", q, 10,
          cents, nProbe = 1).as[(Long, Double)].collect().map(_._1).toSet
        (got intersect brute).size.toDouble / brute.size
      }.sum / 6.0
    val trained = Similarity.trainCentroids(df, "vec_id", "embedding",
      k = 6, iters = 8, sampleN = 240)
    val prng = Similarity.hyperplanes(6, 32, seed = 7L)
    val rTrained = meanRecallAt1Probe(trained)
    val rPrng = meanRecallAt1Probe(prng)
    // trained centroids land on the data modes: each query's cluster
    // maps to one cell and nProbe=1 finds (nearly) everything — only
    // high-noise stragglers on cell boundaries are lost, which is
    // inherent ANN behavior, not a centroid defect; random centroids
    // split/merge clusters across near-equidistant directions
    assert(rTrained >= 0.95, s"trained recall@1probe=$rTrained")
    assert(rTrained > rPrng,
      s"training did not beat PRNG centroids ($rTrained vs $rPrng)")
    // cell balance — the property that makes IVF a usable PARTITION key
    // at scale: trained cells hold one cluster each (40±tolerance),
    // while random centroids leave cells merged/empty
    val sizes = Similarity.ivfAssign(df, "vec_id", "embedding", trained)
      .groupBy("ivf_cell").count().as[(Int, Long)].collect().toMap
    assert(sizes.size == 6 && sizes.values.forall(n => n >= 30 && n <= 50),
      s"trained cells unbalanced: $sizes")
    val prngSizes = Similarity.ivfAssign(df, "vec_id", "embedding", prng)
      .groupBy("ivf_cell").count().as[(Int, Long)].collect().toMap
    assert(prngSizes.values.max > sizes.values.max,
      s"expected PRNG cells more skewed: $prngSizes vs $sizes")
    // deterministic: same seed + data → identical centroid set, at any
    // input partitioning
    val again = Similarity.trainCentroids(df.repartition(7), "vec_id",
      "embedding", k = 6, iters = 8, sampleN = 240)
    assert(trained.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // nProbe = nCells still degrades to exact brute force
    val q0 = protos(0).map(_ + 0.05)
    val brute0 = Similarity.topK(df, "vec_id", "embedding", q0, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val all = Similarity.ivfTopK(df, "vec_id", "embedding", q0, 10,
      trained, nProbe = 6).as[(Long, Double)].collect().map(_._1).toSet
    assert(all == brute0)
  }

  test("ivf assignment is deterministic and total") {
    val df = (1L to 20L).map { i =>
      val r = new java.util.SplittableRandom(i)
      (i, Array.fill(64)(r.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.hyperplanes(4, 64, seed = 7L)
    val a = Similarity.ivfAssign(df, "vec_id", "embedding", cents)
      .select("vec_id", "ivf_cell").as[(Long, Int)].collect().toMap
    val b = Similarity.ivfAssign(df.repartition(7), "vec_id", "embedding", cents)
      .select("vec_id", "ivf_cell").as[(Long, Int)].collect().toMap
    assert(a == b)
    assert(a.values.forall(c => c >= 0 && c < 4))
  }
}

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  test("simhash: identical docs have distance 0, near docs small distance") {
    val d = Synth.cleanDoc(Synth.rngFor(1, 1), Synth.EnVocab, 10)
    val dNear = d + "\nOne extra line of text was added at the end here."
    val dFar = Synth.cleanDoc(Synth.rngFor(1, 2), Synth.EnVocab, 10)
    val h = NearDup.simhash64(d)
    assert(NearDup.simhash64(d) == h)
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val near = hamming(h, NearDup.simhash64(dNear))
    val far = hamming(h, NearDup.simhash64(dFar))
    // same-vocab docs share word bags, so 'far' is closer than random
    // 64-bit values (~32) — the invariant is the ordering, not magnitude
    assert(near < far, s"near=$near far=$far")
    assert(near <= 5)
  }

  test("simhash pairs find exact duplicates via band blocking") {
    val d1 = Synth.cleanDoc(Synth.rngFor(2, 1), Synth.EnVocab, 10)
    val d2 = Synth.cleanDoc(Synth.rngFor(2, 2), Synth.EnVocab, 10)
    val df = Seq(("a", d1), ("b", d1), ("c", d2)).toDF("id", "text")
    val pairs = NearDup.simhashPairs(df, "id", "text")
      .as[(String, String, Int)].collect()
    assert(pairs.toSeq == Seq(("a", "b", 0)))
  }

  test("ngram jaccard kernel") {
    assert(NearDup.ngramJaccard("a b c d e", "a b c d e") == 1.0)
    assert(NearDup.ngramJaccard("a b c d e", "v w x y z") == 0.0)
    val j = NearDup.ngramJaccard("a b c d e f", "a b c d e g", n = 3)
    assert(j > 0.3 && j < 0.8)
  }

  test("exact jaccard decontamination against a broadcast reference set") {
    val corpus = Seq(
      (1L, "a b c d e"), // shingles {abc,bcd,cde} — equals ref doc 1
      (2L, "a b c x y"), // {abc,bcx,cxy}: 1 shared of 5 union → 0.2
      (3L, "v w x y z"), // nothing shared
      (4L, "a b")        // shorter than n → empty set → 0.0
    ).toDF("doc_id", "text")
    val ref = Seq(Tuple1("a b c d e"), Tuple1("p q r s")).toDF("text")
    val got = NearDup
      .jaccardAgainst(corpus, ref, "doc_id", "text", minJaccard = 0.5)
      .select("doc_id", "max_ref_jaccard", "is_contaminated")
      .as[(Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1.0, true), (2L, 0.2, false),
      (3L, 0.0, false), (4L, 0.0, false)))
    intercept[IllegalArgumentException] {
      NearDup.jaccardAgainst(corpus, ref.limit(0), "doc_id", "text", 0.5)
    }
  }

  test("shingleSet: whitespace-robust, distinct, empty under n words") {
    val df = Seq(("  a  b c d  ", 1), ("a b a b a b", 2), ("a b", 3))
      .toDF("text", "k")
      .select(col("k"), NearDup.shingleSet(col("text"), 3).as("s"))
      .as[(Int, Seq[String])].collect().toMap
    assert(df(1) == Seq("a b c", "b c d")) // no empty tokens from padding
    assert(df(2) == Seq("a b a", "b a b")) // distinct keeps first order
    assert(df(3) == Seq.empty)
  }

  test("block-then-verify jaccard pairs on planted near-dups") {
    val base = Synth.cleanDoc(Synth.rngFor(3, 1), Synth.EnVocab, 10)
    val df = Seq(
      ("a", base),
      ("b", base + "\nExtra note number one was appended to the record here."),
      ("c", Synth.cleanDoc(Synth.rngFor(3, 2), Synth.EnVocab, 10))
    ).toDF("id", "text")
    val pairs = NearDup.jaccardPairs(df, "id", "text", minJaccard = 0.7)
      .as[(String, String, Double)].collect()
    assert(pairs.map(p => Set(p._1, p._2)).toSet == Set(Set("a", "b")))
  }

  test("jaccard pairs on a degenerate corpus: the hot docs form one cluster") {
    // Degenerate shape: 30 identical texts make every band hash
    // maximally hot. MinHash blocking is star-reduced (edges are
    // O(members), not the clique), so the invariant — as for MinHash
    // dedup itself — is on CLUSTERS: exactly the hot docs form the
    // duplicate graph, they form one connected component, and every
    // emitted pair is verified ≥ minJaccard.
    val hot = Synth.cleanDoc(Synth.rngFor(7, 1), Synth.EnVocab, 10)
    val other = Synth.cleanDoc(Synth.rngFor(7, 2), Synth.EnVocab, 10)
    val df = ((0 until 30).map(i => (f"h$i%02d", hot)) :+ ("x0", other))
      .toDF("id", "text")
    val pairs = NearDup.jaccardPairs(df, "id", "text", minJaccard = 0.9)
    assert(pairs.filter(col("jaccard") < 0.9).isEmpty,
      "emitted a pair below the threshold")
    val cl = graft.dedup.MinHash.clusters(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .as[(String, String)].collect().toMap
    assert(cl.keySet == (0 until 30).map(i => f"h$i%02d").toSet,
      "all hot docs and only hot docs form the duplicate graph")
    assert(cl.values.toSet.size == 1, "the hot docs split into several clusters")
  }

  test("embedding near-dups cluster jittered vectors") {
    implicit val s = spark
    val rng = new java.util.SplittableRandom(9)
    val base = Array.fill(64)(rng.nextGaussian())
    def jitter(seed: Int) = {
      val r = new java.util.SplittableRandom(seed)
      base.map(x => (x + 0.03 * r.nextGaussian()).toFloat).toSeq
    }
    val df = (Seq((1L, jitter(1)), (2L, jitter(2))) ++
      (10L to 25L).map(i => (i, {
        val r = new java.util.SplittableRandom(i * 7)
        Array.fill(64)(r.nextGaussian().toFloat).toSeq
      }))).toDF("vec_id", "embedding")
    val out = NearDup.embeddingNearDups(df, "vec_id", "embedding", 0.9)
    val dups = out.filter($"is_embed_dup").select("vec_id").as[Long].collect()
    assert(dups.toSeq == Seq(2L))
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("wsTokens: empty and leading-whitespace text count no phantom token") {
    // split("\\s+") yields a leading "" element for these shapes; the
    // unfiltered size() credited empty docs with one token
    val got = Seq("", " ", " foo bar", "foo bar", "\tx\n")
      .toDF("t").select(TextAnalysis.wsTokens($"t")).as[Int].collect().toSeq
    assert(got == Seq(0, 0, 2, 2, 1), s"got $got")
  }
  import spark.implicits._

  test("heuristic language id votes by markers") {
    val df = Seq(
      ("the cat of the house and it is big", "en"),
      ("le chat de la maison est dans les champs", "fr"),
      ("el gato de los campos para la casa esta", "es"),
      ("der hund und die katze mit das haus ein", "de"),
      ("zzz qqq www", "und")
    ).toDF("text", "expected")
    val got = df.select(TextAnalysis.langHeuristic($"text").as("got"), $"expected")
      .as[(String, String)].collect()
    got.foreach { case (g, e) => assert(g == e, s"got $g expected $e") }
  }

  test("quality score ranges and ordering") {
    val good = Synth.cleanDoc(Synth.rngFor(4, 1), Synth.EnVocab, 10)
    val df = Seq(good, "tiny text").toDF("text")
    val scores = df.select(TextAnalysis.qualityScore($"text")).as[Double].collect()
    assert(scores(0) > scores(1))
    assert(scores.forall(sc => sc >= 0.0 && sc <= 1.0))
  }

  test("word entropy: hand-computed bits, case-fold, degenerate docs") {
    val df = Seq(
      (1L, "a a b b"),        // uniform over 2 words -> exactly 1 bit
      (2L, "a b c d"),        // uniform over 4 -> 2 bits
      (3L, "spam spam spam"), // single word -> 0 bits
      (4L, "A a"),            // case-folds to one word -> 0 bits
      (5L, "  \n ")           // no words -> no row
    ).toDF("doc_id", "text")
    val got = TextAnalysis.wordEntropy(df, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 1.0, 2L -> 2.0, 3L -> 0.0, 4L -> 0.0),
      s"unexpected entropies: $got")
    // skewed distribution: "a a a b" -> 2 - (3*log2(3) + 0)/4 = 0.8113
    val skew = TextAnalysis.wordEntropy(
      Seq((1L, "a a a b")).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Double)].head()._2
    assert(skew == 0.8113, s"skewed entropy $skew != 0.8113")
    // the single-distinct-word residue (-1.66e-7 for c=3 before the
    // clamp) must surface as POSITIVE zero — a -0.0 bit pattern would
    // hash-compare differently from the DuckDB oracle's
    assert(java.lang.Double.doubleToRawLongBits(got(3L)) == 0L,
      "single-word-doc entropy must be +0.0, not -0.0")
  }

  test("rolling fingerprint is order-sensitive; md5 content print is not") {
    val a = NearDup.simhash64("x")
    assert(TextAnalysis.rollingFingerprint("alpha beta gamma") !=
      TextAnalysis.rollingFingerprint("gamma beta alpha"))
    assert(TextAnalysis.rollingFingerprint("same words here") ==
      TextAnalysis.rollingFingerprint("same words here"))
  }

  test("boilerplate shingle report counts occurrences and doc frequency") {
    // "a b c" occurs 3x across 2 docs (twice in doc 1); "b c d" once.
    val df = Seq(
      (1L, "a b c a b c d"),   // shingles: a b c, b c a, c a b, a b c, b c d
      (2L, "a b c x"),         // a b c, b c x
      (3L, "zz")               // < n words -> no shingles
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .boilerplateShingles(df, "doc_id", "text", n = 3,
        minOccurrences = 2L, topK = 10)
      .as[(String, Long, Long)].collect()
    assert(got.toSeq == Seq(("a b c", 3L, 2L)))
    // report is a pure function of the row set, not its partitioning
    val re = TextAnalysis.boilerplateShingles(df.repartition(7), "doc_id",
      "text", n = 3, minOccurrences = 2L, topK = 10)
      .as[(String, Long, Long)].collect()
    assert(re.toSeq == got.toSeq)
    // the single-shuffle HLL scale path agrees at small cardinality
    val ap = TextAnalysis.boilerplateShingles(df, "doc_id", "text", n = 3,
      minOccurrences = 2L, topK = 10, approxDocFreq = true)
      .as[(String, Long, Long)].collect()
    assert(ap.toSeq == got.toSeq)
  }

  test("duplicated-gram stats match a hand computation") {
    // total 3-gram occurrences: doc1 has 5, doc2 has 2, doc3 has 0 -> 7.
    // "a b c" count 3 (duplicated); every other shingle count 1.
    val df = Seq(
      (1L, "a b c a b c d"), (2L, "a b c x"), (3L, "zz")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.duplicatedGramStats(df, "text", n = 3)
      .as[(Long, Long, Long, Double)].collect().head
    assert(got == ((7L, 3L, 5L, 0.428571)))  // round(3/7, 6)
  }

  test("own-language stopword fraction; untabled language yields null") {
    val df = Seq(
      ("the cat of the house", "en"),     // 3 stopwords / 5 words
      ("der hund und die katze", "de"),   // 3 / 5
      ("the cat of the house", "de"),     // en words under de list: 0 / 5
      ("some words here", "zh"),          // no zh table -> null
      ("", "en")                          // empty -> 0.0
    ).toDF("text", "lang")
    val got = df.select(
      TextAnalysis.stopwordFrac($"text", $"lang").as("f"))
      .as[Option[Double]].collect()
    assert(got(0).contains(0.6) && got(1).contains(0.6))
    assert(got(2).contains(0.0))
    assert(got(3).isEmpty)
    assert(got(4).contains(0.0))
  }

  test("readability signals: hand-computed Flesch/FK/hapax; empty-doc nulls") {
    val df = Seq(
      ("The cat sat. It ran!", 1),  // 5 w, 2 s, 5 syl, all hapax
      ("the the the", 2),           // 3 w, 1 s (floor), 0 hapax
      ("", 3)                       // 0 words -> null spw/flesch/fk/hapax
    ).toDF("text", "i")
    val sigs = TextAnalysis.readabilitySignals($"text")
    val got = df.orderBy("i").select(
      sigs.map { case (n, c) => c.as(n) }: _*).collect()
    assert(got(0).getInt(0) == 2 && got(0).getInt(1) == 5)
    assert(got(0).getDouble(2) == 2.5 && got(0).getDouble(3) == 1.0)
    assert(got(0).getDouble(4) == 119.6975)  // 206.835 - 2.5375 - 84.6
    assert(got(0).getDouble(5) == -2.815)    // 0.975 + 11.8 - 15.59
    assert(got(0).getDouble(6) == 1.0)
    assert(got(1).getInt(0) == 1)            // no terminator -> 1 sentence
    assert(got(1).getDouble(2) == 3.0 && got(1).getDouble(6) == 0.0)
    assert(got(2).getDouble(2) == 0.0)       // 0 words / floored sentence
    assert(got(2).isNullAt(3) && got(2).isNullAt(4) && got(2).isNullAt(5)
      && got(2).isNullAt(6))
  }

  test("compression ratio orders repetitive < prose < random; edge cases") {
    val repetitive = "spam link " * 200
    val prose = Synth.cleanDoc(Synth.rngFor(9, 1), Synth.EnVocab, 12)
    val rnd = new scala.util.Random(3)
    val random = (0 until 2000).map(_ => (rnd.nextInt(94) + 33).toChar).mkString
    val r1 = TextAnalysis.compressionRatio(repetitive)
    val r2 = TextAnalysis.compressionRatio(prose)
    val r3 = TextAnalysis.compressionRatio(random)
    assert(r1 < r2 && r2 < r3, s"expected $r1 < $r2 < $r3")
    assert(r1 < 0.1, s"heavy repetition should compress hard, got $r1")
    assert(r3 > 0.7, s"random printable text barely compresses, got $r3")
    assert(TextAnalysis.compressionRatio("") == 1.0)
    assert(TextAnalysis.compressionRatio(null) == 1.0)
  }

  test("script profile: hand-computed fractions, disjoint classes, empty doc") {
    // "ab 中文 я1!" = 10 chars: latin 2, han 2, cyrillic 1, digit 1,
    // space 3, other(!) 1
    val df = Seq("ab 中文 я1 !", "", "中文").toDF("text")
    val rows = df.select(TextAnalysis.scriptProfile($"text").as("p"))
      .select("p.*")
      .as[(Double, Double, Double, Double, Double, Double, Double, Double)]
      .collect()
    val (fl, fc, fh, fk, fa, fd, fs, fo) = rows(0)
    assert(fl == 0.2 && fh == 0.2 && fc == 0.1 && fd == 0.1 &&
      fs == 0.3 && fo == 0.1 && fk == 0.0 && fa == 0.0)
    assert(rows(1) == ((0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)))
    assert(rows(2)._3 == 1.0) // pure han
    // fractions sum to 1 on a non-empty doc (classes are disjoint)
    assert(math.abs(fl + fc + fh + fk + fa + fd + fs + fo - 1.0) < 1e-9)
  }

  test("dominant script: argmax with first-class tie break and und fallback") {
    val df = Seq(
      ("mostly latin текст", "latin"),        // latin 12 > cyrillic 5
      ("я 中文中文", "han"),                   // han 4 > cyrillic 1
      ("ひらがな العربية蛋", "arabic"),         // arabic 7 > kana 4 > han 1
      ("中文 かな", "han"),                    // tie 2-2 → first class order
      ("123 !?", "und")                       // no script chars at all
    ).toDF("text", "expected")
    df.select(TextAnalysis.dominantScript($"text").as("got"), $"expected")
      .as[(String, String)].collect()
      .foreach { case (g, e) => assert(g == e, s"got $g expected $e") }
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("feature extraction plumbing: schema, determinism, batch shape") {
    val df = Seq(
      ("a", "hello media payload".getBytes("UTF-8")),
      ("b", Array.fill(1000)(7.toByte)),
      ("c", Array.empty[Byte])
    ).toDF("id", "payload")
    val out = Multimodal.extractFeatures(df, "payload", batchSize = 2)
    val rows = out.select("id", "n_bytes", "byte_entropy").as[(String, Long, Double)]
      .collect().sortBy(_._1)
    assert(rows.map(_._2).toSeq == Seq(19L, 1000L, 0L))
    assert(rows(1)._3 == 0.0) // constant bytes → zero entropy
    assert(rows(0)._3 > 0.0)
    val again = Multimodal.extractFeatures(df.repartition(3), "payload")
      .select("id", "header_hash").as[(String, Long)].collect().toMap
    val first = out.select("id", "header_hash").as[(String, Long)].collect().toMap
    assert(again == first)
  }

  test("frame sampling explodes deterministic slices") {
    val df = Seq(("a", (0 until 100).map(_.toByte).toArray)).toDF("id", "payload")
    val frames = Multimodal.sampleFrames(df, "payload", nFrames = 4)
      .select("frame_id", "frame_bytes").as[(Int, Array[Byte])].collect()
    assert(frames.length == 4)
    assert(frames.map(_._2.length).sum == 100)
    assert(frames(0)._2.head == 0.toByte && frames(3)._2.head == 75.toByte)
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("groupedSplit: group cohesion, determinism, fraction convergence") {
    val df = (0 until 5000).map(i => (i.toLong, s"domain${i % 1000}"))
      .toDF("id", "dom")
    val out = Sampling.groupedSplit(df, "dom",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).cache()
    // every row of a group carries the same split
    assert(out.groupBy("dom")
      .agg(countDistinct(col("split")).as("k"))
      .filter(col("k") =!= 1).count() == 0)
    // realized fractions converge at 1000 groups (±5 points)
    val frac = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(math.abs(frac("train") / 5000.0 - 0.8) < 0.05, s"got $frac")
    assert(frac.keySet == Set("train", "val", "test"))
    // partitioning-invariant and salt-sensitive
    val re = Sampling.groupedSplit(df.repartition(13), "dom",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(re.orderBy("id").select("split").as[String].collect().toSeq ==
      out.orderBy("id").select("split").as[String].collect().toSeq)
    val salted = Sampling.groupedSplit(df, "dom",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "other")
      .select(col("id"), col("split").as("salted_split"))
    val moved = out.select("id", "split").join(salted, Seq("id"))
      .filter(col("split") =!= col("salted_split")).count()
    assert(moved > 0, "a different salt must reassign some groups")
    out.unpersist()
    // single fraction degenerates to a constant label
    assert(Sampling.groupedSplit(df, "dom", Seq("all" -> 1.0))
      .select("split").distinct().as[String].collect().toSeq == Seq("all"))
    // invalid fractions are loud
    intercept[IllegalArgumentException] {
      Sampling.groupedSplit(df, "dom", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()

  test("uniform n is exact and partitioning-independent") {
    val a = Sampling.uniformN(docs, 40, Seq("text")).select("doc_id").as[Long].collect().toSet
    val b = Sampling.uniformN(docs.repartition(13), 40, Seq("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(a.size == 40 && a == b)
  }

  test("per-domain cap bounds every registrable domain, deterministically") {
    // cap is per eTLD+1: every subdomain of hot.com counts against ONE
    // quota, while each coldN.com keeps its own
    val pages = ((0 until 24).map(i => (s"https://sub$i.hot.com/p/$i", s"page $i"))
      ++ (0 until 10).map(i => (s"https://www.cold$i.com/p/$i", s"cold $i")))
      .toDF("url", "text")
    val capped = Sampling.perDomainCap(pages, "url", cap = 3, keyCols = Seq("url"))
    val perDomain = capped
      .withColumn("d", udf((u: String) => graft.text.DomainOf.registrable(u))
        .apply(col("url")))
      .groupBy("d").count().as[(String, Long)].collect().toMap
    assert(perDomain("hot.com") == 3, s"hot domain not capped: $perDomain")
    assert((0 until 10).forall(i => perDomain(s"cold$i.com") == 1))
    // deterministic across reruns
    val again = Sampling.perDomainCap(pages, "url", cap = 3, keyCols = Seq("url"))
      .select("url").as[String].collect().toSet
    assert(again == capped.select("url").as[String].collect().toSet)
  }

  test("stratified quota respects per-stratum cap") {
    val s = Sampling.stratifiedQuota(docs, "lang", 5, Seq("text"))
    val byLang = s.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang.values.forall(_ <= 5))
    assert(byLang.keySet == docs.select("lang").distinct().as[String].collect().toSet)
  }

  test("sampling ops preserve caller columns named like internals") {
    // withColumn REPLACES same-named columns: a frame already carrying
    // _rn/_b/_o (this codebase's own working-column style) must come out
    // intact, with grouping run on fresh internal names
    val pages = (0 until 40)
      .map(i => (s"u$i", s"lang${i % 4}", s"rn$i", s"b$i", s"o$i"))
      .toDF("url", "lang", "_rn", "_b", "_o")
    val q = Sampling.stratifiedQuota(pages, "lang", 5, Seq("url"))
    assert(q.columns.toSet == pages.columns.toSet)
    assert(q.select("_rn").as[String].collect().forall(_.startsWith("rn")))
    val withToks = pages.withColumn("toks", lit(7L))
    val cut = Sampling.tokenBudget(withToks, "toks", budget = 70L,
      orderCol = md5(col("url")), tieCols = Seq("url"))
    assert(cut.count() == 10L)
    assert(cut.columns.toSet == withToks.columns.toSet)
    assert(cut.select("_b").as[String].collect().forall(_.startsWith("b")))
    val (tr, va) = Sampling.trainValSplit(pages, "lang", 0.5, Seq("url"))
    assert(tr.columns.toSet == pages.columns.toSet)
    assert(tr.count() + va.count() == 40L)
  }

  test("dsir: target-like docs outscore off-target docs; resample is " +
       "deterministic and size-k") {
    // target vocabulary A, off-target vocabulary B; raw mixes both
    val aDocs = (0 until 30).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon alpha beta word$i"))
    val bDocs = (0 until 30).map(i =>
      (100L + i, s"zeta eta theta iota kappa zeta eta word$i"))
    val target = aDocs.take(15).toDF("doc_id", "text")
    val raw = (aDocs.drop(15) ++ bDocs).toDF("doc_id", "text")
    for (portable <- Seq(false, true)) {
      val model = Dsir.fit(target, raw, "text", buckets = 512,
        portableHash = portable)
      val scored = Dsir.score(raw, "text", model)
        .select("doc_id", "dsir_logweight")
        .as[(Long, Double)].collect().toMap
      val aScores = aDocs.drop(15).map(d => scored(d._1))
      val bScores = bDocs.map(d => scored(d._1))
      assert(aScores.min > bScores.max,
        s"portable=$portable: target-like docs must outscore " +
        s"(${aScores.min} vs ${bScores.max})")
      val picked = Dsir.resample(raw, "text", model, k = 10,
        keyCols = Seq("doc_id")).select("doc_id").as[Long].collect().toSet
      assert(picked.size == 10)
      val again = Dsir.resample(raw.repartition(5), "text", model, k = 10,
        keyCols = Seq("doc_id")).select("doc_id").as[Long].collect().toSet
      assert(again == picked, s"portable=$portable: resample must be " +
        "partitioning-independent")
      // importance bias: most picks come from the target-like half
      assert(picked.count(_ < 100L) >= 7,
        s"portable=$portable: expected target-biased picks, got $picked")
      // k beyond the population degrades to "keep everything"
      val all = Dsir.resample(raw, "text", model, k = 10000,
        keyCols = Seq("doc_id")).count()
      assert(all == raw.count())
    }
  }

  test("token budget cut is bit-identical to the naive global window") {
    import org.apache.spark.sql.expressions.Window
    val docs = Synth.pages(spark, 300L)
      .select(col("url"), col("text"))
      .withColumn("toks", size(split(col("text"), "\\s+")).cast("long"))
    def naive(budget: Long): Set[String] = {
      val w = Window.orderBy(md5(col("text")), col("url"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.withColumn("_c", sum(col("toks")).over(w))
        .filter(col("_c") <= budget).select("url").as[String].collect().toSet
    }
    def scaled(budget: Long): Set[String] =
      Sampling.tokenBudget(docs, "toks", budget, md5(col("text")), Seq("url"))
        .select("url").as[String].collect().toSet
    val total = docs.agg(sum("toks")).as[Long].head()
    for (budget <- Seq(0L, 137L, 1000L, total / 3, total - 1, total, total + 10)) {
      assert(scaled(budget) == naive(budget), s"mismatch at budget=$budget")
    }
    // sanity: a mid budget keeps a strict subset
    assert(scaled(total / 3).nonEmpty && scaled(total / 3).size < 300)
  }

  test("token budget: null-token row LEADING the boundary bucket is kept " +
      "(naive-window parity pin)") {
    // bucket '0' (rows 00,01) fits the budget whole; bucket '1' is the
    // boundary and its FIRST row (10) has null tokens. The bucket-local
    // window's frame holds no non-null values yet, so an un-coalesced
    // sum gives null and `null <= x` silently dropped the row — while
    // the naive global window (frame includes bucket 0) keeps it.
    val df = Seq(("00", Some(5L)), ("01", Some(5L)),
      ("10", None: Option[Long]), ("11", Some(7L)))
      .toDF("k", "toks")
    val kept = Sampling.tokenBudget(df, "toks", budget = 12L,
      col("k"), Seq("k")).select("k").as[String].collect().toSet
    assert(kept == Set("00", "01", "10"), s"got $kept")
  }

  test("deterministic shuffle is a permutation, matches the naive window, " +
      "and is partitioning-independent") {
    import org.apache.spark.sql.expressions.Window
    val docs = Synth.pages(spark, 400L).select("url")
    val shuffled = Sampling.deterministicShuffle(docs, Seq("url"),
      salt = "s1", prefixLen = 2)
    val pos = shuffled.select("shuffle_pos").as[Long].collect().sorted
    assert(pos.toSeq == (1L to 400L), "positions must be exactly 1..n")
    // bit-identical to the naive single-task global window
    val naive = docs
      .withColumn("_k", md5(concat_ws("\u0001", lit("s1"), col("url"))))
      .withColumn("shuffle_pos",
        row_number().over(Window.orderBy(col("_k"), col("url"))).cast("long"))
      .drop("_k")
    assert(shuffled.select("url", "shuffle_pos").except(naive).isEmpty &&
      naive.except(shuffled.select("url", "shuffle_pos")).isEmpty)
    // partitioning-independent: same assignment from a different layout
    val repart = Sampling.deterministicShuffle(docs.repartition(13),
      Seq("url"), salt = "s1", prefixLen = 2)
    assert(repart.select("url", "shuffle_pos")
      .except(shuffled.select("url", "shuffle_pos")).isEmpty)
    // a different salt produces a genuinely different permutation
    val other = Sampling.deterministicShuffle(docs, Seq("url"), salt = "s2",
      prefixLen = 2)
    val moved = shuffled.as("a")
      .join(other.as("b"), col("a.url") === col("b.url"))
      .filter(col("a.shuffle_pos") =!= col("b.shuffle_pos")).count()
    assert(moved > 300, s"salt change should reshuffle most rows ($moved)")
  }

  test("prefixLen auto-sizing: deeper prefixes for bigger corpora, " +
      "output invariant across depths") {
    // r4 next-round #6: prefixLen defaulted to a silent 3 — a 10^12-row
    // caller who forgot the knob got 250M-row single-task bucket sorts.
    // choosePrefixLen picks the smallest depth whose expected bucket
    // stays under the target; forced-large synthetic counts must select
    // deeper prefixes (pure arithmetic — no 10^12-row frame needed)
    assert(Sampling.choosePrefixLen(0L) == 1)
    assert(Sampling.choosePrefixLen(1000L) == 1)
    assert(Sampling.choosePrefixLen(16L * Sampling.TargetBucketRows) == 1)
    assert(Sampling.choosePrefixLen(16L * Sampling.TargetBucketRows + 16L) == 2)
    assert(Sampling.choosePrefixLen(1L << 40) == 5) // ~10^12 rows
    assert(Sampling.choosePrefixLen(Long.MaxValue) == 5) // clamped ceiling
    // a forced target shows the monotone staircase without huge counts
    assert(Sampling.choosePrefixLen(4096L, targetBucketRows = 1L) == 3)
    // the position assignment is prefixLen-INVARIANT: auto (0), shallow,
    // and deep depths yield the identical permutation — so auto-sizing
    // can never change output, only task shape
    val docs = Synth.pages(spark, 300L).select("url")
    val auto = Sampling.deterministicShuffle(docs, Seq("url"), salt = "sA")
      .select("url", "shuffle_pos")
    for (depth <- Seq(1, 4)) {
      val at = Sampling.deterministicShuffle(docs, Seq("url"), salt = "sA",
        prefixLen = depth).select("url", "shuffle_pos")
      assert(auto.except(at).isEmpty && at.except(auto).isEmpty,
        s"shuffle output differs at prefixLen=$depth")
    }
    // same invariance for the token-budget cut
    val toks = Synth.pages(spark, 200L).select(col("url"), col("text"))
      .withColumn("toks", size(split(col("text"), "\\s+")).cast("long"))
    val total = toks.agg(sum("toks")).as[Long].head()
    def cut(pl: Int): Set[String] =
      Sampling.tokenBudget(toks, "toks", total / 2, md5(col("text")),
        Seq("url"), prefixLen = pl).select("url").as[String].collect().toSet
    val autoCut = cut(0)
    assert(autoCut == cut(1) && autoCut == cut(4))
  }

  test("deterministicShuffle precomputed-key path is bit-identical to " +
      "inline hashing and preserves the caller's key column") {
    // the cached-input optimization graft.Run's --shuffle-salt phase
    // uses: the key is stamped during cache materialization and the
    // histogram pass reads it back instead of re-hashing the text
    val docs = Synth.pages(spark, 300L).select("url")
    val inline = Sampling.deterministicShuffle(docs, Seq("url"),
      salt = "sK").select("url", "shuffle_pos")
    val keyed = docs.withColumn("k", Sampling.shuffleKey(Seq("url"), "sK"))
    val pre = Sampling.deterministicShuffle(keyed, Seq("url"), salt = "sK",
      precomputedKey = Some("k"))
    // caller-owned column survives; inline internals never leak
    assert(pre.columns.contains("k"))
    assert(inline.columns.toSet == Set("url", "shuffle_pos"))
    assert(pre.select("url", "shuffle_pos").except(inline).isEmpty &&
      inline.except(pre.select("url", "shuffle_pos")).isEmpty)
    // a missing key column fails loudly instead of silently rehashing
    val err = intercept[IllegalArgumentException] {
      Sampling.deterministicShuffle(docs, Seq("url"), salt = "sK",
        precomputedKey = Some("nope"))
    }
    assert(err.getMessage.contains("precomputedKey"))
  }

  test("token budget fails loudly on null order keys and negative tokens") {
    val docs = Synth.pages(spark, 50L).select(col("url"), col("text"))
      .withColumn("toks", size(split(col("text"), "\\s+")).cast("long"))
    // a null order key satisfies neither the wholesale nor the boundary
    // filter — the row would silently vanish where the naive window
    // keeps it (nulls first), so the cut must refuse instead
    val nullKey = when(col("url").endsWith("3"), lit(null).cast("string"))
      .otherwise(md5(col("text")))
    val eNull = intercept[IllegalArgumentException] {
      Sampling.tokenBudget(docs, "toks", 1000L, nullKey, Seq("url")).count()
    }
    assert(eNull.getMessage.contains("null"))
    // negative token counts break prefix-sum monotonicity
    val negToks = docs.withColumn("toks",
      when(col("url").endsWith("7"), lit(-5L)).otherwise(col("toks")))
    val eNeg = intercept[IllegalArgumentException] {
      Sampling.tokenBudget(negToks, "toks", 1000L, md5(col("text")),
        Seq("url")).count()
    }
    assert(eNeg.getMessage.contains("negative"))
    // null TOKEN values stay legal: 0-cost on both the scaled and naive
    // paths (sum skips nulls identically)
    val nullToks = docs.withColumn("toks",
      when(col("url").endsWith("7"), lit(null).cast("long"))
        .otherwise(col("toks")))
    assert(Sampling.tokenBudget(nullToks, "toks", 100000L, md5(col("text")),
      Seq("url")).count() == 50L)
  }

  test("sequence packing is deterministic under duplicate-key hash ties") {
    // duplicate-key rows share the seeded hash, so they tie in the
    // partition sort; with DIFFERENT token counts per copy the pack
    // boundaries then depended on arrival order out of the shuffle —
    // observable as seq assignments changing with the INPUT partitioning
    // even at fixed numPartitions. The keyCols+_toks tiebreak pins it.
    val dup = (0 until 75).map { i =>
      (s"u${i % 25}", Seq(40L, 90L, 10L)(i / 25))
    }.toDF("url", "toks")
    def run(input: org.apache.spark.sql.DataFrame) =
      Sampling.packSequences(input, "toks", maxTokens = 100L,
          keyCols = Seq("url"), numPartitions = 5)
        .groupBy("url").agg(sort_array(collect_list(
          concat_ws(":", col("seq_id"), col("doc_tokens")))).as("a"))
        .as[(String, Seq[String])].collect().toMap
    val a = run(dup.repartition(3))
    val b = run(dup.repartition(11))
    val c = run(dup.orderBy(col("toks").desc))
    assert(a == b && a == c,
      "packing depends on input partitioning/order under tied hash keys")
    assert(a.values.map(_.size).sum == 75)
  }

  test("sequence packing preserves rows, respects budget, deterministic") {
    val docs = Synth.pages(spark, 250L)
      .select(col("url"), size(split(col("text"), "\\s+")).cast("long").as("toks"))
    val packed = Sampling.packSequences(docs, "toks", maxTokens = 300L,
      keyCols = Seq("url"), numPartitions = 7).cache()
    // every doc appears exactly once
    val urls = packed.select("url").as[String].collect()
    assert(urls.length == 250 && urls.toSet.size == 250)
    // per-sequence token sums: recomputed == reported == within budget
    // (unless a singleton doc exceeds it on its own)
    val seqs = packed.groupBy("seq_id")
      .agg(sum("doc_tokens").as("s"), first("seq_tokens").as("rep"),
        count(lit(1)).as("n"))
      .as[(String, Long, Long, Long)].collect()
    seqs.foreach { case (id, s, rep, n) =>
      assert(s == rep, s"reported total wrong for $id")
      assert(s <= 300L || n == 1L, s"sequence $id over budget with $n docs")
    }
    // real packing happened (docs ~30-90 tokens → several per sequence)
    assert(seqs.length < 250 / 2)
    // deterministic at fixed parallelism
    val again = Sampling.packSequences(docs, "toks", 300L, Seq("url"),
      numPartitions = 7)
      .select("url", "seq_id").as[(String, String)].collect().toMap
    val firstRun = packed.select("url", "seq_id")
      .as[(String, String)].collect().toMap
    assert(again == firstRun)
    packed.unpersist()
    // null token values pack as zero-cost members, no NPE
    val withNulls = docs.withColumn("toks",
      when(col("url").endsWith("7"), lit(null).cast("long"))
        .otherwise(col("toks")))
    val packedN = Sampling.packSequences(withNulls, "toks", 300L, Seq("url"),
      numPartitions = 4)
    assert(packedN.count() == 250)
  }

  test("sequence packing survives a downstream coalesce(1)") {
    // regression: coalesce re-tasks the scan so a TaskContext-based
    // partition id would stamp "p0-sN" from EVERY stored partition,
    // merging unrelated sequences for any consumer grouping by seq_id.
    // The stored-pid design must keep ids and totals identical.
    val docs = Synth.pages(spark, 250L)
      .select(col("url"), size(split(col("text"), "\\s+")).cast("long").as("toks"))
    val packed = Sampling.packSequences(docs, "toks", 300L, Seq("url"),
      numPartitions = 7)
    val direct = packed.select("url", "seq_id", "seq_tokens")
      .collect().toSet
    val out = s"/tmp/packing-coalesce-${System.nanoTime()}"
    packed.coalesce(1).write.parquet(out)
    val reread = spark.read.parquet(out)
      .select("url", "seq_id", "seq_tokens").collect().toSet
    assert(reread == direct)
    // and grouped totals still reconcile after the coalesced write
    spark.read.parquet(out).groupBy("seq_id")
      .agg(sum("doc_tokens").as("s"), first("seq_tokens").as("rep"))
      .as[(String, Long, Long)].collect()
      .foreach { case (id, s, rep) => assert(s == rep, s"corrupt $id") }
  }

  test("train/val split partitions every stratum near the target fraction") {
    val (tr, va) = Sampling.trainValSplit(docs, "lang", 0.8, Seq("text"))
    assert(tr.count() + va.count() == docs.count())
    val trBy = tr.groupBy("lang").count().as[(String, Long)].collect().toMap
    val allBy = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    allBy.foreach { case (lang, n) =>
      val frac = trBy.getOrElse(lang, 0L).toDouble / n
      assert(math.abs(frac - 0.8) < 0.05, s"$lang frac=$frac")
    }
  }
}

class DomainStatsSpec extends SparkSpec {
  import spark.implicits._

  test("domain counts use registrable domains") {
    val df = Seq("https://a.news.bbc.co.uk/x", "https://news.bbc.co.uk/y",
      "https://example.com/z").toDF("url")
    val got = DomainStats.domainCounts(df, "url").as[(String, Long)].collect().toMap
    assert(got == Map("bbc.co.uk" -> 2L, "example.com" -> 1L))
  }

  test("diversity report matches hand computation; partitioning-invariant") {
    // groups of 6 and 2: N=8, H = ln8 - (6ln6 + 2ln2)/8 nats
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b")).toDF("g")
    def report(d: org.apache.spark.sql.DataFrame) =
      DomainStats.diversityReport(d, "g")
        .as[(Long, Long, Double, Double, Double, Double)].head()
    val (n, k, hBits, hNorm, simpson, top) = report(df)
    val hNats = math.log(8) - (6 * math.log(6) + 2 * math.log(2)) / 8.0
    assert(n == 8L && k == 2L)
    assert(hBits == math.rint(hNats / math.log(2) * 1e6) / 1e6)
    assert(hNorm == math.rint(hNats / math.log(2) * 1e6) / 1e6) // log2(2)=1
    assert(simpson == (36 + 4) / 64.0)
    assert(top == 0.75)
    assert(report(df.repartition(7)) == ((n, k, hBits, hNorm, simpson, top)))
    // degenerate single group: zero entropy, full concentration
    // (field-wise primitive compares: a -0.0 from float residue must
    // still pass, and boxed Double.equals(-0.0, 0.0) would not)
    val (n1, k1, h1, hn1, s1, t1) = report(Seq("x", "x", "x").toDF("g"))
    assert(n1 == 3L && k1 == 1L && h1 == 0.0 && hn1 == 0.0 &&
      s1 == 1.0 && t1 == 1.0)
  }

  test("ratio join computes guarded ratios") {
    val all = Seq.fill(4)("https://a.com/x").toDF("url")
    val base = Seq("https://a.com/y").toDF("url")
    val r = DomainStats.ratioJoin(base, all, "url")
      .select("domain", "ratio").as[(String, Double)].collect().toMap
    assert(r == Map("a.com" -> 0.25))
  }

  test("filter and exclude by domain list") {
    val df = Seq("https://keep.com/1", "https://drop.com/2").toDF("url")
    assert(DomainStats.filterByDomains(df, "url", Seq("keep.com"))
      .count() == 1)
    assert(DomainStats.excludeDomains(df, "url", Seq("drop.com"))
      .select("url").as[String].head() == "https://keep.com/1")
  }

  test("group prior gates on mean floor and sample size; filter applies it") {
    val df = Seq(
      ("good", 0.9), ("good", 0.7),        // mean 0.8, 2 docs -> keep
      ("bad", 0.1), ("bad", 0.2),          // mean 0.15 < 0.5  -> drop
      ("thin", 0.99)                       // 1 doc < minDocs  -> drop
    ).toDF("src", "score")
    val ledger = DomainStats.groupPrior(df, "src", "score",
        minMean = 0.5, minDocs = 2L)
      .as[(String, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(ledger("good") == (("good", 2L, 0.8, true)))
    assert(ledger("bad") == (("bad", 2L, 0.15, false)))
    assert(ledger("thin") == (("thin", 1L, 0.99, false)))
    val kept = DomainStats.applyGroupPrior(df, "src", "score", 0.5, 2L)
      .select("src").as[String].collect()
    assert(kept.length == 2 && kept.forall(_ == "good"))
    // mean is decimal-accumulated: partitioning cannot change the ledger
    val re = DomainStats.groupPrior(df.repartition(5), "src", "score",
        minMean = 0.5, minDocs = 2L)
      .as[(String, Long, Double, Boolean)].collect().toSet
    assert(re == ledger.values.toSet)
  }

  test("mirrorReport names texts spread across domains, keep-min example") {
    val df = Seq(
      (10L, "same article body", "a.com"),
      (7L, "same article body", "b.com"),   // min id for the mirrored text
      (3L, "same article body", "a.com"),   // repeat on a.com: copies only
      (4L, "unique text", "a.com"),
      (5L, "two copies one domain", "c.com"),
      (6L, "two copies one domain", "c.com") // 1 domain -> not a mirror
    ).toDF("doc_id", "page_text", "dom")
    val got = DomainStats.mirrorReport(df, "doc_id", "page_text", "dom")
      .as[(String, Long, Long, Long)].collect()
    assert(got.length == 1)
    val (h, copies, nDom, ex) = got.head
    assert(copies == 3L && nDom == 2L && ex == 3L, s"got ${got.head}")
    // partitioning-invariant
    val re = DomainStats.mirrorReport(df.repartition(5), "doc_id",
      "page_text", "dom").as[(String, Long, Long, Long)].collect()
    assert(re.toSeq == got.toSeq)
  }

  test("excludeUrlPatterns drops any-match, keeps the rest; loud guards") {
    val df = Seq(
      "https://ok.com/article",
      "https://ok.com/feed?utm_source=x",   // tracking query
      "https://trap.com/tag/cats",          // listing page
      "https://ok.com/tagged"               // 'tagged' must NOT match /tag/
    ).toDF("url")
    val kept = DomainStats.excludeUrlPatterns(df, "url",
      Seq("[?&]utm_", "/tag/")).as[String].collect().toSet
    assert(kept == Set("https://ok.com/article", "https://ok.com/tagged"))
    intercept[IllegalArgumentException] {
      DomainStats.excludeUrlPatterns(df, "url", Nil)
    }
  }
}

class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  test("diff classifies added/removed/changed/unchanged per id") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val neu = Seq((2L, "b"), (3L, "cc"), (4L, "d")).toDF("doc_id", "text")
    val got = Snapshots.diff(old, neu, "doc_id", Seq("text"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    val sum = Snapshots.diffSummary(old, neu, "doc_id", Seq("text"))
      .as[(String, Long)].collect().toMap
    assert(sum == Map("removed" -> 1L, "unchanged" -> 1L,
      "changed" -> 1L, "added" -> 1L))
  }

  test("diff: null content is a value, not a wildcard") {
    val old = Seq((1L, Option.empty[String]), (2L, Option("a")))
      .toDF("doc_id", "text")
    val neu = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val got = Snapshots.diff(old, neu, "doc_id", Seq("text"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed"))
  }

  test("overlap: distinct-content counts, containment both ways, jaccard") {
    // A = {a, b, c, c(dup), null}, B = {b, c, d, null} by content —
    // distinct_a 4, distinct_b 4, overlap 3 (b, c, null-as-a-value)
    val a = Seq(Option("a"), Option("b"), Option("c"), Option("c"), None)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val b = Seq(Option("b"), Option("c"), Option("d"), None)
      .zipWithIndex.map { case (t, i) => (i.toLong + 100, t) }
      .toDF("id2", "text")
    val got = Snapshots.overlap(a, b, Seq("text"))
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(got._1 == 4L && got._2 == 4L && got._3 == 3L)
    assert(got._4 == 0.75 && got._5 == 0.75)
    assert(got._6 == 0.6) // 3 / (4 + 4 - 3)
    // invariant to partitioning and row order
    val got2 = Snapshots.overlap(a.orderBy(desc("doc_id")).repartition(7),
      b.repartition(5), Seq("text"))
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(got2 == got)
    // disjoint corpora: zero overlap, zero ratios
    val c = Seq((1L, "zz")).toDF("doc_id", "text")
    val none = Snapshots.overlap(a, c, Seq("text"))
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(none._3 == 0L && none._6 == 0.0)
    // an empty side yields null ratios, not a division error
    val empty = a.filter(lit(false))
    val row = Snapshots.overlap(a, empty, Seq("text")).collect()(0)
    assert(row.getLong(1) == 0L && row.isNullAt(4))
    assert(row.getDouble(3) == 0.0 && row.getDouble(5) == 0.0)
  }

  test("checksum matches a hand fold, is partitioning-invariant, " +
      "and flips on any single-doc change") {
    val rows = Seq(("en", "alpha"), ("en", "beta"), ("de", "gamma"),
      ("en", "delta"))
    val df = rows.toDF("lang", "text")
    def expected(texts: Seq[String]): Long = {
      val sum = texts.map { t =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(t.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 16)
        BigInt(hex, 16)
      }.sum.mod(BigInt(1) << 64)
      (if (sum >= (BigInt(1) << 63)) sum - (BigInt(1) << 64) else sum)
        .toLong
    }
    val got = Snapshots.checksum(df, Seq("lang"), Seq("text"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val byLang = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(got("en") == ((3L, expected(byLang("en")))))
    assert(got("de") == ((1L, expected(byLang("de")))))
    // partitioning/order invariance
    val got2 = Snapshots.checksum(
      rows.reverse.toDF("lang", "text").repartition(7),
      Seq("lang"), Seq("text")).as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got2 == got)
    // sensitivity: one changed doc flips its group's checksum only
    val mut = Seq(("en", "alpha"), ("en", "BETA"), ("de", "gamma"),
      ("en", "delta")).toDF("lang", "text")
    val got3 = Snapshots.checksum(mut, Seq("lang"), Seq("text"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got3("de") == got("de") && got3("en") != got("en"))
  }
}
