package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Training-data-pipeline extension beyond the reference surface (the
  * reference has no vector ops): brute-force cosine top-k as the exact
  * baseline, and a random-hyperplane LSH-bucketed variant as the scale
  * path (bucket join instead of full cross product; recall tunable via
  * bands × bits).
  */
object Similarity {

  /** Cap on the number of hot (band,bucket) keys collected to the driver
    * for salting. 10k longs is ~80 KB; on a degenerate corpus (or a tiny
    * `hotBucketThreshold`) the uncapped set is bounded only by
    * rows/threshold and can exhaust driver memory. Keys past the cap are
    * simply not salted — AQE skew-join splitting still applies, and
    * salting is output-preserving, so the cap shifts work, never results.
    */
  val MaxHotKeysCollected: Int = 10000

  /** Cosine similarity between a vector column and a broadcast query
    * vector, computed with codegen'd higher-order functions — no UDF, no
    * shuffle; stays inside whole-stage codegen.
    */
  def cosineToQuery(vecCol: Column, query: Array[Double]): Column = {
    val q = array(query.map(lit): _*)
    val dv = vecCol.cast("array<double>")
    val dot = aggregate(zip_with(dv, q, (a, b) => a * b), lit(0.0), _ + _)
    val nv = sqrt(aggregate(zip_with(dv, dv, (a, b) => a * b), lit(0.0), _ + _))
    val nq = math.sqrt(query.map(x => x * x).sum)
    // zero-norm guard (the cosineAgainst convention): 0/0 = NaN and NaN
    // sorts GREATEST in Spark, so unguarded zero vectors (the hashed
    // embedding of an empty doc) would outrank every true neighbor in
    // topK. Incomparable pairs score 0.0.
    if (nq == 0.0) lit(0.0)
    else when(nv > 0.0, dot / (nv * lit(nq))).otherwise(lit(0.0))
  }

  /** Exact brute-force top-k: one narrow scan + one top-k reduce. */
  def topK(embeddings: DataFrame, idCol: String, vecCol: String,
           query: Array[Double], k: Int): DataFrame =
    embeddings
      .select(col(idCol), round(cosineToQuery(col(vecCol), query), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)

  /** Cap on reference vectors accepted by [[cosineAgainst]]. The whole
    * reference set rides inside ONE broadcast row; 2^17 × dim-64 doubles
    * is ~64 MB — past that the broadcast (and the per-row O(|ref|·dim)
    * kernel) stops being the right plan and the caller should switch to
    * [[SemDedup.markAgainst]] (cell-probed) or [[nearPairs]] (LSH).
    */
  val MaxExactRefVectors: Long = 1L << 17

  /** Exact cosine decontamination of a corpus against a SMALL reference
    * set (a benchmark suite's eval embeddings): per corpus row, the max
    * cosine to ANY reference vector (`simCol`, 4 dp) and a flag
    * (`flagCol` = rounded max ≥ `minSim`).
    *
    * 100-TB shape: the reference collapses to a single row
    * (`collect_list` of ref vectors with precomputed norms) that
    * broadcasts once to every task; the corpus side is then ONE narrow
    * map pass — no corpus shuffle, no driver collect, and the whole
    * kernel is codegen'd higher-order functions (zip_with/aggregate/
    * transform), no UDF. This is the exact counterpart of the
    * approximate paths: use it when |ref| is small (eval-suite scale)
    * and recall must be 1.0 by construction; use LSH/IVF when the
    * reference side is itself corpus-sized.
    */
  def cosineAgainst(corpus: DataFrame, ref: DataFrame, idCol: String,
                    vecCol: String, minSim: Double,
                    simCol: String = "max_ref_sim",
                    flagCol: String = "is_contaminated"): DataFrame = {
    val nRef = ref.count()
    require(nRef > 0, "cosineAgainst: empty reference set")
    require(nRef <= MaxExactRefVectors,
      s"cosineAgainst: $nRef reference vectors exceed MaxExactRefVectors=" +
        s"$MaxExactRefVectors - use SemDedup.markAgainst or nearPairs " +
        "for corpus-sized reference sets")
    def dotc(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), _ + _)
    // per-ref norm computed ONCE here, not once per corpus row per ref
    val refVec = col(vecCol).cast("array<double>")
    val refRow = ref.agg(collect_list(struct(refVec.as("v"),
      sqrt(dotc(refVec, refVec)).as("n"))).as("_refs"))
    val dv = col(vecCol).cast("array<double>")
    // zero-norm guard on BOTH sides: 0/0 = NaN, and NaN >= minSim is
    // TRUE under Spark's NaN-greatest ordering — an all-zero vector
    // (e.g. the hashed embedding of an empty doc) would flag the whole
    // corpus contaminated. Incomparable pairs score 0.0, matching the
    // jaccardAgainst / SemDedup convention.
    // r6: the document vector (cast) and its norm are BOUND ONCE as a
    // lambda-variable struct — as withColumn intermediates the cast and
    // the norm aggregate could re-inline into the per-ref lambda, where
    // HOFs evaluate interpreted with no subexpression sharing (same
    // class as the jaccardAgainst / dedupLinesWithinDoc fixes). Same
    // values, same fold order.
    corpus.crossJoin(broadcast(refRow))
      .withColumn(simCol, round(
        transform(array(struct(dv.as("v"), sqrt(dotc(dv, dv)).as("n"))),
          d => array_max(transform(col("_refs"),
            r => when(d("n") > 0.0 && r("n") > 0.0,
              dotc(d("v"), r("v")) / (d("n") * r("n")))
              .otherwise(lit(0.0)))))
          .getItem(0), 4))
      .withColumn(flagCol, col(simCol) >= minSim)
      .drop("_refs")
  }

  /** Deterministic random hyperplanes: `planes(p)(d)` from a seeded mix —
    * executors regenerate identically, nothing to broadcast.
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val r = new java.util.SplittableRandom(seed)
    Array.fill(nPlanes, dim)(r.nextGaussian())
  }

  /** Sign-bit LSH bucket id for a vector column: `nPlanes` dot-product
    * signs packed into one long. Vectors with high cosine land in the
    * same bucket with high probability.
    */
  def lshBucket(vecCol: Column, planes: Array[Array[Double]]): Column = {
    // One loop over all planes per row (the plane matrix rides the task
    // closure — a few KB). The earlier declarative form — one
    // aggregate(zip_with(...)) HOF column PER PLANE summed up — traversed
    // the vector nPlanes times through non-codegen lambda plumbing; same
    // width pathology ivfAssign had (measured 40× there). Summation order
    // per dot product is unchanged, so buckets are bit-identical.
    val f = udf { (v: Seq[Double]) =>
      if (v == null) 0L
      else {
        var bits = 0L
        var p = 0
        while (p < planes.length) {
          val pl = planes(p)
          var d = 0.0
          var i = 0
          val n = math.min(v.length, pl.length)
          while (i < n) { d += v(i) * pl(i); i += 1 }
          if (d >= 0) bits |= 1L << p
          p += 1
        }
        bits
      }
    }
    f(vecCol.cast("array<double>"))
  }

  /** Scale path: all-pairs near-neighbor candidates via LSH buckets.
    * `bands` independent bucket functions of `bitsPerBand` planes each;
    * pairs sharing any band bucket are candidates, then exact cosine
    * filters by `minSim`. Shuffles only bucket-colocated pairs —
    * O(sum of bucket sizes squared), not O(n²).
    *
    * Skew hardening (output-preserving): the bucket self-join runs over
    * NARROW (id, band, bucket) rows — full vectors are fetched by id only
    * for the deduplicated candidate pairs — and buckets whose membership
    * exceeds `hotBucketThreshold` are split into `saltBuckets` shards:
    * side A keyed by salt(id_a), side B replicated across all shards.
    * Every pair still appears in exactly ONE shard, so the result set is
    * IDENTICAL to the unsalted join while the per-task group size for a
    * degenerate bucket (e.g. many all-zero embeddings) drops by the salt
    * factor. Hot-bucket detection is one narrow aggregation over the
    * persisted bucket table; misclassification only shifts work, never
    * changes the output.
    */
  def nearPairs(embeddings: DataFrame, idCol: String, vecCol: String,
                minSim: Double, bands: Int = 4, bitsPerBand: Int = 12,
                dim: Int = 64, seed: Long = 42L,
                saltBuckets: Int = 8,
                hotBucketThreshold: Long = 4096L): DataFrame = {
    val withBuckets = (0 until bands).map { b =>
      val planes = hyperplanes(bitsPerBand, dim, seed + b * 1000L)
      embeddings.select(col(idCol).as("id"), lit(b).as("band"),
        lshBucket(col(vecCol), planes).as("bucket"))
    }.reduce(_ unionByName _)
      // the plane dot products are the expensive part; the table is ~20 B/row
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val s = math.max(saltBuckets, 1)
    // hot (band, bucket) keys, collected as hashes: collisions could only
    // mark a cold bucket hot (harmless — salting is output-preserving).
    // Skipped entirely when salting is off — no wasted detection job.
    val hotKeys: Array[Long] =
      if (s <= 1) Array.empty
      else withBuckets
        .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
        .filter(col("n") > hotBucketThreshold)
        // top-N hottest only: bounded driver collect (TakeOrderedAndProject)
        // even when every bucket crosses the threshold; see
        // MaxHotKeysCollected
        .orderBy(col("n").desc, col("band"), col("bucket"))
        .limit(MaxHotKeysCollected)
        .select(xxhash64(col("band"), col("bucket")))
        .collect().map(_.getLong(0))
    val isHot =
      if (hotKeys.isEmpty) lit(false)
      else xxhash64(col("band"), col("bucket")).isInCollection(hotKeys)

    val a = withBuckets
      .withColumn("salt",
        when(isHot, pmod(xxhash64(col("id")), lit(s.toLong))).otherwise(lit(0L)))
      .select(col("band"), col("bucket"), col("salt"), col("id").as("id_a"))
    val b = withBuckets
      .withColumn("salt", explode(
        when(isHot, sequence(lit(0L), lit((s - 1).toLong)))
          .otherwise(array(lit(0L)))))
      .select(col("band"), col("bucket"), col("salt"), col("id").as("id_b"))

    // materialize the (small) deduped candidate set while the bucket
    // table is cached, then release the cache. localCheckpoint (eager),
    // not persist: checkpoint blocks are GC-managed (ContextCleaner
    // releases them when the caller drops the frame), whereas a persist
    // here leaked one permanent CacheManager entry per nearPairs call in
    // a long-lived session. The candidate set is O(pairs)-sized.
    val candidates = a.join(b, Seq("band", "bucket", "salt"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
      .transform(graft.SparkUtil.materialize)
    withBuckets.unpersist(false)

    // exact verify: vectors rejoin by id AFTER pair dedup, so each vector
    // crosses the wire O(candidate pairs) once instead of riding every
    // bucket row on both join sides
    val vecs = embeddings.select(col(idCol).as("_vid"),
      col(vecCol).cast("array<double>").as("_v"))
    val dot = aggregate(zip_with(col("va"), col("vb"), (x, y) => x * y),
      lit(0.0), _ + _)
    val na = sqrt(aggregate(zip_with(col("va"), col("va"), (x, y) => x * y),
      lit(0.0), _ + _))
    val nb = sqrt(aggregate(zip_with(col("vb"), col("vb"), (x, y) => x * y),
      lit(0.0), _ + _))
    candidates
      .join(vecs.select(col("_vid").as("id_a"), col("_v").as("va")), "id_a")
      .join(vecs.select(col("_vid").as("id_b"), col("_v").as("vb")), "id_b")
      // zero-norm guard: lshBucket puts every all-zero vector in the
      // same bucket in EVERY band (d >= 0 sets each bit), and unguarded
      // 0/0 = NaN passes `>= minSim` under NaN-greatest ordering — a
      // corpus with many empty-doc embeddings would emit O(n²) bogus
      // NaN pairs. Incomparable pairs score 0.0 (cosineAgainst's rule).
      .withColumn("sim", when(na > 0.0 && nb > 0.0,
        round(dot / (na * nb), 4)).otherwise(lit(0.0)))
      .filter(col("sim") >= minSim)
      .select("id_a", "id_b", "sim")
  }

  /** Train IVF centroids: spherical k-means (Lloyd's iterations with
    * cosine assignment) over a bounded DETERMINISTIC sample of the
    * corpus — the same collect-a-capped-sample + driver-loop pattern
    * the BPE and fastText trainers use. Random centroids give
    * unbalanced cells and poor recall on clustered real embeddings;
    * a few Lloyd's rounds put centroids on the actual data modes, which
    * is the difference between a demo ANN and one worth partitioning
    * 100 TB by.
    *
    * Determinism: the sample is hash-ranked ([[Sampling.uniformN]]
    * ordering), k-means++ seeding uses a seeded PRNG over it, and
    * Lloyd's is deterministic given the seeding — so the centroid set
    * is reproducible at any parallelism (executors never see the
    * training loop; they only get the finished `Array`s as plan
    * literals). Cost: one narrow top-`sampleN` job, then O(sampleN · k
    * · dim · iters) driver FLOPs — centroid training is driver-side by
    * design, exactly like the reference's model-then-broadcast flow.
    *
    * Zero vectors in the sample are skipped (no direction to learn); an
    * emptied cell keeps its previous centroid. Returns unit-norm
    * centroids consumable by [[ivfAssign]]/[[ivfTopK]] unchanged.
    */
  def trainCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int = 8, sampleN: Int = 4096,
                     seed: Long = 42L): Array[Array[Double]] = {
    require(k > 0 && iters >= 0 && sampleN >= k,
      s"need sampleN >= k > 0 (got k=$k, sampleN=$sampleN)")
    val sampleRows = Sampling.uniformN(
        embeddings.select(col(idCol),
          col(vecCol).cast("array<double>").as("_v")),
        sampleN, Seq(idCol), seed)
      .select("_v").collect()
    // null rows are skipped like zero vectors — no direction to learn
    val sample: Array[Array[Double]] = sampleRows.iterator
      .filterNot(_.isNullAt(0))
      .map(_.getSeq[Double](0).toArray)
      .map(normalize).filter(_ != null).toArray
    require(sample.nonEmpty, "trainCentroids: no non-zero vectors sampled")
    val dim = sample(0).length
    val rnd = new java.util.SplittableRandom(seed)

    // Farthest-point (maximin) seeding, cosine distance d = 1 - dot on
    // unit vectors: each next seed is the sample point farthest from
    // every chosen seed. For well-separated clusters this places exactly
    // one seed per cluster (the farthest point always lies in an
    // unseeded cluster while any remain), where D²-SAMPLED k-means++
    // regularly double-seeds a cluster and Lloyd's then converges to a
    // merged+split local optimum — observed directly on the clustered
    // test fixture. Deterministic given the seeded first pick.
    val centroids = new Array[Array[Double]](k)
    centroids(0) = sample(rnd.nextInt(sample.length)).clone()
    val minDist = Array.fill(sample.length)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var far = -1
      var farDist = -1.0
      var i = 0
      while (i < sample.length) {
        val d = math.max(0.0, 1.0 - dot(sample(i), centroids(c - 1)))
        if (d < minDist(i)) minDist(i) = d
        if (minDist(i) > farDist) { farDist = minDist(i); far = i }
        i += 1
      }
      // all-zero distances (k > distinct directions): duplicate a seed
      centroids(c) = sample(if (farDist > 0.0) far
                            else rnd.nextInt(sample.length)).clone()
      c += 1
    }

    // Lloyd's: assign to max-cosine centroid, recompute as normalized mean
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Int](k)
      var i = 0
      while (i < sample.length) {
        var best = 0
        var bestSim = Double.NegativeInfinity
        var j = 0
        while (j < k) {
          val s = dot(sample(i), centroids(j))
          if (s > bestSim) { bestSim = s; best = j }
          j += 1
        }
        val v = sample(i)
        val su = sums(best)
        var d0 = 0
        while (d0 < dim) { su(d0) += v(d0); d0 += 1 }
        counts(best) += 1
        i += 1
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) {
          val n = normalize(sums(j))
          if (n != null) centroids(j) = n
        } // emptied or degenerate cell keeps its previous centroid
        j += 1
      }
      it += 1
    }
    centroids
  }

  /** Persist a trained centroid set (one row per cell, cell id + vector)
    * so IVF indexes and SemDedup cell maps stay STABLE across runs —
    * incremental batches gated against a stored reference must see the
    * same cell boundaries the reference was indexed with (the
    * `--write-sigs`/`--ref-sigs` discipline, applied to embeddings).
    */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
                    centroids: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell_id", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a centroid set written by [[saveCentroids]], ordered by cell
    * id — bit-identical to the saved array.
    */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Array[Array[Double]] =
    spark.read.parquet(path)
      .orderBy("cell_id")
      .collect()
      .map(_.getSeq[Double](1).toArray)

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Unit-normalized copy, or null for a zero vector. */
  private def normalize(v: Array[Double]): Array[Double] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    if (n <= 0.0) null
    else {
      val inv = 1.0 / math.sqrt(n)
      val out = new Array[Double](v.length)
      i = 0
      while (i < v.length) { out(i) = v(i) * inv; i += 1 }
      out
    }
  }

  /** IVF-style variant: assign each vector to its nearest of `centroids`
    * (trained or deterministic seed vectors), search only within the probe
    * cell. At cluster scale the cell assignment is the partition key, so a
    * query touches one partition instead of the full corpus.
    *
    * The assignment broadcasts the UNIT-NORMALIZED centroid matrix and
    * argmaxes the dot product in one tight per-row loop (argmax dot over
    * unit centroids == argmax cosine — the row's own norm is a constant
    * factor). The earlier declarative form — `greatest` over nCells
    * `struct(cosine, cell)` columns of higher-order-function aggregates —
    * was measured 40× slower at 1M×64×128 (334 s vs 8 s index build,
    * the `index_build` part of `Probe e2e ann`): an nCells-wide
    * expression tree re-derives the row norm
    * per centroid and defeats codegen at this width. Exact cosine ties
    * resolve to the LOWEST cell index, deterministically.
    */
  def ivfAssign(embeddings: DataFrame, idCol: String, vecCol: String,
                centroids: Array[Array[Double]]): DataFrame = {
    // zero centroids (untrainable) keep their zero direction: dot 0
    val unit = centroids.map(c => Option(normalize(c)).getOrElse(c))
    val bc = embeddings.sparkSession.sparkContext.broadcast(unit)
    val cellUdf = udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val cs = bc.value
        var best = 0
        var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < cs.length) {
          val ctr = cs(c)
          var d = 0.0
          var i = 0
          val n = math.min(v.length, ctr.length)
          while (i < n) { d += v(i) * ctr(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        Int.box(best)
      }
    }
    embeddings.select(col(idCol), col(vecCol),
      cellUdf(col(vecCol).cast("array<double>")).as("ivf_cell"))
  }

  /** IVF-probed top-k search: rank cells by query-to-centroid cosine on
    * the driver (centroid count is tiny), scan only the `nProbe` closest
    * cells, exact cosine within them. With the cell table written
    * `partitionBy("ivf_cell")` the probe filter becomes partition pruning
    * — a query touches nProbe/nCells of the corpus instead of all of it;
    * `nProbe = centroids.length` degrades to exact brute force (asserted
    * in AnalyticsSpec).
    *
    * If `embeddings` ALREADY carries an `ivf_cell` column (a prebuilt
    * index — [[ivfAssign]] output, typically written
    * `partitionBy("ivf_cell")` and read back), the assignment is NOT
    * recomputed: the probe is then a pruned read + exact cosine over
    * nProbe cells only. Without the prebuilt column the per-row
    * nCells-cosine assignment runs inline, which costs MORE than one
    * brute-force scan — fine for one-off queries on small tables, wrong
    * for repeated queries (measured 155 s inline vs 0.5 s prebuilt at
    * 1M×64; the `probe` part of `Probe e2e ann` times the prebuilt path
    * — the index build is the point of IVF).
    */
  def ivfTopK(embeddings: DataFrame, idCol: String, vecCol: String,
              query: Array[Double], k: Int,
              centroids: Array[Array[Double]], nProbe: Int): DataFrame = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.max(math.sqrt(na) * math.sqrt(nb), 1e-12)
    }
    val probeCells = centroids.zipWithIndex
      .map { case (c, i) => (cos(query, c), i) }
      .sortBy { case (s, i) => (-s, i) }
      .take(math.max(nProbe, 1)).map(_._2).toSeq
    val assigned =
      if (embeddings.columns.contains("ivf_cell")) embeddings
      else ivfAssign(embeddings, idCol, vecCol, centroids)
    topK(assigned.filter(col("ivf_cell").isInCollection(probeCells)),
      idCol, vecCol, query, k)
  }
}
