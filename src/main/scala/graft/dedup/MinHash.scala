package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** MinHash-LSH near-duplicate detection, expressed as Catalyst-friendly
  * DataFrame ops end to end: posexplode word shingles → seeded 64-bit
  * min-hashes → per-band hashes → groupBy(band) candidate edges →
  * distributed connected components → anti-join removal.
  *
  * Mirrors the reference's 4-stage datatrove MinHash flow
  * (/root/reference/datatrove/3-local_dedupe_minhash.py:50-124, config at
  * /root/reference/datatrove/findweb.py:134-142: 5-gram shingles, 14
  * bands × 8 hashes, 64-bit) with two deliberate departures for scale:
  *
  *  1. Stage 2's per-bucket sort-merge over signature files becomes a
  *     `groupBy(band_id, band_hash)` — partial aggregation + AQE skew-join
  *     handle hot band hashes that would serialize a single worker.
  *  2. Stage 3's single-task union-find (tasks=1, workers=1 at
  *     3-local:96-97 — a global single-node reduce) becomes min-label
  *     propagation with per-round pointer doubling (O(log diameter)
  *     rounds) via iterative joins, fully distributed.
  *
  * Hash family: permutation i = xxhash64(xxhash64(shingle), i) — one
  * string hash per shingle, then 112 cheap fixed-width mixes (the
  * reference derives its 112 hashes from sha1 slices; any pairwise-
  * independent 64-bit family gives the same banding math).
  */
object MinHash {

  case class Config(
      bands: Int = 14,
      rowsPerBand: Int = 8,
      shingleSize: Int = 5,
      seed: Long = 42L,
      /** Edge-count ceiling for the driver-side union-find fast path in
        * [[clusters]]; deployments with small drivers can lower it (or 0
        * to force the distributed CC loop).
        */
      driverCcMaxEdges: Long = MinHash.DriverCcMaxEdges,
      /** >0 enables candidate VERIFICATION ([[verifiedEdges]]): every
        * band-collision edge is re-checked against the full signature
        * vectors and kept only if the estimated Jaccard (fraction of
        * agreeing permutations — the standard unbiased MinHash
        * estimator) reaches this threshold. Cuts the S-curve's
        * false-positive tail (a 14×8 plan at ~0.72 still fires on ~2%
        * of 0.4-similar pairs) at the cost of persisting BOTH the
        * numHashes-long vector table and the band table derived from it
        * (~3.6× the reference-mode cache — see [[mark]]'s persist
        * comment) plus one edge-sized verification join. 0 (default)
        * keeps the reference's any-shared-band semantics. Verification
        * applies to the STAR edge set (member → min-id representative),
        * so clustering remains CC over verified star edges; see
        * [[verifiedEdges]] for the resulting semantics (a pair can be
        * split when BOTH members verify below threshold against the
        * group's min-id representative, even if similar to each other).
        */
      verifyThreshold: Double = 0.0
  ) {
    def numHashes: Int = bands * rowsPerBand
  }

  /** LSH S-curve: the probability that a pair with Jaccard similarity
    * `s` shares at least one of `b` bands of `r` rows — 1 - (1 - s^r)^b
    * (Leskovec/Rajaraman/Ullman, MMDS ch. 3). The curve's midpoint sits
    * near the threshold (1/b)^(1/r).
    */
  def detectionProbability(s: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands)

  /** Choose (bands, rowsPerBand) for a target Jaccard threshold under a
    * signature-size budget: among all factorizations b × r ≤ maxHashes
    * (using the largest feasible signature for each split), pick the one
    * whose S-curve midpoint (1/b)^(1/r) lands closest to `threshold`;
    * ties prefer more hashes (sharper curve), then fewer bands (fewer
    * shuffled band rows). Deterministic; a planner, not a tuner — run it
    * once when sizing a deployment, not per job.
    *
    * The reference's own 14 × 8 = 112 parameters come back for its
    * implied threshold: planParams(0.72, 112) == Config(14, 8).
    */
  def planParams(threshold: Double, maxHashes: Int = 112,
                 shingleSize: Int = 5, seed: Long = 42L): Config = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0,1), got $threshold")
    require(maxHashes >= 2, s"maxHashes must be >= 2, got $maxHashes")
    val candidates = for {
      r <- 1 to maxHashes
      b = maxHashes / r
      if b >= 1 && b * r >= 2
    } yield (b, r)
    val (b, r) = candidates.minBy { case (b0, r0) =>
      (math.abs(math.pow(1.0 / b0, 1.0 / r0) - threshold),
        -(b0 * r0), b0)
    }
    Config(bands = b, rowsPerBand = r, shingleSize = shingleSize,
      seed = seed)
  }

  /** Per-document band hashes in one pass — no shingle materialization, no
    * shuffle. Produces BIT-IDENTICAL results to the declarative Catalyst
    * formulation (`MinHashSql.signatures`, the oracle DedupSpec checks it
    * against) by reusing Spark's own XXH64 with the same fold order as
    * the `xxhash64` SQL function: h = seed42; h = hashLong(arg, h) per arg;
    * strings hash their UTF-8 bytes.
    *
    * Why: the declarative explode → 112-column min-agg path shuffles
    * O(shingles) rows (~200× the corpus) and cost 642 CPU-s for 40k docs;
    * this computes the same 112 running minima in registers per document
    * (~50× less CPU) and keeps the cluster-wide data motion to the
    * O(docs×bands) signature table the banding groupBy actually needs.
    */
  def bandHashesOf(text: String, cfg: Config): Array[Long] =
    bandsOfMins(minVectorOf(text, cfg), cfg)

  /** Per-document minhash vector: the numHashes per-permutation running
    * minima [[bandHashesOf]] folds into band hashes — exposed so
    * [[verifiedEdges]] can estimate Jaccard per candidate pair without
    * re-reading text. Same register-resident single pass, same XXH64
    * fold order as the SQL path.
    */
  def minVectorOf(text: String, cfg: Config): Array[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    val Seed = 42L
    val nh = cfg.numHashes
    val mins = Array.fill(nh)(Long.MaxValue)
    def addHash(shHash: Long): Unit = {
      val base = XXH64.hashLong(shHash, Seed) // xxhash64(sh_hash, i) step 1
      var i = 0
      while (i < nh) {
        // the SQL path's permutation index is an Int literal → hashInt
        val h = XXH64.hashInt(i, base)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
    }
    val ws = graft.text.TextStats.words(text)
    val k = cfg.shingleSize
    if (ws.length >= k) {
      // r6: hash the shingle's UTF-8 bytes out of a reusable buffer fed
      // by per-word byte arrays encoded ONCE — the StringBuilder →
      // toString → getBytes form allocated two objects per shingle and
      // re-encoded every word k times (each word sits in up to k
      // windows). Bytes are identical, so shHash (and the 112 mixes
      // derived from it alone) are bit-identical to the SQL path.
      val wb = new Array[Array[Byte]](ws.length)
      var wi = 0
      var winBytes = 0 // rolling window payload size, words only
      var maxWin = 0
      while (wi < ws.length) {
        val b = ws(wi).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        wb(wi) = b
        winBytes += b.length
        if (wi >= k) winBytes -= wb(wi - k).length
        if (wi >= k - 1 && winBytes > maxWin) maxWin = winBytes
        wi += 1
      }
      val buf = new Array[Byte](maxWin + (k - 1)) // + separators
      var i = 0
      while (i + k <= ws.length) {
        var len = 0
        var j = 0
        while (j < k) {
          if (j > 0) { buf(len) = ' '; len += 1 }
          val b = wb(i + j)
          System.arraycopy(b, 0, buf, len, b.length)
          len += b.length
          j += 1
        }
        addHash(XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET,
          len, Seed))
        i += 1
      }
    } else {
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      addHash(XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET,
        bytes.length, Seed))
    }
    mins
  }

  /** Band hashes from a minhash vector — [[bandHashesOf]]'s band fold. */
  def bandsOfMins(mins: Array[Long], cfg: Config): Array[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val Seed = 42L
    val out = new Array[Long](cfg.bands)
    var b = 0
    while (b < cfg.bands) {
      var h = Seed
      var r = 0
      while (r < cfg.rowsPerBand) {
        h = XXH64.hashLong(mins(b * cfg.rowsPerBand + r), h); r += 1
      }
      out(b) = XXH64.hashInt(b, h) // Int literal in the SQL path
      b += 1
    }
    out
  }

  /** (id, band_id, band_hash) signature table — one row per doc per band.
    * Single narrow pass: per-doc band hashes (see [[bandHashesOf]]) →
    * posexplode. The only shuffle in the whole dedup flow is the
    * banding groupBy downstream.
    */
  def signatures(df: DataFrame, idCol: String, textCol: String,
                 cfg: Config = Config()): DataFrame =
    parallelized(df).select(col(idCol).as("id"),
      posexplode(bandHashes(cfg)(col(textCol))).as(Seq("band_id", "band_hash")))

  /** [[bandHashesOf]] as a column function; null text gives null. */
  private[graft] def bandHashes(cfg: Config): UserDefinedFunction =
    udf((t: String) => if (t == null) null else bandHashesOf(t, cfg))

  /** [[minVectorOf]] as a column function; null text gives null. */
  private[graft] def minVectors(cfg: Config): UserDefinedFunction =
    udf((t: String) => if (t == null) null else minVectorOf(t, cfg))

  /** Input-skew remedy for the per-doc hash passes (optimization guide
    * §2.5: "one huge unsplittable file … repartition immediately after
    * the read"): a small parquet table arrives as ONE split (row groups
    * don't subdivide), serializing the signature UDF on a single core
    * while the rest idle. Repartition only when the input has fewer
    * partitions than half the available parallelism — on a real corpus
    * (thousands of splits) this is a no-op, so no shuffle is added at
    * scale; locally it turns a 1-task 200 ms UDF stage into 32 tasks.
    * Results are unaffected: every consumer is id-keyed or aggregated.
    *
    * The split count comes from the plan: under AQE `df.rdd` runs the
    * input's shuffle and broadcast stages (the pipeline passes an
    * anti-join) only to discard them. AQE wraps only plans with an
    * exchange, whose planned width is read instead (0 = unknown: left
    * alone); `df.rdd` of any other plan is its scan splits, no job.
    */
  private[graft] def parallelized(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val par = df.sparkSession.sparkContext.defaultParallelism
    val splits = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        Some(a.executedPlan.outputPartitioning.numPartitions).filter(_ > 0)
      case _ => Some(df.rdd.getNumPartitions)
    }
    if (splits.exists(_ * 2 < par)) df.repartition(par) else df
  }

  /** Candidate duplicate edges (src → smaller dst) from shared bands.
    * Sharing any band hash marks a pair as duplicates (datatrove stage-2
    * semantics — no Jaccard re-verification, 3-local:69-85).
    */
  def candidateEdges(sigs: DataFrame): DataFrame = {
    // the aggregation and the join probe each consume `sigs` — callers
    // should persist it ([[mark]] does) so the signature UDF runs once.
    // (An explicit shared repartition was tried and reverted: AQE does not
    // reuse the exchange across the two branches, so it recomputed the
    // full signature pass twice — 4× slower unpersisted.) Hot band hashes
    // are absorbed map-side by the partial min/count aggregation (star
    // reduction: O(members) edges, never O(members²) pairs), and AQE's
    // skew-join splitting covers the probe side. That is why this is the
    // only band join: salted variants (same edge set) never paid — at 10M
    // selective salting raised the dedup max task 35.9 → 38.3 s, at 5M
    // full salting cost +9% wall and +65% shuffle write, and the
    // one-giant-cluster benchmark workload shows no band-key task skew.
    val reps = sigs.groupBy("band_id", "band_hash")
      .agg(min("id").as("dst"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .drop("cnt")
    sigs.join(reps, Seq("band_id", "band_hash"))
      .filter(col("id") =!= col("dst"))
      .select(col("id").as("src"), col("dst"))
      .distinct()
  }

  /** (id, sig) full-signature table — numHashes longs per doc, the
    * verification-side companion of [[signatures]].
    */
  def sigVectors(df: DataFrame, idCol: String, textCol: String,
                 cfg: Config = Config()): DataFrame =
    parallelized(df).select(col(idCol).as("id"),
      minVectors(cfg)(col(textCol)).as("sig"))

  /** (id, band_id, band_hash) band table derived from an (id, sig)
    * vector table — the same per-row fold [[signatures]] computes from
    * text, minus the corpus scan. One narrow pass; lets a stored vector
    * snapshot serve every consumer the band table serves.
    */
  def bandsFromVectors(vecs: DataFrame, cfg: Config = Config()): DataFrame = {
    val bandsUdf = udf((m: Seq[Long]) =>
      if (m == null) null else bandsOfMins(m.toArray, cfg))
    vecs.select(col("id"),
      posexplode(bandsUdf(col("sig"))).as(Seq("band_id", "band_hash")))
  }

  /** (band_id, band_hash, ref_id) per-bucket min-id representatives of
    * a reference snapshot — the verification counterpart table of
    * [[markAgainst]]. SNAPSHOT-STATIC: it depends only on the reference,
    * so compute it once when the snapshot is written (`--write-sigs`
    * stores it under `_band_reps` next to the vectors) instead of
    * re-aggregating the reference-sized band table on every incoming
    * batch — at a 100-TB reference that recomputation is a corpus-sized
    * shuffle per increment.
    */
  def bandReps(refVecs: DataFrame, cfg: Config = Config()): DataFrame =
    bandsFromVectors(refVecs, cfg)
      .groupBy("band_id", "band_hash").agg(min("id").as("ref_id"))

  /** Signature-estimated Jaccard of two minhash vectors: the fraction
    * of agreeing permutations (unbiased MinHash estimator, MMDS ch. 3).
    * Codegen'd higher-order functions — no UDF in the verification
    * kernel. Null if either vector is null.
    */
  def estJaccard(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), p => p))
      .cast("double") / size(a).cast("double")

  /** Candidate-edge verification: keep only (src, dst) pairs whose
    * signature-estimated Jaccard reaches `minEst`, cutting the LSH
    * S-curve's false-positive tail before clustering. Returns
    * (src, dst, est_jaccard).
    *
    * Semantics note: the edges are the STAR set (member → band-group
    * min-id rep), so the pairs tested are member/rep, not member/member.
    * Two genuinely similar docs A and B sharing a band only with each
    * other cluster fine (one IS the rep); but if a dissimilar doc C
    * holds the min id of their only shared bucket, both A→C and B→C can
    * fail the test and A/B end up un-clustered even though a direct
    * A/B test would pass — a FALSE-NEGATIVE shape that depends on id
    * assignment. This is the deliberate price of keeping verification
    * O(members) per bucket instead of O(members²); with 14 bands a true
    * near-pair gets up to 14 independent rep tests, so the miss needs
    * every shared bucket to be min'd by a dissimilar doc. Callers who
    * need pairwise-exact verification must bound the bucket size and
    * test all pairs — not offered here by design.
    *
    * 100-TB shape: `sigVectors` is corpus-sized (numHashes longs/doc) —
    * it is first semi-join-reduced to the ids that actually appear in
    * `edges` (O(candidate pairs), normally ≪ corpus), then joined to
    * both endpoints; only the surviving candidate rows ever carry two
    * full vectors (~2 KB at 112 permutations), and the Jaccard kernel
    * is zip_with/filter/size inside whole-stage codegen.
    */
  def verifiedEdges(edges: DataFrame, sigVecs: DataFrame,
                    minEst: Double): DataFrame = {
    require(minEst > 0.0 && minEst <= 1.0,
      s"verification threshold must be in (0, 1], got $minEst")
    val ids = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val needed = sigVecs.join(ids, Seq("id"), "left_semi")
    edges
      .join(needed.select(col("id").as("src"), col("sig").as("_sig_s")),
        Seq("src"))
      .join(needed.select(col("id").as("dst"), col("sig").as("_sig_d")),
        Seq("dst"))
      .withColumn("est_jaccard", estJaccard(col("_sig_s"), col("_sig_d")))
      .filter(col("est_jaccard") >= minEst)
      .select(col("src"), col("dst"), col("est_jaccard"))
  }

  /** Incremental cross-corpus near-dup marking — the crawl-snapshot
    * update path: flag every `newDf` doc whose signature shares ANY band
    * with the REFERENCE corpus, without re-clustering the reference.
    * `refSigs` is a [[signatures]] band table OR an (id, sig)
    * [[sigVectors]] table (detected by schema; compute once per corpus
    * snapshot, store as parquet, reuse across incoming batches — at
    * 100 TB the reference side is a band-keyed probe, never a re-scan
    * of the old corpus text). New-vs-new duplicates are NOT marked
    * here; compose with [[mark]] for full batch hygiene.
    *
    * `cfg.verifyThreshold > 0` applies the same S-curve false-positive
    * cut as the in-corpus verified mode and REQUIRES a vector-format
    * `refSigs` (bands alone cannot be Jaccard-tested). The verified
    * pair set mirrors the in-corpus star semantics: each colliding band
    * bucket contributes its min-id REFERENCE doc as the verification
    * counterpart (one rep per bucket keeps the pair count ≤ bands per
    * new doc — linear, no guard needed), with the same documented
    * false-negative shape (a true dup can fail to verify against a
    * bucket rep that is not its actual near-neighbor).
    */
  def markAgainst(newDf: DataFrame, idCol: String, textCol: String,
                  refSigs: DataFrame, cfg: Config = Config(),
                  flagCol: String = "is_minhash_dup",
                  precomputedReps: Option[DataFrame] = None): DataFrame = {
    val refIsVectors = refSigs.columns.contains("sig")
    val dupIds =
      if (cfg.verifyThreshold > 0.0) {
        require(refIsVectors,
          "verified markAgainst needs an (id, sig) vector snapshot — " +
            "band-format reference signatures cannot be Jaccard-tested; " +
            "re-snapshot with MinHash.sigVectors / --write-sigs")
        // materialized: the vector UDF pass over the incoming text has
        // two consumers (band fold + verification join) — an eager
        // checkpoint guarantees one execution (the lazy persist raced
        // under AQE's concurrent exchange materialization; see
        // mark) and needs no unpersist bookkeeping.
        val newVecs = sigVectors(newDf, idCol, textCol, cfg)
          .transform(graft.SparkUtil.materialize)
        // per-bucket reps: stored with the snapshot when available
        // ([[bandReps]] — snapshot-static), else derived here at the
        // cost of one reference-sized aggregation
        val refReps = precomputedReps.getOrElse(bandReps(refSigs, cfg))
        val pairs = bandsFromVectors(newVecs, cfg)
          .join(refReps, Seq("band_id", "band_hash"))
          .select(col("id"), col("ref_id")).distinct()
        // the reference vector table is REDUCED to the reps that
        // actually appear in pairs before the endpoint join (same
        // discipline as verifiedEdges): an incremental batch touches a
        // tiny fraction of a 100-TB reference's buckets, and the
        // distinct-rep frame is small enough for AQE to broadcast the
        // semi-join instead of shuffling the full reference
        val refNeeded = refSigs
          .join(pairs.select(col("ref_id").as("id")).distinct(),
            Seq("id"), "left_semi")
        val verified = pairs
          .join(newVecs.select(col("id"), col("sig").as("_sig_n")),
            Seq("id"))
          .join(refNeeded.select(col("id").as("ref_id"),
            col("sig").as("_sig_r")), Seq("ref_id"))
          .filter(estJaccard(col("_sig_n"), col("_sig_r"))
            >= cfg.verifyThreshold)
          .select("id").distinct()
          .transform(graft.SparkUtil.materialize)
        graft.SparkUtil.release(newVecs) // verified is checkpointed
        verified
      } else {
        val refBands =
          if (refIsVectors) bandsFromVectors(refSigs, cfg) else refSigs
        // left_semi keeps the probe narrow: only (id, band, hash)
        // shuffles, duplicated band hits collapse via distinct
        signatures(newDf, idCol, textCol, cfg)
          .join(refBands.select("band_id", "band_hash"),
            Seq("band_id", "band_hash"), "left_semi")
          .select(col("id")).distinct()
      }
    newDf.join(dupIds.withColumnRenamed("id", "__dup_id"),
        newDf(idCol) === col("__dup_id"), "left")
      .withColumn(flagCol, col("__dup_id").isNotNull)
      .drop("__dup_id")
  }

  /** Survivors of [[markAgainst]]: new docs NOT near-duplicating the
    * reference corpus.
    */
  def dedupAgainst(newDf: DataFrame, idCol: String, textCol: String,
                   refSigs: DataFrame, cfg: Config = Config(),
                   precomputedReps: Option[DataFrame] = None): DataFrame =
    markAgainst(newDf, idCol, textCol, refSigs, cfg,
        precomputedReps = precomputedReps)
      .filter(!col("is_minhash_dup")).drop("is_minhash_dup")

  /** Edge-count threshold under which CC runs as a driver-side union-find
    * over the collected edge list. The candidate-edge set is O(duplicates),
    * orders of magnitude smaller than the corpus, so at bench scales this
    * removes ~10 tiny shuffle jobs; above the threshold the fully
    * distributed loop below takes over (the reference instead hard-codes a
    * single-worker stage-3 for ALL sizes, 3-local:96-97).
    */
  val DriverCcMaxEdges: Long = 2000000L

  /** Round ceiling for the distributed CC loop. Pointer doubling makes
    * label distance-to-root shrink geometrically, so rounds ≈
    * log₂(component diameter) + 1 — 30 covers any graph that fits in a
    * datacenter. Hitting the cap without a fixpoint is an ERROR (thrown),
    * never a silently under-merged result.
    */
  val DefaultCcMaxIter: Int = 30

  /** Distributed-CC result: labels (id, cluster) plus the number of
    * propagation rounds actually run (0 on the fast paths). Exposed so
    * tests can pin the O(log n) convergence bound. `localSize` is the
    * label count when it is already known driver-side (the union-find
    * fast path returns a LocalRelation it just built) — callers can skip
    * both a materializing checkpoint and a counting job on it.
    */
  case class CcResult(labels: DataFrame, rounds: Int,
                      localSize: Option[Long] = None)

  /** Connected components over the (undirected) candidate edges.
    * Returns (id, cluster) for every vertex of the duplicate graph;
    * cluster = component min id.
    *
    * The distributed loop combines min-label propagation with a
    * pointer-doubling shortcut each round (the large-star/small-star
    * family — Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14):
    *
    *   relax:    lbl(v) ← min(lbl(v), min over neighbors u of lbl(u))
    *   shortcut: lbl(v) ← lbl(lbl(v))
    *
    * Labels are always vertex ids, so the shortcut is a self-join of the
    * label table; it halves (then keeps halving) every vertex's label
    * distance to its component minimum, making convergence O(log
    * diameter) rounds instead of O(diameter) — a 200-hop near-dup drift
    * chain resolves in ~8 rounds (pinned in DedupSpec). Both steps are
    * monotone non-increasing minima, so there is no oscillation and the
    * no-change fixpoint is exactly "every vertex holds its component
    * min". If `maxIter` rounds pass without a fixpoint the loop THROWS
    * rather than returning an under-merged labeling.
    *
    * Each round is two edge-label equi-joins + one partial-agg groupBy +
    * one label self-join, all on the duplicate subgraph only (tiny
    * relative to the corpus), with SparkUtil.materialize (checkpoint / localCheckpoint) to cut lineage.
    */
  def clusters(edges: DataFrame,
               driverMaxEdges: Long = DriverCcMaxEdges,
               maxIter: Int = DefaultCcMaxIter): DataFrame =
    clustersWithStats(edges, driverMaxEdges, maxIter).labels

  def clustersWithStats(edges: DataFrame,
                        driverMaxEdges: Long = DriverCcMaxEdges,
                        maxIter: Int = DefaultCcMaxIter): CcResult = {
    val e = edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    // r6: ONE action decides the path AND feeds the fast path. The old
    // count-then-collect ran two full jobs over the edge pipeline; a
    // collect limited to driverMaxEdges+1 rows answers "small enough?"
    // and, when yes (the overwhelmingly common case — candidate edges
    // are O(duplicates)), IS the edge list the union-find needs. Above
    // the cap the distributed loop takes over exactly as before, with
    // the persisted frame re-counted only for its log line / throw text.
    val srcType = e.schema("src").dataType
    if (driverMaxEdges > 0 &&
        (srcType == org.apache.spark.sql.types.StringType ||
          srcType == org.apache.spark.sql.types.LongType)) {
      val cap = math.min(driverMaxEdges, (Int.MaxValue - 2).toLong).toInt
      val rows = collectUpTo(e.rdd, cap)
      if (rows.isDefined) {
        e.unpersist(false)
        return driverUnionFind(e.sparkSession, rows.get, srcType)
      }
    }
    val nEdges = e.count()
    if (nEdges == 0) {
      e.unpersist(false)
      return driverUnionFind(e.sparkSession, Array.empty, srcType)
    }
    val vertices = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    var labels = vertices.select(col("id"), col("id").as("lbl"))
      .transform(graft.SparkUtil.materialize)
    var converged = false
    var iter = 0
    // try/finally: the maxIter throw (or any task failure inside the
    // loop) must not leak the persisted edge frame into a long-lived
    // session's CacheManager — the error path is exactly where a caller
    // catches and continues
    try {
    while (!converged) {
      if (iter >= maxIter)
        throw new IllegalStateException(
          s"distributed connected-components did not reach a fixpoint in " +
            s"$maxIter rounds over $nEdges edges — with pointer doubling " +
            s"this means a component diameter around 2^$maxIter, which is " +
            s"not a real graph; refusing to return an under-merged " +
            s"clustering. Raise maxIter if this is intentional.")
      val bySrc = e.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("lbl"))
      val byDst = e.join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("lbl"))
      // SparkUtil.materialize (not persist): truncates the logical plan each
      // round, otherwise the iterated union/join lineage grows without
      // bound and planning itself OOMs after ~10 rounds
      val relaxed = labels.union(bySrc).union(byDst)
        .groupBy("id").agg(min("lbl").as("lbl"))
        .transform(graft.SparkUtil.materialize)
      // pointer-doubling shortcut: lbl ← lbl(lbl). Every label is a
      // vertex id, so the left join always matches; coalesce guards the
      // invariant anyway.
      val next = relaxed
        .join(relaxed.select(col("id").as("lbl"), col("lbl").as("_lbl2")),
          Seq("lbl"), "left")
        .select(col("id"), coalesce(col("_lbl2"), col("lbl")).as("lbl"))
        .transform(graft.SparkUtil.materialize)
      val changed = next.as("n")
        .join(labels.as("o"), Seq("id"))
        .filter(col("n.lbl") =!= col("o.lbl"))
        .limit(1).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    } finally e.unpersist(false)
    // operational breadcrumb for large-run logs: the round count is the
    // O(log diameter) evidence (a 2%-of-corpus giant cluster should still
    // converge in single-digit rounds; see the DedupSpec 200-hop pin)
    System.err.println(s"[minhash] distributed CC converged in $iter " +
      s"round(s) over $nEdges edges")
    CcResult(labels.select(col("id"), col("lbl").as("cluster")), iter)
  }

  /** Every row of `rdd` when it holds at most `cap`, else None, in ONE
    * job over every partition, each sending at most cap + 1 rows. A
    * `limit` collect walks Spark's take ladder (1 → 4 → 16 → … partitions,
    * one sequential job each, since the limit is never reached in the
    * common case), and widening its first round takes a session conf
    * that other threads' jobs would see too. The driver keeps at most
    * cap rows: partition results that arrive after the running total
    * passes the cap are dropped.
    */
  private[dedup] def collectUpTo[T: scala.reflect.ClassTag](
      rdd: org.apache.spark.rdd.RDD[T], cap: Int): Option[Array[T]] = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[T]
    var over = false
    // the handler runs on the driver, one partition result at a time
    rdd.sparkContext.runJob(rdd, (it: Iterator[T]) => it.take(cap + 1).toArray,
      (_: Int, part: Array[T]) =>
        if (!over) {
          over = kept.length + part.length > cap
          if (over) kept.clear() else kept ++= part
        })
    Option.when(!over)(kept.toArray)
  }

  /** Path-compressed union-find over a collected edge list (small-graph
    * fast path), for string or long ids. Representative = the component
    * min in the id type's own order (lexicographic for strings, numeric
    * for longs) — exactly what the distributed loop's `min(lbl)`
    * computes, so the two paths agree bit-for-bit. Takes the already-
    * collected rows (the caller's path-decision collect doubles as the
    * edge fetch) and returns the label frame with its size, known
    * driver-side for free; no rows give an empty frame of the same
    * schema.
    */
  private def driverUnionFind(spark: SparkSession,
                              rows: Array[org.apache.spark.sql.Row],
                              idType: org.apache.spark.sql.types.DataType)
      : CcResult = {
    import org.apache.spark.sql.types._
    lazy val ord = (idType match {
      case StringType => Ordering.String
      case LongType => Ordering.Long
      case t => throw new IllegalArgumentException(
        s"driver union-find needs string or long ids, got $t")
    }).asInstanceOf[Ordering[Any]]
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    rows.foreach { row =>
      val a = row.get(0); val b = row.get(1)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
      parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
      ()
    }
    val labels = parent.keysIterator
      .map(v => org.apache.spark.sql.Row(v, find(v))).toSeq
    val schema = StructType(Seq(
      StructField("id", idType), StructField("cluster", idType)))
    import scala.jdk.CollectionConverters._
    CcResult(spark.createDataFrame(labels.asJava, schema), 0,
      Some(labels.size.toLong))
  }

  /** Cluster maps up to this many rows get an explicit broadcast hint for
    * the final mark join: the map is O(duplicates) — tiny next to the
    * corpus — but often just over AQE's 10 MB auto-broadcast threshold,
    * and without the hint the join shuffles every full-width corpus row.
    * Above the cap (pathological dup rates at extreme scale) it falls back
    * to a shuffle join, which is then genuinely necessary.
    */
  val BroadcastClustersMaxRows: Long = 5000000L

  /** Commit-or-reuse of an expensive intermediate as parquet under a
    * resume directory: Spark's `_SUCCESS` marker is the commit record —
    * a killed write leaves no marker and recomputes on the next run,
    * while a committed table is read back instead of recomputed. The
    * read-back also materializes the frame (parquet-backed), so callers
    * need neither persist nor checkpoint around it.
    */
  private[graft] def committed(spark: SparkSession, path: String)
                              (compute: => DataFrame): DataFrame = {
    val success = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a zero-partition frame (e.g. an empty cluster map) still gets one
    // schema-bearing file: Spark's file writer gives such an input one
    // empty write task, so the read-back can infer the schema
    if (!fs.exists(success))
      compute.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** End-to-end: mark near-duplicate non-representatives in `df`.
    * Adds `is_near_dup` and `minhash_cluster` (null for unclustered docs).
    * Callers that already hold band hashes (CorpusPipeline's key table)
    * call [[clustersOf]] directly.
    */
  def mark(df: DataFrame, idCol: String, textCol: String,
           cfg: Config = Config())
          (implicit spark: SparkSession): DataFrame = {
    // materialize the narrow signature table (id + 2 longs per band,
    // ~30 MB per 1M docs): candidateEdges consumes it twice and the
    // min-hash UDF pass over the corpus text is the expensive part.
    // r6: an eager checkpoint (SparkUtil.materialize) instead of the r5
    // lazy persist — AQE materializes candidateEdges' two exchanges
    // (aggregation + join probe) CONCURRENTLY, and the job probe showed
    // both branches recomputing the full signature subtree (corpus scan
    // + hash UDF, twice) despite the registered persist: concurrent
    // cold-cache population + AQE's plan rewriting defeat
    // InMemoryRelation reuse here. The checkpoint guarantees exactly
    // one execution by construction, stores the same executor-local
    // blocks, and needs no unpersist bookkeeping (ContextCleaner-
    // managed). Same for the verification-mode vector table and the
    // band table folded from it, which candidateEdges also reads twice.
    val vecs = Option.when(cfg.verifyThreshold > 0.0)(
      sigVectors(df, idCol, textCol, cfg).transform(graft.SparkUtil.materialize))
    val sigs = vecs.fold(signatures(df, idCol, textCol, cfg))(
      bandsFromVectors(_, cfg)).transform(graft.SparkUtil.materialize)
    // finally: the corpus-sized signature checkpoints are released
    // EXPLICITLY once the cluster map exists (or the computation failed)
    // — waiting for the ContextCleaner's weak-ref GC left multi-GB
    // blocks occupying unified storage memory through the remaining
    // pipeline phases on the 10M capstone.
    val (cl, clSize) =
      try clustersOf(sigs, vecs, cfg, None)
      finally {
        graft.SparkUtil.release(sigs)
        vecs.foreach(graft.SparkUtil.release)
      }
    val clSel = cl.select(col("id").as(idCol), col("cluster").as("minhash_cluster"))
    val clJoin =
      if (clSize.getOrElse(cl.count()) <= BroadcastClustersMaxRows)
        broadcast(clSel)
      else clSel
    df.join(clJoin, Seq(idCol), "left")
      .withColumn("is_near_dup",
        col("minhash_cluster").isNotNull && col(idCol) =!= col("minhash_cluster"))
  }

  /** The band-join / connected-components half of [[mark]]: the
    * (id, cluster) map — every clustered doc with its component-min
    * representative — and its row count when known driver-side for free
    * (union-find fast path), from a precomputed (id, band_id, band_hash)
    * table and, under verification, the (id, sig) vector table it was
    * folded from. Both are read more than once, so pass tables whose
    * expensive part is already materialized. With a `stageDir` the
    * cluster map is committed under it ([[committed]]): a rerun reuses a
    * committed map, and a killed write (no `_SUCCESS`) recomputes.
    */
  def clustersOf(sigs: DataFrame, vecs: Option[DataFrame], cfg: Config,
                 stageDir: Option[String])
                (implicit spark: SparkSession): (DataFrame, Option[Long]) = {
    def computeClusters(): CcResult = {
      val edges0 = candidateEdges(sigs)
      val edges = vecs match {
        case Some(v) =>
          verifiedEdges(edges0, v, cfg.verifyThreshold).select("src", "dst")
        case None => edges0
      }
      clustersWithStats(edges, cfg.driverCcMaxEdges)
    }
    // materialize, NOT persist: the returned frame references cl, so a
    // persist here could never be unpersisted inline and leaked one
    // CacheManager entry per mark() call on a long-lived session — the
    // exact trap NearDup.simhashPairs documents.
    // The committed cluster dir encodes the VERIFICATION config: a
    // resume that flips --minhash-verify on/off (or moves the
    // threshold) must recompute clusters — reusing an any-shared-band
    // cluster map under verified semantics (or vice versa) would make
    // the flag a silent no-op.
    val clustersLeaf =
      if (cfg.verifyThreshold > 0.0) s"clusters_v${cfg.verifyThreshold}"
      else "clusters"
    // the union-find fast path returns a LocalRelation it just built on
    // the driver (localSize known) — checkpointing it would launch a
    // job to re-materialize data that is already local, and counting it
    // for the broadcast decision another; both are skipped.
    stageDir match {
      case Some(d) =>
        (committed(spark, s"$d/$clustersLeaf")(computeClusters().labels),
          None)
      case None =>
        val res = computeClusters()
        res.localSize match {
          case s @ Some(_) => (res.labels, s)
          case None =>
            (res.labels.transform(graft.SparkUtil.materialize), None)
        }
    }
  }

  /** Quality-aware representative selection: like [[mark]], but each
    * near-dup cluster keeps its HIGHEST-`scoreCol` member (ties broken
    * by the greater id — deterministic) instead of the min-id one. The
    * variant real pipelines use when docs carry a quality signal (judge
    * score, length, perplexity): dropping the best-written copy of a
    * template because its id sorted later is a silent quality loss.
    * Cost over [[mark]]: one map-side-combined `max_by` over the
    * CLUSTERED rows only (O(duplicates), not corpus).
    */
  def markKeepBest(df: DataFrame, idCol: String, textCol: String,
                   scoreCol: String, cfg: Config = Config())
                  (implicit spark: SparkSession): DataFrame = {
    val marked = mark(df, idCol, textCol, cfg)
    val best = marked.filter(col("minhash_cluster").isNotNull)
      .groupBy("minhash_cluster")
      .agg(max_by(col(idCol), struct(col(scoreCol), col(idCol)))
        .as("__best_id"))
    marked.join(best, Seq("minhash_cluster"), "left")
      .withColumn("is_near_dup",
        col("minhash_cluster").isNotNull && col(idCol) =!= col("__best_id"))
      .drop("__best_id")
  }
}
