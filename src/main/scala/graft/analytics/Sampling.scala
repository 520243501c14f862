package graft.analytics

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Deterministic sampling — reimplements the reference's sampling family
  * (/root/reference/utils/sample.py:11-27 uniform n-sample,
  * /root/reference/utils.py:77-128 stratified-by-bin quotas,
  * /root/reference/fasttext/train.py:34-39 stratified train/val split)
  * with content-hash ordering instead of RNG state, so results are
  * identical at any parallelism (pandas `df.sample` is driver-RNG-bound
  * and unreproducible across partitionings).
  */
object Sampling {

  private def hashOrder(cols: Seq[Column], seed: Long): Column =
    xxhash64(cols :+ lit(seed): _*)

  /** Target rows per order-bucket for the auto-sized `prefixLen` of
    * [[deterministicShuffle]]/[[tokenBudget]] (each bucket's exact
    * window runs through ONE task): 4M rows ≈ a few hundred MB of
    * narrow (hash, key) sort state — comfortably one task, far below
    * the single-task-sorts-the-corpus failure the bucket trick exists
    * to prevent.
    */
  val TargetBucketRows: Long = 4L << 20

  /** Smallest hex-prefix length in [1,5] whose EXPECTED bucket size
    * `rows / 16^len` stays at or below `targetBucketRows`. md5 output
    * is uniform, so expected == typical; 5 (1M buckets) is the
    * driver-side offset-table ceiling — at 10^12 rows that still holds
    * under 1M rows per bucket task. Deterministic, pure arithmetic —
    * the caller pays one `count()` to use it.
    */
  def choosePrefixLen(rows: Long,
                      targetBucketRows: Long = TargetBucketRows): Int = {
    require(targetBucketRows > 0, "targetBucketRows must be positive")
    var len = 1
    var buckets = 16L
    while (len < 5 && rows / buckets > targetBucketRows) {
      len += 1; buckets *= 16L
    }
    len
  }

  /** An internal-column name not already present on `df` — `withColumn`
    * silently REPLACES an existing column, so a caller frame that happens
    * to carry e.g. `_rn` or `_b` (this codebase itself propagates
    * `_bucket`-style working columns between stages) must not lose it.
    */
  private def fresh(df: DataFrame, base: String): String = {
    var n = base
    var i = 0
    while (df.columns.contains(n)) { i += 1; n = s"$base$i" }
    n
  }

  /** Exact-n uniform sample: rank by seeded content hash, take n.
    * One shuffle (top-n), deterministic for a given seed.
    */
  def uniformN(df: DataFrame, n: Int, keyCols: Seq[String], seed: Long = 42L): DataFrame =
    df.orderBy(hashOrder(keyCols.map(col), seed), col(keyCols.head))
      .limit(n)

  /** Per-stratum quota sample (utils.py stratified semantics): `quota`
    * rows per distinct value of `stratumCol`, hash-ranked.
    */
  def stratifiedQuota(df: DataFrame, stratumCol: String, quota: Int,
                      keyCols: Seq[String], seed: Long = 42L): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(hashOrder(keyCols.map(col), seed), col(keyCols.head))
    val rn = fresh(df, "_rn")
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) <= quota)
      .drop(rn)
  }

  /** Stratified train/val split: within each stratum, the hash-rank
    * fraction below `trainFrac` goes to train. Returns (train, val).
    *
    * Boundary semantics: the per-stratum train count is
    * `floor(n * trainFrac)` — FLOOR, stated explicitly because engines
    * disagree on double→int casts (Spark truncates, DuckDB rounds; the
    * sf0.1 invariance replay caught exactly that divergence in
    * q_train_split, which now uses exact integer `div` instead).
    */
  def trainValSplit(df: DataFrame, stratumCol: String, trainFrac: Double,
                    keyCols: Seq[String], seed: Long = 42L): (DataFrame, DataFrame) = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(hashOrder(keyCols.map(col), seed), col(keyCols.head))
    val n = Window.partitionBy(col(stratumCol))
    val (rn, cn, tr) = (fresh(df, "_rn"), fresh(df, "_n"), fresh(df, "_train"))
    val ranked = df
      .withColumn(rn, row_number().over(w))
      .withColumn(cn, count(lit(1)).over(n))
      // cast("long"), not "int": floor(n * frac) of a 3B-row stratum
      // overflows Int and wraps negative — the whole stratum would land
      // in val silently. (row_number's own Int ceiling is the next
      // limit in that regime; per-stratum rows stay below it in any
      // sharded deployment.)
      .withColumn(tr, col(rn) <= floor(col(cn) * trainFrac).cast("long"))
    (ranked.filter(col(tr)).drop(rn, cn, tr),
      ranked.filter(!col(tr)).drop(rn, cn, tr))
  }

  /** Leakage-safe grouped split: every row of a GROUP (registrable
    * domain, source site, dedup-cluster id) lands in the SAME split —
    * the assignment the row-level [[trainValSplit]] cannot give. This is
    * the split that keeps near-duplicates from straddling train/test:
    * template pages, mirrored articles and re-crawls live on the same
    * domain, so a row-hash split leaks them across the boundary and
    * inflates eval scores (the contamination failure mode benchmarks
    * decontaminate against).
    *
    * Assignment is pure column arithmetic, engine-portable (the DSIR
    * md5-bucket discipline): bucket = first-8-hex-digits of
    * md5(salt|group) as an unsigned int mod 10^6, split by cumulative
    * integer cutoffs — no window, no shuffle, no model state; a DuckDB
    * oracle replays it exactly. Null groups hash the salt alone (one
    * consistent split). Realized fractions converge on requested ones at
    * the rate group-count allows — a corpus of 3 domains can only split
    * 3 ways, which is the point.
    */
  def groupedSplit(df: DataFrame, groupCol: String,
                   fractions: Seq[(String, Double)],
                   salt: String = "graft",
                   splitCol: String = "split"): DataFrame = {
    require(fractions.nonEmpty, "groupedSplit: empty fractions")
    require(fractions.map(_._1).distinct.size == fractions.size,
      "groupedSplit: duplicate split names")
    require(fractions.forall(_._2 > 0), "groupedSplit: fractions must be > 0")
    val total = fractions.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"groupedSplit: fractions must sum to 1, got $total")
    val buckets = 1000000L
    val b = conv(substring(
      md5(concat_ws("|", lit(salt), col(groupCol).cast("string"))), 1, 8),
      16, 10).cast("long") % buckets
    // round, not floor: IEEE754 accumulation of e.g. 0.7+0.2 reads
    // 0.8999999999999999, and floor would land the cutoff one bucket
    // below what any independently-written replay (or the docstring's
    // DuckDB oracle) computes for the same fractions
    val cutoffs = fractions.init.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.round(c * buckets))
    val chain = fractions.init.zip(cutoffs).reverse
      .foldLeft(lit(fractions.last._1)) { case (acc, ((name, _), cut)) =>
        when(b < cut, lit(name)).otherwise(acc)
      }
    df.withColumn(splitCol, chain)
  }

  /** Corpus balancing: cap documents per registrable domain (the
    * training-mix guard against a single crawl domain dominating the
    * corpus). A composition: derive eTLD+1, then [[stratifiedQuota]]
    * with the domain as the stratum — one window shuffle on the domain,
    * deterministic hash order.
    */
  def perDomainCap(df: DataFrame, urlCol: String, cap: Int,
                   keyCols: Seq[String], seed: Long = 42L): DataFrame = {
    val dom = fresh(df, "_domain")
    stratifiedQuota(df.withColumn(dom, DomainStats.registrableUdf(col(urlCol))),
      dom, cap, keyCols, seed).drop(dom)
  }

  /** Token-budget cut — "give me exactly ≤ N training tokens": keep
    * documents, in deterministic `orderCol` order (tie-broken by
    * `tieCols`), while the RUNNING token total stays ≤ `budget`. The
    * standard corpus-assembly final cut.
    *
    * Semantics are exactly `cumsum(tokens) OVER (ORDER BY orderCol,
    * tieCols) <= budget` — but the naive window serializes the whole
    * corpus through ONE task after a global sort. Scale path instead:
    *
    *  1. One partial-agg pass sums tokens per ORDER-PRESERVING bucket
    *     (the `prefixLen`-char prefix of the order key — string-prefix
    *     buckets sort exactly like the full keys across buckets). The
    *     driver prefix-sums the ≤ 16^prefixLen bucket totals and locates
    *     the boundary bucket where the budget is crossed.
    *  2. Buckets before the boundary are kept WHOLESALE (no sort at
    *     all), buckets after are dropped, and only the boundary bucket's
    *     rows — ~corpus/(16^prefixLen) — run the exact cumulative window
    *     against the remaining budget.
    *
    * Two scans, no global sort, bit-identical to the naive window
    * (oracle-checked). `orderCol` should be a deterministic uniformly
    * distributed string (e.g. `md5(text)`); `tieCols` must make the
    * order total or the boundary cut is ambiguous.
    */
  def tokenBudget(df: DataFrame, tokenCol: String, budget: Long,
                  orderCol: Column, tieCols: Seq[String],
                  prefixLen: Int = 0): DataFrame = {
    require(prefixLen >= 0 && prefixLen <= 5,
      s"prefixLen must be 0 (auto) or in [1,5], got $prefixLen")
    // prefixLen 0 = auto-size from one cheap count: the r4 default (3)
    // was a silent fixed knob — a 10^12-row caller who forgot it got
    // 250M-row single-task boundary sorts ([[choosePrefixLen]]). The
    // explicit-arg override remains for callers who know their corpus.
    val pl =
      if (prefixLen > 0) prefixLen
      else choosePrefixLen(df.count())
    val (oc, bc) = (fresh(df, "_o"), fresh(df, "_b"))
    val withKeys = df
      .withColumn(oc, orderCol.cast("string"))
      .withColumn(bc, substring(col(oc), 1, pl))
    // bounded driver collect: for a hex order key the bucket count is
    // ≤ 16^prefixLen; an arbitrary orderCol could explode it, so the
    // collect is capped and over-cardinality fails loudly instead of
    // OOMing the driver (shorten prefixLen or hash the order key).
    val maxBuckets = 1 << 20
    val rows = withKeys.groupBy(bc)
      .agg(sum(col(tokenCol).cast("long")).as("_t"),
        min(col(tokenCol).cast("long")).as("_min"))
      .orderBy(bc)
      .limit(maxBuckets + 1)
      .collect()
    require(rows.length <= maxBuckets,
      s"tokenBudget: > $maxBuckets distinct order-key prefixes at " +
        s"prefixLen=$pl — use a hash-valued orderCol or a shorter prefix")
    // precondition checks ride the same collected pass (no extra job):
    // a null order key would satisfy neither the `< boundary` nor the
    // `= boundary` filter and silently vanish from BOTH the wholesale
    // and boundary slices, and a negative token count breaks the
    // prefix-sum monotonicity the bucket cut relies on — either way the
    // result would diverge from the naive cumulative window this
    // claims bit-identity with, so fail loudly instead. (Null TOKEN
    // values are fine: sum skips them here and in the window alike —
    // a null-token row is 0-cost on both paths.)
    require(rows.forall(_.get(0) != null),
      "tokenBudget: orderCol evaluated to null for some rows — supply a " +
        "total, non-null order key (e.g. coalesce to a sentinel first)")
    require(rows.forall(r => r.isNullAt(2) || r.getLong(2) >= 0L),
      s"tokenBudget: negative values in $tokenCol — token counts must be " +
        "non-negative for the running-total cut to be well-defined")
    // an all-null-token bucket sums to null = 0 cost
    val totals = rows.map(r =>
      (r.getString(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
    var acc = 0L
    var boundary: Option[String] = None
    totals.foreach { case (b, t) =>
      if (boundary.isEmpty) {
        if (acc + t <= budget) acc += t
        else boundary = Some(b)
      }
    }
    val result = boundary match {
      case None => withKeys // whole corpus fits the budget
      case Some(bb) =>
        val wholesale = withKeys.filter(col(bc) < lit(bb))
        // exact window over the boundary bucket only (tiny slice); the
        // empty partitionBy is safe — only ~1/16^prefixLen of rows enter
        val w = Window
          .orderBy(col(oc) +: tieCols.map(col): _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = fresh(withKeys, "_c")
        // coalesce inside the window: a leading all-null-token prefix of
        // the boundary bucket would sum to null here (the bucket-local
        // frame has no non-null values yet) and `null <= x` drops the
        // rows — while the naive GLOBAL window's frame still holds the
        // earlier buckets' non-null values and keeps them. null = 0-cost
        // on both paths, explicitly.
        val boundaryKept = withKeys.filter(col(bc) === lit(bb))
          .withColumn(cum,
            sum(coalesce(col(tokenCol).cast("long"), lit(0L))).over(w))
          .filter(col(cum) <= lit(budget - acc))
          .drop(cum)
        wholesale.unionByName(boundaryKept)
    }
    result.drop(oc, bc)
  }

  /** Greedy sequence packing — group documents into training sequences
    * of at most `maxTokens` tokens each (the concat-and-pack step every
    * LLM pretraining pipeline runs before tokenization). Adds `seq_id`
    * (the sequence a doc landed in) and `seq_tokens` (that sequence's
    * token total) to the projection `keyCols` + `tokenCol`.
    *
    * Scale design: packing is inherently sequential, so it runs PER
    * PARTITION — rows are range-partitioned and sorted by a seeded
    * content hash (deterministic for a fixed `numPartitions`), then one
    * `mapPartitions` pass packs greedily with one-bin buffering (bounded
    * memory). No global sort, no driver state; the only waste is ≤ one
    * partial sequence per partition, negligible at corpus scale. A doc
    * longer than `maxTokens` becomes a singleton sequence (callers
    * truncate/segment first — `Segmenter.segment` — if that matters).
    *
    * Not SQL-expressible (stateful greedy fold) → invariants are pinned
    * in AnalyticsSpec: exact row preservation, per-sequence budget,
    * determinism at fixed parallelism.
    */
  def packSequences(df: DataFrame, tokenCol: String, maxTokens: Long,
                    keyCols: Seq[String], numPartitions: Int = 0,
                    seed: Long = 42L): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    // the projection introduces these names; a keyCol sharing one would
    // silently shadow or become ambiguous downstream
    val reserved = Set("_toks", "_h", "_pid", "seq_id", "seq_tokens",
      "doc_tokens")
    require(!keyCols.exists(reserved), s"keyCols may not use reserved " +
      s"names ${reserved.mkString(", ")} (got ${keyCols.mkString(", ")})")
    val parts =
      if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val proj = df.select(
      keyCols.map(col) ++ Seq(
        // null-token docs pack as 0-cost members instead of NPE-ing the
        // partition iterator's getLong
        coalesce(col(tokenCol).cast("long"), lit(0L)).as("_toks"),
        hashOrder(keyCols.map(col), seed).as("_h")): _*)
    // keyCols + _toks after _h as the tiebreak: duplicate-key rows (and
    // hash collisions) tie on _h alone — and duplicate-key rows with
    // DIFFERENT token counts still tie on keyCols — making pack order,
    // and hence every downstream row's seq_id, dependent on arrival
    // order out of the shuffle, which would break the documented
    // determinism at fixed parallelism. With _toks last, any remaining
    // ties are between fully identical projected rows (interchangeable).
    // the partition id is STAMPED INTO THE DATA behind a checkpoint
    // (same design as Ranking.rankInGroup, same reason): seq ids must
    // be distinct ACROSS partitions, and a downstream coalesce()
    // re-tasks this scan so TaskContext.getPartitionId() would return
    // one id for every stored partition — duplicating "p0-s0" across
    // chunks and silently merging unrelated sequences for any consumer
    // that groups by seq_id (coalesce-pinned in AnalyticsSpec)
    val arranged = graft.SparkUtil.materialize(
      proj.repartitionByRange(parts, col("_h"))
        .sortWithinPartitions(
          col("_h") +: keyCols.map(col) :+ col("_toks"): _*)
        .withColumn("_pid", spark_partition_id()))
    val internal = Set("_h", "_pid")
    val outSchema = StructType(
      arranged.schema.fields.filterNot(f => internal(f.name))
      ++ Seq(StructField("seq_id", StringType, nullable = false),
        StructField("seq_tokens", LongType, nullable = false)))
    val hIdx = arranged.schema.fieldIndex("_h")
    val pIdx = arranged.schema.fieldIndex("_pid")
    val tIdx = arranged.schema.fieldIndex("_toks")
    arranged.mapPartitions { rows =>
      var pid = -1
      var seqIdx = -1
      new Iterator[Row] {
        private var pending: Row = if (rows.hasNext) rows.next() else null
        private var queue: Iterator[Row] = Iterator.empty
        private def fillSeq(): Unit = {
          // stored pid, not TaskContext: a re-tasked scan streams several
          // stored partitions through one invocation — a stored-pid
          // boundary closes the open sequence and restarts numbering, so
          // ids stay exactly what an un-coalesced run would issue
          val rowPid = pending.getInt(pIdx)
          if (rowPid != pid) { pid = rowPid; seqIdx = -1 }
          seqIdx += 1
          val buf = ArrayBuffer.empty[Row]
          var acc = 0L
          var open = true
          while (open && pending != null && pending.getInt(pIdx) == pid) {
            val t = pending.getLong(tIdx)
            if (buf.isEmpty || acc + t <= maxTokens) {
              buf += pending; acc += t
              pending = if (rows.hasNext) rows.next() else null
            } else open = false
          }
          val id = s"p$pid-s$seqIdx"
          queue = buf.iterator.map { r =>
            val base = r.toSeq.zipWithIndex.collect {
              case (v, i) if i != hIdx && i != pIdx => v
            }
            Row.fromSeq(base ++ Seq(id, acc))
          }
        }
        def hasNext: Boolean = queue.hasNext || pending != null
        def next(): Row = {
          if (!queue.hasNext) fillSeq()
          queue.next()
        }
      }
    }(Encoders.row(outSchema))
      .withColumnRenamed("_toks", "doc_tokens")
  }

  /** The salted order key of [[deterministicShuffle]], exposed so a
    * caller that CACHES its input can precompute the key once during the
    * inherent cache-materializing pass (graft.Run's --shuffle-salt phase
    * does): the offset-histogram job then reads a pruned 32-char column
    * from the cache instead of re-hashing the full document text. Same
    * null-safe encoding as [[graft.Run.rowKey128]] (coalesce + U+0001
    * separators). Pass the resulting column's NAME as `precomputedKey` —
    * a key built any other way silently changes the permutation, so
    * build it only through this method.
    */
  def shuffleKey(keyCols: Seq[String], salt: String = ""): Column =
    md5(concat_ws("\u0001",
      lit(salt) +: keyCols.map(c => coalesce(col(c).cast("string"),
        lit(""))): _*))

  /** Deterministic corpus shuffle — assign every row its position in a
    * salted content-hash permutation (the training-order randomization
    * step before sharding a corpus for LLM training; changing `salt`
    * reshuffles epochs reproducibly, independent of partitioning).
    *
    * Adds `shuffle_pos` (1-based, a permutation of 1..n): exactly
    * `row_number() OVER (ORDER BY md5(salt || key), key)` — but the
    * naive window serializes the corpus through one task after a global
    * sort. Scale path reuses [[tokenBudget]]'s order-preserving-bucket
    * trick: hex-prefix buckets of the md5 key sort exactly like the
    * full keys across buckets, so one partial-agg pass counts rows per
    * bucket (≤ 16^prefixLen, driver prefix-sums the offsets), and the
    * per-bucket `row_number` window — each bucket ~corpus/16^prefixLen
    * rows — plus its bucket's offset IS the global position.
    * Bit-identical to the naive window (oracle-checked), one wide
    * shuffle (inherent: a global permutation must move rows), no global
    * sort.
    *
    * ONE histogram pass serves both sizing and offsets: bucket counts
    * are taken at the deepest depth needed (the explicit `prefixLen`,
    * or the 5-char ceiling when auto-sizing — md5 hex keys bound that
    * collect at 16^5 rows by construction) and folded on the driver to
    * the depth [[choosePrefixLen]] picks from their sum, so auto-sizing
    * costs no separate `count()` job. The position assignment is
    * prefixLen-INVARIANT — any depth yields the identical permutation
    * (pinned in AnalyticsSpec) — so auto-sizing can never change
    * output, only task shape.
    *
    * The md5 key is encoded like [[graft.Run.rowKey128]] (null-safe
    * coalesce + U+0001 separators), so `keyCols` may contain nulls;
    * they must however form a UNIQUE key (duplicates tie on the hash
    * and fall to the keyCols tiebreak — equal rows then get
    * arrival-order positions, breaking determinism).
    *
    * `precomputedKey`: name of a column already holding
    * [[shuffleKey]](keyCols, salt) — the cached-input optimization
    * described there. The column is caller-owned and survives on the
    * output; the inline path's internal key column does not.
    */
  def deterministicShuffle(df: DataFrame, keyCols: Seq[String],
                           salt: String = "", prefixLen: Int = 0,
                           precomputedKey: Option[String] = None)
      : DataFrame = {
    require(keyCols.nonEmpty, "deterministicShuffle: need key columns")
    require(prefixLen >= 0 && prefixLen <= 5,
      s"prefixLen must be 0 (auto) or in [1,5] (got $prefixLen) — 16^5 " +
        "bucket offsets is already the driver-side ceiling")
    val (hc, ownKey) = precomputedKey match {
      case Some(k) =>
        require(df.columns.contains(k),
          s"deterministicShuffle: precomputedKey column '$k' is not on " +
            "the frame — build it with Sampling.shuffleKey first")
        (k, false)
      case None => (fresh(df, "_sh"), true)
    }
    val keyed =
      if (ownKey) df.withColumn(hc, shuffleKey(keyCols, salt)) else df
    val histDepth = if (prefixLen > 0) prefixLen else 5
    val hist = keyed
      .groupBy(substring(col(hc), 1, histDepth).as("_p"))
      .count().orderBy("_p").collect()
    val total = hist.iterator.map(_.getLong(1)).sum
    val pl = if (prefixLen > 0) prefixLen else choosePrefixLen(total)
    // fold the histogram to the chosen depth: lexicographic order of the
    // deep prefixes refines the folded order, so first-occurrence order
    // over the sorted rows IS the folded buckets' sorted order
    val folded: Seq[(String, Long)] =
      if (pl == histDepth) hist.toSeq.map(r => (r.getString(0), r.getLong(1)))
      else {
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        hist.foreach { r =>
          val b = r.getString(0).substring(0, pl)
          m.update(b, m.getOrElse(b, 0L) + r.getLong(1))
        }
        m.toSeq
      }
    var acc = 0L
    val offsets = folded.map { case (b, n) =>
      val o = (b, acc); acc += n; o
    }
    val (bc, oc) = (fresh(keyed, "_sb"), fresh(keyed, "_so"))
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toDF(bc, oc))
    val w = Window.partitionBy(bc)
      .orderBy(col(hc) +: keyCols.map(col): _*)
    val out = keyed.withColumn(bc, substring(col(hc), 1, pl))
      .join(offDf, bc)
      .withColumn("shuffle_pos", col(oc) + row_number().over(w))
      .drop(bc, oc)
    if (ownKey) out.drop(hc) else out
  }

  /** Temperature-based mixture sampling — the multilingual/multi-domain
    * training-mix recipe (unigram-LM / mBERT-style exponentiated
    * sampling, public method): draw from group g in proportion to
    * n_g^(1/T) instead of n_g, so a temperature T > 1 UPWEIGHTS small
    * groups (low-resource languages, rare domains) relative to their raw
    * frequency. Returns the selected rows; group g contributes
    * `min(n_g, totalTarget * w_g / W)` rows where `w_g = floor(n_g^(1/T))`
    * and `W = Σ w_g`.
    *
    * Determinism by integer quantization: weights are FLOORED to longs
    * and targets use exact integer arithmetic (BigInt product, so a
    * 10^12-row target cannot overflow), which makes the target table
    * exactly reproducible by any engine — for the default T = 2 the
    * weight is `floor(sqrt(n))`, and IEEE 754 requires sqrt to be
    * correctly rounded, so even the oracle's independent recomputation
    * lands on identical longs (q_temperature_sample hash-matches).
    * Floor-quantization means Σ targets may fall slightly short of
    * `totalTarget`; the shortfall is ≤ #groups rows — negligible at
    * corpus scale, and redistribution would make targets
    * definition-order-dependent.
    *
    * Within each group the selected rows are the `target_g` lowest by
    * salted md5 of `keyCols` (same null-safe key encoding as
    * [[deterministicShuffle]]; `keyCols` must be unique per row) —
    * ranked via [[Ranking.rankInGroup]], so the dominant group never
    * sorts through one task. Cost: one O(#groups) count collect (capped,
    * loud), one range shuffle for the rank, one broadcast join of the
    * target table.
    */
  def temperatureSample(df: DataFrame, groupCol: String, totalTarget: Long,
                        keyCols: Seq[String], temperature: Double = 2.0,
                        salt: String = "", numPartitions: Int = 0)
      : DataFrame = {
    require(totalTarget >= 0, "totalTarget must be non-negative")
    require(temperature > 0.0, "temperature must be positive")
    require(keyCols.nonEmpty, "temperatureSample: need key columns")
    val maxGroups = 1 << 20
    val countRows = df.groupBy(col(groupCol)).count()
      .limit(maxGroups + 1).collect()
    require(countRows.length <= maxGroups,
      s"temperatureSample: > $maxGroups distinct $groupCol values — " +
        "group by a coarser key")
    // (group value as string-or-null, n, w); sqrt for the default T = 2
    // (exactly rounded everywhere), Math.pow otherwise
    val weighted = countRows.map { r =>
      val n = r.getLong(1)
      val w = math.max(1L,
        if (temperature == 2.0) math.sqrt(n.toDouble).toLong
        else math.pow(n.toDouble, 1.0 / temperature).toLong)
      (r.get(0), n, w)
    }
    val totalW = weighted.iterator.map(w => BigInt(w._3)).sum
    val targets = weighted.map { case (g, n, w) =>
      val t =
        if (totalW == 0) 0L
        else (BigInt(totalTarget) * w / totalW).toLong
      (g, math.min(n, t))
    }
    val (hc, rc, gk, tc) = (fresh(df, "_ts_h"), fresh(df, "_ts_rank"),
      fresh(df, "_ts_g"), fresh(df, "_ts_target"))
    val key = md5(concat_ws("\u0001",
      lit(salt) +: keyCols.map(c => coalesce(col(c).cast("string"),
        lit(""))): _*))
    val ranked = Ranking.rankInGroup(df.withColumn(hc, key),
      Seq(groupCol), hc +: keyCols, rc, numPartitions)
    val spark = df.sparkSession
    val targetSchema = StructType(Seq(
      StructField(gk, df.schema(groupCol).dataType, nullable = true),
      StructField(tc, LongType, nullable = false)))
    val targetDf = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(
        targets.map(t => Row(t._1, t._2)): _*), targetSchema))
    ranked
      .join(targetDf, ranked(groupCol) <=> targetDf(gk), "left")
      .filter(col(rc) <= col(tc))
      .drop(hc, rc, gk, tc)
  }
}
