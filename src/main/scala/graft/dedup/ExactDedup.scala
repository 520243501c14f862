package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact deduplication with deterministic keep-first semantics.
  *
  * Reimplements the reference's exact-dedup family
  * (/root/reference/utils/pd_util.py:95-106 `drop_duplicates(keep="first")`,
  * /root/reference/utils/dedup_large_csv.py:8-110 chunked global-hash
  * dedup, /root/reference/utils/dedup_dataset.py Bloom-service variant) as
  * one shuffle-dedup: the reference's chunk/global split and sharded Bloom
  * service are single-machine-memory artifacts — Spark's hash shuffle IS
  * the 2000-shard routing (utils/bloom_service.py:36-47), done natively.
  *
  * "First" is made deterministic (unlike `dropDuplicates`) by ranking
  * within each duplicate group over explicit order columns — at web scale,
  * nondeterministic survivor choice breaks resume/lineage reproducibility.
  */
object ExactDedup {

  /** 64-bit content key. For parity runs the reference hashes
    * `'|'.join(cols)` with md5/blake2b/sha256 (dedup_large_csv.py:8-13);
    * xxhash64 is the performance path, sha2 available via `strongKey`.
    */
  def key(cols: Seq[Column]): Column = xxhash64(cols: _*)

  def strongKey(cols: Seq[Column]): Column =
    sha2(concat_ws("|", cols: _*), 256)

  /** Adds `is_exact_dup` (true for every row except the deterministic
    * first of its duplicate group). One shuffle on the content hash.
    */
  def mark(df: DataFrame, dupCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(key(dupCols.map(col)))
      .orderBy(orderCols.map(col): _*)
    df.withColumn("is_exact_dup", row_number().over(w) > 1)
  }

  /** One narrow aggregation proving `idCol` is a NON-NULL UNIQUE key of
    * `df`: total count == non-null count == distinct count. The single
    * definition of the uniqueness gate behind [[markById]] and
    * [[keepLatestById]] — shared so the sites can never drift. Eager
    * (runs a job); persist `df` first.
    */
  def idIsUniqueKey(df: DataFrame, idCol: String): Boolean = {
    // r6: single groupBy instead of count+countDistinct — the distinct
    // aggregate planned an Expand (2× rows through the exchange) plus an
    // extra aggregate phase. "non-null unique key" ⟺ no null ids AND
    // every id group is a singleton, which one keyed aggregation answers
    // with map-side combining and half the shuffle bytes.
    val u = df.select(col(idCol).as("__id"))
      .groupBy("__id").agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(1L)).as("mx"), // empty: trivially unique
        coalesce(sum(when(col("__id").isNull, col("c")).otherwise(lit(0L))),
          lit(0L)).as("nulls"))
      .head()
    u.getLong(0) == 1L && u.getLong(1) == 0L
  }

  /** [[mark]] for rows with a unique id column, shuffling only a narrow
    * projection: the keep-first window runs over (id, content-hash,
    * order-cols) — ~100 B/row instead of the full page (~1.3 KB with
    * scrubbed text) — and the resulting duplicate-id set joins back onto
    * the full rows, where AQE converts to a broadcast join whenever the
    * dup set is small (the common case). At 2M docs this replaces a
    * 2.6 GB wide shuffle+sort with a 150 MB one.
    *
    * The join-back is only correct when `idCol` is UNIQUE (and non-null):
    * if a duplicate-group row shares its id with the group's keep-first
    * row, the join would mark BOTH — keep-first silently becoming
    * drop-all. Common-Crawl-style inputs violate this (the same url recurs
    * across snapshots), so uniqueness is verified up front with one cheap
    * narrow aggregation over the id column; on violation this falls back
    * to the windowed [[mark]], which is always correct. The check is one
    * extra O(rows) pass of an id-only projection (count + countDistinct —
    * a narrow shuffle of the ids) and an EAGER action: callers should
    * persist `df` first, as [[graft.pipeline.CorpusPipeline.run]] does.
    * Callers that can GUARANTEE uniqueness (surrogate keys, an
    * upstream-deduped id column) pass `idIsUnique = Some(true)` to skip
    * the check entirely; `Some(false)` routes straight to the windowed
    * mark.
    */
  def markById(df: DataFrame, dupCols: Seq[String], orderCols: Seq[String],
               idCol: String,
               idIsUnique: Option[Boolean] = None): DataFrame = {
    val unique = idIsUnique.getOrElse(idIsUniqueKey(df, idCol))
    if (!unique) return mark(df, dupCols, orderCols)
    val w = Window
      .partitionBy(col("__k"))
      .orderBy(orderCols.map(col): _*)
    val dupIds = df
      .select((col(idCol).as("__dup_id")) +:
        (key(dupCols.map(col)).as("__k")) +: orderCols.map(col): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select("__dup_id")
    df.join(dupIds, df(idCol) === col("__dup_id"), "left")
      .withColumn("is_exact_dup", col("__dup_id").isNotNull)
      .drop("__dup_id")
  }

  /** Keep-first dedup: survivors only. */
  def dedup(df: DataFrame, dupCols: Seq[String], orderCols: Seq[String]): DataFrame =
    mark(df, dupCols, orderCols).filter(!col("is_exact_dup")).drop("is_exact_dup")

  /** URL-keyed dedup on the CANONICAL form ([[graft.text.UrlNorm]]):
    * crawls list the same page under scheme/case/www/tracking-param/
    * trailing-slash variants; raw-string dedup misses all of them. A
    * composition — canonicalize (narrow scalar UDF), keep-first on the
    * canonical key via [[dedup]], drop the key. Same shuffle shape as
    * plain exact dedup: one window over (key, order) narrow rows.
    */
  def urlDedup(df: DataFrame, urlCol: String,
               orderCols: Seq[String]): DataFrame = {
    val canonUdf = udf((u: String) => graft.text.UrlNorm.canonical(u))
    var c = "_canon_url"
    while (df.columns.contains(c)) c = c + "_"
    dedup(df.withColumn(c, canonUdf(col(urlCol))), Seq(c), orderCols).drop(c)
  }

  /** Crawl-revisit resolution: keep the LATEST revision of each page.
    *
    * Common-Crawl-style inputs carry the same url across snapshots
    * (the very case [[markById]]'s uniqueness check guards against);
    * before training-data selection a corpus normally collapses each url
    * to its newest fetch. The keep-first window form would sort every
    * group; this form is ONE hash aggregation — `max_by` of the full row
    * over the revision order — with no sort anywhere. Its map-side
    * combine only pays when a url's revisions co-reside in map
    * partitions (snapshot-bucketed or url-clustered inputs); on a
    * randomly-distributed crawl the full payload rides the aggregation
    * hash table for nothing (measured ~4× slower than even the window
    * sort at 10M×512 B — `Probe e2e revisit`, BENCH.md), so rows with a unique
    * id should prefer [[keepLatestById]], the narrow-agg + join-back
    * form that moves corpus-width data through exactly one AQE-planned
    * exchange.
    *
    * Survivor choice is deterministic and total: the order key is
    * (tsCol, tieCols..., xxhash64(all non-key columns)) compared
    * lexicographically, so even rows tying on timestamp and explicit
    * tie-breakers resolve by content hash (rows identical in every
    * column are interchangeable, so a hash tie is harmless). A null
    * timestamp sorts below every non-null one — a row with unknown fetch
    * time never shadows a dated revision. Payload columns ride inside
    * `max_by`'s value struct and are never compared, so non-orderable
    * types (maps) are fine outside the key/ts/tie columns; map-typed
    * columns are also excluded from the content hash (Spark forbids
    * hashing maps — equal maps can hash differently), so rows differing
    * ONLY in a map column tie, harmlessly up to map ordering.
    *
    * Output: the surviving rows in the original column order plus
    * `n_revisions` (group size — the crawl-churn audit column).
    */
  def keepLatest(df: DataFrame, keyCols: Seq[String], tsCol: String,
                 tieCols: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "keepLatest: keyCols must be non-empty")
    val others = df.columns.filterNot(keyCols.contains).toSeq
    require(others.contains(tsCol), s"keepLatest: unknown ts column $tsCol")
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def hashable(dt: DataType): Boolean = dt match {
      case _: MapType     => false
      case a: ArrayType   => hashable(a.elementType)
      case s: StructType  => s.fields.forall(f => hashable(f.dataType))
      case _              => true
    }
    val hashCols = df.schema.fields
      .filter(f => others.contains(f.name) && hashable(f.dataType))
      .map(f => col(f.name)).toSeq
    val contentHash = if (hashCols.nonEmpty) xxhash64(hashCols: _*) else lit(0L)
    val ord = struct((tsCol +: tieCols).map(col) :+ contentHash: _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(others.map(col): _*), ord).as("__best"),
        count(lit(1)).as("n_revisions"))
      .select(df.columns.map(c =>
        if (keyCols.contains(c)) col(c) else col(s"__best.$c").as(c))
        :+ col("n_revisions"): _*)
  }

  /** [[keepLatest]] for rows with a unique (non-null) id column — the
    * shape that actually wins at corpus scale. The one-pass `max_by`
    * above hauls the full page payload through the aggregation hash
    * table, and map-side combine only helps when a url's revisions
    * co-reside in map partitions — on a randomly-distributed crawl they
    * don't (measured at 10M×512 B: the wide `max_by` is ~4× SLOWER than
    * even the window sort; `Probe e2e revisit` / BENCH.md). This form instead
    * aggregates a NARROW projection — (key, ord, id), ~60 B/row — to one
    * winning id per key, then inner-joins the winner-id set back to the
    * full rows: the corpus-width data crosses the exchange exactly once
    * (the AQE-planned join), nothing corpus-wide sorts, and the narrow
    * agg is the only extra pass. Appending `idCol` to the order struct
    * makes the order total without hashing anything.
    *
    * Same contract as [[markById]]: `idCol` must be unique and non-null —
    * verified with one cheap narrow aggregation unless the caller passes
    * `idIsUnique = Some(true)`; on violation this falls back to
    * [[keepLatest]], which is always correct.
    */
  def keepLatestById(df: DataFrame, keyCols: Seq[String], tsCol: String,
                     idCol: String,
                     tieCols: Seq[String] = Nil,
                     idIsUnique: Option[Boolean] = None): DataFrame = {
    require(keyCols.nonEmpty, "keepLatestById: keyCols must be non-empty")
    val unique = idIsUnique.getOrElse(idIsUniqueKey(df, idCol))
    if (!unique) return keepLatest(df, keyCols, tsCol, tieCols)
    val ord = struct(((tsCol +: tieCols) :+ idCol).map(col): _*)
    val winners = df
      .select(keyCols.map(col) :+ ord.as("__ord") :+
        col(idCol).as("__keep_id"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(col("__keep_id"), col("__ord")).as("__keep_id"),
        count(lit(1)).as("n_revisions"))
      .select("__keep_id", "n_revisions")
    df.join(winners, df(idCol) === winners("__keep_id"), "inner")
      .drop("__keep_id")
  }

  /** Bloom-prefiltered decontamination against a `seen` corpus — the
    * memory-bounded form of the reference's sharded Bloom-service dedup
    * (/root/reference/utils/dedup_dataset.py:37-191,
    * /root/reference/utils/bloom_service.py): build one Bloom filter over
    * `seen` (driver-side, broadcast — replaces the remote /check service),
    * cheaply drop rows that *cannot* be duplicates, then exact-verify only
    * the maybe-seen remainder with an anti-join. Output is exact (no false
    * drops): the Bloom pass only prunes the join's probe side, so at 100 TB
    * the shuffle carries just the candidate fraction instead of the corpus.
    */
  def bloomDecontaminate(df: DataFrame, seen: DataFrame, colName: String,
                         expectedItems: Long = 1000000L,
                         fpp: Double = 0.001): DataFrame = {
    val bf = seen.stat.bloomFilter(colName, math.max(expectedItems, 1L), fpp)
    val bc = df.sparkSession.sparkContext.broadcast(bf)
    // read the broadcast once per task, not per row (SoftReference +
    // global-lock trap under allocation pressure; see KneserNeyLM.perplexityFn)
    val mightContain = udf(new (String => Boolean) with Serializable {
      @transient private lazy val filter = bc.value
      def apply(s: String): Boolean = s != null && filter.mightContain(s)
    })
    val clean = df.filter(!mightContain(col(colName)))     // definitely new
    val maybe = df.filter(mightContain(col(colName)))      // verify exactly
      .join(seen.select(col(colName)).distinct(), Seq(colName), "left_anti")
    clean.unionByName(maybe)
  }
}
