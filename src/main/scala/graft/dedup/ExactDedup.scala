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
    * Common-Crawl-style inputs carry the same url across snapshots;
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
    * Precondition: `idCol` is a unique, non-null key of `df` — a
    * synthesized row key or a surrogate id. It is not checked: a shared
    * id would join one winner back onto every row that carries it.
    */
  def keepLatestById(df: DataFrame, keyCols: Seq[String], tsCol: String,
                     idCol: String,
                     tieCols: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "keepLatestById: keyCols must be non-empty")
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
