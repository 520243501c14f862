package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The MinHash signature pass written in plain Catalyst, with no UDF:
  * the oracle the single-pass `MinHash.signatures` is checked against.
  */
object MinHashSql {

  /** Word-shingle column: k-word windows joined by a single space; docs
    * shorter than k words contribute their whole text as one shingle.
    * Empty tokens (leading/trailing whitespace artifacts of `split`) are
    * dropped so this matches `MinHash.bandHashesOf`'s word stream exactly.
    */
  def shingles(textCol: Column, k: Int): Column = {
    val ws = filter(split(textCol, "\\s+"), w => length(w) > 0)
    when(size(ws) >= k,
      transform(sequence(lit(0), size(ws) - k),
        i => array_join(slice(ws, i + 1, lit(k)), " ")))
      .otherwise(array(textCol))
  }

  /** The fully declarative Catalyst formulation (posexplode shingles →
    * seeded xxhash64 → 112-way min agg → band hashes): the
    * cross-validation oracle for `MinHash.signatures`. The
    * explode+shuffle makes it ~30× more expensive at scale.
    */
  def signatures(df: DataFrame, idCol: String, textCol: String,
                 cfg: MinHash.Config = MinHash.Config()): DataFrame = {
    // permutation i = xxhash64(shingle_hash, i): a fresh 64-bit mix per
    // permutation with no arithmetic that can overflow under ANSI mode
    val mins: Seq[Column] = (0 until cfg.numHashes).map { i =>
      min(xxhash64(col("sh_hash"), lit(i))).as(s"m$i")
    }
    val bandCols: Column = array((0 until cfg.bands).map { b =>
      val slice = (0 until cfg.rowsPerBand).map(r => col(s"m${b * cfg.rowsPerBand + r}"))
      xxhash64(slice :+ lit(b): _*)
    }: _*)

    // null text emits NO rows, matching the UDF path exactly (its band
    // UDF returns null and posexplode drops the doc): unfiltered, the
    // shingles() fallback branch would give every null-text doc ONE null
    // shingle and therefore an IDENTICAL signature — the SQL path would
    // mark all null-text docs near-dups of each other while the primary
    // path marks none, breaking the documented bit-identity
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(shingles(col(textCol), cfg.shingleSize)).as("shingle"))
      .select(col("id"), xxhash64(col("shingle")).as("sh_hash"))
      .groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), posexplode(bandCols).as(Seq("band_id", "band_hash")))
  }
}
