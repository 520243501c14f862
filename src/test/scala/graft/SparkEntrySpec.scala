package graft

import org.apache.spark.sql.functions._

/** Driver-contract smoke: every `SparkEntry.queries` entry must run on the
  * smallest driver tables (sf0.001) without throwing, every oracleSql key
  * must have a matching query, and the flagship `entry` must return rows
  * (the driver's t1 smoke check).
  */
class SparkEntrySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).limit(1).count() == 1)
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("all queries run on sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        try { q(spark, sfDir).limit(5).collect(); None }
        catch { case e: Exception => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("a table rewritten within the session is read anew") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("entry_rewrite").toString
    def write(langs: Seq[String]): Unit = langs.zipWithIndex
      .map { case (l, i) => (i.toLong, s"doc $i", l) }.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def counts = SparkEntry.queries("q_group_count")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    write(Seq("en", "en", "en"))
    assert(counts === Map("en" -> 3L))
    // the overwrite deletes the files the first resolution listed
    write(Seq("fr", "fr"))
    assert(counts === Map("fr" -> 2L))
  }

  test("oracle-checked queries have stable column names across runs") {
    // the driver hash-compares after sorting columns by name — guard
    // against accidental auto-generated aliases like sum(x)
    SparkEntry.oracleSql.keys.foreach { name =>
      val cols = SparkEntry.queries(name)(spark, sfDir).columns
      cols.foreach { c =>
        assert(!c.contains("("), s"$name has un-aliased column `$c`")
      }
    }
  }
}
