package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference results the benchmark checks the program against. They are
  * computed once in set-up, independently of the program's code paths.
  */
object Oracle {

  /** Order-free table digest: row count, XOR and a bounded sum of per-row
    * 64-bit hashes. Safe under ANSI arithmetic: a plain `sum(xxhash64(..))`
    * overflows a LONG and fails, while `pmod(h, 2^31-1)` summed over fewer
    * than 2^32 rows cannot.
    */
  final case class Digest(rows: Long, xor: Long, sum: Long)

  private val stateCols = Seq("repo", "path", "commit", "lang", "content",
    "content_sha", "n_tokens", "size_bytes")

  def digest(state: DataFrame): Digest = {
    val h = xxhash64(concat_ws("\u0001", stateCols.map(c => col(c).cast("string")): _*))
    val r = state.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(pmod(col("h"), lit(2147483647L))))
      .head()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Expected lake state after replaying `log` through the pipeline:
    * last writer (max `seq`) per key wins and a winning delete removes the
    * key; the pipeline's columns are recomputed with Spark SQL built-ins.
    */
  def lwwState(log: DataFrame): DataFrame =
    log.selectExpr("*",
        "row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn")
      .where("rn = 1 AND op = 'upsert'")
      .selectExpr("repo", "path", "commit", "lower(lang) AS lang", "content",
        "sha2(content, 256) AS content_sha",
        "size(regexp_extract_all(content, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)) AS n_tokens",
        "size_bytes")
      .where("n_tokens > 0")

  def expectedDigest(log: DataFrame): Digest = digest(lwwState(log))

  type Pairs = Set[(Long, Long)]

  def pairs(df: DataFrame): Pairs =
    df.select(col("id_a").cast("long"), col("id_b").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** MinHash reference: the program's own DuckDB oracle query (exact
    * shingle Jaccard >= 0.9 by an inverted-index self-join, which mirrors
    * `documents` itself), run over the base table files.
    */
  def minHashPairs(docsDir: String, tmpDir: String): Pairs = {
    Class.forName("org.duckdb.DuckDBDriver")
    val conn = java.sql.DriverManager.getConnection("jdbc:duckdb:")
    try {
      val st = conn.createStatement()
      st.execute(s"SET temp_directory = '$tmpDir'")
      st.execute("SET threads = 4")
      st.execute(s"CREATE VIEW documents AS SELECT * FROM read_parquet('$docsDir/*.parquet')")
      val rs = st.executeQuery(graft.SparkEntry.oracleSql("q_dedup_minhash"))
      val b = Set.newBuilder[(Long, Long)]
      while (rs.next()) b += ((rs.getLong(1), rs.getLong(2)))
      b.result()
    } finally conn.close()
  }

  /** SimHash reference: every pair of signatures within Hamming distance
    * `maxHamming`, by brute force over all pairs.
    */
  def simHashPairs(docs: DataFrame, maxHamming: Int): Pairs = {
    val sigs = docs.select(col("doc_id"), graft.ops.Dedup.simHash64(col("text")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val b = Set.newBuilder[(Long, Long)]
    var i = 0
    while (i < sigs.length) {
      var j = i + 1
      while (j < sigs.length) {
        if (java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= maxHamming)
          b += ((sigs(i)._1, sigs(j)._1))
        j += 1
      }
      i += 1
    }
    b.result()
  }
}
