package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Rows per second of each native `graft.catalyst` kernel, called by its
  * registered SQL name over seeded synthetic rows that are cached before
  * timing. Best of two passes per kernel. */
object Kernels {
  val Rows = 50000L

  val calls: Seq[(String, String)] = Seq(
    "cosine_sim" -> "cosine_sim(va, vb)",
    "l2_sq" -> "l2_sq(va, vb)",
    "minhash16" -> "minhash16(hs)",
    "simhash30" -> "simhash30(hs)",
    "sorted_multiset_common" -> "sorted_multiset_common(hs_a, hs_b)",
    "pair_structs" -> "pair_structs(ids)",
    "lev_within" -> "lev_within(s1, s2, 3)",
    "gram_hashes" -> "gram_hashes(toks, 3)",
    "cdc_chunk_hashes" -> "cdc_chunk_hashes(text, 4, 16)",
    "poly_hash" -> "poly_hash(text)")

  def measure(spark: SparkSession, seed: Long): Map[String, Any] = {
    graft.catalyst.GraftFunctions.ensureRegistered(spark)
    val words = Seq("a", "agg", "batch", "big", "column", "customer", "data",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge",
      "order", "part", "query", "row", "scan", "slow", "small", "sort",
      "spark", "stream", "table", "the", "value", "vector", "window")
    val w = words.map(x => s"'$x'").mkString("array(", ",", ")")
    def word(i: String) = s"element_at($w, CAST(pmod(xxhash64(id, $i, ${seed}L), 30) AS INT) + 1)"
    def vec(tag: Int) = s"transform(sequence(0, 63), i -> " +
      s"CAST(pmod(xxhash64(id, i, $tag, ${seed}L), 2000) AS DOUBLE) / 1000.0 - 1.0)"
    val base = spark.range(Rows)
      .selectExpr("id",
        s"concat_ws(' ', transform(sequence(0, 39), i -> ${word("i")})) AS text",
        s"${vec(1)} AS va", s"${vec(2)} AS vb",
        s"array_sort(transform(sequence(0, 7), i -> pmod(xxhash64(id, i, 3, ${seed}L), 100000))) AS ids")
      .selectExpr("*", "split(text, ' ') AS toks",
        "substr(text, 1, 30) AS s1",
        "concat(substr(text, 1, 12), 'x', substr(text, 14, 17)) AS s2")
      .selectExpr("*", "gram_hashes(toks, 3) AS hs")
      .selectExpr("*", "array_sort(hs) AS hs_a",
        "array_sort(gram_hashes(slice(toks, 3, 38), 3)) AS hs_b")
      .cache()
    base.count()
    try calls.map { case (name, e) =>
      val best = (1 to 2).map(_ => Harness.seconds(
        Harness.noop(base.selectExpr(s"$e AS r")))).min
      name -> Map("rows" -> Rows, "seconds" -> best, "rows_per_s" -> Rows / best)
    }.toMap
    finally base.unpersist()
  }
}
