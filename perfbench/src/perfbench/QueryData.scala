package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded inputs for the query mix: the `lineitem`, `supplier` and
  * `documents` tables its queries read, with the columns those queries and
  * their DuckDB oracles use. Every value is a hash of (seed, row), so a
  * seed always yields the same tables.
  *
  * The supplier co-occurrence graph (suppliers linked by a shared part) is
  * dense, like the TPC-H-shaped tables the queries were written for. The
  * documents are word strings over a small vocabulary; every tenth
  * document has a near-copy (a few words replaced) and a prefix copy, so
  * the Jaccard, containment and survivor queries find real pairs. */
object QueryData {
  val suppliers = 100
  val parts = 1000
  val lineitems = 20000
  val documents = 500

  private val vocab = Seq("data", "query", "spark", "table", "join", "scan", "sort", "hash",
    "merge", "group", "window", "filter", "stream", "batch", "column", "row", "value",
    "key", "part", "order", "line", "customer", "fast", "slow", "big", "small", "vector",
    "agg", "the", "a", "graph", "edge", "node", "rank", "label", "community", "payoff",
    "game", "cache", "shuffle")

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    def h(cols: org.apache.spark.sql.Column*) = xxhash64((lit(seed) +: cols): _*)

    spark.range(1, suppliers + 1).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), col("id")).as("s_name"),
      pmod(h(lit(1), col("id")), lit(25)).as("s_nationkey"),
      (pmod(h(lit(2), col("id")), lit(1000000)) / 100.0).as("s_acctbal"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/supplier.parquet")

    spark.range(lineitems).select(
      (col("id") / 4 + 1).as("l_orderkey"),
      (pmod(h(lit(3), col("id")), lit(parts)) + 1).as("l_partkey"),
      (pmod(h(lit(4), col("id")), lit(suppliers)) + 1).as("l_suppkey"),
      (pmod(h(lit(5), col("id")), lit(50)) + 1).cast("double").as("l_quantity"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    // base = the document a copy derives from; kind 0 original, 1 near
    // copy, 2 prefix copy.
    val docs = spark.range(documents).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(10)).isin(1, 2), col("id") - pmod(col("id"), lit(10)))
        .otherwise(col("id")).as("base"),
      pmod(col("id"), lit(10)).as("k"))
      .withColumn("kind", when(col("k").isin(1, 2), col("k")).otherwise(lit(0L)))
      .withColumn("len", (pmod(h(lit(6), col("base")), lit(60)) + 20).cast("int"))
      .withColumn("n", when(col("kind") === 2, (col("len") * 0.6).cast("int")).otherwise(col("len")))
    val text = docs.selectExpr("doc_id", "kind", "base",
      s"""transform(sequence(0, n - 1), i ->
            element_at(array(${vocab.map(w => s"'$w'").mkString(",")}),
              cast(pmod(xxhash64($seed, 7,
                if(kind = 1 and pmod(xxhash64($seed, 8, doc_id, i), 12) = 0, doc_id, base), i),
                ${vocab.size}) + 1 as int))) as ws""")
    text.select(col("doc_id"), array_join(col("ws"), " ").as("text"),
        lit("en").as("lang"), lit("synthetic").as("source"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
