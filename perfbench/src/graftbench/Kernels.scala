package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Exact
import graft.functions.GraftFunctions

/** Microbenchmarks of graft's kernels, each timed against a plain-Spark
  * expression doing the same job on the same cached input. Inputs are
  * sized like the sf0.1 columns they stand for (600k prices, 5k documents
  * of tokens, 20k embedding pairs) and derived from the generated tables.
  */
object Kernels {
  private val Reps = 5

  def run(spark: SparkSession, dataDir: String): Seq[(String, Double, String)] = {
    GraftFunctions.register(spark)
    val li = spark.read.parquet(s"$dataDir/lineitem.parquet").select(col("l_extendedprice").as("x"))
    val docs = spark.read.parquet(s"$dataDir/documents.parquet").select(split(col("text"), " ").as("toks"))
    val emb = spark.read.parquet(s"$dataDir/embeddings.parquet").select(col("vec_id"), col("embedding"))
    val pairs = emb.as("a").join(emb.as("b"), col("b.vec_id") === (col("a.vec_id") + 1) % 500)
      .select(col("a.embedding").as("va"), col("b.embedding").as("vb"))

    val prices = sized(spark, li, 600000)
    val tokens = sized(spark, docs, 5000)
    val vecs = sized(spark, pairs, 20000)
    val cases = Seq(
      ("exact_sum", prices, Exact.sum(col("x")), sum(col("x"))),
      ("minhash_signature", tokens,
        sum(size(expr("minhash_signature(toks, 64)"))),
        max(array_min(transform(col("toks"), t => xxhash64(t))))),
      ("shingle_hashes", tokens,
        sum(size(expr("shingle_hashes(toks, 3)"))),
        sum(size(expr("transform(sequence(0, size(toks) - 3), i -> xxhash64(slice(toks, i + 1, 3)))")))),
      ("fixed_point_dot", vecs,
        sum(expr("fixed_point_dot(va, vb)")),
        sum(expr("aggregate(zip_with(va, vb, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, v) -> acc + v)"))),
      ("kll_sketch_agg", prices,
        length(expr("kll_sketch_agg(x, 200)")),
        percentile_approx(col("x"), lit(0.5), lit(10000))))
    val out = cases.flatMap { case (name, input, kernel, plain) =>
      val rows = input.count().toDouble
      Seq((s"functions.$name.ns_per_row", time(input, kernel) * 1e9 / rows, "ns"),
        (s"functions.$name.baseline_ns_per_row", time(input, plain) * 1e9 / rows, "ns"))
    }
    Seq(prices, tokens, vecs).foreach(_.unpersist(blocking = true))
    out
  }

  /** `df`'s rows repeated up to exactly `rows`, cached and materialized. */
  private def sized(spark: SparkSession, df: DataFrame, rows: Int): DataFrame = {
    val n = df.count()
    val copies = spark.range((rows + n - 1) / n).toDF("copy")
    val out = df.crossJoin(copies).drop("copy").limit(rows).persist(StorageLevel.MEMORY_ONLY)
    out.count()
    out
  }

  /** Median seconds over [[Reps]] runs of a one-row aggregate, after one
    * untimed run.
    */
  private def time(input: DataFrame, agg: Column): Double = {
    val q = input.agg(agg)
    q.collect()
    Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      q.collect()
      (System.nanoTime() - t0) / 1e9
    })
  }
}
