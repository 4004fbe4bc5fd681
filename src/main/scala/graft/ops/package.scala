package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, expr}

package object ops {
  /** Driver-contract query shape: (session, scale-factor dir) => result. */
  type Q = (SparkSession, String) => DataFrame

  /** The embedding-quantization contract shared by Similarity and
    * EmbeddingOps (and mirrored by their DuckDB oracle SQL): floats
    * become integer micro-units (round(x * 1e6)) exactly once, so
    * every downstream dot/norm/centroid is exact int64 arithmetic.
    * One home for the scale constant — an edit here is an edit to
    * EVERY consumer, not a silent divergence between modules. */
  private[ops] object EmbQuant {
    def quantized(s: SparkSession, dir: String): DataFrame = {
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))")
            .as("q"))
    }

    /** Exact integer dot product via the custom codegen expression
      * (graft.functions.DotLongArrays) — allocation-free hot loop. */
    def dotq(a: Column, b: Column): Column = call_function("dotq", a, b)
  }
}
