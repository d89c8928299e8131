package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Vector primitives over `embeddings.embedding` (Array[Float], 64-dim) with
  * DuckDB-oracle parity.
  *
  * Parity contract: both engines cast float→double BEFORE multiplying, and
  * both reduce with a sequential left fold (Spark `aggregate`, DuckDB
  * `list_reduce` over a 0-prepended list), so dot products are bit-identical
  * — no rounding needed, and top-k selections can never flip.
  *
  * Everything stays in built-in higher-order functions (codegen-friendly, no
  * UDF). At cluster scale the expensive part is the pair enumeration, not
  * this arithmetic — see SimilarityQueries for the bucketed paths.
  */
object VectorOps {

  /** Spark-side: embeddings with the vector as Array[Double] plus its norm
    * (`graft_dot`, [[DotProduct]], which every session resolves through
    * `graft.plans.GraftExtensions`).
    */
  def normalized(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr(s"sqrt(${dotExpr("v", "v")})"))
  }

  /** As [[normalized]] but carrying the `label` metadata column — the
    * filtered-ANN path ("top-k WHERE label = x") needs the predicate column
    * next to the vector so it can push to the scan / live in the index.
    */
  def normalizedMeta(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr(s"sqrt(${dotExpr("v", "v")})"))
  }

  /** Spark SQL fragment: sequential-fold dot product of two array columns
    * (the codegen'd [[DotProduct]] expression — same fold order as the
    * composable `aggregate(zip_with(...))` form it replaced).
    */
  def dotExpr(a: String, b: String): String = s"graft_dot($a, $b)"

  def cosCol(a: String, b: String, nrmA: String, nrmB: String): Column =
    expr(s"${dotExpr(a, b)} / ($nrmA * $nrmB)")

  // ---- DuckDB twins -------------------------------------------------------

  /** Oracle CTE producing (vec_id, v DOUBLE[], nrm) — splice as a WITH body. */
  val normalizedSql: String =
    s"""e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |e AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e0)""".stripMargin

  /** Oracle twin of [[normalizedMeta]]: (vec_id, label, v, nrm) as `em`. */
  val normalizedMetaSql: String =
    s"""em0 AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |em AS (SELECT vec_id, label, v, sqrt(${dotSql("v", "v")}) AS nrm FROM em0)""".stripMargin

  /** DuckDB fragment: the same sequential-fold dot product (1-based lists). */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (acc, p) -> acc + p)"

  def cosSql(a: String, b: String, nrmA: String, nrmB: String): String =
    s"${dotSql(a, b)} / ($nrmA * $nrmB)"
}
