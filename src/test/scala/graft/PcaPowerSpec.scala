package graft

import graft.functions.VectorOps
import graft.operators.SimilarityQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavioral pins for the `ann_pca_power` trainer that oracle parity alone
  * cannot give: the Rayleigh quotient of power iteration on a symmetric
  * PSD matrix (the Gram matrix is both) is monotone non-decreasing, the
  * early stop fires on a corpus with one dominant direction, and the
  * converged iterate actually points along that direction.
  */
class PcaPowerSpec extends SparkSpec {

  private val DIM = 16
  private val N_VECS = 300

  /** Corpus with a planted dominant direction: points = t·u + 0.1·noise
    * for a fixed unit u, so the top principal direction is u (up to sign)
    * and the spectral gap is wide — power iteration must converge fast.
    */
  private def plantedCorpus: (DataFrame, Array[Double]) = {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val raw = Array.fill(DIM)(rnd.nextDouble() * 2 - 1)
    val un = math.sqrt(raw.map(x => x * x).sum)
    val u = raw.map(_ / un)
    val rows = (0 until N_VECS).map { i =>
      val t = rnd.nextDouble() * 4 - 2
      (i.toLong, u.map(_ * t).zip(Array.fill(DIM)((rnd.nextDouble() * 2 - 1) * 0.1))
        .map { case (a, b) => a + b }.toSeq)
    }
    val path = java.nio.file.Files.createTempDirectory("graft-pca").toString + "/e"
    rows.toDF("vec_id", "v").write.mode("overwrite").parquet(path)
    (spark.read.parquet(path)
      .withColumn("nrm", expr(s"sqrt(${VectorOps.dotExpr("v", "v")})")), u)
  }

  test("power iteration early-stops on a planted-direction corpus") {
    val (e, _) = plantedCorpus
    val rows = SimilarityQueries.pcaPower(e, maxIters = 12, tolNano = 1000L).collect()
    rows.foreach(r => info(
      s"iter ${r.getLong(0)}: delta_nano ${r.getLong(1)}, lambda ${r.getDouble(2)}"))
    assert(rows.nonEmpty && rows.length < 12,
      s"wide spectral gap must converge under the 12-iteration budget, got ${rows.length}")
    assert(rows.last.getBoolean(3), "last executed iteration must report converged")
    rows.init.foreach(r => assert(!r.getBoolean(3)))
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
    // Rayleigh quotient is monotone non-decreasing on a symmetric PSD matrix
    val lambdas = rows.map(_.getDouble(2)).toSeq
    lambdas.zip(lambdas.drop(1)).foreach { case (a, b) =>
      assert(b >= a - 1e-9, s"Rayleigh quotient regressed: $a -> $b")
    }
  }

  test("deflation spectrum: planted direction dominates, lambdas decrease") {
    val (e, _) = plantedCorpus
    val rows = SimilarityQueries.pcaDeflate(e, nComponents = 3, iters = 12).collect()
    rows.foreach(r => info(
      s"component ${r.getLong(0)}: lambda ${r.getDouble(1)}, var_pct_micro ${r.getLong(2)}"))
    assert(rows.length == 3)
    val lambdas = rows.map(_.getDouble(1)).toSeq
    assert(lambdas(0) > lambdas(1) && lambdas(1) >= lambdas(2) - 1e-9,
      s"deflated lambdas must not increase: $lambdas")
    // the planted direction carries the bulk of the trace; residual
    // components split the 0.1-noise floor
    assert(rows.head.getLong(2) >= 800000L,
      s"component 1 should capture >=80% of variance, got ${rows.head.getLong(2)} micro")
    assert(rows.map(_.getLong(2)).sum <= 1000000L + 3,
      "variance shares cannot exceed the trace")
  }

  test("whitening removes the planted direction: residuals shrink to the noise floor") {
    val (e, u) = plantedCorpus
    val out = SimilarityQueries.whitenEmbeddings(e, iters = 12)
    val shrunk = out
      .join(e.select(col("vec_id"), col("nrm")), "vec_id")
      .agg(avg(col("rnorm") / col("nrm")).as("mean_ratio"))
      .head().getDouble(0)
    info(f"mean residual/original norm ratio = $shrunk%.3f")
    // points are t·u + 0.1-noise with |t| up to 2: stripping u leaves the
    // noise component only
    assert(shrunk <= 0.4,
      s"whitening should collapse norms on the planted corpus, ratio $shrunk")
    // the residuals are orthogonal to the trained direction — re-derive u
    // exactly as the operator does and check the projection is ~0
    import org.apache.spark.sql.functions.typedlit
    val resid = out.withColumn("u", typedlit(u.toSeq))
      .select(abs(expr(graft.functions.VectorOps.dotExpr("vw", "u"))).as("p"))
      .agg(max(col("p"))).head().getDouble(0)
    // u here is the PLANTED direction, not the trained one, so exact zero
    // is not expected — but the projection must be noise-small
    assert(resid <= 0.2, s"residual projection onto planted direction: $resid")
  }

  test("whitening deflates spurious similarity: the SemDeDup rationale, measured") {
    // On a corpus with one dominant direction, RAW cosines are inflated
    // for every pair (both vectors share the planted component), so a
    // cosine near-dup threshold fires on pairs that only share the
    // corpus-wide direction — false duplicates. After ann_pca_whiten's
    // projection the shared component is gone and cosines reflect the
    // individual (noise) content. This is WHY SemDeDup-style pipelines
    // whiten before comparing; here it is a measured number, not prose.
    val (e, _) = plantedCorpus
    import spark.implicits._
    def meanAbsCos(vs: org.apache.spark.sql.DataFrame, vcol: String, ncol: String): Double = {
      val a = vs.select(col("vec_id"), col(vcol).as("av"), col(ncol).as("an"))
      val b = vs.select(col("vec_id").as("bid"), col(vcol).as("bv"), col(ncol).as("bn"))
      a.join(b, col("vec_id") < col("bid"))
        .filter(col("an") > 1e-12 && col("bn") > 1e-12)
        .select(abs(expr(s"${VectorOps.dotExpr("av", "bv")} / (an * bn)")).as("c"))
        .agg(avg("c")).head().getDouble(0)
    }
    val raw = meanAbsCos(e.select(col("vec_id"), col("v"), col("nrm")), "v", "nrm")
    val wh = SimilarityQueries.whitenEmbeddings(e, iters = 12)
      .withColumn("wn", expr(s"sqrt(${VectorOps.dotExpr("vw", "vw")})"))
    val white = meanAbsCos(wh.select(col("vec_id"), col("vw"), col("wn")), "vw", "wn")
    info(f"mean |cos| raw = $raw%.3f, whitened = $white%.3f")
    assert(raw >= 0.5,
      s"planted corpus should show inflated raw similarity, got $raw")
    assert(white <= raw / 2,
      s"whitening should at least halve spurious similarity: raw $raw -> $white")
  }

  test("degenerate corpus fails loudly, not with NaN") {
    // a corpus whose first coordinate is identically zero puts e_0 in the
    // Gram null space: the loop must refuse with a readable message
    // instead of normalizing 0/0 into NaN rows
    import spark.implicits._
    val rows = (0 until 50).map(i =>
      (i.toLong, Seq(0.0) ++ Seq.tabulate(DIM - 1)(j => (i * 31 + j) % 7 / 7.0)))
    val path = java.nio.file.Files.createTempDirectory("graft-pca0").toString + "/e"
    rows.toDF("vec_id", "v").write.mode("overwrite").parquet(path)
    val e = spark.read.parquet(path)
      .withColumn("nrm", expr(s"sqrt(${VectorOps.dotExpr("v", "v")})"))
    val ex = intercept[Exception] {
      SimilarityQueries.pcaPower(e, maxIters = 2, tolNano = 1000L).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("null space"),
      s"expected the loud null-space guard, got: ${ex.getMessage}")
  }

  test("converged iterate points along the planted direction") {
    val (e, u) = plantedCorpus
    // run the same loop but recover the final vector by one extra matvec
    // check: lambda ≈ u'Cu means the iterate aligned with u; cheaper and
    // less invasive than exposing the vector — compare lambda against the
    // Rayleigh quotient OF u computed from the same grid-exact Gram census
    import org.apache.spark.sql.Row
    val cells = e
      .select(col("v"), posexplode(col("v")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("v")).as(Seq("j", "xj")))
      .groupBy("i", "j")
      .agg(sum(round(col("xi") * col("xj") * 1e9).cast("long")).as("sx"))
      .collect()
    val gram = Array.fill(DIM, DIM)(0.0)
    cells.foreach { (r: Row) =>
      gram(r.getInt(0))(r.getInt(1)) = r.getLong(2).toDouble / 1e9 }
    val cu = Array.tabulate(DIM)(i => (0 until DIM).map(j => gram(i)(j) * u(j)).sum)
    val rayleighU = u.zip(cu).map { case (a, b) => a * b }.sum
    val lambdaConverged = SimilarityQueries.pcaPower(e, maxIters = 12, tolNano = 1000L)
      .collect().last.getDouble(2)
    // the planted direction carries almost all the variance: the converged
    // Rayleigh quotient must reach u'Cu to within the noise floor (10%)
    assert(lambdaConverged >= rayleighU * 0.9 && lambdaConverged <= rayleighU * 1.1,
      s"converged lambda $lambdaConverged vs planted-direction Rayleigh $rayleighU")
  }
}
