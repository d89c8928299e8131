package graft

import graft.functions.VectorOps
import graft.operators.SimilarityQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The honest-measurement experiment the driver-corpus recall audit cannot
  * run: `ann_knn_refine_recall` measures NN-Descent on the driver's UNIFORM
  * embeddings, where no graph method can shine (recall 0.22 → 0.36 over two
  * iterations — the measured numbers in SURVEY). This spec runs the
  * IDENTICAL pipeline (knnGraphOfE → randomInitEdgesE → refineKnn chain) on
  * a CLUSTERED synthetic corpus — the data regime k-NN-graph methods are
  * built for — and reports the convergence curve beside an IVF-style probe
  * at the same k, so the graph family's real operating point is a measured
  * number, not prose.
  */
class NnDescentSpec extends SparkSpec {

  private val DIM = 16
  private val N_CLUSTERS = 8
  private val N_VECS = 320

  /** Deterministic mixture corpus: 8 well-separated centers (coords in
    * [-1,1]), points = center + 0.15·noise. Cluster id = vec_id % 8, so the
    * first N_SEEDS=16 ids (the seed set) cover every cluster twice — the
    * same seeds-span-the-data property the driver corpus has by uniformity.
    */
  private def clusteredCorpus: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(N_CLUSTERS, DIM)(rnd.nextDouble() * 2 - 1)
    val rows = (0 until N_VECS).map { i =>
      val c = centers(i % N_CLUSTERS)
      (i.toLong, c.map(x => x + (rnd.nextDouble() * 2 - 1) * 0.15).toSeq)
    }
    // round-trip through parquet: an inline LocalRelation of 320×16 doubles
    // would be textually embedded in every join's plan (AQE explain OOMs);
    // a file scan keeps plans compact, and matches how the production path
    // reads its corpus anyway
    val path = java.nio.file.Files.createTempDirectory("graft-nnd").toString + "/e"
    rows.toDF("vec_id", "v").write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
      .withColumn("nrm", expr(s"sqrt(${VectorOps.dotExpr("v", "v")})"))
  }

  private def bruteTruth(e: DataFrame, k: Int): DataFrame = {
    val a = e.select(col("vec_id"), col("v").as("av"), col("nrm").as("an"))
    val b = e.select(col("vec_id").as("nbr_id"), col("v").as("bv"), col("nrm").as("bn"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr_id"))
    a.join(b, col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        VectorOps.cosCol("av", "bv", "an", "bn").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k).select("vec_id", "nbr_id")
  }

  private def recallOf(truth: DataFrame, g: DataFrame): Double = {
    val r = truth
      .join(g.select(col("vec_id"), col("nbr_id"), lit(1).as("hit")),
        Seq("vec_id", "nbr_id"), "left")
      .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("n_truth"))
      .collect().head
    r.getLong(0).toDouble / r.getLong(1)
  }

  test("NN-Descent converges to high recall on clustered data, on par with IVF") {
    // localCheckpoint between iterations: refineKnn's self-joins reference
    // their input many times, so three chained iterations grow the LOGICAL
    // plan exponentially (AQE's explain OOMed before any execution);
    // truncating lineage per iteration is test-plumbing, not the operator
    val e = clusteredCorpus.localCheckpoint(true)
    val truth = bruteTruth(e, 3).localCheckpoint(true)

    // the identical production chain: cell-scoped seed graph, random-init
    // union, then three NN-Descent iterations feeding each other
    val g0 = SimilarityQueries.knnGraphOfE(e).localCheckpoint(true)
    val init = g0.select("vec_id", "nbr_id")
      .unionByName(SimilarityQueries.randomInitEdgesE(e))
      .localCheckpoint(true)
    var cur = SimilarityQueries.refineKnn(e, init).localCheckpoint(true)
    val curve = scala.collection.mutable.ArrayBuffer(
      "cell_seed" -> recallOf(truth, g0))
    for (i <- 1 to 3) {
      curve += s"nn_descent_$i" -> recallOf(truth, cur)
      if (i < 3)
        cur = SimilarityQueries.refineKnn(e, cur.select("vec_id", "nbr_id"))
          .localCheckpoint(true)
    }

    // IVF-style probe at the same k: candidates from the nprobe=2 nearest
    // cells of the SAME 16-seed geometry, exact re-rank to top-3
    val seeds = SimilarityQueries.seedSet(e)
      .select(col("seed_id"), col("sv"), col("sn"))
    val assign = operators.Materialize(
      SimilarityQueries.assignToSeeds(e, SimilarityQueries.seedSet(e))
        .select("vec_id", "v", "nrm", "seed_id"))
    val pw = Window.partitionBy("vec_id").orderBy(col("pcos").desc, col("seed_id"))
    val probes = e.join(seeds)
      .select(col("vec_id"), col("v"), col("nrm"), col("seed_id"),
        VectorOps.cosCol("v", "sv", "nrm", "sn").as("pcos"))
      .withColumn("rn", row_number().over(pw)).filter(col("rn") <= 2)
      .select(col("vec_id"), col("v").as("qv"), col("nrm").as("qn"), col("seed_id"))
    val cw = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr_id"))
    val ivf = probes
      .join(assign.select(col("seed_id"), col("vec_id").as("nbr_id"),
        col("v").as("cv"), col("nrm").as("cn")), Seq("seed_id"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        VectorOps.cosCol("qv", "cv", "qn", "cn").as("cos"))
      .distinct()
      .withColumn("rank", row_number().over(cw))
      .filter(col("rank") <= 3).select("vec_id", "nbr_id")
    val ivfRecall = recallOf(truth, ivf)

    curve.foreach { case (m, r) => info(f"$m%-14s recall@3 = $r%.3f") }
    info(f"ivf_nprobe2    recall@3 = $ivfRecall%.3f")

    val byName = curve.toMap
    // the curve must actually climb off the seed graph and converge high —
    // the operating point the uniform-corpus audit can never show
    assert(byName("nn_descent_1") > byName("cell_seed"),
      "iteration 1 must improve on the cell-scoped seed graph")
    assert(byName("nn_descent_3") >= byName("nn_descent_1"),
      "the curve must not regress as iterations compose")
    assert(byName("nn_descent_3") >= 0.85,
      s"converged NN-Descent should be high-recall on clustered data, got ${byName("nn_descent_3")}")
    assert(math.abs(byName("nn_descent_3") - ivfRecall) <= 0.15,
      s"graph recall ${byName("nn_descent_3")} should be on par with IVF $ivfRecall at the same k")
  }

  test("beam serving over the trained graph is high-recall on clustered data") {
    // The graph-ANN serving measurement the uniform driver corpus cannot
    // give (registered audits measured 0.05→0.07 at sf0.01 and 0.01 at
    // sf0.1 for seed vs refined — the data has no neighborhood structure
    // for ANY graph to capture): on the clustered corpus, run the SAME
    // graphBeamOver probe over (a) the cell-scoped seed graph and (b) the
    // NN-Descent-trained graph (3 iterations — the production operating
    // point), and assert training the edge set is what unlocks the walk.
    val e = clusteredCorpus.localCheckpoint(true)
    val truth = bruteTruth(e, 3).localCheckpoint(true)
    val g0 = SimilarityQueries.knnGraphOfE(e).select("vec_id", "nbr_id")
      .localCheckpoint(true)
    var trained = SimilarityQueries.refineKnn(e,
      g0.unionByName(SimilarityQueries.randomInitEdgesE(e))).localCheckpoint(true)
    for (_ <- 2 to 3)
      trained = SimilarityQueries.refineKnn(e, trained.select("vec_id", "nbr_id"))
        .localCheckpoint(true)
    val q = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    def beamRecall(edges: DataFrame, rounds: Int, w: Int): Double = {
      val top = SimilarityQueries.graphBeamOver(e, edges, q, rounds, w)
        .filter(col("rank") <= 3)
        .select(col("q_id").as("vec_id"), col("cand_id").as("nbr_id"))
      recallOf(truth.filter(col("vec_id") < 10), top)
    }
    // serving defaults (3 rounds × W=4) vs a deeper walk (8 × 8): a pure
    // top-3 kNN graph has no long-range links, so the walk needs more
    // rounds than an HNSW hierarchy would — the measured knob, not a bug
    def und(g: DataFrame): DataFrame =
      g.select("vec_id", "nbr_id")
        .unionByName(g.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id")))
        .distinct()
    val seedR = beamRecall(g0, 3, 4)
    val trainedR = beamRecall(trained.select("vec_id", "nbr_id"), 3, 4)
    val trainedDeep = beamRecall(trained.select("vec_id", "nbr_id"), 8, 8)
    val trainedUnd = beamRecall(und(trained), 3, 4)
    val trainedUndDeep = beamRecall(und(trained), 8, 8)
    info(f"beam over seed graph      (3x4) recall@3 = $seedR%.3f")
    info(f"beam over trained         (3x4) recall@3 = $trainedR%.3f")
    info(f"beam over trained         (8x8) recall@3 = $trainedDeep%.3f")
    info(f"beam over trained UNDIR   (3x4) recall@3 = $trainedUnd%.3f")
    info(f"beam over trained UNDIR   (8x8) recall@3 = $trainedUndDeep%.3f")
    assert(trainedR > seedR,
      s"training the edge set must lift beam recall (seed $seedR vs trained $trainedR)")
    assert(trainedUndDeep >= 0.8,
      s"a deeper walk over the UNDIRECTED trained graph should serve high " +
        s"recall on clustered data, got $trainedUndDeep")
  }

  test("nnDescentTrain: convergence loop invariants; fixed point stops the loop") {
    // The registered ann_knn_train loop on the clustered corpus, with a
    // budget large enough to let the fixed point fire if the graph
    // stabilizes (the exact k-NN graph refines to itself; a local optimum
    // also stops the loop — either way n_changed hits 0 and iteration ends).
    val e = clusteredCorpus.localCheckpoint(true)
    val rows = SimilarityQueries.nnDescentTrain(e, maxIters = 8).collect()
    rows.foreach(r => info(s"iter ${r.getLong(0)}: changed ${r.getLong(1)}"))
    assert(rows.nonEmpty && rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
    rows.foreach(r => assert(r.getBoolean(2) == (r.getLong(1) == 0L),
      "converged must mean exactly zero changed edges"))
    rows.init.foreach(r => assert(!r.getBoolean(2),
      "the loop must stop AT the first converged iteration"))
    assert(rows.last.getBoolean(2) && rows.length < 8,
      s"expected a fixed point under the 8-iteration budget on clustered data, " +
        s"got ${rows.length} iterations, last changed ${rows.last.getLong(1)}")
    // the change curve collapses as the graph stabilizes: the last
    // pre-convergence round must change fewer edges than round 1
    if (rows.length > 2)
      assert(rows(rows.length - 2).getLong(1) < rows.head.getLong(1))
  }
}
