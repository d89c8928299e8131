package graft.operators

import graft.GQuery
import graft.functions.Exact.countStarSql
import graft.functions.VectorOps
import graft.sources.IndexWrite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over `embeddings` (builder mandate).
  *
  * Three tiers, all deterministic and oracle-verified:
  *  - brute-force top-k: the correctness baseline. Broadcast the (small)
  *    query set against the corpus — at 100 TB this is a broadcast-hash
  *    join + per-query TakeOrdered, linear in corpus size, no shuffle of
  *    the corpus itself.
  *  - IVF: coarse quantization to seed centroids, probe the nprobe nearest
  *    cells, exact re-rank inside. The cell assignment is a corpus-side
  *    precompute (one pass); queries touch only probed cells — the classic
  *    inverted-file trade of recall for a ~cells/nprobe scan reduction.
  *  - LSH buckets: random-hyperplane signs as a partition key (the same
  *    shape MinHash banding uses for text). Bucket histogram demonstrates
  *    the key derivation; pair generation within buckets is then an
  *    equi-join, never a cross product.
  *
  * The hyperplane weights are derived from md5 in Scala and inlined as
  * ±1 literals so both engines compute identical projections.
  */
object SimilarityQueries {

  private val N_QUERIES = 10

  /** IVF cell count — a TEST-SCALE default. Sizing rule (SURVEY §11):
    * k ∝ √n to ~n/1000 cells so cells stay 1k–1M vectors (k-means cost vs
    * probe selectivity trade); registered queries use the first-N_SEEDS
    * convention so oracles stay expressible, and the index builders/probes
    * take the count as an argument (non-default size exercised in
    * PartitionBucketSpec).
    */
  val N_SEEDS = 16

  /** k-NN graph partition count — a TEST-SCALE default. Sizing rule
    * (SURVEY §11): buckets ≈ graph rows / rows-per-file target; lookups
    * prune to one bucket regardless of the count, and graph content is
    * invariant under it (pinned at a non-default size).
    */
  val KNN_BUCKETS = 16L
  /** Semantic-dedup cosine threshold — see dedup_semantic's calibration note. */
  private val SEM_TAU = 0.4
  private[graft] val N_PROBE = 4
  private val TOP_K = 10

  /** Deterministic ±1 hyperplane weights: sign of the first md5 nibble of
    * "plane:dim". Computed driver-side once, inlined as literals.
    */
  private def planeWeights(plane: Int, dims: Int): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dims).map { d =>
      val hex = md.digest(s"$plane:$d".getBytes("UTF-8"))
      val nibble = (hex(0) >> 4) & 0xf
      if (nibble >= 8) 1.0 else -1.0
    }
  }

  private val N_PLANES = 8
  private val DIMS = 64

  private def weightsArraySpark(p: Int): String =
    planeWeights(p, DIMS).map(w => s"CAST($w AS DOUBLE)").mkString("array(", ", ", ")")
  private def weightsArrayDuck(p: Int): String =
    planeWeights(p, DIMS).map(w => s"CAST($w AS DOUBLE)").mkString("[", ", ", "]")

  private def projSpark(p: Int): String =
    s"graft_dot(v, ${weightsArraySpark(p)})"
  private def projDuck(p: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i -> v[i] * (${weightsArrayDuck(p)})[i])), (acc, t) -> acc + t)"

  import org.apache.spark.sql.{Column, DataFrame, SparkSession}

  /** Exact top-k per query vector (q_id, rank, cand_id, cos) — the recall
    * ground truth. Broadcast query side; corpus scanned once, never shuffled.
    */
  private def bruteforceTopk(s: SparkSession, dir: String): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    val q = broadcast(
      e.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    val scored = e.join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "cos")
  }

  /** Broadcast seed set (seed_id, sv, sn) shared by IVF, cell stats, and
    * the k-means iteration.
    */
  private[graft] def seedSet(e: DataFrame, nSeeds: Int = N_SEEDS): DataFrame =
    broadcast(
      e.filter(col("vec_id") < nSeeds)
        .select(col("vec_id").as("seed_id"), col("v").as("sv"), col("nrm").as("sn")))

  /** The TRAINED coarse quantizer: one grid-exact Lloyd iteration on the
    * first-N seeds over the full 64-dim vectors — `ann_kmeans_iter`'s
    * computation packaged as a seed provider (1e-9-integer-grid member
    * means, so the trained centroids — and every cosine computed from
    * them — are bit-identical cross-engine; the `trainedCents` discipline
    * applied to the coarse grid instead of the PQ subspaces). No empty
    * cells: each seed vector sits in its own cell, so every centroid keeps
    * at least one member. Returns (seed_id, sv, sn) — drop-in wherever
    * [[seedSet]] feeds an assignment or probe.
    */
  private[graft] def trainedSeedSet(e: DataFrame, nSeeds: Int = N_SEEDS): DataFrame = {
    val assign = assignToSeeds(e, seedSet(e, nSeeds)).select("vec_id", "v", "seed_id")
    val cent = assign
      .select(col("seed_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("seed_id", "pos")
      .agg(sum(round(col("x") * 1e9).cast("long")).as("sx"), count(lit(1)).as("nd"))
      .select(col("seed_id"),
        struct(col("pos"),
          (col("sx").cast("double") / 1e9 / col("nd").cast("double")).as("cv")).as("pc"))
      .groupBy("seed_id")
      .agg(expr("transform(sort_array(collect_list(pc)), p -> p.cv)").as("sv"))
      .withColumn("sn", expr(s"sqrt(${VectorOps.dotExpr("sv", "sv")})"))
    // loud guard on the 'no empty cells' invariant: it holds because each
    // seed VECTOR sits in its own cell — but only if the first-N seed
    // vectors are pairwise distinct. A duplicated seed would tie at cos=1,
    // break to the lower seed_id, and silently train a smaller grid than
    // requested; assert the trained cell count instead of trusting the
    // assumption (nSeeds-row frame, the check is control-plane cheap).
    val checked = cent
      .crossJoin(broadcast(cent.agg(count(lit(1)).as("g_ncells"))))
      .filter(expr(s"assert_true(g_ncells = $nSeeds, " +
        s"'trained quantizer lost cells (got fewer than $nSeeds): " +
        "duplicate seed embeddings — pick distinct seeds') IS NULL"))
    broadcast(checked.select("seed_id", "sv", "sn"))
  }

  /** The trained coarse grid over the corpus embeddings (test hook). */
  private[graft] def trainedSeedSetOf(s: SparkSession, dir: String): DataFrame =
    trainedSeedSet(VectorOps.normalized(s, dir))

  /** Lloyd iteration budget / convergence tolerance for [[kmeansTrain]]:
    * stop when no centroid component moved ≥ 1e-3 on the unit sphere
    * (1e6 on the 1e-9 integer grid) — past that, cell boundaries are
    * stable to well under one assignment flip per corpus vector.
    */
  private val KMEANS_MAX_ITERS = 4
  private val KMEANS_TOL_NANO = 1000000L

  /** K-iteration Lloyd trainer with a grid-exact movement metric and early
    * stop — the convergence loop the 1-iteration [[trainedSeedSet]] is the
    * first step of. Each round: assign corpus → nearest centroid (broadcast
    * pass, corpus never shuffles), recompute centroids as 1e-9-grid-exact
    * member means (one (seed_id, dim)-keyed partial-agg shuffle), then
    * measure movement as the MAX absolute per-component shift on the nano
    * grid and stop early once it drops below `tolNano`. Centroid state is
    * COLLECTED between rounds (nSeeds × dim doubles — control-plane sized,
    * the BPE-merge-table discipline) so K iterations keep a flat lineage
    * instead of a K-deep self-referencing plan; doubles round-trip the
    * collect losslessly, so the next round's broadcast grid is bit-identical
    * to what a chained plan would have computed. Empty cells (a centroid
    * that loses every member once means move off corpus points — standard
    * Lloyd degeneracy) drop out on both engines identically via the
    * member-mean group-by. Driver-side rounding uses BigDecimal HALF_UP —
    * ties away from zero, the same contract as Spark SQL `round` and the
    * oracle's `round()`.
    *
    * Returns one row per EXECUTED iteration:
    * (iter, max_shift_nano, converged) — the measured convergence curve.
    *
    * Operating note: on the driver's structureless uniform embeddings the
    * grid never converges inside the budget (movement plateaus — there are
    * no clusters to find), and `ann_recall_vs_nprobe` measured recall
    * DROPPING with even one training iteration there; that is why the
    * shipped index quantizer stays at 1 Lloyd iteration. On clustered
    * corpora the same loop converges in 2-3 rounds (pinned in
    * KmeansTrainSpec on the NnDescentSpec mixture corpus) — the regime
    * where training the grid pays. [r14] That pay-off is now a measured,
    * spec-pinned number on BOTH geometries: on the planted-cluster
    * corpus (8 centers, 0.8 noise, nprobe=1) IVF recall@10 is 0.915
    * seeded vs 0.983 after one Lloyd iteration (KmeansTrainSpec's
    * "planted clusters" pin) — the exact opposite sign of the uniform
    * driver corpus, completing the "train on clustered data, stay
    * seeded on structureless data" rule with evidence on each side.
    */
  private[graft] def kmeansTrain(
      e: DataFrame, nSeeds: Int = N_SEEDS,
      maxIters: Int = KMEANS_MAX_ITERS, tolNano: Long = KMEANS_TOL_NANO): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    def nano(x: Double): Long =
      BigDecimal(x * 1e9).setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    var cent: Seq[(Long, Seq[Double])] = e.filter(col("vec_id") < nSeeds)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    // loud, not empty.max: an empty corpus (or a seed range with no rows)
    // has nothing to train on — the pcaPower null-space guard discipline
    require(cent.nonEmpty,
      s"kmeansTrain: no seed vectors with vec_id < $nSeeds — empty corpus " +
        "or seed range; nothing to train")
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Boolean)]
    var it = 1
    var stop = false
    while (it <= maxIters && !stop) {
      val centDf = broadcast(cent.toDF("seed_id", "sv")
        .withColumn("sn", expr(s"sqrt(${VectorOps.dotExpr("sv", "sv")})")))
      val next: Map[Long, Seq[Double]] =
        assignToSeeds(e, centDf).select("vec_id", "v", "seed_id")
          .select(col("seed_id"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("seed_id", "pos")
          .agg(sum(round(col("x") * 1e9).cast("long")).as("sx"), count(lit(1)).as("nd"))
          .select(col("seed_id"),
            struct(col("pos"),
              (col("sx").cast("double") / 1e9 / col("nd").cast("double")).as("cv")).as("pc"))
          .groupBy("seed_id")
          .agg(expr("transform(sort_array(collect_list(pc)), p -> p.cv)").as("sv"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      // loud, not empty.max: every centroid losing every member in one
      // round (next empty, or disjoint from cent) is a degenerate corpus,
      // not a zero-shift convergence
      require(next.nonEmpty && cent.exists(c => next.contains(c._1)),
        "kmeansTrain: no centroid survived the assignment round — " +
          "degenerate corpus (no members anywhere); cannot measure movement")
      val shift = cent.iterator.collect {
        case (sid, old) if next.contains(sid) =>
          old.iterator.zip(next(sid).iterator)
            .map { case (o, n) => math.abs(nano(n) - nano(o)) }.max
      }.max
      val converged = shift < tolNano
      out += ((it.toLong, shift, converged))
      stop = converged
      cent = next.toSeq.sortBy(_._1).map { case (k, v) => (k, v) }
      it += 1
    }
    out.toSeq.toDF("iter", "max_shift_nano", "converged").orderBy("iter")
  }

  /** Oracle twin of [[kmeansTrain]]: the Lloyd loop UNROLLED to `maxIters`
    * CTE blocks (assignment → grid-exact means → nano-grid shift vs the
    * previous grid), with the early stop expressed as a filter on the first
    * iteration whose shift fell below tolerance — row-for-row the executed
    * prefix the Spark loop emits.
    */
  private def kmeansTrainOracleSql(
      nSeeds: Int, maxIters: Int, tolNano: Long): String = {
    val blocks = (1 to maxIters).map { i =>
      val prev = s"cent${i - 1}"
      s"""assign$i AS (SELECT vec_id, v, seed_id FROM (
         |  SELECT e.vec_id, e.v, c.seed_id,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      ${VectorOps.dotSql("e.v", "c.sv")} / (e.nrm * c.sn) DESC, c.seed_id) AS rn
         |  FROM e CROSS JOIN $prev c) WHERE rn = 1),
         |dims$i AS (SELECT seed_id, unnest(range(1, 65)) AS pos, v FROM assign$i),
         |sums$i AS (SELECT seed_id, pos,
         |  CAST(SUM(CAST(round(v[pos] * 1000000000) AS BIGINT)) AS BIGINT) AS sx,
         |  CAST(COUNT(*) AS BIGINT) AS nd
         |  FROM dims$i GROUP BY seed_id, pos),
         |centl$i AS (SELECT seed_id,
         |  list(CAST(sx AS DOUBLE) / 1000000000 / CAST(nd AS DOUBLE) ORDER BY pos) AS sv
         |  FROM sums$i GROUP BY seed_id),
         |cent$i AS (SELECT seed_id, sv, sqrt(${VectorOps.dotSql("sv", "sv")}) AS sn
         |  FROM centl$i),
         |shift$i AS (SELECT MAX(ABS(CAST(round(n.sv[p.pos] * 1000000000) AS BIGINT)
         |    - CAST(round(o.sv[p.pos] * 1000000000) AS BIGINT))) AS mshift
         |  FROM cent$i n JOIN $prev o ON n.seed_id = o.seed_id
         |  CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) p)""".stripMargin
    }.mkString(",\n")
    val mvRows = (1 to maxIters)
      .map(i => s"SELECT $i AS iter, (SELECT mshift FROM shift$i) AS max_shift_nano")
      .mkString(" UNION ALL ")
    s"""WITH ${VectorOps.normalizedSql},
       |cent0 AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e
       |  WHERE vec_id < $nSeeds),
       |$blocks,
       |mv AS ($mvRows),
       |stop AS (SELECT COALESCE(MIN(iter), $maxIters) AS s FROM mv
       |  WHERE max_shift_nano < $tolNano)
       |SELECT CAST(iter AS BIGINT) AS iter, max_shift_nano,
       |  max_shift_nano < $tolNano AS converged
       |FROM mv WHERE iter <= (SELECT s FROM stop) ORDER BY iter""".stripMargin
  }

  /** Power-iteration budget / tolerance for [[pcaPower]]: stop when no
    * component of the iterate moved ≥ 1e-6 on the unit sphere (1000 on the
    * 1e-9 grid) — direction change well under any downstream projection's
    * discrimination.
    */
  private val PCA_MAX_ITERS = 8
  private val PCA_TOL_NANO = 1000L
  private val PCA_COMPONENTS = 3

  /** Top principal direction of the embedding corpus by POWER ITERATION —
    * the third convergence loop beside [[kmeansTrain]] and
    * [[nnDescentTrain]], and the spectral step embedding pipelines run
    * before whitening / SemDeDup-style normalization. Scale split is the
    * whole point: the corpus-sized work is ONE pass — the d×d Gram matrix
    * as a grid-exact partial-aggregated shuffle (d² keys; map-side combine
    * does the heavy lifting, the corpus never shuffles rows) — and the
    * iteration itself runs on the COLLECTED d×d matrix (d=64 → 4096
    * doubles, control-plane sized, the centroid/merge-table discipline).
    * Cross-engine exactness: Gram entries are integer sums on the 1e-9
    * grid; every matvec / norm / Rayleigh quotient is a SEQUENTIAL
    * ascending fold from 0.0 — the same operation order as the engines'
    * shared dot-product fold — so both sides walk identical IEEE doubles
    * and the movement metric (max per-component shift on the nano grid)
    * matches exactly. Uncentered by documented choice: the driver
    * embeddings are near-zero-mean by construction, and centering is a
    * rank-1 μμᵀ correction orthogonal to the iteration being demonstrated.
    *
    * Returns one row per EXECUTED iteration:
    * (iter, delta_nano, lambda, converged) — lambda is the Rayleigh
    * quotient, monotone non-decreasing for a symmetric PSD matrix (pinned
    * in PcaPowerSpec).
    */
  /** Grid-exact Gram matrix of the corpus — the ONE distributed pass every
    * spectral operator shares: d² integer-census keys, map-side combined,
    * corpus rows never shuffle; collected because d×d is control-plane
    * sized (64×64 = 4096 doubles).
    *
    * Input envelope (shared by every 1e-9-grid census in this file): each
    * per-row term `round(x_i·x_j·1e9)` must fit int64 and their per-key sum
    * must too, so with |x| ≤ B over n rows the constraint is
    * n·B²·1e9 < 2⁶³. Unit-scale (cosine-world) embeddings, |x| ≤ ~1,
    * are safe to n ≈ 9e9 rows per aggregation key; beyond that a
    * deployment shards the census (two-level sums) or drops to a coarser
    * grid. Out-of-envelope magnitudes fail LOUDLY under ANSI
    * (CAST_OVERFLOW), never wrap silently — pinned by the
    * EdgeCorpusSpec embeddings sweep, which probes 1000× unit scale
    * in-envelope and documents the 1e15 overflow as designed.
    */
  private def gramOf(e: DataFrame): Array[Array[Double]] = {
    // [r21 opt] Two census cost fixes, both value-identical:
    //   - Spread: the single-file embeddings scan is one task, which
    //     serialized the whole n·d² generate+aggregate pass (measured 4.5 s
    //     single-task at sf0.1); conditional repartition keeps the
    //     "corpus never shuffles" contract on already-parallel sources.
    //   - upper triangle only (j >= i): per-row terms round(xi·xj·1e9) are
    //     exactly symmetric and long sums are order-free, so G[j][i] is
    //     mirrored on the driver instead of aggregated twice — halves the
    //     d² aggregation work (guide §2.3, shuffle/aggregate fewer bytes).
    val cells = Spread(e)
      .select(col("v"), posexplode(col("v")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("v")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .groupBy("i", "j")
      .agg(sum(round(col("xi") * col("xj") * 1e9).cast("long")).as("sx"))
      .collect()
    // loud, not empty.max — the pcaPower null-space guard discipline
    require(cells.nonEmpty,
      "gramOf: empty embedding corpus — no Gram census to build")
    val dim = cells.iterator.map(_.getInt(1)).max + 1
    val gram = Array.fill(dim, dim)(0.0)
    cells.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val x = r.getLong(2).toDouble / 1e9
      gram(i)(j) = x
      gram(j)(i) = x
    }
    gram
  }

  /** One fold-order-fixed matvec; shared by the power-iteration loops so
    * Spark-side doubles match the oracle's sequential ascending folds.
    */
  private def matvec(m: Array[Array[Double]], v: Array[Double]): Array[Double] =
    Array.tabulate(m.length) { i =>
      var acc = 0.0; var j = 0
      while (j < m.length) { acc += m(i)(j) * v(j); j += 1 }; acc
    }

  private def foldDotArr(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var k = 0
    while (k < a.length) { acc += a(k) * b(k); k += 1 }; acc
  }

  private[graft] def pcaPower(
      e: DataFrame, maxIters: Int = PCA_MAX_ITERS,
      tolNano: Long = PCA_TOL_NANO): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    def nano(x: Double): Long =
      BigDecimal(x * 1e9).setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    val gram = gramOf(e)
    val dim = gram.length
    // control-plane: fold-order-fixed power iteration from e_0
    var v = Array.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Double, Boolean)]
    var it = 1
    var stop = false
    while (it <= maxIters && !stop) {
      val w = matvec(gram, v)
      val s2 = foldDotArr(w, w)
      // loud, not NaN: C·v = 0 means the start vector lies in the null
      // space (e.g. a corpus with an all-zero first coordinate) — the next
      // normalize would silently propagate NaN through every later row
      require(s2 > 0.0,
        "power iteration collapsed: C*v = 0 (start vector in the null " +
          "space of the Gram matrix) — the corpus has no variance along " +
          "e_0; rotate the start vector or drop degenerate dimensions")
      val lambda = foldDotArr(v, w)
      val vn = w.map(_ / math.sqrt(s2))
      var delta = 0L
      var k = 0
      while (k < dim) {
        val d = math.abs(nano(vn(k)) - nano(v(k)))
        if (d > delta) delta = d
        k += 1
      }
      val converged = delta < tolNano
      out += ((it.toLong, delta, lambda, converged))
      stop = converged
      v = vn
      it += 1
    }
    out.toSeq.toDF("iter", "delta_nano", "lambda", "converged").orderBy("iter")
  }

  /** Fixed-iteration power step (no early stop — the deflation and
    * whitening operators need the OUTPUT VECTOR to be a deterministic
    * function of the corpus alone): K matvec+normalize rounds from e_0,
    * returning (unit vector, final Rayleigh quotient). Same fold-order
    * arithmetic as [[pcaPower]].
    */
  private def powerVec(
      gram: Array[Array[Double]], iters: Int): (Array[Double], Double) = {
    val dim = gram.length
    var v = Array.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)
    var lambda = 0.0
    for (_ <- 1 to iters) {
      val w = matvec(gram, v)
      lambda = foldDotArr(v, w)
      val s2 = foldDotArr(w, w)
      require(s2 > 0.0,
        "power iteration collapsed: C*v = 0 — see pcaPower's guard") // same failure mode
      v = w.map(_ / math.sqrt(s2))
    }
    (v, lambda)
  }

  /** Top-N spectrum by power iteration WITH DEFLATION — the control-plane
    * completion of [[pcaPower]]: after each fixed-K power run, subtract
    * the captured component (C ← C − λ·uuᵀ, fold-order-fixed) and iterate
    * on the residual matrix. All deflation arithmetic happens on the
    * collected d×d matrix; the corpus is touched exactly once (the shared
    * [[gramOf]] census). Output (component, lambda, var_pct_micro): the
    * captured Rayleigh quotient per component and its share of total
    * variance (trace) in exact micro units — the spectrum summary an
    * embedding-compression decision actually reads.
    */
  private[graft] def pcaDeflate(
      e: DataFrame, nComponents: Int = PCA_COMPONENTS,
      iters: Int = PCA_MAX_ITERS): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    var gram = gramOf(e)
    val dim = gram.length
    // trace of the ORIGINAL matrix = total variance mass, the var_pct denominator
    var trace = 0.0
    var t = 0
    while (t < dim) { trace += gram(t)(t); t += 1 }
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Double, Long)]
    for (c <- 1 to nComponents) {
      val (u, lambda) = powerVec(gram, iters)
      // var_pct on the micro grid: integer, so the hash can never drift
      val varPctMicro =
        BigDecimal(lambda / trace * 1e6)
          .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
      out += ((c.toLong, lambda, varPctMicro))
      // deflate: C ← C − λ·uuᵀ (left-assoc per cell: g − λ*u_i*u_j)
      val next = Array.tabulate(dim, dim)((i, j) => gram(i)(j) - lambda * u(i) * u(j))
      gram = next
    }
    out.toSeq.toDF("component", "lambda", "var_pct_micro").orderBy("component")
  }

  /** Oracle twin of [[pcaPower]]: the Gram matrix as the same grid-exact
    * integer census, the power iteration UNROLLED to `maxIters` CTE blocks
    * over a single-row list-of-lists matrix, every reduction the shared
    * sequential ascending fold — and the early stop as the usual prefix
    * filter.
    */
  private def pcaPowerOracleSql(maxIters: Int, tolNano: Long): String = {
    def foldDot(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, 65), fi -> $a[fi] * $b[fi])), (acc, p) -> acc + p)"
    val blocks = (1 to maxIters).map { i =>
      val p = i - 1
      s"""it$i AS (SELECT v AS vp, list_transform(range(1, 65), r ->
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65), c -> m[r][c] * v[c])), (acc, p) -> acc + p)) AS w
         |  FROM gmat, v$p),
         |st$i AS (SELECT vp, w, ${foldDot("w", "w")} AS s2,
         |    ${foldDot("vp", "w")} AS lambda FROM it$i),
         |v$i AS (SELECT list_transform(w, x -> x / sqrt(s2)) AS v FROM st$i),
         |dl$i AS (SELECT CAST(MAX(ABS(CAST(round(a.v[u.k] * 1000000000) AS BIGINT)
         |    - CAST(round(s.vp[u.k] * 1000000000) AS BIGINT))) AS BIGINT) AS delta,
         |    MAX(s.lambda) AS lambda
         |  FROM v$i a, st$i s, (SELECT unnest(range(1, 65)) AS k) u)""".stripMargin
    }.mkString(",\n")
    val mvRows = (1 to maxIters)
      .map(i => s"SELECT $i AS iter, (SELECT delta FROM dl$i) AS delta_nano, " +
        s"(SELECT lambda FROM dl$i) AS lambda")
      .mkString(" UNION ALL ")
    s"""WITH ${VectorOps.normalizedSql},
       |gram_pairs AS (SELECT ii.i AS i, jj.j AS j,
       |  CAST(SUM(CAST(round(v[ii.i] * v[jj.j] * 1000000000) AS BIGINT)) AS BIGINT) AS sx
       |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii
       |    CROSS JOIN (SELECT unnest(range(1, 65)) AS j) jj
       |  GROUP BY ii.i, jj.j),
       |grow AS (SELECT i, list(CAST(sx AS DOUBLE) / 1000000000 ORDER BY j) AS row
       |  FROM gram_pairs GROUP BY i),
       |gmat AS (SELECT list(row ORDER BY i) AS m FROM grow),
       |v0 AS (SELECT list_transform(range(1, 65), k ->
       |  CASE WHEN k = 1 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS v),
       |$blocks,
       |mv AS ($mvRows),
       |stop AS (SELECT COALESCE(MIN(iter), $maxIters) AS s FROM mv
       |  WHERE delta_nano < $tolNano)
       |SELECT CAST(iter AS BIGINT) AS iter, delta_nano, lambda,
       |  delta_nano < $tolNano AS converged
       |FROM mv WHERE iter <= (SELECT s FROM stop) ORDER BY iter""".stripMargin
  }

  /** Remove the top principal component from every embedding — the
    * whitening/flattening projection SemDeDup-style pipelines apply before
    * cosine comparisons, so one dominant direction can't swamp the
    * similarity. v′ = v − (v·u)·u with u from the FIXED-K power iteration
    * ([[powerVec]] — fixed so the projection is a deterministic function of
    * the corpus alone). Scale: u trains on the shared [[gramOf]] census
    * (one corpus pass), then the projection is MAP-ONLY — u broadcasts as
    * a literal, no shuffle at any width; rnorm (the residual length) rides
    * along for the downstream renormalization decision.
    */
  private[graft] def whitenEmbeddings(
      e: DataFrame, iters: Int = PCA_MAX_ITERS): DataFrame = {
    val (u, _) = powerVec(gramOf(e), iters)
    e.withColumn("u", typedLit(u.toSeq))
      .withColumn("d", expr(VectorOps.dotExpr("v", "u")))
      .withColumn("vw", expr("transform(v, (x, i) -> x - d * element_at(u, i + 1))"))
      .select(col("vec_id"), col("vw"),
        expr(s"sqrt(${VectorOps.dotExpr("vw", "vw")})").as("rnorm"))
  }

  /** The registered report over [[whitenEmbeddings]], with the vector
    * SERIALIZED to the repo's output contract: scalar columns only (the
    * reference emits nothing but scalars, app.py:120-126, and the driver
    * harness's pandas sort cannot order raw array cells — the exact
    * failure CORRECTNESS_r11 recorded). vw rides the 1e-9 grid as a
    * comma-joined int string, the q_array_agg convention.
    */
  private def whitenReport(e: DataFrame): DataFrame =
    whitenEmbeddings(e)
      .select(col("vec_id"),
        expr("concat_ws(',', transform(vw, x -> CAST(round(x * 1e9) AS LONG)))")
          .as("vw_nano"),
        col("rnorm"))
      .orderBy("vec_id")

  /** Oracle twin of [[whitenReport]]: u via the unrolled fixed-K power
    * chain, then the same per-row fold-ordered projection, serialized on
    * the same nano grid.
    */
  private def whitenOracleSql(iters: Int): String =
    s"""WITH ${VectorOps.normalizedSql},
       |$gramSqlChain,
       |${powerVecSqlChain("w1", "gmat", "v0", iters)},
       |pu AS (SELECT v AS u FROM w1v$iters),
       |proj AS (SELECT vec_id,
       |    list_transform(range(1, 65), i -> v[i] - d * u[i]) AS vw
       |  FROM (SELECT e.vec_id, e.v, pu.u AS u,
       |    ${foldDotSql64("e.v", "pu.u")} AS d FROM e, pu))
       |SELECT vec_id,
       |  array_to_string(list_transform(vw,
       |    x -> CAST(round(x * 1000000000) AS BIGINT)), ',') AS vw_nano,
       |  sqrt(${foldDotSql64("vw", "vw")}) AS rnorm
       |FROM proj ORDER BY vec_id""".stripMargin

  /** Johnson-Lindenstrauss projection width / candidate depth for the RP
    * family: 16 of 64 dims (4× less compute and scan IO per comparison),
    * 50 projected-space candidates re-ranked exactly to top-10.
    */
  private val RP_DIM = 16
  private val RP_CAND = 50

  /** Deterministic ±1 JL sign matrix: sgn(r, j) = +1 iff
    * md5("rp:r:j")'s leading-32-bit int is even — the [[randomInitEdges]]
    * hash-derived-randomness discipline, so both engines derive the SAME
    * matrix from the same strings independently. Derived on the driver with
    * the JVM's own MD5 (bit-identical to `Exact.md5Int`'s leading-8-hex
    * parse — md5 is md5), never hardcoded; the Spark job this replaces was
    * one full sequential driver round-trip per RP query build.
    */
  private def rpSigns(s: SparkSession): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val m = Array.fill(RP_DIM, 64)(0.0)
    for (r <- 1 to RP_DIM; j <- 1 to 64) {
      val d = md.digest(s"rp:$r:$j".getBytes("UTF-8"))
      // leading 8 hex chars = first 4 bytes, read big-endian as in `conv`
      val v = d.take(4).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
      m(r - 1)(j - 1) = if (v % 2 == 0) 1.0 else -1.0
    }
    m
  }

  /** The corpus projected to RP_DIM dims: (vec_id, pv, pn). MAP-ONLY — each
    * sign-matrix row rides as ONE array literal into the codegen'd
    * [[graft.functions.DotProduct]] fold, so the projection is a compact
    * ~50-node expression instead of the 1024-term sum tree it replaced
    * (whose parse/analyze/codegen cost dominated the RP queries' wall time;
    * the row values are identical: graft_dot's 0.0-seeded ascending fold is
    * the oracle's own `list_reduce(list_prepend(0, ...))` order, and
    * 0.0+t₁ ≡ t₁ in IEEE so it also equals the literal sum tree).
    */
  private def rpProjected(s: SparkSession, dir: String): DataFrame = {
    val signs = rpSigns(s)
    val e = VectorOps.normalized(s, dir)
    val comps = (0 until RP_DIM).map(r => call_function("graft_dot", col("v"), typedlit(signs(r))))
    e.select(col("vec_id"), array(comps: _*).as("pv"))
      .withColumn("pn", expr(s"sqrt(${VectorOps.dotExpr("pv", "pv")})"))
  }

  /** RP top-k: generate candidates by cosine in the PROJECTED space (4×
    * cheaper per comparison — the JL trade is compute/scan reduction, not
    * candidate pruning; compose with IVF cells when pruning is needed),
    * then re-rank the RP_CAND survivors exactly in the full space.
    */
  private def rpTopk(s: SparkSession, dir: String): DataFrame = {
    val pe = rpProjected(s, dir)
    val e = VectorOps.normalized(s, dir)
    val q = broadcast(pe.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("pv").as("qpv"), col("pn").as("qpn")))
    val cw = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("cand_id"))
    val cand = pe.join(q)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        VectorOps.cosCol("qpv", "pv", "qpn", "pn").as("pcos"))
      .withColumn("rn", row_number().over(cw))
      .filter(col("rn") <= RP_CAND)
      .select("q_id", "cand_id")
    val qe = broadcast(e.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    val rw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    cand
      .join(e.select(col("vec_id").as("cand_id"), col("v"), col("nrm")), "cand_id")
      .join(qe, "q_id")
      .select(col("q_id"), col("cand_id"),
        VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
      .withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "cos")
      .orderBy("q_id", "rank")
  }

  /** IVF × RP — the composition the `ann_rp_topk` docs promise: IVF cells
    * PRUNE (only the nprobe probed cells' members become candidates — the
    * scan reduction RP alone cannot give), the 16-dim JL sketch SCREENS the
    * survivors (4× cheaper per comparison than full-width cosine), and the
    * screen winners re-rank exactly. The screen depth scales as a
    * CANDIDATE fraction — half the expected probed pool,
    * max(RP_CAND, n·nprobe/nseeds/2) — because a fixed depth decays as
    * cells grow, the same cliff the flat-RP curve measured
    * (`ann_rp_recall_vs_depth`: 0.41→0.12 sf0.01→sf0.1 at fixed 50).
    *
    * Measured (this corpus, mean recall@10 over the 10 queries,
    * `ann_rp_ivf_recall`; depth sweep via the same oracle): sf0.1 ivf 0.99
    * vs ivf_rp 0.39/0.70/0.89/0.93 at depth 50/125/250/300 — the shipped
    * n/8 rule lands depth 250 → 0.89, the IVF tier's ballpark at HALF the
    * full-width candidate fetches; sf0.01 (depth floor 62) ivf 0.90 /
    * ivf_rp 0.77. The deep-screen requirement is the structureless-corpus
    * worst case: a 16-dim JL projection of uniform random 64-dim vectors
    * barely separates near ties (the PQ-recall caveat, PQ_C note), so the
    * screen must keep half the pool; clustered real embeddings rank far
    * better in projected space and run much shallower. What survives at
    * ANY depth: the screening pass reads 16-dim sketch rows (¼ the scan
    * bytes — at scale the probed cells read as the PERSISTED sketch,
    * writeRpSketch partitioned the writeIvfIndex way) and only screen
    * survivors fetch full vectors via a pushed In-list.
    */
  private def rpIvfTopk(s: SparkSession, dir: String): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    val seeds = seedSet(e)
    val assign = assignToSeeds(e, seeds).select("vec_id", "seed_id")
    val pe = rpProjected(s, dir)
    val q = e.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pw = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("seed_id"))
    val probes = q.join(seeds)
      .select(col("q_id"), col("seed_id"),
        VectorOps.cosCol("qv", "sv", "qn", "sn").as("pcos"))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= N_PROBE)
      .select("q_id", "seed_id")
    val cand = probes.join(assign, "seed_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val qp = broadcast(pe.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("pv").as("qpv"), col("pn").as("qpn")))
    // CANDIDATE-FRACTION screen depth: a fixed depth decays as cells grow
    // (measured 0.71→0.39 mean recall@10 sf0.01→sf0.1 at depth 50), so the
    // screen keeps HALF the expected probed-candidate pool
    // (n·nprobe/nseeds/2, floor RP_CAND) — the fraction the measured depth
    // curve at rpIvfTopk's doc says this structureless corpus needs to hold
    // the IVF tier's ballpark; clustered real corpora run much shallower.
    // One count() action: a column-less scan, cheap against any later pass,
    // and the depth literal keeps the screen a static window filter.
    val depth = math.max(RP_CAND.toLong,
      e.count() * N_PROBE / N_SEEDS / 2L)
    val sw = Window.partitionBy("q_id").orderBy(col("scos").desc, col("cand_id"))
    val surv = cand.join(pe, "vec_id")
      .join(qp, "q_id")
      .select(col("q_id"), col("vec_id").as("cand_id"),
        VectorOps.cosCol("qpv", "pv", "qpn", "pn").as("scos"))
      .withColumn("rn", row_number().over(sw))
      .filter(col("rn") <= depth)
      .select("q_id", "cand_id")
    val qe = broadcast(e.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    val rw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    surv.join(e.select(col("vec_id").as("cand_id"), col("v"), col("nrm")), "cand_id")
      .join(qe, "q_id")
      .select(col("q_id"), col("cand_id"),
        VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
      .withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "cos")
  }

  /** Oracle chain for the IVF candidate stage ending in `cand`
    * (q_id, cand_id) — the seeds → assignment → probes → probed-cell
    * members pipeline every IVF-composed oracle splices (identical CTEs to
    * the standalone `ann_ivf_topk` oracle).
    */
  private def ivfCandSqlChain: String =
    s"""seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
       |assign0 AS (SELECT e.vec_id, seeds.seed_id,
       |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    ${VectorOps.cosSql("e.v", "seeds.sv", "e.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
       |  FROM e CROSS JOIN seeds),
       |assign AS (SELECT vec_id, seed_id FROM assign0 WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
       |probes0 AS (SELECT q.q_id, seeds.seed_id,
       |  row_number() OVER (PARTITION BY q.q_id ORDER BY
       |    ${VectorOps.cosSql("q.qv", "seeds.sv", "q.qn", "seeds.sn")} DESC, seeds.seed_id) AS rn
       |  FROM q CROSS JOIN seeds),
       |probes AS (SELECT q_id, seed_id FROM probes0 WHERE rn <= $N_PROBE),
       |cand AS (SELECT DISTINCT probes.q_id, assign.vec_id AS cand_id
       |  FROM probes JOIN assign ON probes.seed_id = assign.seed_id
       |  WHERE assign.vec_id <> probes.q_id)""".stripMargin

  /** Oracle tail shared by the rp_ivf pipelines: projected-space screen of
    * `cand` to the corpus-fraction depth max(RP_CAND, n/40), then exact
    * re-rank — ends in `rtop` (ranked).
    */
  private def rpIvfScreenSqlChain: String =
    s"""qp AS (SELECT vec_id AS q_id, pv AS qpv, pn AS qpn FROM pe WHERE vec_id < $N_QUERIES),
       |sdep AS (SELECT greatest($RP_CAND, ($countStarSql * $N_PROBE) // (${N_SEEDS} * 2)) AS depth FROM e),
       |surv AS (SELECT q_id, cand_id FROM (
       |  SELECT c.q_id, c.cand_id,
       |    row_number() OVER (PARTITION BY c.q_id ORDER BY
       |      ${VectorOps.cosSql("qp.qpv", "p.pv", "qp.qpn", "p.pn")} DESC, c.cand_id) AS rn
       |  FROM cand c JOIN pe p ON c.cand_id = p.vec_id
       |  JOIN qp ON c.q_id = qp.q_id) WHERE rn <= (SELECT depth FROM sdep)),
       |rrk2 AS (SELECT s.q_id, s.cand_id,
       |    ${VectorOps.cosSql("qe.v", "b.v", "qe.nrm", "b.nrm")} AS cos
       |  FROM surv s JOIN e b ON s.cand_id = b.vec_id
       |  JOIN (SELECT vec_id, v, nrm FROM e WHERE vec_id < $N_QUERIES) qe
       |    ON s.q_id = qe.vec_id),
       |rtop AS (SELECT q_id, cand_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
       |  FROM rrk2)""".stripMargin

  /** Persist the 16-dim JL sketch — the artifact that REALIZES the RP
    * family's scan-IO claim: the screening pass reads (vec_id, pv, pn)
    * rows at 16 doubles each instead of 64, so a 100 TB corpus's candidate
    * screen scans ~¼ the bytes, and the full-width embeddings are only
    * read for the RP_CAND survivors through a pushed In-list. Rebuild
    * whenever the corpus changes (the projection is deterministic — same
    * hash-derived matrix every time, nothing else to version).
    */
  def writeRpSketch(s: SparkSession, dir: String, path: String): Unit = {
    graft.sources.Tombstones.reset(s, path)
    rpProjected(s, dir).write.mode("overwrite").parquet(path)
  }

  /** An index component's CURRENT data directory — the build default until
    * a compaction's manifest commit redirected it (the epoch-dir swap that
    * replaced the non-object-store-safe directory renames).
    */
  private def idxData(s: SparkSession, anchor: String, default: String): String =
    graft.sources.IndexManifest.dataPath(s, anchor, default)

  /** Delete vectors from a persisted RP sketch: the probe's screening pass
    * masks them ([[rpTopkFromSketch]] — candidate side only), and
    * [[compactRpSketch]] removes the sketch rows physically. The
    * projection matrix is hash-derived and corpus-independent, so nothing
    * else needs maintenance.
    */
  def deleteFromRpSketch(s: SparkSession, path: String, vecIds: Seq[Long]): Unit =
    IndexWrite.delete(s,
      IndexWrite.Target(path, "vec_id", "deleteFromRpSketch", "compactRpSketch"), vecIds)

  /** Fold an RP sketch's tombstones in (flat rewrite + swap + clear). */
  def compactRpSketch(s: SparkSession, path: String): Unit =
    graft.sources.Tombstones.compactFlat(s, path, path, "vec_id")

  /** RP top-k served from the PERSISTED sketch: screen over the sketch
    * scan (16-dim rows only), then fetch ONLY the surviving candidates'
    * full vectors via a pushed In-list (bounded collect of
    * n_queries×RP_CAND ids — the ivfProbeIndex control-plane discipline)
    * and re-rank exactly. Pinned row-for-row equal to the inline
    * [[rpTopk]] in PartitionBucketSpec, with the In-list pushdown
    * audited.
    */
  def rpTopkFromSketch(s: SparkSession, dir: String, path: String): DataFrame = {
    import s.implicits._
    val pe = s.read.parquet(idxData(s, path, path))
    val e = VectorOps.normalized(s, dir)
    val q = broadcast(pe.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("pv").as("qpv"), col("pn").as("qpn")))
    val cw = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("cand_id"))
    // takedown mask on the CANDIDATE side only (the query rows are the
    // serving input, not corpus results): a deleted vector must not pass
    // the screen, so the depth-RP_CAND survivor set re-packs around it
    val peCand = graft.sources.Tombstones.filter(pe, path, "vec_id")
    val candRows = peCand.join(q)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        VectorOps.cosCol("qpv", "pv", "qpn", "pn").as("pcos"))
      .withColumn("rn", row_number().over(cw))
      .filter(col("rn") <= RP_CAND)
      .select("q_id", "cand_id")
      .collect()
    val candDf = broadcast(candRows.toSeq
      .map(r => (r.getLong(0), r.getLong(1))).toDF("q_id", "cand_id"))
    val candVecs = beamCandRead(e, candRows.map(_.getLong(1)).distinct.sorted.toSeq)
    val qe = broadcast(e.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    val rw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    candDf.join(candVecs, "cand_id").join(qe, "q_id")
      .select(col("q_id"), col("cand_id"),
        VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
      .withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "cos")
      .orderBy("q_id", "rank")
  }

  /** Oracle chain for the RP projection ending in `pe` (vec_id, pv, pn) —
    * signs derived from the same md5 strings, components the same
    * sequential fold.
    */
  private def rpSqlChain: String =
    s"""rp AS (SELECT rr.r AS r, jj.j AS j,
       |  CASE WHEN (${graft.functions.Exact.md5IntSql(
             "concat('rp:', CAST(rr.r AS VARCHAR), ':', CAST(jj.j AS VARCHAR))")}) % 2 = 0
       |    THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS sgn
       |  FROM (SELECT unnest(range(1, ${RP_DIM + 1})) AS r) rr
       |  CROSS JOIN (SELECT unnest(range(1, 65)) AS j) jj),
       |rpl AS (SELECT r, list(sgn ORDER BY j) AS srow FROM rp GROUP BY r),
       |rmat AS (SELECT list(srow ORDER BY r) AS rm FROM rpl),
       |pe0 AS (SELECT vec_id, list_transform(range(1, ${RP_DIM + 1}), r ->
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, 65), j -> rm[r][j] * v[j])), (acc, p) -> acc + p)) AS pv
       |  FROM e, rmat),
       |pe AS (SELECT vec_id, pv,
       |  sqrt(${VectorOps.dotSql("pv", "pv")}) AS pn FROM pe0)""".stripMargin

  /** Oracle fragment: the shared grid-exact Gram census ending in `gmat`
    * (single row, list-of-lists `m` ordered by position) plus the e_0 start
    * vector `v0` — the prefix every spectral oracle splices.
    */
  private def gramSqlChain: String =
    s"""gram_pairs AS (SELECT ii.i AS i, jj.j AS j,
       |  CAST(SUM(CAST(round(v[ii.i] * v[jj.j] * 1000000000) AS BIGINT)) AS BIGINT) AS sx
       |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii
       |    CROSS JOIN (SELECT unnest(range(1, 65)) AS j) jj
       |  GROUP BY ii.i, jj.j),
       |grow AS (SELECT i, list(CAST(sx AS DOUBLE) / 1000000000 ORDER BY j) AS row
       |  FROM gram_pairs GROUP BY i),
       |gmat AS (SELECT list(row ORDER BY i) AS m FROM grow),
       |v0 AS (SELECT list_transform(range(1, 65), k ->
       |  CASE WHEN k = 1 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS v)""".stripMargin

  private def foldDotSql64(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, 65), fi -> $a[fi] * $b[fi])), (acc, p) -> acc + p)"

  /** Unrolled fixed-K power iteration over matrix CTE `matSrc` (column m)
    * starting from vector CTE `vSrc` (column v), CTE names prefixed `$pfx`.
    * Ends in `${pfx}v$iters` (the unit vector) and `${pfx}lam` (the final
    * Rayleigh quotient) — mirrors [[powerVec]] fold-for-fold.
    */
  private def powerVecSqlChain(pfx: String, matSrc: String, vSrc: String,
                               iters: Int): String = {
    val blocks = (1 to iters).map { i =>
      val prev = if (i == 1) vSrc else s"${pfx}v${i - 1}"
      s"""${pfx}it$i AS (SELECT v AS vp, list_transform(range(1, 65), r ->
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65), c -> m[r][c] * v[c])), (acc, p) -> acc + p)) AS w
         |  FROM $matSrc, $prev),
         |${pfx}st$i AS (SELECT vp, w, ${foldDotSql64("w", "w")} AS s2,
         |    ${foldDotSql64("vp", "w")} AS lambda FROM ${pfx}it$i),
         |${pfx}v$i AS (SELECT list_transform(w, x -> x / sqrt(s2)) AS v FROM ${pfx}st$i)""".stripMargin
    }.mkString(",\n")
    s"""$blocks,
       |${pfx}lam AS (SELECT lambda FROM ${pfx}st$iters)""".stripMargin
  }

  /** Oracle twin of [[pcaDeflate]]: per component, a fixed-K unrolled power
    * chain on the current matrix, then a deflation CTE building the next
    * matrix cell-by-cell with the same left-assoc arithmetic.
    */
  private def pcaDeflateOracleSql(nComponents: Int, iters: Int): String = {
    val comps = (1 to nComponents).map { c =>
      val mat = if (c == 1) "gmat" else s"m${c - 1}"
      val defl =
        if (c == nComponents) "" // last component needs no residual matrix
        else
          s""",
             |m$c AS (SELECT list_transform(range(1, 65), i ->
             |    list_transform(range(1, 65), j -> m[i][j] - lambda * u[i] * u[j])) AS m
             |  FROM (SELECT g.m AS m, l.lambda AS lambda, uv.v AS u
             |        FROM $mat g, c${c}lam l, c${c}v$iters uv))""".stripMargin
      s"""${powerVecSqlChain(s"c$c", mat, "v0", iters)}$defl"""
    }.mkString(",\n")
    val rows = (1 to nComponents).map { c =>
      s"SELECT $c AS component, (SELECT lambda FROM c${c}lam) AS lambda"
    }.mkString(" UNION ALL ")
    s"""WITH ${VectorOps.normalizedSql},
       |$gramSqlChain,
       |tr AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(range(1, 65), i -> m[i][i])), (acc, p) -> acc + p) AS trace
       |  FROM gmat),
       |$comps,
       |spec AS ($rows)
       |SELECT CAST(component AS BIGINT) AS component, lambda,
       |  CAST(round(lambda / trace * 1000000) AS BIGINT) AS var_pct_micro
       |FROM spec, tr ORDER BY component""".stripMargin
  }

  /** NN-Descent iteration budget for [[nnDescentTrain]]. Tolerance 0: the
    * loop stops only at an exact fixed point (no top-3 edge changed) —
    * which is reachable, because the TRUE k-NN graph is a fixed point of
    * [[refineKnn]] (the candidate pool always contains the current top-3,
    * and exact re-ranking can't beat exact neighbors), so once an
    * iteration lands on the truth the next one measures zero change.
    */
  private val NND_MAX_ITERS = 3

  /** The NN-Descent convergence loop — the graph twin of [[kmeansTrain]]:
    * iterate [[refineKnn]] up to K rounds, measure per round how many
    * directed top-3 edges CHANGED (new graph anti-join previous graph —
    * a 3n-row join, never corpus-quadratic), early-stop at an exact fixed
    * point. Round 1 starts from the cell-scoped seed graph ∪ the
    * deterministic random init; later rounds consume the previous graph
    * alone (random init is a START state only, per the published
    * algorithm — the ann_knn_refine_recall discipline). Each round's graph
    * goes through [[DedupQueries.reliableCheckpoint]] — the graph is
    * corpus-sized (no collecting, unlike k-means' centroid state), and a
    * checkpoint TRUNCATES the logical plan per round (refineKnn references
    * its input from several join branches, so chained iterations otherwise
    * grow the plan exponentially — the NnDescentSpec explain-OOM), while
    * staying fleet-safe: durable files, not executor-local blocks, exactly
    * the label-propagation discipline dedup_clusters pins. The per-round
    * anti-join count() is the loop's one bounded action and doubles as the
    * checkpoint materializer.
    *
    * Returns one row per EXECUTED iteration: (iter, n_changed, converged).
    */
  private[graft] def nnDescentTrain(
      e: DataFrame, maxIters: Int = NND_MAX_ITERS): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val ckpt = DedupQueries.reliableCheckpoint(s)
    var prev = ckpt(knnGraphOfE(e).select("vec_id", "nbr_id"))
    Materialize.track(prev)
    var input = prev.unionByName(randomInitEdgesE(e))
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Boolean)]
    var it = 1
    var stop = false
    while (it <= maxIters && !stop) {
      val next = ckpt(refineKnn(e, input).select("vec_id", "nbr_id"))
      Materialize.track(next)
      val changed = next.join(prev, Seq("vec_id", "nbr_id"), "left_anti").count()
      val converged = changed == 0L
      out += ((it.toLong, changed, converged))
      stop = converged
      prev = next
      input = next
      it += 1
    }
    out.toSeq.toDF("iter", "n_changed", "converged").orderBy("iter")
  }

  /** Oracle twin of [[nnDescentTrain]]: refine steps unrolled to `maxIters`
    * CTE blocks (step 1 is knnRefineSqlChain's `rranked`; steps i ≥ 2 chain
    * [[knnRefineStepSql]] off the previous top-3 set), change counts as
    * anti-join cardinalities, early stop as the same prefix filter
    * [[kmeansTrainOracleSql]] uses.
    */
  private def nnDescentTrainOracleSql(maxIters: Int): String = {
    def setOf(i: Int): String = if (i == 0) "s0" else s"s$i"
    def rankedOf(i: Int): String = if (i == 1) "rranked" else s"rranked$i"
    // MATERIALIZED: each edge set feeds the next step's two-hop SELF-join
    // (two references) plus a change count — inlined, DuckDB would re-expand
    // the whole upstream chain per reference and the unrolled plan OOMs.
    val steps = (2 to maxIters).map { i =>
      s"""${knnRefineStepSql(setOf(i - 1), i.toString)},
         |s$i AS MATERIALIZED (SELECT vec_id, nbr_id FROM ${rankedOf(i)} WHERE rank <= 3)""".stripMargin
    }.mkString(",\n")
    val changes = (1 to maxIters).map { i =>
      s"""ch$i AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
         |  FROM ${setOf(i)} n LEFT JOIN ${setOf(i - 1)} p
         |    ON n.vec_id = p.vec_id AND n.nbr_id = p.nbr_id
         |  WHERE p.vec_id IS NULL)""".stripMargin
    }.mkString(",\n")
    val mvRows = (1 to maxIters)
      .map(i => s"SELECT $i AS iter, (SELECT c FROM ch$i) AS n_changed")
      .mkString(" UNION ALL ")
    s"""WITH ${VectorOps.normalizedSql},
       |$knnGraphSqlChain,
       |$knnRefineSqlChain,
       |s0 AS MATERIALIZED (SELECT vec_id, nbr_id FROM kg WHERE rank <= 3),
       |s1 AS MATERIALIZED (SELECT vec_id, nbr_id FROM rranked WHERE rank <= 3),
       |$steps,
       |$changes,
       |mv AS ($mvRows),
       |stop AS (SELECT COALESCE(MIN(iter), $maxIters) AS s FROM mv
       |  WHERE n_changed = 0)
       |SELECT CAST(iter AS BIGINT) AS iter, n_changed, n_changed = 0 AS converged
       |FROM mv WHERE iter <= (SELECT s FROM stop) ORDER BY iter""".stripMargin
  }

  /** Corpus → nearest-seed assignment: one broadcast pass, argmax cosine
    * with seed_id tiebreak — the single definition the IVF index, the cell
    * stats, and the k-means iteration all build on. Passes through EVERY
    * column of `e` (plus seed_id, scos), so metadata-carrying frames
    * (`normalizedMeta`'s label) keep their columns for filtered probes.
    */
  private[graft] def assignToSeeds(e: DataFrame, seeds: DataFrame): DataFrame = {
    val aw = Window.partitionBy("vec_id")
      .orderBy(col("scos").desc, col("seed_id"))
    val keep = e.columns.map(col).toSeq
    e.join(seeds)
      .select(keep :+ col("seed_id") :+
        VectorOps.cosCol("v", "sv", "nrm", "sn").as("scos"): _*)
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** IVF top-k per query vector (same schema as [[bruteforceTopk]]). */
  private[graft] def ivfTopk(s: SparkSession, dir: String): DataFrame =
    ivfTopkWith(s, dir, seedSet(VectorOps.normalized(s, dir)))

  /** Oracle CTE chain for the plain IVF ranking (splices after WITH, ends
    * in `ranked` (q_id, cand_id, cos, rank)) — shared by `ann_ivf_topk`
    * and the cross-modal retrieval entry, whose asset ranking IS this
    * chain joined to asset metadata.
    */
  private[graft] def ivfRankedSql: String =
    s"""${VectorOps.normalizedSql},
       |seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
       |assign0 AS (SELECT e.vec_id, e.v, e.nrm, seeds.seed_id,
       |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    ${VectorOps.cosSql("e.v", "seeds.sv", "e.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
       |  FROM e CROSS JOIN seeds),
       |assign AS (SELECT vec_id, v, nrm, seed_id FROM assign0 WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
       |probes0 AS (SELECT q.q_id, q.qv, q.qn, seeds.seed_id,
       |  row_number() OVER (PARTITION BY q.q_id ORDER BY
       |    ${VectorOps.cosSql("q.qv", "seeds.sv", "q.qn", "seeds.sn")} DESC, seeds.seed_id) AS rn
       |  FROM q CROSS JOIN seeds),
       |probes AS (SELECT q_id, qv, qn, seed_id FROM probes0 WHERE rn <= $N_PROBE),
       |cand AS (SELECT DISTINCT probes.q_id, assign.vec_id AS cand_id,
       |  ${VectorOps.cosSql("probes.qv", "assign.v", "probes.qn", "assign.nrm")} AS cos
       |  FROM probes JOIN assign ON probes.seed_id = assign.seed_id
       |  WHERE assign.vec_id <> probes.q_id),
       |ranked AS (SELECT q_id, cand_id, cos,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
       |  FROM cand)""".stripMargin

  /** The ANN suite's fixed query/result sizes, shared with the cross-modal
    * composition (same convention: query q's vector is vec_id == q_id).
    */
  private[graft] def nQueries: Int = N_QUERIES
  private[graft] def topK: Int = TOP_K
  private[graft] def nProbe: Int = N_PROBE

  /** The semantic decontaminator's eval set: the vec_id % 10 == 0 slice of
    * the corpus embeddings (the pipeline_decontaminate bench-slice
    * convention), broadcast — eval suites are small by definition.
    */
  private[graft] def decontamEvalSet(s: SparkSession, dir: String): DataFrame =
    broadcast(VectorOps.normalized(s, dir).filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("eval_vec_id"), col("v").as("ev"), col("nrm").as("en")))

  /** Per-training-vector contamination verdicts against a broadcast eval
    * set: (train_vec_id, eval_vec_id, max_cos, flagged) — max cosine, its
    * argmax eval item (ties → lowest id), τ=0.45 flag as 0/1. Shared by
    * the registered `pipeline_decontaminate_semantic` (which ranks the
    * top-100 review queue) and the streaming twin
    * ([[graft.streaming.EmbeddingsStream.runSemanticDecontam]] — a stream
    * has no global rank, so it emits every arriving vector's verdict;
    * per-vector independence makes the drain equal the batch scores,
    * pinned in StreamingSpec). `train` carries (vec_id, v, nrm).
    */
  private[graft] def decontamVerdicts(train: DataFrame, eval: DataFrame): DataFrame = {
    val w = Window.partitionBy("train_vec_id")
      .orderBy(col("cos").desc, col("eval_vec_id"))
    train.select(col("vec_id").as("train_vec_id"), col("v"), col("nrm"))
      .join(eval)
      .select(col("train_vec_id"), col("eval_vec_id"),
        VectorOps.cosCol("v", "ev", "nrm", "en").as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("train_vec_id"), col("eval_vec_id"),
        col("cos").as("max_cos"),
        (col("cos") >= 0.45).cast("long").as("flagged"))
  }

  /** Cell-scoped decontamination verdicts — the index-scale semantics the
    * broadcast decontaminator promises for eval sets too big to broadcast:
    * the EVAL side is IVF-assigned (cells from the shared full-corpus seed
    * geometry), each train vector scores only the eval rows in its
    * N_PROBE nearest cells, and the per-train argmax/flag is computed over
    * that candidate set. The probed-cell restriction is the same recall
    * trade as every IVF probe (ann_ivf_topk vs ann_bruteforce_topk); a
    * train vector whose probed cells hold no eval rows has no verdict row
    * — correct for the top-100 review queue, which ranks the HIGHEST-risk
    * items. Registered as `pipeline_decontaminate_ivf`; the persisted-index
    * twin is [[decontamVerdictsFromIndex]].
    */
  private[graft] def decontamVerdictsIvf(s: SparkSession, dir: String): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    val seeds = seedSet(e)
    val evalAssign = assignToSeeds(e.filter(col("vec_id") % 10 === 0), seeds)
      .select(col("vec_id").as("eval_vec_id"), col("v").as("ev"),
        col("nrm").as("en"), col("seed_id"))
    decontamRankIvf(trainProbesIvf(s, dir, seeds), evalAssign)
  }

  /** The train side's N_PROBE nearest cells (train_vec_id, v, nrm,
    * seed_id) — shared by the inline entry and the persisted twin.
    */
  private def trainProbesIvf(s: SparkSession, dir: String, seeds: DataFrame): DataFrame = {
    val train = VectorOps.normalized(s, dir).filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("train_vec_id"), col("v"), col("nrm"))
    val pw = Window.partitionBy("train_vec_id").orderBy(col("pcos").desc, col("seed_id"))
    train.join(seeds)
      .select(col("train_vec_id"), col("v"), col("nrm"), col("seed_id"),
        VectorOps.cosCol("v", "sv", "nrm", "sn").as("pcos"))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= N_PROBE)
      .select("train_vec_id", "v", "nrm", "seed_id")
  }

  /** Score the (train probes × cell-mate eval rows) equi-join and keep the
    * per-train argmax + τ flag. A pair meeting in several shared cells
    * yields identical duplicate rows; the argmax window collapses them, so
    * no distinct — and therefore no extra shuffle — is needed.
    */
  private def decontamRankIvf(probes: DataFrame, evalAssign: DataFrame): DataFrame = {
    val w = Window.partitionBy("train_vec_id")
      .orderBy(col("cos").desc, col("eval_vec_id"))
    probes.join(evalAssign, "seed_id")
      .select(col("train_vec_id"), col("eval_vec_id"),
        VectorOps.cosCol("v", "ev", "nrm", "en").as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("train_vec_id"), col("eval_vec_id"),
        col("cos").as("max_cos"),
        (col("cos") >= 0.45).cast("long").as("flagged"))
  }

  /** Decontamination served from a PERSISTED eval-side IVF index (built
    * with `writeIvfIndexWhere(…, vec_id % 10 = 0)` — eval suites change
    * rarely, so a deployment encodes them once and screens every training
    * batch against the standing index). The corpus-scale TRAIN side meets
    * the eval rows through the cell equi-join only — never the
    * eval-broadcast nested loop of the inline decontaminator, and never a
    * train×eval product. Tombstone-aware (a retired eval item stops
    * flagging at the next probe); equals the registered
    * `pipeline_decontaminate_ivf` rows (pinned in PartitionBucketSpec).
    */
  def decontamVerdictsFromIndex(s: SparkSession, dir: String, path: String): DataFrame = {
    val (ns, tr) = quantizerConfigOf(s, path, N_SEEDS, false)
    val e = VectorOps.normalized(s, dir)
    val seeds = if (tr) trainedSeedSet(e, ns) else seedSet(e, ns)
    // the full base∪delta view: a buffered eval update (tombstone + delta)
    // must keep the item screening — masking its base rows without reading
    // its replacement would silently stop flagging it until the next fold
    val evalIdx = ivfVisibleAll(s, path)
      .withColumn("cell", col("cell").cast("long"))
      .select(col("vec_id").as("eval_vec_id"), col("v").as("ev"),
        col("nrm").as("en"), col("cell").as("seed_id"))
    decontamRankIvf(trainProbesIvf(s, dir, seeds), evalIdx)
  }

  /** Inline IVF top-k against an arbitrary coarse quantizer — the parity
    * reference for the trained-index serving test.
    */
  private[graft] def ivfTopkWith(
      s: SparkSession, dir: String, seeds: DataFrame,
      pred: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    // `pred` restricts the INDEXED rows only (the deletion/takedown
    // semantics: seeds — the cell geometry — and the query set still come
    // from the full embeddings table, exactly like a tombstoned index)
    val assign = assignToSeeds(e, seeds)
      .select("vec_id", "v", "nrm", "seed_id").filter(pred)
    val q = e.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pw = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("seed_id"))
    val probes = q.join(seeds)
      .select(col("q_id"), col("qv"), col("qn"), col("seed_id"),
        VectorOps.cosCol("qv", "sv", "qn", "sn").as("pcos"))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= N_PROBE)
      .select("q_id", "qv", "qn", "seed_id")
    val cand = probes.join(assign, "seed_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
      .distinct()
    val rw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    cand.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "cos")
  }

  /** Persist the IVF inverted file `partitionBy(cell)` — the 100 TB index
    * layout (SURVEY §8): the corpus-side assignment is computed ONCE and
    * written so each cell is its own partition directory, which turns every
    * later probe into a PARTITION-PRUNED scan (only the nprobe probed
    * cells' files are opened — the inverted-file scan reduction realized at
    * the storage layer, not just in the join). The index rows carry the
    * `label` metadata column so hybrid probes can push their predicate to
    * the index scan ([[ivfFilteredTopkFromIndex]]). PartitionBucketSpec
    * pins the pruning.
    */
  def writeIvfIndex(s: SparkSession, dir: String, path: String,
                    nSeeds: Int = N_SEEDS, trained: Boolean = false): Unit =
    writeIvfIndexWhere(s, dir, path, lit(true), nSeeds, trained)

  /** Build the index over a corpus subset (the bootstrap step of an
    * incremental-ingest lifecycle; seeds always come from the full corpus
    * so cell geometry is stable across later appends). `trained` swaps the
    * first-N seed grid for its one-Lloyd-iteration refinement
    * ([[trainedSeedSet]]) — probes and appends against the index must pass
    * the same flag, since the quantizer IS the cell geometry.
    */
  def writeIvfIndexWhere(
      s: SparkSession, dir: String, path: String,
      pred: org.apache.spark.sql.Column,
      nSeeds: Int = N_SEEDS, trained: Boolean = false): Unit = {
    graft.sources.Tombstones.reset(s, path)
    val e = VectorOps.normalizedMeta(s, dir)
    val seeds = if (trained) trainedSeedSet(e, nSeeds) else seedSet(e, nSeeds)
    assignToSeeds(e.filter(pred), seeds)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("seed_id").as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    writeQuantizerConfig(s, path, nSeeds, trained)
  }

  /** Sidecar path for an index's persisted quantizer config. */
  private def quantizerSidecar(path: String): String =
    path.stripSuffix("/") + "_quantizer"

  /** Persist the build's coarse-quantizer config (n_seeds, trained) beside
    * the index — the cell geometry IS this pair, so later probes/appends
    * must not have to be told it out of band (a shard index built with a
    * non-default or trained quantizer probed with the defaults would
    * silently return degraded results). One control-plane row, written
    * after the data so a reader that sees the sidecar sees the index.
    */
  private def writeQuantizerConfig(
      s: SparkSession, path: String, nSeeds: Int, trained: Boolean): Unit =
    s.range(1)
      .select(lit(nSeeds).as("n_seeds"), lit(trained).as("trained"))
      .write.mode("overwrite").parquet(quantizerSidecar(path))

  /** The quantizer config an index was BUILT with: the sidecar when
    * present (authoritative — it travels with the index like a postings
    * table's catalog bucket spec), else the caller's fallback (pre-sidecar
    * indexes and inline frames).
    */
  private[graft] def quantizerConfigOf(
      s: SparkSession, path: String,
      fallbackNSeeds: Int, fallbackTrained: Boolean): (Int, Boolean) = {
    val p = new org.apache.hadoop.fs.Path(quantizerSidecar(path))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val r = s.read.parquet(quantizerSidecar(path)).select("n_seeds", "trained").head()
      (r.getInt(0), r.getBoolean(1))
    } else (fallbackNSeeds, fallbackTrained)
  }

  /** Incremental index maintenance — the 100 TB ingest path, now ATOMIC:
    * new vectors are assigned against the index's EXISTING seed set
    * (cells never move once built) and land as an INSERT-ONLY delta batch
    * partitioned by cell through ONE manifest commit
    * ([[graft.sources.IndexWrite.insert]]) — a crashed append
    * changes nothing, no standing file is touched (as-of reads stay exact
    * across appends — the old in-place partition append had to fence them
    * with a generation bump), and probes prune delta dirs by cell exactly
    * like the base. The physical cell-append is the fold's job
    * ([[compactIvfIndex]]); probes see old + new rows identically
    * (append-parity pinned in PartitionBucketSpec). `newRows` carries the
    * embeddings schema (vec_id, embedding, label) and must be NEW ids —
    * replacements go through [[bufferIvfUpdate]]/[[updateIvfIndex]].
    */
  def appendIvfIndex(
      s: SparkSession, dir: String, path: String, newRows: DataFrame,
      nSeeds: Int = N_SEEDS, trained: Boolean = false): Unit =
    // the served id view need not be masked: a tombstoned id is refused as
    // deleted before it
    IndexWrite.insert(newRows, IndexWrite.Target(path, "vec_id", "appendIvfIndex",
        "compactIvfIndex"), None, ep => {
      val base = s.read.parquet(ep.flatMap(_.data).getOrElse(path)).select("vec_id")
      graft.sources.Tombstones.deltaFrameOf(s, ep)
        .fold(base)(d => base.unionByName(d.select("vec_id")))
    }) { (_, _, fresh) =>
      IndexWrite.Encoded(ivfRows(s, dir, path, fresh, nSeeds, trained), Seq("cell"))
    }

  /** `rows` (the embeddings schema) assigned to cells with the SAME
    * quantizer the index was built with — a trained index fed against raw
    * seeds would scatter new rows into the wrong cells (geometry is the
    * contract, as on probes). The persisted sidecar is authoritative; the
    * params are the fallback for pre-sidecar indexes.
    */
  private def ivfRows(
      s: SparkSession, dir: String, path: String, rows: DataFrame,
      nSeeds: Int, trained: Boolean): DataFrame = {
    val (ns, tr) = quantizerConfigOf(s, path, nSeeds, trained)
    val em = VectorOps.normalizedMeta(s, dir)
    val seeds = if (tr) trainedSeedSet(em, ns) else seedSet(em, ns)
    val nw = rows
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr(s"sqrt(${VectorOps.dotExpr("v", "v")})"))
    assignToSeeds(nw, seeds)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("seed_id").as("cell"))
  }

  /** Delete vectors from a persisted IVF index — the takedown path: the
    * ids land in the tombstone sidecar ([[graft.sources.Tombstones]]) and
    * every probe anti-joins them out AFTER its partition-pruned cell read
    * (broadcast anti-join — the index side never shuffles, no standing
    * file is rewritten). Cell geometry is untouched: seeds derive from the
    * embeddings table, not the index rows, so deletion never moves a cell.
    * [[compactIvfIndex]] folds the tombstones in physically; after it the
    * index equals a fresh build over the survivors (pinned in
    * TombstoneSpec).
    */
  def deleteFromIvfIndex(s: SparkSession, path: String, vecIds: Seq[Long]): Unit =
    IndexWrite.delete(s,
      IndexWrite.Target(path, "vec_id", "deleteFromIvfIndex", "compactIvfIndex"), vecIds)

  /** Replace changed vectors in a persisted IVF index — the UPDATE
    * completing the vector family's CRUD (the updateSearchIndex
    * composition): tombstone the ids, fold physically (compaction —
    * required so the anti-join cannot mask the re-appended rows), then
    * re-assign the new vectors against the index's own quantizer and
    * append into their cells (which may DIFFER from the old ones — a
    * moved embedding moves cell, exactly as a rebuild would place it;
    * pinned in TombstoneSpec). Same per-call-compaction amortization note
    * as the document-keyed updates. `newRows` carries the embeddings
    * schema (vec_id, embedding, label).
    */
  def updateIvfIndex(
      s: SparkSession, dir: String, path: String, newRows: DataFrame): Unit = {
    val ids = newRows.select("vec_id").distinct().collect().map(_.getLong(0)).toSeq
    // through the GUARDED delete: an id with an open buffered batch must
    // fail loudly here — tombstoning it directly would let the fold write
    // its stale delta rows into the compacted base and the append then
    // add the new rows beside them (both versions serving forever)
    deleteFromIvfIndex(s, path, ids)
    compactIvfIndex(s, path)
    appendIvfIndex(s, dir, path, newRows)
  }

  /** Same result as `ann_ivf_topk`, but candidates come from the PERSISTED
    * index: the probed cell ids (≤ nprobe · n_queries of them — a bounded
    * control-plane list, collected like a broadcast would be) become an
    * `isin` literal on the partition column, so the file source statically
    * prunes to the probed cells before a single corpus byte is read.
    */
  def ivfTopkFromIndex(s: SparkSession, dir: String, path: String): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    ivfProbeIndex(s, dir, path,
      e.filter(col("vec_id") < N_QUERIES).select("vec_id", "v", "nrm"))
  }

  /** The serving entry point: probe the persisted index for an ARBITRARY
    * query-vector frame (vec_id, v, nrm) — the registered probe above and
    * the streaming path ([[graft.streaming.EmbeddingsStream]]) both
    * delegate here. Per-query independence: a query's result depends only
    * on its own probes + the index, so any batching of queries (one shot,
    * micro-batches) yields identical per-query rows.
    */
  def ivfProbeIndex(
      s: SparkSession, dir: String, path: String, queries: DataFrame,
      nSeeds: Int = N_SEEDS, trained: Boolean = false): DataFrame = {
    val cand = ivfCandidates(s, dir, path, queries, nSeeds, trained)
    val rw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    cand.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "cos")
  }

  /** The persisted probe's scored candidate set (q_id, cand_id, cos) —
    * the common front half of every index-served consumer: the plain
    * top-k probe above and the banded hard-negative miner
    * ([[hardNegativesFromIndex]]) rank the SAME pruned-cell candidates,
    * only their post-score predicates differ.
    */
  private[graft] def ivfCandidates(
      s: SparkSession, dir: String, path: String, queries: DataFrame,
      nSeeds: Int = N_SEEDS, trained: Boolean = false): DataFrame =
    ivfCandidatesAt(s, dir, path, queries,
      graft.sources.IndexManifest.current(s, path), nSeeds, trained)

  /** [[ivfCandidates]] resolved against a SPECIFIC epoch — the as-of
    * read's candidate generator (the current-epoch probe is the
    * one-manifest-read special case).
    */
  private def ivfCandidatesAt(
      s: SparkSession, dir: String, path: String, queries: DataFrame,
      ep: Option[graft.sources.IndexManifest.Epoch],
      nSeeds: Int = N_SEEDS, trained: Boolean = false): DataFrame = {
    // resolve the quantizer from the index's own sidecar (params are the
    // pre-sidecar fallback) — a sharded caller probing many indexes gets
    // each one's true geometry without threading config per path
    val (ns, tr) = quantizerConfigOf(s, path, nSeeds, trained)
    val e0 = VectorOps.normalized(s, dir)
    val seeds = if (tr) trainedSeedSet(e0, ns) else seedSet(e0, ns)
    val q = queries
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pw = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("seed_id"))
    val probes = q.join(seeds)
      .select(col("q_id"), col("qv"), col("qn"), col("seed_id"),
        VectorOps.cosCol("qv", "sv", "qn", "sn").as("pcos"))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= N_PROBE)
      .select(col("q_id"), col("qv"), col("qn"), col("seed_id").as("cell"))
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val assign = ivfVisibleCellsAt(s, path, probedCells, ep)
    probes.join(assign, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
      .distinct()
  }

  /** The PROBE-VISIBLE rows of the probed cells: base index rows minus
    * tombstones (which include every buffered-update id) plus the latest
    * buffered replacement rows, both pruned to `probedCells`.
    * Partition-value inference reads small cell ids back as INT — the
    * isin literals match that type (no cast in the predicate ⇒ clean
    * static pruning on base AND delta dirs, both partitioned by cell),
    * then the column widens for the LONG probe join. Deleted vectors drop
    * after the pruned cell read: the anti-join broadcasts the (small)
    * tombstone set, so the index side still never shuffles; with no open
    * window and no deletions the plan is the bare pruned scan.
    */
  private def ivfVisibleCells(
      s: SparkSession, path: String, probedCells: Array[Long]): DataFrame =
    ivfVisibleCellsAt(s, path, probedCells,
      graft.sources.IndexManifest.current(s, path))

  private def ivfVisibleCellsAt(
      s: SparkSession, path: String, probedCells: Array[Long],
      ep: Option[graft.sources.IndexManifest.Epoch]): DataFrame = {
    def pruned(df: DataFrame) = df
      .filter(col("cell").isin(probedCells.map(c => c.toInt: Any): _*))
      .withColumn("cell", col("cell").cast("long"))
    val dataDir = ep.flatMap(_.data).getOrElse(path)
    val base = graft.sources.Tombstones.filterOf(
      pruned(s.read.parquet(dataDir)), ep, "vec_id")
    graft.sources.Tombstones.deltaLatestOf(s, ep, "vec_id") match {
      case Some(d) => base.unionByName(pruned(d).select(base.columns.map(col).toSeq: _*))
      case None    => base
    }
  }

  /** Probe the persisted IVF index AS OF a committed epoch — the vector
    * twin of `bm25TopkFromIndexAsOf` (same manifest time travel, same
    * soundness horizon: exact across delete/buffered-update epochs,
    * bounded by appends/compactions and vacuum, loud past the edge).
    */
  def ivfTopkFromIndexAsOf(
      s: SparkSession, dir: String, path: String, version: Long): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    ivfProbeIndexAsOf(s, dir, path,
      e.filter(col("vec_id") < N_QUERIES).select("vec_id", "v", "nrm"), version)
  }

  /** [[ivfProbeIndex]] AS OF a committed epoch, for an ARBITRARY query
    * frame — the as-of serving entry the cross-index consistent snapshot
    * composes ([[graft.operators.SearchQueries
    * .hybridTopkFromIndexesConsistent]] must probe the SAME query set as
    * its live twin, not this family's fixed one). Same guards and
    * horizon as [[ivfTopkFromIndexAsOf]].
    */
  def ivfProbeIndexAsOf(
      s: SparkSession, dir: String, path: String, queries: DataFrame,
      version: Long): DataFrame = {
    val ep = graft.sources.IndexManifest.at(s, path, version)
    graft.sources.IndexManifest.requireSameGeneration(s, path, ep, version)
    val cand = ivfCandidatesAt(s, dir, path,
      queries.select("vec_id", "v", "nrm"), ep)
    val rw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    cand.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "cos")
  }

  /** The probe-visible rows of ALL cells — the fold/rewrite source and
    * the unpruned serving view, resolved against ONE epoch read.
    */
  /** Materialize a committed epoch as a STANDALONE frozen IVF index — the
    * vector twin of [[graft.operators.SearchQueries.cloneSearchIndexAsOf]]
    * (same motivation: as-of dies at the generation boundary / vacuum, a
    * clone OWNS its copy of the epoch's visible rows and serves it
    * forever). The epoch's base∪delta view rewrites into the destination's
    * cell partitions, and the quantizer sidecar copies verbatim — cell
    * geometry IS the quantizer, so the clone probes identically without
    * being told the config out of band. The clone starts a clean
    * lifecycle (no manifest/tombstones). Pinned in TombstoneSpec,
    * including survival across a source compaction.
    */
  def cloneIvfIndexAsOf(
      s: SparkSession, path: String, version: Long, destPath: String): Unit = {
    val ep = graft.sources.IndexManifest.at(s, path, version)
    graft.sources.IndexManifest.requireSameGeneration(s, path, ep, version)
    graft.sources.Tombstones.reset(s, destPath)
    ivfVisibleAllAt(s, path, ep)
      .write.mode("overwrite").partitionBy("cell").parquet(destPath)
    val qs = new org.apache.hadoop.fs.Path(quantizerSidecar(path))
    if (qs.getFileSystem(s.sparkContext.hadoopConfiguration).exists(qs))
      s.read.parquet(quantizerSidecar(path))
        .write.mode("overwrite").parquet(quantizerSidecar(destPath))
  }

  private def ivfVisibleAll(s: SparkSession, path: String): DataFrame =
    ivfVisibleAllAt(s, path, graft.sources.IndexManifest.current(s, path))

  private def ivfVisibleAllAt(
      s: SparkSession, path: String,
      ep: Option[graft.sources.IndexManifest.Epoch]): DataFrame = {
    val base = graft.sources.Tombstones.filterOf(
      s.read.parquet(ep.flatMap(_.data).getOrElse(path)), ep, "vec_id")
    graft.sources.Tombstones.deltaLatestOf(s, ep, "vec_id") match {
      case Some(d) => base.unionByName(d.select(base.columns.map(col).toSeq: _*))
      case None    => base
    }
  }

  /** Buffer one vector-update batch WITHOUT compacting — the amortized
    * form of [[updateIvfIndex]]: the updated ids' tombstone masks their
    * base rows, the re-assigned replacement vectors land in a delta batch
    * partitioned by cell (so probes prune delta dirs exactly like the
    * base), and ONE manifest commit makes both visible together. A moved
    * embedding moves cell, exactly as a rebuild would place it. The fold
    * ([[compactIvfIndex]]) is the only physical rewrite of the window
    * (pinned in TombstoneSpec: N buffered batches + one fold == N eager
    * updates).
    */
  def bufferIvfUpdate(
      s: SparkSession, dir: String, path: String, newRows: DataFrame,
      nSeeds: Int = N_SEEDS, trained: Boolean = false): Unit =
    replaceIvf(s, dir, path, newRows, "bufferIvfUpdate", None, nSeeds, trained)

  /** EXACTLY-ONCE streaming ingest of one vector micro-batch — the IVF
    * twin of [[graft.operators.SearchQueries.ingestSearchBatch]] (see its
    * doc for the full fence semantics): returns false and changes NOTHING
    * when `batchId` is at or below the committed high-water mark of the
    * SAME stream lineage; refuses a different lineage loudly (a fresh
    * checkpoint restarts ids from 0 — fencing it would silently drop
    * data). Rows and (stream, mark) land in one manifest commit, so an
    * at-least-once foreachBatch replay fences cleanly — including a
    * replay arriving AFTER a fold moved the rows into the base, since
    * the mark rides through compaction. Unlike
    * [[appendIvfIndex]]'s in-place partition append, this route is
    * idempotent and atomic; probes pay the delta union arm until the
    * next [[compactIvfIndex]]. Streaming caller:
    * [[graft.streaming.EmbeddingsStream.runAnnIngest]].
    */
  def ingestIvfBatch(
      s: SparkSession, dir: String, path: String, newRows: DataFrame,
      batchId: Long, streamId: String = "default"): Boolean =
    replaceIvf(s, dir, path, newRows, "ingestIvfBatch", Some((streamId, batchId)),
      N_SEEDS, trained = false)

  /** Every IVF batch row is a replacement row, so the batch ids are the
    * row-landing set.
    */
  private def replaceIvf(
      s: SparkSession, dir: String, path: String, newRows: DataFrame, what: String,
      fence: Option[(String, Long)], nSeeds: Int, trained: Boolean): Boolean =
    IndexWrite.replace(newRows,
        IndexWrite.Target(path, "vec_id", what, "compactIvfIndex"), fence) { (_, _) =>
      IndexWrite.Encoded(ivfRows(s, dir, path, newRows, nSeeds, trained), Seq("cell"))
    }

  /** Hard-negative mining served from the PERSISTED IVF index — the
    * index-scale form `pipeline_hard_negatives` promises: candidates come
    * from the partition-pruned cell read (never a corpus scan), the τ=0.45
    * near-dup band applies AFTER scoring (the filtered-ANN discipline: a
    * predicate on an already-scored bounded list, never a new scan), and
    * the top-5 surviving negatives per query are emitted. Semantics are
    * the registered `pipeline_hard_negatives_ivf` entry's (band over the
    * IVF candidate set — the mining analogue of ann_ivf_topk's probed-cell
    * recall trade vs ann_bruteforce_topk); pinned row-identical in
    * PartitionBucketSpec, tombstone-aware like every probe.
    */
  def hardNegativesFromIndex(s: SparkSession, dir: String, path: String): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    val q = e.filter(col("vec_id") < N_QUERIES).select("vec_id", "v", "nrm")
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("neg_id"))
    ivfCandidates(s, dir, path, q)
      .select(col("q_id"), col("cand_id").as("neg_id"), col("cos"))
      .filter(col("cos") < 0.45)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "neg_id", "cos")
      .orderBy("q_id", "rank")
  }

  /** Sharded ANN serving: probe each half-corpus persisted index
    * independently and merge the shard top-ks by score — cosine needs no
    * corpus stats, so for disjoint shards with the shared full-corpus seed
    * geometry the merge is EXACTLY the single-index probe (pinned in
    * PartitionBucketSpec; see ann_sharded_topk for the argument).
    */
  def shardedIvfTopkFromIndexes(
      s: SparkSession, dir: String, paths: Seq[String]): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    val q = e.filter(col("vec_id") < N_QUERIES).select("vec_id", "v", "nrm")
    val lists = paths.map(p =>
      ivfProbeIndex(s, dir, p, q).select("q_id", "cand_id", "cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    lists.reduce(_ unionByName _)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "cos")
      .orderBy("q_id", "rank")
  }

  /** Compact an IVF index after many appends — the small-file maintenance
    * step of the ingest lifecycle: each append leaves one file per touched
    * cell, and a year of micro-batches turns probes into
    * thousands-of-tiny-files IO. Rewrite clusters each cell's rows into
    * ONE file (repartition by cell, then partitionBy — every cell's rows
    * land in a single task), written to a fresh epoch-named directory and
    * landed by ONE manifest commit that simultaneously redirects the data
    * pointer and drops the tombstone fragments — no directory rename
    * anywhere, so the swap is object-store-safe and a crash at any point
    * leaves probes on the previous (data, tombstones) pair
    * (crash-injection pinned in TombstoneSpec). Content — and therefore
    * every probe result — is unchanged (pinned in PartitionBucketSpec).
    * The rewrite is also where tombstones fold in physically: after
    * compaction the index equals a fresh build over the surviving vectors
    * (pinned in TombstoneSpec).
    */
  def compactIvfIndex(s: SparkSession, path: String): Unit =
    graft.sources.Tombstones.compactToEpochDir(s, path, path) { (_, dest, ep) =>
      // the rewrite source is the probe-visible view AT THE FOLD'S OWN
      // epoch: base minus tombstones PLUS any open update window's delta
      // batches — the fold that retires buffered updates with one
      // physical rewrite
      ivfVisibleAllAt(s, path, ep)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dest)
    }

  /** Cell-scoped top-3 neighbor graph (vec_id, rank, nbr_id, cos) — the
    * registered `ann_knn_graph` and the persisted serving form share it.
    * The assignment materializes once (both self-join sides read it).
    */
  private def knnGraphOf(s: SparkSession, dir: String): DataFrame =
    knnGraphOfE(VectorOps.normalized(s, dir))

  /** Frame-parameterized form of the seed graph build, so experiments (the
    * clustered-corpus NN-Descent measurement in NnDescentSpec) can run the
    * IDENTICAL pipeline on a synthetic embeddings frame.
    */
  private[graft] def knnGraphOfE(e: DataFrame): DataFrame =
    knnEdgesOfAssign(Materialize(
      assignToSeeds(e, seedSet(e)).select("vec_id", "v", "nrm", "seed_id")))
      .select("vec_id", "rank", "nbr_id", "cos")

  /** Top-3 same-cell edges over an already-assigned frame (vec_id, v,
    * nrm, seed_id) — the pair/rank core shared by the inline graph, the
    * persisted build, and the ingest path's touched-cell recompute.
    * Emits (vec_id, rank, nbr_id, cos, cell).
    */
  private def knnEdgesOfAssign(assign: DataFrame): DataFrame = {
    val a = assign.select(col("seed_id"), col("vec_id"),
      col("v").as("av"), col("nrm").as("an"))
    val b = assign.select(col("seed_id"), col("vec_id").as("nbr_id"),
      col("v").as("bv"), col("nrm").as("bn"))
    val pairs = a.join(b, Seq("seed_id"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"), col("seed_id").as("cell"),
        VectorOps.cosCol("av", "bv", "an", "bn").as("cos"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr_id"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("vec_id", "rank", "nbr_id", "cos", "cell")
  }

  /** The persisted seed-graph's FULL row set over `rows` under an explicit
    * (frozen) seed geometry: the top-3 edges PLUS one rank-0 MEMBERSHIP
    * SENTINEL (nbr_id = -1) for every assigned node that has no same-cell
    * peer — without it, isolated nodes would be invisible to the graph's
    * own membership reads and an ingest could never pair against them
    * (a rebuild would). Every row carries the node's `cell` so the ingest
    * path can find a touched cell's standing members from the graph scan
    * instead of re-assigning the corpus per batch. Serving reads filter
    * `nbr_id >= 0`; sentinels never surface.
    */
  private[graft] def graphIndexRowsSeeded(rows: DataFrame, seeds: DataFrame): DataFrame = {
    val assign = Materialize(
      assignToSeeds(rows, seeds).select("vec_id", "v", "nrm", "seed_id"))
    val edges = knnEdgesOfAssign(assign)
    val sentinels = assign
      .join(edges.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), lit(0L).as("rank"), lit(-1L).as("nbr_id"),
        lit(0.0).as("cos"), col("seed_id").as("cell"))
    edges.unionByName(sentinels)
  }

  /** Persist the k-NN graph for "related items" serving: built ONCE, written
    * `partitionBy(bucket)` (bucket = vec_id mod 16) so a point lookup
    * statically prunes to its bucket directory — the graph is never
    * recomputed or rescanned whole at query time. The same layout move as
    * the IVF index, applied to the derived graph.
    */
  def writeKnnGraph(s: SparkSession, dir: String, path: String,
                    buckets: Long = KNN_BUCKETS): Unit =
    writeKnnGraphWhere(s, dir, path, lit(true), buckets)

  /** As [[writeKnnGraph]] but indexing only corpus rows matching `pred`,
    * under the FULL-corpus seed geometry (the writeIvfIndexWhere
    * convention: geometry is the contract, membership is the filter) —
    * the bootstrap half of the graph-ingest lifecycle test.
    */
  def writeKnnGraphWhere(s: SparkSession, dir: String, path: String,
                         pred: org.apache.spark.sql.Column,
                         buckets: Long = KNN_BUCKETS): Unit = {
    graft.sources.Tombstones.reset(s, path)
    val e = VectorOps.normalized(s, dir)
    graphIndexRowsSeeded(e.filter(pred), seedSet(e))
      .withColumn("bucket", pmod(col("vec_id"), lit(buckets)))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
  }

  /** Persist the TRAINED serving graph — the "train once, serve many"
    * completion of the beam tier: one NN-Descent iteration over the cell
    * graph ∪ deterministic random init, stored as its UNDIRECTED closure
    * (the symmetric links HNSW inserts — see ann_graph_beam_refined_topk's
    * measured ladder), bucketed like [[writeKnnGraph]] so every
    * [[graphBeamFromIndex]] hop stays a partition-pruned In-list read.
    * Training cost is paid HERE, once; probes pay only walk cost —
    * the answer to the refined entry's inline-training bench price.
    * Same (vec_id, nbr_id, bucket) layout ⇒ the serving path is shared
    * unchanged (pinned equal to the inline refined beam in
    * PartitionBucketSpec).
    */
  def writeRefinedKnnGraph(s: SparkSession, dir: String, path: String,
                           buckets: Long = KNN_BUCKETS): Unit = {
    graft.sources.Tombstones.reset(s, path)
    val e = VectorOps.normalized(s, dir)
    val r1 = refineKnn(e, Materialize(
      knnGraphOf(s, dir).select("vec_id", "nbr_id")
        .unionByName(randomInitEdges(s, dir))))
      .select("vec_id", "nbr_id")
    r1.unionByName(
        r1.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id")))
      .distinct()
      // serving reads rank-free edge rows; rank is not meaningful on the
      // undirected closure (a reverse edge has no rank), so persist the
      // edge list alone
      .withColumn("bucket", pmod(col("vec_id"), lit(buckets)))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
  }

  /** Neighbors of `ids` from the persisted graph: bucket In-list prunes
    * partitions at the file source, vec_id filter pushes into the pruned
    * files. Equals the inline graph rows for those ids (pinned). Deleted
    * vectors never surface on EITHER side — a tombstoned id's own
    * adjacency list is suppressed, and it disappears from other vectors'
    * neighbor lists (both anti-joins broadcast the takedown set).
    */
  def knnNeighborsFromGraph(s: SparkSession, path: String, ids: Seq[Long],
                            nBuckets: Long = KNN_BUCKETS): DataFrame = {
    // ONE epoch resolution threads every arm (base, delta override,
    // tombstone masks) — the probes' one-epoch-per-operation discipline
    val ep = graft.sources.IndexManifest.current(s, path)
    val buckets = ids.map(_ % nBuckets).distinct.sorted
    def arm(df: DataFrame): DataFrame = df
      .filter(col("bucket").isin(buckets.map(b => b.toInt: Any): _*))
      .filter(col("vec_id").isin(ids.map(i => i: Any): _*))
      .select("vec_id", "rank", "nbr_id", "cos")
    val base = arm(s.read.parquet(ep.flatMap(_.data).getOrElse(path)))
    // delta-override read: a node with ingested/replacement rows serves
    // its LATEST rows only (base adjacency superseded by key, no mask
    // needed); with no open window this is the bare pruned scan
    val rows = graft.sources.Tombstones.deltaLatestOf(s, ep, "vec_id") match {
      case Some(d) =>
        base.join(broadcast(d.select("vec_id").distinct()), Seq("vec_id"), "left_anti")
          .unionByName(arm(d))
      case None => base
    }
    graft.sources.Tombstones.filterOf(
        graft.sources.Tombstones.filterOf(
          rows.filter(col("nbr_id") >= 0), ep, "vec_id"), ep, "nbr_id")
      .orderBy("vec_id", "rank")
  }

  /** Delete vectors from a persisted k-NN graph — the FreshDiskANN
    * discipline: tombstoned nodes stay NAVIGABLE (their edges keep routing
    * beam walks until compaction, preserving graph connectivity — severing
    * them eagerly would strand whole neighborhoods) but are excluded from
    * every RESULT surface: [[graphBeamFromIndex]] drops them from the
    * ranked candidates, [[knnNeighborsFromGraph]] from both lookup sides.
    * [[compactKnnGraph]] removes them physically (both endpoints). No ids
    * is a no-op, as in every other family's delete.
    */
  def deleteFromKnnGraph(s: SparkSession, path: String, vecIds: Seq[Long]): Unit =
    if (vecIds.nonEmpty) graft.sources.Tombstones.add(s, path, vecIds)

  /** Insert a batch of corpus vectors into a persisted k-NN graph WITHOUT
    * a rebuild — the FreshDiskANN insert re-expressed rebuild-EXACT under
    * the cell-scoped graph's geometry: the batch assigns against the
    * index's frozen full-corpus seed set, every TOUCHED cell recomputes
    * top-3 over (standing members ∪ batch), and the delta carries (a) the
    * new nodes' rows (or membership sentinels when a cell has no peers)
    * and (b) replacement rows for exactly the standing nodes whose top-3
    * admitted a batch node — for an INSERT, a standing node's ranking can
    * change only by admitting a new candidate, so "top-3 contains a new
    * neighbor" is the complete change test (this is why the path is
    * insert-only: a changed VECTOR could also evict itself from others'
    * lists, which only delete+fold+re-ingest reproduces). Probes serve
    * the delta by KEY OVERRIDE (a node in the open window serves only its
    * newest adjacency), so no masking fragment is needed and takedown
    * tombstones keep their result-surface-only semantics; ONE
    * [[graft.sources.IndexWrite.insert]] commit makes the
    * whole batch visible or nothing.
    *
    * SYSTEM-OF-RECORD CONTRACT: the graph stores topology, never vectors
    * — scoring always reads the embeddings table — so batch ids MUST
    * already exist there (checked loudly). The stream that feeds this
    * tails the corpus table's own append; a graph that served ids the
    * corpus cannot score would go dark at the next fold.
    */
  def bufferGraphInsert(
      s: SparkSession, dir: String, path: String, newRows: DataFrame,
      nBuckets: Long = KNN_BUCKETS): Unit =
    insertGraph(s, dir, path, newRows, "bufferGraphInsert", None, nBuckets)

  /** EXACTLY-ONCE streaming ingest of one vector micro-batch into the
    * k-NN graph — the LAST index family joins the shared fence (see
    * [[graft.operators.SearchQueries.ingestSearchBatch]] for the
    * semantics: skip a replayed `batchId` of the SAME lineage, refuse a
    * different lineage loudly, rows + fence in one atomic commit, fence
    * rides through [[compactKnnGraph]]'s fold). Streaming caller:
    * [[graft.streaming.EmbeddingsStream.runGraphIngest]].
    */
  def ingestGraphBatch(
      s: SparkSession, dir: String, path: String, newRows: DataFrame,
      batchId: Long, streamId: String = "default",
      nBuckets: Long = KNN_BUCKETS): Boolean =
    insertGraph(s, dir, path, newRows, "ingestGraphBatch", Some((streamId, batchId)),
      nBuckets)

  /** Insert-only: an id already a graph MEMBER (edge rows or sentinel)
    * would double-define its adjacency, so it is refused toward
    * delete + fold + re-ingest.
    */
  private def insertGraph(
      s: SparkSession, dir: String, path: String, newRows: DataFrame, what: String,
      fence: Option[(String, Long)], nBuckets: Long): Boolean =
    IndexWrite.insert(newRows, IndexWrite.Target(path, "vec_id", what, "compactKnnGraph"),
        fence, ep => graphRowsVisibleOf(s, ep, path)) { (_, visible, fresh) =>
      IndexWrite.Encoded(graphDelta(s, dir, visible, fresh, what, nBuckets), Seq("bucket"))
    }

  /** One insert batch's graph delta: the new nodes' rows plus replacement
    * rows for the standing nodes whose top-3 admitted a new node.
    */
  private def graphDelta(
      s: SparkSession, dir: String, visible: DataFrame, newRows: DataFrame,
      what: String, nBuckets: Long): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    // the system-of-record check: every batch id must score from the
    // corpus table (bounded id list broadcast; the corpus never shuffles)
    import s.implicits._
    val ids = newRows.select("vec_id").collect().map(_.getLong(0)).toSeq
    val inCorpus = e.select("vec_id")
      .join(broadcast(ids.toDF("vec_id")), Seq("vec_id"), "left_semi")
      .collect().map(_.getLong(0)).toSet
    val missing = ids.filterNot(inCorpus).take(5)
    require(missing.isEmpty,
      s"$what: vec_ids ${missing.mkString(",")} are not in the " +
        s"embeddings corpus under '$dir' — the graph stores topology only; " +
        "land the corpus append first (probes score from the corpus table)")
    // frozen geometry: the same full-corpus seed set the build used
    val seeds = seedSet(e)
    val nw = newRows
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr(s"sqrt(${VectorOps.dotExpr("v", "v")})"))
    val nwA = assignToSeeds(nw, seeds).select("vec_id", "v", "nrm", "seed_id")
    // touched cells — bounded by the batch (≤ N_SEEDS)
    val touched = nwA.select("seed_id").distinct().collect().map(_.getLong(0)).toSeq
    // standing members of the touched cells, FROM THE GRAPH's own rows
    // (cell is a stored column — no per-batch corpus re-assignment), with
    // vectors fetched from the corpus table by membership join
    val memberCells = visible
      .filter(col("cell").isin(touched.map(c => c: Any): _*))
      .select("vec_id", "cell").distinct()
    val exA = e.join(memberCells, Seq("vec_id"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell").as("seed_id"))
    val cand = exA.withColumn("is_new", lit(false))
      .unionByName(nwA.withColumn("is_new", lit(true)))
    // touched-cell top-3 over (members ∪ batch) — the rebuild's own pair
    // computation, scoped to the cells the batch can affect
    val a = cand.select(col("seed_id"), col("vec_id"),
      col("v").as("av"), col("nrm").as("an"), col("is_new").as("a_new"))
    val b = cand.select(col("seed_id"), col("vec_id").as("nbr_id"),
      col("v").as("bv"), col("nrm").as("bn"), col("is_new").as("b_new"))
    val pairs = a.join(b, Seq("seed_id"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("a_new"), col("nbr_id"), col("b_new"),
        col("seed_id").as("cell"),
        VectorOps.cosCol("av", "bv", "an", "bn").as("cos"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr_id"))
    val top3 = pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
    // changed = every new node + every standing node whose top-3 admitted
    // a new neighbor (complete under insert-only — see the Scaladoc)
    val changedIds = top3.groupBy("vec_id")
      .agg(max(when(col("a_new") || col("b_new"), 1).otherwise(0)).as("chg"))
      .filter(col("chg") === 1).select("vec_id")
    val rows = top3.join(changedIds, Seq("vec_id"), "left_semi")
      .select("vec_id", "rank", "nbr_id", "cos", "cell")
    // isolated new nodes (no same-cell peer) get membership sentinels —
    // exactly what the build writes for them
    val sentinels = nwA
      .join(rows.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), lit(0L).as("rank"), lit(-1L).as("nbr_id"),
        lit(0.0).as("cos"), col("seed_id").as("cell"))
    rows.unionByName(sentinels)
      .withColumn("bucket", pmod(col("vec_id"), lit(nBuckets)))
  }

  /** The probe-visible rows of a persisted graph against a SPECIFIC
    * epoch: base rows overridden BY KEY with the latest delta rows (a
    * node present in the open window serves only its newest adjacency —
    * the graph family's update mechanism needs no masking fragment, so
    * takedown tombstones keep their pure result-surface semantics), and
    * sentinels ride along (callers serving edges filter `nbr_id >= 0`).
    */
  private[graft] def graphRowsVisibleOf(
      s: SparkSession, ep: Option[graft.sources.IndexManifest.Epoch],
      defaultData: String): DataFrame = {
    val base = s.read.parquet(ep.flatMap(_.data).getOrElse(defaultData))
    graft.sources.Tombstones.deltaLatestOf(s, ep, "vec_id") match {
      case Some(d) =>
        base.join(broadcast(d.select("vec_id").distinct()), Seq("vec_id"), "left_anti")
          .unionByName(d.select(base.columns.map(col).toSeq: _*))
      case None => base
    }
  }

  /** Fold a graph's tombstones AND any open ingest window in physically:
    * rewrite the visible rows (delta-overridden) without rows whose
    * EITHER endpoint is deleted (a surviving node must not list a deleted
    * neighbor; a sentinel's -1 pseudo-neighbor is never tombstoned so
    * membership rows survive their node), one file per bucket partition,
    * landed by the shared epoch-dir manifest commit (the compactIvfIndex
    * mechanics — data pointer, fragment drop, and window retirement in
    * one atom, no directory renames).
    */
  def compactKnnGraph(s: SparkSession, path: String): Unit = {
    val t = graft.sources.Tombstones
    t.compactToEpochDir(s, path, path) { (cur, dest, ep) =>
      t.filterOf(t.filterOf(graphRowsVisibleOf(s, ep, cur), ep, "vec_id"), ep, "nbr_id")
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(dest)
    }
  }

  // ---- graph-ANN serving: beam search over the k-NN graph -----------------

  /** Beam width / expansion rounds — TEST-SCALE knobs tuned like nprobe:
    * W bounds the frontier kept per query each round, B bounds the hops
    * from an entry point (W·deg bounds a round's expansion, so probe work
    * is O(B·W·deg) per query regardless of corpus size).
    */
  val BEAM_W = 4
  val BEAM_ROUNDS = 3

  /** Batched best-first search over a (vec_id, nbr_id) edge frame — the
    * HNSW/NSG serving shape (answer a NEW query by walking the graph)
    * expressed as B bounded dataflow rounds: start from exactly-scored
    * entry points, then each round (1) keep each query's top-W candidates
    * seen so far (the beam), (2) expand them one hop through the graph,
    * (3) exactly re-score the new candidates, (4) accumulate. After B
    * rounds the pool ranks to top-k. Entry points are the N_SEEDS seed
    * vectors — one per cell of the graph's build geometry, so every cell
    * is reachable even though the cell-scoped graph has no cross-cell
    * edges. Same-pair cosines are bit-identical across rounds (same fold
    * over the same doubles), so the accumulating distinct collapses
    * re-found candidates exactly.
    */
  private[graft] def graphBeamOver(
      e: DataFrame, edges: DataFrame, q: DataFrame,
      rounds: Int = BEAM_ROUNDS, beamW: Int = BEAM_W,
      entryFilter: org.apache.spark.sql.Column = col("vec_id") < N_SEEDS)
      : DataFrame = {
    // Per-round CHECKPOINT, not just persist: the candidate accumulator
    // references itself (cand = cand ∪ scored) and `edges` in every round,
    // so with plain persist the LOGICAL plan still nests per round and
    // Catalyst re-optimizes an exponentially deeper tree each time —
    // measured r11 at sf0.1 over the refined (deep-lineage) edge set:
    // rounds of 3.7/8.7/16.9 s on ~700 cached rows, pure planning cost,
    // collapsing to ~1 s flat per round once the plan is truncated.
    // reliableCheckpoint keeps it fleet-safe (durable files, the
    // dedup_clusters discipline); the count() is the forcing action.
    val ckpt = DedupQueries.reliableCheckpoint(e.sparkSession)
    // [r21 opt] no forcing count(): the lazy checkpoint truncates the plan
    // at wrap time, and the NEXT round's beam broadcast build (or the
    // caller's action after the last round) is the materializing action —
    // one fewer sequential job per round, same execution order.
    def step(df: DataFrame): DataFrame = {
      val out = ckpt(df); Materialize.track(out); out
    }
    val entries = broadcast(e.filter(entryFilter)
      .select(col("vec_id").as("cand_id"), col("v"), col("nrm")))
    var cand = step(
      q.join(entries)
        .filter(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("cand_id"),
          VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos")))
    val bw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    for (_ <- 1 to rounds) {
      // the beam is n_queries·W rows — broadcast it into the edge and
      // corpus joins explicitly: it comes off a window over a persisted
      // frame, where stats can overestimate and push AQE to shuffle both
      // sides of what should be a map-side lookup
      val beam = broadcast(cand.withColumn("rn", row_number().over(bw))
        .filter(col("rn") <= beamW).select("q_id", "cand_id"))
      val expanded = broadcast(
        beam.join(edges, beam("cand_id") === edges("vec_id"))
          .select(col("q_id"), col("nbr_id").as("cand_id"))
          .filter(col("cand_id") =!= col("q_id"))
          .distinct())
      val scored = expanded
        .join(e.select(col("vec_id").as("cand_id"), col("v"), col("nrm")), "cand_id")
        .join(q, "q_id")
        .select(col("q_id"), col("cand_id"),
          VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
      cand = step(cand.unionByName(scored).distinct())
    }
    cand.withColumn("rank", row_number().over(bw).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "cos")
  }

  /** The NN-Descent-trained UNDIRECTED edge set used by the refined and
    * kcenter-entry beam queries: one refine iteration over the cell graph
    * plus random init edges, symmetric closure, then a durable checkpoint
    * so the (refine-chain-deep) lineage doesn't re-plan every beam round
    * (see graphBeamOver's measured note).
    */
  private def refinedUndirectedEdges(s: SparkSession, dir: String): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    val r1 = refineKnn(e, Materialize(
      knnGraphOf(s, dir).select("vec_id", "nbr_id")
        .unionByName(randomInitEdges(s, dir))))
      .select("vec_id", "nbr_id")
    val edges = DedupQueries.reliableCheckpoint(s)(
      r1.unionByName(
        r1.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id")))
        .distinct())
    Materialize.track(edges)
    edges.count()
    edges
  }

  /** The registered inline form: beam search against the inline cell graph
    * for the N_QUERIES query vectors (oracle-paired; the persisted-index
    * serving twin is [[graphBeamFromIndex]], pinned equal).
    */
  private def graphBeamTopk(s: SparkSession, dir: String): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    val edges = Materialize(knnGraphOf(s, dir).select("vec_id", "nbr_id"))
    val q = broadcast(e.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    graphBeamOver(e, edges, q).orderBy("q_id", "rank")
  }

  /** The graph-ANN SERVING entry point: beam search over the PERSISTED
    * k-NN graph ([[writeKnnGraph]]) for an arbitrary query frame
    * (vec_id, v, nrm). Per round, the beam (n_queries·W rows) and its
    * one-hop expansion (≤ n_queries·W·deg rows) are bounded control-plane
    * collects — the ivfProbeIndex discipline — so each graph read prunes
    * to the beam's bucket partitions (bucket In-list → PartitionFilters)
    * with the vec_id In-list pushed into the pruned files, and each
    * embedding fetch is an In-list on the candidate ids pushed to the
    * scan: the probe reads graph buckets and candidate vectors, never the
    * whole graph or corpus (pinned in PartitionBucketSpec, equality with
    * the inline form included).
    */
  def graphBeamFromIndex(s: SparkSession, dir: String, path: String,
                         queries: DataFrame,
                         nBuckets: Long = KNN_BUCKETS): DataFrame =
    // ONE epoch resolution threads every arm (hop reads, delta override,
    // result mask) — a probe racing a commit sees one consistent epoch
    graphBeamFromIndexOf(s, dir, path, queries,
      graft.sources.IndexManifest.current(s, path), nBuckets)

  /** [[graphBeamFromIndex]] AS OF committed epoch `version` — the graph
    * joins the search/IVF time-travel set: exact across delete and
    * insert-only ingest epochs (neither touches standing files), loudly
    * bounded by the fold's generation bump and by vacuum.
    */
  def graphBeamFromIndexAsOf(s: SparkSession, dir: String, path: String,
                             queries: DataFrame, version: Long,
                             nBuckets: Long = KNN_BUCKETS): DataFrame = {
    val ep = graft.sources.IndexManifest.at(s, path, version)
    graft.sources.IndexManifest.requireSameGeneration(s, path, ep, version)
    graphBeamFromIndexOf(s, dir, path, queries, ep, nBuckets)
  }

  private def graphBeamFromIndexOf(
      s: SparkSession, dir: String, path: String, queries: DataFrame,
      ep: Option[graft.sources.IndexManifest.Epoch],
      nBuckets: Long): DataFrame = {
    import s.implicits._
    val e = VectorOps.normalized(s, dir)
    val q = broadcast(queries
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    // entry points must be MEMBERS OF THE GRAPH, not just of the vector
    // table: after a compaction folds a deleted seed-range node in, the
    // tombstone sidecar is gone and only graph membership separates it
    // from the living — an e-only entry set would resurrect it as a
    // directly-scored candidate (caught by TombstoneSpec). The membership
    // read is the same bucket-pruned In-list as a beam hop.
    // membership resolves WITHOUT the nbr_id >= 0 edge filter: a live
    // isolated seed (sole member of its cell) is present in the graph as
    // its rank-0 sentinel row ONLY — the sentinel exists precisely to
    // make such members visible, and the edge-filtered read would exclude
    // it from direct scoring forever (review-found); hops keep the
    // sentinel drop (a -1 pseudo-neighbor is not an edge to walk)
    val seedIds = (0L until N_SEEDS).toSeq
    val presentSeeds = beamHopReadOf(s, ep, path, seedIds, nBuckets,
        edgesOnly = false)
      .select("vec_id").distinct()
    val entries = broadcast(e.filter(col("vec_id") < N_SEEDS)
      .join(presentSeeds, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("cand_id"), col("v"), col("nrm")))
    var cand = Materialize(
      q.join(entries)
        .filter(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("cand_id"),
          VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos")))
    val bw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    for (_ <- 1 to BEAM_ROUNDS) {
      val beamRows = cand.withColumn("rn", row_number().over(bw))
        .filter(col("rn") <= BEAM_W).select("q_id", "cand_id").collect()
      val beamIds = beamRows.map(_.getLong(1)).distinct.sorted.toSeq
      val hop = beamHopReadOf(s, ep, path, beamIds, nBuckets)
      val beamDf = broadcast(beamRows.toSeq
        .map(r => (r.getLong(0), r.getLong(1))).toDF("q_id", "bid"))
      val expPairs = beamDf.join(hop, beamDf("bid") === hop("vec_id"))
        .select(col("q_id"), col("nbr_id").as("cand_id"))
        .filter(col("cand_id") =!= col("q_id"))
        .distinct().collect()
      val nbrIds = expPairs.map(_.getLong(1)).distinct.sorted.toSeq
      val candVecs = beamCandRead(e, nbrIds)
      val expDf = expPairs.toSeq
        .map(r => (r.getLong(0), r.getLong(1))).toDF("q_id", "cand_id")
      val scored = expDf.join(candVecs, "cand_id").join(q, "q_id")
        .select(col("q_id"), col("cand_id"),
          VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
      cand = Materialize(cand.unionByName(scored).distinct())
    }
    // deleted vectors stay navigable above (routing hops — the
    // FreshDiskANN discipline) but must not SURFACE: drop them from the
    // pool before ranking so survivor ranks stay contiguous
    graft.sources.Tombstones.filterOf(cand, ep, "cand_id")
      .withColumn("rank", row_number().over(bw).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "cos")
      .orderBy("q_id", "rank")
  }

  /** One beam hop's graph read: bucket In-list prunes partitions at the
    * file source, vec_id In-list pushes into the pruned files — the probe
    * opens only the beam's graph buckets (pinned in PartitionBucketSpec).
    * Sentinel rows (nbr_id = -1) are membership markers, not edges —
    * dropped here; the delta-override arm serves ingested/replacement
    * adjacency (same bucket pruning — delta batches are bucket-partitioned).
    */
  private[graft] def beamHopRead(s: SparkSession, path: String,
                                 beamIds: Seq[Long], nBuckets: Long): DataFrame =
    beamHopReadOf(s, graft.sources.IndexManifest.current(s, path), path,
      beamIds, nBuckets)

  private def beamHopReadOf(
      s: SparkSession, ep: Option[graft.sources.IndexManifest.Epoch],
      defaultData: String, beamIds: Seq[Long], nBuckets: Long,
      edgesOnly: Boolean = true): DataFrame = {
    val hotBuckets = beamIds.map(_ % nBuckets).distinct.sorted
    // edgesOnly = false is the MEMBERSHIP read (entry-seed resolution):
    // sentinel rows count as presence, so an isolated live node is
    // reachable as an entry even though it has no edges to walk
    def arm(df: DataFrame): DataFrame = {
      val pruned = df
        .filter(col("bucket").isin(hotBuckets.map(b => b.toInt: Any): _*))
        .filter(col("vec_id").isin(beamIds.map(i => i: Any): _*))
      (if (edgesOnly) pruned.filter(col("nbr_id") >= 0) else pruned)
        .select("vec_id", "nbr_id")
    }
    val base = arm(s.read.parquet(ep.flatMap(_.data).getOrElse(defaultData)))
    graft.sources.Tombstones.deltaLatestOf(s, ep, "vec_id") match {
      case Some(d) =>
        base.join(broadcast(d.select("vec_id").distinct()), Seq("vec_id"), "left_anti")
          .unionByName(arm(d))
      case None => base
    }
  }

  /** One beam round's candidate-vector fetch: the In-list on vec_id pushes
    * to the embeddings scan, so the probe reads candidate vectors, never
    * the corpus (pinned in PartitionBucketSpec).
    */
  private[graft] def beamCandRead(e: DataFrame, ids: Seq[Long]): DataFrame =
    e.filter(col("vec_id").isin(ids.map(i => i: Any): _*))
      .select(col("vec_id").as("cand_id"), col("v"), col("nrm"))

  /** Oracle CTE chain for the beam search: expects `e` and `kg`; unrolls
    * the B rounds as CTEs mirroring [[graphBeamOver]] exactly, ending in
    * `beamtop` (q_id, cand_id, cos, rank).
    */
  private def beamSqlChain: String = beamSqlChainFrom("kg")

  /** Beam-search oracle rounds over an arbitrary RANKED edge CTE (columns
    * vec_id, nbr_id, rank) — `kg` for the cell-scoped graph, `rranked` for
    * the NN-Descent-refined graph; `undirected` walks the symmetric closure
    * (edge ∪ reverse), the published graph-ANN serving shape. The edge set
    * is MATERIALIZED: every round's expansion references it, and inlined
    * DuckDB would re-expand the (potentially refine-chain-deep) source once
    * per round.
    */
  private def beamSqlChainFrom(
      edgeSrc: String, undirected: Boolean = false,
      entryWhere: String = s"s.vec_id < $N_SEEDS",
      beamW: Int = BEAM_W, tag: String = ""): String = {
    // `tag` suffixes every CTE name so several chains (e.g. the width
    // curve's three instantiations) coexist in one WITH clause; the
    // default empty tag keeps the historical names (beamtop, q, ...)
    val g3 =
      if (undirected)
        s"""rrsrc$tag AS MATERIALIZED (SELECT vec_id, nbr_id FROM $edgeSrc WHERE rank <= 3),
           |g3$tag AS MATERIALIZED (SELECT DISTINCT vec_id, nbr_id FROM (
           |  SELECT vec_id, nbr_id FROM rrsrc$tag
           |  UNION ALL SELECT nbr_id AS vec_id, vec_id AS nbr_id FROM rrsrc$tag))""".stripMargin
      else
        s"g3$tag AS MATERIALIZED (SELECT vec_id, nbr_id FROM $edgeSrc WHERE rank <= 3)"
    val rounds = (1 to BEAM_ROUNDS).map { r =>
      val p = r - 1
      s"""beam$tag$p AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rn
         |  FROM cand$tag$p) WHERE rn <= $beamW),
         |exp$tag$r AS (SELECT DISTINCT b.q_id, g.nbr_id AS cand_id
         |  FROM beam$tag$p b JOIN g3$tag g ON b.cand_id = g.vec_id
         |  WHERE g.nbr_id <> b.q_id),
         |sc$tag$r AS (SELECT x.q_id, x.cand_id,
         |    ${VectorOps.cosSql(s"q$tag.qv", "a.v", s"q$tag.qn", "a.nrm")} AS cos
         |  FROM exp$tag$r x JOIN e a ON x.cand_id = a.vec_id
         |  JOIN q$tag ON x.q_id = q$tag.q_id),
         |cand$tag$r AS (SELECT DISTINCT q_id, cand_id, cos FROM
         |  (SELECT * FROM cand$tag$p UNION ALL SELECT * FROM sc$tag$r))""".stripMargin
    }.mkString(",\n")
    s"""$g3,
       |q$tag AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
       |cand${tag}0 AS (SELECT q$tag.q_id, s.vec_id AS cand_id,
       |    ${VectorOps.cosSql(s"q$tag.qv", "s.v", s"q$tag.qn", "s.nrm")} AS cos
       |  FROM q$tag CROSS JOIN e s WHERE $entryWhere AND s.vec_id <> q$tag.q_id),
       |$rounds,
       |beamtop$tag AS (SELECT q_id, cand_id, cos,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
       |  FROM cand$tag$BEAM_ROUNDS)""".stripMargin
  }

  /** Oracle CTE chain for the cell-scoped graph, ending in
    * `kg` (vec_id, nbr_id, cos, rank); expects `e` and the seed convention.
    */
  private def knnGraphSqlChain: String =
    s"""seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
       |assign0 AS (SELECT e.vec_id, e.v, e.nrm, seeds.seed_id,
       |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    ${VectorOps.cosSql("e.v", "seeds.sv", "e.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
       |  FROM e CROSS JOIN seeds),
       |assign AS (SELECT vec_id, v, nrm, seed_id FROM assign0 WHERE rn = 1),
       |gpairs AS (SELECT a.vec_id, b.vec_id AS nbr_id,
       |    ${VectorOps.cosSql("a.v", "b.v", "a.nrm", "b.nrm")} AS cos
       |  FROM assign a JOIN assign b
       |    ON a.seed_id = b.seed_id AND a.vec_id <> b.vec_id),
       |kg AS (SELECT vec_id, nbr_id, cos,
       |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS BIGINT) AS rank
       |  FROM gpairs)""".stripMargin

  /** Oracle CTE chain for one NN-Descent iteration over `kg`, ending in
    * `rranked` (vec_id, nbr_id, cos, rank) — mirrors [[refineKnn]].
    */
  /** One refinement step as CTEs: undirected closure of `inEdges`, two-hop
    * candidate expansion, exact re-rank — ends in `rranked$sfx`.
    */
  private def knnRefineStepSql(inEdges: String, sfx: String): String =
    s"""und$sfx AS (SELECT DISTINCT vec_id, nbr_id FROM (
       |  SELECT vec_id, nbr_id FROM $inEdges UNION ALL SELECT nbr_id, vec_id FROM $inEdges)),
       |cand$sfx AS (SELECT DISTINCT vec_id, cand_id FROM (
       |  SELECT vec_id, nbr_id AS cand_id FROM und$sfx
       |  UNION ALL
       |  SELECT x.vec_id, y.nbr_id AS cand_id
       |  FROM und$sfx x JOIN und$sfx y ON x.nbr_id = y.vec_id
       |    WHERE x.vec_id <> y.nbr_id)),
       |rescored$sfx AS (SELECT c.vec_id, c.cand_id AS nbr_id,
       |    ${VectorOps.cosSql("a.v", "b.v", "a.nrm", "b.nrm")} AS cos
       |  FROM cand$sfx c JOIN e a ON c.vec_id = a.vec_id JOIN e b ON c.cand_id = b.vec_id),
       |rranked$sfx AS (SELECT vec_id, nbr_id, cos,
       |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS BIGINT) AS rank
       |  FROM rescored$sfx)""".stripMargin

  private def knnRefineSqlChain: String =
    s"""nv AS (SELECT $countStarSql AS n_vecs FROM e),
       |rinit AS (SELECT vec_id, nbr_id FROM (
       |  SELECT e.vec_id,
       |    ${graft.functions.Exact.md5IntSql(
             "concat(CAST(e.vec_id AS VARCHAR), ':', CAST(j.j AS VARCHAR))")} % n_vecs AS nbr_id
       |  FROM e CROSS JOIN nv CROSS JOIN (SELECT unnest([1, 2, 3]) AS j) j)
       |  WHERE vec_id <> nbr_id),
       |g AS (SELECT vec_id, nbr_id FROM kg WHERE rank <= 3
       |  UNION ALL SELECT vec_id, nbr_id FROM rinit),
       |${knnRefineStepSql("g", "")}""".stripMargin

  /** NN-Descent's random initialization, made deterministic: 3 hash-derived
    * neighbors per vector (md5(vec_id:j) mod n_vecs, self-edges dropped).
    * The cell-scoped graph alone CANNOT refine itself — its edges are
    * strictly intra-cell, so the two-hop closure never leaves the cell and
    * one iteration is the identity (measured before this init existed:
    * recall_micro 223333 → 223333). Random cross-cell edges are what give
    * the local join something to explore — exactly the published
    * algorithm's starting state.
    */
  private def randomInitEdges(s: SparkSession, dir: String): DataFrame =
    randomInitEdgesE(VectorOps.normalized(s, dir))

  private[graft] def randomInitEdgesE(e: DataFrame): DataFrame = {
    val n = e.agg(count(lit(1)).as("n_vecs"))
    e.select(col("vec_id")).crossJoin(broadcast(n))
      .select(col("vec_id"), explode(array(lit(1), lit(2), lit(3))).as("j"),
        col("n_vecs"))
      .select(col("vec_id"),
        pmod(graft.functions.Exact.md5Int(
          concat(col("vec_id").cast("string"), lit(":"), col("j").cast("string"))),
          col("n_vecs")).as("nbr_id"))
      .filter(col("vec_id") =!= col("nbr_id"))
  }

  /** One NN-Descent refinement iteration over a (vec_id, nbr_id) graph —
    * the step that lifts the cell-scoped seed graph's cross-cell recall:
    * each vector's candidate pool becomes its direct, REVERSE, and two-hop
    * neighbors (the undirected closure NN-Descent's local join explores),
    * re-scored exactly and re-ranked to top-3. Scale: the pool is bounded
    * by degree² (≤ (2·6)² + 12 per vector — never corpus-quadratic), the
    * expansion is two equi-joins on the graph edges, and the only corpus
    * touch is the embedding fetch for the bounded candidate pairs. Further
    * iterations compose by feeding the output back in; one iteration is
    * registered (`ann_knn_refine`) with its recall lift measured beside it
    * (`ann_knn_refine_recall`).
    */
  private[graft] def refineKnn(e: DataFrame, g: DataFrame): DataFrame = {
    // [r22 opt, guide §2.4/§1.2] the undirected closure is ONE exploded map
    // pass over g (both arc directions per row) instead of union+distinct of
    // two reads behind an eager Materialize: every caller hands in a cached/
    // checkpointed g, so re-reading it per join branch is a cache scan, while
    // the old distinct paid one exchange AND one sequential persist+count job
    // per refine step — the dominant cost of the iterative kNN family at the
    // measured job-latency-bound operating point (wall >> task time). Arc
    // duplicates (both directions present in g) survive into the multiset:
    // they multiply the degree-bounded two-hop join rows by ≤2× per side and
    // cannot change the candidate SET — cands.distinct() below is, and always
    // was, the semantic dedup point (scored/ranked rows are bit-identical).
    val und = g.select(explode(array(
        struct(col("vec_id"), col("nbr_id")),
        struct(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id")))).as("u"))
      .select(col("u.vec_id").as("vec_id"), col("u.nbr_id").as("nbr_id"))
    val twoHop = und.as("x").join(und.as("y"), col("x.nbr_id") === col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.nbr_id").as("cand_id"))
      .filter(col("vec_id") =!= col("cand_id"))
    // [r22 opt, guide §2.4] dedup clustered by vec_id ONLY: hash-partitioning
    // on vec_id satisfies the aggregate's (vec_id, cand_id) clustering AND
    // the rank window's vec_id requirement below, so the plan carries ONE
    // exchange from here to the ranked output (the plain distinct() keyed
    // the exchange on both columns and the window re-shuffled by vec_id —
    // one extra sequential AQE stage per refine round). Same row set; when
    // the corpus-side joins degrade to shuffles at fleet scale, AQE simply
    // re-inserts the window exchange — never wrong, locally one job fewer.
    val cands = und.select(col("vec_id"), col("nbr_id").as("cand_id"))
      .unionByName(twoHop)
      .repartition(col("vec_id"))
      .dropDuplicates("vec_id", "cand_id")
    val a = e.select(col("vec_id"), col("v").as("av"), col("nrm").as("an"))
    val b = e.select(col("vec_id").as("cand_id"), col("v").as("bv"), col("nrm").as("bn"))
    val scored = cands.join(a, "vec_id").join(b, "cand_id")
      .select(col("vec_id"), col("cand_id").as("nbr_id"),
        VectorOps.cosCol("av", "bv", "an", "bn").as("cos"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("vec_id", "rank", "nbr_id", "cos")
  }

  /** The nprobe nearest cells per query (q_id, qv, qn, seed_id) — shared by
    * the filtered probes.
    */
  private def queryProbes(e: DataFrame, seeds: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pw = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("seed_id"))
    q.join(seeds)
      .select(col("q_id"), col("qv"), col("qn"), col("seed_id"),
        VectorOps.cosCol("qv", "sv", "qn", "sn").as("pcos"))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= N_PROBE)
      .select("q_id", "qv", "qn", "seed_id")
  }

  /** The hybrid-search predicate every production vector store serves:
    * "top-k among rows WHERE <metadata>". Label 3 ≈ 10% selectivity.
    */
  private val FILTER_LABEL = 3

  /** Filtered ANN: IVF top-k restricted to corpus vectors whose label
    * matches. The predicate sits BELOW the probe: the corpus filter is on
    * the embeddings scan itself (PushedFilters — pinned in PlanAuditSpec),
    * so only survivors are assigned, joined, and ranked; the query side and
    * the seed set stay unfiltered (cells keep their unfiltered geometry, so
    * results are index-consistent). Row-count caveat by design: a query
    * whose probed cells hold fewer than k matching vectors returns fewer
    * than k rows — correct hybrid-search semantics, not data loss.
    */
  private def ivfFilteredTopk(s: SparkSession, dir: String): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    val seeds = seedSet(e)
    val corpus = VectorOps.normalizedMeta(s, dir)
      .filter(col("label") === FILTER_LABEL)
      .select("vec_id", "v", "nrm")
    val assign = assignToSeeds(corpus, seeds).select("vec_id", "v", "nrm", "seed_id")
    val probes = queryProbes(e, seeds)
    val cand = probes.join(assign, "seed_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
      .distinct()
    val rw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    cand.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "cos")
  }

  /** Filtered probe over the PERSISTED index: the label predicate pushes to
    * the index scan AND the probed-cell list partition-prunes it — the two
    * pruning layers compose, so a probe reads only matching rows of probed
    * cells (pinned in PartitionBucketSpec).
    */
  def ivfFilteredTopkFromIndex(s: SparkSession, dir: String, path: String): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    val seeds = seedSet(e)
    val probes = queryProbes(e, seeds).withColumnRenamed("seed_id", "cell")
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val assign = ivfVisibleCells(s, path, probedCells)
      .filter(col("label") === FILTER_LABEL)
    val cand = probes.join(assign, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
      .distinct()
    val rw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    cand.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "cos")
  }

  /** The fully-persisted IVF-PQ serving path — both indexes on disk, the
    * probe touching NO raw corpus vector anywhere: candidate cells
    * partition-prune the IVF index (read as (vec_id, cell) — column
    * pruning drops the stored vectors), survivors rank through the codes
    * table + codebook ADC exactly as [[pqTopkFromIndex]]. The query side
    * is the only embeddings read (vec_id < N pushed). This is the shape a
    * 100 TB deployment actually serves: both encodes ran once, at build
    * time; a probe's IO is probed-cell membership lists + narrow codes.
    * Results equal the inline `ann_ivfpq_topk` (pinned with the
    * no-raw-vector scan audit in PartitionBucketSpec).
    */
  def ivfPqTopkFromIndex(
      s: SparkSession, dir: String, ivfPath: String, pqPath: String): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    val seeds = seedSet(e)
    val probes = queryProbes(e, seeds).withColumnRenamed("seed_id", "cell")
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val members = ivfVisibleCells(s, ivfPath, probedCells)
      .select("cell", "vec_id")
    val cand = probes.select("q_id", "cell").join(members, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val dtab = queryAdcTable(s, dir, pqPath)
    // mask BOTH layers' tombstones: a takedown may have reached only one
    // of the two indexes, and either alone must suppress the vector
    val codes = graft.sources.Tombstones.filter(
      s.read.parquet(idxData(s, pqPath, s"$pqPath/codes")), pqPath, "vec_id")
    val pairs = cand
      .join(codes, "vec_id")
      .join(dtab, "q_id")
      .select(col("q_id"), col("vec_id").as("cand_id"), expr(pqAdcExpr).as("adc"))
    val rw = Window.partitionBy("q_id").orderBy(col("adc"), col("cand_id"))
    pairs.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "adc")
  }

  /** Product-quantization top-k (the third ANN family, after IVF and LSH):
    * the 64-dim space splits into 8 contiguous 8-dim subspaces; each
    * subspace gets 4 seeded centroids (subvectors of vec_id < 4 — the
    * seedSet discipline); every corpus vector is ENCODED as 8 centroid ids
    * (8 small ints ≈ 4 bytes vs 512 bytes of doubles — the compression
    * that lets a 100 TB corpus's index live in RAM); a query precomputes
    * its 8×4 asymmetric-distance table, and each candidate's distance is 8
    * table LOOKUPS (CASE on the code) instead of a 64-dim dot product.
    *
    * Determinism: squared L2 is `dot(a,a) + dot(b,b) - 2*dot(a,b)` — three
    * sequential-fold dots and one fixed arithmetic chain, bit-identical on
    * both engines (the VectorOps contract); the ADC total is written as a
    * LITERAL left-to-right sum of the 8 subspace terms, never a SQL SUM
    * over rows whose order could differ. Ties break on centroid/candidate
    * id. Scale: codes are one narrow row per vector; the 10-row distance
    * table broadcasts; nothing re-reads the raw vectors after encoding.
    */
  /** PQ code size: centroids per subspace. 8 (3 bits/code) measured
    * recall@10 ≈ 0.21 on the synthetic corpus vs 0.14 at 4 — random
    * embeddings have no cluster structure for the codebook to exploit, so
    * PQ recall is inherently modest here; the implementation (and its
    * oracle) is exact regardless. `ann_pq_trained` replaces the seeded
    * codebook with one Lloyd iteration per subspace and lifts measured
    * recall@10 to ≈ 0.30 (`ann_pq_recall` reports all variants side by
    * side); training to convergence (`ann_pq_trained_conv`) exhausts its
    * budget at 0.27 — one iteration IS the plateau on structureless data —
    * while real corpora with actual cluster structure gain more and
    * converge in 2-3 rounds (KmeansTrainSpec's clustered-subspace pin).
    */
  private val PQ_C = 8

  private def adcCase(j: Int, C: Int): String =
    s"(CASE code$j " +
      (0 until C - 1).map(c => s"WHEN $c THEN d_${j}_$c ").mkString +
      s"ELSE d_${j}_${C - 1} END)"

  /** (vec_id, ss, sv): each vector exploded into its 8 contiguous 8-dim
    * subvectors — the input of every PQ stage.
    */
  private def subvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(expr(
        "transform(sequence(0, 7), k -> named_struct('ss', k, 'sv', slice(v, k * 8 + 1, 8)))")).as("x"))
      .select(col("vec_id"), col("x.ss").as("ss"), col("x.sv").as("sv"))

  /** Seeded codebook: subvectors of the first C corpus vectors (the seedSet
    * discipline) as (ss, cid, cv).
    */
  private def seededCents(subs: DataFrame): DataFrame =
    subs.filter(col("vec_id") < PQ_C)
      .select(col("vec_id").cast("int").as("cid"), col("ss"), col("sv").as("cv"))

  private val pqDistExpr =
    "graft_dot(sv, sv) + graft_dot(cv, cv) - 2 * graft_dot(sv, cv)"

  /** One grid-exact Lloyd iteration per subspace: assign every subvector to
    * its nearest seeded centroid, recompute each centroid as the member
    * mean — the real PQ training step (`ann_kmeans_iter`'s discipline
    * applied per subspace). Exactness: member sums ride a 1e-9 integer
    * grid (double sums would be partition-order-dependent), so the trained
    * centroid components — and every distance computed from them — are
    * bit-identical on both engines. No empty cells: each seed's own
    * subvector is at distance 0 of its centroid, so every (ss, cid) keeps
    * at least one member. Scale: the C·8-row codebook broadcasts; the
    * assignment is a map pass over the corpus; the recompute shuffles
    * (ss, cid, pos)-keyed partial sums — 8·C·8 groups, nothing more.
    */
  private def trainedCents(subs: DataFrame): DataFrame = {
    val cents0 = broadcast(seededCents(subs))
    val aw = Window.partitionBy("vec_id", "ss").orderBy(col("dist"), col("cid"))
    val assigned = subs.join(cents0, "ss")
      .select(col("vec_id"), col("ss"), col("cid"), col("sv"), expr(pqDistExpr).as("dist"))
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") === 1)
    assigned
      .select(col("ss"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy("ss", "cid", "pos")
      .agg(sum(round(col("x") * 1e9).cast("long")).as("sx"), count(lit(1)).as("nd"))
      .select(col("ss"), col("cid"),
        struct(col("pos"),
          (col("sx").cast("double") / 1e9 / col("nd").cast("double")).as("cc")).as("pc"))
      .groupBy("ss", "cid")
      .agg(expr("transform(sort_array(collect_list(pc)), p -> p.cc)").as("cv"))
  }

  /** Convergence budget for [[trainedCentsConv]] — the kmeansTrain
    * tolerance (1e-3 on the nano grid) with a small iteration cap; the
    * curve on this corpus plateaus immediately (see the
    * `ann_pq_trained_conv` verdict note).
    */
  private val PQ_TRAIN_MAX_ITERS = 4
  private val PQ_TRAIN_TOL_NANO = 1000000L

  /** Per-subspace Lloyd loop TO CONVERGENCE — [[kmeansTrain]]'s discipline
    * applied to the PQ codebooks (the r11 verdict's directive 5):
    * iterate assign→recompute per subspace up to K rounds, measure movement
    * as the max per-component centroid shift on the 1e-9 grid across every
    * surviving (subspace, code) cell, stop early below `tolNano`. Codebook
    * state COLLECTS between rounds (8 subspaces × C codes × 8 dims = 512
    * doubles — control-plane sized), so K rounds keep flat lineage; each
    * round is one broadcast assignment pass (corpus never shuffles) plus
    * one (ss, cid, pos)-keyed partial-agg shuffle (8·C·8 keys). Cells that
    * lose every member drop out (standard Lloyd degeneracy — possible from
    * round 2 on, once centroids move off data points) and later rounds
    * assign against survivors only; the oracle mirrors both exactly.
    */
  private[graft] def trainedCentsConv(
      subs: DataFrame, maxIters: Int = PQ_TRAIN_MAX_ITERS,
      tolNano: Long = PQ_TRAIN_TOL_NANO): DataFrame = {
    val s = subs.sparkSession
    import s.implicits._
    trainedCentsConvSeq(subs, maxIters, tolNano).toDF("ss", "cid", "cv")
  }

  /** [[trainedCentsConv]] returning the codebook as the driver-side Seq the
    * loop already carries — the convergence-trained probe encodes against it
    * without a round-trip through a DataFrame ([[pqPartsFromDriver]]).
    */
  private def trainedCentsConvSeq(
      subs: DataFrame, maxIters: Int = PQ_TRAIN_MAX_ITERS,
      tolNano: Long = PQ_TRAIN_TOL_NANO): Seq[(Int, Int, Seq[Double])] = {
    val s = subs.sparkSession
    import s.implicits._
    def nano(x: Double): Long =
      BigDecimal(x * 1e9).setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    var cent: Seq[(Int, Int, Seq[Double])] = seededCents(subs)
      .select(col("ss"), col("cid"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSeq
    require(cent.nonEmpty,
      "trainedCentsConv: no seed subvectors (empty corpus) — nothing to train")
    var it = 1
    var stop = false
    while (it <= maxIters && !stop) {
      // [r22 opt, guide §1.2/§2.3] argmin as an AGGREGATE instead of a
      // row_number window: min(struct(dist, cid, sv)) is the window's exact
      // orderBy(dist, cid) rn=1 tie-break ((dist, cid) is unique per group,
      // so the trailing sv never participates in the comparison), computed
      // with map-side partial aggregation — no per-round sort exchange, and
      // the round's generated code is literal-free so codegen compiles once
      // across rounds (a literal-codebook map expression was measured
      // cold-slower for exactly that reason — see OPTIMIZATION_r22.md).
      val centDf = broadcast(cent.toDF("ss", "cid", "cv"))
      val next: Map[(Int, Int), Seq[Double]] = subs.join(centDf, "ss")
        .select(col("vec_id"), col("ss"), col("cid"), col("sv"),
          expr(pqDistExpr).as("dist"))
        .groupBy("vec_id", "ss")
        .agg(min(struct(col("dist"), col("cid"), col("sv"))).as("m"))
        .select(col("ss"), col("m.cid").as("cid"),
          posexplode(col("m.sv")).as(Seq("pos", "x")))
        .groupBy("ss", "cid", "pos")
        .agg(sum(round(col("x") * 1e9).cast("long")).as("sx"), count(lit(1)).as("nd"))
        .select(col("ss"), col("cid"),
          struct(col("pos"),
            (col("sx").cast("double") / 1e9 / col("nd").cast("double")).as("cc")).as("pc"))
        .groupBy("ss", "cid")
        .agg(expr("transform(sort_array(collect_list(pc)), p -> p.cc)").as("cv"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
      require(next.nonEmpty && cent.exists(c => next.contains((c._1, c._2))),
        "trainedCentsConv: no codebook cell survived the assignment round — " +
          "degenerate corpus; cannot measure movement")
      val shift = cent.iterator.collect {
        case (ss, cid, old) if next.contains((ss, cid)) =>
          old.iterator.zip(next((ss, cid)).iterator)
            .map { case (o, n) => math.abs(nano(n) - nano(o)) }.max
      }.max
      stop = shift < tolNano
      cent = next.toSeq.sortBy(_._1)
        .map { case ((ss, cid), cv) => (ss, cid, cv) }
      it += 1
    }
    cent
  }

  /** The PQ building blocks for a given codebook: (corpus codes wide table,
    * broadcast query distance-table) — shared by flat PQ, IVF-PQ, the
    * trained variant, and the persisted-index writer.
    */
  private def pqPartsFrom(subs: DataFrame, cents: DataFrame): (DataFrame, DataFrame) = {
    val S = 8; val C = PQ_C
    val dists = subs.join(broadcast(cents), "ss")
      .select(col("vec_id"), col("ss"), col("cid"), expr(pqDistExpr).as("dist"))
    // [r22 opt, guide §1.2/§2.3] per-(vec_id, ss) argmin as an AGGREGATE —
    // min(struct(dist, cid)) is exactly the old row_number window's
    // orderBy(dist, cid) rn=1 row ((dist, cid) is unique within the group),
    // but with map-side partial aggregation and no sort exchange.
    val codeCols = (0 until S).map(j =>
      max(when(col("ss") === j, col("m.cid"))).as(s"code$j"))
    val codes = dists
      .groupBy("vec_id", "ss").agg(min(struct(col("dist"), col("cid"))).as("m"))
      .groupBy("vec_id").agg(codeCols.head, codeCols.tail: _*)
    val dtabCols = for { j <- 0 until S; c <- 0 until C } yield
      max(when(col("ss") === j && col("cid") === c, col("dist"))).as(s"d_${j}_$c")
    val dtab = broadcast(dists.filter(col("vec_id") < N_QUERIES)
      .groupBy(col("vec_id").as("q_id")).agg(dtabCols.head, dtabCols.tail: _*))
    (codes, dtab)
  }


  private def pqParts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val subs = subvectors(VectorOps.normalized(s, dir).select("vec_id", "v"))
    pqPartsFrom(subs, seededCents(subs))
  }

  /** Persist the PQ index: the codes table (one NARROW row — 8 small ints —
    * per vector, the ~128× compression that is PQ's whole point) plus the
    * 64-row codebook, both written ONCE. At 100 TB this is
    * encode-once-probe-forever: later probes read codes + codebook only and
    * NEVER touch the raw embedding vectors (pinned in PartitionBucketSpec
    * — the `writeIvfIndex` precedent applied to PQ).
    */
  def writePqIndex(s: SparkSession, dir: String, path: String): Unit = {
    graft.sources.Tombstones.reset(s, path)
    val subs = subvectors(VectorOps.normalized(s, dir).select("vec_id", "v"))
    val cents = seededCents(subs)
    val (codes, _) = pqPartsFrom(subs, cents)
    cents.write.mode("overwrite").parquet(s"$path/codebook")
    codes.write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Same result as `ann_pq_topk`, but candidates come from the PERSISTED
    * index: the corpus side is the codes table (narrow ints, no vectors);
    * the query side reads ONLY the query vectors (`vec_id < N_QUERIES`
    * pushed to the embeddings scan) and builds its ADC table against the
    * persisted codebook. Parity: codebook doubles round-trip parquet
    * exactly, so every distance is bit-identical to the inline pipeline.
    */
  /** Query-side ADC distance table against a PERSISTED codebook: only the
    * query vectors are read (filter pushed), the 64-row codebook
    * broadcasts. Shared by the flat and IVF-composed from-index probes.
    */
  private def queryAdcTable(s: SparkSession, dir: String, pqPath: String): DataFrame = {
    val S = 8; val C = PQ_C
    val qsubs = subvectors(
      VectorOps.normalized(s, dir).filter(col("vec_id") < N_QUERIES).select("vec_id", "v"))
    val cents = broadcast(s.read.parquet(s"$pqPath/codebook"))
    val qdists = qsubs.join(cents, "ss")
      .select(col("vec_id"), col("ss"), col("cid"), expr(pqDistExpr).as("dist"))
    val dtabCols = for { j <- 0 until S; c <- 0 until C } yield
      max(when(col("ss") === j && col("cid") === c, col("dist"))).as(s"d_${j}_$c")
    broadcast(
      qdists.groupBy(col("vec_id").as("q_id")).agg(dtabCols.head, dtabCols.tail: _*))
  }

  def pqTopkFromIndex(s: SparkSession, dir: String, path: String): DataFrame =
    adcTopk(pqVisibleCodes(s, path), queryAdcTable(s, dir, path))

  /** The probe-visible code rows: base minus tombstones plus the latest
    * buffered/ingested batches, resolved against ONE epoch.
    */
  private def pqVisibleCodes(s: SparkSession, path: String): DataFrame =
    graft.sources.Tombstones.visibleFlat(s, path, s"$path/codes", "vec_id")

  /** EXACTLY-ONCE streaming ingest of one vector micro-batch into the PQ
    * index — encode-on-arrival: the batch encodes against the PERSISTED
    * codebook (the immutable encoding geometry — new rows never retrain
    * it, exactly as appends never move IVF cells), and the narrow code
    * rows land as a delta batch with the same one-atomic-commit
    * (rows + masking tombstone + (lineage, batch-id) fence) semantics as
    * [[ingestIvfBatch]]. Probes read base∪delta ([[pqVisibleCodes]]);
    * [[compactPqIndex]] folds the window into the codes table. At 100 TB
    * this is the arrival path of encode-once-probe-forever: per batch,
    * one encode pass over the batch against a broadcast 64-row codebook.
    */
  def ingestPqBatch(
      s: SparkSession, path: String, newRows: DataFrame,
      batchId: Long, streamId: String = "default"): Boolean =
    IndexWrite.replace(newRows, IndexWrite.Target(path, "vec_id", "ingestPqBatch",
        "compactPqIndex"), Some((streamId, batchId))) { (_, _) =>
      val subs = subvectors(newRows
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")))
      val cents = broadcast(s.read.parquet(s"$path/codebook"))
      IndexWrite.Encoded(pqPartsFrom(subs, cents)._1)
    }

  /** Delete vectors from a persisted PQ index — the takedown path for the
    * codes table: probes mask the tombstoned code rows (broadcast
    * anti-join), [[compactPqIndex]] removes them physically. The CODEBOOK
    * is untouched: it is the encoding geometry, shared by every surviving
    * code row, and remains exactly as trained (deleting rows never
    * invalidates it — the stats-under-deletion discipline's "immutable
    * encoding artifact" case).
    */
  def deleteFromPqIndex(s: SparkSession, path: String, vecIds: Seq[Long]): Unit =
    IndexWrite.delete(s,
      IndexWrite.Target(path, "vec_id", "deleteFromPqIndex", "compactPqIndex"), vecIds)

  /** Fold a PQ index's tombstones in: rewrite codes minus deleted rows,
    * atomic swap, clear the sidecar (codebook untouched).
    */
  def compactPqIndex(s: SparkSession, path: String): Unit =
    graft.sources.Tombstones.compactFlat(s, s"$path/codes", path, "vec_id")

  private def pqAdcExpr: String =
    (0 until 8).map(j => adcCase(j, PQ_C)).mkString(" + ")

  /** ADC ranking over a (codes, dtab) pair — the common tail of every flat
    * PQ variant (seeded, trained, from-index).
    */
  private def adcTopk(codes: DataFrame, dtab: DataFrame): DataFrame = {
    val pairs = codes.crossJoin(dtab) // 10-row broadcast
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"), expr(pqAdcExpr).as("adc"))
    val rw = Window.partitionBy("q_id").orderBy(col("adc"), col("cand_id"))
    pairs.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "adc")
  }

  private def pqTopk(s: SparkSession, dir: String): DataFrame = {
    val (codes, dtab) = pqParts(s, dir)
    adcTopk(codes, dtab)
  }

  /** PQ top-k with the TRAINED codebook: train (one Lloyd iteration) →
    * encode → probe, the real PQ pipeline. Two corpus passes by nature —
    * one to train, one to encode — then probes cost 8 lookups each,
    * exactly as in the seeded variant.
    */
  private def pqTrainedTopk(s: SparkSession, dir: String): DataFrame = {
    val subs = subvectors(VectorOps.normalized(s, dir).select("vec_id", "v"))
    val (codes, dtab) = pqPartsFrom(subs, trainedCents(subs))
    adcTopk(codes, dtab)
  }

  /** PQ top-k with the codebook trained TO CONVERGENCE ([[trainedCentsConv]])
    * — the full train → encode → probe pipeline.
    */
  private def pqTrainedConvTopk(s: SparkSession, dir: String): DataFrame = {
    // [r22 opt, guide §5] the subvector frame feeds every training round
    // plus the encode pass — cache it once instead of re-scanning and
    // re-exploding the corpus per round (4 rounds × scan at sf0.1; the
    // same reuse argument holds at fleet scale, MEMORY_AND_DISK spills).
    val subs = Materialize(
      subvectors(VectorOps.normalized(s, dir).select("vec_id", "v")))
    val (codes, dtab) = pqPartsFrom(subs, trainedCentsConv(subs))
    adcTopk(codes, dtab)
  }

  /** IVF-PQ: the composition every production vector store runs (FAISS's
    * default index family) — IVF's coarse quantizer prunes the corpus to
    * the nprobe nearest cells, and PQ's asymmetric distance ranks ONLY the
    * survivors: scan work is cells/nprobe-reduced AND each survivor costs 8
    * table lookups instead of a 64-dim dot. Both stages reuse the exact
    * pipelines of their standalone queries (`ann_ivf_topk`'s assignment,
    * `ann_pq_topk`'s codes + distance table), so this is pure composition —
    * the candidates are IVF's, the ordering is PQ's.
    */
  private def ivfPqTopk(s: SparkSession, dir: String): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    val seeds = seedSet(e)
    val assign = assignToSeeds(e, seeds).select("vec_id", "seed_id")
    val q = e.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pw = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("seed_id"))
    val probes = q.join(seeds)
      .select(col("q_id"), col("seed_id"),
        VectorOps.cosCol("qv", "sv", "qn", "sn").as("pcos"))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= N_PROBE)
      .select("q_id", "seed_id")
    val (codes, dtab) = pqParts(s, dir)
    val cand = probes.join(assign, "seed_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val pairs = cand
      .join(codes, "vec_id")
      .join(dtab, "q_id")
      .select(col("q_id"), col("vec_id").as("cand_id"), expr(pqAdcExpr).as("adc"))
    val rw = Window.partitionBy("q_id").orderBy(col("adc"), col("cand_id"))
    pairs.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "adc")
  }

  /** Shared DuckDB subvector CTE: (vec_id, ss, sv). */
  private val pqSubCte: String =
    """sub AS (SELECT vec_id, ss, v[(ss * 8 + 1):(ss * 8 + 8)] AS sv
      |  FROM e, (SELECT unnest(range(0, 8)) AS ss))""".stripMargin

  /** Seeded codebook CTE: `cent$sfx` straight from the first C subvectors. */
  private def pqSeedCentCte(sfx: String): String =
    s"cent$sfx AS (SELECT vec_id AS cid, ss, sv AS cv FROM sub WHERE vec_id < $PQ_C)"

  /** Trained codebook CTE chain ending in `cent$sfx`: the one-Lloyd-
    * iteration twin of [[trainedCents]] (1e-9-grid member means).
    */
  private def pqTrainedCentCte(sfx: String): String = {
    def dot(a: String, b: String) = VectorOps.dotSql(a, b)
    s"""cent0$sfx AS (SELECT vec_id AS cid, ss, sv AS cv FROM sub WHERE vec_id < $PQ_C),
       |tr0$sfx AS (SELECT sub.vec_id, sub.ss, cent0$sfx.cid, sub.sv,
       |    row_number() OVER (PARTITION BY sub.vec_id, sub.ss ORDER BY
       |      ${dot("sv", "sv")} + ${dot("cv", "cv")} - 2 * ${dot("sv", "cv")}, cid) AS rn
       |  FROM sub JOIN cent0$sfx ON sub.ss = cent0$sfx.ss),
       |trdim$sfx AS (SELECT ss, cid, unnest(range(1, 9)) AS pos, sv
       |  FROM tr0$sfx WHERE rn = 1),
       |trsum$sfx AS (SELECT ss, cid, pos,
       |    CAST(SUM(CAST(round(sv[pos] * 1000000000) AS BIGINT)) AS BIGINT) AS sx,
       |    CAST(COUNT(*) AS BIGINT) AS nd
       |  FROM trdim$sfx GROUP BY ss, cid, pos),
       |cent$sfx AS (SELECT ss, cid,
       |    list(CAST(sx AS DOUBLE) / 1000000000 / CAST(nd AS DOUBLE) ORDER BY pos) AS cv
       |  FROM trsum$sfx GROUP BY ss, cid)""".stripMargin
  }

  /** Trained-to-convergence codebook CTE chain ending in `cent$sfx`: the
    * Lloyd loop UNROLLED to `maxIters` blocks (assignment → grid-exact
    * means → nano-grid shift over surviving cells), early stop as the
    * kmeansTrainOracleSql prefix filter, and the FINAL codebook selected as
    * the stop iteration's centroid set — row-for-row the state
    * [[trainedCentsConv]] ends on. Each pcent is MATERIALIZED: it feeds
    * the next assignment, the shift join, and the final selection (three
    * references — inlined, DuckDB re-expands the whole upstream chain per
    * reference, the nnDescentTrainOracleSql lesson).
    */
  private def pqConvCentCte(sfx: String, maxIters: Int, tolNano: Long): String = {
    def dot(a: String, b: String) = VectorOps.dotSql(a, b)
    val distExpr = s"${dot("sv", "sv")} + ${dot("cv", "cv")} - 2 * ${dot("sv", "cv")}"
    val blocks = (1 to maxIters).map { i =>
      val prev = if (i == 1) s"pcent0$sfx" else s"pcent${i - 1}$sfx"
      s"""passign$i$sfx AS (SELECT vec_id, ss, cid, sv FROM (
         |  SELECT sub.vec_id, sub.ss, cid, sub.sv AS sv,
         |    row_number() OVER (PARTITION BY sub.vec_id, sub.ss ORDER BY
         |      $distExpr, cid) AS rn
         |  FROM sub JOIN $prev ON sub.ss = $prev.ss) WHERE rn = 1),
         |pdim$i$sfx AS (SELECT ss, cid, unnest(range(1, 9)) AS pos, sv
         |  FROM passign$i$sfx),
         |psum$i$sfx AS (SELECT ss, cid, pos,
         |    CAST(SUM(CAST(round(sv[pos] * 1000000000) AS BIGINT)) AS BIGINT) AS sx,
         |    CAST(COUNT(*) AS BIGINT) AS nd
         |  FROM pdim$i$sfx GROUP BY ss, cid, pos),
         |pcent$i$sfx AS MATERIALIZED (SELECT ss, cid,
         |    list(CAST(sx AS DOUBLE) / 1000000000 / CAST(nd AS DOUBLE) ORDER BY pos) AS cv
         |  FROM psum$i$sfx GROUP BY ss, cid),
         |pshift$i$sfx AS (SELECT MAX(ABS(CAST(round(n.cv[p.pos] * 1000000000) AS BIGINT)
         |    - CAST(round(o.cv[p.pos] * 1000000000) AS BIGINT))) AS mshift
         |  FROM pcent$i$sfx n JOIN $prev o ON n.ss = o.ss AND n.cid = o.cid
         |  CROSS JOIN (SELECT unnest(range(1, 9)) AS pos) p)""".stripMargin
    }.mkString(",\n")
    val mvRows = (1 to maxIters)
      .map(i => s"SELECT $i AS iter, (SELECT mshift FROM pshift$i$sfx) AS mshift")
      .mkString(" UNION ALL ")
    val tagRows = (1 to maxIters)
      .map(i => s"SELECT $i AS it, ss, cid, cv FROM pcent$i$sfx")
      .mkString(" UNION ALL ")
    s"""pcent0$sfx AS (SELECT vec_id AS cid, ss, sv AS cv FROM sub WHERE vec_id < $PQ_C),
       |$blocks,
       |pmv$sfx AS ($mvRows),
       |pstop$sfx AS (SELECT COALESCE(MIN(iter), $maxIters) AS s FROM pmv$sfx
       |  WHERE mshift < $tolNano),
       |cent$sfx AS (SELECT ss, cid, cv FROM ($tagRows)
       |  WHERE it = (SELECT s FROM pstop$sfx))""".stripMargin
  }

  /** Encode chain for a given codebook CTE: `dists$sfx` → `codes$sfx` +
    * `dtab$sfx`. `centCtes` must end by defining `cent$sfx`.
    */
  private def pqChainSql(centCtes: String, sfx: String): String = {
    val S = 8; val C = PQ_C
    def dot(a: String, b: String) = VectorOps.dotSql(a, b)
    val codeCols = (0 until S)
      .map(j => s"MAX(CASE WHEN ss = $j THEN cid END) AS code$j").mkString(", ")
    val dtabCols = (for { j <- 0 until S; c <- 0 until C } yield
      s"MAX(CASE WHEN ss = $j AND cid = $c THEN dist END) AS d_${j}_$c").mkString(", ")
    s"""$centCtes,
       |dists$sfx AS (SELECT sub.vec_id, sub.ss, cent$sfx.cid,
       |    ${dot("sv", "sv")} + ${dot("cv", "cv")} - 2 * ${dot("sv", "cv")} AS dist
       |  FROM sub JOIN cent$sfx ON sub.ss = cent$sfx.ss),
       |codes0$sfx AS (SELECT vec_id, ss, cid,
       |    row_number() OVER (PARTITION BY vec_id, ss ORDER BY dist, cid) AS rn
       |  FROM dists$sfx),
       |codes$sfx AS (SELECT vec_id, $codeCols FROM codes0$sfx WHERE rn = 1 GROUP BY vec_id),
       |dtab$sfx AS (SELECT vec_id AS q_id, $dtabCols FROM dists$sfx
       |  WHERE vec_id < $N_QUERIES GROUP BY vec_id)""".stripMargin
  }

  /** Seeded-codebook CTE chain ending in `codes` + `dtab` (PQ encode). */
  private def pqCtesSql: String =
    s"""$pqSubCte,
       |${pqChainSql(pqSeedCentCte(""), "")}""".stripMargin

  private def pqTopkSql: String = {
    val adc = (0 until 8).map(j => adcCase(j, PQ_C)).mkString(" + ")
    s"""WITH ${VectorOps.normalizedSql},
       |$pqCtesSql,
       |pairs AS (SELECT q_id, codes.vec_id AS cand_id, $adc AS adc
       |  FROM codes, dtab WHERE codes.vec_id <> q_id),
       |ranked AS (SELECT q_id, cand_id, adc,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS BIGINT) AS rank
       |  FROM pairs)
       |SELECT q_id, rank, cand_id, adc FROM ranked WHERE rank <= $TOP_K
       |ORDER BY q_id, rank""".stripMargin
  }

  private def pqTrainedTopkSql: String = {
    val adc = (0 until 8).map(j => adcCase(j, PQ_C)).mkString(" + ")
    s"""WITH ${VectorOps.normalizedSql},
       |$pqSubCte,
       |${pqChainSql(pqTrainedCentCte(""), "")},
       |pairs AS (SELECT q_id, codes.vec_id AS cand_id, $adc AS adc
       |  FROM codes, dtab WHERE codes.vec_id <> q_id),
       |ranked AS (SELECT q_id, cand_id, adc,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS BIGINT) AS rank
       |  FROM pairs)
       |SELECT q_id, rank, cand_id, adc FROM ranked WHERE rank <= $TOP_K
       |ORDER BY q_id, rank""".stripMargin
  }

  private def ivfPqTopkSql: String = {
    val adc = (0 until 8).map(j => adcCase(j, PQ_C)).mkString(" + ")
    s"""WITH ${VectorOps.normalizedSql},
       |seeds AS (SELECT vec_id AS seed_id, v AS sv0, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
       |assign0 AS (SELECT e.vec_id, seeds.seed_id,
       |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    ${VectorOps.cosSql("e.v", "seeds.sv0", "e.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
       |  FROM e CROSS JOIN seeds),
       |assign AS (SELECT vec_id, seed_id FROM assign0 WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
       |probes0 AS (SELECT q.q_id, seeds.seed_id,
       |  row_number() OVER (PARTITION BY q.q_id ORDER BY
       |    ${VectorOps.cosSql("q.qv", "seeds.sv0", "q.qn", "seeds.sn")} DESC, seeds.seed_id) AS rn
       |  FROM q CROSS JOIN seeds),
       |probes AS (SELECT q_id, seed_id FROM probes0 WHERE rn <= $N_PROBE),
       |$pqCtesSql,
       |cand AS (SELECT DISTINCT probes.q_id, assign.vec_id
       |  FROM probes JOIN assign ON probes.seed_id = assign.seed_id
       |  WHERE assign.vec_id <> probes.q_id),
       |pairs AS (SELECT cand.q_id, cand.vec_id AS cand_id, $adc AS adc
       |  FROM cand JOIN codes ON cand.vec_id = codes.vec_id
       |  JOIN dtab ON cand.q_id = dtab.q_id),
       |ranked AS (SELECT q_id, cand_id, adc,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS BIGINT) AS rank
       |  FROM pairs)
       |SELECT q_id, rank, cand_id, adc FROM ranked WHERE rank <= $TOP_K
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---- SQ8 scalar quantization -------------------------------------------
  //
  // The cheap tier of the vector-compression ladder (FAISS ScalarQuantizer /
  // Lucene int8 HNSW): one min-max range per DIMENSION, every component
  // stored as one byte — 8× smaller than float64 with no codebook to train.
  // PQ (above) compresses 128× but needs training and a 512-entry distance
  // table per query; SQ8 needs one 1-row stats record and dequantizes with
  // two flops per component. Production stores ship both; the registry now
  // does too, with the recall audit beside each.
  //
  // Exactness: quantize = floor((x - mn) * 255.0 / (mx - mn)) clamped to
  // [0, 255]; dequantize = mn + (code + 0.5) * (mx - mn) / 256.0. Both
  // engines run the identical IEEE-double op sequence, min/max are exact,
  // and ranking uses the shared sequential-fold dot — bit-identical, so the
  // DuckDB oracle replays the whole pipeline.
  //
  // 100 TB: the stats row is one pass (64-group partial agg, no data
  // shuffle), encoding is a map pass, and probes scan ONLY the byte codes —
  // an 8× IO cut on every brute-force scan, which is exactly where a flat
  // scan spends its time. writeSqIndex/sqTopkFromIndex persist the
  // encode-once-probe-forever form (pinned in PartitionBucketSpec).

  /** 1-row broadcast (mns, mxs): per-dimension corpus min/max, each a
    * DIMS-long array ordered by dimension.
    */
  private def sqStats(e: DataFrame): DataFrame =
    broadcast(
      e.select(posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
        .agg(
          expr("transform(sort_array(collect_list(struct(pos, mn))), p -> p.mn)").as("mns"),
          expr("transform(sort_array(collect_list(struct(pos, mx))), p -> p.mx)").as("mxs")))

  /** v + (mns, mxs) → int codes in [0, 255] (constant-range dims code to
    * 0). Clamped at BOTH grid edges: at build time no value falls outside
    * its own corpus min/max (the lower clamp is a no-op there, so the
    * DuckDB oracle parity is untouched), but an INGESTED value outside the
    * frozen build grid must code to the nearest edge bucket, not to a
    * negative or >255 code.
    */
  private val sqCodeExpr: String =
    "transform(v, (x, i) -> CAST(greatest(least(CASE " +
      "WHEN element_at(mxs, i + 1) = element_at(mns, i + 1) THEN 0.0D " +
      "ELSE floor((x - element_at(mns, i + 1)) * 255.0D / " +
      "(element_at(mxs, i + 1) - element_at(mns, i + 1))) END, 255.0D), 0.0D) AS INT))"

  /** cd + (mns, mxs) → dequantized doubles (bucket midpoints). */
  private val sqDeqExpr: String =
    "transform(cd, (c, i) -> element_at(mns, i + 1) + " +
      "(CAST(c AS DOUBLE) + 0.5D) * " +
      "(element_at(mxs, i + 1) - element_at(mns, i + 1)) / 256.0D)"

  /** Asymmetric ranking tail: exact query vectors against dequantized
    * corpus rows — shared by the inline query and the from-index probe.
    */
  private def sqRank(deq: DataFrame, q: DataFrame): DataFrame = {
    val pairs = deq.join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        expr(VectorOps.dotExpr("qv", "dv")).as("score"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("cand_id"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "score")
  }

  private def sqQuerySide(s: SparkSession, dir: String): DataFrame =
    broadcast(VectorOps.normalized(s, dir).filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("v").as("qv")))

  private def sqTopk(s: SparkSession, dir: String): DataFrame = {
    val e = VectorOps.normalized(s, dir).select("vec_id", "v")
    val deq = e.crossJoin(sqStats(e)) // 1-row bound
      .withColumn("cd", expr(sqCodeExpr))
      .select(col("vec_id"), expr(sqDeqExpr).as("dv"))
    sqRank(deq, sqQuerySide(s, dir))
  }

  /** Persist the SQ8 index: byte codes (one narrow row per vector) plus the
    * 1-row stats record, written once; probes never read raw vectors.
    */
  def writeSqIndex(s: SparkSession, dir: String, path: String): Unit = {
    graft.sources.Tombstones.reset(s, path)
    val e = VectorOps.normalized(s, dir).select("vec_id", "v")
    val st = sqStats(e)
    st.write.mode("overwrite").parquet(s"$path/stats")
    e.crossJoin(st).select(col("vec_id"), expr(sqCodeExpr).as("cd"))
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Same result as `ann_sq_topk` served from the persisted index: corpus
    * side reads codes + the 1-row stats only (ints round-trip exactly,
    * stats doubles round-trip parquet exactly); query side reads only the
    * query vectors with the filter pushed to the embeddings scan.
    */
  def sqTopkFromIndex(s: SparkSession, dir: String, path: String): DataFrame = {
    val st = broadcast(s.read.parquet(s"$path/stats"))
    val deq = graft.sources.Tombstones.visibleFlat(s, path, s"$path/codes", "vec_id")
      .crossJoin(st) // 1-row bound
      .select(col("vec_id"), expr(sqDeqExpr).as("dv"))
    sqRank(deq, sqQuerySide(s, dir))
  }

  /** EXACTLY-ONCE streaming ingest of one vector micro-batch into the SQ8
    * index — the scalar-quantized twin of [[ingestPqBatch]]: the batch
    * encodes against the PERSISTED 1-row (mns, mxs) grid (the immutable
    * quantization geometry — exactly the codebook argument: re-deriving
    * the grid from arriving values would silently re-interpret every
    * standing code), and the byte-code rows land as a delta batch under
    * the same one-atomic-commit fence semantics. Probes read base∪delta;
    * [[compactSqIndex]] folds the window. A batch value OUTSIDE the build
    * grid clamps exactly as the build encoder clamps at the grid edge.
    */
  def ingestSqBatch(
      s: SparkSession, path: String, newRows: DataFrame,
      batchId: Long, streamId: String = "default"): Boolean =
    IndexWrite.replace(newRows, IndexWrite.Target(path, "vec_id", "ingestSqBatch",
        "compactSqIndex"), Some((streamId, batchId))) { (_, _) =>
      val st = broadcast(s.read.parquet(s"$path/stats"))
      IndexWrite.Encoded(newRows
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .crossJoin(st)
        .select(col("vec_id"), expr(sqCodeExpr).as("cd")))
    }

  /** Delete vectors from a persisted SQ8 index. The 1-row (mns, mxs)
    * STATS are untouched — deliberately: they are the quantization GRID
    * the surviving byte codes were encoded against, not a corpus
    * statistic; shrinking them to the survivors' bounds would silently
    * re-interpret every standing code. Deletion masks rows
    * ([[sqTopkFromIndex]] anti-joins before dequantization),
    * [[compactSqIndex]] removes them physically, and the grid stays the
    * build-time one until a full rebuild re-encodes.
    */
  def deleteFromSqIndex(s: SparkSession, path: String, vecIds: Seq[Long]): Unit =
    IndexWrite.delete(s,
      IndexWrite.Target(path, "vec_id", "deleteFromSqIndex", "compactSqIndex"), vecIds)

  /** Fold an SQ index's tombstones in: rewrite codes minus deleted rows,
    * atomic swap, clear the sidecar (stats/grid untouched).
    */
  def compactSqIndex(s: SparkSession, path: String): Unit =
    graft.sources.Tombstones.compactFlat(s, s"$path/codes", path, "vec_id")

  /** IVF-SQ: the other index family every production store ships beside
    * IVF-PQ (FAISS `IVF,SQ8`) — IVF's coarse quantizer prunes the corpus
    * to the nprobe nearest cells, SQ8's asymmetric dequantized dot ranks
    * ONLY the survivors. Pure composition: the candidates are exactly
    * `ann_ivf_topk`'s, the ordering is exactly `ann_sq_topk`'s, so each
    * half is already independently oracle-verified. At scale the ranking
    * reads one byte per dimension per survivor instead of a float64 —
    * the 8× IO cut applied after the cells/nprobe scan cut.
    */
  private def ivfSqTopk(s: SparkSession, dir: String): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    val seeds = seedSet(e)
    val assign = assignToSeeds(e, seeds).select("vec_id", "seed_id")
    val q = e.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pw = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("seed_id"))
    val probes = q.join(seeds)
      .select(col("q_id"), col("seed_id"),
        VectorOps.cosCol("qv", "sv", "qn", "sn").as("pcos"))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= N_PROBE)
      .select("q_id", "seed_id")
    val base = e.select("vec_id", "v")
    val deq = base.crossJoin(sqStats(base)) // 1-row bound
      .withColumn("cd", expr(sqCodeExpr))
      .select(col("vec_id"), expr(sqDeqExpr).as("dv"))
    val cand = probes.join(assign, "seed_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val pairs = cand.join(deq, "vec_id")
      .join(broadcast(q.select("q_id", "qv")), "q_id")
      .select(col("q_id"), col("vec_id").as("cand_id"),
        expr(VectorOps.dotExpr("qv", "dv")).as("score"))
    val rw = Window.partitionBy("q_id").orderBy(col("score").desc, col("cand_id"))
    pairs.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "cand_id", "score")
  }

  /** Oracle CTEs (sqdeq): the stats → codes → dequantize chain over `e`. */
  private def sqCtesSql: String =
    s"""sqstats AS (SELECT idx.i AS pos, min(v[idx.i]) AS mn, max(v[idx.i]) AS mx
       |  FROM e CROSS JOIN (SELECT unnest(range(1, ${DIMS + 1})) AS i) idx GROUP BY 1),
       |starr AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM sqstats),
       |sqcodes AS (SELECT vec_id, list_transform(range(1, ${DIMS + 1}), i ->
       |    CAST(least(CASE WHEN mxs[i] = mns[i] THEN 0.0
       |      ELSE floor((v[i] - mns[i]) * 255.0 / (mxs[i] - mns[i])) END, 255.0) AS INT)) AS cd
       |  FROM e CROSS JOIN starr),
       |sqdeq AS (SELECT vec_id, list_transform(range(1, ${DIMS + 1}), i ->
       |    mns[i] + (CAST(cd[i] AS DOUBLE) + 0.5) * (mxs[i] - mns[i]) / 256.0) AS dv
       |  FROM sqcodes CROSS JOIN starr)""".stripMargin

  /** Top-20 LSH-bucketed near-dup pairs (vec_a, vec_b, cos) — the
    * dedup_embedding_lsh result set.
    */
  private def lshTopPairs(s: SparkSession, dir: String): DataFrame = {
    val e = VectorOps.normalized(s, dir)
    val sigExpr = (0 until 4)
      .map(p => s"CASE WHEN ${projSpark(p)} > 0 THEN '1' ELSE '0' END")
      .mkString("concat(", ", ", ")")
    val sig = e.select(col("vec_id"), col("v"), col("nrm"), expr(sigExpr).as("bucket"))
    sig.as("a")
      .join(sig.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        VectorOps.cosCol("a.v", "b.v", "a.nrm", "b.nrm").as("cos"))
      .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
      .limit(20)
  }

  // ---- greedy k-center coreset (diversity selection) -----------------------
  // Gonzalez (1985) greedy farthest-point selection — the 2-approximation
  // every coreset/diversity-sampling pipeline runs to pick K maximally
  // spread exemplars (training-data selection's complement to dedup: dedup
  // removes redundancy, k-center KEEPS the spread): seed with the lowest
  // vec_id, then K−1 rounds of "add the point farthest from every chosen
  // center". Distance is cosine distance on the 1e-9 grid,
  // d = 1e9 − round(cos·1e9) ∈ [0, 2e9] — ONE formula on both engines, so
  // the argmax (d desc, vec_id asc) is exact.
  //
  // Scale (100 TB): each round is a MAP-ONLY corpus pass — the ≤K chosen
  // centers are baked in as literal columns (the whitenEmbeddings
  // broadcast-literal discipline), the min-over-centers is a least() over
  // K codegen'd dot products, and the argmax is TakeOrdered(1) — no
  // shuffle anywhere, one bounded collect (1 row) per round. Center state
  // is K×(d+2) doubles — control-plane, the kmeansTrain discipline. The
  // oracle unrolls the identical rounds as chained CTEs (cross join e ×
  // accumulated centers → min → top-1).
  private val KCENTER_K = 6
  private val KCENTER_SENTINEL_NANO = 2000000000L

  /** Nano-grid cosine distance from the corpus row (v, nrm) to a literal
    * center: 1e9 − round(dot/(nrm·cn)·1e9). The center vector rides a
    * typedLit column `cname`; cn is its collected norm (doubles round-trip
    * the collect losslessly).
    */
  private def kcDistCol(cname: String, cn: Double)
      : org.apache.spark.sql.Column =
    lit(1000000000L) -
      round(expr(VectorOps.dotExpr("v", cname)) / (col("nrm") * lit(cn)) * lit(1e9))
        .cast("long")

  /** Greedy selection loop. Returns (curve rows (k, center_id,
    * radius_before_nano), centers (id, v, nrm) in selection order).
    * radius_before is the chosen point's min-distance to the PREVIOUS
    * centers — i.e. row k records the cover radius of the first k−1
    * centers, the monotone nonincreasing coreset-quality curve; the seed
    * row carries the 2e9 sentinel (max cosine distance, no centers yet).
    */
  /** Selection state by (corpus dir, K) — the bpeMemo discipline: the
    * curve/centers are a pure function of the immutable corpus, so the
    * coreset and assign entries share one greedy run per session. Values
    * are driver-side data only (K curve rows + K×66 doubles).
    */
  private val kcenterMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Int),
    (Seq[(Long, Long, Long)], Seq[(Long, Seq[Double], Double)])]()

  private[graft] def kcenterTrain(
      s: org.apache.spark.sql.SparkSession, dir: String, k: Int = KCENTER_K)
      : (Seq[(Long, Long, Long)], Seq[(Long, Seq[Double], Double)]) = {
    val cached = kcenterMemo.get((dir, k))
    if (cached != null) return cached
    val e = VectorOps.normalized(s, dir)
    val seedRows = e.orderBy("vec_id").limit(1)
      .select("vec_id", "v", "nrm").collect()
    // loud, not an empty fold: an empty corpus has no seed point
    require(seedRows.nonEmpty, "kcenterTrain: empty corpus — no seed point")
    val seed = (seedRows.head.getLong(0),
      seedRows.head.getSeq[Double](1), seedRows.head.getDouble(2))
    var centers = Seq(seed)
    val out = scala.collection.mutable.ListBuffer(
      (1L, seed._1, KCENTER_SENTINEL_NANO))
    for (round <- 2 to k) {
      var df = e
      centers.zipWithIndex.foreach { case ((_, cv, _), i) =>
        df = df.withColumn(s"kc$i", typedLit(cv))
      }
      val dmin = centers.zipWithIndex
        .map { case ((_, _, cn), i) => kcDistCol(s"kc$i", cn) }
        .reduce(least(_, _))
      val top = df.select(col("vec_id"), col("v"), col("nrm"), dmin.as("dmin"))
        .orderBy(col("dmin").desc, col("vec_id"))
        .limit(1).collect().head
      centers = centers :+ ((top.getLong(0), top.getSeq[Double](1), top.getDouble(2)))
      out += ((round.toLong, top.getLong(0), top.getLong(3)))
    }
    val res = (out.toSeq, centers)
    kcenterMemo.put((dir, k), res)
    res
  }

  /** Nearest-center assignment under the trained centers (ties → lowest
    * center_id, matching the oracle's `ORDER BY d, center_id`): the cover
    * report (center_id, n_members, max_radius_nano). Map-only scoring —
    * the fold keeps the running (best_d, best_id) pair per row — plus one
    * K-group aggregate.
    */
  private[graft] def kcenterAssign(
      s: org.apache.spark.sql.SparkSession, dir: String, k: Int = KCENTER_K)
      : org.apache.spark.sql.DataFrame = {
    val (_, centers) = kcenterTrain(s, dir, k)
    val e = VectorOps.normalized(s, dir)
    var df = e
    centers.zipWithIndex.foreach { case ((_, cv, _), i) =>
      df = df.withColumn(s"kc$i", typedLit(cv))
    }
    val dists = centers.zipWithIndex.map { case ((id, _, cn), i) =>
      (id, kcDistCol(s"kc$i", cn))
    }
    // lexicographic min over (d, center_id) as array_min over structs —
    // [r21 opt] the previous chained-when running min referenced each
    // level's best TWICE, so the Column tree grew ~3^k with a 64-literal
    // dot product at every leaf: ~3 s of pure driver planning/codegen per
    // build (wall 3.5 s vs 0.1 s executor time, measured). Struct ordering
    // is field-lexicographic, so min over (d, center_id) pairs is the
    // identical assignment, with each distance appearing exactly once.
    val best = array_min(array(dists.map { case (id, d) =>
      struct(d.as("d"), lit(id).as("center_id")) }: _*))
    df.select(best.getField("center_id").as("center_id"), best.getField("d").as("d"))
      .groupBy("center_id")
      .agg(count(lit(1)).as("n_members"), max(col("d")).as("max_radius_nano"))
      .orderBy("center_id")
  }

  /** Oracle twin of [[kcenterTrain]]: the greedy rounds unrolled as
    * chained CTEs over the accumulated center set `kcall{i}`; splice after
    * [[VectorOps.normalizedSql]].
    */
  private def kcenterOracleChain(k: Int): String = {
    val seed =
      s"""kc1 AS (SELECT vec_id, v, nrm, CAST(1 AS BIGINT) AS rnk,
         |  CAST($KCENTER_SENTINEL_NANO AS BIGINT) AS radius_before_nano
         |  FROM e ORDER BY vec_id LIMIT 1),
         |kcall1 AS (SELECT * FROM kc1)""".stripMargin
    val rounds = (2 to k).map { i =>
      val p = i - 1
      s"""kcd$i AS (SELECT x.vec_id,
         |  MIN(1000000000 - CAST(round(${VectorOps.dotSql("x.v", "c.v")}
         |    / (x.nrm * c.nrm) * 1e9) AS BIGINT)) AS dmin
         |  FROM e x CROSS JOIN kcall$p c GROUP BY x.vec_id),
         |kcsel$i AS (SELECT vec_id, dmin FROM kcd$i
         |  ORDER BY dmin DESC, vec_id LIMIT 1),
         |kc$i AS (SELECT e.vec_id, e.v, e.nrm, CAST($i AS BIGINT) AS rnk,
         |  s.dmin AS radius_before_nano
         |  FROM e JOIN kcsel$i s ON e.vec_id = s.vec_id),
         |kcall$i AS (SELECT * FROM kcall$p UNION ALL SELECT * FROM kc$i)""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  val defs: Seq[GQuery] = Seq(

    // ---- brute-force exact top-k (baseline) --------------------------------
    GQuery(
      "ann_bruteforce_topk",
      (s, dir) => bruteforceTopk(s, dir).orderBy("q_id", "rank"),
      Some(s"""WITH ${VectorOps.normalizedSql},
              |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
              |scored AS (SELECT q.q_id, e.vec_id AS cand_id,
              |  ${VectorOps.cosSql("q.qv", "e.v", "q.qn", "e.nrm")} AS cos
              |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
              |ranked AS (SELECT q_id, cand_id, cos,
              |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
              |  FROM scored)
              |SELECT q_id, rank, cand_id, cos FROM ranked WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // ---- IVF: coarse-quantize to seeds, probe nearest cells, re-rank -------
    GQuery(
      "ann_ivf_topk",
      (s, dir) => ivfTopk(s, dir).orderBy("q_id", "rank"),
      Some(s"""WITH $ivfRankedSql
              |SELECT q_id, rank, cand_id, cos FROM ranked WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // ---- IVF under deletion: the takedown contract, inline ------------------
    // What a probe must return after vectors are deleted from the index:
    // the identical pipeline with the deleted rows absent from the
    // ASSIGNMENT side only — cell geometry (seeds) and the query set still
    // derive from the full embeddings table, exactly as a tombstoned
    // persisted index behaves (deletion never moves a cell; seeds are not
    // index rows). The fixed deleted set (vec_id % 13 = 7) removes ~8% of
    // candidates, so ranks re-pack around the gaps. TombstoneSpec pins
    // deleteFromIvfIndex → ivfProbeIndex equal to this entry row-for-row,
    // and equal to an index REBUILT over the survivors — the
    // delete == rebuild contract the lifecycle promises.
    GQuery(
      "ann_ivf_deleted",
      (s, dir) => ivfTopkWith(s, dir, seedSet(VectorOps.normalized(s, dir)),
          expr("NOT (vec_id % 13 = 7)")).orderBy("q_id", "rank"),
      Some(s"""WITH ${VectorOps.normalizedSql},
              |seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
              |assign0 AS (SELECT e.vec_id, e.v, e.nrm, seeds.seed_id,
              |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
              |    ${VectorOps.cosSql("e.v", "seeds.sv", "e.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
              |  FROM e CROSS JOIN seeds),
              |assign AS (SELECT vec_id, v, nrm, seed_id FROM assign0
              |  WHERE rn = 1 AND NOT (vec_id % 13 = 7)),
              |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
              |probes0 AS (SELECT q.q_id, q.qv, q.qn, seeds.seed_id,
              |  row_number() OVER (PARTITION BY q.q_id ORDER BY
              |    ${VectorOps.cosSql("q.qv", "seeds.sv", "q.qn", "seeds.sn")} DESC, seeds.seed_id) AS rn
              |  FROM q CROSS JOIN seeds),
              |probes AS (SELECT q_id, qv, qn, seed_id FROM probes0 WHERE rn <= $N_PROBE),
              |cand AS (SELECT DISTINCT probes.q_id, assign.vec_id AS cand_id,
              |  ${VectorOps.cosSql("probes.qv", "assign.v", "probes.qn", "assign.nrm")} AS cos
              |  FROM probes JOIN assign ON probes.seed_id = assign.seed_id
              |  WHERE assign.vec_id <> probes.q_id),
              |ranked AS (SELECT q_id, cand_id, cos,
              |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
              |  FROM cand)
              |SELECT q_id, rank, cand_id, cos FROM ranked WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // The ANN sharding topology — and why it's EXACT where BM25's
    // rank-merge is not: cosine needs no corpus statistics, so per-shard
    // scores are globally comparable for free. Shard the corpus by vec_id
    // parity (seeds come from the full corpus, so cell geometry is
    // identical on every shard — the writeIvfIndexWhere invariant), probe
    // each shard independently, merge the shard top-ks by score: for
    // disjoint shards top-k(top-k(A) ∪ top-k(B)) = top-k(A ∪ B), so the
    // oracle below is deliberately the plain single-corpus ann_ivf_topk —
    // the hash match IS the exactness proof. No cross-shard coordination
    // of any kind; contrast search_sharded_exact (one stats round trip)
    // and search_sharded_rrf (approximate, rank lists only).
    GQuery(
      "ann_sharded_topk",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val seeds = seedSet(e)
        val q = e.filter(col("vec_id") < N_QUERIES)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
        val pw = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("seed_id"))
        val probes = q.join(seeds)
          .select(col("q_id"), col("qv"), col("qn"), col("seed_id"),
            VectorOps.cosCol("qv", "sv", "qn", "sn").as("pcos"))
          .withColumn("rn", row_number().over(pw))
          .filter(col("rn") <= N_PROBE)
          .select("q_id", "qv", "qn", "seed_id")
        val lists = (0 to 1).map { i =>
          val assign = assignToSeeds(
              e.filter(pmod(col("vec_id"), lit(2)) === i), seeds)
            .select("vec_id", "v", "nrm", "seed_id")
          val cand = probes.join(assign, "seed_id")
            .filter(col("vec_id") =!= col("q_id"))
            .select(col("q_id"), col("vec_id").as("cand_id"),
              VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
            .distinct()
          val rw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
          cand.withColumn("rank", row_number().over(rw))
            .filter(col("rank") <= TOP_K)
            .select("q_id", "cand_id", "cos")
        }
        val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
        lists.reduce(_ unionByName _)
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= TOP_K)
          .select("q_id", "rank", "cand_id", "cos")
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
              |assign0 AS (SELECT e.vec_id, e.v, e.nrm, seeds.seed_id,
              |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
              |    ${VectorOps.cosSql("e.v", "seeds.sv", "e.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
              |  FROM e CROSS JOIN seeds),
              |assign AS (SELECT vec_id, v, nrm, seed_id FROM assign0 WHERE rn = 1),
              |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
              |probes0 AS (SELECT q.q_id, q.qv, q.qn, seeds.seed_id,
              |  row_number() OVER (PARTITION BY q.q_id ORDER BY
              |    ${VectorOps.cosSql("q.qv", "seeds.sv", "q.qn", "seeds.sn")} DESC, seeds.seed_id) AS rn
              |  FROM q CROSS JOIN seeds),
              |probes AS (SELECT q_id, qv, qn, seed_id FROM probes0 WHERE rn <= $N_PROBE),
              |cand AS (SELECT DISTINCT probes.q_id, assign.vec_id AS cand_id,
              |  ${VectorOps.cosSql("probes.qv", "assign.v", "probes.qn", "assign.nrm")} AS cos
              |  FROM probes JOIN assign ON probes.seed_id = assign.seed_id
              |  WHERE assign.vec_id <> probes.q_id),
              |ranked AS (SELECT q_id, cand_id, cos,
              |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
              |  FROM cand)
              |SELECT q_id, rank, cand_id, cos FROM ranked WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // ---- PQ: product-quantized asymmetric-distance top-k --------------------
    GQuery(
      "ann_pq_topk",
      (s, dir) => pqTopk(s, dir).orderBy("q_id", "rank"),
      Some(pqTopkSql)
    ),

    // ---- IVF-PQ: coarse-cell pruning + PQ re-rank (the FAISS shape) ---------
    GQuery(
      "ann_ivfpq_topk",
      (s, dir) => ivfPqTopk(s, dir).orderBy("q_id", "rank"),
      Some(ivfPqTopkSql)
    ),

    // ---- trained-codebook PQ: train → encode → probe -------------------------
    GQuery(
      "ann_pq_trained",
      (s, dir) => pqTrainedTopk(s, dir).orderBy("q_id", "rank"),
      Some(pqTrainedTopkSql)
    ),

    // ---- convergence-trained PQ: the full Lloyd loop per subspace -----------
    // ann_pq_trained runs exactly ONE Lloyd iteration; this runs
    // trainedCentsConv's early-stopping loop (kmeansTrain's discipline per
    // subspace) and probes the converged codebook. Measured verdict
    // (ann_pq_recall, mean recall@10, sf0.01): pq 0.21 → pq_trained 0.30 →
    // pq_trained_conv 0.27 with the loop running its full 4-round budget
    // (8-dim subspace movement never falls below 1e-3 on structureless
    // uniform data — there are no subspace clusters to converge INTO, the
    // kmeansTrain plateau note at PQ granularity). So iteration 1 IS the
    // plateau here and extra rounds jitter the boundaries; on clustered
    // real corpora the same loop converges in 2-3 rounds and the curve
    // pays. Trainer-flagged: K algorithmic rounds, not plan cost.
    GQuery(
      "ann_pq_trained_conv",
      (s, dir) => pqTrainedConvTopk(s, dir).orderBy("q_id", "rank"),
      Some {
        val adc = (0 until 8).map(j => adcCase(j, PQ_C)).mkString(" + ")
        s"""WITH ${VectorOps.normalizedSql},
           |$pqSubCte,
           |${pqChainSql(pqConvCentCte("", PQ_TRAIN_MAX_ITERS, PQ_TRAIN_TOL_NANO), "")},
           |pairs AS (SELECT q_id, codes.vec_id AS cand_id, $adc AS adc
           |  FROM codes, dtab WHERE codes.vec_id <> q_id),
           |ranked AS (SELECT q_id, cand_id, adc,
           |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS BIGINT) AS rank
           |  FROM pairs)
           |SELECT q_id, rank, cand_id, adc FROM ranked WHERE rank <= $TOP_K
           |ORDER BY q_id, rank""".stripMargin
      },
      trainer = true
    ),

    // ---- filtered (hybrid) ANN: metadata predicate below the index probe ----
    GQuery(
      "ann_filtered_topk",
      (s, dir) => ivfFilteredTopk(s, dir).orderBy("q_id", "rank"),
      Some(s"""WITH ${VectorOps.normalizedSql},
              |${VectorOps.normalizedMetaSql},
              |seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
              |fa0 AS (SELECT em.vec_id, em.v, em.nrm, seeds.seed_id,
              |  row_number() OVER (PARTITION BY em.vec_id ORDER BY
              |    ${VectorOps.cosSql("em.v", "seeds.sv", "em.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
              |  FROM em CROSS JOIN seeds WHERE em.label = $FILTER_LABEL),
              |fassign AS (SELECT vec_id, v, nrm, seed_id FROM fa0 WHERE rn = 1),
              |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
              |probes0 AS (SELECT q.q_id, q.qv, q.qn, seeds.seed_id,
              |  row_number() OVER (PARTITION BY q.q_id ORDER BY
              |    ${VectorOps.cosSql("q.qv", "seeds.sv", "q.qn", "seeds.sn")} DESC, seeds.seed_id) AS rn
              |  FROM q CROSS JOIN seeds),
              |probes AS (SELECT q_id, qv, qn, seed_id FROM probes0 WHERE rn <= $N_PROBE),
              |cand AS (SELECT DISTINCT probes.q_id, fassign.vec_id AS cand_id,
              |  ${VectorOps.cosSql("probes.qv", "fassign.v", "probes.qn", "fassign.nrm")} AS cos
              |  FROM probes JOIN fassign ON probes.seed_id = fassign.seed_id
              |  WHERE fassign.vec_id <> probes.q_id),
              |ranked AS (SELECT q_id, cand_id, cos,
              |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
              |  FROM cand)
              |SELECT q_id, rank, cand_id, cos FROM ranked WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // ---- measured recall for the PQ family ----------------------------------
    // The ann_recall discipline extended to the two r7 indexes: recall@10
    // of flat PQ and IVF-PQ against the exact brute-force top-k, per
    // query. Everything is deterministic, so the recall numbers themselves
    // are oracle-paired — the honesty metric ships verified, like the
    // indexes. (≈0.2 avg on these STRUCTURELESS random embeddings — PQ
    // codebooks have no clusters to exploit here; see PQ_C note.)
    GQuery(
      "ann_pq_recall",
      (s, dir) => {
        val bf = bruteforceTopk(s, dir).select("q_id", "cand_id")
        def recallRows(method: String, topk: DataFrame) =
          bf.join(topk.select(col("q_id"), col("cand_id"), lit(1).as("hit")),
              Seq("q_id", "cand_id"), "left")
            .groupBy("q_id").agg(count(col("hit")).as("n_hits"))
            .select(lit(method).as("method"), col("q_id"), col("n_hits"))
            .withColumn("recall", col("n_hits").cast("double") / TOP_K)
        recallRows("pq", pqTopk(s, dir))
          .unionByName(recallRows("ivfpq", ivfPqTopk(s, dir)))
          .unionByName(recallRows("pq_trained", pqTrainedTopk(s, dir)))
          .unionByName(recallRows("pq_trained_conv", pqTrainedConvTopk(s, dir)))
          .orderBy("method", "q_id")
      },
      Some {
        val adc = (0 until 8).map(j => adcCase(j, PQ_C)).mkString(" + ")
        s"""WITH ${VectorOps.normalizedSql},
           |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
           |bscored AS (SELECT q.q_id, e.vec_id AS cand_id,
           |  ${VectorOps.cosSql("q.qv", "e.v", "q.qn", "e.nrm")} AS cos
           |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
           |bf AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
           |  FROM bscored) WHERE rank <= $TOP_K),
           |$pqCtesSql,
           |${pqChainSql(pqTrainedCentCte("_t"), "_t")},
           |${pqChainSql(pqConvCentCte("_c", PQ_TRAIN_MAX_ITERS, PQ_TRAIN_TOL_NANO), "_c")},
           |ppairs AS (SELECT dtab.q_id, codes.vec_id AS cand_id, $adc AS adc
           |  FROM codes, dtab WHERE codes.vec_id <> dtab.q_id),
           |pq AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS rank
           |  FROM ppairs) WHERE rank <= $TOP_K),
           |tpairs AS (SELECT dtab_t.q_id, codes_t.vec_id AS cand_id, $adc AS adc
           |  FROM codes_t, dtab_t WHERE codes_t.vec_id <> dtab_t.q_id),
           |tpq AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS rank
           |  FROM tpairs) WHERE rank <= $TOP_K),
           |cpairs AS (SELECT dtab_c.q_id, codes_c.vec_id AS cand_id, $adc AS adc
           |  FROM codes_c, dtab_c WHERE codes_c.vec_id <> dtab_c.q_id),
           |cpq AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS rank
           |  FROM cpairs) WHERE rank <= $TOP_K),
           |seeds AS (SELECT vec_id AS seed_id, v AS sv0, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
           |assign0 AS (SELECT e.vec_id, seeds.seed_id,
           |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |    ${VectorOps.cosSql("e.v", "seeds.sv0", "e.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
           |  FROM e CROSS JOIN seeds),
           |assign AS (SELECT vec_id, seed_id FROM assign0 WHERE rn = 1),
           |probes0 AS (SELECT q.q_id, seeds.seed_id,
           |  row_number() OVER (PARTITION BY q.q_id ORDER BY
           |    ${VectorOps.cosSql("q.qv", "seeds.sv0", "q.qn", "seeds.sn")} DESC, seeds.seed_id) AS rn
           |  FROM q CROSS JOIN seeds),
           |probes AS (SELECT q_id, seed_id FROM probes0 WHERE rn <= $N_PROBE),
           |icand AS (SELECT DISTINCT probes.q_id, assign.vec_id
           |  FROM probes JOIN assign ON probes.seed_id = assign.seed_id
           |  WHERE assign.vec_id <> probes.q_id),
           |ipairs AS (SELECT icand.q_id, icand.vec_id AS cand_id, $adc AS adc
           |  FROM icand JOIN codes ON icand.vec_id = codes.vec_id
           |  JOIN dtab ON icand.q_id = dtab.q_id),
           |ivfpq AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS rank
           |  FROM ipairs) WHERE rank <= $TOP_K),
           |qids AS (SELECT DISTINCT q_id FROM bf),
           |pq_hits AS (SELECT bf.q_id, COUNT(*) AS hits FROM bf
           |  JOIN pq ON bf.q_id = pq.q_id AND bf.cand_id = pq.cand_id GROUP BY bf.q_id),
           |ivfpq_hits AS (SELECT bf.q_id, COUNT(*) AS hits FROM bf
           |  JOIN ivfpq ON bf.q_id = ivfpq.q_id AND bf.cand_id = ivfpq.cand_id GROUP BY bf.q_id),
           |tpq_hits AS (SELECT bf.q_id, COUNT(*) AS hits FROM bf
           |  JOIN tpq ON bf.q_id = tpq.q_id AND bf.cand_id = tpq.cand_id GROUP BY bf.q_id),
           |cpq_hits AS (SELECT bf.q_id, COUNT(*) AS hits FROM bf
           |  JOIN cpq ON bf.q_id = cpq.q_id AND bf.cand_id = cpq.cand_id GROUP BY bf.q_id)
           |SELECT method, q_id, n_hits, recall FROM (
           |  SELECT 'pq' AS method, qids.q_id,
           |    CAST(COALESCE(hits, 0) AS BIGINT) AS n_hits,
           |    CAST(COALESCE(hits, 0) AS DOUBLE) / $TOP_K AS recall
           |  FROM qids LEFT JOIN pq_hits ON qids.q_id = pq_hits.q_id
           |  UNION ALL
           |  SELECT 'ivfpq', qids.q_id, CAST(COALESCE(hits, 0) AS BIGINT),
           |    CAST(COALESCE(hits, 0) AS DOUBLE) / $TOP_K
           |  FROM qids LEFT JOIN ivfpq_hits ON qids.q_id = ivfpq_hits.q_id
           |  UNION ALL
           |  SELECT 'pq_trained', qids.q_id, CAST(COALESCE(hits, 0) AS BIGINT),
           |    CAST(COALESCE(hits, 0) AS DOUBLE) / $TOP_K
           |  FROM qids LEFT JOIN tpq_hits ON qids.q_id = tpq_hits.q_id
           |  UNION ALL
           |  SELECT 'pq_trained_conv', qids.q_id, CAST(COALESCE(hits, 0) AS BIGINT),
           |    CAST(COALESCE(hits, 0) AS DOUBLE) / $TOP_K
           |  FROM qids LEFT JOIN cpq_hits ON qids.q_id = cpq_hits.q_id)
           |ORDER BY method, q_id""".stripMargin
      },
      bench = false // embeds the brute-force ground truth — an offline audit
    ),

    // ---- embedding near-dup at scale: LSH bucket equi-join → exact cosine ---
    // The scale path for dedup_embedding_pairs: candidates come from an
    // equi-join on a 4-bit hyperplane signature (similar vectors collide),
    // so the pair space is the sum of per-bucket squares, not n²; only
    // candidates pay the exact graft_dot re-rank, and the top pairs by
    // cosine surface as near-dup suspects. (The synthetic embeddings are
    // near-random — max pairwise cos ≈ 0.5 — so a top-k report is the
    // honest output; a fixed threshold would select nothing or noise.)
    GQuery(
      "dedup_embedding_lsh",
      (s, dir) => lshTopPairs(s, dir),
      Some {
        val sigExpr = (0 until 4)
          .map(p => s"CASE WHEN ${projDuck(p)} > 0 THEN '1' ELSE '0' END")
          .mkString("concat(", ", ", ")")
        s"""WITH ${VectorOps.normalizedSql},
           |sig AS (SELECT vec_id, v, nrm, $sigExpr AS bucket FROM e),
           |pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |  ${VectorOps.cosSql("a.v", "b.v", "a.nrm", "b.nrm")} AS cos
           |  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
           |SELECT vec_a, vec_b, cos FROM pairs
           |ORDER BY cos DESC, vec_a, vec_b LIMIT 20""".stripMargin
      }
    ),

    // ---- clustering step: per-cell stats of the IVF assignment --------------
    // One k-means-style assignment iteration reported as cell populations +
    // mean cosine-to-centroid. Cosines are bit-identical on both engines, so
    // snapping to a 1e-9 grid before summing makes the mean exact (double
    // sums would be partition-order-dependent).
    GQuery(
      "ann_cell_stats",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val assign = assignToSeeds(e, seedSet(e))
        assign.groupBy("seed_id")
          .agg(
            count(lit(1)).as("n_members"),
            (sum(round(col("scos") * 1e9).cast("long")).cast("double") / 1e9 /
              count(lit(1)).cast("double")).as("avg_cos"))
          .orderBy("seed_id")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
              |assign0 AS (SELECT e.vec_id, seeds.seed_id,
              |  ${VectorOps.cosSql("e.v", "seeds.sv", "e.nrm", "seeds.sn")} AS scos,
              |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
              |    ${VectorOps.cosSql("e.v", "seeds.sv", "e.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
              |  FROM e CROSS JOIN seeds),
              |assign AS (SELECT vec_id, seed_id, scos FROM assign0 WHERE rn = 1)
              |SELECT seed_id, CAST(COUNT(*) AS BIGINT) AS n_members,
              |  CAST(SUM(CAST(round(scos * 1000000000) AS BIGINT)) AS DOUBLE)/1000000000
              |    /CAST(COUNT(*) AS DOUBLE) AS avg_cos
              |FROM assign GROUP BY seed_id ORDER BY seed_id""".stripMargin)
    ),

    // ---- random-hyperplane LSH bucketing ------------------------------------
    GQuery(
      "ann_lsh_buckets",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val sigExpr = (0 until N_PLANES)
          .map(p => s"CASE WHEN ${projSpark(p)} > 0 THEN '1' ELSE '0' END")
          .mkString("concat(", ", ", ")")
        e.select(col("vec_id"), expr(sigExpr).as("bucket"))
          .withColumn("bucket_size",
            count(lit(1)).over(Window.partitionBy("bucket")).cast("long"))
          .orderBy("vec_id")
      },
      Some {
        val sigExpr = (0 until N_PLANES)
          .map(p => s"CASE WHEN ${projDuck(p)} > 0 THEN '1' ELSE '0' END")
          .mkString("concat(", ", ", ")")
        s"""WITH ${VectorOps.normalizedSql},
           |sigs AS (SELECT vec_id, $sigExpr AS bucket FROM e)
           |SELECT vec_id, bucket,
           |  CAST(COUNT(*) OVER (PARTITION BY bucket) AS BIGINT) AS bucket_size
           |FROM sigs ORDER BY vec_id""".stripMargin
      }
    ),

    // ---- recall of the approximate indexes vs the exact baseline ------------
    // An approximate index without a recall number is unshippable: this
    // registers the measurement itself as a verified query. Per query
    // vector, recall@10 of IVF against brute-force top-10; plus one row
    // (q_id = -1) for the LSH pair path — the fraction of its top-20
    // near-dup pairs that appear in the exact top-50 pair baseline. Both
    // comparisons are joins over deterministic result sets, so the recall
    // values themselves hash-match the oracle. bench=false: the ground
    // truth embeds the O(n²) exact pair scan by construction (a recall
    // audit is an offline validation job, not a production query).
    GQuery(
      "ann_recall",
      (s, dir) => {
        // one pass over the ground truth: left join against IVF and count
        // the matched side — a separate q_id spine would evaluate the
        // whole brute-force pipeline a second time
        val bf = bruteforceTopk(s, dir).select("q_id", "cand_id")
        val ivf = ivfTopk(s, dir)
          .select(col("q_id"), col("cand_id"), lit(1).as("hit"))
        val ivfRows = bf.join(ivf, Seq("q_id", "cand_id"), "left")
          .groupBy("q_id").agg(count(col("hit")).as("n_hits"))
          .select(lit("ivf").as("method"), col("q_id"), col("n_hits"))
          .withColumn("recall", col("n_hits").cast("double") / TOP_K)
        val e = VectorOps.normalized(s, dir)
        val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
        val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
        val bfPairs = a.join(b, col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            VectorOps.cosCol("va", "vb", "na", "nb").as("cos"))
          .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
          .limit(50)
          .select("vec_a", "vec_b")
        val lshRow = lshTopPairs(s, dir).select("vec_a", "vec_b")
          .join(bfPairs, Seq("vec_a", "vec_b"))
          .agg(count(lit(1)).as("n_hits"))
          .select(lit("lsh_pairs").as("method"), lit(-1L).as("q_id"), col("n_hits"))
          .withColumn("recall", col("n_hits").cast("double") / 20)
        ivfRows.unionByName(lshRow).orderBy("method", "q_id")
      },
      Some {
        val lshSig = (0 until 4)
          .map(p => s"CASE WHEN ${projDuck(p)} > 0 THEN '1' ELSE '0' END")
          .mkString("concat(", ", ", ")")
        s"""WITH ${VectorOps.normalizedSql},
           |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
           |bscored AS (SELECT q.q_id, e.vec_id AS cand_id,
           |  ${VectorOps.cosSql("q.qv", "e.v", "q.qn", "e.nrm")} AS cos
           |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
           |bf AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
           |  FROM bscored) WHERE rank <= $TOP_K),
           |seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
           |assign0 AS (SELECT e.vec_id, e.v, e.nrm, seeds.seed_id,
           |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |    ${VectorOps.cosSql("e.v", "seeds.sv", "e.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
           |  FROM e CROSS JOIN seeds),
           |assign AS (SELECT vec_id, v, nrm, seed_id FROM assign0 WHERE rn = 1),
           |probes0 AS (SELECT q.q_id, q.qv, q.qn, seeds.seed_id,
           |  row_number() OVER (PARTITION BY q.q_id ORDER BY
           |    ${VectorOps.cosSql("q.qv", "seeds.sv", "q.qn", "seeds.sn")} DESC, seeds.seed_id) AS rn
           |  FROM q CROSS JOIN seeds),
           |probes AS (SELECT q_id, qv, qn, seed_id FROM probes0 WHERE rn <= $N_PROBE),
           |icand AS (SELECT DISTINCT probes.q_id, assign.vec_id AS cand_id,
           |  ${VectorOps.cosSql("probes.qv", "assign.v", "probes.qn", "assign.nrm")} AS cos
           |  FROM probes JOIN assign ON probes.seed_id = assign.seed_id
           |  WHERE assign.vec_id <> probes.q_id),
           |ivf AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
           |  FROM icand) WHERE rank <= $TOP_K),
           |ivf_hits AS (SELECT bf.q_id, COUNT(*) AS hits FROM bf
           |  JOIN ivf ON bf.q_id = ivf.q_id AND bf.cand_id = ivf.cand_id
           |  GROUP BY bf.q_id),
           |qids AS (SELECT DISTINCT q_id FROM bf),
           |ivf_rows AS (SELECT 'ivf' AS method, qids.q_id,
           |  CAST(COALESCE(hits, 0) AS BIGINT) AS n_hits,
           |  CAST(COALESCE(hits, 0) AS DOUBLE) / $TOP_K AS recall
           |  FROM qids LEFT JOIN ivf_hits ON qids.q_id = ivf_hits.q_id),
           |lsig AS (SELECT vec_id, v, nrm, $lshSig AS bucket FROM e),
           |lsh AS (SELECT vec_a, vec_b FROM (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |  ${VectorOps.cosSql("a.v", "b.v", "a.nrm", "b.nrm")} AS cos
           |  FROM lsig a JOIN lsig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
           |  ORDER BY cos DESC, vec_a, vec_b LIMIT 20)),
           |bfp AS (SELECT vec_a, vec_b FROM (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |  ${VectorOps.cosSql("a.v", "b.v", "a.nrm", "b.nrm")} AS cos
           |  FROM e a JOIN e b ON a.vec_id < b.vec_id
           |  ORDER BY cos DESC, vec_a, vec_b LIMIT 50)),
           |lsh_row AS (SELECT 'lsh_pairs' AS method, CAST(-1 AS BIGINT) AS q_id,
           |  CAST(COUNT(*) AS BIGINT) AS n_hits, CAST(COUNT(*) AS DOUBLE) / 20 AS recall
           |  FROM lsh JOIN bfp ON lsh.vec_a = bfp.vec_a AND lsh.vec_b = bfp.vec_b)
           |SELECT method, q_id, n_hits, recall FROM ivf_rows
           |UNION ALL SELECT method, q_id, n_hits, recall FROM lsh_row
           |ORDER BY method, q_id""".stripMargin
      },
      bench = false // embeds the O(n²) exact-pair ground truth — an offline audit, not a serving path
    ),

    // ---- one full k-means (Lloyd) iteration, grid-exact ----------------------
    // The clustering step a vector pipeline actually iterates: assign →
    // recompute centroids → reassign, reported as per-cell populations
    // before/after. Scale shape: assignment is a broadcast of the (small)
    // centroid set against the corpus — the corpus is scanned, never
    // shuffled, except one (seed_id, dim)-keyed partial-aggregated shuffle
    // for the centroid sums. Determinism: centroid components are exact
    // integer sums on a 1e-9 grid divided back out (double sums would be
    // partition-order-dependent), and both engines then evaluate the same
    // double expression tree for the new cosines, so assignments can't
    // flip between Spark and the oracle.
    GQuery(
      "ann_kmeans_iter",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val assign = assignToSeeds(e, seedSet(e)).select("vec_id", "v", "seed_id")
        val nOld = assign.groupBy("seed_id").agg(count(lit(1)).as("n_before"))
        val cent = assign
          .select(col("seed_id"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("seed_id", "pos")
          .agg(sum(round(col("x") * 1e9).cast("long")).as("sx"), count(lit(1)).as("nd"))
          .select(col("seed_id"),
            struct(col("pos"),
              (col("sx").cast("double") / 1e9 / col("nd").cast("double")).as("cv")).as("pc"))
          .groupBy("seed_id")
          .agg(expr("transform(sort_array(collect_list(pc)), p -> p.cv)").as("c"))
          .withColumn("cn", expr(s"sqrt(${VectorOps.dotExpr("c", "c")})"))
        val rw = Window.partitionBy("vec_id").orderBy(col("ncos").desc, col("seed_id"))
        val nNew = e.join(broadcast(cent))
          .select(col("vec_id"), col("seed_id"),
            expr(s"${VectorOps.dotExpr("v", "c")} / (nrm * cn)").as("ncos"))
          .withColumn("rn", row_number().over(rw))
          .filter(col("rn") === 1)
          .groupBy("seed_id").agg(count(lit(1)).as("n_after"))
        nOld.join(nNew, Seq("seed_id"), "full")
          .select(col("seed_id"),
            coalesce(col("n_before"), lit(0L)).as("n_before"),
            coalesce(col("n_after"), lit(0L)).as("n_after"))
          .orderBy("seed_id")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
              |assign0 AS (SELECT e.vec_id, e.v, seeds.seed_id,
              |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
              |    ${VectorOps.cosSql("e.v", "seeds.sv", "e.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
              |  FROM e CROSS JOIN seeds),
              |assign AS (SELECT vec_id, v, seed_id FROM assign0 WHERE rn = 1),
              |n_old AS (SELECT seed_id, CAST(COUNT(*) AS BIGINT) AS n_before
              |  FROM assign GROUP BY seed_id),
              |dims AS (SELECT seed_id, unnest(range(1, 65)) AS pos, v FROM assign),
              |sums AS (SELECT seed_id, pos,
              |  CAST(SUM(CAST(round(v[pos] * 1000000000) AS BIGINT)) AS BIGINT) AS sx,
              |  CAST(COUNT(*) AS BIGINT) AS nd
              |  FROM dims GROUP BY seed_id, pos),
              |cent AS (SELECT seed_id,
              |  list(CAST(sx AS DOUBLE) / 1000000000 / CAST(nd AS DOUBLE) ORDER BY pos) AS c
              |  FROM sums GROUP BY seed_id),
              |cent2 AS (SELECT seed_id, c, sqrt(${VectorOps.dotSql("c", "c")}) AS cn FROM cent),
              |re0 AS (SELECT e.vec_id, cent2.seed_id,
              |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
              |    ${VectorOps.dotSql("e.v", "cent2.c")} / (e.nrm * cent2.cn) DESC, cent2.seed_id) AS rn
              |  FROM e CROSS JOIN cent2),
              |n_new AS (SELECT seed_id, CAST(COUNT(*) AS BIGINT) AS n_after
              |  FROM re0 WHERE rn = 1 GROUP BY seed_id)
              |SELECT COALESCE(n_old.seed_id, n_new.seed_id) AS seed_id,
              |  COALESCE(n_before, 0) AS n_before, COALESCE(n_after, 0) AS n_after
              |FROM n_old FULL OUTER JOIN n_new ON n_old.seed_id = n_new.seed_id
              |ORDER BY seed_id""".stripMargin)
    ),

    // ---- the full Lloyd convergence loop: K iterations, early stop ----------
    // ann_kmeans_iter demonstrates ONE iteration; this is the trainer a
    // vector pipeline actually runs: iterate assign→recompute up to K=4
    // rounds, measure movement grid-exactly (max per-component centroid
    // shift on the 1e-9 integer grid), stop early once movement < 1e-3.
    // Output = the measured convergence curve, one row per executed
    // iteration. Scale shape per round is ann_kmeans_iter's (broadcast
    // assignment — corpus never shuffles — plus one (seed_id, dim)-keyed
    // partial-agg shuffle); between rounds the centroid state collects to
    // the driver (nSeeds × 64 doubles, control-plane sized) so the loop
    // composes K corpus passes with flat lineage. Trainer-flagged in bench:
    // its cost is K algorithmic rounds, not plan cost.
    GQuery(
      "ann_kmeans_train",
      (s, dir) => kmeansTrain(VectorOps.normalized(s, dir)),
      Some(kmeansTrainOracleSql(N_SEEDS, KMEANS_MAX_ITERS, KMEANS_TOL_NANO)),
      trainer = true
    ),

    // ---- greedy k-center coreset --------------------------------------------
    GQuery(
      // The selection curve: (k, center_id, radius_before_nano) — row k
      // records the cover radius of the first k−1 centers (monotone
      // nonincreasing; the seed row carries the 2e9 no-centers sentinel).
      // See kcenterTrain for the algorithm and the map-only-per-round
      // scale design. Honest measurement: on the driver's uniform corpus
      // the curve just shaves a structureless sphere (sf0.01: 2e9 →
      // 1.337e9 → 1.167e9 → 1.091e9 → 1.040e9 → 1.013e9 — no cliff to
      // find); KcenterSpec pins the clustered regime, where the greedy
      // rule visits every cluster before revisiting any and the radius
      // collapses to within-cluster noise at k = n_clusters + 1.
      "ann_kcenter_coreset",
      (s, dir) => {
        val (curve, _) = kcenterTrain(s, dir, KCENTER_K)
        s.createDataFrame(curve)
          .toDF("k", "center_id", "radius_before_nano").orderBy("k")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |${kcenterOracleChain(KCENTER_K)}
              |SELECT rnk AS k, vec_id AS center_id, radius_before_nano
              |FROM kcall$KCENTER_K ORDER BY k""".stripMargin),
      trainer = true
    ),

    GQuery(
      // The cover report under the selected centers: every vector assigned
      // to its nearest center (ties → lowest center_id), then per-center
      // member counts and the realized cell radius — the audit that shows
      // whether the K exemplars actually cover the corpus (Gonzalez's
      // guarantee: max_radius ≤ 2× the optimal K-center radius).
      "ann_kcenter_assign",
      (s, dir) => kcenterAssign(s, dir, KCENTER_K),
      Some(s"""WITH ${VectorOps.normalizedSql},
              |${kcenterOracleChain(KCENTER_K)},
              |kcdist AS (SELECT x.vec_id, c.vec_id AS center_id,
              |  1000000000 - CAST(round(${VectorOps.dotSql("x.v", "c.v")}
              |    / (x.nrm * c.nrm) * 1e9) AS BIGINT) AS d
              |  FROM e x CROSS JOIN kcall$KCENTER_K c),
              |kcassign AS (SELECT vec_id, center_id, d,
              |  row_number() OVER (PARTITION BY vec_id ORDER BY d, center_id) AS rn
              |  FROM kcdist)
              |SELECT center_id, $countStarSql AS n_members,
              |  CAST(MAX(d) AS BIGINT) AS max_radius_nano
              |FROM kcassign WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin),
      trainer = true
    ),

    // ---- top principal direction by power iteration -------------------------
    // The spectral trainer beside the k-means and NN-Descent loops: one
    // corpus pass builds the grid-exact d×d Gram matrix (d² aggregation
    // keys, map-side combined — the corpus never shuffles rows), then the
    // power iteration runs control-plane on the collected 64×64 matrix
    // with a nano-grid movement metric and early stop. See pcaPower's
    // scale notes; trainer-flagged in bench.
    GQuery(
      "ann_pca_power",
      (s, dir) => pcaPower(VectorOps.normalized(s, dir)),
      Some(pcaPowerOracleSql(PCA_MAX_ITERS, PCA_TOL_NANO)),
      trainer = true
    ),

    // Top-3 spectrum by deflation: rerun the fixed-K power step on
    // C − λ·uuᵀ residuals — all deflation arithmetic on the collected d×d
    // matrix, corpus touched exactly once (the shared Gram census). The
    // var_pct_micro column is the spectrum summary a compression decision
    // reads: on the uniform driver corpus each component honestly captures
    // only ~1/d of the trace (no spectral gap to exploit).
    GQuery(
      "ann_pca_deflate",
      (s, dir) => pcaDeflate(VectorOps.normalized(s, dir)),
      Some(pcaDeflateOracleSql(PCA_COMPONENTS, PCA_MAX_ITERS)),
      trainer = true
    ),

    // The projection the spectrum feeds: strip the top principal component
    // from every embedding (map-only once u is trained — see
    // whitenEmbeddings' scale notes). Output serialized per whitenReport's
    // scalar-columns contract.
    GQuery(
      "ann_pca_whiten",
      (s, dir) => whitenReport(VectorOps.normalized(s, dir)),
      Some(whitenOracleSql(PCA_MAX_ITERS))
    ),

    // ---- random-projection (Johnson-Lindenstrauss) ANN ----------------------
    // The sketch-family member between brute force and PQ: project 64 → 16
    // dims through a deterministic ±1 matrix (hash-derived, never stored),
    // generate candidates by cosine in the projected space — 4× less
    // compute and scan IO per comparison — and re-rank the 50 survivors
    // exactly. The JL trade is per-comparison cost, not candidate pruning
    // (every corpus vector is still touched once in 16-dim form); compose
    // with IVF cells when pruning is needed. The projection itself is
    // map-only codegen (sign literals baked into the expression, no UDF,
    // no shuffle). Measured (r11, ann_rp_recall): mean recall@10 is 0.41
    // at sf0.01 (screening 50 of 500 vectors — ~2× PQ's 0.21 on the same
    // corpus) and 0.12 at sf0.1 — the fixed RP_CAND=50 screen depth does
    // not scale with n, so a deployment sizes the candidate depth as a
    // FRACTION of the corpus (or composes with IVF) to hold recall. Bench
    // honesty: at sf0.1 in page cache the projection overhead exceeds the
    // 16-vs-64-dim savings (2.3 s vs brute force 1.0 s); the JL win is
    // storage-scan IO at real scale (a persisted 16-dim sketch reads 4×
    // fewer bytes), not in-memory compute at 2k vectors.
    GQuery(
      "ann_rp_topk",
      (s, dir) => rpTopk(s, dir),
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$rpSqlChain,
              |cand AS (SELECT q_id, cand_id FROM (
              |  SELECT q.q_id, p.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.q_id ORDER BY
              |      ${VectorOps.cosSql("q.qpv", "p.pv", "q.qpn", "p.pn")} DESC, p.vec_id) AS rn
              |  FROM (SELECT vec_id AS q_id, pv AS qpv, pn AS qpn FROM pe
              |        WHERE vec_id < $N_QUERIES) q
              |  CROSS JOIN pe p WHERE p.vec_id <> q.q_id) WHERE rn <= $RP_CAND),
              |rrk AS (SELECT c.q_id, c.cand_id,
              |    ${VectorOps.cosSql("qe.v", "b.v", "qe.nrm", "b.nrm")} AS cos
              |  FROM cand c JOIN e b ON c.cand_id = b.vec_id
              |  JOIN (SELECT vec_id, v, nrm FROM e WHERE vec_id < $N_QUERIES) qe
              |    ON c.q_id = qe.vec_id)
              |SELECT q_id, rank, cand_id, cos FROM (
              |  SELECT q_id, cand_id, cos,
              |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
              |  FROM rrk) WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // The JL operating CURVE: recall@10 at screen depth 25/50/100 — the
    // knob the sf0.01→sf0.1 recall drop (0.41→0.12) says must scale with
    // the corpus. The projected ranking computes ONCE (Materialize) and
    // the three depths filter it; ground truth likewise.
    GQuery(
      "ann_rp_recall_vs_depth",
      (s, dir) => {
        val pe = rpProjected(s, dir)
        val e = VectorOps.normalized(s, dir)
        val q = broadcast(pe.filter(col("vec_id") < N_QUERIES)
          .select(col("vec_id").as("q_id"), col("pv").as("qpv"), col("pn").as("qpn")))
        val cw = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("cand_id"))
        val ranked = Materialize(pe.join(q)
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("cand_id"),
            VectorOps.cosCol("qpv", "pv", "qpn", "pn").as("pcos"))
          .withColumn("rn", row_number().over(cw))
          .filter(col("rn") <= 100))
        val qe = broadcast(e.filter(col("vec_id") < N_QUERIES)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
        val bf = Materialize(bruteforceTopk(s, dir).select("q_id", "cand_id"))
        val rw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
        Seq(25, 50, 100).map { d =>
          val top = ranked.filter(col("rn") <= d).select("q_id", "cand_id")
            .join(e.select(col("vec_id").as("cand_id"), col("v"), col("nrm")), "cand_id")
            .join(qe, "q_id")
            .select(col("q_id"), col("cand_id"),
              VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
            .withColumn("rank", row_number().over(rw))
            .filter(col("rank") <= TOP_K)
            .select(col("q_id"), col("cand_id"), lit(1).as("hit"))
          bf.join(top, Seq("q_id", "cand_id"), "left")
            .groupBy("q_id").agg(count(col("hit")).as("n_hits"))
            .select(lit(d.toLong).as("depth"), col("q_id"), col("n_hits"),
              expr(s"n_hits * 1000000 div $TOP_K").as("recall_micro"))
        }.reduce(_ unionByName _).orderBy("depth", "q_id")
      },
      Some {
        val depths = Seq(25, 50, 100)
        val perDepth = depths.map { d =>
          s"""top$d AS (SELECT q_id, cand_id FROM (
             |  SELECT q_id, cand_id, cos,
             |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
             |  FROM rrk WHERE rn <= $d) WHERE rank <= $TOP_K),
             |hits$d AS (SELECT bf.q_id, CAST(COUNT(t.cand_id) AS BIGINT) AS n_hits
             |  FROM bf LEFT JOIN top$d t ON bf.q_id = t.q_id AND bf.cand_id = t.cand_id
             |  GROUP BY bf.q_id)""".stripMargin
        }.mkString(",\n")
        val unioned = depths.map(d =>
          s"SELECT $d AS depth, q_id, n_hits FROM hits$d").mkString(" UNION ALL ")
        s"""WITH ${VectorOps.normalizedSql},
           |$rpSqlChain,
           |candr AS (SELECT q_id, cand_id, rn FROM (
           |  SELECT q.q_id, p.vec_id AS cand_id,
           |    row_number() OVER (PARTITION BY q.q_id ORDER BY
           |      ${VectorOps.cosSql("q.qpv", "p.pv", "q.qpn", "p.pn")} DESC, p.vec_id) AS rn
           |  FROM (SELECT vec_id AS q_id, pv AS qpv, pn AS qpn FROM pe
           |        WHERE vec_id < $N_QUERIES) q
           |  CROSS JOIN pe p WHERE p.vec_id <> q.q_id) WHERE rn <= 100),
           |rrk AS (SELECT c.q_id, c.cand_id, c.rn,
           |    ${VectorOps.cosSql("qe.v", "b.v", "qe.nrm", "b.nrm")} AS cos
           |  FROM candr c JOIN e b ON c.cand_id = b.vec_id
           |  JOIN (SELECT vec_id, v, nrm FROM e WHERE vec_id < $N_QUERIES) qe
           |    ON c.q_id = qe.vec_id),
           |bscored AS (SELECT q.vec_id AS q_id, b.vec_id AS cand_id,
           |  ${VectorOps.cosSql("q.v", "b.v", "q.nrm", "b.nrm")} AS cos
           |  FROM (SELECT * FROM e WHERE vec_id < $N_QUERIES) q
           |  CROSS JOIN e b WHERE b.vec_id <> q.vec_id),
           |bf AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
           |  FROM bscored) WHERE rank <= $TOP_K),
           |$perDepth
           |SELECT CAST(depth AS BIGINT) AS depth, q_id, n_hits,
           |  n_hits * 1000000 // $TOP_K AS recall_micro
           |FROM ($unioned) ORDER BY depth, q_id""".stripMargin
      },
      bench = false // embeds the O(n²) truth — an offline audit
    ),

    // ---- Matryoshka prefix-dim recall curve ---------------------------------
    // The OTHER way to shrink vectors: instead of projecting through a
    // random matrix (RP above), just TRUNCATE — score by cosine over the
    // first d dimensions only (the Matryoshka-representation-learning
    // serving trick: one stored vector, any prefix is a valid cheaper
    // index). recall@10 vs the full-dim truth at d = 8/16/32/64; d=64 is
    // the embedded sanity row (prefix == full vector ⇒ recall 1.0 by
    // construction — if that row ever reads <1.0 the harness itself is
    // broken). On THIS corpus the embeddings are isotropic random floats,
    // so prefix-dim recall ≈ RP recall at equal dims (no learned
    // information concentration to exploit) — the measured curve is the
    // honest baseline a Matryoshka-trained model would have to beat.
    // Scale shape: prefix scoring is a map-only projection of the stored
    // vector (no second index to build or keep consistent — the
    // operational win over RP sketches); the O(n·q) exact scan here is
    // the audit form, a deployment screens with slice(v,1,d) inside any
    // of the pruned serving paths (IVF cells, RP survivors, graph beam).
    GQuery(
      "ann_dim_recall_curve",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val bf = Materialize(bruteforceTopk(s, dir).select("q_id", "cand_id"))
        Seq(8, 16, 32, 64).map { d =>
          val pe = e.select(col("vec_id"), expr(s"slice(v, 1, $d)").as("pv"))
            .withColumn("pn", expr(s"sqrt(${VectorOps.dotExpr("pv", "pv")})"))
          val q = broadcast(pe.filter(col("vec_id") < N_QUERIES)
            .select(col("vec_id").as("q_id"), col("pv").as("qpv"), col("pn").as("qpn")))
          val w = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("cand_id"))
          val top = pe.join(q).filter(col("vec_id") =!= col("q_id"))
            .select(col("q_id"), col("vec_id").as("cand_id"),
              VectorOps.cosCol("qpv", "pv", "qpn", "pn").as("pcos"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= TOP_K)
            .select(col("q_id"), col("cand_id"), lit(1).as("hit"))
          bf.join(top, Seq("q_id", "cand_id"), "left")
            .groupBy("q_id").agg(count(col("hit")).as("n_hits"))
            .select(lit(d.toLong).as("dim"), col("q_id"), col("n_hits"),
              expr(s"n_hits * 1000000 div $TOP_K").as("recall_micro"))
        }.reduce(_ unionByName _).orderBy("dim", "q_id")
      },
      Some {
        val dims = Seq(8, 16, 32, 64)
        val perDim = dims.map { d =>
          s"""pn$d AS (SELECT vec_id, pv, sqrt(${VectorOps.dotSql("pv", "pv")}) AS pn
             |  FROM (SELECT vec_id, v[1:$d] AS pv FROM e)),
             |top$d AS (SELECT q_id, cand_id FROM (
             |  SELECT q.q_id, p.vec_id AS cand_id,
             |    row_number() OVER (PARTITION BY q.q_id ORDER BY
             |      ${VectorOps.cosSql("q.qpv", "p.pv", "q.qpn", "p.pn")} DESC, p.vec_id) AS rn
             |  FROM (SELECT vec_id AS q_id, pv AS qpv, pn AS qpn FROM pn$d
             |        WHERE vec_id < $N_QUERIES) q
             |  CROSS JOIN pn$d p WHERE p.vec_id <> q.q_id) WHERE rn <= $TOP_K),
             |hits$d AS (SELECT bf.q_id, CAST(COUNT(t.cand_id) AS BIGINT) AS n_hits
             |  FROM bf LEFT JOIN top$d t ON bf.q_id = t.q_id AND bf.cand_id = t.cand_id
             |  GROUP BY bf.q_id)""".stripMargin
        }.mkString(",\n")
        val unioned = dims.map(d =>
          s"SELECT $d AS dim, q_id, n_hits FROM hits$d").mkString(" UNION ALL ")
        s"""WITH ${VectorOps.normalizedSql},
           |bscored AS (SELECT q.vec_id AS q_id, b.vec_id AS cand_id,
           |  ${VectorOps.cosSql("q.v", "b.v", "q.nrm", "b.nrm")} AS cos
           |  FROM (SELECT * FROM e WHERE vec_id < $N_QUERIES) q
           |  CROSS JOIN e b WHERE b.vec_id <> q.vec_id),
           |bf AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
           |  FROM bscored) WHERE rank <= $TOP_K),
           |$perDim
           |SELECT CAST(dim AS BIGINT) AS dim, q_id, n_hits,
           |  n_hits * 1000000 // $TOP_K AS recall_micro
           |FROM ($unioned) ORDER BY dim, q_id""".stripMargin
      },
      bench = false // embeds the O(n²) truth — an offline audit
    ),

    // The JL operating point, measured: recall@10 of the 50-candidate
    // projected-space screen vs the brute-force truth.
    GQuery(
      "ann_rp_recall",
      (s, dir) => {
        val bf = bruteforceTopk(s, dir).select("q_id", "cand_id")
        val rp = rpTopk(s, dir).select(col("q_id"), col("cand_id"), lit(1).as("hit"))
        bf.join(rp, Seq("q_id", "cand_id"), "left")
          .groupBy("q_id").agg(count(col("hit")).as("n_hits"))
          .select(lit("rp").as("method"), col("q_id"), col("n_hits"),
            expr(s"n_hits * 1000000 div $TOP_K").as("recall_micro"))
          .orderBy("q_id")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$rpSqlChain,
              |cand AS (SELECT q_id, cand_id FROM (
              |  SELECT q.q_id, p.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY q.q_id ORDER BY
              |      ${VectorOps.cosSql("q.qpv", "p.pv", "q.qpn", "p.pn")} DESC, p.vec_id) AS rn
              |  FROM (SELECT vec_id AS q_id, pv AS qpv, pn AS qpn FROM pe
              |        WHERE vec_id < $N_QUERIES) q
              |  CROSS JOIN pe p WHERE p.vec_id <> q.q_id) WHERE rn <= $RP_CAND),
              |rrk AS (SELECT c.q_id, c.cand_id,
              |    ${VectorOps.cosSql("qe.v", "b.v", "qe.nrm", "b.nrm")} AS cos
              |  FROM cand c JOIN e b ON c.cand_id = b.vec_id
              |  JOIN (SELECT vec_id, v, nrm FROM e WHERE vec_id < $N_QUERIES) qe
              |    ON c.q_id = qe.vec_id),
              |rtop AS (SELECT q_id, cand_id FROM (
              |  SELECT q_id, cand_id,
              |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
              |  FROM rrk) WHERE rank <= $TOP_K),
              |bscored AS (SELECT q.vec_id AS q_id, b.vec_id AS cand_id,
              |  ${VectorOps.cosSql("q.v", "b.v", "q.nrm", "b.nrm")} AS cos
              |  FROM (SELECT * FROM e WHERE vec_id < $N_QUERIES) q
              |  CROSS JOIN e b WHERE b.vec_id <> q.vec_id),
              |bf AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
              |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
              |  FROM bscored) WHERE rank <= $TOP_K),
              |hits AS (SELECT bf.q_id, CAST(COUNT(rtop.cand_id) AS BIGINT) AS n_hits
              |  FROM bf LEFT JOIN rtop ON bf.q_id = rtop.q_id AND bf.cand_id = rtop.cand_id
              |  GROUP BY bf.q_id)
              |SELECT 'rp' AS method, q_id, n_hits,
              |  n_hits * 1000000 // $TOP_K AS recall_micro
              |FROM hits ORDER BY q_id""".stripMargin),
      bench = false // embeds the O(n²) truth — an offline audit
    ),

    // ---- IVF × RP: cell pruning + sketch screen + exact re-rank -------------
    // See rpIvfTopk's scale notes: candidates are cell-bounded before the
    // 16-dim screen, so the fixed screen depth prices against cell size
    // (quantizer-held-constant at scale), not corpus size.
    GQuery(
      "ann_rp_ivf_topk",
      (s, dir) => rpIvfTopk(s, dir).orderBy("q_id", "rank"),
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$rpSqlChain,
              |$ivfCandSqlChain,
              |$rpIvfScreenSqlChain
              |SELECT q_id, rank, cand_id, cos FROM rtop WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // The composition's honesty metric, beside the tiers it composes:
    // recall@10 of plain IVF and of IVF×RP against the brute-force truth,
    // per query — what the 16-dim screen costs ON TOP of cell pruning.
    // (Measured means recorded at rpIvfTopk's doc.)
    GQuery(
      "ann_rp_ivf_recall",
      (s, dir) => {
        val bf = bruteforceTopk(s, dir).select("q_id", "cand_id")
        def recallRows(method: String, topk: DataFrame) =
          bf.join(topk.select(col("q_id"), col("cand_id"), lit(1).as("hit")),
              Seq("q_id", "cand_id"), "left")
            .groupBy("q_id").agg(count(col("hit")).as("n_hits"))
            .select(lit(method).as("method"), col("q_id"), col("n_hits"),
              expr(s"n_hits * 1000000 div $TOP_K").as("recall_micro"))
        recallRows("ivf", ivfTopk(s, dir))
          .unionByName(recallRows("ivf_rp", rpIvfTopk(s, dir)))
          .orderBy("method", "q_id")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$rpSqlChain,
              |$ivfCandSqlChain,
              |$rpIvfScreenSqlChain,
              |itoprk AS (SELECT cand.q_id, cand.cand_id,
              |    ${VectorOps.cosSql("qe.v", "b.v", "qe.nrm", "b.nrm")} AS cos
              |  FROM cand JOIN e b ON cand.cand_id = b.vec_id
              |  JOIN (SELECT vec_id, v, nrm FROM e WHERE vec_id < $N_QUERIES) qe
              |    ON cand.q_id = qe.vec_id),
              |itop AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
              |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
              |  FROM itoprk) WHERE rank <= $TOP_K),
              |bscored AS (SELECT q.q_id, e.vec_id AS cand_id,
              |  ${VectorOps.cosSql("q.qv", "e.v", "q.qn", "e.nrm")} AS cos
              |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
              |bf AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
              |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
              |  FROM bscored) WHERE rank <= $TOP_K),
              |ihits AS (SELECT bf.q_id, CAST(COUNT(t.cand_id) AS BIGINT) AS n_hits
              |  FROM bf LEFT JOIN itop t ON bf.q_id = t.q_id AND bf.cand_id = t.cand_id
              |  GROUP BY bf.q_id),
              |rhits AS (SELECT bf.q_id, CAST(COUNT(t.cand_id) AS BIGINT) AS n_hits
              |  FROM bf LEFT JOIN (SELECT q_id, cand_id FROM rtop WHERE rank <= $TOP_K) t
              |    ON bf.q_id = t.q_id AND bf.cand_id = t.cand_id
              |  GROUP BY bf.q_id),
              |res AS (
              |  SELECT 'ivf' AS method, q_id, n_hits FROM ihits
              |  UNION ALL
              |  SELECT 'ivf_rp', q_id, n_hits FROM rhits)
              |SELECT method, q_id, n_hits,
              |  n_hits * 1000000 // $TOP_K AS recall_micro
              |FROM res ORDER BY method, q_id""".stripMargin),
      bench = false // embeds the O(n²) truth — an offline audit
    ),

    // ---- recall-vs-nprobe sweep: the IVF operating-curve audit --------------
    // THE inverted-file tradeoff quantified: recall@10 at nprobe = 1/2/4
    // against the brute-force truth, per query — for BOTH coarse
    // quantizers: the first-N seeds and the same grid after one Lloyd
    // iteration. Per quantizer, the assignment, probe ranking, and ground
    // truth each compute ONCE (Materialize) and the three operating points
    // reuse them. Measured at sf0.01: seed 0.83/0.88/0.90 vs trained
    // 0.78/0.82/0.87 mean recall — on these STRUCTURELESS uniform
    // embeddings, training balances cells (lower probe-cost variance) at a
    // small recall cost, because moving centroids off actual corpus points
    // redraws boundaries through near-neighbor pairs; on clustered real
    // embeddings the iteration pulls centroids INTO the clusters and the
    // sign flips. That is the operating answer the side-by-side curve
    // exists to give. Offline audit like ann_recall (embeds the O(n²)
    // truth), unbenched by design.
    GQuery(
      "ann_recall_vs_nprobe",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val bf = Materialize(bruteforceTopk(s, dir).select("q_id", "cand_id"))
        val q = e.filter(col("vec_id") < N_QUERIES)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
        // one curve per coarse quantizer: the first-N seeds, and the same
        // seeds after one Lloyd iteration (trainedSeedSet) — side by side,
        // the measured answer to "does training the grid buy recall here"
        def curve(qz: String, seeds: DataFrame): DataFrame = {
          val assign = Materialize(
            assignToSeeds(e, seeds).select("vec_id", "v", "nrm", "seed_id"))
          val pw = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("seed_id"))
          val probesAll = Materialize(
            q.join(seeds)
              .select(col("q_id"), col("qv"), col("qn"), col("seed_id"),
                VectorOps.cosCol("qv", "sv", "qn", "sn").as("pcos"))
              .withColumn("rn", row_number().over(pw)))
          Seq(1, 2, 4).map { np =>
            val probes = probesAll.filter(col("rn") <= np)
              .select("q_id", "qv", "qn", "seed_id")
            val cand = probes.join(assign, "seed_id")
              .filter(col("vec_id") =!= col("q_id"))
              .select(col("q_id"), col("vec_id").as("cand_id"),
                VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
              .distinct()
            val rw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
            val topk = cand.withColumn("rank", row_number().over(rw))
              .filter(col("rank") <= TOP_K)
              .select(col("q_id"), col("cand_id"), lit(1).as("hit"))
            bf.join(topk, Seq("q_id", "cand_id"), "left")
              .groupBy("q_id").agg(count(col("hit")).as("n_hits"))
              .select(lit(qz).as("quantizer"), lit(np.toLong).as("nprobe"),
                col("q_id"), col("n_hits"))
          }.reduce(_ unionByName _)
        }
        curve("seed", seedSet(e))
          .unionByName(curve("trained_1iter", Materialize(trainedSeedSet(e))))
          .withColumn("recall", col("n_hits").cast("double") / TOP_K)
          .orderBy("quantizer", "nprobe", "q_id")
      },
      Some {
        def branch(np: Int, x: String): String =
          s"""cand$np$x AS (SELECT DISTINCT p.q_id, a.vec_id AS cand_id,
             |  ${VectorOps.cosSql("p.qv", "a.v", "p.qn", "a.nrm")} AS cos
             |  FROM probes0$x p JOIN assign$x a ON p.seed_id = a.seed_id
             |  WHERE p.rn <= $np AND a.vec_id <> p.q_id),
             |topk$np$x AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
             |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
             |  FROM cand$np$x) WHERE rank <= $TOP_K),
             |rec$np$x AS (SELECT CAST($np AS BIGINT) AS nprobe, bf.q_id,
             |  CAST(COUNT(t.cand_id) AS BIGINT) AS n_hits
             |  FROM bf LEFT JOIN topk$np$x t ON bf.q_id = t.q_id AND bf.cand_id = t.cand_id
             |  GROUP BY bf.q_id)""".stripMargin
        def probeChain(x: String, seedsCte: String): String =
          s"""assign0$x AS (SELECT e.vec_id, e.v, e.nrm, s.seed_id,
             |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |    ${VectorOps.cosSql("e.v", "s.sv", "e.nrm", "s.sn")} DESC, s.seed_id) AS rn
             |  FROM e CROSS JOIN $seedsCte s),
             |assign$x AS (SELECT vec_id, v, nrm, seed_id FROM assign0$x WHERE rn = 1),
             |probes0$x AS (SELECT q.q_id, q.qv, q.qn, s.seed_id,
             |  row_number() OVER (PARTITION BY q.q_id ORDER BY
             |    ${VectorOps.cosSql("q.qv", "s.sv", "q.qn", "s.sn")} DESC, s.seed_id) AS rn
             |  FROM q CROSS JOIN $seedsCte s),
             |${branch(1, x)},
             |${branch(2, x)},
             |${branch(4, x)}""".stripMargin
        s"""WITH ${VectorOps.normalizedSql},
           |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
           |bscored AS (SELECT q.q_id, e.vec_id AS cand_id,
           |  ${VectorOps.cosSql("q.qv", "e.v", "q.qn", "e.nrm")} AS cos
           |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
           |bf AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
           |  FROM bscored) WHERE rank <= $TOP_K),
           |seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
           |${probeChain("", "seeds")},
           |dims_t AS (SELECT seed_id, unnest(range(1, 65)) AS pos, v FROM assign),
           |sums_t AS (SELECT seed_id, pos,
           |  CAST(SUM(CAST(round(v[pos] * 1000000000) AS BIGINT)) AS BIGINT) AS sx,
           |  CAST(COUNT(*) AS BIGINT) AS nd
           |  FROM dims_t GROUP BY seed_id, pos),
           |cent_t AS (SELECT seed_id,
           |  list(CAST(sx AS DOUBLE) / 1000000000 / CAST(nd AS DOUBLE) ORDER BY pos) AS sv
           |  FROM sums_t GROUP BY seed_id),
           |seeds_t AS (SELECT seed_id, sv, sqrt(${VectorOps.dotSql("sv", "sv")}) AS sn FROM cent_t),
           |${probeChain("t", "seeds_t")},
           |sweep AS (
           |  SELECT 'seed' AS quantizer, * FROM rec1
           |  UNION ALL SELECT 'seed', * FROM rec2
           |  UNION ALL SELECT 'seed', * FROM rec4
           |  UNION ALL SELECT 'trained_1iter', * FROM rec1t
           |  UNION ALL SELECT 'trained_1iter', * FROM rec2t
           |  UNION ALL SELECT 'trained_1iter', * FROM rec4t)
           |SELECT quantizer, nprobe, q_id, n_hits, CAST(n_hits AS DOUBLE) / $TOP_K AS recall
           |FROM sweep ORDER BY quantizer, nprobe, q_id""".stripMargin
      },
      bench = false // embeds the O(n²) ground truth — an offline audit
    ),

    // ---- approximate k-NN graph (cell-scoped) -------------------------------
    // The neighbor-graph builder feeding clustering, graph dedup, and
    // diversity sampling: every vector's top-3 neighbors WITHIN its IVF
    // cell (argmax-cosine assignment, the dedup_semantic scoping). Pairwise
    // cost is O(Σ cell²) via the cell-id equi-join — the standard
    // approximate k-NN-graph seed (NN-Descent's starting state); cross-cell
    // neighbors are the documented recall trade, recoverable by multi-probe
    // assignment or merge rounds. At 100 TB: k ∝ n keeps cells bounded, and
    // each cell's block is local to one shuffle partition.
    GQuery(
      "ann_knn_graph",
      (s, dir) => knnGraphOf(s, dir).orderBy("vec_id", "rank"),
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$knnGraphSqlChain
              |SELECT vec_id, rank, nbr_id, cos FROM kg WHERE rank <= 3
              |ORDER BY vec_id, rank""".stripMargin)
    ),

    // One NN-Descent iteration over the cell-scoped graph — candidate pool
    // = direct ∪ reverse ∪ two-hop neighbors, exact re-rank (see
    // refineKnn's scale notes). The graph-ANN twin of ann_pq_trained's
    // "train the structure, keep probes cheap" move.
    GQuery(
      "ann_knn_refine",
      (s, dir) =>
        refineKnn(VectorOps.normalized(s, dir), Materialize(
          knnGraphOf(s, dir).select("vec_id", "nbr_id")
            .unionByName(randomInitEdges(s, dir))))
          .orderBy("vec_id", "rank"),
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$knnGraphSqlChain,
              |$knnRefineSqlChain
              |SELECT vec_id, rank, nbr_id, cos FROM rranked WHERE rank <= 3
              |ORDER BY vec_id, rank""".stripMargin)
    ),

    // The second NN-Descent iteration AS A GRAPH, not just as a recall row:
    // ann_knn_refine_recall measured that iteration 2 lifts recall (0.22 →
    // 0.36 on the uniform driver corpus; NnDescentSpec pins near-1.0
    // convergence on clustered data) — so the 2-iteration graph is a real
    // operating point and gets its own registered, oracle-paired entry.
    // Iteration 2 consumes iteration 1's graph alone (random init is a
    // START state only, per the published algorithm); candidate pools stay
    // degree-bounded, never corpus-quadratic — see refineKnn's scale notes.
    GQuery(
      "ann_knn_refine2",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val r1 = Materialize(refineKnn(e, Materialize(
          knnGraphOf(s, dir).select("vec_id", "nbr_id")
            .unionByName(randomInitEdges(s, dir)))))
        refineKnn(e, r1.select("vec_id", "nbr_id")).orderBy("vec_id", "rank")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$knnGraphSqlChain,
              |$knnRefineSqlChain,
              |g2 AS (SELECT vec_id, nbr_id FROM rranked WHERE rank <= 3),
              |${knnRefineStepSql("g2", "2")}
              |SELECT vec_id, rank, nbr_id, cos FROM rranked2 WHERE rank <= 3
              |ORDER BY vec_id, rank""".stripMargin)
    ),

    // ---- the NN-Descent convergence loop: K iterations, fixed-point stop ----
    // kmeansTrain's discipline applied to the graph index: iterate the
    // refine step up to K=3 rounds, measure per round how many directed
    // top-3 edges changed, stop early at the exact fixed point (the true
    // k-NN graph refines to itself). Output = the convergence curve. See
    // nnDescentTrain's scale notes; trainer-flagged in bench like the
    // BPE/WP/k-means loops.
    GQuery(
      "ann_knn_train",
      (s, dir) => nnDescentTrain(VectorOps.normalized(s, dir)),
      Some(nnDescentTrainOracleSql(NND_MAX_ITERS)),
      trainer = true
    ),

    // The measured convergence: recall of the seed graph, one iteration,
    // and two iterations against the exact top-3 of every vector —
    // "iterations compose" as an oracle-paired number, not prose.
    // Iteration 2 consumes iteration 1's graph alone (random init is a
    // START state only, per the published algorithm). Integer recall_micro
    // so the audit can never drift; the all-pairs truth derivation is the
    // documented broadcast-tiny-side exception (the ann_recall pattern) —
    // production measures on a sampled spine instead.
    GQuery(
      "ann_knn_refine_recall",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val g = Materialize(knnGraphOf(s, dir))
        val refined1 = refineKnn(e,
          Materialize(g.select("vec_id", "nbr_id")
            .unionByName(randomInitEdges(s, dir))))
        val r1 = Materialize(refined1)
        val refined2 = refineKnn(e, r1.select("vec_id", "nbr_id"))
        val a = e.select(col("vec_id"), col("v").as("av"), col("nrm").as("an"))
        val b = e.select(col("vec_id").as("nbr_id"), col("v").as("bv"), col("nrm").as("bn"))
        val all = a.join(b, col("vec_id") =!= col("nbr_id"))
          .select(col("vec_id"), col("nbr_id"),
            VectorOps.cosCol("av", "bv", "an", "bn").as("cos"))
        val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr_id"))
        val truth = Materialize(all.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3).select("vec_id", "nbr_id"))
        def audit(gr: DataFrame, m: String) =
          truth.join(
              gr.select(col("vec_id"), col("nbr_id"), lit(1).as("hit")),
              Seq("vec_id", "nbr_id"), "left")
            .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("n_truth"))
            .select(lit(m).as("method"), col("n_hits"), col("n_truth"),
              expr("n_hits * 1000000 div n_truth").as("recall_micro"))
        audit(g, "cell_seed")
          .unionByName(audit(r1, "nn_descent_1"))
          .unionByName(audit(refined2, "nn_descent_2"))
          .orderBy("method")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$knnGraphSqlChain,
              |$knnRefineSqlChain,
              |g2 AS (SELECT vec_id, nbr_id FROM rranked WHERE rank <= 3),
              |${knnRefineStepSql("g2", "2")},
              |allp AS (SELECT a.vec_id, b.vec_id AS nbr_id,
              |    ${VectorOps.cosSql("a.v", "b.v", "a.nrm", "b.nrm")} AS cos
              |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
              |truth AS (SELECT vec_id, nbr_id FROM (SELECT vec_id, nbr_id,
              |  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS rank
              |  FROM allp) WHERE rank <= 3),
              |res AS (
              |  SELECT 'cell_seed' AS method, CAST(COUNT(s.nbr_id) AS BIGINT) AS n_hits,
              |    $countStarSql AS n_truth
              |  FROM truth LEFT JOIN (SELECT vec_id, nbr_id FROM kg WHERE rank <= 3) s
              |    ON truth.vec_id = s.vec_id AND truth.nbr_id = s.nbr_id
              |  UNION ALL
              |  SELECT 'nn_descent_1', CAST(COUNT(r.nbr_id) AS BIGINT), $countStarSql
              |  FROM truth LEFT JOIN (SELECT vec_id, nbr_id FROM rranked WHERE rank <= 3) r
              |    ON truth.vec_id = r.vec_id AND truth.nbr_id = r.nbr_id
              |  UNION ALL
              |  SELECT 'nn_descent_2', CAST(COUNT(r2.nbr_id) AS BIGINT), $countStarSql
              |  FROM truth LEFT JOIN (SELECT vec_id, nbr_id FROM rranked2 WHERE rank <= 3) r2
              |    ON truth.vec_id = r2.vec_id AND truth.nbr_id = r2.nbr_id)
              |SELECT method, n_hits, n_truth, n_hits * 1000000 // n_truth AS recall_micro
              |FROM res ORDER BY method""".stripMargin),
      bench = false // embeds the O(n²) truth — an offline audit
    ),

    // ---- graph-ANN serving: beam search ------------------------------------
    // The missing ANN serving shape beside cell probes (IVF/PQ/SQ all probe
    // by cell): answer a NEW query vector by best-first graph walk from
    // fixed entry points — what HNSW/NSG deployments actually serve. B=3
    // bounded rounds of expand/re-rank/keep-top-W over the cell-scoped
    // top-3 graph; see graphBeamOver's scale notes. The persisted-graph
    // serving twin (graphBeamFromIndex) is pinned equal with its reads
    // audited (graph buckets + candidate vectors only).
    GQuery(
      "ann_graph_beam_topk",
      (s, dir) => graphBeamTopk(s, dir),
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$knnGraphSqlChain,
              |$beamSqlChain
              |SELECT q_id, rank, cand_id, cos FROM beamtop WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // The beam probe's honest measurement: recall@10 vs the brute-force
    // truth, per query, beside ann_recall's IVF number — an approximate
    // serving path without a recall row is unshippable (suite convention).
    GQuery(
      "ann_graph_beam_recall",
      (s, dir) => {
        val bf = bruteforceTopk(s, dir).select("q_id", "cand_id")
        val gb = graphBeamTopk(s, dir)
          .select(col("q_id"), col("cand_id"), lit(1).as("hit"))
        bf.join(gb, Seq("q_id", "cand_id"), "left")
          .groupBy("q_id").agg(count(col("hit")).as("n_hits"))
          .select(lit("graph_beam").as("method"), col("q_id"), col("n_hits"),
            expr(s"n_hits * 1000000 div $TOP_K").as("recall_micro"))
          .orderBy("q_id")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$knnGraphSqlChain,
              |$beamSqlChain,
              |bscored AS (SELECT q.q_id, e.vec_id AS cand_id,
              |  ${VectorOps.cosSql("q.qv", "e.v", "q.qn", "e.nrm")} AS cos
              |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
              |bf AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
              |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
              |  FROM bscored) WHERE rank <= $TOP_K),
              |gb AS (SELECT q_id, cand_id FROM beamtop WHERE rank <= $TOP_K),
              |hits AS (SELECT bf.q_id, CAST(COUNT(gb.cand_id) AS BIGINT) AS n_hits
              |  FROM bf LEFT JOIN gb ON bf.q_id = gb.q_id AND bf.cand_id = gb.cand_id
              |  GROUP BY bf.q_id)
              |SELECT 'graph_beam' AS method, q_id, n_hits,
              |  n_hits * 1000000 // $TOP_K AS recall_micro
              |FROM hits ORDER BY q_id""".stripMargin),
      bench = false // embeds the O(n²) truth — an offline audit
    ),

    // ---- beam WIDTH recall curve (the W knob priced) -----------------------
    // The serving knob the BEAM_W=4 default hides: per-query recall@10 at
    // W ∈ {2, 4, 8} over the same cell graph, rounds held fixed — the
    // probe-cost/recall trade is O(B·W·deg) per query, so doubling W
    // doubles frontier work and this curve says what that buys. Same
    // skeleton as ann_graph_beam_recall; the oracle instantiates the beam
    // chain three times (CTE names tag-suffixed) so one WITH clause
    // carries all three walks. Like the depth/nprobe/dim curves, this is
    // the measured operating table, not a theory note. Measured at sf0.01
    // (cell graph, structureless corpus): mean recall@10 0.04 / 0.05 /
    // 0.07 at W = 2 / 4 / 8 — the same data-bound ceiling the trained-
    // graph ladder documents (no neighborhood structure to exploit), but
    // the RELATIVE shape (W×4 → +75%) is the knob's price curve, and on
    // clustered corpora (NnDescentSpec) the same widening moves recall
    // 0.63 → 0.87.
    GQuery(
      "ann_beam_width_recall",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val edges = Materialize(knnGraphOf(s, dir).select("vec_id", "nbr_id"))
        val q = broadcast(e.filter(col("vec_id") < N_QUERIES)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
        val bf = bruteforceTopk(s, dir).select("q_id", "cand_id")
        Seq(2, 4, 8).map { w =>
          val gb = graphBeamOver(e, edges, q, beamW = w)
            .select(col("q_id"), col("cand_id"), lit(1).as("hit"))
          bf.join(gb, Seq("q_id", "cand_id"), "left")
            .groupBy("q_id").agg(count(col("hit")).as("n_hits"))
            .select(lit(w.toLong).as("beam_w"), col("q_id"), col("n_hits"),
              expr(s"n_hits * 1000000 div $TOP_K").as("recall_micro"))
        }.reduce(_ unionByName _).orderBy("beam_w", "q_id")
      },
      Some {
        val chains = Seq(2, 4, 8)
          .map(w => beamSqlChainFrom("kg", beamW = w, tag = s"w$w"))
          .mkString(",\n")
        val hits = Seq(2, 4, 8).map { w =>
          s"""hitsw$w AS (SELECT bf.q_id, CAST(COUNT(gb.cand_id) AS BIGINT) AS n_hits
             |  FROM bf LEFT JOIN (SELECT q_id, cand_id FROM beamtopw$w
             |    WHERE rank <= $TOP_K) gb
             |    ON bf.q_id = gb.q_id AND bf.cand_id = gb.cand_id
             |  GROUP BY bf.q_id)""".stripMargin
        }.mkString(",\n")
        val sel = Seq(2, 4, 8).map { w =>
          s"""SELECT CAST($w AS BIGINT) AS beam_w, q_id, n_hits,
             |  n_hits * 1000000 // $TOP_K AS recall_micro FROM hitsw$w""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH ${VectorOps.normalizedSql},
           |$knnGraphSqlChain,
           |$chains,
           |wscored AS (SELECT qn0.q_id, e.vec_id AS cand_id,
           |  ${VectorOps.cosSql("qn0.qv", "e.v", "qn0.qn", "e.nrm")} AS cos
           |  FROM e CROSS JOIN (SELECT vec_id AS q_id, v AS qv, nrm AS qn
           |    FROM e WHERE vec_id < $N_QUERIES) qn0
           |  WHERE e.vec_id <> qn0.q_id),
           |bf AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
           |  FROM wscored) WHERE rank <= $TOP_K),
           |$hits
           |$sel
           |ORDER BY beam_w, q_id""".stripMargin
      },
      bench = false // embeds the O(n²) truth — an offline audit
    ),

    // ---- beam search over the TRAINED graph --------------------------------
    // The serving fix the recall audit demanded, in two measured moves:
    // (1) TRAIN the edge set — the cell-scoped seed graph's edges are
    // strictly INTRA-cell, so a beam walk can never leave its entry
    // points' cells (measured r11: ann_graph_beam_topk mean recall@10 is
    // 0.05 at sf0.01, 0.01 at sf0.1 — trapped walks, not a bug); one
    // NN-Descent iteration rewires it with cross-cell edges. (2) Walk the
    // UNDIRECTED closure — a directed top-3 graph only exposes each
    // node's own out-edges, and the nodes that point INTO the query's
    // neighborhood are unreachable; symmetric links are why HNSW inserts
    // edges bidirectionally. The full measured ladder on the clustered
    // NnDescentSpec corpus (recall@3): seed-directed 0.03 → trained-
    // directed 0.27 → trained-directed deep walk 0.63 → trained-
    // UNDIRECTED deep walk 0.87. On the structureless driver corpus the
    // same moves only lift mean recall@10 from 0.05 to 0.18 at sf0.01 —
    // there is no neighborhood structure to capture, so the IVF probe
    // (recall 0.83-0.90 there) is the right tier on THAT corpus and the
    // trained graph is the right tier on clustered real embeddings. Walk
    // cost is unchanged (degree-bounded expansions; und closure ≤ doubles
    // degree).
    GQuery(
      "ann_graph_beam_refined_topk",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val r1 = refineKnn(e, Materialize(
          knnGraphOf(s, dir).select("vec_id", "nbr_id")
            .unionByName(randomInitEdges(s, dir))))
          .select("vec_id", "nbr_id")
        // checkpoint, not persist: the und closure references the refine
        // chain twice and every beam round references it again — truncate
        // the deep training lineage before the walk (see graphBeamOver)
        val edges = DedupQueries.reliableCheckpoint(s)(
          r1.unionByName(
            r1.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id")))
            .distinct())
        Materialize.track(edges)
        edges.count()
        val q = broadcast(e.filter(col("vec_id") < N_QUERIES)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
        graphBeamOver(e, edges, q).orderBy("q_id", "rank")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$knnGraphSqlChain,
              |$knnRefineSqlChain,
              |${beamSqlChainFrom("rranked", undirected = true)}
              |SELECT q_id, rank, cand_id, cos FROM beamtop WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // The trained-graph serving recall, beside the seed-graph number — the
    // measured answer to "what did training the edge set buy the probe".
    GQuery(
      "ann_graph_beam_refined_recall",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val bf = bruteforceTopk(s, dir).select("q_id", "cand_id")
        val r1 = refineKnn(e, Materialize(
          knnGraphOf(s, dir).select("vec_id", "nbr_id")
            .unionByName(randomInitEdges(s, dir))))
          .select("vec_id", "nbr_id")
        // checkpoint, not persist: the und closure references the refine
        // chain twice and every beam round references it again — truncate
        // the deep training lineage before the walk (see graphBeamOver)
        val edges = DedupQueries.reliableCheckpoint(s)(
          r1.unionByName(
            r1.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id")))
            .distinct())
        Materialize.track(edges)
        edges.count()
        val q = broadcast(e.filter(col("vec_id") < N_QUERIES)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
        val gb = graphBeamOver(e, edges, q)
          .select(col("q_id"), col("cand_id"), lit(1).as("hit"))
        bf.join(gb, Seq("q_id", "cand_id"), "left")
          .groupBy("q_id").agg(count(col("hit")).as("n_hits"))
          .select(lit("graph_beam_refined").as("method"), col("q_id"), col("n_hits"),
            expr(s"n_hits * 1000000 div $TOP_K").as("recall_micro"))
          .orderBy("q_id")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$knnGraphSqlChain,
              |$knnRefineSqlChain,
              |${beamSqlChainFrom("rranked", undirected = true)},
              |bscored AS (SELECT q.q_id, e.vec_id AS cand_id,
              |  ${VectorOps.cosSql("q.qv", "e.v", "q.qn", "e.nrm")} AS cos
              |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
              |bf AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
              |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
              |  FROM bscored) WHERE rank <= $TOP_K),
              |gb AS (SELECT q_id, cand_id FROM beamtop WHERE rank <= $TOP_K),
              |hits AS (SELECT bf.q_id, CAST(COUNT(gb.cand_id) AS BIGINT) AS n_hits
              |  FROM bf LEFT JOIN gb ON bf.q_id = gb.q_id AND bf.cand_id = gb.cand_id
              |  GROUP BY bf.q_id)
              |SELECT 'graph_beam_refined' AS method, q_id, n_hits,
              |  n_hits * 1000000 // $TOP_K AS recall_micro
              |FROM hits ORDER BY q_id""".stripMargin),
      bench = false // embeds the O(n²) truth — an offline audit
    ),

    // ---- entry-point POLICY on the trained graph: k-center entries ----------
    // HNSW's upper layers exist to answer one question — where should the
    // walk START? — and the k-center coreset (§ann_kcenter_coreset) is the
    // principled answer: K exemplars whose cover radius is ≤ 2× optimal,
    // so no query is far from some entry. This entry composes the two
    // trainers: beam search over the NN-Descent-trained UNDIRECTED graph,
    // entered from the K=6 k-center exemplars instead of the 16 build
    // seeds. Measured at sf0.01 vs ann_graph_beam_refined_recall on the
    // same graph: mean recall@10 0.22 from 6 metric-spread entries vs
    // 0.18 from 16 arbitrary seeds — BETTER recall from 62% fewer entry
    // scorings, because spread beats count once the graph is connected
    // (on the structureless corpus both sit far below the IVF tier —
    // the refined-recall note's caveat stands). Entry scoring is
    // K·n_queries exact dots; walk cost is unchanged.
    GQuery(
      "ann_graph_beam_kcenter_topk",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val edges = refinedUndirectedEdges(s, dir)
        val q = broadcast(e.filter(col("vec_id") < N_QUERIES)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
        val kcIds = kcenterTrain(s, dir, KCENTER_K)._2.map(_._1)
        graphBeamOver(e, edges, q,
          entryFilter = col("vec_id").isin(kcIds.map(i => i: Any): _*))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$knnGraphSqlChain,
              |$knnRefineSqlChain,
              |${kcenterOracleChain(KCENTER_K)},
              |${beamSqlChainFrom("rranked", undirected = true,
                 entryWhere = s"s.vec_id IN (SELECT vec_id FROM kcall$KCENTER_K)")}
              |SELECT q_id, rank, cand_id, cos FROM beamtop WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin),
      trainer = true // carries the k-center greedy + NN-Descent rounds
    ),

    GQuery(
      "ann_graph_beam_kcenter_recall",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val bf = bruteforceTopk(s, dir).select("q_id", "cand_id")
        val edges = refinedUndirectedEdges(s, dir)
        val q = broadcast(e.filter(col("vec_id") < N_QUERIES)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
        val kcIds = kcenterTrain(s, dir, KCENTER_K)._2.map(_._1)
        val gb = graphBeamOver(e, edges, q,
            entryFilter = col("vec_id").isin(kcIds.map(i => i: Any): _*))
          .select(col("q_id"), col("cand_id"), lit(1).as("hit"))
        bf.join(gb, Seq("q_id", "cand_id"), "left")
          .groupBy("q_id").agg(count(col("hit")).as("n_hits"))
          .select(lit("graph_beam_kcenter").as("method"), col("q_id"), col("n_hits"),
            expr(s"n_hits * 1000000 div $TOP_K").as("recall_micro"))
          .orderBy("q_id")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$knnGraphSqlChain,
              |$knnRefineSqlChain,
              |${kcenterOracleChain(KCENTER_K)},
              |${beamSqlChainFrom("rranked", undirected = true,
                 entryWhere = s"s.vec_id IN (SELECT vec_id FROM kcall$KCENTER_K)")},
              |bscored AS (SELECT q.q_id, e.vec_id AS cand_id,
              |  ${VectorOps.cosSql("q.qv", "e.v", "q.qn", "e.nrm")} AS cos
              |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
              |bf AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
              |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
              |  FROM bscored) WHERE rank <= $TOP_K),
              |gb AS (SELECT q_id, cand_id FROM beamtop WHERE rank <= $TOP_K),
              |hits AS (SELECT bf.q_id, CAST(COUNT(gb.cand_id) AS BIGINT) AS n_hits
              |  FROM bf LEFT JOIN gb ON bf.q_id = gb.q_id AND bf.cand_id = gb.cand_id
              |  GROUP BY bf.q_id)
              |SELECT 'graph_beam_kcenter' AS method, q_id, n_hits,
              |  n_hits * 1000000 // $TOP_K AS recall_micro
              |FROM hits ORDER BY q_id""".stripMargin),
      bench = false // embeds the O(n²) truth — an offline audit
    ),

    // ---- semantic decontamination: eval-set proximity purge -----------------
    // The embedding-space complement of pipeline_decontaminate's n-gram
    // containment (the hygiene pass several published LLM data pipelines
    // run alongside it): paraphrased or reformatted benchmark leakage
    // shares almost no 8-grams with its source but sits next to it in
    // embedding space. For every training vector, the maximum cosine
    // against the (small by definition) eval set, its argmax eval item,
    // and a τ=0.45 flag — emitted as the top-100 review queue ordered by
    // contamination score, which is what a practitioner actually triages
    // (a bare boolean hides the near-misses just under τ). Scale shape:
    // the eval side BROADCASTS (the pipeline_decontaminate discipline —
    // eval suites are bounded), the corpus side is one map pass through
    // the broadcast nested-loop scoring, the per-train argmax shuffles
    // (train_vec_id, cos) pairs only, and TakeOrdered keeps the queue;
    // the corpus is never shuffled with its vectors. An eval set too big
    // to broadcast probes the persisted IVF index instead (runAnnProbe's
    // shape, with max-cos folded from the probe lists). τ calibration:
    // the synthetic corpus's max pairwise cos ≈ 0.51 (see dedup_semantic)
    // — 0.45 fires on the true tail; production text embeddings would
    // run ~0.9+.
    GQuery(
      "pipeline_decontaminate_semantic",
      (s, dir) =>
        decontamVerdicts(
          VectorOps.normalized(s, dir).filter(col("vec_id") % 10 =!= 0),
          decontamEvalSet(s, dir))
          .orderBy(col("max_cos").desc, col("train_vec_id"))
          .limit(100),
      Some(s"""WITH ${VectorOps.normalizedSql},
              |sdeval AS (SELECT vec_id AS eval_vec_id, v AS ev, nrm AS en
              |  FROM e WHERE vec_id % 10 = 0),
              |sdtrain AS (SELECT vec_id AS train_vec_id, v, nrm
              |  FROM e WHERE vec_id % 10 <> 0),
              |sdscored AS (SELECT train_vec_id, eval_vec_id,
              |    ${VectorOps.cosSql("sdtrain.v", "ev", "sdtrain.nrm", "en")} AS cos
              |  FROM sdtrain CROSS JOIN sdeval),
              |sdbest AS (SELECT train_vec_id, eval_vec_id, cos,
              |    row_number() OVER (PARTITION BY train_vec_id
              |      ORDER BY cos DESC, eval_vec_id) AS rn FROM sdscored)
              |SELECT train_vec_id, eval_vec_id, cos AS max_cos,
              |  CAST(cos >= 0.45 AS BIGINT) AS flagged
              |FROM sdbest WHERE rn = 1
              |ORDER BY max_cos DESC, train_vec_id LIMIT 100""".stripMargin)
    ),

    // The index-scale decontaminator — the "eval set too big to broadcast"
    // swap the entry above documents, as a registered entry: the eval side
    // is IVF-assigned (shared full-corpus seed geometry), each train
    // vector scores only its N_PROBE nearest cells' eval rows through a
    // cell EQUI-join (never the eval-broadcast nested loop, never a
    // train×eval product), and the top-100 review queue ranks the
    // surviving argmax verdicts. Probed-cell restriction = the standing
    // IVF recall trade; a train vector whose probed cells hold no eval
    // rows has no verdict row (absent from a HIGHEST-risk queue by
    // construction). Serving twin: [[decontamVerdictsFromIndex]] over the
    // persisted eval index, pinned in PartitionBucketSpec.
    GQuery(
      "pipeline_decontaminate_ivf",
      (s, dir) => decontamVerdictsIvf(s, dir)
        .orderBy(col("max_cos").desc, col("train_vec_id"))
        .limit(100),
      Some(s"""WITH ${VectorOps.normalizedSql},
              |seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
              |diva0 AS (SELECT e.vec_id, e.v, e.nrm, seeds.seed_id,
              |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
              |    ${VectorOps.cosSql("e.v", "seeds.sv", "e.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
              |  FROM e CROSS JOIN seeds WHERE e.vec_id % 10 = 0),
              |diva AS (SELECT vec_id AS eval_vec_id, v AS ev, nrm AS en, seed_id
              |  FROM diva0 WHERE rn = 1),
              |ditr AS (SELECT vec_id AS train_vec_id, v, nrm FROM e WHERE vec_id % 10 <> 0),
              |dipr0 AS (SELECT train_vec_id, ditr.v, ditr.nrm, seeds.seed_id,
              |  row_number() OVER (PARTITION BY train_vec_id ORDER BY
              |    ${VectorOps.cosSql("ditr.v", "seeds.sv", "ditr.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
              |  FROM ditr CROSS JOIN seeds),
              |dipr AS (SELECT train_vec_id, v, nrm, seed_id FROM dipr0 WHERE rn <= $N_PROBE),
              |disc AS (SELECT train_vec_id, eval_vec_id,
              |    ${VectorOps.cosSql("dipr.v", "ev", "dipr.nrm", "en")} AS cos
              |  FROM dipr JOIN diva ON dipr.seed_id = diva.seed_id),
              |dibest AS (SELECT train_vec_id, eval_vec_id, cos,
              |    row_number() OVER (PARTITION BY train_vec_id
              |      ORDER BY cos DESC, eval_vec_id) AS rn FROM disc)
              |SELECT train_vec_id, eval_vec_id, cos AS max_cos,
              |  CAST(cos >= 0.45 AS BIGINT) AS flagged
              |FROM dibest WHERE rn = 1
              |ORDER BY max_cos DESC, train_vec_id LIMIT 100""".stripMargin)
    ),

    // ---- hard-negative mining (retrieval training data) ---------------------
    // The contrastive-training complement of ANN serving (the DPR/ANCE
    // recipe): for each query, the most-similar candidates that are NOT
    // near-duplicates — cos below the dedup threshold τ=0.45 but as high
    // as possible — are the hard negatives a retriever learns the most
    // from (random negatives are trivially separable; near-dups are false
    // negatives that poison the loss). Emits the top-5 band-filtered
    // negatives per query. Scale: the query side broadcasts (bounded
    // batch), candidates come from one map pass over the corpus — same
    // shape as ann_bruteforce_topk — and at index scale the candidate
    // generator swaps to the persisted IVF probe with the τ band applied
    // after scoring (the filtered-ANN discipline: the band is a predicate
    // on an already-scored bounded list, never a new scan).
    GQuery(
      "pipeline_hard_negatives",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val q = broadcast(e.filter(col("vec_id") < N_QUERIES)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
        val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("neg_id"))
        e.join(q, col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("neg_id"),
            VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
          .filter(col("cos") < 0.45)
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select("q_id", "rank", "neg_id", "cos")
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |hnq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e
              |  WHERE vec_id < $N_QUERIES),
              |hns AS (SELECT q_id, e.vec_id AS neg_id,
              |    ${VectorOps.cosSql("qv", "e.v", "qn", "e.nrm")} AS cos
              |  FROM e CROSS JOIN hnq WHERE e.vec_id <> q_id),
              |hnr AS (SELECT q_id, neg_id, cos,
              |    CAST(row_number() OVER (PARTITION BY q_id
              |      ORDER BY cos DESC, neg_id) AS BIGINT) AS rank
              |  FROM hns WHERE cos < 0.45)
              |SELECT q_id, rank, neg_id, cos FROM hnr WHERE rank <= 5
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // The index-scale form of the miner above — the swap its scale note
    // promises, as a REGISTERED entry (the r7 band-index precedent: every
    // prose scale-claim becomes a pinned plan): candidates come from the
    // IVF probed-cell set instead of the corpus pass, the τ band applies
    // after scoring (the filtered-ANN discipline), top-5 survivors per
    // query. The probed-cell restriction is the standing IVF recall trade
    // (ann_ivf_topk vs ann_bruteforce_topk) applied to mining; the oracle
    // is the ivf candidate chain + band, so the hash match pins the
    // banded-rank semantics exactly. Serving twin: the persisted-index
    // [[hardNegativesFromIndex]], pinned row-identical in
    // PartitionBucketSpec.
    GQuery(
      "pipeline_hard_negatives_ivf",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val seeds = seedSet(e)
        val assign = assignToSeeds(e, seeds).select("vec_id", "v", "nrm", "seed_id")
        val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("neg_id"))
        queryProbes(e, seeds).join(assign, "seed_id")
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("neg_id"),
            VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
          .distinct()
          .filter(col("cos") < 0.45)
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select("q_id", "rank", "neg_id", "cos")
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH $ivfRankedSql,
              |hnivf AS (SELECT q_id, cand_id AS neg_id, cos,
              |    CAST(row_number() OVER (PARTITION BY q_id
              |      ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
              |  FROM cand WHERE cos < 0.45)
              |SELECT q_id, rank, neg_id, cos FROM hnivf WHERE rank <= 5
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // ---- semantic dedup (SemDeDup): cluster-scoped near-dup drop ------------
    // The embedding-space dedup shape from Abbas et al. 2023 (SemDeDup):
    // assign every vector to its nearest seed cell, then compare pairs ONLY
    // within a cell and drop each vector that has a lower-id cell-mate with
    // cosine >= τ (keeping the lowest id as the representative). The
    // pairwise stage is an equi-join on the cell id — O(Σ cell²), never the
    // corpus cross product; at 100 TB the cluster count scales with the
    // corpus (k ∝ n) so cells stay bounded-size and each cell's pair block
    // is local to one shuffle partition. Cross-cell near-dups are the
    // documented recall trade (same as every IVF-family probe). τ = 0.4 is
    // calibrated to the synthetic structureless embeddings (max pairwise
    // cos ≈ 0.51 — production near-dup thresholds of ~0.95+ would fire on
    // nothing here); the semantics under test are cell-scoping + the
    // keep-lowest rule, which the oracle mirrors exactly.
    GQuery(
      "dedup_semantic",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        // materialized once: the pair self-join's two sides AND the final
        // verdict join all read the assignment (three derivations without
        // the cache — the q_pagerank_iter discipline)
        val assign = Materialize(
          assignToSeeds(e, seedSet(e)).select("vec_id", "v", "nrm", "seed_id"))
        val a = assign.select(col("seed_id"), col("vec_id").as("a_id"),
          col("v").as("av"), col("nrm").as("an"))
        val b = assign.select(col("seed_id"), col("vec_id").as("b_id"),
          col("v").as("bv"), col("nrm").as("bn"))
        val dup = a.join(b, Seq("seed_id"))
          .filter(col("a_id") < col("b_id"))
          .select(col("b_id"), col("a_id"),
            VectorOps.cosCol("av", "bv", "an", "bn").as("cos"))
          .filter(col("cos") >= SEM_TAU)
          .groupBy("b_id").agg(min(col("a_id")).as("dup_of"))
        assign.select("vec_id", "seed_id")
          .join(dup, col("vec_id") === col("b_id"), "left")
          .select(col("vec_id"),
            when(col("dup_of").isNotNull, "drop").otherwise("keep").as("verdict"),
            col("dup_of"), col("seed_id").as("cell"))
          .orderBy("vec_id")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
              |assign0 AS (SELECT e.vec_id, e.v, e.nrm, seeds.seed_id,
              |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
              |    ${VectorOps.cosSql("e.v", "seeds.sv", "e.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
              |  FROM e CROSS JOIN seeds),
              |assign AS (SELECT vec_id, v, nrm, seed_id FROM assign0 WHERE rn = 1),
              |dup AS (SELECT b.vec_id AS b_id, MIN(a.vec_id) AS dup_of
              |  FROM assign a JOIN assign b
              |    ON a.seed_id = b.seed_id AND a.vec_id < b.vec_id
              |  WHERE ${VectorOps.cosSql("a.v", "b.v", "a.nrm", "b.nrm")} >= $SEM_TAU
              |  GROUP BY b.vec_id)
              |SELECT assign.vec_id,
              |  CASE WHEN dup_of IS NOT NULL THEN 'drop' ELSE 'keep' END AS verdict,
              |  dup_of, assign.seed_id AS cell
              |FROM assign LEFT JOIN dup ON assign.vec_id = dup.b_id
              |ORDER BY assign.vec_id""".stripMargin)
    ),

    // Multi-probe SemDeDup: each vector joins candidate generation in its
    // TOP-2 cells (the docs' promised recovery for cross-cell near-dups —
    // a vector near a cell boundary now meets the neighbors on both
    // sides). Cost bound doubles to O(Σ (2·cell)²) worst case, still never
    // corpus-quadratic; the verdict rule (cos >= τ, keep lowest id) and
    // the reported primary cell are unchanged, so single- and multi-probe
    // reports diff row-for-row. The recall audit beside this measures what
    // the second probe buys.
    GQuery(
      "dedup_semantic_multiprobe",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val assign2 = Materialize(assignTop2(e, seedSet(e)))
        val a = assign2.select(col("seed_id"), col("vec_id").as("a_id"),
          col("v").as("av"), col("nrm").as("an"))
        val b = assign2.select(col("seed_id"), col("vec_id").as("b_id"),
          col("v").as("bv"), col("nrm").as("bn"))
        // a pair sharing BOTH top-2 cells scores twice; min() absorbs the
        // duplicate without a distinct
        val dup = a.join(b, Seq("seed_id"))
          .filter(col("a_id") < col("b_id"))
          .select(col("b_id"), col("a_id"),
            VectorOps.cosCol("av", "bv", "an", "bn").as("cos"))
          .filter(col("cos") >= SEM_TAU)
          .groupBy("b_id").agg(min(col("a_id")).as("dup_of"))
        assign2.filter(col("rn") === 1).select("vec_id", "seed_id")
          .join(dup, col("vec_id") === col("b_id"), "left")
          .select(col("vec_id"),
            when(col("dup_of").isNotNull, "drop").otherwise("keep").as("verdict"),
            col("dup_of"), col("seed_id").as("cell"))
          .orderBy("vec_id")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
              |assign0 AS (SELECT e.vec_id, e.v, e.nrm, seeds.seed_id,
              |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
              |    ${VectorOps.cosSql("e.v", "seeds.sv", "e.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
              |  FROM e CROSS JOIN seeds),
              |assign2 AS (SELECT vec_id, v, nrm, seed_id, rn FROM assign0 WHERE rn <= 2),
              |dup AS (SELECT b.vec_id AS b_id, MIN(a.vec_id) AS dup_of
              |  FROM assign2 a JOIN assign2 b
              |    ON a.seed_id = b.seed_id AND a.vec_id < b.vec_id
              |  WHERE ${VectorOps.cosSql("a.v", "b.v", "a.nrm", "b.nrm")} >= $SEM_TAU
              |  GROUP BY b.vec_id),
              |prim AS (SELECT vec_id, seed_id FROM assign2 WHERE rn = 1)
              |SELECT prim.vec_id,
              |  CASE WHEN dup_of IS NOT NULL THEN 'drop' ELSE 'keep' END AS verdict,
              |  dup_of, prim.seed_id AS cell
              |FROM prim LEFT JOIN dup ON prim.vec_id = dup.b_id
              |ORDER BY prim.vec_id""".stripMargin)
    ),

    // The measurement the multi-probe claim rests on: of all true τ-pairs
    // (brute force — offline audit), how many does each scoping recover?
    // Integer recall_micro; the O(n²) truth is the ann_recall exception.
    GQuery(
      "dedup_semantic_recall",
      (s, dir) => {
        val e = VectorOps.normalized(s, dir)
        val assign2 = Materialize(assignTop2(e, seedSet(e)))
        val av = e.select(col("vec_id").as("a_id"), col("v").as("av"), col("nrm").as("an"))
        val bv = e.select(col("vec_id").as("b_id"), col("v").as("bv"), col("nrm").as("bn"))
        val truthN = Materialize(
          av.join(bv, col("a_id") < col("b_id"))
            .filter(VectorOps.cosCol("av", "bv", "an", "bn") >= SEM_TAU)
            .agg(count(lit(1)).as("n_truth")))
        def found(asg: DataFrame): DataFrame = {
          val a = asg.select(col("seed_id"), col("vec_id").as("a_id"),
            col("v").as("av"), col("nrm").as("an"))
          val b = asg.select(col("seed_id"), col("vec_id").as("b_id"),
            col("v").as("bv"), col("nrm").as("bn"))
          a.join(b, Seq("seed_id"))
            .filter(col("a_id") < col("b_id"))
            .filter(VectorOps.cosCol("av", "bv", "an", "bn") >= SEM_TAU)
            .select("a_id", "b_id").distinct()
        }
        def row(m: String, asg: DataFrame) =
          found(asg).agg(count(lit(1)).as("n_pairs"))
            .crossJoin(broadcast(truthN)) // 1-row bound
            .select(lit(m).as("method"), col("n_pairs"), col("n_truth"),
              expr("n_pairs * 1000000 div n_truth").as("recall_micro"))
        row("single_probe", assign2.filter(col("rn") === 1))
          .unionByName(row("multi_probe_2", assign2))
          .orderBy("method")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
              |assign0 AS (SELECT e.vec_id, e.v, e.nrm, seeds.seed_id,
              |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
              |    ${VectorOps.cosSql("e.v", "seeds.sv", "e.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
              |  FROM e CROSS JOIN seeds),
              |assign2 AS (SELECT vec_id, v, nrm, seed_id, rn FROM assign0 WHERE rn <= 2),
              |tr AS (SELECT $countStarSql AS n_truth FROM e a JOIN e b
              |  ON a.vec_id < b.vec_id
              |  WHERE ${VectorOps.cosSql("a.v", "b.v", "a.nrm", "b.nrm")} >= $SEM_TAU),
              |f1 AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
              |  FROM assign2 a JOIN assign2 b
              |    ON a.seed_id = b.seed_id AND a.vec_id < b.vec_id
              |  WHERE a.rn = 1 AND b.rn = 1
              |    AND ${VectorOps.cosSql("a.v", "b.v", "a.nrm", "b.nrm")} >= $SEM_TAU),
              |f2 AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
              |  FROM assign2 a JOIN assign2 b
              |    ON a.seed_id = b.seed_id AND a.vec_id < b.vec_id
              |  WHERE ${VectorOps.cosSql("a.v", "b.v", "a.nrm", "b.nrm")} >= $SEM_TAU),
              |res AS (
              |  SELECT 'single_probe' AS method, (SELECT $countStarSql FROM f1) AS n_pairs, n_truth FROM tr
              |  UNION ALL
              |  SELECT 'multi_probe_2', (SELECT $countStarSql FROM f2), n_truth FROM tr)
              |SELECT method, n_pairs, n_truth, n_pairs * 1000000 // n_truth AS recall_micro
              |FROM res ORDER BY method""".stripMargin),
      bench = false // embeds the O(n²) truth — an offline audit
    ),

    // ---- SemDeDup over WHITENED vectors: the projection meets its consumer --
    // The stated purpose of ann_pca_whiten (strip the dominant direction so
    // it can't swamp cosine similarity — the PcaPowerSpec "deflates spurious
    // similarity" measurement) applied to the pipeline that motivated it:
    // cell assignment AND pairwise cosine both run in the whitened space
    // (v′ = v − (v·u)u, nrm = residual length), same τ and keep-lowest rule
    // as dedup_semantic, so the two reports diff row-for-row. Scale shape is
    // unchanged — the whitening adds one Gram census (the shared one-pass
    // gramOf) and a map-only projection in front of the same cell-scoped
    // O(Σ cell²) pair join. Measured delta vs the raw-space report at
    // sf0.01 (structureless corpus): whitening strips only ~1.4% of each
    // vector's energy (mean residual/original norm 0.9864 — no dominant
    // direction to remove), the brute-force τ=0.4 pair truth barely moves
    // (59 → 57 pairs), drop counts stay 11/500 with 6 verdicts flipping
    // (boundary pairs re-ordered), and 78/500 vectors land in a different
    // cell. The honest null result the r11 verdict anticipated for this
    // corpus — the projection's similarity-deflation value shows on
    // dominant-direction data, where PcaPowerSpec measures it halving mean
    // |cos| on the planted corpus. (VERDICT r11 directive 4.)
    GQuery(
      "dedup_semantic_whitened",
      (s, dir) => {
        val ew = whitenEmbeddings(VectorOps.normalized(s, dir))
          .select(col("vec_id"), col("vw").as("v"), col("rnorm").as("nrm"))
        val assign = Materialize(
          assignToSeeds(ew, seedSet(ew)).select("vec_id", "v", "nrm", "seed_id"))
        val a = assign.select(col("seed_id"), col("vec_id").as("a_id"),
          col("v").as("av"), col("nrm").as("an"))
        val b = assign.select(col("seed_id"), col("vec_id").as("b_id"),
          col("v").as("bv"), col("nrm").as("bn"))
        val dup = a.join(b, Seq("seed_id"))
          .filter(col("a_id") < col("b_id"))
          .select(col("b_id"), col("a_id"),
            VectorOps.cosCol("av", "bv", "an", "bn").as("cos"))
          .filter(col("cos") >= SEM_TAU)
          .groupBy("b_id").agg(min(col("a_id")).as("dup_of"))
        assign.select("vec_id", "seed_id")
          .join(dup, col("vec_id") === col("b_id"), "left")
          .select(col("vec_id"),
            when(col("dup_of").isNotNull, "drop").otherwise("keep").as("verdict"),
            col("dup_of"), col("seed_id").as("cell"))
          .orderBy("vec_id")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$gramSqlChain,
              |${powerVecSqlChain("w1", "gmat", "v0", PCA_MAX_ITERS)},
              |pu AS (SELECT v AS u FROM w1v$PCA_MAX_ITERS),
              |ew0 AS (SELECT vec_id,
              |    list_transform(range(1, 65), i -> v[i] - d * u[i]) AS v
              |  FROM (SELECT e.vec_id, e.v, pu.u AS u,
              |    ${foldDotSql64("e.v", "pu.u")} AS d FROM e, pu)),
              |ew AS (SELECT vec_id, v, sqrt(${foldDotSql64("v", "v")}) AS nrm FROM ew0),
              |wseeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM ew
              |  WHERE vec_id < $N_SEEDS),
              |wassign0 AS (SELECT ew.vec_id, ew.v, ew.nrm, wseeds.seed_id,
              |  row_number() OVER (PARTITION BY ew.vec_id ORDER BY
              |    ${VectorOps.cosSql("ew.v", "wseeds.sv", "ew.nrm", "wseeds.sn")} DESC, wseeds.seed_id) AS rn
              |  FROM ew CROSS JOIN wseeds),
              |wassign AS (SELECT vec_id, v, nrm, seed_id FROM wassign0 WHERE rn = 1),
              |wdup AS (SELECT b.vec_id AS b_id, MIN(a.vec_id) AS dup_of
              |  FROM wassign a JOIN wassign b
              |    ON a.seed_id = b.seed_id AND a.vec_id < b.vec_id
              |  WHERE ${VectorOps.cosSql("a.v", "b.v", "a.nrm", "b.nrm")} >= $SEM_TAU
              |  GROUP BY b.vec_id)
              |SELECT wassign.vec_id,
              |  CASE WHEN dup_of IS NOT NULL THEN 'drop' ELSE 'keep' END AS verdict,
              |  dup_of, wassign.seed_id AS cell
              |FROM wassign LEFT JOIN wdup ON wassign.vec_id = wdup.b_id
              |ORDER BY wassign.vec_id""".stripMargin)
    ),

    // ---- SQ8 scalar quantization (see section comment above) ---------------
    GQuery(
      // Asymmetric top-k over the byte-quantized corpus: exact query vectors
      // ranked against dequantized codes. The flat-scan IO is 8x smaller
      // than brute force; ranking arithmetic is the shared fold, so the
      // oracle replays it bit-for-bit.
      "ann_sq_topk",
      (s, dir) => sqTopk(s, dir).orderBy("q_id", "rank"),
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$sqCtesSql,
              |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $N_QUERIES),
              |pairs AS (SELECT q.q_id, sqdeq.vec_id AS cand_id,
              |    ${VectorOps.dotSql("q.qv", "sqdeq.dv")} AS score
              |  FROM sqdeq CROSS JOIN q WHERE sqdeq.vec_id <> q.q_id),
              |ranked AS (SELECT q_id, cand_id, score,
              |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand_id) AS BIGINT) AS rank
              |  FROM pairs)
              |SELECT q_id, rank, cand_id, score FROM ranked WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    GQuery(
      // recall@10 of the SQ8 ranking vs the exact brute-force truth — the
      // audit row that belongs beside every approximate index
      // (ann_pq_recall's discipline). With 255 levels per dimension the
      // quantization error is far below typical neighbor gaps, so recall
      // should sit near 1.0 — the measured answer to "what did 8x
      // compression cost".
      "ann_sq_recall",
      (s, dir) => {
        val bf = bruteforceTopk(s, dir).select("q_id", "cand_id")
        bf.join(
            sqTopk(s, dir).select(col("q_id"), col("cand_id"), lit(1).as("hit")),
            Seq("q_id", "cand_id"), "left")
          .groupBy("q_id").agg(count(col("hit")).as("n_hits"))
          .select(lit("sq8").as("method"), col("q_id"), col("n_hits"))
          .withColumn("recall", col("n_hits").cast("double") / TOP_K)
          .orderBy("method", "q_id")
      },
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$sqCtesSql,
              |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
              |bscored AS (SELECT q.q_id, e.vec_id AS cand_id,
              |  ${VectorOps.cosSql("q.qv", "e.v", "q.qn", "e.nrm")} AS cos
              |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
              |bf AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
              |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rank
              |  FROM bscored) WHERE rank <= $TOP_K),
              |spairs AS (SELECT q.q_id, sqdeq.vec_id AS cand_id,
              |    ${VectorOps.dotSql("q.qv", "sqdeq.dv")} AS score
              |  FROM sqdeq CROSS JOIN q WHERE sqdeq.vec_id <> q.q_id),
              |sq AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
              |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand_id) AS rank
              |  FROM spairs) WHERE rank <= $TOP_K),
              |sq_hits AS (SELECT bf.q_id, COUNT(*) AS hits FROM bf
              |  JOIN sq ON bf.q_id = sq.q_id AND bf.cand_id = sq.cand_id GROUP BY bf.q_id),
              |qids AS (SELECT DISTINCT q_id FROM bf)
              |SELECT 'sq8' AS method, qids.q_id,
              |  CAST(COALESCE(hits, 0) AS BIGINT) AS n_hits,
              |  CAST(COALESCE(hits, 0) AS DOUBLE) / $TOP_K AS recall
              |FROM qids LEFT JOIN sq_hits ON qids.q_id = sq_hits.q_id
              |ORDER BY method, qids.q_id""".stripMargin),
      bench = false // embeds the brute-force ground truth — an offline audit
    ),

    GQuery(
      // IVF-SQ8 (see ivfSqTopk): IVF candidates, SQ8 asymmetric ordering.
      "ann_ivfsq_topk",
      (s, dir) => ivfSqTopk(s, dir).orderBy("q_id", "rank"),
      Some(s"""WITH ${VectorOps.normalizedSql},
              |$sqCtesSql,
              |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
              |seeds AS (SELECT vec_id AS seed_id, v AS sv0, nrm AS sn FROM e WHERE vec_id < $N_SEEDS),
              |assign0 AS (SELECT e.vec_id, seeds.seed_id,
              |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
              |    ${VectorOps.cosSql("e.v", "seeds.sv0", "e.nrm", "seeds.sn")} DESC, seeds.seed_id) AS rn
              |  FROM e CROSS JOIN seeds),
              |assign AS (SELECT vec_id, seed_id FROM assign0 WHERE rn = 1),
              |probes0 AS (SELECT q.q_id, seeds.seed_id,
              |  row_number() OVER (PARTITION BY q.q_id ORDER BY
              |    ${VectorOps.cosSql("q.qv", "seeds.sv0", "q.qn", "seeds.sn")} DESC, seeds.seed_id) AS rn
              |  FROM q CROSS JOIN seeds),
              |probes AS (SELECT q_id, seed_id FROM probes0 WHERE rn <= $N_PROBE),
              |cand AS (SELECT DISTINCT probes.q_id, assign.vec_id
              |  FROM probes JOIN assign ON probes.seed_id = assign.seed_id
              |  WHERE assign.vec_id <> probes.q_id),
              |pairs AS (SELECT cand.q_id, cand.vec_id AS cand_id,
              |    ${VectorOps.dotSql("q.qv", "sqdeq.dv")} AS score
              |  FROM cand JOIN sqdeq ON cand.vec_id = sqdeq.vec_id
              |  JOIN q ON cand.q_id = q.q_id),
              |ranked AS (SELECT q_id, cand_id, score,
              |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand_id) AS BIGINT) AS rank
              |  FROM pairs)
              |SELECT q_id, rank, cand_id, score FROM ranked WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    )
  )

  /** Top-2 cell assignment (vec_id, v, nrm, seed_id, rn) — the multi-probe
    * SemDeDup scoping; rn = 1 is exactly [[assignToSeeds]]'s row.
    */
  private def assignTop2(e: DataFrame, seeds: DataFrame): DataFrame = {
    val aw = Window.partitionBy("vec_id").orderBy(col("scos").desc, col("seed_id"))
    e.join(seeds)
      .select(col("vec_id"), col("v"), col("nrm"), col("seed_id"),
        VectorOps.cosCol("v", "sv", "nrm", "sn").as("scos"))
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") <= 2)
      .select("vec_id", "v", "nrm", "seed_id", "rn")
  }
}
