package graft

import graft.plans.{Asof, AsofJoin}
import org.apache.spark.sql.GraftInternalAccess
import org.apache.spark.sql.functions._

/** The native as-of join operator (graft.plans.AsofJoin): semantics on
  * edge corpora, differential equality with the union-window form on real
  * data, plan shape, and the SparkSessionExtensions registration path.
  */
class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  private def l4 = Seq(
    (1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 5L, "p3"), (3L, 7L, "p4"))
    .toDF("k", "t", "pv")
  private def r4 = Seq(
    (1L, 8L, "s8"), (1L, 15L, "s15"), (1L, 20L, "s20"), (2L, 6L, "s6"), (4L, 1L, "sx"))
    .toDF("rk", "rt", "sv")

  test("as-of picks latest at-or-before per key; unmatched rows null-pad") {
    val got = Asof.join(l4, r4, Seq("k"), Seq("rk"), "t", "rt")
      .select("k", "t", "pv", "sv").orderBy("k", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    // t=20 matches the EQUAL-timestamp snapshot (at-or-before includes ties);
    // k=2's only snapshot is later than nothing — s6 at rt=6 > t=5 → null;
    // k=3 has no snapshots at all → null (and proves lastMatch resets on key change)
    assert(got.toSeq == Seq(
      (1L, 10L, "p1", "s8"), (1L, 20L, "p2", "s20"),
      (2L, 5L, "p3", null), (3L, 7L, "p4", null)))
  }

  test("inner as-of drops unmatched left rows and keeps exact matches") {
    val got = Asof.join(l4, r4, Seq("k"), Seq("rk"), "t", "rt", inner = true)
      .select("k", "t", "pv", "sv").orderBy("k", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(got.toSeq == Seq((1L, 10L, "p1", "s8"), (1L, 20L, "p2", "s20")))
    // inner result == left-outer result minus the null-padded rows
    val outer = Asof.join(l4, r4, Seq("k"), Seq("rk"), "t", "rt")
      .filter(col("sv").isNotNull)
      .select("k", "t", "pv", "sv").orderBy("k", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(got.toSeq == outer.toSeq)
  }

  test("null keys and null times never match; left rows still emit") {
    val l = Seq((Some(1L), Some(10L), "a"), (None, Some(10L), "b"), (Some(1L), None, "c"))
      .toDF("k", "t", "pv")
    val r = Seq((Some(1L), Some(5L), "m"), (None, Some(1L), "nk"), (Some(1L), None, "nt"))
      .toDF("rk", "rt", "sv")
    val got = Asof.join(l, r, Seq("k"), Seq("rk"), "t", "rt")
      .select("pv", "sv").orderBy("pv")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq == Seq(("a", "m"), ("b", null), ("c", null)))
  }

  test("native as-of equals the union-window form on the events table") {
    val native = SparkEntry.registry.find(_.name == "q_asof_join_native").get
      .build(spark, sfDir).collect()
    val unionWindow = SparkEntry.registry.find(_.name == "q_asof_join_snapshot").get
      .build(spark, sfDir).collect()
    assert(native.nonEmpty)
    assert(native.toSeq == unionWindow.toSeq)
  }

  test("plan: AsofJoinExec with one exchange+sort per side, no window/union") {
    val df = Asof.join(l4, r4, Seq("k"), Seq("rk"), "t", "rt")
    df.collect() // finalize AQE
    // keep only the final adaptive plan — the "== Initial Plan ==" section
    // repeats every node and would double the counts
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("AsofJoin"))
    assert(!plan.contains("Window"))
    assert(!plan.contains("Union"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2)
    assert("Sort \\[".r.findAllIn(plan).size == 2)
  }

  test("filter pushdown: left-only and key conjuncts sink below the join") {
    val df = Asof.join(l4, r4, Seq("k"), Seq("rk"), "t", "rt")
      .filter(col("k") === 1L && col("t") > 5L && col("sv").isNotNull)
    // semantics first: pushdown must not change the result
    val got = df.select("k", "t", "pv", "sv").orderBy("t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(got.toSeq == Seq((1L, 10L, "p1", "s8"), (1L, 20L, "p2", "s20")))
    // plan: inspect with ConvertToLocalRelation excluded — otherwise the
    // pushed filters are eagerly evaluated INTO the local relations and the
    // Filter nodes this test wants to see vanish (which is itself proof the
    // pushdown landed below the join)
    val key = "spark.sql.optimizer.excludedRules"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try {
      val opt = Asof.join(l4, r4, Seq("k"), Seq("rk"), "t", "rt")
        .filter(col("k") === 1L && col("t") > 5L && col("sv").isNotNull)
        .queryExecution.optimizedPlan
      val below = opt.collect { case j: AsofJoin => j }.head
      // the key conjunct mirrors to the right side; t > 5 stays left-only
      assert(below.left.toString.contains("Filter"), s"no left filter:\n$opt")
      assert(below.right.toString.contains("Filter"), s"no mirrored right filter:\n$opt")
      val above = opt.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.child.isInstanceOf[AsofJoin] => f
      }
      assert(above.nonEmpty && above.head.condition.references.map(_.name).toSet == Set("sv"))
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("filter pushdown reaches the parquet scan below an as-of join") {
    val q = SparkEntry.registry.find(_.name == "q_asof_join_native").get
      .build(spark, sfDir).filter(col("user_id") === 7L)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // both scans of the events file must carry the pushed user_id predicate
    val pushed = "PushedFilters: \\[[^\\]]*EqualTo\\(user_id,7\\)".r.findAllIn(plan).size
    assert(pushed >= 2, s"user_id predicate did not reach both scans:\n$plan")
  }

  test("randomized differential: operator equals an in-memory reference model") {
    // seeded generator → reproducible corpora with the nasty shapes: tied
    // timestamps, duplicate right rows, null keys/times, one-sided keys
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val nL = 50 + rnd.nextInt(150)
      val nR = 50 + rnd.nextInt(150)
      def key() = if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(12).toLong)
      def time() = if (rnd.nextInt(25) == 0) None else Some(rnd.nextInt(40).toLong)
      val lRows = (1 to nL).map(i => (i.toLong, key(), time()))
      val rRows = (1 to nR).map(i => (i.toLong + 1000, key(), time()))
      val l = lRows.toDF("lid", "k", "t")
      val r = rRows.toDF("rid", "rk", "rt")
      val got = Asof.join(l, r, Seq("k"), Seq("rk"), "t", "rt")
        .select("lid", "rid").collect()
        .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
        .sortBy(identity).toSeq
      // reference model: per left row, right rows with equal (non-null) key
      // and rt <= t; latest rt wins, ties broken by the SAME total order the
      // operator's sort sees — (rt, then arbitrary-but-fixed rid) — so pin
      // tie determinism by collapsing ties to max rid, and do the same to
      // the operator output before comparing
      val expected = lRows.map { case (lid, k, t) =>
        val m = for {
          kk <- k.toSeq; tt <- t.toSeq
          (rid, rk, rt) <- rRows
          if rk.contains(kk) && rt.exists(_ <= tt)
        } yield (rt.get, rid)
        (lid, if (m.isEmpty) -1L else m.max._2)
      }.sortBy(identity)
      // collapse operator tie choice identically: map each matched rid to
      // the max rid sharing its (key, time) on the right
      val bestOfTie = rRows.collect { case (rid, Some(rk), Some(rt)) => ((rk, rt), rid) }
        .groupBy(_._1).map { case (kt, xs) => kt -> xs.map(_._2).max }
      val rByIds = rRows.collect { case (rid, Some(rk), Some(rt)) => rid -> ((rk, rt)) }.toMap
      val gotCanon = got.map { case (lid, rid) =>
        (lid, if (rid == -1L) -1L else bestOfTie(rByIds(rid)))
      }.sortBy(identity)
      assert(gotCanon == expected, s"trial $trial: mismatch")
    }
  }

  test("bucketed+sorted layout elides the as-of join's exchanges entirely") {
    // the scale capstone: because the exec DECLARES its distribution and
    // ordering needs instead of shuffling imperatively, a nightly job that
    // bucket-sorts both tables by (key, time) pays ZERO exchanges at query
    // time — EnsureRequirements sees satisfied requirements and plans only
    // the merge
    val tmp = java.nio.file.Files.createTempDirectory("graft-asof-bkt").toString
    spark.sql("DROP TABLE IF EXISTS asof_purch_bkt")
    spark.sql("DROP TABLE IF EXISTS asof_errs_bkt")
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
      .write.bucketBy(4, "user_id").sortBy("user_id", "ts")
      .option("path", s"$tmp/p").saveAsTable("asof_purch_bkt")
    ev.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts")).agg(max("event_id").as("err_id"))
      .select(col("user_id").as("e_user_id"), col("ts").as("e_ts"), col("err_id"))
      .write.bucketBy(4, "e_user_id").sortBy("e_user_id", "e_ts")
      .option("path", s"$tmp/e").saveAsTable("asof_errs_bkt")
    val j = Asof.join(spark.table("asof_purch_bkt"), spark.table("asof_errs_bkt"),
      Seq("user_id"), Seq("e_user_id"), "ts", "e_ts")
    j.collect()
    val plan = j.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("AsofJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), s"exchanges not elided:\n$plan")
    // and the result still matches the shuffled path on the raw tables
    val expected = SparkEntry.registry.find(_.name == "q_asof_join_native").get
      .build(spark, sfDir).count()
    val got = j.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("err_id").as("asof_err_id"))
      .count()
    assert(got == expected)
  }

  test("SparkSessionExtensions path plans the node without runtime registration") {
    // a fresh child session gets a FRESH (empty) experimental-strategies
    // list but keeps the service-loaded extensions — so planning a
    // hand-built AsofJoin node here proves the extensions path
    val s2 = spark.newSession()
    assert(!s2.experimental.extraStrategies.contains(graft.plans.AsofJoinStrategy))
    import s2.implicits._
    val l = Seq((1L, 10L, "x")).toDF("k", "t", "pv")
    val r = Seq((1L, 9L, "m")).toDF("rk", "rt", "sv")
    val lp = l.queryExecution.analyzed
    val rp = r.queryExecution.analyzed
    def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).get
    val df = GraftInternalAccess.ofRows(s2,
      AsofJoin(lp, rp, Seq(a(lp, "k")), Seq(a(rp, "rk")), a(lp, "t"), a(rp, "rt")))
    assert(df.select("pv", "sv").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq == Seq(("x", "m")))
  }
}
