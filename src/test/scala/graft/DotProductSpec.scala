package graft

import org.apache.spark.sql.functions.{col, expr}

/** graft_minhash: the fused one-pass window-minima expression must be
  * bit-identical to the composable 8× array_min(transform(substring))
  * form it replaced, on realistic digests and on edge shapes (empty
  * array, null elements, short strings).
  */
class MinhashWindowsSpec extends SparkSpec {

  test("graft_minhash equals the composable array_min form") {
    import spark.implicits._
    val docs = (1 to 50).map { i =>
      (i.toLong, (1 to (i % 7) + 1).map(j => s"token$i-$j word").mkString(" "))
    }.toDF("id", "text")
    val digests = docs.selectExpr("id",
      "transform(split(text, ' '), t -> md5(t)) AS shh")
    val fused = digests.selectExpr("id", "graft_minhash(shh) AS mh")
      .selectExpr("id" +: (0 until 8).map(i => s"mh[$i] AS m$i"): _*)
    val composable = digests.selectExpr("id" +:
      (0 until 8).map(i => s"array_min(transform(shh, h -> substring(h, ${1 + 4 * i}, 4))) AS m$i"): _*)
    assert(fused.orderBy("id").collect().toSeq ==
      composable.orderBy("id").collect().toSeq)
  }

  test("graft_minhash edge shapes: empty array, nulls, short digests") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq.empty[String]),           // → 8 nulls (like array_min of empty)
      (2L, Seq(null.asInstanceOf[String], "0123456789abcdef0123456789abcdef")),
      (3L, Seq("abc")))                  // shorter than one window → nulls
      .toDF("id", "shh")
    val out = rows.selectExpr("id", "graft_minhash(shh) AS mh")
      .orderBy("id").collect()
    assert(out(0).getSeq[String](1).forall(_ == null))
    assert(out(1).getSeq[String](1).head == "0123")
    assert(out(2).getSeq[String](1).forall(_ == null))
  }

  test("graft_minhash codegens when not collapsed into a lambda projection") {
    // CollapseProject merges it with the digest transform in the dedup
    // pipeline, and higher-order lambdas force that merged projection to
    // interpreted mode — the fusion win there is the single array pass.
    // Isolated past an exchange (its input already materialized), the
    // expression itself must participate in whole-stage codegen.
    val df = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "transform(split(text, ' '), t -> md5(t)) AS shh")
      .repartition(2)
      .selectExpr("graft_minhash(shh) AS mh")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("graft_minhash")).getOrElse("")
    assert(line.contains("*("), p) // inside a WholeStageCodegen span
  }
}

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** The codegen'd graft_dot expression must be bit-identical to the
  * higher-order-function fold it replaced (same left-to-right accumulation),
  * and must actually run inside whole-stage codegen.
  */
class DotProductSpec extends SparkSpec {

  private val hofDot =
    "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, p) -> acc + p)"

  test("graft_dot equals the zip_with/aggregate fold bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(200)((
      Array.fill(64)(rnd.nextDouble() * 2e3 - 1e3),
      Array.fill(64)(rnd.nextDouble() * 2e3 - 1e3)))
    val got = rows.toDF("a", "b")
      .select(expr("graft_dot(a, b)").as("fused"), expr(hofDot).as("hof"))
      .collect()
    got.foreach { row =>
      assert(java.lang.Double.doubleToLongBits(row.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(row.getDouble(1)))
    }
  }

  test("graft_dot handles length mismatch and nulls") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(10.0, 20.0)))
      .toDF("a", "b")
    assert(df.select(expr("graft_dot(a, b)")).collect().head.getDouble(0) == 50.0)
    val withNull = df.select(expr("graft_dot(a, CAST(NULL AS ARRAY<DOUBLE>))"))
    assert(withNull.collect().head.isNullAt(0))
  }

  test("native functions resolve in SQL via the extensions path alone") {
    // a newSession() child has its own function registry, seeded only by
    // the service-loaded GraftExtensions — every native function must
    // resolve there, and the two below must also run through SQL
    val fresh = spark.newSession()
    val missing = GraftFunctions.descriptions.map(_._1.funcName)
      .filterNot(fresh.catalog.functionExists)
    assert(missing.isEmpty, s"unresolved in a child session: $missing")
    val row = fresh.sql(
      "SELECT graft_dot(array(1d, 2d), array(3d, 4d)) AS d, " +
        "graft_minhash(array(md5('hello world'), md5('world hello'))) AS mh")
      .collect().head
    assert(row.getDouble(0) == 11.0)
    assert(row.getSeq[String](1).length == 8) // k=8 minhash windows
  }

  test("graft_dot stays inside whole-stage codegen") {
    // A local relation would be constant-folded before planning, so check the
    // real parquet-backed path every vector query uses.
    val df = graft.functions.VectorOps.normalized(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage; the
    // graft_dot projection must carry one (the transform-lambda projection
    // below it legitimately cannot — higher-order functions don't codegen).
    val dotLine = plan.linesIterator.find(_.contains("graft_dot")).getOrElse("")
    assert(dotLine.contains("*("), plan)
    assert(df.count() > 0)
  }
}
