package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: fused dot product of two ARRAY<DOUBLE> columns.
  *
  * The composable form `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, +)`
  * (VectorOps round 1) materializes an intermediate 64-element array and
  * interprets two lambdas per row-pair; in the ANN/near-dup joins that is the
  * entire inner loop. This expression whole-stage-codegens to a tight
  * primitive loop — no allocation, no boxing — which is preference order (b)
  * of the builder mandate (custom Expression before mapPartitions).
  *
  * Numeric parity: the accumulation is the same left-to-right sequential fold
  * (acc += a_i * b_i from i = 0) as both the higher-order-function form and
  * the DuckDB oracle's `list_reduce(list_prepend(0, ...))`, so results are
  * bit-identical and top-k selections can never flip.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes is off-limits (AbstractDataType is private[sql] in
  // Spark 4), so the ARRAY<DOUBLE> contract is enforced manually. No implicit
  // casts: callers pass already-cast double vectors (VectorOps.normalized).
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
        case ArrayType(DoubleType, _) => true
        case _                        => false
      })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two ARRAY<DOUBLE> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** The library's native functions, resolvable by name like built-ins so
  * `expr("graft_dot(a, b)")` stays inside whole-stage codegen (unlike a
  * Scala UDF).
  */
object GraftFunctions {

  /** The native functions as SparkSessionExtensions function descriptions,
    * which `graft.plans.GraftExtensions` injects into every session.
    */
  val descriptions: Seq[(org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))),
    // k=8 windows of 4 hex chars — the engine's MinHash geometry
    (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_minhash"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[MinhashWindows].getName, "graft_minhash"),
      (exprs: Seq[Expression]) => MinhashWindows(exprs(0), 8, 4)),
    // one-pass token-n-gram MD5 digests (GramDigests) — k from the literal arg
    (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_gram_md5"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[WordGramMd5].getName, "graft_gram_md5"),
      (exprs: Seq[Expression]) => WordGramMd5(exprs(0), litInt(exprs(1)), asLong = false)),
    (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_gram_md5_long"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[WordGramMd5].getName, "graft_gram_md5_long"),
      (exprs: Seq[Expression]) => WordGramMd5(exprs(0), litInt(exprs(1)), asLong = true)),
    (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_min_gram_md5"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[MinCharGramMd5].getName, "graft_min_gram_md5"),
      (exprs: Seq[Expression]) => MinCharGramMd5(exprs(0), litInt(exprs(1)))),
    (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_gram_join"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[WordGramJoin].getName, "graft_gram_join"),
      (exprs: Seq[Expression]) => WordGramJoin(exprs(0), litInt(exprs(1)))),
    (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_simhash_votes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[SimhashVotes].getName, "graft_simhash_votes"),
      (exprs: Seq[Expression]) => SimhashVotes(exprs(0))))

  private def litInt(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"graft gram functions need a literal int size argument, got $other")
  }
}
