package graft
// scratch audit main (not part of the driver contract): list registered
// queries whose physical plan contains a cartesian product
object PlanSweep {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.localBuilder("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.registry.foreach { q =>
      try {
        val p = q.build(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
        val cart = p.contains("CartesianProduct")
        val bnlj = "BroadcastNestedLoopJoin [^\n]*Inner".r.findFirstIn(p).isDefined
        if (cart || bnlj) println(s"FLAG ${q.name} cart=$cart bnlj=$bnlj")
      } catch { case e: Throwable => println(s"ERR ${q.name}: ${e.getMessage.take(80)}") }
      graft.operators.Materialize.releaseAll(spark)
      spark.sharedState.cacheManager.clearCache()
    }
    println("SWEEP_DONE")
    spark.stop()
  }
}
