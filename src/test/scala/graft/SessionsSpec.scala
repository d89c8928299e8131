package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{max, xxhash64}

/** The engine's session confs, as every session gets them through
  * [[Sessions.localBuilder]].
  */
class SessionsSpec extends SparkSpec {

  test("withEngineConfs sets the codegen cache cap") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Sessions.CodegenCacheEntries.toString)
  }

  test("a repeated dedup_cc_twostar compiles at most a quarter of the classes of its first run") {
    // Spark's default 100-entry cache evicts the ~150 classes one run needs
    // before the next run reuses them, so the second run recompiles nearly
    // all of them. With the cap a repeat still compiles a few classes, a
    // number that moves from run to run: 8 to 22 of about 160 were seen at
    // sf0.001.
    val q = SparkEntry.registry.find(_.name == "dedup_cc_twostar").get
    def compiles(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val df = q.build(spark, sfDir)
      df.agg(max(xxhash64(df.columns.map(df.col).toIndexedSeq: _*))).collect()
      spark.catalog.clearCache()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = compiles()
    val second = compiles()
    assert(second * 4 <= first, s"the first run compiled $first classes, the second $second")
  }
}
