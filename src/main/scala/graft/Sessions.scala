package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's recommended local session configuration —
  * every main and the test suite build from here so an engine-level conf
  * decision (r21's AQE cached-plan sizing, the codegen cache size) exists
  * exactly once instead of drifting per main. A production deployment sets
  * the same confs on its own builder; nothing here is local[.]-specific.
  * The native functions and the as-of planner need no conf:
  * `graft.plans.GraftExtensions` is service-loaded into every session.
  */
object Sessions {

  /** Local-mode builder at `cpus` cores with the engine confs applied. */
  def localBuilder(cpus: String): SparkSession.Builder =
    withEngineConfs(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))

  /** Entries of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100); see
    * [[withEngineConfs]].
    */
  private[graft] val CodegenCacheEntries = 1000

  /** The engine's recommended session confs, applicable at any scale:
    *   - UTC session time zone (oracle parity; every timestamp-bearing query
    *     assumes it);
    *   - no UI (headless driver runs);
    *   - `canChangeCachedPlanOutputPartitioning=true` [r21 opt, guide
    *     §2.2/§2.5]: the iterative families persist per-round state, and
    *     without this every stage over a cached round inherits the full
    *     shuffle-partition fan-out regardless of size. Scale-adaptive by
    *     construction — AQE coalesces by measured bytes, so a 100 TB frame
    *     keeps its parallelism while KB-sized loop state stops paying
    *     32-task stages (measured r21: dedup_cc_twostar 1 420 → 116 tasks,
    *     79 → 8 executor-CPU-s);
    *   - a codegen cache of [[CodegenCacheEntries]] classes, sized from its
    *     measured working set. The engine's product is a long-lived driver
    *     that runs the same query shapes again and again, and a class found
    *     in the cache is neither compiled again nor, being already
    *     JIT-compiled, run interpreted. The cache is keyed on (class
    *     loader, code), and in local mode every whole-stage class is
    *     compiled twice, on the driver to validate it and under the
    *     executor's loader. Counted with an unbounded cache (sf0.1,
    *     `local[4]`): one cold run of `dedup_cc_twostar` compiles 156
    *     classes and `ann_knn_train` 86 more, so Spark's default 100-entry
    *     LRU evicted each class before the next run reused it and every
    *     repeat of the pair recompiled about 240; one `graft.Bench` pass
    *     over the 268 benched queries compiles 3,982. 1,000 entries hold
    *     the pair four times over and a quarter of a suite pass (that pass
    *     then compiles 4,197). Metaspace after the pass reads 220 MB at
    *     this cap and 247 MB unbounded, from 105 MB before it.
    *     The gain needs repeated shapes: a cold first run still compiles
    *     every class, and a repeat of the pair still compiles up to about
    *     20 (variants thought to differ only in the `codegenStageId` Spark
    *     bakes into the code).
    *     The conf is static and per JVM: Spark sizes the cache once, from
    *     the SQLConf active at the JVM's first codegen, so it holds only
    *     when a session built here (or with the same conf) is the first to
    *     generate code in the JVM. Every main and `SparkSpec` build
    *     through [[localBuilder]].
    */
  def withEngineConfs(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
}
