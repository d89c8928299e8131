package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's recommended local session configuration —
  * every main and the test suite build from here so an engine-level conf
  * decision (r21's AQE cached-plan sizing) exists exactly once instead of
  * drifting per main. A production deployment sets the same confs on its
  * own builder; nothing here is local[.]-specific. The native functions and
  * the as-of planner need no conf: `graft.plans.GraftExtensions` is service-
  * loaded into every session.
  */
object Sessions {

  /** Local-mode builder at `cpus` cores with the engine confs applied. */
  def localBuilder(cpus: String): SparkSession.Builder =
    withEngineConfs(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))

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
    *     79 → 8 executor-CPU-s).
    */
  def withEngineConfs(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
}
