package perfbench

import graft.{SparkEntry, Sessions, Tables}
import graft.sources.Sink
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark harness: one JVM, one client, closed loop on `local[4]`.
  *
  * It calls the engine only through its public entry points
  * (`Sessions.localBuilder`, `Tables`, `spark.read.parquet`, `GQuery.build`,
  * `Sink.convertParquet`, `Sink.zipDirectory`, `Sink.jdbcShaped`) and runs a
  * priming pass followed by `--passes` timed passes over the workload's
  * operations, in an order fixed by `--seed`. It clears the session cache
  * after every operation and checks every output outside the timed region.
  *
  * Output: `PERFBENCH_READY` on stdout once the session is built and warmed
  * up (the launcher times set-up against it), then one JSON document at
  * `--out` with a record per operation run. With `--trace 1` each record also
  * carries its spans and layer counters.
  */
object Harness {

  val Cores = 4
  private val Mask32 = 4294967295L

  final case class Conf(
      workload: String, seed: Long, passes: Int, trace: Boolean,
      data: String, work: String, manifest: String, goldens: String,
      out: String, recordGoldens: Boolean)

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def s(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Conf(s("workload"), s("seed").toLong, m.getOrElse("passes", "1").toInt,
      m.getOrElse("trace", "0") == "1", s("data"), s("work"),
      s("manifest"), s("goldens"), s("out"), m.getOrElse("record-goldens", "0") == "1")
  }

  // ---------------------------------------------------------------- tracing

  /** A timed interval around one engine call within one operation; `parent`
    * is the id of the enclosing span, -1 for the operation's root span.
    */
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  final class Tracer(t0Ns: Long) {
    private var nextId = 0
    val spans = mutable.ArrayBuffer.empty[Span]
    private val stack = mutable.Stack.empty[Int]
    def span[T](name: String)(body: => T): T = {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val sc = SparkSession.active.sparkContext
      val prior = sc.getLocalProperty("perfbench.span")
      sc.setLocalProperty("perfbench.span", id.toString)
      val ns0 = System.nanoTime()
      try body
      finally {
        val ns1 = System.nanoTime()
        sc.setLocalProperty("perfbench.span", prior)
        stack.pop()
        spans += Span(id, parent, name, ns0 - t0Ns, ns1 - t0Ns)
      }
    }
  }

  final case class StageFact(op: String, span: Int, submitMs: Long, doneMs: Long,
      tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long, shufW: Long, shufR: Long,
      spill: Long, inRows: Long, inBytes: Long, outRows: Long, outBytes: Long)
  final case class JobFact(op: String, span: Int)
  final case class PlanFact(startMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)

  /** Listener-side facts, keyed by the `perfbench.op` / `perfbench.span`
    * local properties the harness sets around each engine call. Events
    * arrive asynchronously; they are read only after `spark.stop()` has
    * drained the listener bus.
    */
  final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobFact]
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageFact]
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanFact]
    val failedTasks = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
    private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, (String, Int)]

    private def owner(p: java.util.Properties): Option[(String, Int)] =
      Option(p).flatMap(p => Option(p.getProperty("perfbench.op")))
        .map(op => op -> Option(p.getProperty("perfbench.span")).map(_.toInt).getOrElse(-1))

    override def onJobStart(e: SparkListenerJobStart): Unit = owner(e.properties).foreach {
      case (op, span) =>
        jobs.add(JobFact(op, span))
        e.stageIds.foreach(id => stageOwner.put(id, op -> span))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      owner(e.properties).foreach(o => stageOwner.put(e.stageInfo.stageId, o))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != org.apache.spark.Success) Option(stageOwner.get(e.stageId)).foreach {
        case (op, _) => failedTasks.merge(op, 1L, (a, b) => a + b)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stageOwner.get(i.stageId)).zip(Option(i.taskMetrics)).foreach {
        case ((op, span), m) =>
          stages.add(StageFact(op, span, i.submissionTime.getOrElse(0L),
            i.completionTime.getOrElse(0L), i.numTasks, m.executorRunTime, m.executorCpuTime,
            m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
            m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
            m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten))
      }
    }
    private def plan(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).foldLeft(Long.MaxValue)(math.min)
      plans.add(PlanFact(start, d("analysis"), d("optimization"), d("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
  }

  /** The largest heap in use right after a collection, over every GC of the
    * run: the live data plus what the collector left behind. It moves with
    * the heap the program needs, which the fixed heap keeps out of the
    * process's resident set.
    */
  final class HeapAfterGc extends javax.management.NotificationListener {
    private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    @volatile var peakBytes = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case b: javax.management.NotificationEmitter => b.addNotificationListener(this, null, null)
      case _ =>
    }
    override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peakBytes = math.max(peakBytes, used) }
      }
  }

  // ------------------------------------------------------------ operations

  /** One input from the launcher's manifest: name, path, footer rows, bytes. */
  final case class Input(name: String, path: String, rows: Long, bytes: Long)

  /** What an operation hands to its output check, plus any layer figures
    * only the operation itself can see.
    */
  final case class Outcome(rows: Long, check: () => Seq[String],
      layers: Map[String, Double] = Map.empty)

  final case class Op(name: String, inputRows: Long, inputBytes: Long,
      run: Tracer => Outcome)

  final case class Record(pass: Int, op: String, latencyS: Double, rows: Long,
      inputRows: Long, inputBytes: Long, failures: Seq[String],
      layers: Map[String, Double], spans: Seq[Span])

  /** Iterative queries and the tables each reads: a connected-components
    * loop over MinHash pairs and an NN-descent kNN-refine loop.
    */
  val IterativeQueries: Seq[(String, Seq[String])] = Seq(
    "dedup_cc_twostar" -> Seq("documents"),
    "ann_knn_train" -> Seq("embeddings"))

  val JdbcTables: Seq[String] =
    Seq("region", "nation", "supplier", "part", "customer", "orders", "synthetic")

  /** Sum of the low 32 bits of each row's xxhash64 over every column: with the
    * row count, an order-independent fingerprint (no overflow below 2^31 rows).
    */
  def hashSum(df: DataFrame): Column =
    coalesce(sum(xxhash64(df.columns.map(df.col).toIndexedSeq: _*).bitwiseAND(lit(Mask32))),
      lit(0L))

  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), hashSum(df)).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The widening table the converter promises, restated from the spec. */
  def widened(t: DataType): DataType = t match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case FloatType | DoubleType                        => DoubleType
    case BooleanType                                   => BooleanType
    case TimestampType | TimestampNTZType              => TimestampType
    case _                                             => StringType
  }

  final class Workload(spark: SparkSession, conf: Conf, inputs: Map[String, Input],
      goldens: Map[String, (Long, Long)]) {
    val recorded = mutable.LinkedHashMap.empty[String, (Long, Long)]
    private val derbyUrl = "jdbc:derby:memory:perfbench;create=true"
    private val derbyDriver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"

    private def golden(key: String, got: (Long, Long)): Seq[String] =
      if (conf.recordGoldens) { recorded(key) = got; Nil }
      else goldens.get(key) match {
        case Some(want) if want == got => Nil
        case Some(want) => Seq(s"$key: fingerprint $got, golden $want")
        case None => Seq(s"$key: no golden recorded")
      }

    /** One scan of the converted output: row count, fingerprint, null/NaN/Inf
      * numeric values and, for the synthetic input, the generator's exact sums.
      */
    private def convertChecks(in: Input, outDf: DataFrame, rows: Long): Seq[String] = {
      val fails = mutable.ArrayBuffer.empty[String]
      if (rows != in.rows) fails += s"${in.name}: $rows rows out, footer says ${in.rows}"
      val want = spark.read.parquet(in.path).schema.fields
        .map(f => f.name -> widened(f.dataType)).toSeq
      val got = outDf.schema.fields.map(f => f.name -> f.dataType).toSeq
      if (want != got) fails += s"${in.name}: output schema $got, expected $want"
      val badPerRow = outDf.schema.fields.filter(_.dataType.isInstanceOf[NumericType]).map { f =>
        val c = col(s"`${f.name}`")
        val nonFinite = if (f.dataType == DoubleType)
          isnan(c) || c === Double.PositiveInfinity || c === Double.NegativeInfinity
        else lit(false)
        when(c.isNull || nonFinite, 1L).otherwise(0L)
      }.foldLeft(lit(0L))(_ + _)
      val synthetic = in.name == "synthetic"
      val r = outDf.agg(count(lit(1)), hashSum(outDf), sum(badPerRow),
        if (synthetic) sum("id") else lit(0L), if (synthetic) sum("i32") else lit(0L)).head()
      if (r.getLong(2) != 0) fails += s"${in.name}: ${r.getLong(2)} null/NaN/Inf numeric values"
      if (synthetic) {
        val e = SynthExpect.load(conf.manifest)
        val sums = (r.getLong(0), r.getLong(3), r.getLong(4))
        if (sums != ((e.rows, e.sumId, e.sumI32)))
          fails += s"synthetic: (rows, sum id, sum i32) = $sums, generator says " +
            s"${(e.rows, e.sumId, e.sumI32)}"
      } else fails ++= golden(s"convert:${in.name}", (r.getLong(0), r.getLong(1)))
      fails.toSeq
    }

    private def dirBytes(dir: String): Long =
      Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum

    private def zipChecks(out: String, zip: String): Seq[String] = {
      val base = Paths.get(out)
      val files = Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => base.getParent.relativize(p).toString.replace(File.separatorChar, '/') ->
          Files.size(p)).toMap
      val z = new java.util.zip.ZipFile(zip)
      val entries = try z.entries().asScala.map(e => e.getName -> e.getSize).toMap
        finally z.close()
      // zipDirectory names entries relative to the output directory itself
      val want = files.map { case (k, v) => k.stripPrefix(base.getFileName.toString + "/") -> v }
      if (entries == want) Nil
      else Seq(s"zip $zip holds ${entries.size} entries, output has ${want.size} files " +
        s"(or sizes differ)")
    }

    private def convertOp(in: Input): Op = Op(s"convert:${in.name}", in.rows, in.bytes, { tr =>
      val outDir = s"${conf.work}/out/${in.name}"
      val res =
        if (!conf.trace)
          Sink.convertParquet(spark, in.path, outDir, Sink.ConvertOptions(zipArtifact = true))
        else {
          tr.span("read.resolve")(spark.read.parquet(in.path).schema)
          val r = tr.span("sink.convert")(Sink.convertParquet(spark, in.path, outDir))
          val z = tr.span("sink.zip")(Sink.zipDirectory(r.outputPath, s"${r.outputPath}.zip"))
          r.copy(zipPath = Some(z))
        }
      val zipRatio = if (!conf.trace) Map.empty[String, Double] else res.zipPath.map { z =>
        "sink.zip_ratio" -> Files.size(Paths.get(z)).toDouble / dirBytes(res.outputPath)
      }.toMap
      Outcome(res.rows, layers = zipRatio, check = () => {
        convertChecks(in, spark.read.parquet(res.outputPath), res.rows) ++
          res.zipPath.fold(Seq(s"${in.name}: no zip artifact"))(zipChecks(res.outputPath, _))
      })
    })

    private def jdbcOp(in: Input): Op = Op(s"jdbc:${in.name}", in.rows, in.bytes, { tr =>
      val table = s"PB_${in.name.toUpperCase}"
      val src = if (conf.trace) tr.span("read.resolve")(spark.read.parquet(in.path))
        else spark.read.parquet(in.path)
      def save(): Unit = Sink.jdbcShaped(src, derbyUrl, table, driver = Some(derbyDriver))
        .mode("overwrite").save()
      if (conf.trace) tr.span("sink.jdbc")(save()) else save()
      Outcome(in.rows, () => {
        val c = java.sql.DriverManager.getConnection(derbyUrl)
        val back = try {
          val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
          rs.next(); rs.getLong(1)
        } finally c.close()
        if (back == in.rows) Nil else Seq(s"$table: Derby holds $back rows, input ${in.rows}")
      })
    })

    private def queryOp(name: String, tables: Seq[String]): Op = {
      val q = SparkEntry.registry.find(_.name == name)
        .getOrElse(sys.error(s"query $name is not in SparkEntry.registry"))
      val ins = tables.map(inputs)
      Op(name, ins.map(_.rows).sum, ins.map(_.bytes).sum, { tr =>
        val fp =
          if (!conf.trace) fingerprint(q.build(spark, conf.data))
          else {
            val df = tr.span("build")(q.build(spark, conf.data))
            tr.span("action")(fingerprint(df))
          }
        Outcome(fp._1, () => golden(s"query:$name", fp))
      })
    }

    val ops: Seq[Op] = conf.workload match {
      case "convert" =>
        (Tables.all :+ "synthetic").map(t => convertOp(inputs(t))) ++
          JdbcTables.map(t => jdbcOp(inputs(t)))
      case "query_iterative" => IterativeQueries.map { case (n, t) => queryOp(n, t) }
      case w => sys.error(s"unknown workload $w")
    }
  }

  /** The synthetic generator's expectations, read from the launcher manifest. */
  final case class SynthExpect(rows: Long, sumId: Long, sumI32: Long)
  object SynthExpect {
    def load(manifest: String): SynthExpect = {
      val j = Json.parse(Files.readString(Paths.get(manifest))).asInstanceOf[Map[String, Any]]
      val e = j("synthetic_expect").asInstanceOf[Map[String, Any]]
      def l(k: String) = e(k).asInstanceOf[BigDecimal].toLongExact
      SynthExpect(l("rows"), l("sum_id"), l("sum_i32"))
    }
  }

  // ------------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val t0 = System.nanoTime()
    val recorder = new Recorder
    val heapAfterGc = if (conf.trace) Some(new HeapAfterGc) else None
    val spark = Sessions.localBuilder(Cores.toString)
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${conf.work}/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${conf.work}/checkpoints")
    val tBuilt = System.nanoTime()
    // the engine's own warm-up: one tiny scan + shuffle + codegen
    Tables.nation(spark, conf.data).groupBy("n_regionkey").count().count()
    val tWarm = System.nanoTime()
    println("PERFBENCH_READY"); System.out.flush()
    if (conf.trace) {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
    }

    val manifest = Json.parse(Files.readString(Paths.get(conf.manifest)))
      .asInstanceOf[Map[String, Any]]
    val inputs = manifest("inputs").asInstanceOf[Seq[Map[String, Any]]].map { m =>
      val i = Input(m("name").toString, m("path").toString,
        m("rows").asInstanceOf[BigDecimal].toLongExact,
        m("bytes").asInstanceOf[BigDecimal].toLongExact)
      i.name -> i
    }.toMap
    val goldens: Map[String, (Long, Long)] =
      if (!new File(conf.goldens).exists) Map.empty
      else Json.parse(Files.readString(Paths.get(conf.goldens))).asInstanceOf[Map[String, Any]]
        .map { case (k, v) =>
          val s = v.asInstanceOf[Seq[Any]].map(_.asInstanceOf[BigDecimal].toLongExact)
          k -> (s(0), s(1))
        }
    val wl = new Workload(spark, conf, inputs, goldens)
    val order = new scala.util.Random(conf.seed).shuffle(wl.ops)
    val sc = spark.sparkContext

    val records = mutable.ArrayBuffer.empty[Record]
    val opIntervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
    for (pass <- 0 to conf.passes; op <- order) {
      val opId = s"$pass/${op.name}"
      val tr = new Tracer(t0)
      sc.setLocalProperty("perfbench.op", opId)
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cgNs0 = CodeGenerator.compileTime
      val ms0 = System.currentTimeMillis()
      val s0 = System.nanoTime()
      val outcome =
        try Right(tr.span("op")(op.run(tr)))
        catch { case e: Throwable => Left(s"${op.name}: ${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").take(300)}") }
      val lat = (System.nanoTime() - s0) / 1e9
      val ms1 = System.currentTimeMillis()
      val cg1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cgNs1 = CodeGenerator.compileTime
      sc.setLocalProperty("perfbench.op", null)
      spark.catalog.clearCache()
      val failures = outcome match {
        case Left(err) => Seq(err)
        case Right(_) if pass == 0 => Nil // priming outputs are not checked, only its errors
        case Right(o) =>
          try o.check()
          catch { case e: Throwable => Seq(s"${op.name}: check threw ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(300)}") }
      }
      opIntervals += ((opId, ms0, ms1))
      records += Record(pass, op.name, lat, outcome.map(_.rows).getOrElse(0L),
        op.inputRows, op.inputBytes, failures,
        outcome.map(_.layers).getOrElse(Map.empty) ++ Map(
          "codegen.compiles" -> (cg1 - cg0).toDouble,
          "codegen.compile_s" -> (cgNs1 - cgNs0) / 1e9),
        tr.spans.toSeq)
      failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    }
    val rssMb = peakRssMb()
    spark.stop() // drains the listener bus, so every traced event is in

    val layered =
      if (conf.trace) attribute(records.toSeq, recorder, opIntervals.toSeq) else records.toSeq
    val doc = Map(
      "workload" -> conf.workload, "seed" -> conf.seed, "passes" -> conf.passes,
      "trace" -> conf.trace,
      "session_build_s" -> (tBuilt - t0) / 1e9, "session_warmup_s" -> (tWarm - tBuilt) / 1e9,
      "heap_after_gc_mb" -> heapAfterGc.map(_.peakBytes / (1024.0 * 1024.0)).getOrElse(0.0),
      "peak_rss_mb" -> rssMb,
      "records" -> layered.map { r =>
        Map("pass" -> r.pass, "op" -> r.op, "latency_s" -> r.latencyS, "rows" -> r.rows,
          "input_rows" -> r.inputRows, "input_bytes" -> r.inputBytes,
          "failures" -> r.failures, "layers" -> r.layers,
          "spans" -> selfTimes(r.spans).map { case (s, self) =>
            Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
              "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9, "self_s" -> self)
          })
      })
    Files.writeString(Paths.get(conf.out), Json.write(doc), StandardCharsets.UTF_8)
    if (conf.recordGoldens)
      Files.writeString(Paths.get(conf.goldens), Json.write((goldens ++ wl.recorded).toSeq
        .sortBy(_._1).map { case (k, (a, b)) => k -> Seq(a, b) }.to(mutable.LinkedHashMap))
        + "\n", StandardCharsets.UTF_8)
  }

  /** Self time of a span: its duration minus the union of its children. */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Double)] = spans.sortBy(_.id).map { s =>
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    (s, (s.endNs - s.startNs - unionNs(kids)) / 1e9)
  }

  private def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Joins the listener's facts to the operations that caused them. */
  private def attribute(records: Seq[Record], rec: Recorder,
      intervals: Seq[(String, Long, Long)]): Seq[Record] = {
    val jobs = rec.jobs.asScala.toSeq.groupBy(_.op)
    val stages = rec.stages.asScala.toSeq.groupBy(_.op)
    val plans = rec.plans.asScala.toSeq
    records.zip(intervals).map { case (r, (opId, ms0, ms1)) =>
      val js = jobs.getOrElse(opId, Nil)
      val ss = stages.getOrElse(opId, Nil)
      val ps = plans.filter(p => p.startMs >= ms0 && p.startMs <= ms1)
      def spanS(name: String) = r.spans.filter(_.name == name)
        .map(s => (s.endNs - s.startNs) / 1e9).sum
      val buildSpans = r.spans.filter(_.name == "build").map(_.id).toSet
      val stageBusyMs = unionNs(ss.map(s => (s.submitMs, s.doneMs))).toDouble
      val runS = ss.map(_.runMs).sum / 1e3
      val mb = 1024.0 * 1024.0
      val outBytes = ss.map(_.outBytes).sum
      val layers = r.layers ++ Map(
        "read.resolve_s" -> spanS("read.resolve"),
        "build.s" -> spanS("build"),
        "build.jobs" -> js.count(j => buildSpans(j.span)).toDouble,
        "plan.analysis_s" -> ps.map(_.analysisMs).sum / 1e3,
        "plan.optimization_s" -> ps.map(_.optimizationMs).sum / 1e3,
        "plan.planning_s" -> ps.map(_.planningMs).sum / 1e3,
        "plan.executions" -> ps.size.toDouble,
        "sched.jobs" -> js.size.toDouble,
        "sched.stages" -> ss.size.toDouble,
        "sched.tasks" -> ss.map(_.tasks).sum.toDouble,
        "sched.failed_tasks" -> rec.failedTasks.getOrDefault(opId, 0L).toDouble,
        "sched.driver_gap_s" -> math.max(0.0, r.latencyS - stageBusyMs / 1e3),
        "exec.run_s" -> runS,
        "exec.cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
        "exec.gc_s" -> ss.map(_.gcMs).sum / 1e3,
        "exec.core_util" -> runS / (r.latencyS * Cores),
        "io.shuffle_write_mb" -> ss.map(_.shufW).sum / mb,
        "io.shuffle_read_mb" -> ss.map(_.shufR).sum / mb,
        "io.spill_mb" -> ss.map(_.spill).sum / mb,
        "io.input_rows" -> ss.map(_.inRows).sum.toDouble,
        "io.input_mb" -> ss.map(_.inBytes).sum / mb,
        "io.output_rows" -> ss.map(_.outRows).sum.toDouble,
        "io.output_mb" -> outBytes / mb,
        "sink.convert_s" -> spanS("sink.convert"),
        "sink.zip_s" -> spanS("sink.zip"),
        "sink.jdbc_s" -> spanS("sink.jdbc"),
        "sink.jdbc_rows_per_s" ->
          (if (spanS("sink.jdbc") > 0) r.rows / spanS("sink.jdbc") else 0.0))
      r.copy(layers = layers)
    }
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}
