package graft.sources

import graft.operators.Convert
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import java.io.{BufferedInputStream, File, FileInputStream, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** The converter surface: the reference app's contract re-expressed as a
  * library call (SURVEY.md §7 Phase 2).
  *
  * Reference semantics ported:
  *  - input size guard, default 1024 MB (O10, /root/reference/app.py:21,227-231)
  *  - processing timeout, default 600 s    (O9, app.py:22,111-112)
  *  - output table named "Extract"         (O6, app.py:118)
  *  - type widening + sanitize projections (O4/O5 via Convert.pipeline)
  *  - zip artifact of the output           (O11, app.py:54-65)
  *
  * The Hyper binary sink itself is unreachable on the JVM (tableauhyperapi is
  * Python/C++); per BASELINE.json the engine writes through DataFrameWriter —
  * parquet here, with `jdbcShaped` exposing the same pipeline aimed at a JDBC
  * connector (batchsize ↔ the reference's 10k-row inserter chunks,
  * app.py:23,128-131). NOT ported: the reference's manual GC (O12,
  * app.py:138-145) — Spark's unified memory manager + spill replaces it.
  */
object Sink {

  final case class ConvertOptions(
      table: String = "Extract",
      maxInputMb: Long = 1024,
      timeoutSeconds: Long = 600,
      zipArtifact: Boolean = false)

  final case class ConvertResult(outputPath: String, rows: Long, zipPath: Option[String])

  class InputTooLargeException(mb: Long, limit: Long)
      extends IllegalArgumentException(s"input is $mb MB, limit $limit MB")
  class ConversionTimeoutException(s: Long)
      extends RuntimeException(s"conversion exceeded $s s")

  /** O13 parity (app.py:163-174): the reference buckets failures into
    * memory / timeout / schema / other with user-facing messages. Same
    * taxonomy over the JVM/Spark exception surface — callers log the label,
    * the original exception stays attached as the cause.
    */
  def classifyError(e: Throwable): String = e match {
    case _: OutOfMemoryError => "memory"
    case _: ConversionTimeoutException => "timeout"
    case _: InputTooLargeException => "input-too-large"
    case t if causeChain(t).exists(_.isInstanceOf[OutOfMemoryError]) => "memory"
    case t if causeChain(t).exists { c =>
      val m = Option(c.getMessage).getOrElse("")
      m.contains("Schema") || m.contains("schema") || m.contains("CANNOT_MERGE")
    } => "schema"
    case _ => "other"
  }

  private def causeChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq

  /** Input size through Hadoop's FileSystem API so the O10 guard holds on any
    * scheme (s3a://, hdfs://, file://) — a java.io.File walk would silently
    * return 0 for non-local URIs and bypass the limit on real deployments.
    */
  private def dirSizeBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }

  /** Convert one Parquet input to the sink format: guard → normalize →
    * sanitize → write. The write is a distributed parquet job; the timeout
    * cancels the job group (the Spark analog of the reference's wall-clock
    * abort, which killed a single-threaded loop).
    */
  def convertParquet(
      spark: SparkSession,
      inputPath: String,
      outputDir: String,
      opts: ConvertOptions = ConvertOptions()): ConvertResult = {
    val sizeBytes = dirSizeBytes(spark, inputPath)
    if (sizeBytes > (opts.maxInputMb << 20))
      throw new InputTooLargeException(sizeBytes >> 20, opts.maxInputMb)

    val groupId = s"graft-convert-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(groupId, s"convert $inputPath", interruptOnCancel = true)
    val timer = new java.util.Timer(true)
    @volatile var timedOut = false
    timer.schedule(new java.util.TimerTask {
      def run(): Unit = { timedOut = true; spark.sparkContext.cancelJobGroup(groupId) }
    }, opts.timeoutSeconds * 1000)

    val out = s"$outputDir/${opts.table}"
    try {
      // row count rides on the write itself via an observed metric — no
      // second scan of input or output (O8 progress accounting, app.py:133-136).
      // Caveat: the metric counts rows FED to the writer; under speculative
      // execution or stage retries on a real cluster it can over-count vs
      // rows actually committed. That matches the reference's progress
      // semantics (a UI counter, not an audit) — a run that needs exact
      // committed counts should read the output back instead.
      val obs = new org.apache.spark.sql.Observation(s"graft-convert-rows-${System.nanoTime()}")
      val converted = Convert.pipeline(spark.read.parquet(inputPath))
        .observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))
      converted.write.mode(SaveMode.Overwrite).parquet(out)
      val rows = obs.get("rows").asInstanceOf[Long]
      val zip = if (opts.zipArtifact) Some(zipDirectory(out, s"$out.zip")) else None
      ConvertResult(out, rows, zip)
    } catch {
      case e: Throwable if timedOut => throw new ConversionTimeoutException(opts.timeoutSeconds)
      case e: Throwable             => throw e
    } finally {
      timer.cancel()
      spark.sparkContext.clearJobGroup()
    }
  }

  /** The same converted frame aimed at a JDBC sink (BASELINE.json
    * spark_approach: "write via JDBC/connector"): every column nullable
    * (app.py:122), inserts chunked by `batchsize` exactly like the
    * reference's 10k-row Inserter batches (app.py:23,128-131). Caller
    * supplies url/credentials and, when the driver doesn't self-register
    * through DriverManager, its class name. Executed end-to-end against
    * embedded Derby (the JDBC driver shipped with Spark) in SinkSpec.
    */
  def jdbcShaped(
      df: DataFrame,
      url: String,
      table: String,
      batchSize: Int = 10000,
      driver: Option[String] = None) = {
    val w = Convert.pipeline(df).write
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .option("isolationLevel", "NONE")
    driver.fold(w)(d => w.option("driver", d))
  }

  /** Incremental partitioned load with dynamic partition overwrite: only the
    * partitions present in `df` are replaced; the rest of the table is
    * untouched. This is the idempotent-retry shape of a fleet-scale ETL —
    * reprocessing one day/status re-writes exactly that directory.
    */
  def writePartitioned(df: DataFrame, outputPath: String, partitionCol: String): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try Convert.pipeline(df).write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(outputPath)
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** O11: DEFLATE the sink output, streamed file-by-file (app.py:54-65).
    * `dir` must be an existing local directory: anything else (a missing
    * path, a file, a non-local URI) throws instead of writing an empty zip.
    */
  def zipDirectory(dir: String, zipPath: String): String = {
    val base = new File(dir)
    require(base.isDirectory, s"zip source is not an existing local directory: $dir")
    val zos = new ZipOutputStream(new FileOutputStream(zipPath))
    try {
      def add(f: File, prefix: String): Unit =
        if (f.isFile) {
          zos.putNextEntry(new ZipEntry(prefix + f.getName))
          val in = new BufferedInputStream(new FileInputStream(f))
          try {
            val buf = new Array[Byte](1 << 16)
            Iterator.continually(in.read(buf)).takeWhile(_ >= 0)
              .foreach(n => if (n > 0) zos.write(buf, 0, n))
          } finally in.close()
          zos.closeEntry()
        } else Option(f.listFiles()).getOrElse(Array.empty)
          .foreach(c => add(c, prefix + f.getName + "/"))
      base.listFiles().foreach(add(_, ""))
      zipPath
    } finally zos.close()
  }
}
