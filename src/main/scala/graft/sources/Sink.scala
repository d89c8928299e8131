package graft.sources

import graft.operators.Convert
import org.apache.commons.compress.archivers.zip.{ZipArchiveEntry, ZipArchiveOutputStream}
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}
import java.io.{ByteArrayOutputStream, EOFException, File, IOException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, LinkOption, Path}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, Future}
import java.util.zip.{CRC32, Deflater, ZipEntry}
import scala.util.Using

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
  class ConversionTimeoutException(s: Long, cause: Throwable = null)
      extends RuntimeException(s"conversion exceeded $s s", cause)
  /** An input whose schema cannot be resolved: no data files, or files
    * whose footers disagree.
    */
  class InputSchemaException(msg: String) extends IllegalArgumentException(msg)

  /** O13 parity (app.py:163-174): the reference buckets failures into
    * memory / timeout / schema / other with user-facing messages. Same
    * taxonomy over the JVM/Spark exception surface — callers log the label,
    * the original exception stays attached as the cause.
    */
  def classifyError(e: Throwable): String = e match {
    case _: OutOfMemoryError => "memory"
    case _: ConversionTimeoutException => "timeout"
    case _: InputTooLargeException => "input-too-large"
    case _: InputSchemaException => "schema"
    case t if causeChain(t).exists(_.isInstanceOf[OutOfMemoryError]) => "memory"
    case t if causeChain(t).exists { c =>
      val m = Option(c.getMessage).getOrElse("")
      m.contains("Schema") || m.contains("schema") || m.contains("CANNOT_MERGE")
    } => "schema"
    case _ => "other"
  }

  private def causeChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq

  /** The files of a Parquet input, listed once through the Hadoop FS (so
    * it holds on any scheme) with Spark's hidden-file filter applied below
    * the root: `_SUCCESS`, `.crc` files and `_temporary/` are skipped, as
    * Spark's own listing skips them. A root that is a file lists as itself.
    */
  private def listInput(spark: SparkSession, path: String): Seq[FileStatus] = {
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap(walk(_))
    walk(fs.getFileStatus(root))
  }

  /** Spark's rule for a path name its file listings skip
    * (`HadoopFSUtils.shouldFilterOutPathName`, internal to Spark): names
    * starting with `_` (unless they hold `=`, a partition directory) or
    * `.`, and in-flight `._COPYING_` copies; the Parquet summary files
    * `_metadata` and `_common_metadata` are kept.
    */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  /** The schema `spark.read.parquet(inputPath)` would infer, resolved from
    * the footers on the driver instead of in Spark's one-task inference job.
    */
  private[graft] def parquetSchema(spark: SparkSession, inputPath: String): StructType =
    resolveSchema(spark, inputPath, listInput(spark, inputPath))

  /** Reads the footer of every listed non-empty file (summary files
    * included; Spark's scan skips empty files, so they hold no schema) and
    * derives each one's Spark schema as `ParquetFileFormat.readSchemaFromFooter`
    * does: the `org.apache.spark.sql.parquet.row.metadata` JSON when the
    * writer left it, else `ParquetToSparkSchemaConverter` under the session
    * SQLConf, so `nanosAsLong`, `inferTimestampNTZ` and the int96 flags act
    * as in Spark's inference. Every file must agree, nullability aside;
    * Spark would trust one file's footer and fail, or worse, mid-job. The
    * schema returned is the one Spark picks: `_common_metadata`, else
    * `_metadata`, else the first data file in path order. No such file or
    * a disagreement throws [[InputSchemaException]]. Nothing is cached.
    */
  private def resolveSchema(
      spark: SparkSession, inputPath: String, files: Seq[FileStatus]): StructType = {
    val sorted = files.filter(_.getLen > 0).sortBy(_.getPath.toString)
    if (sorted.isEmpty)
      throw new InputSchemaException(s"no Parquet files to resolve a schema from in $inputPath")
    val sqlConf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val options = HadoopReadOptions.builder(hadoopConf)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
    import scala.jdk.CollectionConverters._
    val schemas = sorted.asJava.parallelStream().map[StructType] { st =>
      val meta = Using.resource(
        ParquetFileReader.open(HadoopInputFile.fromStatus(st, hadoopConf), options))(_.getFooter)
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(st.getPath, meta), new ParquetToSparkSchemaConverter(sqlConf))
    }.toList.asScala.toSeq
    val resolved = sorted.zip(schemas)
    val (firstFile, firstSchema) = resolved.head
    resolved.find { case (_, s) => nullableAll(s) != nullableAll(firstSchema) }.foreach {
      case (f, s) => throw new InputSchemaException(
        s"schema drift across the files of $inputPath: ${f.getPath} has ${s.catalogString}, " +
          s"${firstFile.getPath} has ${firstSchema.catalogString}")
    }
    def named(n: String) = resolved.find(_._1.getPath.getName == n).map(_._2)
    named("_common_metadata").orElse(named("_metadata")).getOrElse(firstSchema)
  }

  /** `t` with every field, element and value nullable and no field metadata. */
  private def nullableAll(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => StructField(f.name, nullableAll(f.dataType))))
    case a: ArrayType => ArrayType(nullableAll(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullableAll(m.keyType), nullableAll(m.valueType), valueContainsNull = true)
    case o => o
  }

  private val InterruptOnCancel = "spark.job.interruptOnCancel"

  /** Convert one Parquet input to the sink format: guard → resolve the
    * schema from the footers → normalize → sanitize → write. One listing of
    * the input serves the size guard and the footer reads, so the write is
    * the conversion's only Spark job, and an input with no files or with
    * drifting footers fails as `schema` before any job runs. The timeout
    * cancels the conversion's jobs by a job tag of its own (the Spark analog
    * of the reference's wall-clock abort, which killed a single-threaded
    * loop), and leaves the caller's job group, tags and interrupt flag as
    * they were; a timeout that fires outside a job, during the footer reads
    * or the driver-side zip, still fails the conversion, and its zip is
    * removed.
    */
  def convertParquet(
      spark: SparkSession,
      inputPath: String,
      outputDir: String,
      opts: ConvertOptions = ConvertOptions()): ConvertResult = {
    // before the tag, the interrupt flag and the timer: a negative delay
    // would throw from Timer.schedule with all three already set
    require(opts.timeoutSeconds >= 0,
      s"Sink.convertParquet: timeoutSeconds must be >= 0, got ${opts.timeoutSeconds}")
    val files = listInput(spark, inputPath)
    val sizeBytes = files.map(_.getLen).sum
    if (sizeBytes > (opts.maxInputMb << 20))
      throw new InputTooLargeException(sizeBytes >> 20, opts.maxInputMb)

    val sc = spark.sparkContext
    val tag = s"graft-convert-${System.nanoTime()}"
    val priorInterrupt = sc.getLocalProperty(InterruptOnCancel)
    sc.addJobTag(tag)
    sc.setInterruptOnCancel(true)
    val timer = new java.util.Timer(true)
    @volatile var timedOut = false
    timer.schedule(new java.util.TimerTask {
      def run(): Unit = { timedOut = true; sc.cancelJobsWithTag(tag) }
    }, opts.timeoutSeconds * 1000)

    val out = s"$outputDir/${opts.table}"
    var zip: Option[String] = None
    try {
      val schema = resolveSchema(spark, inputPath, files)
      // row count rides on the write itself via an observed metric — no
      // second scan of input or output (O8 progress accounting, app.py:133-136).
      // Caveat: the metric counts rows FED to the writer; under speculative
      // execution or stage retries on a real cluster it can over-count vs
      // rows actually committed. That matches the reference's progress
      // semantics (a UI counter, not an audit) — a run that needs exact
      // committed counts should read the output back instead.
      val obs = new org.apache.spark.sql.Observation(s"graft-convert-rows-${System.nanoTime()}")
      val converted = Convert.pipeline(spark.read.schema(schema).parquet(inputPath))
        .observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))
      converted.write.mode(SaveMode.Overwrite).parquet(out)
      val rows = obs.get("rows").asInstanceOf[Long]
      zip = if (opts.zipArtifact) Some(zipDirectory(out, s"$out.zip")) else None
      if (timedOut) throw new ConversionTimeoutException(opts.timeoutSeconds)
      ConvertResult(out, rows, zip)
    } catch {
      case e: Throwable if timedOut =>
        zip.foreach(z => Files.deleteIfExists(new File(z).toPath))
        throw (e match {
          case t: ConversionTimeoutException => t
          case _ => new ConversionTimeoutException(opts.timeoutSeconds, e)
        })
    } finally {
      timer.cancel()
      sc.removeJobTag(tag)
      sc.setLocalProperty(InterruptOnCancel, priorInterrupt)
    }
  }

  /** The same converted frame aimed at a JDBC sink (BASELINE.json
    * spark_approach: "write via JDBC/connector"): every column nullable
    * (app.py:122), inserts chunked by `batchsize` exactly like the
    * reference's 10k-row Inserter batches (app.py:23,128-131). Each write
    * partition is one transaction (Spark's default isolation level): a
    * failed or retried task rolls its batches back instead of leaving them
    * committed, and Spark falls back to autocommit on a target without
    * transactions. Caller supplies url/credentials and, when the driver
    * doesn't self-register through DriverManager, its class name. Executed
    * end-to-end against embedded Derby (the JDBC driver shipped with Spark)
    * in SinkSpec.
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
    driver.fold(w)(d => w.option("driver", d))
  }

  /** Incremental partitioned load with dynamic partition overwrite: only the
    * partitions present in `df` are replaced; the rest of the table is
    * untouched. This is the idempotent-retry shape of a fleet-scale ETL —
    * reprocessing one day/status re-writes exactly that directory. The
    * mode is a per-write option, which Spark's file writer reads before the
    * session conf, so the session is left as it was.
    */
  def writePartitioned(df: DataFrame, outputPath: String, partitionCol: String): Unit =
    Convert.pipeline(df).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(outputPath)

  /** O11: the sink output as one zip of DEFLATEd entries (app.py:54-65),
    * compressed on every driver core. Entry names are paths relative to
    * `dir`, one per file (hidden `.crc` files included, no directory
    * entries), at the default DEFLATE level.
    *
    * Each file is cut into 256 KiB blocks that a process-wide daemon pool
    * deflates in parallel, the scheme of pigz: every block is raw DEFLATE
    * primed with the 32 KiB of input before it as its dictionary and ends in
    * a sync flush, except the last, which finishes the stream; so the blocks
    * concatenated in order are one valid DEFLATE stream. The CRC-32 runs over
    * the input in order. At most 4 × cores blocks are in flight, and an
    * entry's compressed bytes spool to a scratch file beside `zipPath`, so
    * the heap holds about 0.6 MB per block in flight whatever the file sizes.
    *
    * `dir` must be an existing local directory: anything else (a missing
    * path, a file, a non-local URI) throws instead of writing an empty zip.
    * A `zipPath` inside `dir` throws, since the zip would read itself. The
    * tree under `dir` is listed without following links before the zip is
    * opened, and anything in it that is not a regular file or a directory
    * (a symlink, FIFO, socket or device) throws an IOException naming it:
    * such a path is neither silently dropped nor followed. Any failure
    * rethrows and leaves neither a partial zip nor the spool file.
    */
  def zipDirectory(dir: String, zipPath: String): String = {
    val base = new File(dir)
    require(base.isDirectory, s"zip source is not an existing local directory: $dir")
    val zip = new File(zipPath).getAbsoluteFile
    require(!zip.getCanonicalFile.toPath.startsWith(base.getCanonicalFile.toPath),
      s"zip $zipPath lies inside the directory it zips: $dir")
    val entries = regularFiles(base, "")
    val spool = Files.createTempFile(zip.getParentFile.toPath, s".${zip.getName}.", ".spool")
    var written = false
    try {
      Using.resource(new ZipArchiveOutputStream(zip)) { zos =>
        entries.foreach { case (f, name) =>
          // ZipArchiveEntry(File, name) would add NTFS and extended-timestamp
          // extra fields: 72 bytes per entry that no reader here uses
          val entry = new ZipArchiveEntry(name)
          entry.setSize(f.length)
          entry.setTime(f.lastModified)
          entry.setMethod(ZipEntry.DEFLATED)
          deflateTo(f, entry, spool)
          Using.resource(Files.newInputStream(spool))(zos.addRawArchiveEntry(entry, _))
        }
      }
      written = true
      zipPath
    } finally {
      Files.deleteIfExists(spool)
      if (!written) Files.deleteIfExists(zip.toPath)
    }
  }

  /** The regular files under directory `d` with their entry names, links
    * not followed; anything else under `d` throws.
    */
  private def regularFiles(d: File, prefix: String): Seq[(File, String)] = {
    val children = d.listFiles()
    if (children == null) throw new IOException(s"cannot list directory $d")
    children.toSeq.flatMap { f =>
      val name = prefix + f.getName
      val a = Files.readAttributes(f.toPath, classOf[BasicFileAttributes], LinkOption.NOFOLLOW_LINKS)
      if (a.isRegularFile) Seq(f -> name)
      else if (a.isDirectory) regularFiles(f, name + "/")
      else throw new IOException(
        s"cannot zip $f: ${if (a.isSymbolicLink) "a symbolic link" else "not a regular file or directory"}")
    }
  }

  private val BlockSize = 256 << 10
  private val DictSize = 32 << 10
  private val Window = 4 * Runtime.getRuntime.availableProcessors

  private lazy val deflatePool: ExecutorService =
    Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors, { r =>
      val t = new Thread(r, "graft-zip-deflate")
      t.setDaemon(true)
      t
    })

  /** One block's input (its dictionary first) and its deflated bytes. */
  private final class Block(val input: Array[Byte], val dictLen: Int, val deflated: Array[Byte])

  /** Deflates `f` block-parallel into `spool` (truncated first) and sets the
    * entry's CRC and compressed size; the entry's size is `f`'s length.
    */
  private def deflateTo(f: File, entry: ZipArchiveEntry, spool: Path): Unit = {
    val size = entry.getSize
    val blocks = math.max(1L, (size + BlockSize - 1) / BlockSize)
    val crc = new CRC32
    var compressed = 0L
    Using.resources(FileChannel.open(f.toPath), Files.newOutputStream(spool)) { (in, out) =>
      val inFlight = new java.util.ArrayDeque[Future[Block]]
      var next = 0L
      try for (i <- 0L until blocks) {
        while (next < blocks && next < i + Window) {
          val b = next
          inFlight.add(deflatePool.submit(new Callable[Block] {
            def call(): Block = deflateBlock(in, size, b, b == blocks - 1)
          }))
          next += 1
        }
        val block = try inFlight.poll().get() catch { case e: ExecutionException => throw e.getCause }
        crc.update(block.input, block.dictLen, block.input.length - block.dictLen)
        out.write(block.deflated)
        compressed += block.deflated.length
      } finally inFlight.forEach(_.cancel(false))
    }
    entry.setCrc(crc.getValue)
    entry.setCompressedSize(compressed)
  }

  /** Block `i` of a `size`-byte file as raw DEFLATE: primed with the 32 KiB
    * before it, ended by a sync flush, or by `finish` when it is the last.
    */
  private def deflateBlock(in: FileChannel, size: Long, i: Long, last: Boolean): Block = {
    val start = i * BlockSize
    val dictLen = math.min(start, DictSize.toLong).toInt
    val input = new Array[Byte](dictLen + math.min(BlockSize.toLong, size - start).toInt)
    val buf = ByteBuffer.wrap(input)
    while (buf.hasRemaining)
      if (in.read(buf, start - dictLen + buf.position()) < 0)
        throw new EOFException(s"file shrank below $size bytes while being zipped")
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    try {
      if (dictLen > 0) d.setDictionary(input, 0, dictLen)
      d.setInput(input, dictLen, input.length - dictLen)
      if (last) d.finish()
      val out = new ByteArrayOutputStream(input.length / 2 + 64)
      val chunk = new Array[Byte](64 << 10)
      // A chunk left short means the input is consumed and flushed (after
      // `finish`: the stream is ended); a full one means more output waits.
      var n = chunk.length
      while (n == chunk.length) {
        n = d.deflate(chunk, 0, chunk.length, Deflater.SYNC_FLUSH)
        out.write(chunk, 0, n)
      }
      new Block(input, dictLen, out.toByteArray)
    } finally d.end()
  }
}
