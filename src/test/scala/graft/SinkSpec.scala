package graft

import graft.sources.Sink
import graft.streaming.EventsStream
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import java.nio.file.{Files, Path}
import java.util.zip.{CRC32, ZipFile, ZipInputStream}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Converter surface: guards, conversion write, zip artifact (reference
  * parity O6/O7/O9/O10/O11 — see Sink's Scaladoc for citations).
  */
class SinkSpec extends SparkSpec {

  /** Every difference between the regular files under `dir`, named by their
    * path relative to `dir`, and the entries of `zip`. The zip is read back
    * twice through java.util.zip's inflater, independent of the writer:
    * through the central directory (names, bytes, recorded CRC-32 against
    * the file's own) and sequentially from the local headers, which checks
    * each entry's CRC and both sizes.
    */
  private def zipMismatches(dir: Path, zip: String): Seq[String] = {
    val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p)).toMap
    val zf = new ZipFile(zip)
    val central = try zf.entries().asScala.map { e =>
      val bytes = Using.resource(zf.getInputStream(e))(_.readAllBytes())
      val crc = new CRC32
      crc.update(bytes)
      (e.getName, bytes, e.getCrc == crc.getValue)
    }.toSeq finally zf.close()
    val sequential = Using.resource(new ZipInputStream(Files.newInputStream(Path.of(zip)))) { in =>
      Iterator.continually(in.getNextEntry).takeWhile(_ != null)
        .map(e => e.getName -> in.readAllBytes()).toMap
    }
    val names = central.map(_._1)
    Seq(
      Option.when(names.toSet != files.keySet || names.size != files.size)(
        s"entries ${names.sorted} != files ${files.keys.toSeq.sorted}"),
      Option.when(sequential.keySet != files.keySet)(s"local headers list ${sequential.keys}")
    ).flatten ++ central.collect {
      case (n, b, crcOk) if !files.get(n).exists(java.util.Arrays.equals(_, b)) || !crcOk =>
        s"$n: bytes or CRC differ from the file"
    } ++ sequential.collect {
      case (n, b) if !files.get(n).exists(java.util.Arrays.equals(_, b)) =>
        s"$n: local-header read differs from the file"
    }
  }

  test("convertParquet writes widened output and reports rows") {
    val out = Files.createTempDirectory("graft-sink").toString
    val res = Sink.convertParquet(spark, s"$sfDir/lineitem.parquet", out)
    assert(res.rows == 6000)
    val written = spark.read.parquet(res.outputPath)
    assert(written.schema("l_linenumber").dataType == LongType)
    assert(written.count() == 6000)
    assert(res.zipPath.isEmpty)
  }

  test("zip artifact is produced when requested") {
    val out = Files.createTempDirectory("graft-sink-zip").toString
    val res = Sink.convertParquet(spark, s"$sfDir/region.parquet", out,
      Sink.ConvertOptions(zipArtifact = true))
    assert(res.zipPath.isDefined)
    // every part file, _SUCCESS and the hidden .crc files, byte for byte
    assert(new java.io.File(res.outputPath).list().exists(_.endsWith(".crc")))
    assert(zipMismatches(Path.of(res.outputPath), res.zipPath.get).isEmpty)
  }

  test("zipDirectory round-trips generated trees through an independent inflater") {
    // sizes around the 256 KiB block edges and past one in-flight window of
    // 4 × cores blocks; random bytes (stored-size blocks) and a repeating
    // pattern (long matches reaching back into the previous block)
    val block = 256 << 10
    val window = 4 * Runtime.getRuntime.availableProcessors
    val size = Gen.oneOf(0, 1, block - 1, block, block + 1, (window + 1) * block + 3)
    val names = Seq("part-00000.bin", ".part-00000.bin.crc", "_SUCCESS", "._SUCCESS.crc",
      "sub/part-00001.bin", "sub/.part-00001.bin.crc", "sub/deeper/part-00002.bin")
    val file = for {
      n <- size
      random <- Gen.oneOf(true, false)
      seed <- Gen.long
    } yield {
      val bytes = new Array[Byte](n)
      if (random) new scala.util.Random(seed).nextBytes(bytes)
      else bytes.indices.foreach(i => bytes(i) = "abcabdabcabcde".charAt(i % 14).toByte)
      bytes
    }
    val tree = for {
      picked <- Gen.atLeastOne(names)
      contents <- Gen.listOfN(picked.size, file)
    } yield picked.toSeq.zip(contents)
    val prop = Prop.forAllNoShrink(tree) { entries =>
      val root = Files.createTempDirectory("graft-zip-prop")
      val dir = Files.createDirectory(root.resolve("Extract"))
      entries.foreach { case (name, bytes) =>
        Files.createDirectories(dir.resolve(name).getParent)
        Files.write(dir.resolve(name), bytes)
      }
      val zip = Sink.zipDirectory(dir.toString, s"$dir.zip")
      val bad = zipMismatches(dir, zip)
      // the spool file beside the zip is gone
      val left = root.toFile.list().toSet
      (bad.isEmpty && left == Set("Extract", "Extract.zip")) :| s"${bad.mkString("; ")} left=$left"
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("zipDirectory rejects a zip path inside the directory it zips") {
    val dir = Files.createTempDirectory("graft-zip-self")
    Files.write(dir.resolve("a.bin"), Array[Byte](1, 2, 3))
    intercept[IllegalArgumentException] {
      Sink.zipDirectory(dir.toString, s"$dir/out.zip")
    }
    assert(dir.toFile.list().toSeq == Seq("a.bin"))
  }

  test("zipDirectory refuses symlinks instead of dropping or following them") {
    // a dropped dangling link would vanish from the artifact unnoticed, and
    // a followed link back up the tree repeats the tree until the path
    // grows too long
    def refused(link: (Path, Path) => Path): Unit = {
      val root = Files.createTempDirectory("graft-zip-link")
      val dir = Files.createDirectory(root.resolve("Extract"))
      Files.write(dir.resolve("a.bin"), Array[Byte](1, 2, 3))
      val l = link(dir, root)
      val err = intercept[java.io.IOException] {
        Sink.zipDirectory(dir.toString, s"$dir.zip")
      }
      assert(err.getMessage.contains(l.toString), err.getMessage)
      // listed before the zip is opened: neither a partial zip nor a spool
      assert(root.toFile.list().toSeq == Seq("Extract"))
    }
    refused((dir, root) =>
      Files.createSymbolicLink(dir.resolve("dangling"), root.resolve("no-such-file")))
    refused((dir, _) =>
      Files.createSymbolicLink(Files.createDirectory(dir.resolve("sub")).resolve("loop"),
        Path.of("..")))
  }

  test("zipDirectory on a missing directory throws instead of writing an empty zip") {
    val tmp = Files.createTempDirectory("graft-zip-missing").toString
    val zip = s"$tmp/out.zip"
    intercept[IllegalArgumentException] {
      Sink.zipDirectory(s"$tmp/no-such-dir", zip)
    }
    assert(!new java.io.File(zip).exists())
  }

  test("input size guard rejects oversized input") {
    intercept[Sink.InputTooLargeException] {
      Sink.convertParquet(spark, s"$sfDir/lineitem.parquet", "/tmp/unused",
        Sink.ConvertOptions(maxInputMb = 0))
    }
  }

  test("jdbcShaped inserts into embedded Derby and reads back widened rows") {
    // Derby ships in /opt/spark/jars (derby + derbyshared + derbytools),
    // so the declared write path runs against a live database: chunked
    // inserts (batchsize 500 over 6000 rows ⇒ 12 inserter round-trips,
    // the reference's 10k-row Inserter shape), then a read-back.
    val url = "jdbc:derby:memory:graftdb;create=true"
    val driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    val li = Tables.lineitem(spark, sfDir)
    Sink.jdbcShaped(li, url, "graft_extract", batchSize = 500, driver = Some(driver))
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .save()
    val back = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", "graft_extract")
      .option("driver", driver)
      .load()
    assert(back.count() == 6000)
    // O5 widening survives the round-trip: ints → BIGINT → LongType
    assert(back.schema("l_linenumber").dataType == LongType)
    assert(back.schema("l_orderkey").dataType == LongType)
    // O4 sanitize: numeric columns are never null after the pipeline
    assert(back.filter(back("l_quantity").isNull).count() == 0)
    // value spot-check against the source
    val srcSum = li.agg(org.apache.spark.sql.functions.sum("l_orderkey")).first.getLong(0)
    val backSum = back.agg(org.apache.spark.sql.functions.sum("l_orderkey")).first.getLong(0)
    assert(srcSum == backSum)
  }

  test("jdbcShaped rolls a failed partition back instead of leaving its batches committed") {
    val url = "jdbc:derby:memory:graftTxn;create=true"
    val driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    Class.forName(driver)
    def sql[T](f: java.sql.Statement => T): T =
      Using.resource(java.sql.DriverManager.getConnection(url))(c => f(c.createStatement()))
    sql(_.execute("CREATE TABLE graft_txn (X BIGINT CHECK (X < 100))"))
    // one partition, 10 rows per batch: ten batches pass the CHECK, the
    // eleventh breaks it. Under autocommit the first 100 rows would stay.
    intercept[Exception] {
      Sink.jdbcShaped(spark.range(0, 150, 1, 1).toDF("X"), url, "graft_txn",
        batchSize = 10, driver = Some(driver)).mode("append").save()
    }
    val left = sql { st =>
      val rs = st.executeQuery("SELECT COUNT(*) FROM graft_txn")
      rs.next(); rs.getLong(1)
    }
    assert(left == 0)
  }

  test("classifyError maps the reference's O13 taxonomy") {
    assert(Sink.classifyError(new OutOfMemoryError()) == "memory")
    assert(Sink.classifyError(new Sink.ConversionTimeoutException(600)) == "timeout")
    // the timeout keeps the cancelled job's failure as its cause, and the
    // cause's text never reclassifies it
    val cancelled = new RuntimeException("wrap", new IllegalStateException("Schema x"))
    val timeout = new Sink.ConversionTimeoutException(600, cancelled)
    assert(timeout.getCause eq cancelled)
    assert(Sink.classifyError(timeout) == "timeout")
    assert(Sink.classifyError(new Sink.InputTooLargeException(2048, 1024)) == "input-too-large")
    assert(Sink.classifyError(new RuntimeException(
      "wrap", new IllegalStateException("Schema mismatch on column x"))) == "schema")
    assert(Sink.classifyError(new RuntimeException("boom")) == "other")
  }

  test("writePartitioned overwrites only the partitions present in the frame") {
    import org.apache.spark.sql.functions._
    val out = s"${Files.createTempDirectory("graft-dyn").toString}/orders"
    val orders = Tables.orders(spark, sfDir)
    Sink.writePartitioned(orders, out, "o_orderstatus")
    val full = spark.read.parquet(out).count()
    assert(full == orders.count())
    // the dynamic mode rides on the write, not on the shared session
    assert(!spark.conf.getAll.contains("spark.sql.sources.partitionOverwriteMode"))

    // re-write ONLY the F partition with a filtered slice; O and P survive
    val fOnly = orders.filter(col("o_orderstatus") === "F").limit(10)
    Sink.writePartitioned(fOnly, out, "o_orderstatus")
    val after = spark.read.parquet(out)
    assert(after.filter(col("o_orderstatus") === "F").count() == 10)
    assert(after.filter(col("o_orderstatus") =!= "F").count() ==
      orders.filter(col("o_orderstatus") =!= "F").count())
  }

  test("DataSourceV2 connector round-trips converted rows in batchsize chunks") {
    // the modern-connector half of "write via JDBC/connector": full V2
    // batch write (WriteBuilder → DataWriter → commit messages) and batch
    // read (ScanBuilder → InputPartition) through GraftSinkProvider
    import graft.sources.GraftMemorySink
    import graft.operators.Convert
    GraftMemorySink.clear("v2rt")
    val src = Convert.pipeline(spark.read.parquet(s"$sfDir/region.parquet"))
    def write(mode: String) = src.write
      .format("graft.sources.GraftSinkProvider")
      .option("name", "v2rt").option("batchsize", "2")
      .mode(mode).save()
    write("append")
    // O6: the stored schema is all-nullable, like the reference's DDL
    assert(GraftMemorySink.schemaOf("v2rt").get.fields.forall(_.nullable))
    // O7: rows arrived in batchsize-bounded chunks (>= ceil(n/2) of them)
    val n = src.count()
    assert(GraftMemorySink.chunksOf("v2rt") >= (n + 1) / 2)
    // V2 read path round-trip: same rows, widened types intact
    val back = spark.read.format("graft.sources.GraftSinkProvider")
      .option("name", "v2rt").load()
    assert(back.schema("r_regionkey").dataType == LongType)
    assert(back.orderBy("r_regionkey").collect().toSeq ==
      src.orderBy("r_regionkey").collect().toSeq)
    // SupportsTruncate: overwrite replaces instead of doubling
    write("overwrite")
    assert(GraftMemorySink.rows("v2rt").length == n)
    GraftMemorySink.clear("v2rt")
  }

  test("V2 connector streaming write: chunked epoch commits, replays dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.GraftMemorySink
    import spark.implicits._
    GraftMemorySink.clear("v2stream")
    val mem = MemoryStream[Long](spark)
    val ckpt = Files.createTempDirectory("graft-v2s").toString
    val q = mem.toDF.toDF("v").writeStream
      .format("graft.sources.GraftSinkProvider")
      .option("name", "v2stream").option("batchsize", "2")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      mem.addData(1L, 2L, 3L, 4L, 5L); q.processAllAvailable()
      mem.addData(6L, 7L); q.processAllAvailable()
    } finally q.stop()
    assert(GraftMemorySink.rows("v2stream").map(_.head).toSet ==
      (1L to 7L).map(x => x: Any).toSet)
    // O7 carried into streaming: rows arrived in batchsize-bounded chunks
    assert(GraftMemorySink.chunksOf("v2stream") >= 4) // ceil(5/2) + ceil(2/2)
    // both epochs committed and recorded
    val epochs = GraftMemorySink.epochsOf("v2stream")
    assert(epochs.size == 2, s"epochs=$epochs")
    // a replayed epoch (micro-batch retry) must be dropped, not re-appended
    val schema = GraftMemorySink.schemaOf("v2stream").get
    GraftMemorySink.commit("v2stream", schema, Array(Seq(99L)), 1L,
      truncate = false, epoch = Some(epochs.head))
    assert(GraftMemorySink.rows("v2stream").length == 7, "replayed epoch re-appended")
    GraftMemorySink.clear("v2stream")
  }

  test("V2 connector streaming: Complete mode truncates per epoch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.GraftMemorySink
    import spark.implicits._
    GraftMemorySink.clear("v2complete")
    val mem = MemoryStream[Long](spark)
    val ckpt = Files.createTempDirectory("graft-v2c").toString
    val q = mem.toDF.toDF("v")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .writeStream
      .format("graft.sources.GraftSinkProvider")
      .option("name", "v2complete")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    try {
      mem.addData(1L, 2L, 3L); q.processAllAvailable()
      mem.addData(4L, 5L); q.processAllAvailable()
    } finally q.stop()
    // each epoch REPLACED the table (SupportsTruncate negotiated by the
    // Complete-mode sink): one row, the latest running total. The
    // pre-fix behavior appended every epoch's full result — [3, 5].
    assert(GraftMemorySink.rows("v2complete").map(_.head) == Seq(5L),
      s"rows=${GraftMemorySink.rows("v2complete")}")
    GraftMemorySink.clear("v2complete")
  }

  test("V2 connector streaming: fresh-checkpoint restart appends, not dropped as replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.GraftMemorySink
    import spark.implicits._
    GraftMemorySink.clear("v2restart")
    def runOnce(vals: Seq[Long]): Unit = {
      val mem = MemoryStream[Long](spark)
      val ckpt = Files.createTempDirectory("graft-v2r").toString
      val q = mem.toDF.toDF("v").writeStream
        .format("graft.sources.GraftSinkProvider")
        .option("name", "v2restart")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try { mem.addData(vals: _*); q.processAllAvailable() } finally q.stop()
    }
    // two independent query lifetimes, each committing ITS epoch 0 — keying
    // replays by epoch id alone would silently drop the second batch
    runOnce(Seq(1L, 2L))
    runOnce(Seq(3L))
    assert(GraftMemorySink.rows("v2restart").map(_.head).toSet ==
      Set[Any](1L, 2L, 3L),
      s"rows=${GraftMemorySink.rows("v2restart")}")
    GraftMemorySink.clear("v2restart")
  }

  test("connector options: batchSize is case-insensitive and validated") {
    import graft.sources.GraftMemorySink
    GraftMemorySink.clear("v2opts")
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    // camelCase spelling must not silently fall back to the 10000 default
    src.write.format("graft.sources.GraftSinkProvider")
      .option("name", "v2opts").option("batchSize", "2").mode("append").save()
    assert(GraftMemorySink.chunksOf("v2opts") >= (src.count() + 1) / 2)
    GraftMemorySink.clear("v2opts")
    // a non-numeric value fails fast with a clear message, not a bare
    // NumberFormatException from deep inside the provider
    val e = intercept[Throwable] {
      src.write.format("graft.sources.GraftSinkProvider")
        .option("name", "v2opts").option("batchsize", "abc").mode("append").save()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("batchsize")), messages(e).mkString(" | "))
    GraftMemorySink.clear("v2opts")
  }

  test("V2 connector append with a different schema fails fast") {
    import graft.sources.GraftMemorySink
    GraftMemorySink.clear("v2schema")
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    def write(df: org.apache.spark.sql.DataFrame) = df.write
      .format("graft.sources.GraftSinkProvider")
      .option("name", "v2schema").mode("append").save()
    write(src)
    val e = intercept[Throwable] { write(src.select("r_regionkey")) }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("schema")), messages(e).mkString(" | "))
    // the failed append neither replaced the schema nor dropped rows
    assert(GraftMemorySink.schemaOf("v2schema").get.fields.length ==
      src.schema.fields.length)
    assert(GraftMemorySink.rows("v2schema").length == src.count())
    GraftMemorySink.clear("v2schema")
  }

  /** Writes `rows` rows of `schema` with parquet-mr's own example writer,
    * which leaves no Spark row metadata, so the schema resolves through
    * `ParquetToSparkSchemaConverter` as it does for a pyarrow or DuckDB
    * file. `fill` sets a row's values; what it leaves unset is null.
    */
  private def writeBare(file: Path, schema: MessageType, rows: Int)(fill: Group => Unit): Unit = {
    val w = ExampleParquetWriter.builder(new HPath(file.toUri)).withType(schema).build()
    try (0 until rows).foreach { _ =>
      val g = new SimpleGroupFactory(schema).newGroup()
      fill(g)
      w.write(g)
    } finally w.close()
  }

  /** The input read with its footer-resolved schema, as the sink reads it,
    * has the schema Spark infers: the same fields, types and metadata
    * (Spark reads every file column as nullable either way).
    */
  private def resolvesAsSpark(p: String): Boolean =
    spark.read.schema(Sink.parquetSchema(spark, p)).parquet(p).schema ==
      spark.read.parquet(p).schema

  test("parquetSchema resolves the fixtures' schemas as Spark infers them") {
    Tables.all.foreach(t => assert(resolvesAsSpark(s"$sfDir/$t.parquet"), t))
    // events has shipped with ts as TIMESTAMP(MICROS) and as
    // TIMESTAMP(NANOS); the nanos encoding resolves only under nanosAsLong
    val nanos = Files.createTempDirectory("graft-nanos").resolve("events.parquet")
    val ts = Types.buildMessage()
      .required(INT64).named("event_id")
      .optional(INT64).as(LogicalTypeAnnotation.timestampType(true, TimeUnit.NANOS)).named("ts")
      .named("schema")
    writeBare(nanos, ts, 3) { g => g.add("event_id", 1L); g.add("ts", 1600000000000000000L) }
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "true")
    try Seq(s"$sfDir/events.parquet", nanos.toString).foreach(p => assert(resolvesAsSpark(p), p))
    finally spark.conf.unset(key)
    // without it, Spark and the resolver both refuse the nanos footer
    intercept[Throwable](spark.read.parquet(nanos.toString))
    intercept[Throwable](Sink.parquetSchema(spark, nanos.toString))
  }

  test("Tables.events and EventsStream.readEvents agree on both ts encodings, and a rewritten input is re-resolved") {
    // an events file with ts as TIMESTAMP(MICROS) or TIMESTAMP(NANOS); the
    // nanos values carry a sub-µs part that both readers truncate away
    def writeEvents(dir: Path, unit: TimeUnit): Unit = {
      val nanos = unit == TimeUnit.NANOS
      val schema = Types.buildMessage()
        .required(INT64).named("event_id")
        .optional(INT64).as(LogicalTypeAnnotation.timestampType(nanos, unit)).named("ts")
        .optional(INT64).named("user_id")
        .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
        .optional(DOUBLE).named("value")
        .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
        .named("schema")
      var id = 0L
      writeBare(dir.resolve("events.parquet"), schema, 3) { g =>
        id += 1
        val us = 1600000000000000L + id * 3600000000L
        g.add("event_id", id); g.add("ts", if (nanos) us * 1000L + 789L else us)
        g.add("user_id", id % 2); g.add("event_type", "view")
        g.add("value", id * 1.5); g.add("props", "{}")
      }
    }
    def batch(dir: Path): Seq[Row] =
      Tables.events(spark, dir.toString).orderBy("event_id").collect().toSeq
    var runs = 0
    def streamed(dir: Path): Seq[Row] = {
      runs += 1
      EventsStream.runOnce(EventsStream.readEvents(spark, dir.toString),
        s"events_ts_agree_$runs", "append").orderBy("event_id").collect().toSeq
    }
    def sourceTsType(dir: Path): DataType =
      EventsStream.readEvents(spark, dir.toString).queryExecution.analyzed
        .collectLeaves().head.output.find(_.name == "ts").get.dataType
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(nanosKey)
    val us = Files.createTempDirectory("graft-events-us")
    val ns = Files.createTempDirectory("graft-events-ns")
    writeEvents(us, TimeUnit.MICROS)
    writeEvents(ns, TimeUnit.NANOS)
    assert(batch(us).size == 3 && batch(ns) == batch(us))
    assert(Tables.events(spark, ns.toString).schema("ts").dataType == TimestampType)
    Seq(us, ns).foreach(d => assert(streamed(d) == batch(d), d))
    assert(sourceTsType(us) != LongType)
    // the same directory rewritten from µs to nanos: the next stream
    // resolves the new footer, not a remembered type
    Files.list(us).iterator().asScala.toList.foreach(Files.delete)
    writeEvents(us, TimeUnit.NANOS)
    assert(sourceTsType(us) == LongType)
    assert(streamed(us) == batch(ns))
    // a missing input fails loudly at stream construction
    val err = intercept[IllegalStateException](
      EventsStream.readEvents(spark, us.resolve("missing").toString))
    assert(err.getMessage.contains("cannot probe"), err.getMessage)
    // both readers leave the nanos conf as they found it: not set
    assert(!spark.conf.getAll.contains(nanosKey))
  }

  /** The column types a Spark writer produces that the sink must convert. */
  private val sparkColumn: Gen[DataType] = Gen.oneOf(
    for { p <- Gen.choose(1, 38); sc <- Gen.choose(0, p) } yield DecimalType(p, sc),
    Gen.oneOf[DataType](TimestampNTZType, TimestampType, FloatType, BinaryType, StringType,
      IntegerType, ArrayType(IntegerType), MapType(StringType, LongType),
      StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))))

  /** A value of `t` as a Row carries it, null one time in five. */
  private def valueOf(t: DataType): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 4 -> nonNullOf(t))

  private def nonNullOf(t: DataType): Gen[Any] = t match {
    case d: DecimalType =>
      val bound = math.pow(10, math.min(d.precision, 18)).toLong - 1
      Gen.choose(-bound, bound).map(java.math.BigDecimal.valueOf(_, d.scale))
    case TimestampType | TimestampNTZType =>
      // 1900 to 2100: no calendar rebase on either side of the write
      Gen.zip(Gen.choose(-2208988800L, 4102444800L), Gen.choose(0, 999999)).map {
        case (sec, us) =>
          if (t == TimestampType) java.time.Instant.ofEpochSecond(sec, us * 1000L)
          else java.time.LocalDateTime.ofEpochSecond(sec, us * 1000, java.time.ZoneOffset.UTC)
      }
    case FloatType => Gen.oneOf(Gen.choose(-1e6f, 1e6f),
      Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0f))
    case BinaryType => Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))
    case StringType => Gen.stringOf(Gen.frequency(
      4 -> Gen.alphaNumChar, 1 -> Gen.oneOf('é', '中', ' ', '\n', '"', ',')))
    case IntegerType => Gen.choose(Int.MinValue, Int.MaxValue)
    case LongType => Gen.choose(Long.MinValue, Long.MaxValue)
    case ArrayType(e, _) => Gen.choose(0, 3).flatMap(Gen.listOfN(_, valueOf(e)))
    case MapType(k, v, _) =>
      Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.zip(nonNullOf(k), valueOf(v)))).map(_.toMap)
    case StructType(fs) => Gen.sequence[Seq[Any], Any](fs.map(f => valueOf(f.dataType)))
      .map(Row.fromSeq)
  }

  /** Rows as a multiset: every type `Convert.pipeline` emits compares by value. */
  private def bag(df: org.apache.spark.sql.DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupMapReduce(identity)(_ => 1)(_ + _)

  test("parquetSchema agrees with Spark on generated types, bare and Spark-written") {
    val decimal = for {
      p <- Gen.choose(1, 38)
      sc <- Gen.choose(0, p)
      phys <- Gen.oneOf(Seq(BINARY) ++ Option.when(p <= 9)(INT32) ++ Option.when(p <= 18)(INT64))
    } yield (n: String) =>
      Types.optional(phys).as(LogicalTypeAnnotation.decimalType(sc, p)).named(n)
    val timestamp = for {
      utc <- Gen.oneOf(true, false)
      unit <- Gen.oneOf(TimeUnit.MILLIS, TimeUnit.MICROS)
    } yield (n: String) =>
      Types.optional(INT64).as(LogicalTypeAnnotation.timestampType(utc, unit)).named(n)
    val bareColumn: Gen[String => Type] = Gen.oneOf(decimal, timestamp, Gen.oneOf[String => Type](
      n => Types.optional(FLOAT).named(n),
      n => Types.optional(BINARY).named(n),
      n => Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(n),
      n => Types.optional(INT32).as(LogicalTypeAnnotation.intType(16, true)).named(n),
      // pyarrow's all-null column
      n => Types.optional(INT32).as(LogicalTypeAnnotation.unknownType()).named(n),
      n => Types.optionalGroup().optional(INT32).named("a")
        .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("b").named(n),
      n => Types.optionalList().optionalElement(INT32).named(n)))
    val bareInput = Gen.zip(Gen.nonEmptyListOf(bareColumn), Gen.choose(0, 2))
    val bare = Prop.forAllNoShrink(bareInput) { case (cols, rows) =>
      val schema = new MessageType("schema",
        cols.zipWithIndex.map { case (c, i) => c(s"c$i") }.asJava)
      val dir = Files.createTempDirectory("graft-bare")
      // a float32 NaN in every FLOAT column, every other value null
      writeBare(dir.resolve("part-0.parquet"), schema, rows) { g =>
        schema.getFields.asScala
          .filter(f => f.isPrimitive && f.asPrimitiveType.getPrimitiveTypeName == FLOAT)
          .foreach(f => g.add(f.getName, Float.NaN))
      }
      resolvesAsSpark(dir.toString) :| schema.toString
    }
    val written = Prop.forAllNoShrink(Gen.nonEmptyListOf(sparkColumn)) { types =>
      val schema = StructType(types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) })
      val row = Row.fromSeq(types.map { case FloatType => Float.NaN; case _ => null })
      val out = s"${Files.createTempDirectory("graft-written")}/t"
      spark.createDataFrame(java.util.List.of(row), schema).coalesce(1).write.parquet(out)
      resolvesAsSpark(out) :| schema.catalogString
    }
    Seq(bare, written).foreach { prop =>
      val res = org.scalacheck.Test.check(
        org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(15), prop)
      assert(res.passed, res.status.toString)
    }
  }

  test("convertParquet fails as schema, before writing, on drifting footers or no data files") {
    val dir = s"${Files.createTempDirectory("graft-drift")}/in"
    spark.range(3).selectExpr("id AS a").write.parquet(dir)
    spark.range(3).selectExpr("CAST(id AS STRING) AS a").write.mode("append").parquet(dir)
    val out = Files.createTempDirectory("graft-drift-out").toString
    val drift = intercept[Sink.InputSchemaException](Sink.convertParquet(spark, dir, out))
    assert(Sink.classifyError(drift) == "schema", drift.getMessage)
    assert(drift.getMessage.contains("drift"), drift.getMessage)
    assert(!new java.io.File(s"$out/Extract").exists())
    // nullability alone is no drift: a REQUIRED and an OPTIONAL `a` convert
    val mixed = Files.createTempDirectory("graft-nullability")
    def one(name: String, required: Boolean): Unit = writeBare(mixed.resolve(name),
      new MessageType("schema", (if (required) Types.required(INT64) else Types.optional(INT64))
        .named("a")), 2)(_.add("a", 7L))
    one("part-0.parquet", required = true)
    one("part-1.parquet", required = false)
    // an empty file holds no rows and no schema, and is no drift either
    Files.write(mixed.resolve("part-00.parquet"), Array.emptyByteArray)
    assert(Sink.convertParquet(spark, mixed.toString, out).rows == 4)
    // no data files: an empty directory, one holding only hidden files, or
    // only an empty file
    def dirWith(name: String) = Files.write(Files.createTempDirectory("graft-nodata")
      .resolve(name), Array.emptyByteArray).getParent
    Seq(Files.createTempDirectory("graft-empty"), dirWith("_SUCCESS"),
        dirWith("part-0.parquet")).foreach { d =>
      val e = intercept[Sink.InputSchemaException](Sink.convertParquet(spark, d.toString, out))
      assert(Sink.classifyError(e) == "schema", e.getMessage)
    }
  }

  test("convertParquet leaves the caller's job group, tags and interrupt flag as they were") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "the caller's work", interruptOnCancel = false)
    try {
      val out = Files.createTempDirectory("graft-group").toString
      assert(Sink.convertParquet(spark, s"$sfDir/region.parquet", out).rows == 5)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
      assert(sc.getLocalProperty("spark.job.interruptOnCancel") == "false")
      assert(sc.getJobTags().isEmpty)
      // a negative timeout is refused before the conversion tags anything
      intercept[IllegalArgumentException] {
        Sink.convertParquet(spark, s"$sfDir/region.parquet", out,
          Sink.ConvertOptions(timeoutSeconds = -1))
      }
      assert(sc.getJobTags().isEmpty)
      assert(sc.getLocalProperty("spark.job.interruptOnCancel") == "false")
    } finally sc.clearJobGroup()
  }

  test("convertParquet reads back as Convert.pipeline of its input, and the pipeline is idempotent") {
    import graft.operators.Convert
    val input = for {
      types <- Gen.nonEmptyListOf(sparkColumn)
      n <- Gen.choose(0, 6)
      rows <- Gen.listOfN(n, Gen.sequence[Seq[Any], Any](types.map(valueOf)))
    } yield (types, rows)
    val prop = Prop.forAllNoShrink(input) { case (types, rows) =>
      val schema = StructType(types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) })
      val in = s"${Files.createTempDirectory("graft-prop")}/in"
      spark.createDataFrame(rows.map(Row.fromSeq).asJava, schema).coalesce(1).write.parquet(in)
      val once = Convert.pipeline(spark.read.parquet(in))
      val res = Sink.convertParquet(spark, in, Files.createTempDirectory("graft-prop-out").toString)
      val back = spark.read.parquet(res.outputPath)
      val want = bag(once)
      (Convert.pipeline(once).schema == once.schema && bag(Convert.pipeline(once)) == want &&
        res.rows == rows.size &&
        back.schema.map(f => f.name -> f.dataType) == once.schema.map(f => f.name -> f.dataType) &&
        bag(back) == want) :| s"${schema.catalogString} x ${rows.size}"
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("a timeout fails the conversion as timeout and leaves no zip") {
    val sc = spark.sparkContext
    val out = Files.createTempDirectory("graft-timeout").toString
    // a zero timeout fires before or during the write's job, or during the
    // driver-side zip; each fails the conversion
    val e = intercept[Sink.ConversionTimeoutException] {
      Sink.convertParquet(spark, s"$sfDir/region.parquet", out,
        Sink.ConvertOptions(timeoutSeconds = 0, zipArtifact = true))
    }
    assert(Sink.classifyError(e) == "timeout")
    assert(!new java.io.File(s"$out/Extract.zip").exists())
    assert(sc.getJobTags().isEmpty)
    assert(sc.getLocalProperty("spark.job.interruptOnCancel") == null)
  }
}
