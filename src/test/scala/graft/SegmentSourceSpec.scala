package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.cdc.PgOutput
import graft.sources.{SegmentDataSource, SegmentMicroBatchStream, SegmentOffset, SegmentPartition}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The driver-listed segment source: (mtime, name) offsets over a flat
  * directory written by one sequential writer, restart from the
  * checkpoint, AvailableNow caps, byte-balanced planning, and a wire
  * micro-batch that runs exactly one Spark job. */
class SegmentSourceSpec extends SparkSpec {

  private def tempDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Write one parquet file per segment in `segments` into `dir`, named
    * `seg-<n>.parquet`, with mtime `mtime0 + 1000 * n`: one sequential
    * writer's commit order. Segment `n` carries `n * 37 % 4000` bytes. */
  private def writeSegments(dir: String, segments: Seq[Long],
                            mtime0: Long = 1700000000000L): Seq[File] = {
    val staging = tempDir("graft-seg-staging")
    val rows = segments.map(n => Row(n, n * 100, Array.fill[Byte]((n * 37 % 4000).toInt)(n.toByte)))
    spark.createDataFrame(rows.asJava, PgOutput.frameSchema)
      .repartitionByRange(segments.length, col("segment"))
      .write.mode("overwrite").parquet(staging)
    val parts = new File(staging).listFiles().filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length === segments.length, "one file per segment")
    new File(dir).mkdirs()
    parts.zip(segments.sorted).map { case (part, n) =>
      val target = new File(dir, f"seg-$n%05d.parquet")
      Files.move(part.toPath, target.toPath)
      target.setLastModified(mtime0 + 1000 * n)
      target
    }
  }

  private def segmentStream(dir: String): DataFrame =
    spark.readStream.format(classOf[SegmentDataSource].getName).option("path", dir).load()

  /** Run an AvailableNow query over `dir` on `ckpt`; the segment numbers
    * it delivered, in delivery order. `onBatch` runs after each batch. */
  private def drain(dir: String, ckpt: String, onBatch: Long => Unit = _ => ())
      : (Seq[Long], StreamingQuery) = {
    val got = new ConcurrentLinkedQueue[Long]()
    val q = segmentStream(dir).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.select("segment").collect().foreach(r => got.add(r.getLong(0)))
        onBatch(id)
      }
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "segment stream did not finish")
    q.exception.foreach(e => throw e)
    (got.asScala.toSeq, q)
  }

  test("a restart on the same checkpoint after more files are appended equals an uninterrupted run") {
    val dir = tempDir("graft-seg-restart")
    val ckpt = tempDir("graft-seg-restart-ckpt")
    writeSegments(dir, 0L until 5L)
    val (first, _) = drain(dir, ckpt)
    writeSegments(dir, 5L until 9L)
    val (second, _) = drain(dir, ckpt)
    val (again, _) = drain(dir, ckpt)
    val (straight, _) = drain(dir, tempDir("graft-seg-straight-ckpt"))
    assert(first.sorted === (0L until 5L))
    assert(second.sorted === (5L until 9L), "only the appended files are served after the restart")
    assert(again.isEmpty, "nothing is served twice")
    assert((first ++ second).sorted === straight.sorted)
    assert(straight.sorted === (0L until 9L))
  }

  test("_SUCCESS, _temporary/ and .crc entries are not segments") {
    val dir = tempDir("graft-seg-hidden")
    val files = writeSegments(dir, 0L until 3L)
    new File(dir, "_SUCCESS").createNewFile()
    val temp = new File(dir, "_temporary/0")
    temp.mkdirs()
    Files.copy(files.head.toPath, new File(temp, "part-00000.parquet").toPath)
    Files.write(new File(dir, ".seg-99999.parquet.crc").toPath, "not parquet".getBytes)
    val (got, _) = drain(dir, tempDir("graft-seg-hidden-ckpt"))
    assert(got.sorted === (0L until 3L))
  }

  test("files appended after prepareForTriggerAvailableNow are left for the next run") {
    val dir = tempDir("graft-seg-cap")
    writeSegments(dir, 0L until 3L)
    val stream = new SegmentMicroBatchStream(dir)
    stream.prepareForTriggerAvailableNow()
    val late = writeSegments(dir, Seq(3L)).head
    val end = stream.latestOffset(stream.initialOffset(), ReadLimit.allAvailable())
    assert(end === SegmentOffset(1700000000000L + 2000, "seg-00002.parquet"))
    val planned = stream.planInputPartitions(stream.initialOffset(), end)
      .flatMap(_.asInstanceOf[SegmentPartition].paths)
    assert(planned.map(p => new File(new java.net.URI(p)).getName).sorted.toSeq ===
      Seq("seg-00000.parquet", "seg-00001.parquet", "seg-00002.parquet"))
    // the run's next trigger lists the late file, and leaves it pending
    assert(stream.latestOffset(end, ReadLimit.allAvailable()) === end)
    val pending = stream.metrics(java.util.Optional.of(end)).asScala
    assert(pending === Map("pendingFiles" -> "1", "pendingBytes" -> late.length.toString))

    // the same through a query: a file appended while the run's one
    // batch runs is served by the next run
    val ckpt = tempDir("graft-seg-cap-ckpt")
    val (first, _) = drain(dir, ckpt, id => if (id == 0) writeSegments(dir, Seq(4L)))
    assert(first.sorted === (0L until 4L))
    val (next, _) = drain(dir, ckpt)
    assert(next === Seq(4L))
  }

  test("a file that appears behind the offset fails the query with the single-writer message") {
    val dir = tempDir("graft-seg-behind")
    writeSegments(dir, 0L until 3L)
    val q = segmentStream(dir).writeStream
      .option("checkpointLocation", tempDir("graft-seg-behind-ckpt"))
      .foreachBatch((b: DataFrame, _: Long) => b.collect(): Unit)
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      q.processAllAvailable()
      writeSegments(dir, Seq(7L), mtime0 = 1700000000000L - 60000)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(60000)
      }
      assert(e.getMessage.contains("seg-00007.parquet"), e.getMessage)
      assert(e.getMessage.contains("single sequential writer"), e.getMessage)
    } finally q.stop()
  }

  test("a batch of 100 files plans at most defaultParallelism partitions, balanced by bytes") {
    val dir = tempDir("graft-seg-pack")
    val files = writeSegments(dir, 0L until 100L)
    val stream = new SegmentMicroBatchStream(dir)
    val end = stream.latestOffset(stream.initialOffset(), ReadLimit.allAvailable())
    val parts = stream.planInputPartitions(stream.initialOffset(), end)
      .map(_.asInstanceOf[SegmentPartition].paths.toSeq)
    val slots = spark.sparkContext.defaultParallelism
    assert(parts.length === math.min(slots, 100))
    val size = files.map(f => f.getName -> f.length).toMap
    val names = parts.map(_.map(p => new File(new java.net.URI(p)).getName))
    assert(names.flatten.sorted.toSeq === files.map(_.getName).sorted)
    val loads = names.map(_.map(size).sum)
    assert(loads.max - loads.min <= size.values.max, s"partition bytes $loads")
    names.foreach(n => assert(n === n.sorted, "each partition reads its files in order"))
  }

  test("a checkpoint written by Spark's file stream source fails with a new-checkpoint message") {
    val dir = tempDir("graft-seg-legacy")
    writeSegments(dir, 0L until 2L)
    val ckpt = tempDir("graft-seg-legacy-ckpt")
    val legacy = spark.readStream.schema(PgOutput.frameSchema).parquet(dir).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: DataFrame, _: Long) => b.collect(): Unit)
      .trigger(Trigger.AvailableNow()).start()
    assert(legacy.awaitTermination(120000))
    val e = intercept[Exception](drain(dir, ckpt))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("start the query on a new checkpoint")),
      e.getMessage)
  }

  test("segment readers open files through the session's Hadoop settings") {
    // the `graftspool` scheme exists only in the session conf, and with
    // its FileSystem cache off the driver's listing instance is not
    // reused: a reader that builds its own configuration cannot open it
    val local = tempDir("graft-seg-scheme")
    writeSegments(local, 0L until 6L)
    val keys = Seq("fs.graftspool.impl" -> classOf[SpoolFileSystem].getName,
      "fs.graftspool.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val got = new ConcurrentLinkedQueue[(Long, Int)]()
      val q = segmentStream(s"graftspool://$local").writeStream
        .option("checkpointLocation", tempDir("graft-seg-scheme-ckpt"))
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => got.add((r.getLong(0), r.getAs[Array[Byte]](2).length)))
        }
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "segment stream did not finish")
      q.exception.foreach(e => throw e)
      assert(got.asScala.toSeq.sorted === (0L until 6L).map(n => (n, (n * 37 % 4000).toInt)))
    } finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("a config-driven wire stream runs one Spark job per micro-batch") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val dir = tempDir("graft-seg-jobs")
    // 20-event segments, one file each: 50 files, past the 32 paths at
    // which a file index lists with a Spark job
    val segs = PgOutput.encodeSegments(Tables.events(spark, sf001), segmentTxns = 2)
    val nSeg = segs.select("segment").distinct().count().toInt
    segs.repartitionByRange(nSeg, col("segment")).write.parquet(s"$dir/segments")
    val nFiles = new File(s"$dir/segments").listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 40, s"$nFiles segment files")

    final case class Job(description: String, queryId: String, executionId: String)
    val jobs = new ConcurrentLinkedQueue[Job]()
    val plans = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val barrier = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        if (e.stageInfos.exists(_.rddInfos.exists(_.name == "segment-jobs-barrier")))
          barrier.countDown()
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
        jobs.add(Job(prop("spark.job.description"), prop("sql.streaming.queryId"),
          prop("spark.sql.execution.id")))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId.toString, s.physicalPlanDescription)
        case _ =>
      }
    }
    val sink = new graft.sinks.CollectorSink
    val name = s"collector-${new File(dir).getName}"
    graft.sinks.Sinks.register(name, () => sink)
    val probe = new java.net.ServerSocket(0)
    val statsPort = probe.getLocalPort
    probe.close()
    val props = Map(
      "sink.type" -> name,
      "postgresql.pgoutput.path" -> s"$dir/segments",
      "sink.filters.keep.condition" -> "value.after.value >= 25",
      "statestorage.type" -> "file",
      "statestorage.file.path" -> s"$dir/ckpt",
      "stats.port" -> statsPort.toString)
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val q = graft.streaming.ConfigPipeline.start(spark, sf001, props, dir)
      assert(q.awaitTermination(300000), "wire stream did not finish")
      q.exception.foreach(e => throw e)
      // the listener bus is FIFO: once a later job is seen, every job
      // of the query has been delivered
      sc.parallelize(Seq(1), 1).setName("segment-jobs-barrier").count()
      val deadline = System.currentTimeMillis() + 30000
      while (barrier.getCount > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(barrier.getCount === 0, "the listener bus did not deliver the barrier job")
      val batches = q.recentProgress.count(_.numInputRows > 0)
      val queryJobs = jobs.asScala.filter(_.queryId == q.id.toString).toSeq
      assert(batches >= 1 && sink.rows.nonEmpty)
      assert(queryJobs.length === batches, s"jobs of the query: $queryJobs")
      assert(!jobs.asScala.exists(_.description.startsWith("Listing leaf files")))
      queryJobs.foreach { j =>
        assert(!Option(plans.get(j.executionId)).exists(_.contains("events.parquet")),
          s"the catalog is scanned inside a batch: ${plans.get(j.executionId)}")
      }
    } finally {
      sc.removeSparkListener(listener)
      graft.streaming.StatsEndpoint.stop(statsPort)
    }
  }

  test("building a wire envelope stream plans no nested-loop join") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    val plans = new ConcurrentLinkedQueue[String]()
    val barrier = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.rddInfos.exists(_.name == "lookup-plans-barrier")))
          barrier.countDown()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.physicalPlanDescription)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // building the stream collects the chunk lookup; nothing is started
      graft.streaming.StreamPipeline.envelopeStream(spark, sf001,
        pgoutputPath = Some(tempDir("graft-seg-lookup")))
      sc.parallelize(Seq(1), 1).setName("lookup-plans-barrier").count()
      val deadline = System.currentTimeMillis() + 30000
      while (barrier.getCount > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(barrier.getCount === 0, "the listener bus did not deliver the barrier job")
    } finally sc.removeSparkListener(listener)
    val all = plans.asScala.toSeq
    assert(all.exists(_.contains("events.parquet")), s"the chunk catalog read was not seen: $all")
    all.foreach { p => assert(!p.contains("BroadcastNestedLoopJoin"), p) }
  }
}

/** The local filesystem under the `graftspool` scheme, which no Hadoop
  * default registers. */
class SpoolFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftspool:///")
  override def getScheme: String = "graftspool"
}
