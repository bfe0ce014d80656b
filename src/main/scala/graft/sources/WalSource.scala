package graft.sources

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Custom DataSourceV2 micro-batch source with **LSN offsets** — the
  * Spark shape of the reference's replication channel
  * (`internal/replication/replicationchannel/replicationhandler.go:
  * 115-215`): a monotone LSN cursor is the streaming offset; restart
  * resumes from the last committed LSN (T1, `replicationcontext.go:
  * 251-281`); each micro-batch serves the next LSN window (the
  * transaction-window bound, `transactiontracker.go:458-482`).
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft.sources.WalDataSource")
  *   .option("path", "/root/testdata/sf0.001")
  *   .option("batchSize", "300")
  *   .load()
  * }}}
  *
  * Scale design: the driver holds ONLY the LSN cursor — it reads the
  * parquet footer for the record count, never row data. Each
  * `InputPartition` carries an `(lo, hi)` LSN range and its reader scans
  * that range itself (parquet-hadoop with an lsn range filter pushed to
  * row groups), exactly how a production pgoutput source would hold a
  * per-reader replication-socket cursor. Driver heap stays O(1) in the
  * WAL size. The footer reads and the range readers use the session's
  * Hadoop configuration, taken once per stream and broadcast once per
  * stream to the readers (see [[SegmentDataSource]]).
  */
class WalDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = WalDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WalTable(properties.get("path"),
      Option(properties.get("batchSize")).map(_.toInt).getOrElse(1000))
}

object WalDataSource {
  val schema: StructType = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("xid", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("ts_ms", LongType, nullable = false),
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true)))
}

class WalTable(path: String, batchSize: Int) extends Table with SupportsRead {
  override def name(): String = s"graft-wal($path)"
  override def schema(): StructType = WalDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new WalScan(path, batchSize)
}

class WalScan(path: String, batchSize: Int) extends Scan {
  override def readSchema(): StructType = WalDataSource.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new WalMicroBatchStream(path, batchSize)
}

/** Offset = highest LSN served (exclusive), exactly the restart-LSN
  * semantics of `spi/statestorage/offset.go:28-36`. */
case class LsnOffset(lsn: Long) extends Offset {
  override def json(): String = s"""{"lsn":$lsn}"""
}

class WalMicroBatchStream(path: String, batchSize: Int)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  // Driver-side state is the LSN high-watermark alone, read from the
  // parquet FOOTER column statistics (metadata only — no row data
  // crosses the driver). Using max(event_id)+1 rather than the record
  // count avoids silently dropping events if ids are ever non-dense or
  // non-zero-based; absent statistics FAIL LOUDLY rather than guess.
  // Re-read per latestOffset() call (cheap: one footer) so a continuous
  // stream observes WAL growth — the tail-capable behavior of the
  // reference's replication socket; AvailableNow snapshots it once so
  // that run has a stable endpoint.
  private val conf = new StreamConf

  private def readMaxLsn(): Long = {
    val reader = WalFile.openStable(path, conf.hadoop) { status =>
      org.apache.parquet.hadoop.ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf.hadoop))
    }
    try {
      import scala.jdk.CollectionConverters._
      val maxes = for {
        block <- reader.getFooter.getBlocks.asScala
        col   <- block.getColumns.asScala
        if col.getPath.toDotString == "event_id"
        stats = col.getStatistics
        if stats != null && stats.hasNonNullValue
      } yield stats.genericGetMax match {
        case l: java.lang.Long => l.longValue()
        case other             => other.toString.toLong
      }
      if (maxes.nonEmpty) maxes.max + 1
      else throw new IllegalStateException(
        s"$path/events.parquet carries no event_id column statistics; " +
        "refusing to infer the WAL high-watermark from the record count " +
        "(it silently drops events for non-dense or non-zero-based ids)")
    } finally reader.close()
  }

  @volatile private var availableNowCap: Option[Long] = None
  private def highWatermark: Long = availableNowCap.getOrElse(readMaxLsn())

  override def initialOffset(): Offset = LsnOffset(0L)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  // admission control: each micro-batch admits at most batchSize LSNs —
  // the transaction-window bound as a ReadLimit
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchSize)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[LsnOffset].lsn
    LsnOffset(math.min(lo + batchSize, highWatermark))
  }
  override def reportLatestOffset(): Offset = LsnOffset(highWatermark)
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = Some(readMaxLsn())
  }
  override def deserializeOffset(json: String): Offset =
    LsnOffset("""\d+""".r.findFirstIn(json).map(_.toLong).getOrElse(0L))
  override def commit(end: Offset): Unit = () // checkpoint log is the store
  override def stop(): Unit = conf.release()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[LsnOffset].lsn
    val hi = end.asInstanceOf[LsnOffset].lsn
    // partitions carry (lo, hi) LSN ranges only — per-range readers keep
    // per-key order within a partition (T6 relaxation)
    (lo until hi by batchSize).map { s =>
      WalRangePartition(path, s, math.min(s + batchSize, hi)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = WalReaderFactory(conf.forReaders)
}

final case class WalReaderFactory(conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WalRangePartition]
    new WalRangeReader(p.path, p.lo, p.hi, conf.value.value)
  }
}

private[sources] object WalFile {
  /** Stat `dir/events.parquet` and `open` it. A growing WAL is replaced
    * atomically, which can land between a stat and the open that trusts
    * its length: the open then seeks the old length in the new file and
    * fails. Only when the file's (length, mtime) changed under `open` is
    * it retried, on the new file. */
  def openStable[T](dir: String, conf: Configuration)(open: FileStatus => T): T = {
    val walPath = new Path(s"$dir/events.parquet")
    val fs = walPath.getFileSystem(conf)
    val before = fs.getFileStatus(walPath)
    def replaced: Boolean = {
      val now = fs.getFileStatus(walPath)
      now.getLen != before.getLen || now.getModificationTime != before.getModificationTime
    }
    try open(before)
    catch { case _: Exception if replaced => openStable(dir, conf)(open) }
  }
}

/** An LSN half-open range `[lo, hi)` — the only thing shipped to
  * executors; the reader re-opens the WAL (file) itself. */
case class WalRangePartition(path: String, lo: Long, hi: Long) extends InputPartition

/** Executor-side range scan: parquet-hadoop reader with the lsn range
  * pushed as a row-group + record filter, decoding straight to the WAL
  * shape (op mapping, ts_ms, xid — the `Cdc.shapeWal` contract). */
class WalRangeReader(path: String, lo: Long, hi: Long, conf: Configuration)
    extends PartitionReader[InternalRow] {
  import org.apache.parquet.filter2.compat.FilterCompat
  import org.apache.parquet.filter2.predicate.FilterApi
  import org.apache.parquet.example.data.Group

  // the reader trusts the stat's length and the first read opens the
  // file, so the first record is read here, under the replaced-WAL retry
  private val (reader, first) =
    WalFile.openStable(path, conf) { status =>
      val pred = FilterApi.and(
        FilterApi.gtEq(FilterApi.longColumn("event_id"), java.lang.Long.valueOf(lo)),
        FilterApi.lt(FilterApi.longColumn("event_id"), java.lang.Long.valueOf(hi)))
      val r = GroupFiles.open(HadoopInputFile.fromStatus(status, conf), FilterCompat.get(pred))
      try (r, r.read())
      catch { case e: Exception => r.close(); throw e }
    }

  private var current: Group = _
  private var started = false
  override def next(): Boolean = {
    current = if (started) reader.read() else first
    started = true
    current != null
  }

  /** Raw-int64→nanos multiplier for `ts`, derived from the column's
    * parquet logical type (testdata generations have shipped both
    * TIMESTAMP(NANOS) and timestamp[us]; a bare int64 means nanos). */
  private var tsToNanos: Long = 0L
  private def tsMultiplier(g: Group): Long = {
    if (tsToNanos == 0L) {
      import org.apache.parquet.schema.LogicalTypeAnnotation
      import LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
      tsToNanos = g.getType.getType("ts").asPrimitiveType()
        .getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit match {
          case TimeUnit.NANOS  => 1L
          case TimeUnit.MICROS => 1000L
          case TimeUnit.MILLIS => 1000000L
        }
        case _ => 1L // plain int64: already nanos
      }
    }
    tsToNanos
  }

  override def get(): InternalRow = {
    val g = current
    def has(field: String): Boolean = g.getFieldRepetitionCount(field) > 0
    val eventId = g.getLong("event_id", 0)
    val tsNanos = g.getLong("ts", 0) * tsMultiplier(g)
    val eventType = g.getBinary("event_type", 0).toStringUsingUTF8
    // the shared event_type→op rule (one source of truth with Cdc)
    val op = graft.model.Envelope.opFor(eventType)
    InternalRow(
      eventId,                        // lsn
      eventId / 10,                   // xid
      UTF8String.fromString(op),
      tsNanos / 1000000L,             // ts_ms
      eventId,
      g.getLong("user_id", 0),
      if (has("value")) g.getDouble("value", 0) else null.asInstanceOf[Any],
      if (has("props")) UTF8String.fromString(g.getBinary("props", 0).toStringUsingUTF8)
      else null)
  }

  override def close(): Unit = reader.close()
}
