package graft.sources

import java.util

import graft.cdc.PgOutput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DataSourceV2 micro-batch source over a directory of pgoutput segment
  * parquet files (`PgOutput.frameSchema`: one `(segment, start_lsn,
  * data)` row per segment), as a tailer spools them.
  *
  * {{{
  * spark.readStream.format("graft.sources.SegmentDataSource")
  *   .option("path", "/spool/segments")
  *   .load()
  * }}}
  *
  * Offsets are driver-side metadata, as the replication channel's LSN
  * cursor is (`replicationhandler.go:115-215`): one `listStatus` per
  * trigger, files ordered by (modification time, name), and the offset
  * is the (mtime, name) of the last file served. Planning a batch runs
  * no Spark job: its partitions carry file paths, and the executors
  * read the files with parquet-hadoop.
  *
  * The listing and the readers use one Hadoop configuration: the
  * session's (`sessionState.newHadoopConf()`, so `spark.hadoop.*` and
  * session-set filesystem keys apply), taken once per stream and
  * broadcast once per stream to the readers, as Spark's own parquet scan
  * does. A reader opens each file through that configuration and never
  * builds one of its own.
  *
  * The contract is a SINGLE SEQUENTIAL WRITER (the engine's tailer, a
  * spool), whose commit order is (mtime, name) order. A file that
  * appears at or behind the offset was committed out of that order; it
  * fails the query instead of being skipped. Names starting with `_` or
  * `.` (`_SUCCESS`, `_temporary`, checksum files) are not segments.
  */
class SegmentDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = PgOutput.frameSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SegmentTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("SegmentDataSource needs a path option")))
}

class SegmentTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft-segments($path)"
  override def schema(): StructType = PgOutput.frameSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new Scan {
      override def readSchema(): StructType = PgOutput.frameSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new SegmentMicroBatchStream(path)
    }
}

/** (mtime, name) of the last segment file served; [[SegmentOffset.Start]]
  * before the first. */
case class SegmentOffset(mtime: Long, name: String) extends Offset {
  override def json(): String =
    s"""{"mtime":$mtime,"name":${SegmentOffset.mapper.writeValueAsString(name)}}"""
  def <(o: SegmentOffset): Boolean =
    mtime < o.mtime || (mtime == o.mtime && name.compareTo(o.name) < 0)
}

object SegmentOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  val Start: SegmentOffset = SegmentOffset(-1L, "")

  /** Spark's progress reporter hands [[SegmentMicroBatchStream.metrics]]
    * the offsets of a batch replayed from the offset log as
    * `SerializedOffset`s (the raw json). */
  def of(o: Offset): SegmentOffset = o match {
    case s: SegmentOffset => s
    case other => parse(other.json())
  }

  def parse(json: String): SegmentOffset = {
    val node = scala.util.Try(mapper.readTree(json)).toOption.orNull
    if (node == null || !node.has("mtime") || !node.has("name"))
      throw new IllegalStateException(
        s"segment source: checkpoint offset '$json' is not a (mtime, name) segment offset. " +
          "Checkpoints written while pgoutput segments were read through Spark's file " +
          "stream source cannot be resumed: start the query on a new checkpoint " +
          "(statestorage.file.path); the replication slot's confirmed LSN is unaffected")
    SegmentOffset(node.get("mtime").asLong(), node.get("name").asText())
  }
}

/** One listed segment file. */
final case class SegmentFile(path: String, mtime: Long, length: Long) {
  def name: String = path.substring(path.lastIndexOf('/') + 1)
  def offset: SegmentOffset = SegmentOffset(mtime, name)
}

/** The segment files one task reads, in (mtime, name) order. */
final case class SegmentPartition(paths: Array[String]) extends InputPartition

class SegmentMicroBatchStream(path: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  private val dir = new Path(path)
  private val conf = new StreamConf
  private lazy val fs = dir.getFileSystem(conf.hadoop)
  private var listed = false
  @volatile private var listing: Vector[SegmentFile] = Vector.empty
  @volatile private var availableNowCap: Option[SegmentOffset] = None
  // the AvailableNow listing serves the run's first trigger too
  private var reuseListing = false

  /** One `listStatus`. A file the previous listing did not hold, at or
    * behind the offset `served`, breaks the single-writer order. */
  private def list(served: SegmentOffset): Vector[SegmentFile] = {
    val statuses: Array[FileStatus] =
      try fs.listStatus(dir)
      catch { case e: java.io.FileNotFoundException =>
        throw new IllegalStateException(s"segment source: directory $path does not exist", e) }
    val files = statuses.iterator
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      .map { s =>
        if (s.isDirectory) throw new IllegalStateException(
          s"segment source: ${s.getPath} is a directory; segments are read from a flat directory")
        SegmentFile(s.getPath.toString, s.getModificationTime, s.getLen)
      }
      .toVector.sortBy(f => (f.mtime, f.name))
    val known = listing.iterator.map(_.name).toSet
    if (listed) files.find(f => !known(f.name) && !(served < f.offset)).foreach { f =>
      throw new IllegalStateException(
        s"segment source: ${f.path} (mtime ${f.mtime}) appeared at or behind the offset " +
          s"(${served.mtime}, ${served.name}). Segment files must come from a single " +
          "sequential writer, committed in (modification time, name) order; a file " +
          "committed behind the offset would never be read")
    }
    listed = true
    listing = files
    files
  }

  override def initialOffset(): Offset = SegmentOffset.Start
  override def deserializeOffset(json: String): Offset = SegmentOffset.parse(json)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = Some(list(SegmentOffset.Start).lastOption.fold(SegmentOffset.Start)(_.offset))
    reuseListing = true
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[SegmentOffset]
    val files = if (reuseListing) listing else list(from)
    reuseListing = false
    val eligible = availableNowCap.fold(files)(cap => files.filterNot(cap < _.offset))
    eligible.lastOption.map(_.offset).filter(from < _).getOrElse(from)
  }

  override def reportLatestOffset(): Offset = listing.lastOption.map(_.offset).orNull

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (from, to) = (start.asInstanceOf[SegmentOffset], end.asInstanceOf[SegmentOffset])
    // a batch recovered from the offset log on restart precedes this
    // instance's first latestOffset: list for it
    val files = if (listing.exists(_.offset == to)) listing else list(from)
    if (to != SegmentOffset.Start && !files.exists(_.offset == to))
      throw new IllegalStateException(
        s"segment source: ${to.name} (mtime ${to.mtime}), the end offset of this batch, " +
          s"is no longer in $path")
    SegmentMicroBatchStream.pack(files.filter(f => from < f.offset && !(to < f.offset)),
      SparkSession.active.sparkContext.defaultParallelism)
  }

  /** Files listed but not yet served, from the last listing. */
  override def metrics(latestConsumedOffset: util.Optional[Offset]): util.Map[String, String] = {
    val consumed = latestConsumedOffset.map[SegmentOffset](SegmentOffset.of).orElse(SegmentOffset.Start)
    val pending = listing.filter(consumed < _.offset)
    util.Map.of("pendingFiles", pending.length.toString,
      "pendingBytes", pending.iterator.map(_.length).sum.toString)
  }

  override def createReaderFactory(): PartitionReaderFactory = SegmentReaderFactory(conf.forReaders)

  override def commit(end: Offset): Unit = () // the checkpoint's offset log is the store
  override def stop(): Unit = conf.release()
  override def toString: String = s"SegmentSource[$path]"
}

object SegmentMicroBatchStream {
  /** Pack `files` into at most `slots` partitions balanced by bytes
    * (largest file first, onto the lightest partition); each partition
    * reads its files, and the partitions are ordered, by (mtime, name). */
  def pack(files: Seq[SegmentFile], slots: Int): Array[InputPartition] = {
    val n = math.min(math.max(slots, 1), files.length)
    val bins = Array.fill(n)(Vector.newBuilder[SegmentFile])
    val load = new Array[Long](n)
    files.sortBy(-_.length).foreach { f =>
      val i = load.indices.minBy(load(_))
      bins(i) += f
      load(i) += f.length
    }
    bins.map(_.result().sortBy(f => (f.mtime, f.name))).filter(_.nonEmpty)
      .sortBy(b => (b.head.mtime, b.head.name))
      .map(b => SegmentPartition(b.map(_.path).toArray): InputPartition)
  }
}

final case class SegmentReaderFactory(conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new SegmentReader(partition.asInstanceOf[SegmentPartition].paths, conf.value.value)
}

/** Reads `(segment, start_lsn, data)` rows from each file in turn. */
class SegmentReader(paths: Array[String], conf: Configuration) extends PartitionReader[InternalRow] {
  private var nextFile = 0
  private var reader: ParquetReader[Group] = _
  private var current: Group = _

  override def next(): Boolean = {
    current = if (reader == null) null else reader.read()
    while (current == null && nextFile < paths.length) {
      if (reader != null) reader.close()
      reader = GroupFiles.open(HadoopInputFile.fromPath(new Path(paths(nextFile)), conf))
      nextFile += 1
      current = reader.read()
    }
    current != null
  }

  override def get(): InternalRow = {
    val g = current
    InternalRow(g.getLong("segment", 0), g.getLong("start_lsn", 0),
      if (g.getFieldRepetitionCount("data") > 0) g.getBinary("data", 0).getBytes else null)
  }

  override def close(): Unit = if (reader != null) reader.close()
}
