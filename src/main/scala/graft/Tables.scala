package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Parquet table readers for the driver's deterministic testdata
  * (TESTDATA.md). Every query takes an `sfDir` and reads through here so
  * filters/projections push down to the parquet scan (Catalyst handles
  * PushedFilters/ReadSchema pruning for free on these readers).
  *
  * The table catalog: the footer of every parquet leaf file read here —
  * its schema and its row-group count — is read once and kept, keyed by
  * the file's (path, length, mtime), as the reference keeps its relation
  * cache (`containers/relationcache.go`). A rewritten file has a new key
  * and is read again. The catalog holds metadata only: no DataFrame, no
  * session. A table read therefore names its schema and runs no
  * inference job, and a census reads no footer twice.
  */
object Tables {
  private final case class FileKey(path: String, length: Long, mtime: Long)
  private final case class FileMeta(file: FileMetaData, rowGroups: Int)
  private val catalog = new ConcurrentHashMap[FileKey, FileMeta]()

  private def meta(conf: Configuration, st: FileStatus): FileMeta =
    catalog.computeIfAbsent(FileKey(st.getPath.toString, st.getLen, st.getModificationTime), _ => {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try FileMeta(r.getFooter.getFileMetaData, r.getRowGroups.size) finally r.close()
    })

  /** The schema Spark would infer for the parquet table at `path` — the
    * first data file's footer, converted under the session's parquet
    * settings — or None when the path is not a file or a flat directory
    * of data files (a partitioned or empty table is inferred by Spark). */
  private def schema(spark: SparkSession, path: String): Option[StructType] =
    scala.util.Try {
      val p = new Path(path)
      val conf = spark.sessionState.newHadoopConf()
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      val leaves = if (st.isFile) Seq(st) else fs.listStatus(p).toSeq
        .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      require(leaves.nonEmpty && leaves.forall(_.isFile))
      val first = leaves.minBy(_.getPath.getName)
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(first.getPath, new ParquetMetadata(meta(conf, first).file, java.util.List.of())),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }.toOption

  private[graft] def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** Parquet ROW-GROUP count of `df`'s scan, summed until it reaches
    * `cap` (row groups, not byte splits, bound scan parallelism: Spark
    * assigns a row group to the one task whose byte range holds its
    * midpoint). The files come from the frame's own file index, the
    * footers from the catalog. Anything but a frame over exactly one
    * unpartitioned, non-empty parquet scan — a partitioned table, a
    * local or RDD relation, a join — and any footer-read failure counts
    * as `cap`: a wide layout, on which the spreads below keep the stock
    * plan. */
  private[graft] def census(df: DataFrame, cap: Int): Int =
    df.queryExecution.analyzed.collectLeaves() match {
      case Seq(LogicalRelation(fs: HadoopFsRelation, _, _, _, _))
          if fs.fileFormat.isInstanceOf[ParquetFileFormat] && fs.partitionSchema.isEmpty =>
        scala.util.Try {
          val conf = df.sparkSession.sessionState.newHadoopConf()
          val files = fs.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)
          if (files.isEmpty) cap
          else files.foldLeft(0)((n, f) => if (n >= cap) n else n + meta(conf, f).rowGroups)
        }.getOrElse(cap)
      case _ => cap
    }

  /** Layout-aware fan-out for CPU-heavy per-row pipelines (guide §2.5
    * "one huge unsplittable file … repartition immediately after the
    * read"): when the parquet layout caps scan parallelism below the
    * session's (the bench testdata is ONE row group per table, so every
    * scan-rooted pipeline otherwise runs as a single task), hash-
    * repartition on `key` to `defaultParallelism` right after the read —
    * keyed, so retry-deterministic; N derives from the runtime. On a
    * properly laid-out table (row groups ≥ parallelism — any real
    * 100 TB input) this is a NO-OP: no exchange is added and parquet
    * predicate pushdown/scan parallelism behave exactly as stock.
    * Callers apply it only to pipelines whose per-row compute dwarfs
    * one narrow shuffle of the input (tokenize/hash/render kernels) —
    * never upstream of a scan-pushable predicate or a partial agg. A
    * frame derived from one scan takes that scan's census: the encoded
    * pgoutput segment frame is spread on `segment` by the census of
    * `events`, since AQE would coalesce its byte-tiny groupByKey
    * exchange to 2-3 tasks under the CPU-bound decode. */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (census(df, n) < n) df.repartition(n, key) else df
  }

  /** Layout-aware SORT-FIRST fan-out for render-above-the-exchange
    * queries: same row order as `orderBy(keys)` (range partitions are
    * key-ordered and each is sorted), but when the source table's
    * parquet layout caps parallelism below the session's, the explicit
    * `repartitionByRange(N, keys)` keeps AQE from coalescing the tiny
    * local range exchange back to one task under the wide per-row
    * render. On a real layout (row groups ≥ parallelism) this is STOCK
    * `orderBy` — the plan keeps AQE's advisory sizing and skew
    * handling, which the explicit-N form would opt out of. */
  def sortedSpread(df: DataFrame, keys: Column*): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (census(df, n) < n) df.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*)
    else df.orderBy(keys: _*)
  }

  /** [[documents]] fanned out for tokenize/hash-heavy consumers. */
  def documentsSpread(spark: SparkSession, dir: String): DataFrame =
    spread(documents(spark, dir), col("doc_id"))

  /** [[events]] spread on `event_id` under a PUSHDOWN BARRIER, for
    * filter-heavy consumers (the EventFilter waves evaluate complex
    * string kernels no parquet scan could push anyway): Catalyst pushes
    * deterministic filters below a repartition, so a compute-heavy predicate
    * (sortBy/groupBy/base64 kernels) lands back in the single-row-group
    * scan task and the fan-out is defeated — profiled: wave4's whole
    * predicate ran as ONE 1.1 s map-side task below the spread
    * exchange. A [[PushdownBarrier]] over the spread keeps the
    * predicate ABOVE the exchange, on every lane, and plans to nothing:
    * no job, no pinned copy. Same census gate as [[spread]]: a real
    * layout (row groups ≥ cores) returns the stock reader — no
    * exchange, and full scan-side pushdown for whatever parts of a
    * predicate ARE scan-pushable there. */
  def eventsSpreadBarrier(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val n = spark.sparkContext.defaultParallelism
    if (census(ev, n) < n) PushdownBarrier(ev.repartition(n, col("event_id"))) else ev
  }

  /** A no-op logical node that predicate pushdown does not cross (it is
    * none of the operators `PushPredicateThroughNonJoin` pushes
    * through); [[PushdownBarrier.Planner]] plans it as its child. */
  final case class PushdownBarrier(child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override protected def withNewChildInternal(c: LogicalPlan): PushdownBarrier = copy(child = c)
  }

  object PushdownBarrier {
    object Planner extends SparkStrategy {
      override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
        case PushdownBarrier(child) => planLater(child) :: Nil
        case _ => Nil
      }
    }

    /** `df` under a barrier, with [[Planner]] installed in its session
      * (once) so that any session can plan it. */
    def apply(df: DataFrame): DataFrame = {
      val x = df.sparkSession.experimental
      x.synchronized {
        if (!x.extraStrategies.contains(Planner)) x.extraStrategies = Planner +: x.extraStrategies
      }
      org.apache.spark.sql.graft.ColumnBridge.dataFrame(df.sparkSession,
        PushdownBarrier(df.queryExecution.analyzed))
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "lineitem")
  /** `events.ts` has drifted across testdata generations: TIMESTAMP(NANOS)
    * parquet (which Spark 4 refuses by default, [PARQUET_TYPE_ILLEGAL] —
    * `nanosAsLong` reads it as Long nanos) vs timestamp[us]. Every
    * downstream consumer does exact integer epoch-NANOS arithmetic (the
    * DuckDB oracle uses `epoch_ns(ts)`, precision-agnostic), so normalize
    * any flavor to Long nanos here — the single choke point for the type.
    *
    * `inferTimestampNTZ=false` makes a no-tz micros column load as
    * TimestampType, whose internal value IS the raw stored micros
    * (no session-timezone shift on read), so `unix_micros(ts)*1000`
    * equals DuckDB's naive-as-UTC `epoch_ns` regardless of session tz.
    * Both confs are runtime-settable, per-session.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    eventsConf(spark)
    normalizeTsNanos(t(spark, dir, "events"))
  }

  def eventsConf(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
  }

  /** Rewrite `ts` to Long nanos-since-epoch whatever type it loaded as.
    * Works on batch and streaming DataFrames alike (pure projection). */
  def normalizeTsNanos(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.unix_micros
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType      => df
      case TimestampType => df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case TimestampNTZType =>
        // only reachable if a caller bypassed eventsConf; the NTZ→LTZ
        // cast reads the wall clock IN THE SESSION TIMEZONE, so it is
        // only exact under UTC — anything else would silently shift
        // every timestamp by the zone offset. Fail loud instead.
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if (tz != "UTC") sys.error(
          s"events.ts loaded as TIMESTAMP_NTZ under session timezone $tz; " +
            "call Tables.eventsConf(spark) before reading (or set UTC)")
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case other => sys.error(s"events.ts: unsupported parquet type $other")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")

  /** [[embeddings]] fanned out for dot/argmax-kernel-heavy consumers
    * (quantizer fits and assignments evaluate k×dim dots per row). */
  def embeddingsSpread(spark: SparkSession, dir: String): DataFrame =
    spread(embeddings(spark, dir), col("vec_id"))
}
