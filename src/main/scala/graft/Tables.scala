package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table readers for the driver's deterministic testdata
  * (TESTDATA.md). Every query takes an `sfDir` and reads through here so
  * filters/projections push down to the parquet scan (Catalyst handles
  * PushedFilters/ReadSchema pruning for free on these readers).
  */
object Tables {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Parquet ROW-GROUP count of a table (row groups, not byte splits,
    * bound scan parallelism: Spark assigns a row group to the one task
    * whose byte range holds its midpoint). Driver-side footer read,
    * O(footer) per call — the same metadata any layout-aware reader
    * consults. Handles both a single file and a directory-style table
    * (row groups summed across part files), and degrades to
    * Int.MaxValue — "wide layout, spread no-ops" — on any footer-read
    * failure and on a directory with no direct part files (hive-
    * partitioned or empty), so a layout this census can't read gets
    * STOCK behavior instead of a query-construction crash or a spread. */
  private def rowGroups(spark: SparkSession, dir: String, name: String): Int =
    scala.util.Try {
      val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val conf = spark.sessionState.newHadoopConf()
      val fs = path.getFileSystem(conf)
      val st = fs.getFileStatus(path)
      val files =
        if (st.isDirectory)
          fs.listStatus(path).filter(s => s.isFile &&
            s.getPath.getName.endsWith(".parquet")).map(_.getPath).toSeq
        else Seq(path)
      require(files.nonEmpty, s"no part files directly under $path")
      files.map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size finally r.close()
      }.sum
    }.getOrElse(Int.MaxValue)

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
    * never upstream of a scan-pushable predicate or a partial agg. */
  def spread(spark: SparkSession, dir: String, name: String, df: DataFrame,
             key: org.apache.spark.sql.Column): DataFrame = {
    val n = spark.sparkContext.defaultParallelism
    if (rowGroups(spark, dir, name) >= n) df else df.repartition(n, key)
  }

  /** Layout-aware SORT-FIRST fan-out for render-above-the-exchange
    * queries: same row order as `orderBy(keys)` (range partitions are
    * key-ordered and each is sorted), but when the source table's
    * parquet layout caps parallelism below the session's, the explicit
    * `repartitionByRange(N, keys)` keeps AQE from coalescing the tiny
    * local range exchange back to one task under the wide per-row
    * render. On a real layout (row groups ≥ parallelism) this is STOCK
    * `orderBy` — the plan keeps AQE's advisory sizing and skew
    * handling, which the explicit-N form would opt out of (the r16
    * helper was unconditional; this is the row-group-conditional form
    * the optimization verdict asked for). */
  def sortedSpread(spark: SparkSession, dirPath: String, name: String,
                   df: DataFrame,
                   keys: org.apache.spark.sql.Column*): DataFrame = {
    val n = spark.sparkContext.defaultParallelism
    if (rowGroups(spark, dirPath, name) >= n) df.orderBy(keys: _*)
    else df.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*)
  }

  /** [[documents]] fanned out for tokenize/hash-heavy consumers. */
  def documentsSpread(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spread(spark, dir, "documents", documents(spark, dir), col("doc_id"))
  }

  /** [[events]] fanned out for render/filter-kernel-heavy consumers
    * (the EventFilter waves and conversion sweeps evaluate complex
    * string kernels no parquet scan could push anyway). */
  def eventsSpread(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spread(spark, dir, "events", events(spark, dir), col("event_id"))
  }

  /** [[eventsSpread]] with a PUSHDOWN BARRIER for filter-heavy
    * consumers (the EventFilter waves): Catalyst pushes deterministic
    * filters below a repartition, so a compute-heavy predicate
    * (sortBy/groupBy/base64 kernels) lands back in the single-row-group
    * scan task and the fan-out is defeated — profiled: wave4's whole
    * predicate ran as ONE 1.1 s map-side task below the spread
    * exchange. The eager localCheckpoint pins the narrow spread frame,
    * so the predicate must evaluate ABOVE it, on every lane. Same
    * census gate as [[spread]]: a real layout (row groups ≥ cores)
    * returns the stock reader — no exchange, no pin, and full
    * scan-side pushdown for whatever parts of a predicate ARE
    * scan-pushable there. */
  def eventsSpreadBarrier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val ev = events(spark, dir)
    val n = spark.sparkContext.defaultParallelism
    if (rowGroups(spark, dir, "events") >= n) ev
    else ev.repartition(n, col("event_id")).localCheckpoint(true)
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
    import org.apache.spark.sql.functions.{col, unix_micros}
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
  def embeddingsSpread(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spread(spark, dir, "embeddings", embeddings(spark, dir), col("vec_id"))
  }
}
