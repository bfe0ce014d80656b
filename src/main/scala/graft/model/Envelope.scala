package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium-compatible event envelope model, re-expressed as Spark
  * `StructType`s and `Column` builders.
  *
  * Reference semantics: `spi/schema/eventschema.go:53-226` (envelope +
  * source block), op codes `eventschema.go:34-51`, key schemas
  * `eventschema.go:180-197`.
  *
  * Spark-first design: the envelope is a plain nested struct column built
  * with `struct(...)`/`to_json(...)` so Catalyst keeps the whole
  * projection inside whole-stage codegen — no UDFs, no row-by-row
  * serialization layer like the reference's schema builder
  * (`spi/schema/schemabuilder.go:39-89`).
  */
object Envelope {

  /** Op codes — `spi/schema/eventschema.go:36-44`. */
  object Op {
    val Read       = "r"
    val Create     = "c"
    val Update     = "u"
    val Delete     = "d"
    val Truncate   = "t"
    val Message    = "m"
    val Timescale  = "$" // compression/decompression events
    val all: Seq[String] = Seq(Read, Create, Update, Delete, Truncate, Message, Timescale)
  }

  /** event_type → op for the WAL stand-in — the ONE source of truth
    * shared by the batch and streaming shaping (`Cdc.opExpr`) and the
    * source-column gate inversion (`Cdc.opGateAtSource`); anything not
    * mapped is a logical message. */
  val eventTypeToOp: Map[String, String] = Map(
    "signup" -> Op.Create, "purchase" -> Op.Update,
    "error" -> Op.Delete, "view" -> Op.Read, "click" -> Op.Message)

  /** tsdb_op values — `spi/schema/eventschema.go:46-51`. */
  object TsdbOp {
    val Compression   = "c"
    val Decompression = "d"
  }

  val ConnectorName = "spark-graft"
  val Version       = "0.1.0"

  /** Source block schema — `spi/schema/eventschema.go:209-226`. */
  val sourceSchema: StructType = StructType(Seq(
    StructField("version", StringType, nullable = false),
    StructField("connector", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("ts_ms", LongType, nullable = false),
    StructField("snapshot", BooleanType, nullable = false),
    StructField("db", StringType, nullable = false),
    StructField("schema", StringType, nullable = false),
    StructField("table", StringType, nullable = false),
    StructField("txId", LongType, nullable = true),
    StructField("lsn", StringType, nullable = true)
  ))

  /** Build the `source` struct column from WAL-shaped input columns.
    * Mirrors `spi/schema/eventschema.go:67-79` field population.
    */
  def sourceBlock(dbName: String, schemaName: Column, tableName: Column,
                  tsMs: Column, snapshot: Column, txId: Column, lsn: Column): Column =
    struct(
      lit(Version).as("version"),
      lit(ConnectorName).as("connector"),
      lit(dbName).as("name"),
      tsMs.as("ts_ms"),
      snapshot.as("snapshot"),
      lit(dbName).as("db"),
      schemaName.as("schema"),
      tableName.as("table"),
      txId.as("txId"),
      lsn.as("lsn")
    )

  /** Full envelope payload struct — `spi/schema/eventschema.go:199-226`:
    * {before?, after?, source, op, ts_ms, tsdb_op?, message?}.
    */
  def payload(op: Column, before: Column, after: Column, source: Column,
              tsMs: Column, tsdbOp: Column = lit(null).cast(StringType)): Column =
    struct(
      op.as("op"),
      before.as("before"),
      after.as("after"),
      source.as("source"),
      tsMs.as("ts_ms"),
      tsdbOp.as("tsdb_op")
    )

  /** Topic/stream naming: `<prefix>.<schema>.<table>` —
    * `internal/eventing/namingstrategy/debezium.go:37-56`.
    */
  def topicName(prefix: String, schemaName: Column, tableName: Column): Column =
    concat_ws(".", lit(prefix), schemaName, tableName)

  /** Logical-message topic: `<prefix>.message` —
    * `internal/eventing/namingstrategy/debezium.go:55-60`. */
  def messageTopicName(prefix: String): String = s"$prefix.message"

  /** Topic sanitization parity — `internal/eventing/namingstrategy/sanitization.go:24-52`:
    * any char outside [a-zA-Z0-9._-] is replaced by '_'.
    */
  def sanitizeTopic(c: Column): Column =
    regexp_replace(c, "[^a-zA-Z0-9._-]", "_")
}
