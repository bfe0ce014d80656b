package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.cdc.{Cdc, EventsEnvelope, TextBuffer}
import graft.model.Envelope
import graft.types.PgConverters
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one-pass envelope writer behind `Cdc.eventsEnvelopeCols`: byte
  * parity with the string-concatenation render it replaced (kept here,
  * as the reference), interpreted and generated code alike; the JSON
  * escaping of message prefixes; and the one LSN text routine. */
class EnvelopeWriterSpec extends SparkSpec {

  /** The concat render of the events envelope and key, as it was before
    * the one-pass writer: the reference the writer must match byte for
    * byte. It embeds `msg_prefix` raw, so it is only a reference for
    * prefixes that need no JSON escaping. */
  private def concatEnvelopeCols(dbName: String): (Column, Column) = {
    def orJsonNull(c: Column): Column = coalesce(c.cast(StringType), lit("null"))
    val rowJson = concat(
      lit("{\"event_id\":"), col("event_id"),
      lit(",\"props\":"), orJsonNull(col("props")),
      lit(",\"user_id\":"), orJsonNull(col("user_id")),
      lit(",\"value_cents\":"), orJsonNull(floor(col("value") * 100.0 + 0.5).cast(LongType)),
      lit("}"))
    val srcJson = concat(
      lit(s"""{"connector":"${Envelope.ConnectorName}","db":"$dbName","lsn":""""),
      Cdc.lsnText(col("lsn")),
      lit(s"""","name":"$dbName","schema":"public","snapshot":false,"table":"events","ts_ms":"""),
      col("ts_ms"),
      lit(",\"txId\":"), col("xid").cast(StringType),
      lit(s""","version":"${Envelope.Version}"}"""))
    val msgJson = concat(
      lit("{\"content\":\""), PgConverters.base64Std(col("props").cast(BinaryType)),
      lit("\",\"prefix\":\""), col("msg_prefix"), lit("\"}"))
    def tail = concat(lit(",\"op\":\""), col("op"), lit("\",\"source\":"),
      srcJson, lit(",\"ts_ms\":"), col("ts_ms"), lit("}"))
    val payload =
      when(col("op").isin(Envelope.Op.Read, Envelope.Op.Create),
        concat(lit("{\"after\":"), rowJson, tail))
      .when(col("op") === Envelope.Op.Update,
        concat(lit("{\"after\":"), rowJson, lit(",\"before\":"), rowJson, tail))
      .when(col("op") === Envelope.Op.Delete,
        concat(lit("{\"before\":"), rowJson, tail))
      .otherwise(concat(lit("{\"message\":"), msgJson, tail))
    val keyPayload =
      when(col("op") === Envelope.Op.Message,
        concat(lit("{\"prefix\":\""), col("msg_prefix"), lit("\"}")))
        .otherwise(concat(lit("{\"event_id\":"), col("event_id"), lit("}")))
    val keySchema =
      when(col("op") === Envelope.Op.Message,
        lit(graft.model.DebeziumSchema.messageKeySchemaJson))
      .otherwise(lit(Cdc.eventsPkKeySchemaJson))
    val valueSchema =
      when(col("op") === Envelope.Op.Message, lit(Cdc.messageEnvelopeSchemaJson))
        .otherwise(lit(Cdc.eventsEnvelopeSchemaJson))
    (concat(lit("{\"payload\":"), payload, lit(",\"schema\":"), valueSchema, lit("}")),
      concat(lit("{\"payload\":"), keyPayload, lit(",\"schema\":"), keySchema, lit("}")))
  }

  private val schema = StructType(Seq(
    StructField("op", StringType), StructField("lsn", LongType),
    StructField("xid", LongType), StructField("ts_ms", LongType),
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("msg_prefix", StringType)))

  private val ops: Seq[String] = Seq("r", "c", "u", "d", "m", "t", "x", null)
  private val longs = Seq(0L, 1L, -1L, 42L, -987654321L, 0xFFFFFFFFL, 1L << 32,
    Long.MinValue, Long.MaxValue)
  private val values = Seq(0.0, -0.0, 1.005, 2.675, 0.125, -1.005, 12.345, -7.5,
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e300)
  private val propsValues = Seq("{\"a\":1}", "{\"name\":\"Zoë ☃ 日本\",\"n\":[1,2]}", "", "{}")
  private val prefixes = Seq("prefix-1", "::timescaledb-decompression-start", "ünï", "")

  /** Every op (and a null one) against every value choice, with each
    * input column null in turn. */
  private def rows: Seq[Row] = {
    val nullable = schema.fieldNames.toSeq
    for {
      (op, o) <- ops.zipWithIndex
      nullCol <- None +: nullable.map(Some(_))
      v <- 0 until 12
    } yield {
      val i = o + v
      def l(k: Int) = longs((i + k) % longs.length)
      val cells = Seq[Any](op, l(0), l(1), l(2), l(3), l(4), values(i % values.length),
        propsValues(i % propsValues.length), prefixes(i % prefixes.length))
      Row.fromSeq(nullable.zip(cells).map { case (name, c) =>
        if (nullCol.contains(name)) null else c })
    }
  }

  /** A frame that is not a local relation, so its projections run in the
    * executor (a projection over a local relation is folded on the
    * driver, interpreted). */
  private def frame(rs: Seq[Row]): DataFrame = {
    val numbered = rs.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    spark.createDataFrame(spark.sparkContext.parallelize(numbered, 2),
      schema.add("i", IntegerType))
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def render(df: DataFrame, cols: (Column, Column)): Seq[(Int, String, String)] =
    df.select(col("i"), cols._1.as("envelope"), cols._2.as("key"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq.sortBy(_._1)

  private val CodegenOnly = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.fallback" -> "false")
  private val NoCodegen = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.wholeStage" -> "false")
  /** Generated code outside whole-stage codegen: a `GenerateUnsafeProjection`. */
  private val ProjectionCodegen = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.wholeStage" -> "false")

  test("one-pass envelope and key are byte-identical to the concat render, " +
    "generated and interpreted") {
    val df = frame(rows)
    for (db <- Seq("graft", "shop_db")) {
      val expected = render(df, concatEnvelopeCols(db))
      assert(expected.exists(_._2 == null) && expected.exists(_._2 != null))
      assert(expected.exists(_._3 == null) && expected.exists(_._3 != null))
      for (conf <- Seq(CodegenOnly, ProjectionCodegen, NoCodegen)) withConf(conf: _*) {
        val got = render(df, Cdc.eventsEnvelopeCols(db))
        assert(got.length === expected.length)
        got.zip(expected).foreach { case (g, e) =>
          assert(g === e, s"row ${g._1} under ${conf.mkString(", ")}, db $db")
        }
      }
    }
  }

  test("the writer runs inside whole-stage codegen") {
    withConf(CodegenOnly: _*) {
      val (env, key) = Cdc.eventsEnvelopeCols()
      val plan = frame(rows.take(4)).select(env.as("envelope"), key.as("key"))
        .queryExecution.executedPlan
      val fused = plan.collect { case w: WholeStageCodegenExec => w }
        .flatMap(_.child.collect { case p: ProjectExec => p })
        .flatMap(_.projectList.flatMap(_.collect { case e: EventsEnvelope => e }))
      assert(fused.nonEmpty, s"no EventsEnvelope in a codegen'd Project:\n$plan")
    }
  }

  test("message prefixes are JSON-escaped in the envelope and the key") {
    val mapper = new ObjectMapper()
    val tricky = Seq("say \"hi\"", "back\\slash", "line\nbreak\ttab\r",
      "bell\u0007 nul\u0000 esc\u001b", "\b\f", "Zoë ☃ \"日本\"\\", "\\\"")
    val rs = tricky.zipWithIndex.map { case (p, i) =>
      Row("m", 100L + i, 10L, 1700000000000L, 1000L + i, 7L, 1.5, "{\"k\":1}", p) }
    for (conf <- Seq(CodegenOnly, ProjectionCodegen, NoCodegen)) withConf(conf: _*) {
      render(frame(rs), Cdc.eventsEnvelopeCols()).zip(tricky).foreach {
        case ((_, env, key), prefix) =>
          assert(mapper.readTree(env).at("/payload/message/prefix").asText() === prefix)
          assert(mapper.readTree(key).at("/payload/prefix").asText() === prefix)
      }
    }
  }

  test("the LSN column text and the writer's LSN routine agree") {
    val lsns = Seq(0L, 0xFFFFFFFFL, 1L << 32, Long.MaxValue, -1L)
    val viaColumn = spark.createDataFrame(
      spark.sparkContext.parallelize(lsns.map(Row(_)), 1),
      StructType(Seq(StructField("lsn", LongType))))
      .select(Cdc.lsnText(col("lsn"))).collect().map(_.getString(0)).toSeq
    assert(viaColumn === lsns.map(TextBuffer.lsnText))
    assert(viaColumn === lsns.map(graft.sources.PgWire.lsnText))
    assert(viaColumn === Seq("0/0", "0/FFFFFFFF", "1/0", "7FFFFFFF/FFFFFFFF",
      "FFFFFFFF/FFFFFFFF"))
  }
}
