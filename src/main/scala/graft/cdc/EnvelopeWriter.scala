package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8
import graft.model.{DebeziumSchema, Envelope}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A growable byte buffer that JSON text is written into, reused from
  * one row to the next: integers go in as digits and the LSN as `X/X`
  * hex with no `String` in between, UTF-8 strings are copied as bytes.
  * [[toUTF8String]] copies the text once, into an exact-size string. */
final class TextBuffer(initial: Int = 1 << 10) {
  private var array = new Array[Byte](initial)
  private var n = 0

  def clear(): this.type = { n = 0; this }
  def toUTF8String: UTF8String = UTF8String.fromBytes(java.util.Arrays.copyOf(array, n))
  override def toString: String = new String(array, 0, n, UTF_8)

  private def room(k: Int): Unit =
    if (n + k > array.length)
      array = java.util.Arrays.copyOf(array, math.max(array.length * 2, n + k))

  def byte(b: Int): this.type = { room(1); array(n) = b.toByte; n += 1; this }

  def bytes(b: Array[Byte]): this.type = {
    room(b.length); System.arraycopy(b, 0, array, n, b.length); n += b.length; this
  }

  /** The bytes of `s` as they are. */
  def utf8(s: UTF8String): this.type = {
    val k = s.numBytes
    room(k); s.writeToMemory(array, Platform.BYTE_ARRAY_OFFSET.toLong + n); n += k; this
  }

  /** `v` in decimal, as `Long.toString` writes it. */
  def long(v: Long): this.type = {
    if (v == Long.MinValue) return bytes(TextBuffer.LongMinDigits)
    room(20)
    var x = v
    if (x < 0) { array(n) = '-'; n += 1; x = -x }
    var digits = 1
    var t = x
    while (t >= 10) { t /= 10; digits += 1 }
    var i = n + digits - 1
    while (i >= n) { array(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
    n += digits
    this
  }

  /** Upper-case hex of an unsigned 32-bit value, no leading zeros. */
  private def hex32(v: Long): Unit = {
    val digits = math.max(1, (67 - java.lang.Long.numberOfLeadingZeros(v)) / 4)
    room(digits)
    var i = digits - 1
    while (i >= 0) {
      array(n) = TextBuffer.HexDigits((v >>> (4 * i)).toInt & 0xf); n += 1; i -= 1
    }
  }

  /** PostgreSQL's LSN text: `%X/%X` of the high and low 32 bits. */
  def lsn(v: Long): this.type = { hex32(v >>> 32); byte('/'); hex32(v & 0xFFFFFFFFL); this }

  /** `s` as the inside of a JSON string: `"` and `\` are escaped, and so
    * is every control character (`\b \f \n \r \t` by name, the rest as
    * `\u00xx`). Bytes of multi-byte UTF-8 sequences are all >= 0x80, so a
    * byte-wise pass never splits a character. */
  def jsonEscaped(s: UTF8String): this.type = {
    val k = s.numBytes
    room(6 * k)
    var i = 0
    while (i < k) {
      val b = s.getByte(i)
      if (b == '"' || b == '\\') { array(n) = '\\'; array(n + 1) = b; n += 2 }
      else if (b >= 0 && b < 0x20) {
        array(n) = '\\'
        b match {
          case '\b' => array(n + 1) = 'b'; n += 2
          case '\f' => array(n + 1) = 'f'; n += 2
          case '\n' => array(n + 1) = 'n'; n += 2
          case '\r' => array(n + 1) = 'r'; n += 2
          case '\t' => array(n + 1) = 't'; n += 2
          case _ =>
            array(n + 1) = 'u'; array(n + 2) = '0'; array(n + 3) = '0'
            array(n + 4) = TextBuffer.LowerHexDigits(b >> 4)
            array(n + 5) = TextBuffer.LowerHexDigits(b & 0xf)
            n += 6
        }
      } else { array(n) = b; n += 1 }
      i += 1
    }
    this
  }

  /** Standard base64 (RFC 4648 alphabet, `=` padding, no line breaks) of
    * the UTF-8 bytes of `s`. */
  def base64(s: UTF8String): this.type = {
    val k = s.numBytes
    room((k + 2) / 3 * 4)
    val a = TextBuffer.Base64Alphabet
    var i = 0
    while (i + 3 <= k) {
      val v = (s.getByte(i) & 0xff) << 16 | (s.getByte(i + 1) & 0xff) << 8 | (s.getByte(i + 2) & 0xff)
      array(n) = a(v >>> 18); array(n + 1) = a((v >>> 12) & 0x3f)
      array(n + 2) = a((v >>> 6) & 0x3f); array(n + 3) = a(v & 0x3f)
      n += 4; i += 3
    }
    if (k - i == 1) {
      val v = (s.getByte(i) & 0xff) << 16
      array(n) = a(v >>> 18); array(n + 1) = a((v >>> 12) & 0x3f)
      array(n + 2) = '='; array(n + 3) = '='; n += 4
    } else if (k - i == 2) {
      val v = (s.getByte(i) & 0xff) << 16 | (s.getByte(i + 1) & 0xff) << 8
      array(n) = a(v >>> 18); array(n + 1) = a((v >>> 12) & 0x3f)
      array(n + 2) = a((v >>> 6) & 0x3f); array(n + 3) = '='; n += 4
    }
    this
  }
}

object TextBuffer {
  private val LongMinDigits = Long.MinValue.toString.getBytes(UTF_8)
  private val HexDigits = "0123456789ABCDEF".getBytes(UTF_8)
  private val LowerHexDigits = "0123456789abcdef".getBytes(UTF_8)
  private val Base64Alphabet =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/".getBytes(UTF_8)

  /** An LSN as PostgreSQL prints it (`16/B374D848`). */
  def lsnText(lsn: Long): String = new TextBuffer(17).lsn(lsn).toString
}

/** The events table's Debezium envelope and record key, written in one
  * pass per row. The constant fragments (including both `"schema"`
  * tails, each ~1.7 KB) are encoded once, when this is built; per row
  * only the values are written. Object keys are in sorted order (Go's
  * map marshalling), so the text is byte-identical to the DuckDB oracle
  * of `cdc_envelope_schema`.
  *
  *  - op r/c: `{"payload":{"after":ROW,"op":…,"source":SRC,"ts_ms":…},"schema":S}`;
  *    u adds `"before":ROW`, d has `"before"` only;
  *  - any other op: `"message":{"content":base64(props),"prefix":…}` in
  *    place of the row images (`eventschema.go:325-341`). S is the
  *    reference's message envelope schema for op='m'
  *    (`eventschema.go:287-306`) and the table schema otherwise;
  *  - ROW = `{"event_id":…,"props":…,"user_id":…,"value_cents":…}`,
  *    `props` embedded raw (it is JSON), a null `props` (an unchanged
  *    TOAST value on the pgoutput path), `user_id` or `value_cents`
  *    written as `null`.
  *
  * A null op, lsn, xid or ts_ms gives a null envelope (a tombstone to
  * the wire sinks), as does a null event_id on a row image or a null
  * props or prefix on a message. The
  * key is `{"prefix":…}` with the message key schema for op='m' and the
  * `{"event_id":…}` PK key otherwise; it is null when the field it
  * carries is. The message prefix is JSON-escaped in both. */
final class EventsEnvelopeText(dbName: String) extends Serializable {
  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  private val payloadAfter = utf8("{\"payload\":{\"after\":")
  private val payloadBefore = utf8("{\"payload\":{\"before\":")
  private val payloadMessage = utf8("{\"payload\":{\"message\":{\"content\":\"")
  private val messagePrefix = utf8("\",\"prefix\":\"")
  private val messageEnd = utf8("\"}")
  private val beforeField = utf8(",\"before\":")
  private val rowEventId = utf8("{\"event_id\":")
  private val rowProps = utf8(",\"props\":")
  private val rowUserId = utf8(",\"user_id\":")
  private val rowValueCents = utf8(",\"value_cents\":")
  private val jsonNull = utf8("null")
  private val opField = utf8(",\"op\":\"")
  private val sourceHead = utf8(
    s"""","source":{"connector":"${Envelope.ConnectorName}","db":"$dbName","lsn":"""")
  private val sourceTsMs = utf8(
    s"""","name":"$dbName","schema":"public","snapshot":false,"table":"events","ts_ms":""")
  private val sourceTxId = utf8(",\"txId\":")
  private val sourceEnd = utf8(s""","version":"${Envelope.Version}"},"ts_ms":""")
  private val tableTail = utf8(s"""},"schema":${Cdc.eventsEnvelopeSchemaJson}}""")
  private val messageTail = utf8(s"""},"schema":${Cdc.messageEnvelopeSchemaJson}}""")
  private val keyEventId = utf8("{\"payload\":{\"event_id\":")
  private val keyEventIdTail = utf8(s"""},"schema":${Cdc.eventsPkKeySchemaJson}}""")
  private val keyPrefix = utf8("{\"payload\":{\"prefix\":\"")
  private val keyPrefixTail = utf8(s""""},"schema":${DebeziumSchema.messageKeySchemaJson}}""")

  /** The op's branch: 'r'/'c' → 'c', 'u', 'd', 'm', and 0 for any other. */
  private def kind(op: UTF8String): Byte =
    if (op.numBytes != 1) 0
    else op.getByte(0) match {
      case 'r' | 'c' => 'c'
      case b @ ('u' | 'd' | 'm') => b
      case _ => 0
    }

  private def row(out: TextBuffer, eventId: Long, props: UTF8String,
                  userIdNull: Boolean, userId: Long,
                  centsNull: Boolean, cents: Long): Unit = {
    out.bytes(rowEventId).long(eventId).bytes(rowProps)
    if (props == null) out.bytes(jsonNull) else out.utf8(props)
    out.bytes(rowUserId)
    if (userIdNull) out.bytes(jsonNull) else out.long(userId)
    out.bytes(rowValueCents)
    if (centsNull) out.bytes(jsonNull) else out.long(cents)
    out.byte('}')
  }

  /** The envelope of one row, or null (see the class comment). A string
    * is passed as null when null; a number with its null flag. */
  def envelope(out: TextBuffer, op: UTF8String,
               lsnNull: Boolean, lsn: Long, xidNull: Boolean, xid: Long,
               tsNull: Boolean, tsMs: Long, eventIdNull: Boolean, eventId: Long,
               props: UTF8String, userIdNull: Boolean, userId: Long,
               centsNull: Boolean, cents: Long, prefix: UTF8String): UTF8String = {
    if (op == null || lsnNull || xidNull || tsNull) return null
    val k = kind(op)
    out.clear()
    if (k == 'c' || k == 'u' || k == 'd') {
      if (eventIdNull) return null
      out.bytes(if (k == 'd') payloadBefore else payloadAfter)
      row(out, eventId, props, userIdNull, userId, centsNull, cents)
      if (k == 'u') {
        out.bytes(beforeField)
        row(out, eventId, props, userIdNull, userId, centsNull, cents)
      }
    } else {
      if (props == null || prefix == null) return null
      out.bytes(payloadMessage).base64(props)
        .bytes(messagePrefix).jsonEscaped(prefix).bytes(messageEnd)
    }
    out.bytes(opField).utf8(op).bytes(sourceHead).lsn(lsn)
      .bytes(sourceTsMs).long(tsMs).bytes(sourceTxId).long(xid)
      .bytes(sourceEnd).long(tsMs)
      .bytes(if (k == 'm') messageTail else tableTail)
      .toUTF8String
  }

  /** The record key of one row, or null (see the class comment). */
  def key(out: TextBuffer, op: UTF8String, eventIdNull: Boolean, eventId: Long,
          prefix: UTF8String): UTF8String = {
    out.clear()
    if (op != null && kind(op) == 'm') {
      if (prefix == null) null
      else out.bytes(keyPrefix).jsonEscaped(prefix).bytes(keyPrefixTail).toUTF8String
    } else if (eventIdNull) null
    else out.bytes(keyEventId).long(eventId).bytes(keyEventIdTail).toUTF8String
  }
}

/** Shared plumbing of [[EventsEnvelope]] and [[EventsKey]]: each calls
  * one [[EventsEnvelopeText]] method with its children's values, and
  * writes into a [[TextBuffer]] owned by the generated class (one per
  * task) or, interpreted, by this expression instance (hence
  * `stateful`, so Spark copies it per projection). The generated code
  * and `eval` make the same call; a string argument is passed as null
  * when null, a number as its null flag and its value. */
sealed trait EnvelopeWriterExpression extends Expression with ImplicitCastInputTypes {
  protected def dbName: String
  /** The [[EventsEnvelopeText]] method this expression calls. */
  protected def method: String
  protected def bufferSize: Int

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def stateful: Boolean = true

  @transient protected lazy val text = new EventsEnvelopeText(dbName)
  @transient protected lazy val buffer = new TextBuffer(bufferSize)

  protected def isNull(v: Any): Boolean = v == null
  protected def long(v: Any): Long = if (v == null) 0L else v.asInstanceOf[Long]
  protected def string(v: Any): UTF8String = v.asInstanceOf[UTF8String]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val textRef = ctx.addReferenceObj("envelopeText", text)
    val bufferClass = classOf[TextBuffer].getName
    val buf = ctx.addMutableState(bufferClass, "envelopeBuffer",
      v => s"$v = new $bufferClass($bufferSize);")
    val evals = children.map(_.genCode(ctx))
    val args = children.zip(evals).map {
      case (c, e) if c.dataType == LongType => s"${e.isNull}, ${e.value}"
      case (_, e) => s"${e.isNull} ? null : ${e.value}"
    }.mkString(", ")
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      UTF8String ${ev.value} = $textRef.$method($buf, $args);
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }
}

/** The events envelope of [[EventsEnvelopeText.envelope]] as one
  * codegen'd expression; `valueCents` is the rounded `value` in cents. */
case class EventsEnvelope(op: Expression, lsn: Expression, xid: Expression,
                          tsMs: Expression, eventId: Expression, props: Expression,
                          userId: Expression, valueCents: Expression,
                          msgPrefix: Expression, dbName: String)
    extends EnvelopeWriterExpression {
  protected def method = "envelope"
  protected def bufferSize: Int = 4 << 10
  override def prettyName: String = "events_envelope"
  override def children: Seq[Expression] =
    Seq(op, lsn, xid, tsMs, eventId, props, userId, valueCents, msgPrefix)
  override def inputTypes = Seq(StringType, LongType, LongType,
    LongType, LongType, StringType, LongType, LongType, StringType)

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    text.envelope(buffer, string(v(0)), isNull(v(1)), long(v(1)), isNull(v(2)), long(v(2)),
      isNull(v(3)), long(v(3)), isNull(v(4)), long(v(4)), string(v(5)),
      isNull(v(6)), long(v(6)), isNull(v(7)), long(v(7)), string(v(8)))
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(op = c(0), lsn = c(1), xid = c(2), tsMs = c(3), eventId = c(4), props = c(5),
      userId = c(6), valueCents = c(7), msgPrefix = c(8))
}

/** The record key of [[EventsEnvelopeText.key]] as one codegen'd
  * expression. */
case class EventsKey(op: Expression, eventId: Expression, msgPrefix: Expression)
    extends EnvelopeWriterExpression {
  protected def dbName: String = ""
  protected def method = "key"
  protected def bufferSize: Int = 1 << 10
  override def prettyName: String = "events_key"
  override def children: Seq[Expression] = Seq(op, eventId, msgPrefix)
  override def inputTypes = Seq(StringType, LongType, StringType)

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    text.key(buffer, string(v(0)), isNull(v(1)), long(v(1)), string(v(2)))
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(op = c(0), eventId = c(1), msgPrefix = c(2))
}
