package graft.types

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import graft.cdc.PgOutput.{BinaryCol, TextCol, TupleCol, UnchangedCol}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Dynamic OID→converter registry — the analog of the reference's lazy
  * type registration (`internal/typemanager/typemanager.go:236-323`
  * lazilyRegisterTypeMap, fed by the pg_type side-channel scan
  * `internal/sidechannel/queries.go:36-63`).
  *
  * The reference loads all of pg_type at startup and registers types
  * seen mid-stream on demand: arrays recurse to their element type,
  * enums decode as their label text, domains resolve through their base
  * type, composites become structured records. This registry reproduces
  * that resolution chain for the pgoutput text-tuple path: core OIDs are
  * pre-seeded, and an unknown OID consults a [[TypeRegistry.Resolver]]
  * (the pg_type scan analog) AT DECODE TIME — a user-defined type first
  * appearing mid-stream resolves without a restart.
  *
  * Scale shape: the registry is a JVM-local concurrent map keyed by OID
  * — catalog-sized (thousands of types, not rows), resolved at most once
  * per executor JVM per OID; resolver results are cached forever (OIDs
  * are never reused within a database epoch).
  */
object TypeRegistry {

  /** One pg_type row, the subset the resolution chain needs
    * (`queries.go:36-63` columns typname/typtype/typelem/typbasetype +
    * enum labels). */
  final case class PgTypeRow(oid: Int, name: String, typtype: Char,
                             elemOid: Int = 0, baseOid: Int = 0,
                             enumLabels: Seq[String] = Nil)

  /** The side-channel lookup: given an unknown OID, produce its pg_type
    * row (or None — unknown to the database too, which is a hard error). */
  trait Resolver extends Serializable {
    def resolve(oid: Int): Option[PgTypeRow]
  }
  object Resolver {
    val empty: Resolver = (_: Int) => None
    def ofMap(m: Map[Int, PgTypeRow]): Resolver = (oid: Int) => m.get(oid)
    /** Catalog-as-DataFrame resolver (harness stand-in for the live
      * pg_type scan): collected once — pg_type is catalog-sized. */
    def ofDataFrame(df: DataFrame): Resolver = {
      val rows = df.select("oid", "typname", "typtype", "typelem", "typbasetype")
        .collect()
        .map(r => r.getInt(0) -> PgTypeRow(r.getInt(0), r.getString(1),
          r.getString(2).charAt(0), r.getInt(3), r.getInt(4)))
        .toMap
      ofMap(rows)
    }
  }

  /** A registered converter: Spark-side type + text-format parser +
    * optional binary-format parser (pgoutput `binary 'true'` on PG14+ —
    * the reference's send-in-binary path; types without one fall back
    * loudly rather than misreading bytes). */
  final case class Registration(oid: Int, name: String, dataType: DataType,
                                parse: String => Any,
                                parseBinary: Array[Byte] => Any = null) extends Serializable

  // -- core seed: the OIDs every PostgreSQL ships (public pg_type.dat).
  // Binary parsers implement the documented send-function wire forms:
  // network byte order, bool as one byte, timestamp as int64 micros
  // since the 2000-01-01 PG epoch.
  private def textId(s: String): Any = s
  private def buf(b: Array[Byte]) = java.nio.ByteBuffer.wrap(b)
  private def binUtf8(b: Array[Byte]): Any = new String(b, UTF_8)
  private val coreSeed: Seq[Registration] = Seq(
    Registration(16, "bool", BooleanType, s => s == "t" || s == "true",
      b => b(0) != 0),
    Registration(20, "int8", LongType, _.toLong, b => buf(b).getLong),
    Registration(21, "int2", ShortType, _.toShort, b => buf(b).getShort),
    Registration(23, "int4", IntegerType, _.toInt, b => buf(b).getInt),
    Registration(25, "text", StringType, textId, binUtf8),
    Registration(700, "float4", FloatType, java.lang.Float.parseFloat,
      b => buf(b).getFloat),
    Registration(701, "float8", DoubleType, java.lang.Double.parseDouble,
      b => buf(b).getDouble),
    Registration(1042, "bpchar", StringType, textId, binUtf8),
    Registration(1043, "varchar", StringType, textId, binUtf8),
    Registration(17, "bytea", BinaryType,
      s => { require(s.startsWith("\\x"), s"bytea not in hex form: $s")
             val hex = s.drop(2)
             Array.tabulate[Byte](hex.length / 2)(i =>
               Integer.parseInt(hex.substring(2 * i, 2 * i + 2), 16).toByte) },
      b => b),
    // binary form: int64 micros since 2000-01-01 → Long epoch nanos
    Registration(1114, "timestamp", LongType, graft.cdc.PgOutput.tsFromText,
      b => (buf(b).getLong + graft.cdc.PgOutput.PgEpochMicros) * 1000L),
    Registration(1184, "timestamptz", LongType, graft.cdc.PgOutput.tsFromText,
      b => (buf(b).getLong + graft.cdc.PgOutput.PgEpochMicros) * 1000L),
    Registration(1082, "date", StringType, textId),
    Registration(1083, "time", StringType, textId),
    Registration(1700, "numeric", StringType, textId), // lossless: downstream casts decide
    Registration(2950, "uuid", StringType, textId,
      b => new java.util.UUID(buf(b).getLong, buf(b.drop(8)).getLong).toString),
    Registration(114, "json", StringType, textId),
    Registration(3802, "jsonb", StringType, textId),
    Registration(869, "inet", StringType, textId),
    Registration(829, "macaddr", StringType, textId),
    Registration(142, "xml", StringType, textId),
    Registration(26, "oid", LongType, _.toLong))

  private val registry = {
    val m = new ConcurrentHashMap[Int, Registration]()
    coreSeed.foreach(r => m.put(r.oid, r))
    m
  }

  def known(oid: Int): Boolean = registry.containsKey(oid)

  /** Direct registration — the path a Type ('Y') protocol message takes
    * (`replicationhandler.go:318-328` OnTypeEvent): the stream announces
    * a user-defined type before first use; without catalog info beyond
    * the name, it registers as its text form (PG sends user-defined
    * values in their text output function's form). */
  def register(r: Registration): Unit = registry.put(r.oid, r)

  /** PG text array literal → Seq of element values ('{a,b,NULL}' with
    * double-quote escaping — the public array output format). */
  def parseArrayText(s: String, elemParse: String => Any): Seq[Any] = {
    require(s.length >= 2 && s.head == '{' && s.last == '}', s"bad array literal: $s")
    val body = s.substring(1, s.length - 1)
    if (body.isEmpty) return Nil
    // multidimensional literals ('{{1,2},{3,4}}') would shred on commas
    // into corrupt fragments — fail loudly; the flat form is what every
    // registered array column carries (Spark-side type is ArrayType of
    // a scalar, not nested arrays)
    require(!body.trim.startsWith("{"),
      s"multidimensional array literal not supported: $s")
    val out = Seq.newBuilder[Any]
    val cur = new StringBuilder
    var inQuotes = false; var wasQuoted = false; var i = 0
    def flush(): Unit = {
      val v = cur.toString
      out += (if (!wasQuoted && v == "NULL") null else elemParse(v))
      cur.clear(); wasQuoted = false
    }
    while (i < body.length) {
      val c = body.charAt(i)
      if (inQuotes) {
        if (c == '\\') {
          require(i + 1 < body.length, s"bad array literal (trailing backslash): $s")
          cur.append(body.charAt(i + 1)); i += 1
        }
        else if (c == '"') inQuotes = false
        else cur.append(c)
      } else c match {
        case '"' => inQuotes = true; wasQuoted = true
        case ',' => flush()
        case other => cur.append(other)
      }
      i += 1
    }
    flush()
    out.result()
  }

  /** The lazy chain (`typemanager.go:236-323`): resolve an OID through
    * the registry, consulting `resolver` for anything unknown —
    * arrays recurse to the element type, enums become label strings,
    * domains resolve through their base, composites pass through as
    * their record-literal text (structured parse is the consumer's
    * call, as with the reference's composite converter). Resolution is
    * cached; an OID the resolver doesn't know fails loudly (the
    * reference errors the same way rather than guessing).
    */
  def converterFor(oid: Int, resolver: Resolver = Resolver.empty): Registration = {
    val hit = registry.get(oid)
    if (hit != null) return hit
    val row = resolver.resolve(oid).getOrElse(
      throw new IllegalStateException(
        s"type oid $oid unknown to registry and resolver — cannot decode"))
    val reg = row.typtype match {
      case 'b' => // base type the seed doesn't carry: text passthrough
        Registration(oid, row.name, StringType, s => s)
      case 'e' => // enum → label string (enum2string, typemanager.go:253-263)
        val labels = row.enumLabels.toSet
        Registration(oid, row.name, StringType, s => {
          if (labels.nonEmpty) require(labels.contains(s),
            s"enum ${row.name}: unknown label '$s' (have ${labels.mkString(",")})")
          s
        })
      case 'd' => // domain → its base type's converter, BINARY codec
        // included: PG sends domain values via the base type's send
        // function, so dropping parseBinary here would reject a
        // binary-subscription domain column whose base codec exists
        val base = converterFor(row.baseOid, resolver)
        Registration(oid, row.name, base.dataType, base.parse, base.parseBinary)
      case 'c' => // composite → record-literal text (newCompositeConverter analog)
        Registration(oid, row.name, StringType, s => s)
      case 'a' => // some catalogs mark arrays via typtype; elem chain below
        arrayReg(oid, row, resolver)
      case other =>
        throw new IllegalStateException(s"oid $oid: unsupported typtype '$other'")
    }
    val finalReg = if (row.elemOid != 0 && row.typtype != 'a' && row.name.startsWith("_"))
      arrayReg(oid, row, resolver) // pg convention: array types are named "_elem"
    else reg
    registry.putIfAbsent(oid, finalReg)
    registry.get(oid)
  }

  private def arrayReg(oid: Int, row: PgTypeRow, resolver: Resolver): Registration = {
    val elem = converterFor(row.elemOid, resolver)
    Registration(oid, row.name, ArrayType(elem.dataType),
      s => parseArrayText(s, elem.parse))
  }

  /** Spark schema of a pgoutput relation, registry-resolved — what
    * `SchemaEvolution.diff` compares when a relation gains a column
    * mid-stream. */
  def schemaFor(cols: Seq[(String, Int)], resolver: Resolver = Resolver.empty): StructType =
    StructType(cols.map { case (name, oid) =>
      StructField(name, converterFor(oid, resolver).dataType, nullable = true)
    })

  /** A relation's decode plan (`internal/typemanager/decoderplan.go:
    * 32-101`): its column names and OIDs in arrays, and one
    * [[Registration]] per column, resolved on first use and kept once it
    * resolves. Built once per Relation message; each tuple then decodes
    * column by ordinal. */
  final class Plan(cols: Seq[(String, Int)], resolver: Resolver = Resolver.empty) {
    val names: Array[String] = cols.iterator.map(_._1).toArray
    val oids: Array[Int] = cols.iterator.map(_._2).toArray
    private val regs = new Array[Registration](oids.length)

    def hasOid(oid: Int): Boolean = oids.contains(oid)

    // arity must match the cached Relation exactly: a zip would silently
    // TRUNCATE a desynced stream into a plausible row whose missing
    // trailing column is indistinguishable from TOAST key omission —
    // exactly the corruption this module promises to fail loudly on
    def checkArity(tuple: Seq[TupleCol]): Unit =
      require(names.length == tuple.length,
        s"tuple arity ${tuple.length} != relation arity ${names.length} " +
          s"(cols: ${names.mkString(",")}) — stream desync or stale relation cache")

    private def registration(i: Int): Registration = {
      var r = regs(i)
      if (r == null) { r = converterFor(oids(i), resolver); regs(i) = r }
      r
    }

    /** Column `i`'s value as carried by `c`; null for `'n'` and for
      * `'u'` (unchanged TOAST), which the caller tells apart by kind. */
    def value(i: Int, c: TupleCol): Any = c match {
      case TextCol(b) => registration(i).parse(new String(b, UTF_8))
      case BinaryCol(b) =>
        val reg = registration(i)
        if (reg.parseBinary == null)
          throw new IllegalArgumentException(
            s"column ${names(i)}: type ${reg.name} (oid ${oids(i)}) has no binary codec " +
              "(pgoutput binary mode); re-slot with a text subscription")
        reg.parseBinary(b)
      case _ => null
    }
  }

  /** Decode one text tuple against its relation columns — the generic
    * (registry-driven) twin of the fixture-specific decode in
    * `PgOutput.decodeSegments`. New columns of types never seen before
    * resolve through the lazy chain right here, mid-stream.
    *
    * Kind semantics match the reference's decoder plan
    * (`internal/typemanager/decoderplan.go:54-59`): `'n'` yields the key
    * with a null value, but `'u'` (unchanged TOAST) yields NO key at all —
    * logical replication never read the value off disk, so the decoded
    * map must not pretend it saw one. Downstream envelope rendering
    * relies on the distinction: `"col": null` vs the key being absent. */
  def decodeTuple(cols: Seq[(String, Int)], tuple: Seq[TupleCol],
                  resolver: Resolver = Resolver.empty): Seq[(String, Any)] = {
    val plan = new Plan(cols, resolver)
    plan.checkArity(tuple)
    tuple.iterator.zipWithIndex.collect {
      case (c, i) if c ne UnchangedCol => plan.names(i) -> plan.value(i, c) // TOAST: key absent
    }.toSeq
  }
}
