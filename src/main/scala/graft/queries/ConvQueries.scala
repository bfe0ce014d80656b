package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.Cdc
import graft.types.PgConverters
import QueryHelpers._

/** The PostgreSQL type-conversion layer (`conv_*`): one gate per converter
  * family of `PgConverters`. */
object ConvQueries {

  /** A table the keyed gates read, and the key it is sorted by. */
  private final case class Keyed(read: (SparkSession, String) => DataFrame, key: String*)
  private val events = Keyed(Tables.events, "event_id")
  private val lineitem = Keyed(Tables.lineitem, "l_orderkey", "l_linenumber")

  /** A keyed single-column gate: the rows of `from`, sorted by its key
    * (`Tables.sortedSpread`), projected to the key and `conv` as `column`. */
  private final case class KeyedConv(name: String, from: Keyed, column: String, conv: Column, oracle: String)

  private val keyedConvs: Seq[KeyedConv] = Seq(
    KeyedConv("conv_timestamp_millis", lineitem, "ship_ms",
      PgConverters.timestampToMillis(col("l_shipdate")),
      """SELECT l_orderkey, l_linenumber, epoch_ms(l_shipdate) AS ship_ms
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    KeyedConv("conv_timestamptz_text", events, "ts_text",
      PgConverters.timestamptzNanosToText("ts"),
      s"""SELECT event_id, ${duckTsText("epoch_ns(ts)")} AS ts_text
         |FROM events ORDER BY event_id""".stripMargin),

    KeyedConv("conv_time_text", events, "time_text",
      PgConverters.timeToText(timestamp_micros(expr("ts div 1000"))),
      """SELECT event_id, strftime(make_timestamp(epoch_ns(ts) // 1000), '%H:%M:%S.%f') AS time_text
        |FROM events ORDER BY event_id""".stripMargin),

    KeyedConv("conv_interval_micros", events, "interval_us",
      PgConverters.intervalToMicros(col("user_id"), expr("event_id % 30"),
        expr("(ts % 1000000000) div 1000")),
      """SELECT event_id,
        |  user_id * 2629800000000 + (event_id % 30) * 86400000000
        |    + (epoch_ns(ts) % 1000000000) // 1000 AS interval_us
        |FROM events ORDER BY event_id""".stripMargin),

    KeyedConv("conv_numeric_double", lineitem, "num_val",
      PgConverters.numericToDouble(col("l_extendedprice")),
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS num_val
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    KeyedConv("conv_json_extract", events, "k_val",
      PgConverters.jsonGet(col("props"), "$.k"),
      """SELECT event_id, json_extract_string(props, '$.k') AS k_val
        |FROM events ORDER BY event_id""".stripMargin),

    KeyedConv("conv_bits_string", events, "bits",
      PgConverters.bitsToString(expr("user_id % 256"), 8),
      """SELECT event_id, lpad(bin(user_id % 256), 8, '0') AS bits
        |FROM events ORDER BY event_id""".stripMargin),

    // int8range [event_id, event_id+10)
    KeyedConv("conv_range_string", events, "range_text",
      PgConverters.rangeToString(col("event_id"), col("event_id") + 10),
      """SELECT event_id,
        |  concat('[', CAST(event_id AS VARCHAR), ',', CAST(event_id + 10 AS VARCHAR), ')') AS range_text
        |FROM events ORDER BY event_id""".stripMargin),

    // point from (user_id, chunk-local second); integer-valued to keep
    // numeric text rendering engine-independent
    KeyedConv("conv_point_string", events, "point_text",
      PgConverters.pointToText(col("user_id"), expr("(ts % 1000000000) div 1000000")),
      """SELECT event_id,
        |  concat('(', CAST(user_id AS VARCHAR), ',', CAST((epoch_ns(ts) % 1000000000) // 1000000 AS VARCHAR), ')') AS point_text
        |FROM events ORDER BY event_id""".stripMargin),

    // uuid canonical 8-4-4-4-12 text (builtin_converters.go:300-318);
    // hex source synthesized deterministically via md5
    KeyedConv("conv_uuid_string", events, "uuid_text",
      PgConverters.uuidFromHex32(md5(col("event_id").cast("string"))),
      """SELECT event_id, concat_ws('-',
        |  substr(md5(CAST(event_id AS VARCHAR)), 1, 8),
        |  substr(md5(CAST(event_id AS VARCHAR)), 9, 4),
        |  substr(md5(CAST(event_id AS VARCHAR)), 13, 4),
        |  substr(md5(CAST(event_id AS VARCHAR)), 17, 4),
        |  substr(md5(CAST(event_id AS VARCHAR)), 21, 12)) AS uuid_text
        |FROM events ORDER BY event_id""".stripMargin),

    // enum2string with the allowed-values list as column metadata
    KeyedConv("conv_enum_string", events, "enum_val",
      PgConverters.enumToString(col("event_type"),
        Seq("signup", "purchase", "error", "view", "click")),
      """SELECT event_id, event_type AS enum_val FROM events ORDER BY event_id""".stripMargin),

    // composite → STRUCT (typemanager.go:419-430); JSON-rendered so the
    // driver comparator can hash it
    KeyedConv("conv_composite_json", events, "comp_json",
      to_json(PgConverters.compositeToStruct(
        "user_id" -> col("user_id"), "kind" -> col("event_type"))),
      """SELECT event_id,
        |  CAST(to_json(struct_pack(user_id := user_id, kind := event_type)) AS VARCHAR) AS comp_json
        |FROM events ORDER BY event_id""".stripMargin),

    // oid/xid/cid: top-bit-set uint32s must not surface negative
    KeyedConv("conv_uint32_long", events, "uval",
      PgConverters.uint32ToLong(
        expr("CAST((event_id * 2654435761) % 4294967296 - 2147483648 AS INT)")),
      """SELECT event_id,
        |  CASE WHEN (event_id * 2654435761) % 4294967296 - 2147483648 < 0
        |       THEN (event_id * 2654435761) % 4294967296 - 2147483648 + 4294967296
        |       ELSE (event_id * 2654435761) % 4294967296 - 2147483648 END AS uval
        |FROM events ORDER BY event_id""".stripMargin),

    // tsrange canonical [lo,hi) over RFC3339 text bounds
    KeyedConv("conv_tsrange_string", events, "tsrange_text",
      PgConverters.rangeToString(
        PgConverters.timestamptzNanosToText("ts"),
        PgConverters.timestamptzNanosToText("(ts + 3600000000000)")),
      s"""SELECT event_id,
         |  concat('[', ${duckTsText("epoch_ns(ts)")}, ',', ${duckTsText("epoch_ns(ts) + 3600000000000")}, ')') AS tsrange_text
         |FROM events ORDER BY event_id""".stripMargin),

    KeyedConv("conv_timetz_text", events, "timetz_text",
      PgConverters.timetzToText(timestamp_micros(expr("ts div 1000"))),
      """SELECT event_id,
        |  strftime(make_timestamp(epoch_ns(ts) // 1000), '%H:%M:%S.%f') || '+00' AS timetz_text
        |FROM events ORDER BY event_id""".stripMargin),

    // negative month/day components — Go int64 micros arithmetic is
    // sign-agnostic (builtin_converters.go:350-360)
    KeyedConv("conv_interval_negative", events, "interval_us",
      PgConverters.intervalToMicros(col("user_id") - 100,
        expr("event_id % 30 - 15"),
        expr("(ts % 1000000000) div 1000")),
      """SELECT event_id,
        |  (user_id - 100) * 2629800000000 + (event_id % 30 - 15) * 86400000000
        |    + (epoch_ns(ts) % 1000000000) // 1000 AS interval_us
        |FROM events ORDER BY event_id""".stripMargin),

    // arrayOf lifts the uint32 converter over elements (incl. negatives)
    KeyedConv("conv_array_long", events, "arr_vals",
      array_join(transform(PgConverters.arrayOf(PgConverters.uint32ToLong)(array(
        pmod(col("user_id"), lit(100)).cast("int") - 50,
        pmod(col("event_id"), lit(97)).cast("int") - 48)), _.cast("string")), ","),
      """SELECT event_id,
        |  array_to_string(list_transform(
        |    [CAST(user_id % 100 AS INTEGER) - 50, CAST(event_id % 97 AS INTEGER) - 48],
        |    x -> CASE WHEN x < 0 THEN CAST(x AS BIGINT) + 4294967296 ELSE CAST(x AS BIGINT) END), ',') AS arr_vals
        |FROM events ORDER BY event_id""".stripMargin),

    KeyedConv("conv_array_ts_millis", lineitem, "ms_arr",
      array_join(transform(PgConverters.arrayOf(PgConverters.timestampToMillis)(
        array(col("l_shipdate"), expr("l_shipdate + INTERVAL 1 DAY"))), _.cast("string")), ","),
      """SELECT l_orderkey, l_linenumber,
        |  array_to_string([epoch_ms(l_shipdate), epoch_ms(l_shipdate + INTERVAL 1 DAY)], ',') AS ms_arr
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    KeyedConv("conv_array_bits", events, "bits_arr",
      array_join(PgConverters.arrayOf(c => PgConverters.bitsToString(c, 8))(
        array(pmod(col("user_id"), lit(256)), pmod(col("event_id"), lit(256)))), ","),
      """SELECT event_id,
        |  array_to_string([lpad(bin(user_id % 256), 8, '0'), lpad(bin(event_id % 256), 8, '0')], ',') AS bits_arr
        |FROM events ORDER BY event_id""".stripMargin)
  )

  val all: Seq[Query] = keyedConvs.map { g =>
    Query(g.name, (s, dir) => {
      val key = g.from.key.map(col)
      Tables.sortedSpread(g.from.read(s, dir), key: _*)
        .select(key :+ g.conv.as(g.column): _*)
    }, g.oracle)
  } ++ Seq(
    Query("conv_date_days", (s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"), PgConverters.dateToDays(col("o_orderdate")).as("order_days"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS order_days
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Query("conv_bytea_hex", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          PgConverters.byteaToHex(substring(col("text"), 1, 16).cast("binary")).as("hex16"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, lower(hex(encode(substr(text, 1, 16)))) AS hex16
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("conv_numrange_path", (s, dir) => {
      // numrange text with decimal bounds rendered from integer cents
      // (engine-independent: no float-to-string), plus the open `path`
      // form [(x,y),...] completing the geometry family
      val loC = col("user_id") * 100 + 50
      Tables.sortedSpread(Tables.events(s, dir), col("event_id"))
        .select(col("event_id"),
          PgConverters.rangeToString(decimalCentsText(loC), decimalCentsText(loC + 125)).as("numrange_text"),
          PgConverters.pathToText(closed = false,
            (col("user_id"), pmod(col("event_id"), lit(100))),
            (col("user_id") + 2, pmod(col("event_id"), lit(100)) + 3)).as("path_text"))
    },
      """SELECT event_id,
        |  concat('[',
        |    CAST((user_id * 100 + 50) // 100 AS VARCHAR), '.', lpad(CAST((user_id * 100 + 50) % 100 AS VARCHAR), 2, '0'), ',',
        |    CAST((user_id * 100 + 175) // 100 AS VARCHAR), '.', lpad(CAST((user_id * 100 + 175) % 100 AS VARCHAR), 2, '0'), ')') AS numrange_text,
        |  concat('[(', CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),(',
        |         CAST(user_id + 2 AS VARCHAR), ',', CAST(event_id % 100 + 3 AS VARCHAR), ')]') AS path_text
        |FROM events ORDER BY event_id""".stripMargin),

    Query("conv_inet_string", (s, dir) => {
      // inet/cidr v4 + v6 text passthrough (README type table)
      Tables.sortedSpread(Tables.events(s, dir), col("event_id"))
        .select(col("event_id"),
          PgConverters.textPassthrough(concat(lit("10."), pmod(col("user_id"), lit(256)),
            lit("."), pmod(col("event_id"), lit(256)), lit(".1/24"))).as("cidr4"),
          PgConverters.textPassthrough(concat(lit("fe80::"),
            lower(hex(pmod(col("user_id"), lit(65536)))))).as("inet6"))
    },
      """SELECT event_id,
        |  concat('10.', CAST(user_id % 256 AS VARCHAR), '.', CAST(event_id % 256 AS VARCHAR), '.1/24') AS cidr4,
        |  concat('fe80::', lower(hex(user_id % 65536))) AS inet6
        |FROM events ORDER BY event_id""".stripMargin),

    Query("conv_macaddr_string", (s, dir) => {
      Tables.sortedSpread(Tables.events(s, dir), col("event_id"))
        .select(col("event_id"),
          PgConverters.macaddrToText(col("event_id") * 65536 + col("user_id")).as("mac"),
          PgConverters.macaddr8ToText(col("event_id") * 4294967296L + col("user_id")).as("mac8"))
    },
      """SELECT event_id,
        |  printf('%02x:%02x:%02x:%02x:%02x:%02x',
        |    ((event_id * 65536 + user_id) >> 40) & 255, ((event_id * 65536 + user_id) >> 32) & 255,
        |    ((event_id * 65536 + user_id) >> 24) & 255, ((event_id * 65536 + user_id) >> 16) & 255,
        |    ((event_id * 65536 + user_id) >> 8) & 255, (event_id * 65536 + user_id) & 255) AS mac,
        |  printf('%02x:%02x:%02x:%02x:%02x:%02x:%02x:%02x',
        |    ((event_id * 4294967296 + user_id) >> 56) & 255, ((event_id * 4294967296 + user_id) >> 48) & 255,
        |    ((event_id * 4294967296 + user_id) >> 40) & 255, ((event_id * 4294967296 + user_id) >> 32) & 255,
        |    ((event_id * 4294967296 + user_id) >> 24) & 255, ((event_id * 4294967296 + user_id) >> 16) & 255,
        |    ((event_id * 4294967296 + user_id) >> 8) & 255, (event_id * 4294967296 + user_id) & 255) AS mac8
        |FROM events ORDER BY event_id""".stripMargin),

    Query("conv_hstore_text", (s, dir) => {
      // hstore → MAP(string,string); keys/values re-emitted as strings
      val hsJson = concat(lit("{\"a\":\""), col("user_id"),
        lit("\",\"b\":\""), pmod(col("event_id"), lit(10)), lit("\"}"))
      val m = PgConverters.hstoreToMap(hsJson)
      Tables.sortedSpread(Tables.events(s, dir), col("event_id"))
        .select(col("event_id"),
          array_join(map_keys(m), ",").as("hs_keys"),
          array_join(map_values(m), ",").as("hs_vals"))
    },
      """SELECT event_id, 'a,b' AS hs_keys,
        |  concat(CAST(user_id AS VARCHAR), ',', CAST(event_id % 10 AS VARCHAR)) AS hs_vals
        |FROM events ORDER BY event_id""".stripMargin),

    Query("conv_scalar_widths", (s, dir) => {
      // int2 / float4 / boolean width mappings
      Tables.sortedSpread(Tables.events(s, dir), col("event_id"))
        .select(col("event_id"),
          pmod(col("user_id"), lit(32768)).cast("smallint").as("i16"),
          col("value").cast("float").cast("double").as("f4d"),
          (pmod(col("event_id"), lit(2)) === 0).as("is_even"))
    },
      """SELECT event_id, CAST(user_id % 32768 AS SMALLINT) AS i16,
        |  CAST(CAST(value AS REAL) AS DOUBLE) AS f4d,
        |  event_id % 2 = 0 AS is_even
        |FROM events ORDER BY event_id""".stripMargin),

    Query("conv_daterange_string", (s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          PgConverters.rangeToString(
            date_format(col("o_orderdate"), "yyyy-MM-dd"),
            date_format(date_add(to_date(col("o_orderdate")), 30), "yyyy-MM-dd"))
            .as("daterange_text"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey,
        |  concat('[', strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d'), ',',
        |         strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d'), ')') AS daterange_text
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Query("conv_geo_shapes", (s, dir) => {
      // box, line, lseg, circle, polygon text forms (integer coords keep
      // numeric rendering engine-independent)
      val u = col("user_id"); val m = pmod(col("event_id"), lit(100))
      Tables.sortedSpread(Tables.events(s, dir), col("event_id"))
        .select(col("event_id"),
          PgConverters.boxToText(u, m, u + 10, m + 10).as("box_text"),
          PgConverters.lineToText(u, pmod(col("event_id"), lit(7)) + 1, lit(3)).as("line_text"),
          PgConverters.lsegToText(u, m, u + 5, m + 5).as("lseg_text"),
          PgConverters.circleToText(u, m, lit(7)).as("circle_text"),
          PgConverters.polygonToText((u, m), (u + 1, m), (u, m + 1)).as("poly_text"))
    },
      """SELECT event_id,
        |  concat('(', CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),(',
        |         CAST(user_id + 10 AS VARCHAR), ',', CAST(event_id % 100 + 10 AS VARCHAR), ')') AS box_text,
        |  concat('{', CAST(user_id AS VARCHAR), ',', CAST(event_id % 7 + 1 AS VARCHAR), ',3}') AS line_text,
        |  concat('[(', CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),(',
        |         CAST(user_id + 5 AS VARCHAR), ',', CAST(event_id % 100 + 5 AS VARCHAR), ')]') AS lseg_text,
        |  concat('<(', CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),7>') AS circle_text,
        |  concat('((', CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),(',
        |         CAST(user_id + 1 AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),(',
        |         CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 + 1 AS VARCHAR), '))') AS poly_text
        |FROM events ORDER BY event_id""".stripMargin),

    Query("conv_postgis", (s, dir) => {
      // PostGIS geometry/geography → STRUCT {wkb: base64, srid}
      // (builtin_converters.go:102-143, schemabuilder.go:185-195).
      // WKB coordinates use the exact-mantissa trick: double(2^52 + v)
      // has IEEE-754 bits 0x4330000000000000 + v, so big-endian WKB hex
      // is pure integer arithmetic replicable in any engine. The 5-point
      // linestring is 89 WKB bytes — past the MIME encoder's 57-byte
      // line break, proving base64Std parity for long content.
      val mant = lit(4841369599423283200L)
      def coordHex(v: Column) = hex(mant + v)
      val x = pmod(col("user_id"), lit(1000))
      val y = pmod(col("event_id"), lit(100))
      val pointWkb = unhex(concat(lit("0000000001"), coordHex(x), coordHex(y)))
      val pts = (0 until 5).flatMap(i => Seq(coordHex(x + i), coordHex(y + i)))
      val lineWkb = unhex(concat((lit("000000000200000005") +: pts): _*))
      val geom = PgConverters.postgisToStruct(pointWkb, lit(4326))
      val geog = PgConverters.postgisToStruct(lineWkb, lit(3857))
      Tables.sortedSpread(Tables.events(s, dir), col("event_id"))
        .select(col("event_id"),
          to_json(geom).as("geom_point"),
          to_json(geog).as("geog_line"),
          to_json(array(geom, geog)).as("geom_arr"))
    },
      """WITH b AS (
        |  SELECT event_id, user_id % 1000 AS x, event_id % 100 AS y FROM events
        |), w AS (
        |  SELECT event_id,
        |    '0000000001' ||
        |      hex(4841369599423283200 + x) || hex(4841369599423283200 + y) AS ph,
        |    '000000000200000005' ||
        |      hex(4841369599423283200 + x) || hex(4841369599423283200 + y) ||
        |      hex(4841369599423283200 + x + 1) || hex(4841369599423283200 + y + 1) ||
        |      hex(4841369599423283200 + x + 2) || hex(4841369599423283200 + y + 2) ||
        |      hex(4841369599423283200 + x + 3) || hex(4841369599423283200 + y + 3) ||
        |      hex(4841369599423283200 + x + 4) || hex(4841369599423283200 + y + 4) AS lh
        |  FROM b
        |)
        |SELECT event_id,
        |  CAST(to_json(struct_pack(wkb := to_base64(unhex(ph)), srid := 4326)) AS VARCHAR) AS geom_point,
        |  CAST(to_json(struct_pack(wkb := to_base64(unhex(lh)), srid := 3857)) AS VARCHAR) AS geog_line,
        |  CAST(to_json([struct_pack(wkb := to_base64(unhex(ph)), srid := 4326),
        |                struct_pack(wkb := to_base64(unhex(lh)), srid := 3857)]) AS VARCHAR) AS geom_arr
        |FROM w ORDER BY event_id""".stripMargin),

    Query("conv_ltree_xml_char", (s, dir) => {
      Tables.sortedSpread(Tables.events(s, dir), col("event_id"))
        .select(col("event_id"),
          PgConverters.textPassthrough(concat(lit("root.u"), col("user_id"),
            lit(".e"), pmod(col("event_id"), lit(10)))).as("ltree_path"),
          PgConverters.textPassthrough(concat(lit("<e id=\""), col("event_id"),
            lit("\"/>"))).as("xml_text"),
          substring(col("event_type"), 1, 1).as("qchar"),
          PgConverters.bpcharPad(col("event_type"), 12).as("bp12"))
    },
      """SELECT event_id,
        |  concat('root.u', CAST(user_id AS VARCHAR), '.e', CAST(event_id % 10 AS VARCHAR)) AS ltree_path,
        |  concat('<e id="', CAST(event_id AS VARCHAR), '"/>') AS xml_text,
        |  substr(event_type, 1, 1) AS qchar,
        |  rpad(event_type, 12, ' ') AS bp12
        |FROM events ORDER BY event_id""".stripMargin),

    Query("conv_numeric_edges", (s, dir) => {
      // numeric magnitudes: tiny / huge / repeating-fraction doubles;
      // single IEEE ops (correctly rounded) keep engines bit-identical
      Tables.sortedSpread(Tables.events(s, dir), col("event_id"))
        .select(col("event_id"),
          (col("event_id") / 1000.0).as("small_val"),
          (col("event_id") * 1000000000000.0).as("big_val"),
          (-(col("event_id") / 7.0)).as("frac_val"))
    },
      """SELECT event_id,
        |  event_id / 1000.0 AS small_val,
        |  event_id * 1000000000000.0 AS big_val,
        |  -(event_id / 7.0) AS frac_val
        |FROM events ORDER BY event_id""".stripMargin),

    Query("conv_array_date_days", (s, dir) => {
      val arr = array(to_date(col("o_orderdate")), date_add(to_date(col("o_orderdate")), 10))
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          array_join(transform(PgConverters.arrayOf(PgConverters.dateToDays)(arr),
            _.cast("string")), ",").as("days_arr"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey,
        |  array_to_string([
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)),
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE) + 10)], ',') AS days_arr
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Query("conv_array_mixed", (s, dir) => {
      // boolean[], uuid[], text[], interval[], composite[] element lifts
      val u = col("user_id"); val e = col("event_id")
      val uuidOf = (c: Column) => PgConverters.uuidFromHex32(md5(c.cast("string")))
      Tables.sortedSpread(Tables.events(s, dir), col("event_id"))
        .select(e.as("event_id"),
          array_join(transform(array(pmod(e, lit(2)) === 0, pmod(u, lit(3)) === 0),
            _.cast("string")), ",").as("bool_arr"),
          array_join(array(uuidOf(e), uuidOf(u)), ",").as("uuid_arr"),
          array_join(array(col("event_type"), upper(col("event_type"))), ",").as("txt_arr"),
          array_join(transform(array(
            PgConverters.intervalToMicros(u, pmod(e, lit(30)), lit(0L)),
            PgConverters.intervalToMicros(u - 100, pmod(e, lit(30)) - 15, lit(0L))),
            _.cast("string")), ",").as("interval_arr"),
          to_json(array(
            PgConverters.compositeToStruct("a" -> u),
            PgConverters.compositeToStruct("a" -> pmod(e, lit(10))))).as("comp_arr"))
    },
      """SELECT event_id,
        |  array_to_string(list_transform([event_id % 2 = 0, user_id % 3 = 0],
        |    x -> CAST(x AS VARCHAR)), ',') AS bool_arr,
        |  array_to_string([
        |    concat_ws('-', substr(md5(CAST(event_id AS VARCHAR)), 1, 8), substr(md5(CAST(event_id AS VARCHAR)), 9, 4),
        |      substr(md5(CAST(event_id AS VARCHAR)), 13, 4), substr(md5(CAST(event_id AS VARCHAR)), 17, 4),
        |      substr(md5(CAST(event_id AS VARCHAR)), 21, 12)),
        |    concat_ws('-', substr(md5(CAST(user_id AS VARCHAR)), 1, 8), substr(md5(CAST(user_id AS VARCHAR)), 9, 4),
        |      substr(md5(CAST(user_id AS VARCHAR)), 13, 4), substr(md5(CAST(user_id AS VARCHAR)), 17, 4),
        |      substr(md5(CAST(user_id AS VARCHAR)), 21, 12))], ',') AS uuid_arr,
        |  array_to_string([event_type, upper(event_type)], ',') AS txt_arr,
        |  array_to_string([
        |    user_id * 2629800000000 + (event_id % 30) * 86400000000,
        |    (user_id - 100) * 2629800000000 + (event_id % 30 - 15) * 86400000000], ',') AS interval_arr,
        |  CAST(to_json([struct_pack(a := user_id), struct_pack(a := event_id % 10)]) AS VARCHAR) AS comp_arr
        |FROM events ORDER BY event_id""".stripMargin),

    Query("conv_array_more", (s, dir) => {
      // point[], macaddr[], timestamptz-text[], float8[] (cents-text,
      // engine-stable), ltree[] — remaining array lifts of the matrix
      val u = col("user_id"); val e = col("event_id")
      val m = pmod(e, lit(100))
      // sort first, project after — see conv_array_scalar_sweep
      Tables.sortedSpread(Tables.events(s, dir), col("event_id"))
        .select(e.as("event_id"),
          array_join(array(
            PgConverters.pointToText(u, m),
            PgConverters.pointToText(u + 1, m + 1)), ";").as("point_arr"),
          array_join(array(
            PgConverters.macaddrToText(e * 65536 + u),
            PgConverters.macaddrToText(u * 65536 + e)), ",").as("mac_arr"),
          array_join(array(
            PgConverters.timestamptzNanosToText("ts"),
            PgConverters.timestamptzNanosToText("(ts + 60000000000)")), ",").as("tstz_arr"),
          array_join(array(decimalCentsText(u * 100 + 25), decimalCentsText(e * 100 + 75)), ",").as("f8_arr"),
          array_join(array(
            concat(lit("root.u"), u), concat(lit("root.e"), pmod(e, lit(10)))), ",")
            .as("ltree_arr"))
    },
      s"""SELECT event_id,
         |  concat('(', CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), ');(',
         |         CAST(user_id + 1 AS VARCHAR), ',', CAST(event_id % 100 + 1 AS VARCHAR), ')') AS point_arr,
         |  printf('%02x:%02x:%02x:%02x:%02x:%02x',
         |    ((event_id * 65536 + user_id) >> 40) & 255, ((event_id * 65536 + user_id) >> 32) & 255,
         |    ((event_id * 65536 + user_id) >> 24) & 255, ((event_id * 65536 + user_id) >> 16) & 255,
         |    ((event_id * 65536 + user_id) >> 8) & 255, (event_id * 65536 + user_id) & 255)
         |  || ',' ||
         |  printf('%02x:%02x:%02x:%02x:%02x:%02x',
         |    ((user_id * 65536 + event_id) >> 40) & 255, ((user_id * 65536 + event_id) >> 32) & 255,
         |    ((user_id * 65536 + event_id) >> 24) & 255, ((user_id * 65536 + event_id) >> 16) & 255,
         |    ((user_id * 65536 + event_id) >> 8) & 255, (user_id * 65536 + event_id) & 255) AS mac_arr,
         |  ${duckTsText("epoch_ns(ts)")} || ',' || ${duckTsText("epoch_ns(ts) + 60000000000")} AS tstz_arr,
         |  CAST((user_id * 100 + 25) // 100 AS VARCHAR) || '.' || lpad(CAST((user_id * 100 + 25) % 100 AS VARCHAR), 2, '0')
         |  || ',' ||
         |  CAST((event_id * 100 + 75) // 100 AS VARCHAR) || '.' || lpad(CAST((event_id * 100 + 75) % 100 AS VARCHAR), 2, '0') AS f8_arr,
         |  concat('root.u', CAST(user_id AS VARCHAR), ',root.e', CAST(event_id % 10 AS VARCHAR)) AS ltree_arr
         |FROM events ORDER BY event_id""".stripMargin),

    Query("conv_array_scalar_sweep", (s, dir) => {
      // remaining scalar-family array lifts of the README §1.2 matrix:
      // name[], bytea[], int2[], int4[], json[]/jsonb[], cidr[], float4[],
      // macaddr8[], inet6[], "char"[], oid/xid/cid[], enum[], xml[],
      // varbit[], char(x)[] — every element converter already
      // oracle-proven scalar-side; the lift is arrayOf/array_join
      val u = col("user_id"); val e = col("event_id")
      def uintOf(name: String) = PgConverters.uint32ToLong(
        expr(s"CAST(($name * 2654435761) % 4294967296 - 2147483648 AS INT)"))
      // sort FIRST, project after: the range exchange ships the narrow
      // source rows, not the ~17 wide rendered strings (the projection
      // is order-preserving, so output order is unchanged)
      Tables.sortedSpread(Tables.events(s, dir), col("event_id"))
        .select(e.as("event_id"),
          array_join(array(concat(lit("t_"), u), concat(lit("idx_"), pmod(e, lit(10)))), ",").as("name_arr"),
          array_join(array(lower(hex(col("event_type").cast("binary"))),
            lower(hex(concat(col("event_type"), lit("!")).cast("binary")))), ",").as("bytea_arr"),
          array_join(transform(array(pmod(u, lit(32768)), pmod(e, lit(32768))),
            _.cast("smallint").cast("string")), ",").as("i16_arr"),
          array_join(transform(array(pmod(u, lit(1000000)), pmod(e, lit(1000000))),
            _.cast("int").cast("string")), ",").as("i32_arr"),
          array_join(array(concat(lit("{\"k\":"), u, lit("}")),
            concat(lit("{\"k\":"), pmod(e, lit(10)), lit("}"))), ";").as("json_arr"),
          array_join(array(
            concat(lit("10."), pmod(u, lit(256)), lit("."), pmod(e, lit(256)), lit(".0/24")),
            concat(lit("192.168."), pmod(e, lit(256)), lit(".0/16"))), ",").as("cidr_arr"),
          array_join(transform(array(pmod(u, lit(8388608)), pmod(e, lit(8388608))),
            c => c.cast("float").cast("long").cast("string")), ",").as("f4_arr"),
          array_join(array(PgConverters.macaddr8ToText(u), PgConverters.macaddr8ToText(e)), ",").as("mac8_arr"),
          array_join(array(concat(lit("fe80::"), lower(hex(pmod(u, lit(65536))))),
            concat(lit("fe80::"), lower(hex(pmod(e, lit(65536)))))), ",").as("inet6_arr"),
          array_join(array(substring(col("event_type"), 1, 1),
            substring(col("event_type"), 2, 1)), ",").as("qchar_arr"),
          array_join(transform(array(uintOf("event_id"), uintOf("user_id")), _.cast("string")), ",").as("oid_arr"),
          array_join(array(col("event_type"), lit("view")), ",").as("enum_arr"),
          array_join(array(concat(lit("<e id=\""), e, lit("\"/>")),
            concat(lit("<u id=\""), u, lit("\"/>"))), ";").as("xml_arr"),
          array_join(array(PgConverters.bitsToString(pmod(u, lit(256)), 8),
            PgConverters.bitsToString(pmod(e, lit(32)), 5)), ",").as("varbit_arr"),
          array_join(array(PgConverters.bpcharPad(col("event_type"), 10),
            PgConverters.bpcharPad(lit("x"), 3)), "|").as("bp_arr"),
          {
            // hstore[]: ARRAY of MAP — each element round-trips through
            // the real map converter (from_json → MAP → to_json); the
            // compact source text is the engine-neutral rendering
            val h1 = concat(lit("{\"a\":\""), u, lit("\",\"b\":\""), pmod(e, lit(10)), lit("\"}"))
            val h2 = concat(lit("{\"c\":\""), col("event_type"), lit("\"}"))
            array_join(transform(array(h1, h2),
              j => to_json(PgConverters.hstoreToMap(j))), ";").as("hstore_arr")
          })
    },
      s"""SELECT event_id,
         |  concat('t_', CAST(user_id AS VARCHAR), ',idx_', CAST(event_id % 10 AS VARCHAR)) AS name_arr,
         |  concat(lower(hex(encode(event_type))), ',', lower(hex(encode(event_type || '!')))) AS bytea_arr,
         |  concat(CAST(user_id % 32768 AS VARCHAR), ',', CAST(event_id % 32768 AS VARCHAR)) AS i16_arr,
         |  concat(CAST(user_id % 1000000 AS VARCHAR), ',', CAST(event_id % 1000000 AS VARCHAR)) AS i32_arr,
         |  concat('{"k":', CAST(user_id AS VARCHAR), '};{"k":', CAST(event_id % 10 AS VARCHAR), '}') AS json_arr,
         |  concat('10.', CAST(user_id % 256 AS VARCHAR), '.', CAST(event_id % 256 AS VARCHAR), '.0/24,',
         |         '192.168.', CAST(event_id % 256 AS VARCHAR), '.0/16') AS cidr_arr,
         |  concat(CAST(CAST(CAST(user_id % 8388608 AS REAL) AS BIGINT) AS VARCHAR), ',',
         |         CAST(CAST(CAST(event_id % 8388608 AS REAL) AS BIGINT) AS VARCHAR)) AS f4_arr,
         |  concat(${duckMac8("user_id")}, ',', ${duckMac8("event_id")}) AS mac8_arr,
         |  concat('fe80::', lower(hex(user_id % 65536)), ',fe80::', lower(hex(event_id % 65536))) AS inet6_arr,
         |  concat(substr(event_type, 1, 1), ',', substr(event_type, 2, 1)) AS qchar_arr,
         |  concat(CAST(${duckUint("event_id")} AS VARCHAR), ',', CAST(${duckUint("user_id")} AS VARCHAR)) AS oid_arr,
         |  concat(event_type, ',view') AS enum_arr,
         |  concat('<e id="', CAST(event_id AS VARCHAR), '"/>;<u id="', CAST(user_id AS VARCHAR), '"/>') AS xml_arr,
         |  concat(lpad(bin(user_id % 256), 8, '0'), ',', lpad(bin(event_id % 32), 5, '0')) AS varbit_arr,
         |  concat(rpad(event_type, 10, ' '), '|x  ') AS bp_arr,
         |  concat('{"a":"', CAST(user_id AS VARCHAR), '","b":"', CAST(event_id % 10 AS VARCHAR), '"};',
         |         '{"c":"', event_type, '"}') AS hstore_arr
         |FROM events ORDER BY event_id""".stripMargin),

    Query("conv_array_temporal_geo_sweep", (s, dir) => {
      // remaining temporal/range/geometry array lifts: time[], timetz[],
      // int4range[]/int8range[], numrange[], tsrange[]/tstzrange[],
      // daterange[], lseg[], box[], polygon[], line[], circle[], path[]
      val u = col("user_id"); val e = col("event_id")
      val m = pmod(e, lit(100))
      val t0 = timestamp_micros(expr("ts div 1000"))
      val t1 = timestamp_micros(expr("ts div 1000 + 60000000"))
      def day(shift: Int) = date_format(
        timestamp_micros(expr(s"ts div 1000 + ${shift.toLong * 86400000000L}")), "yyyy-MM-dd")
      // sort first, project after — see conv_array_scalar_sweep
      Tables.sortedSpread(Tables.events(s, dir), col("event_id"))
        .select(e.as("event_id"),
          array_join(array(PgConverters.timeToText(t0), PgConverters.timeToText(t1)), ",").as("time_arr"),
          array_join(array(PgConverters.timetzToText(t0), PgConverters.timetzToText(t1)), ",").as("timetz_arr"),
          array_join(array(PgConverters.rangeToString(u, u + 5),
            PgConverters.rangeToString(e, e + 10)), ";").as("intrange_arr"),
          array_join(array(
            PgConverters.rangeToString(decimalCentsText(u * 100 + 50), decimalCentsText(u * 100 + 175)),
            PgConverters.rangeToString(decimalCentsText(m * 100 + 25), decimalCentsText(m * 100 + 99))), ";")
            .as("numrange_arr"),
          array_join(array(
            PgConverters.rangeToString(PgConverters.timestamptzNanosToText("ts"),
              PgConverters.timestamptzNanosToText("(ts + 3600000000000)")),
            PgConverters.rangeToString(PgConverters.timestamptzNanosToText("(ts + 7200000000000)"),
              PgConverters.timestamptzNanosToText("(ts + 10800000000000)"))), ";").as("tstzrange_arr"),
          array_join(array(PgConverters.rangeToString(day(0), day(30)),
            PgConverters.rangeToString(day(1), day(8))), ";").as("daterange_arr"),
          array_join(array(PgConverters.lsegToText(u, m, u + 5, m + 5),
            PgConverters.lsegToText(u + 1, m, u + 6, m + 9)), ";").as("lseg_arr"),
          array_join(array(PgConverters.boxToText(u, m, u + 10, m + 10),
            PgConverters.boxToText(u, m, u + 2, m + 3)), ";").as("box_arr"),
          array_join(array(PgConverters.polygonToText((u, m), (u + 1, m), (u, m + 1)),
            PgConverters.polygonToText((u, m), (u + 2, m), (u, m + 2))), ";").as("poly_arr"),
          array_join(array(PgConverters.lineToText(u, m + 1, lit(3)),
            PgConverters.lineToText(u + 1, m + 2, lit(7))), ";").as("line_arr"),
          array_join(array(PgConverters.circleToText(u, m, lit(7)),
            PgConverters.circleToText(u + 1, m + 1, lit(2))), ";").as("circle_arr"),
          array_join(array(
            PgConverters.pathToText(closed = false, (u, m), (u + 2, m + 3)),
            PgConverters.pathToText(closed = false, (u + 1, m), (u + 3, m + 4))), ";").as("path_arr"))
    },
      s"""SELECT event_id,
         |  concat(strftime(make_timestamp(epoch_ns(ts) // 1000), '%H:%M:%S.%f'), ',',
         |         strftime(make_timestamp(epoch_ns(ts) // 1000 + 60000000), '%H:%M:%S.%f')) AS time_arr,
         |  concat(strftime(make_timestamp(epoch_ns(ts) // 1000), '%H:%M:%S.%f'), '+00,',
         |         strftime(make_timestamp(epoch_ns(ts) // 1000 + 60000000), '%H:%M:%S.%f'), '+00') AS timetz_arr,
         |  concat('[', CAST(user_id AS VARCHAR), ',', CAST(user_id + 5 AS VARCHAR), ');[',
         |         CAST(event_id AS VARCHAR), ',', CAST(event_id + 10 AS VARCHAR), ')') AS intrange_arr,
         |  concat('[', ${duckCentsText("user_id * 100 + 50")}, ',', ${duckCentsText("user_id * 100 + 175")}, ');[',
         |         ${duckCentsText("event_id % 100 * 100 + 25")}, ',', ${duckCentsText("event_id % 100 * 100 + 99")}, ')') AS numrange_arr,
         |  concat('[', ${duckTsText("epoch_ns(ts)")}, ',', ${duckTsText("epoch_ns(ts) + 3600000000000")}, ');[',
         |         ${duckTsText("epoch_ns(ts) + 7200000000000")}, ',', ${duckTsText("epoch_ns(ts) + 10800000000000")}, ')') AS tstzrange_arr,
         |  concat('[', strftime(make_timestamp(epoch_ns(ts) // 1000), '%Y-%m-%d'), ',',
         |         strftime(make_timestamp(epoch_ns(ts) // 1000 + 2592000000000), '%Y-%m-%d'), ');[',
         |         strftime(make_timestamp(epoch_ns(ts) // 1000 + 86400000000), '%Y-%m-%d'), ',',
         |         strftime(make_timestamp(epoch_ns(ts) // 1000 + 691200000000), '%Y-%m-%d'), ')') AS daterange_arr,
         |  concat('[(', CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),(',
         |         CAST(user_id + 5 AS VARCHAR), ',', CAST(event_id % 100 + 5 AS VARCHAR), ')];[(',
         |         CAST(user_id + 1 AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),(',
         |         CAST(user_id + 6 AS VARCHAR), ',', CAST(event_id % 100 + 9 AS VARCHAR), ')]') AS lseg_arr,
         |  concat('(', CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),(',
         |         CAST(user_id + 10 AS VARCHAR), ',', CAST(event_id % 100 + 10 AS VARCHAR), ');(',
         |         CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),(',
         |         CAST(user_id + 2 AS VARCHAR), ',', CAST(event_id % 100 + 3 AS VARCHAR), ')') AS box_arr,
         |  concat('((', CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),(',
         |         CAST(user_id + 1 AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),(',
         |         CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 + 1 AS VARCHAR), '));((',
         |         CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),(',
         |         CAST(user_id + 2 AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),(',
         |         CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 + 2 AS VARCHAR), '))') AS poly_arr,
         |  concat('{', CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 + 1 AS VARCHAR), ',3};{',
         |         CAST(user_id + 1 AS VARCHAR), ',', CAST(event_id % 100 + 2 AS VARCHAR), ',7}') AS line_arr,
         |  concat('<(', CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),7>;<(',
         |         CAST(user_id + 1 AS VARCHAR), ',', CAST(event_id % 100 + 1 AS VARCHAR), '),2>') AS circle_arr,
         |  concat('[(', CAST(user_id AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),(',
         |         CAST(user_id + 2 AS VARCHAR), ',', CAST(event_id % 100 + 3 AS VARCHAR), ')];[(',
         |         CAST(user_id + 1 AS VARCHAR), ',', CAST(event_id % 100 AS VARCHAR), '),(',
         |         CAST(user_id + 3 AS VARCHAR), ',', CAST(event_id % 100 + 4 AS VARCHAR), ')]') AS path_arr
         |FROM events ORDER BY event_id""".stripMargin),

    Query("conv_saturating_i32", (s, dir) => {
      // toolkit saturating i32 math: operands derived to cross both
      // clamp bounds (sums past +2^31, mul both directions, negative
      // sums for the _pos floor)
      val base = Cdc.walEvents(s, dir).select(col("lsn"),
        expr("cast((cast(floor(value * 100 + 0.5) as bigint) * 48271L) % 2147483647L as int)").as("a"),
        expr("cast(((lsn * 69621L) % 2147483647L) - 1073741823L as int)").as("b"))
      base.select(col("lsn"), col("a"), col("b"),
        ops.EventAnalytics.saturatingAdd(col("a"), col("b")).as("sat_add"),
        ops.EventAnalytics.saturatingSub(col("a"), col("b")).as("sat_sub"),
        ops.EventAnalytics.saturatingMul(col("a"), col("b")).as("sat_mul"),
        ops.EventAnalytics.saturatingAddPos(col("a"), col("b")).as("sat_add_pos"),
        ops.EventAnalytics.saturatingSubPos(col("a"), col("b")).as("sat_sub_pos"))
        .orderBy(col("lsn"))
    },
      // saturating-math twin: identical operand derivation (both engines'
      // % keeps the dividend sign), BIGINT arithmetic, i32/pos clamps
      """WITH wal AS (SELECT event_id AS lsn,
        |    CAST((CAST(floor(value * 100 + 0.5) AS BIGINT) * 48271) % 2147483647 AS INT) AS a,
        |    CAST(((event_id * 69621) % 2147483647) - 1073741823 AS INT) AS b
        |  FROM events)
        |SELECT lsn, a, b,
        |  CAST(least(greatest(CAST(a AS BIGINT) + CAST(b AS BIGINT), -2147483648), 2147483647) AS INT) AS sat_add,
        |  CAST(least(greatest(CAST(a AS BIGINT) - CAST(b AS BIGINT), -2147483648), 2147483647) AS INT) AS sat_sub,
        |  CAST(least(greatest(CAST(a AS BIGINT) * CAST(b AS BIGINT), -2147483648), 2147483647) AS INT) AS sat_mul,
        |  CAST(least(greatest(CAST(a AS BIGINT) + CAST(b AS BIGINT), 0), 2147483647) AS INT) AS sat_add_pos,
        |  CAST(least(greatest(CAST(a AS BIGINT) - CAST(b AS BIGINT), 0), 2147483647) AS INT) AS sat_sub_pos
        |FROM wal ORDER BY lsn""".stripMargin)
  )
}
