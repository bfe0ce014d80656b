package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.Cdc
import graft.filter.EventFilter
import QueryHelpers._

/** The Expr filter dialect over the CDC stream (`cdc_filter_*`,
  * `cdc_event_filter`): `EventFilter` conditions compiled to Catalyst
  * predicates, each checked against a DuckDB twin of the same predicate. */
object CdcFilterQueries {

  /** One Expr-dialect wave of `EventFilter`: `condition` over the WAL,
    * projected to `columns` in LSN order. The input is the spread,
    * pushdown-barriered `events` (the predicates are pure compute no scan
    * could push: layout-aware fan-out off a single-row-group fixture,
    * no-op at scale), `shape`d before the filter. */
  private final case class Wave(name: String, columns: Seq[String], condition: String, oracle: String,
                                shape: DataFrame => DataFrame = identity)

  private val waves: Seq[Wave] = Seq(
    // wave-2 dialect surface: postfix slicing (0-based end-exclusive),
    // map-literal KEY membership, and type() — all compiled to
    // Catalyst builtins through the polymorphic PolyAt/PolySlice/
    // PolyIn expressions (dispatch at analysis, codegen at run time)
    Wave("cdc_filter_wave2", Seq("lsn", "event_type", "user_id"),
      """event_type[0:3] in {sig: 1, pur: 2, vie: 3} && len(props[2:6]) == 4 && type(user_id) == "int"""",
      // wave-2 twin: slice = 1-based substring of the same width; map
      // membership = key-set IN; type(user_id)=='int' = non-null bigint
      """SELECT event_id AS lsn, event_type, user_id
        |FROM events
        |WHERE substring(event_type, 1, 3) IN ('sig', 'pur', 'vie')
        |  AND length(substring(props, 3, 4)) = 4
        |  AND user_id IS NOT NULL
        |ORDER BY lsn""".stripMargin),

    // wave-3 dialect surface: let-binding prelude, inclusive ranges
    // (with `in` and as closure/take/reduce inputs), reduce with the
    // #acc accumulator, findIndex — one narrow codegen predicate
    Wave("cdc_filter_wave3", Seq("lsn", "user_id", "props"),
      """let v = int(props[6:-1]); v in 10..60 && reduce(take(1..v, 3), #acc + #, int(0)) == 6 && findIndex(split(props, ":"), {hasPrefix(#, " ")}) == 1""",
      // wave-3 twin: the let binding inlines to the same slice-cast; the
      // dialect's 0-based end-exclusive [6:-1] is duck's 1-based
      // inclusive [7:-2]; take(1..v, 3) = range(1, least(v,3)+1)
      // (end-exclusive); findIndex = 1-based list_position - 1
      """WITH e AS (SELECT event_id AS lsn, user_id, props,
        |             CAST(props[7:-2] AS BIGINT) AS v FROM events)
        |SELECT lsn, user_id, props FROM e
        |WHERE v BETWEEN 10 AND 60
        |  AND list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        range(1, least(v, 3) + 1)), (a, b) -> a + b) = 6
        |  AND list_position(list_transform(string_split(props, ':'),
        |        x -> starts_with(x, ' ')), true) - 1 = 1
        |ORDER BY lsn""".stripMargin),

    // wave-4 dialect surface: end-scans (findLast/findLastIndex),
    // stable sortBy + get, concat/takeLast array algebra, mean, and
    // a base64 round-trip — still one narrow codegen predicate
    Wave("cdc_filter_wave4", Seq("lsn", "user_id", "props"),
      """let toks = split(props, ":"); let lens = map(toks, {len(#)}); let v = int(props[6:-1]); findLastIndex(toks, {hasSuffix(#, "}")}) == 1 && findLast(toks, {hasPrefix(#, "{")}) == get(toks, 0) && takeLast(sortBy(concat(lens, [v]), #), 1) == [v] && mean(concat(lens, [v])) >= 20.0 && len(get(groupBy(toks, len(#)), 4)) >= 1 && fromBase64(toBase64(props)) == props""",
      """WITH e AS (SELECT event_id AS lsn, user_id, props,
        |    string_split(props, ':') AS t,
        |    CAST(props[7:-2] AS BIGINT) AS v FROM events),
        |x AS (SELECT lsn, user_id, props, v, t,
        |    list_concat(list_transform(t, s -> CAST(length(s) AS BIGINT)), [v]) AS ext FROM e)
        |SELECT lsn, user_id, props FROM x
        |WHERE (CASE WHEN list_position(list_reverse(list_transform(t, s -> ends_with(s, '}'))), true) = 0 THEN -1
        |       ELSE len(t) - list_position(list_reverse(list_transform(t, s -> ends_with(s, '}'))), true) END) = 1
        |  AND list_reverse(list_filter(t, s -> starts_with(s, '{')))[1] = t[1]
        |  AND list_slice(list_sort(ext), len(ext), len(ext)) = [v]
        |  AND list_aggregate(ext, 'avg') >= 20.0
        |  AND len(list_filter(t, s -> length(s) = 4)) >= 1
        |  AND decode(from_base64(to_base64(encode(props)))) = props
        |ORDER BY lsn""".stripMargin),

    // wave-5 dialect surface: bit builtins (&, |, ^, shifts as 64-bit
    // Catalyst operators) and lastIndexOf (reverse-trick compile)
    Wave("cdc_filter_wave5", Seq("lsn", "user_id", "props"),
      """bitand(user_id, 7) in [1, 2, 3] && bitshl(1, 3) == 8 && bitushr(bitshl(user_id, 1), 1) == user_id && bitxor(bitor(user_id, 4), 4) <= user_id && lastIndexOf(props, "1") >= 2 && lastIndexOf(props, "zz") == -1""",
      // wave-5 twin: DuckDB bit operators + the same reverse-trick
      // lastIndexOf (strpos ≡ instr: 1-based, 0 when absent)
      """WITH e AS (SELECT event_id AS lsn, user_id, props FROM events)
        |SELECT lsn, user_id, props FROM e
        |WHERE (user_id & 7) IN (1, 2, 3)
        |  AND (1 << 3) = 8
        |  AND ((user_id << 1) >> 1) = user_id
        |  AND xor(user_id | 4, 4) <= user_id
        |  AND (CASE WHEN strpos(reverse(props), reverse('1')) = 0 THEN -1
        |       ELSE length(props) - strpos(reverse(props), reverse('1')) - length('1') + 1 END) >= 2
        |  AND (CASE WHEN strpos(reverse(props), reverse('zz')) = 0 THEN -1
        |       ELSE length(props) - strpos(reverse(props), reverse('zz')) - length('zz') + 1 END) = -1
        |ORDER BY lsn""".stripMargin),

    // wave-6 dialect surface: fromJSON (columnar map<string,string>
    // reading), toJSON, toPairs/fromPairs (native entry structs), and
    // splitAfter — the whole predicate stays one codegen projection
    Wave("cdc_filter_wave6", Seq("lsn", "user_id", "event_type", "props"),
      """int(get(fromJSON(value.props), "k")) >= 40 && len(toPairs(fromJSON(value.props))) == 1 && get(fromPairs(toPairs(fromJSON(value.props))), "k") == get(fromJSON(value.props), "k") && len(splitAfter(value.event_type, "e")) >= 2 && first(splitAfter(value.event_type, "e")) != "e" && len(toJSON(keys(fromJSON(value.props)))) == 5""",
      """WITH e AS (SELECT event_id AS lsn, user_id, event_type, props FROM events)
        |SELECT lsn, user_id, event_type, props FROM e
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 40
        |  AND len(json_keys(props)) = 1
        |  AND json_extract_string(props, '$.k') = json_extract_string(props, '$.k')
        |  AND len(string_split(event_type, 'e')) >= 2
        |  AND NOT starts_with(event_type, 'e')
        |  AND length(to_json(json_keys(props))) = 5
        |ORDER BY lsn""".stripMargin),

    // wave-7 dialect surface: optional chaining `?.` (nil-safe member
    // access over maps — every access already total in the columnar
    // compile) incl. chained `?.` after a let binding, missing-key nil
    // + `??` default, and nil-propagation through int()
    Wave("cdc_filter_wave7", Seq("lsn", "user_id", "props"),
      """let m = fromJSON(value.props);
        |m?.k != nil && (m?.absent ?? "42") == "42" &&
        |int(fromJSON(value.props)?.k) >= 0 &&
        |(int(m?.absent) ?? -1) == -1""".stripMargin,
      """SELECT event_id AS lsn, user_id, props FROM events
        |WHERE json_extract_string(props, '$.k') IS NOT NULL
        |  AND coalesce(json_extract_string(props, '$.absent'), '42') = '42'
        |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 0
        |  AND coalesce(CAST(json_extract_string(props, '$.absent') AS BIGINT), -1) = -1
        |ORDER BY lsn""".stripMargin),

    // wave-8: the filter env's SCHEMA members (the reference evaluates
    // over {key, value, keySchema, valueSchema} — eventfilter.go:
    // 127-138). The descriptor is plan-time constant, so these paths
    // fold to literals at compile time; the bracket indexes run over
    // the inlined array/map literals. Zero per-row schema work.
    Wave("cdc_filter_wave8", Seq("lsn", "user_id"),
      """valueSchema.name == "graft.public.events.Envelope" &&
        |valueSchema.type == "struct" &&
        |len(valueSchema.fields) == 6 &&
        |valueSchema.fields[3]["field"] == "op" &&
        |keySchema.name == "graft.public.events.Key" &&
        |keySchema.fields[0]["name"] == "event_id" &&
        |value.user_id % 2 == 0""".stripMargin,
      // wave-8 twin: every schema-introspection conjunct folds to a
      // compile-time truth, leaving only the payload predicate
      """SELECT event_id AS lsn, user_id FROM events
        |WHERE user_id % 2 = 0 ORDER BY lsn""".stripMargin),

    // wave-9 dialect surface: date() with a Go reference-time layout
    // and timezone() (expr-lang's date/timezone builtins; Go
    // time.ParseInLocation semantics — the wall-clock string is IN
    // the zone, compared as the instant it denotes). The zone under
    // oracle test is a FIXED-OFFSET id so the DuckDB twin is plain
    // interval arithmetic (no ICU dependency); DST-zone parity is
    // spec-proven against java.time in EventFilterSpec instead.
    Wave("cdc_filter_wave9", Seq("lsn", "user_id", "dt"),
      """date(value.dt, "2006-01-02 15:04:05", timezone("Etc/GMT+5")) < date("2024-01-15T19:00:00") &&
        |date(value.dt, "2006-01-02 15:04:05") >= date("2024-01-05T00:00:00") &&
        |value.user_id % 3 == 0""".stripMargin,
      // wave-9 twin: the fixed-offset zone makes ParseInLocation plain
      // interval arithmetic; dt is ts floored to seconds both sides
      """WITH e AS (SELECT event_id AS lsn, user_id,
        |                  strftime(ts, '%Y-%m-%d %H:%M:%S') AS dt,
        |                  date_trunc('second', ts) AS tsec FROM events)
        |SELECT lsn, user_id, dt FROM e
        |WHERE tsec + INTERVAL 5 HOUR < TIMESTAMP '2024-01-15 19:00:00'
        |  AND tsec >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND user_id % 3 = 0
        |ORDER BY lsn""".stripMargin,
      shape = _.withColumn("dt",
        date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd HH:mm:ss")))
  )

  val all: Seq[Query] = waves.map { w =>
    Query(w.name, (s, dir) =>
      EventFilter(w.condition)
        .apply(w.shape(Cdc.shapeWal(Tables.eventsSpreadBarrier(s, dir))))
        .select(w.columns.map(col): _*)
        .orderBy(col("lsn")), w.oracle)
  } ++ Seq(
    Query("cdc_event_filter", (s, dir) => {
      // P5: Expr dialect `op == "c" && user_id > 5` → Catalyst predicate
      EventFilter("""op == "c" && user_id > 5""")
        .apply(Cdc.walEvents(s, dir))
        .select(col("lsn"), col("op"), col("user_id"))
        .orderBy(col("lsn"))
    },
      s"""SELECT event_id AS lsn, $opCaseSql AS op, user_id
         |FROM events
         |WHERE $opCaseSql = 'c' AND user_id > 5
         |ORDER BY lsn""".stripMargin),

    Query("cdc_filter_paths", (s, dir) => {
      // envelope field paths + `in` list (eventfilter.go env mapping)
      EventFilter("""value.op == "u" || value.after.user_id in [1, 2, 3]""")
        .apply(Cdc.walEvents(s, dir))
        .select(col("lsn"), col("op"), col("user_id"))
        .orderBy(col("lsn"))
    },
      s"""SELECT event_id AS lsn, $opCaseSql AS op, user_id
         |FROM events
         |WHERE $opCaseSql = 'u' OR user_id IN (1, 2, 3)
         |ORDER BY lsn""".stripMargin),

    Query("cdc_filter_strfns", (s, dir) => {
      // matches/contains/startsWith + literal-preserving lexer: the
      // quoted prefix contains '{' and an escaped quote
      EventFilter(
        """props contains "7" && !(props startsWith "{\"k\": 1") && props matches "[0-9][0-9]"""")
        .apply(Cdc.walEvents(s, dir))
        .select(col("lsn"), col("props"))
        .orderBy(col("lsn"))
    },
      """SELECT event_id AS lsn, props
        |FROM events
        |WHERE contains(props, '7') AND NOT starts_with(props, '{"k": 1')
        |  AND regexp_matches(props, '[0-9][0-9]')
        |ORDER BY lsn""".stripMargin),

    Query("cdc_filter_builtins", (s, dir) => {
      // expr-lang built-in functions (len/min/indexOf/upper/hasPrefix/
      // trimPrefix) compiled to Catalyst twins — eventfilter.go:73-83
      // compiles the full Expr stdlib
      EventFilter(
        """len(props) % 2 == 0 && min(user_id, 500) < 500 && indexOf(props, "k") == 2 && (upper(event_type) in ["PURCHASE", "VIEW", "ERROR"] || hasPrefix(trimPrefix(event_type, "sign"), "up"))""")
        .apply(Cdc.walEvents(s, dir))
        .select(col("lsn"), col("user_id"), col("event_type"))
        .orderBy(col("lsn"))
    },
      """SELECT event_id AS lsn, user_id, event_type
        |FROM events
        |WHERE length(props) % 2 = 0 AND least(user_id, 500) < 500
        |  AND strpos(props, 'k') - 1 = 2
        |  AND (upper(event_type) IN ('PURCHASE', 'VIEW', 'ERROR')
        |       OR starts_with(CASE WHEN starts_with(event_type, 'sign')
        |                           THEN substring(event_type, length('sign') + 1)
        |                           ELSE event_type END, 'up'))
        |ORDER BY lsn""".stripMargin),

    Query("cdc_filter_ternary", (s, dir) => {
      // ternary + nil-coalescing
      EventFilter(
        """(user_id > 50 ? op == "c" : op != "c") && (props ?? "") endsWith "9}"""")
        .apply(Cdc.walEvents(s, dir))
        .select(col("lsn"), col("op"), col("user_id"))
        .orderBy(col("lsn"))
    },
      s"""SELECT event_id AS lsn, $opCaseSql AS op, user_id
         |FROM events
         |WHERE (CASE WHEN user_id > 50 THEN $opCaseSql = 'c' ELSE $opCaseSql <> 'c' END)
         |  AND ends_with(coalesce(props, ''), '9}')
         |ORDER BY lsn""".stripMargin),

    Query("cdc_filter_closures", (s, dir) => {
      // expr-lang array closures (# placeholder, brace shorthand, nested
      // map-inside-count) compiled to Catalyst higher-order functions —
      // the predicate stays one narrow codegen projection
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("table_name", lit("public.documents"))
      EventFilter(
        """any(value.toks, {hasPrefix(#, "b")}) && count(map(value.toks, {len(#)}), {# >= 7}) > 3 && none(value.toks, {# == "zzz"}) && !all(value.toks, {len(#) < 7})""")
        .apply(docs)
        .select(col("doc_id"), size(col("toks")).as("n_toks"))
        .orderBy(col("doc_id"))
    },
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |SELECT doc_id, len(t) AS n_toks FROM tok
        |WHERE len(list_filter(t, x -> starts_with(x, 'b'))) > 0
        |  AND len(list_filter(list_transform(t, x -> length(x)), y -> y >= 7)) > 3
        |  AND len(list_filter(t, x -> x = 'zzz')) = 0
        |  AND NOT (len(list_filter(t, x -> length(x) < 7)) = len(t))
        |ORDER BY doc_id""".stripMargin)
  )
}
