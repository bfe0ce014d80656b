package graft

import graft.filter.EventFilter
import graft.ops.{Multimodal, TextAnalysis}
import graft.types.PgConverters
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("event filter translates Expr dialect and filters (P5)") {
    val wal = graft.cdc.Cdc.walEvents(spark, sf001)
    val f = EventFilter("""op == "c" && user_id > 5""")
    val out = f.apply(wal.withColumn("table_name", lit("events")))
    assert(out.count() > 0)
    assert(out.filter(col("op") =!= "c" || col("user_id") <= 5).count() === 0)
  }

  test("event filter: out-of-scope tables pass with default=true (eventfilter.go:118-131)") {
    val wal = graft.cdc.Cdc.walEvents(spark, sf001)
    val scoped = EventFilter("""op == "c"""",
      graft.catalog.TableFilter(Seq("other.*"), Nil), defaultValue = true)
    assert(scoped.apply(wal).count() === 1000, "filter scoped to other tables is a no-op")
  }

  test("event filter rejects unsupported constructs loudly") {
    // schema introspection folds since wave 8 — but only against the
    // REAL descriptor; off-descriptor paths still fail at compile
    intercept[IllegalArgumentException] {
      EventFilter.translate("""valueSchema.no_such_member != nil""")
    }
    // malformed expressions fail at parse, not at Spark analysis
    intercept[IllegalArgumentException] { EventFilter.translate("""op == """) }
    intercept[IllegalArgumentException] { EventFilter.translate("""op @@ "c"""") }
    intercept[IllegalArgumentException] { EventFilter.translate("""op == "unterminated""") }
  }

  test("event filter wave 9: date() layouts and timezone() (expr-lang date builtins)") {
    import EventFilter.translate
    // Go reference-time layouts translate token-for-token, or fail loudly
    assert(EventFilter.goLayoutToSpark("2006-01-02 15:04:05")
      === Some("yyyy-MM-dd HH:mm:ss"))
    assert(EventFilter.goLayoutToSpark("2006-01-02T15:04:05Z07:00")
      === Some("yyyy-MM-dd'T'HH:mm:ssXXX"))
    assert(EventFilter.goLayoutToSpark("Jan 02, 2006 03:04 PM")
      === Some("MMM dd, yyyy hh:mm a"))
    assert(EventFilter.goLayoutToSpark("2006-01-02 15:04:05.000")
      === Some("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(EventFilter.goLayoutToSpark("2006-01-02 15:04:05 MST").isEmpty,
      "zone-abbreviation token has no faithful Spark twin")
    assert(translate(
      """date(dt, "2006-01-02 15:04:05", timezone("America/New_York")) > now()""")
      === "to_utc_timestamp(to_timestamp(`dt`, 'yyyy-MM-dd HH:mm:ss'), " +
        "'America/New_York') > current_timestamp()")
    // unknown zones, non-literal layouts, unsupported tokens: all fail
    // at COMPILE time, never as per-row surprises
    intercept[IllegalArgumentException] {
      translate("""date(dt, "2006", timezone("Mars/Olympus")) != nil""")
    }
    intercept[IllegalArgumentException] { translate("""date(dt, fmt) != nil""") }
    intercept[IllegalArgumentException] {
      translate("""date(dt, "2006-01-02 25:00") != nil""")
    }
    intercept[IllegalArgumentException] { translate("""timezone(tzcol) != nil""") }
    // a zone-BEARING layout with a timezone() argument is rejected: Go's
    // ParseInLocation ignores the location when the string carries its
    // own zone, and to_utc_timestamp on top would double-shift
    intercept[IllegalArgumentException] {
      translate("""date(dt, "2006-01-02T15:04:05Z07:00", timezone("UTC")) != nil""")
    }
    // ...but the 2-arg form still accepts zone-bearing layouts
    assert(translate("""date(dt, "2006-01-02T15:04:05Z07:00") != nil""")
      .contains("to_timestamp"))
    // ParseInLocation semantics across a DST boundary, cross-checked
    // against java.time (Go's time pkg reads the same IANA db): the
    // same New York wall clock is UTC-4 in July, UTC-5 in January
    val df = Seq((1L, "2024-07-01 12:00:00"), (2L, "2024-01-01 12:00:00"))
      .toDF("id", "dt").withColumn("table_name", lit("events"))
    def instants(cond: String): Seq[Long] =
      EventFilter(cond).apply(df).select("id").as[Long].collect().toSeq
    assert(instants(
      """date(value.dt, "2006-01-02 15:04:05", timezone("America/New_York")) == date("2024-07-01T16:00:00")""")
      === Seq(1L))
    assert(instants(
      """date(value.dt, "2006-01-02 15:04:05", timezone("America/New_York")) == date("2024-01-01T17:00:00")""")
      === Seq(2L))
    assert(java.time.LocalDateTime.parse("2024-07-01T12:00:00")
      .atZone(java.time.ZoneId.of("America/New_York")).toInstant
      === java.time.Instant.parse("2024-07-01T16:00:00Z"))
    assert(java.time.LocalDateTime.parse("2024-01-01T12:00:00")
      .atZone(java.time.ZoneId.of("America/New_York")).toInstant
      === java.time.Instant.parse("2024-01-01T17:00:00Z"))
    // Go parity (time.Parse reads zone-less strings as UTC) holds only
    // under spark.sql.session.timeZone=UTC — compiling date() against a
    // non-UTC active session fails loudly instead of silently shifting
    // every parsed instant
    val nonUtc = spark.newSession()
    nonUtc.conf.set("spark.sql.session.timeZone", "America/Chicago")
    val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(nonUtc)
    try {
      val tzErr = intercept[IllegalArgumentException] {
        translate("""date(value.dt, "2006-01-02 15:04:05") != nil""")
      }
      assert(tzErr.getMessage.contains("timeZone"))
    } finally prevActive.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
  }

  test("event filter string operators and literal preservation") {
    // operator tokens inside string literals survive byte-for-byte —
    // the round-1 replaceAll corrupted 'a==b' to 'a=b'
    assert(EventFilter.translate("""op == "a==b"""") === "`op` = 'a==b'")
    assert(EventFilter.translate("""op == "x && y"""") === "`op` = 'x && y'")
    assert(EventFilter.translate("""op == "it's"""") === "`op` = 'it''s'")
    assert(EventFilter.translate("""props matches "^a.*"""") === "rlike(`props`, '^a.*')")
    assert(EventFilter.translate("""props contains "x"""") === "contains(`props`, 'x')")
    assert(EventFilter.translate("""value.after.user_id in [1, 2]""") === "`user_id` IN (1, 2)")
    assert(EventFilter.translate("""user_id not in [1]""") === "(NOT `user_id` IN (1))")
    assert(EventFilter.translate("""not (a == 1)""") === "(NOT (`a` = 1))")
    // expr-lang tight-binding precedence: ?? and unary ! bind before
    // comparison operators (eventfilter.go dialect)
    assert(EventFilter.translate("""props ?? "{}" contains "k"""")
      === "contains(coalesce(`props`, '{}'), 'k')")
    assert(EventFilter.translate("""!a == b""") === "(NOT `a`) = `b`")
    // full ladder: ! absorbs * (60>50 power) and ?? (500) but not + (30)
    assert(EventFilter.translate("""!a ?? b""") === "(NOT coalesce(`a`, `b`))")
    assert(EventFilter.translate("""not a * b""") === "(NOT (`a` * `b`))")
    assert(EventFilter.translate("""!a + b""") === "((NOT `a`) + `b`)")
    // wave 7: optional chaining compiles through total graft_at access
    assert(EventFilter.translate("""m?.k == "1"""") === "graft_at(`m`, 'k') = '1'")
    assert(EventFilter.translate("""m?.a.b != nil""")
      === "graft_at(graft_at(`m`, 'a'), 'b') IS NOT NULL")
    // nil comparisons are real tests, not SQL three-valued `= NULL`
    assert(EventFilter.translate("""props == nil""") === "`props` IS NULL")
    assert(EventFilter.translate("""nil != props""") === "`props` IS NOT NULL")
    assert(EventFilter.translate("""nil == nil""") === "true")
    intercept[IllegalArgumentException](EventFilter.translate("""m?.5"""))
    assert(EventFilter.translate("""-a ?? b""") === "(- coalesce(`a`, `b`))")
    assert(EventFilter.translate("""a > 1 ? b == 2 : c != 3""")
      === "IF(`a` > 1, `b` = 2, `c` <> 3)")
    assert(EventFilter.translate("""(props ?? "") endsWith "}"""")
      === "endswith((coalesce(`props`, '')), '}')")
  }

  test("filter schema-introspection env folds to compile-time literals") {
    import graft.filter.EventFilter
    // scalar leaves keep native types
    assert(EventFilter.translate("valueSchema.name")
      === "'graft.public.events.Envelope'")
    assert(EventFilter.translate("valueSchema.type") === "'struct'")
    assert(EventFilter.translate("keySchema.name") === "'graft.public.events.Key'")
    assert(EventFilter.translate("keySchema.optional") === "false")
    // dotted navigation through arrays by numeric component
    assert(EventFilter.translate("keySchema.fields.0.schema.type") === "'int64'")
    // arrays/objects inline as literals the runtime indexing walks
    val fields = EventFilter.translate("valueSchema.fields")
    assert(fields.startsWith("array(map("))
    assert(fields.contains("'field', 'op'"))
    // off-descriptor path fails loudly with the valid keys
    val e = intercept[IllegalArgumentException] {
      EventFilter.translate("valueSchema.nope")
    }
    assert(e.getMessage.contains("have:") && e.getMessage.contains("fields"))
    // end to end: schema conjuncts fold away, payload predicate remains
    val wal = graft.cdc.Cdc.walEvents(spark, sf001)
    val kept = EventFilter(
      """keySchema.fields[0]["name"] == "event_id" && value.user_id >= 0""")
      .apply(wal)
    assert(kept.count() === wal.count())
    val none = EventFilter("""valueSchema.name == "wrong"""").apply(wal)
    assert(none.count() === 0)
  }

  test("event filter builtin functions translate to Catalyst twins") {
    assert(EventFilter.translate("""len(props) > 10""") === "graft_len(`props`) > 10")
    assert(EventFilter.translate("""upper(op) == "C"""") === "upper(`op`) = 'C'")
    assert(EventFilter.translate("""min(a, 5) < max(b, 2, 3)""")
      === "least(`a`, 5) < greatest(`b`, 2, 3)")
    assert(EventFilter.translate("""indexOf(props, "k") == 2""")
      === "(instr(`props`, 'k') - 1) = 2")
    assert(EventFilter.translate("""hasPrefix(op, "c")""") === "startswith(`op`, 'c')")
    assert(EventFilter.translate("""trim(op, "x") == trim(s)""")
      === "trim(BOTH 'x' FROM `op`) = trim(`s`)")
    assert(EventFilter.translate("""trimPrefix(op, "ab") == "c""""
      ) === "IF(startswith(`op`, 'ab'), substring(`op`, length('ab') + 1), `op`) = 'c'")
    assert(EventFilter.translate("""abs(v) + ceil(w) * floor(x) >= round(y)""")
      === "(abs(`v`) + (ceiling(`w`) * floor(`x`))) >= round(`y`)")
    assert(EventFilter.translate("""int(v) == 2 && float(w) > 1.5 && string(x) != """""
      ) === "((CAST(`v` AS BIGINT) = 2 AND CAST(`w` AS DOUBLE) > 1.5) AND CAST(`x` AS STRING) <> '')")
    assert(EventFilter.translate("""replace(op, "a", "b") == repeat("x", 2)""")
      === "replace(`op`, 'a', 'b') = repeat('x', 2)")
    // array literal as a value
    assert(EventFilter.translate("""len(["a", "b"]) == 2""") === "graft_len(array('a', 'b')) = 2")
    // nested calls inside other productions
    assert(EventFilter.translate("""upper(op ?? "x") in ["A", "B"]""")
      === "upper(coalesce(`op`, 'x')) IN ('A', 'B')")
    // split: literal separator regex-quoted for Spark's regex split
    assert(EventFilter.translate("""len(split(s, ".")) == 3""")
      === """graft_len(split(`s`, '\\Q.\\E')) = 3""")
    intercept[IllegalArgumentException] {
      EventFilter.translate("""split(s, sep) in ["a"]""") // non-literal separator
    }
    // unknown functions stay fail-loud (now() graduated to the subset
    // in wave 2 — bitSize is still outside it)
    intercept[IllegalArgumentException] { EventFilter.translate("""bitSize(a) > 1""") }
    intercept[IllegalArgumentException] { EventFilter.translate("""len(a, b) > 1""") }
  }

  test("event filter rejects non-RE2 regex in literal matches patterns") {
    // Go RE2 (expr-lang) lacks these; Java rlike would silently accept
    intercept[IllegalArgumentException] { EventFilter.translate("""p matches "(a)\\1"""") }
    intercept[IllegalArgumentException] { EventFilter.translate("""p matches "(?=x)a"""") }
    intercept[IllegalArgumentException] { EventFilter.translate("""p matches "(?<=x)a"""") }
    intercept[IllegalArgumentException] { EventFilter.translate("""p matches "(?>ab)c"""") }
    intercept[IllegalArgumentException] { EventFilter.translate("""p matches "a*+b"""") }
    // RE2-legal forms pass: escaped plus then quantifier, named groups,
    // non-capturing groups, \0 (not a backreference)
    assert(EventFilter.translate("""p matches "a\\+?b"""") === """rlike(`p`, 'a\\+?b')""")
    assert(EventFilter.translate("""p matches "(?:ab)c"""") === "rlike(`p`, '(?:ab)c')")
    // inside a character class, quantifier chars are literals — RE2-legal
    assert(EventFilter.translate("""p matches "[*+]"""") === "rlike(`p`, '[*+]')")
    assert(EventFilter.translate("""p matches "[a?+](?:x)"""") === "rlike(`p`, '[a?+](?:x)')")
    // malformed numeric literals fail at parse time (ADVICE)
    intercept[IllegalArgumentException] { EventFilter.translate("""v == 1.2.3""") }
    intercept[IllegalArgumentException] { EventFilter.translate("""v == 1e""") }
    assert(EventFilter.translate("""v == 1.5e3""") === "`v` = 1.5e3")
  }

  test("len() is polymorphic on data: strings AND arrays (expr-lang dispatch)") {
    val df = Seq(("abc", Seq(1L, 2L)), ("abcdef", Seq(3L)))
      .toDF("s", "arr").withColumn("table_name", lit("t"))
    val byStr = EventFilter("""len(s) == 3""").apply(df)
    assert(byStr.select("s").collect().map(_.getString(0)).toSeq === Seq("abc"))
    val byArr = EventFilter("""len(arr) == 2""").apply(df)
    assert(byArr.select("s").collect().map(_.getString(0)).toSeq === Seq("abc"))
    // unsupported input types fail at analysis with the expression's message
    val err = intercept[Exception] {
      EventFilter("""len(n) > 0""").apply(
        Seq(1L).toDF("n").withColumn("table_name", lit("t"))).collect()
    }
    assert(err.getMessage.contains("len requires"))
    // word-count filter: split + polymorphic len compose; the dot
    // separator splits literally, not as regex-any-char
    val docs2 = Seq("a b c", "a b", "a.b.c").toDF("s").withColumn("table_name", lit("t"))
    assert(EventFilter("""len(split(s, " ")) == 3""").apply(docs2)
      .select("s").collect().map(_.getString(0)).toSeq === Seq("a b c"))
    assert(EventFilter("""len(split(s, ".")) == 3""").apply(docs2)
      .select("s").collect().map(_.getString(0)).toSeq === Seq("a.b.c"))
  }

  test("event filter evaluates ternary/string ops on data") {
    val wal = graft.cdc.Cdc.walEvents(spark, sf001)
    val f = EventFilter("""(user_id > 50 ? op == "c" : op != "c") && props contains "k"""")
    val out = f.apply(wal).select("user_id", "op").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (uid, op) = (r.getLong(0), r.getString(1))
      assert(if (uid > 50) op == "c" else op != "c")
    }
  }

  test("event filter closures translate to Catalyst higher-order functions") {
    assert(EventFilter.translate("""any(value.toks, {hasPrefix(#, "b")})""")
      === """exists(`toks`, x0_ -> startswith(x0_, 'b'))""")
    assert(EventFilter.translate("""all(xs, # > 3)""")
      === """forall(`xs`, x0_ -> x0_ > 3)""")
    assert(EventFilter.translate("""none(xs, {# == "z"})""")
      === """(NOT exists(`xs`, x0_ -> x0_ = 'z'))""")
    assert(EventFilter.translate("""one(xs, {.size > 2})""")
      === """(size(filter(`xs`, x0_ -> x0_.`size` > 2)) = 1)""")
    assert(EventFilter.translate("""count(map(xs, {len(#)}), {# >= 7}) > 5""")
      === """size(filter(transform(`xs`, x0_ -> graft_len(x0_)), x1_ -> x1_ >= 7)) > 5""")
    // placeholder outside a closure fails loudly
    intercept[IllegalArgumentException](EventFilter.translate("""# > 3"""))
    // malformed placeholders fail at parse, not at Spark analysis
    intercept[IllegalArgumentException](EventFilter.translate("""any(xs, {#x > 0})"""))
    intercept[IllegalArgumentException](EventFilter.translate("""any(xs, {#. > 0})"""))
    // '#.a..b' is a RANGE (#.a .. b) since wave 3, not a malformed path
    assert(EventFilter.translate("""any(xs, {1 in #.a..b})""").contains("sequence"))
    // a dangling range still fails at parse
    intercept[IllegalArgumentException](EventFilter.translate("""any(xs, {#.a..})"""))
  }

  test("event filter wave 2: slices, indexing, map literals, in-over-collections, now/duration/date/type") {
    // translation shapes
    assert(EventFilter.translate("""value.name[1:3]""") === "graft_slice(`name`, 1, 3)")
    assert(EventFilter.translate("""name[:2]""") === "graft_slice(`name`, 0, 2)")
    assert(EventFilter.translate("""name[2:]""")
      === "graft_slice(`name`, 2, graft_len(`name`))")
    assert(EventFilter.translate("""tags[0]""") === "graft_at(`tags`, 0)")
    assert(EventFilter.translate("""op in {c: 1, "u": 2}""")
      === "graft_in(`op`, map('c', 1, 'u', 2))")
    assert(EventFilter.translate(""""x" in tags""") === "graft_in('x', `tags`)")
    assert(EventFilter.translate("""op not in {c: 1}""")
      === "(NOT graft_in(`op`, map('c', 1)))")
    assert(EventFilter.translate("""now()""") === "current_timestamp()")
    assert(EventFilter.translate("""duration("1h30m")""")
      === "make_dt_interval(0, 0, 0, 5400.0)")
    assert(EventFilter.translate("""duration("250ms")""")
      === "make_dt_interval(0, 0, 0, 0.25)")
    // fail-loud: malformed durations, non-literal durations
    intercept[IllegalArgumentException](EventFilter.translate("""duration("1x")"""))
    intercept[IllegalArgumentException](EventFilter.translate("""duration(name)"""))
    // evaluation on data
    graft.GraftExtensions.registerTo(spark)
    val df = Seq(("hello", Seq("a", "b", "c"), 5L)).toDF("name", "tags", "n")
    def ev(cond: String) = df.select(expr(EventFilter.translate(cond))).head
    assert(ev("""name[1:3]""").getString(0) === "el")
    assert(ev("""name[0]""").getString(0) === "h")
    assert(ev("""tags[1]""").getString(0) === "b")
    assert(ev("""tags[1:]""").getSeq[String](0) === Seq("b", "c"))
    // negative indices count from the end (python/expr-lang), literal or
    // computed; out-of-range is nil, not '' or a wrapped position
    assert(ev("""name[-1]""").getString(0) === "o")
    assert(ev("""tags[-1]""").getString(0) === "c")
    assert(ev("""name[len(name) - 6]""").getString(0) === "o") // computed -1: from-end
    assert(ev("""name[0 - 99]""").isNullAt(0))                 // past-the-start: nil
    assert(ev("""name[99]""").isNullAt(0))
    assert(ev("""name[1:-1]""").getString(0) === "ell")
    assert(ev("""name[-3:]""").getString(0) === "llo")
    assert(ev("""tags[-2:-1]""").getSeq[String](0) === Seq("b"))
    assert(ev("""name in {hello: 1, other: 2}""").getBoolean(0))
    assert(ev(""""b" in tags""").getBoolean(0))
    assert(!ev(""""q" in tags""").getBoolean(0))
    assert(ev("""type(n)""").getString(0) === "int")
    assert(ev("""type(name)""").getString(0) === "string")
    assert(ev("""type(tags)""").getString(0) === "array")
    assert(ev("""type(name[5:9])""").getString(0) === "string") // empty slice, not nil
    assert(ev("""duration("2h") > duration("90m")""").getBoolean(0))
    assert(ev("""now() > date("2020-01-01")""").getBoolean(0))
    // batch-2 array/map builtins
    assert(EventFilter.translate("""join(tags, "-")""") === "array_join(`tags`, '-')")
    assert(EventFilter.translate("""keys(m)""") === "map_keys(`m`)")
    assert(ev("""join(tags, "-")""").getString(0) === "a-b-c")
    assert(ev("""reverse(name)""").getString(0) === "olleh")
    assert(ev("""sort(tags)[0]""").getString(0) === "a")
    assert(ev("""first(tags)""").getString(0) === "a")
    assert(ev("""last(tags)""").getString(0) === "c")
    assert(ev("""join(values({x: "p", y: "q"}), "")""").getString(0) === "pq")
  }

  test("event filter wave 3: ranges, let bindings, find/findIndex/take/sum/reduce") {
    // translation shapes
    assert(EventFilter.translate("""x in 1..3""").contains("sequence(CAST(1 AS BIGINT), CAST(3 AS BIGINT))"))
    assert(EventFilter.translate("""let a = 5; n > a""") === "`n` > (5)")
    assert(EventFilter.translate("""take(tags, 2)""") === "graft_slice(`tags`, 0, 2)")
    // fail-loud: dotted access on a binding, #acc outside reduce,
    // malformed let, dangling range number "1..", unknown builtin stays
    intercept[IllegalArgumentException](EventFilter.translate("""let m = {a: 1}; m.a > 0"""))
    intercept[IllegalArgumentException](EventFilter.translate("""sum(ns, #acc)"""))
    intercept[IllegalArgumentException](EventFilter.translate("""let 3 = x; true"""))
    intercept[IllegalArgumentException](EventFilter.translate("""snakeCase(name)"""))
    // evaluation on data
    graft.GraftExtensions.registerTo(spark)
    val df = Seq(("hello", Seq("a", "bb", "ccc"), Seq(10L, 20L, 30L), 5L))
      .toDF("name", "tags", "ns", "n")
    def ev(cond: String) = df.select(expr(EventFilter.translate(cond))).head
    assert(ev("""3 in 1..5""").getBoolean(0))
    assert(!ev("""9 in 1..5""").getBoolean(0))
    assert(ev("""n in 1..10""").getBoolean(0))
    assert(ev("""5..3""").getSeq[Long](0) === Seq.empty, "descending range is empty")
    assert(ev("""1..3""").getSeq[Long](0) === Seq(1L, 2L, 3L))
    assert(ev("""all(1..4, {# > 0})""").getBoolean(0))
    assert(ev("""let lim = n * 2; let lo = lim - 9; lo""").getLong(0) === 1L)
    assert(ev("""find(tags, {len(#) == 2})""").getString(0) === "bb")
    assert(ev("""find(tags, {len(#) == 9})""").isNullAt(0), "find misses to nil")
    assert(ev("""findIndex(tags, {len(#) == 3})""").getLong(0) === 2L)
    assert(ev("""findIndex(tags, {len(#) == 9})""").getLong(0) === -1L)
    assert(ev("""take(ns, 2)""").getSeq[Long](0) === Seq(10L, 20L))
    assert(ev("""take(ns, 99)""").getSeq[Long](0) === Seq(10L, 20L, 30L))
    assert(ev("""sum(ns)""").getLong(0) === 60L)
    assert(ev("""sum(take(ns, 0))""").getLong(0) === 0L, "empty sum is 0")
    assert(ev("""reduce(ns, #acc + #, int(0))""").getLong(0) === 60L)
    assert(ev("""reduce(tags, #acc + len(#), int(0))""").getLong(0) === 6L)
    assert(ev("""reduce(ns, #acc > # ? #acc : #, int(-1))""").getLong(0) === 30L)
    // composition: let + sum + range membership in one predicate
    assert(ev("""let total = sum(ns); total == 60 && total / n in 10..12""").getBoolean(0))
    // identifier-valued range endpoints lex as a range, not a dotted path
    assert(ev("""let lo = 1; let hi = 9; n in lo..hi""").getBoolean(0))
    assert(ev("""n in n..n""").getBoolean(0))
    // a nil element poisons sum to nil — never silently 0
    assert(ev("""sum(map(ns, # == 20 ? nil : #))""").isNullAt(0))
    // reserved words cannot be shadowed by let
    intercept[IllegalArgumentException](EventFilter.translate("""let nil = 5; n == nil"""))
    intercept[IllegalArgumentException](EventFilter.translate("""let in = 5; true"""))
  }

  test("event filter wave 4: end-scans, sortBy, array algebra, stats, base64") {
    graft.GraftExtensions.registerTo(spark)
    val df = Seq(("hello", Seq("a", "bb", "ccc", "dd"), Seq(30L, 10L, 20L), 5L))
      .toDF("name", "tags", "ns", "n")
    def ev(cond: String) = df.select(expr(EventFilter.translate(cond))).head
    // findLast / findLastIndex scan from the end; misses → nil / -1
    assert(ev("""findLast(tags, {len(#) == 2})""").getString(0) === "dd")
    assert(ev("""findLast(tags, {len(#) == 9})""").isNullAt(0))
    assert(ev("""findLastIndex(tags, {len(#) == 2})""").getLong(0) === 3L)
    assert(ev("""findLastIndex(tags, {len(#) == 9})""").getLong(0) === -1L)
    // sortBy is STABLE ascending by the key closure: equal-length tags
    // keep their input order
    assert(ev("""sortBy(tags, len(#))""").getSeq[String](0)
      === Seq("a", "bb", "dd", "ccc"))
    assert(ev("""sortBy(ns, -#)""").getSeq[Long](0) === Seq(30L, 20L, 10L))
    // array algebra
    assert(ev("""takeLast(ns, 2)""").getSeq[Long](0) === Seq(10L, 20L))
    assert(ev("""takeLast(ns, 99)""").getSeq[Long](0) === Seq(30L, 10L, 20L))
    assert(ev("""flatten([[1, 2], [3]])""").getSeq[Long](0) === Seq(1L, 2L, 3L))
    assert(ev("""uniq(["b", "a", "b"])""").getSeq[String](0) === Seq("b", "a"))
    assert(ev("""concat(take(ns, 1), takeLast(ns, 1))""").getSeq[Long](0)
      === Seq(30L, 20L))
    assert(ev("""get(tags, 1)""").getString(0) === "bb")
    assert(ev("""get(tags, 99)""").isNullAt(0), "get misses to nil")
    // mean/median are floats; median of an even count averages middles
    assert(ev("""mean(ns)""").getDouble(0) === 20.0)
    assert(ev("""median(ns)""").getDouble(0) === 20.0)
    assert(ev("""median([4, 1, 3, 2])""").getDouble(0) === 2.5)
    assert(ev("""mean(take(ns, 0))""").isNullAt(0), "empty mean is nil")
    // base64 round-trip
    assert(ev("""toBase64("spark")""").getString(0) === "c3Bhcms=")
    assert(ev("""fromBase64(toBase64(name))""").getString(0) === "hello")
    // groupBy: map from key to the elements producing it, keys in
    // first-occurrence order; composes with keys/get/len
    assert(ev("""keys(groupBy(tags, len(#)))""").getSeq[Int](0) === Seq(1, 2, 3))
    assert(ev("""get(groupBy(tags, len(#)), 2)""").getSeq[String](0) === Seq("bb", "dd"))
    assert(ev("""len(get(groupBy(ns, # > 15 ? "hi" : "lo"), "hi"))""").getInt(0) === 2)
    assert(ev("""get(groupBy(tags, len(#)), 9)""").isNullAt(0), "absent key → nil")
    // a nil-yielding key closure nil-propagates the whole map (Spark
    // maps reject null keys — must not abort the job with NULL_MAP_KEY)
    assert(ev("""groupBy(tags, len(#) == 2 ? "two" : nil)""").isNullAt(0),
      "nil key → nil result, not a runtime abort")
    assert(ev("""keys(groupBy(tags, len(#) > 0 ? "t" : nil))""")
      .getSeq[String](0) === Seq("t"), "all-non-nil keys unaffected")
    // still-unknown builtins stay fail-loud
    intercept[IllegalArgumentException](EventFilter.translate("""camelCase(name)"""))
  }

  test("event filter wave 5: bit builtins and lastIndexOf") {
    graft.GraftExtensions.registerTo(spark)
    val df = Seq(("abcabc", 12L)).toDF("name", "n")
    def ev(cond: String) = df.select(expr(EventFilter.translate(cond))).head
    assert(ev("""bitand(n, 7)""").getLong(0) === 4L)
    assert(ev("""bitor(n, 1)""").getLong(0) === 13L)
    assert(ev("""bitxor(n, 5)""").getLong(0) === 9L)
    assert(ev("""bitnot(n)""").getLong(0) === -13L)
    assert(ev("""bitshl(n, 2)""").getLong(0) === 48L)
    assert(ev("""bitshr(n, 2)""").getLong(0) === 3L)
    assert(ev("""bitushr(bitshl(n, 1), 1)""").getLong(0) === 12L)
    // 64-bit semantics on INT literals too: a 32-bit Java shift would
    // wrap the distance mod 32 and yield 2 here
    assert(ev("""bitshl(1, 33)""").getLong(0) === 8589934592L)
    // lastIndexOf: 0-based like indexOf, -1 when absent, null-propagating
    assert(ev("""lastIndexOf(name, "bc")""").getInt(0) === 4)
    assert(ev("""lastIndexOf(name, "abc")""").getInt(0) === 3)
    assert(ev("""lastIndexOf(name, "zz")""").getInt(0) === -1)
    assert(ev("""lastIndexOf(name, "abcabc")""").getInt(0) === 0)
    // agreement with indexOf on a unique substring
    assert(ev("""lastIndexOf(name, "ca") == indexOf(name, "ca")""").getBoolean(0))
  }

  test("event filter closures evaluate on array data") {
    val docs = Seq(
      (1L, Seq("alpha", "bravo", "charlie")),
      (2L, Seq("x", "y")),
      (3L, Seq("bat", "zzz"))).toDF("doc_id", "toks")
      .withColumn("table_name", lit("t"))
    val keep = EventFilter("""any(toks, {hasPrefix(#, "b")}) && none(toks, {# == "zzz"})""")
      .apply(docs).select("doc_id").as[Long].collect().sorted
    assert(keep.toSeq === Seq(1L))
    val counted = EventFilter("""count(map(toks, {len(#)}), {# >= 5}) == 3""")
      .apply(docs).select("doc_id").as[Long].collect()
    assert(counted.toSeq === Seq(1L))
  }

  test("repetition metrics match hand computation (Gopher filters)") {
    val docs = Seq(
      (1L, "a b a b a"),   // 5 tokens, 2 distinct; 2-grams: "a b"×2,"b a"×2; 3-grams: "a b a"×2,"b a b"×1
      (2L, "q"),            // single token: no 2/3-grams
      (3L, "x y z")).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(docs).orderBy("doc_id").collect()
    val r1 = m(0)
    assert((r1.getInt(1), r1.getInt(2)) === ((5, 2)))
    assert((r1.getLong(3), r1.getLong(4)) === ((2L, 4L)))   // top2, n2
    assert((r1.getLong(5), r1.getLong(6)) === ((2L, 3L)))   // top3, n3
    val r2 = m(1)
    assert((r2.getLong(3), r2.getLong(4), r2.getLong(5), r2.getLong(6)) === ((0L, 0L, 0L, 0L)))
    val r3 = m(2)
    assert((r3.getLong(3), r3.getLong(4)) === ((1L, 2L)))   // all 2-grams unique
  }

  test("PII redaction masks emails, IPs and phones; counts match") {
    val df = Seq(
      "mail bob.smith+x@corp.example.org now",
      "from 192.168.0.1 to 10.0.0.255 end",
      "call 21-555-042-1234 thanks",
      "clean text only").toDF("text")
    val out = df.select(TextAnalysis.piiRedact(col("text")).as("r")).as[String].collect()
    assert(out(0) === "mail <EMAIL> now")
    assert(out(1) === "from <IP> to <IP> end")
    assert(out(2) === "call <PHONE> thanks")
    assert(out(3) === "clean text only")
    val counts = TextAnalysis.piiCounts(col("text"))
      .foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
      .agg(sum("n_email"), sum("n_ip"), sum("n_phone")).head
    assert((counts.getLong(0), counts.getLong(1), counts.getLong(2)) === ((1L, 2L, 1L)))
  }

  test("contamination counts benchmark n-gram collisions per doc") {
    val bench  = Seq((100L, "one two three four five six")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "zero one two three four five end"), // shares "one two three four five"
      (2L, "totally different words here indeed ok")).toDF("doc_id", "text")
    val out = TextAnalysis.contamination(corpus, bench, n = 5)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 3L && out(0).getLong(2) === 1L)
    assert(out(1).getLong(1) === 2L && out(1).getLong(2) === 0L)
  }

  test("ngrams_join kernel equals the interpreted HOF formulation (codegen + eval)") {
    val docs = Tables.documents(spark, sf001).limit(100)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    for (n <- Seq(2, 3, 5)) {
      val hof = expr(
        s"transform(sequence(1, size(t) - ${n - 1}), i -> concat_ws(' ', ${(0 until n).map(k => s"element_at(t, i + $k)").mkString(", ")}))")
      val diff = docs.filter(size(col("t")) >= n).select(col("doc_id"),
        graft.functions.TextFunctions.ngrams_join(col("t"), n).as("kernel"), hof.as("ref"))
        .filter(col("kernel") =!= col("ref"))
      assert(diff.count() === 0, s"n=$n kernel/HOF divergence")
    }
    // interpreted path (eval without codegen) on edge inputs
    val edge = Seq(Seq("a"), Seq("a", "b"), Seq.empty[String]).toDF("t")
    val rows = edge.select(graft.functions.TextFunctions.ngrams_join(col("t"), 2).as("g"))
      .collect().map(_.getSeq[String](0).toList)
    assert(rows.toList === List(Nil, List("a b"), Nil))
  }

  test("chunking covers every token with the configured overlap") {
    val docs = Seq((1L, (1 to 75).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val ch = TextAnalysis.chunk(docs, width = 32, overlap = 8).orderBy("chunk_no").collect()
    assert(ch.length === 3) // starts 1, 25, 49
    assert(ch.map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L))
    assert(ch.map(_.getInt(2)).toSeq === Seq(32, 32, 27))
    val t0 = ch(0).getString(3).split(' ')
    val t1 = ch(1).getString(3).split(' ')
    val t2 = ch(2).getString(3).split(' ')
    // consecutive chunks share exactly `overlap` tokens
    assert(t0.takeRight(8).toSeq === t1.take(8).toSeq)
    // stitched back together the chunks reproduce the document
    assert((t0 ++ t1.drop(8) ++ t2.drop(8)).toSeq === (1 to 75).map(i => s"w$i"))
  }

  test("incremental prune drops batch docs near-dup of history, keeps batch-internal dups") {
    val history = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon eta"),  // near-dup of history doc 1
      (11L, "one two three four five six"),          // novel
      (12L, "one two three four five six")           // dup of 11 — batch-internal, KEPT
    ).toDF("doc_id", "text")
    val kept = graft.ops.Dedup.incrementalPrune(batch, history)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(11L, 12L))
    // df-cap: with every shingle above the cap pruned as boilerplate,
    // no candidate pairs survive and the whole batch is kept (dfCap = 1:
    // the near-dup's shared shingles have df 2; <= 0 now means UNBOUNDED)
    val keptCapped = graft.ops.Dedup.incrementalPrune(batch, history, dfCap = 1)
      .select("doc_id").as[Long].collect().sorted
    assert(keptCapped.toSeq === Seq(10L, 11L, 12L))
  }

  test("chunk dedup removes repeated chunks corpus-wide, keeps unique docs byte-identical") {
    import spark.implicits._
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")  // one full chunk
    val docs = Seq(
      (1L, boiler + " " + (1 to 20).map(i => s"u$i").mkString(" ")), // first: keeps both chunks
      (2L, boiler + " " + (1 to 20).map(i => s"w$i").mkString(" ")), // boiler chunk drops
      (3L, (1 to 30).map(i => s"z$i").mkString(" "))                  // unique: untouched
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.chunkDedup(docs, chunkTokens = 20)
      .orderBy("doc_id").collect()
    assert(got(0).getAs[String]("cleaned") === docs.head().getString(1))
    assert(got(1).getAs[Long]("n_kept_chunks") === 1L &&
      got(1).getAs[String]("cleaned") === (1 to 20).map(i => s"w$i").mkString(" "))
    assert(got(2).getAs[String]("cleaned") === (1 to 30).map(i => s"z$i").mkString(" "))
    assert(got(2).getAs[Long]("n_chunks") === 2L) // 30 tokens → 20 + 10
  }

  test("LM likelihood scores in-domain text above gibberish; short docs score zero") {
    import spark.implicits._
    val reference = Seq.tabulate(50)(i => (i.toLong, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (100L, "the quick brown fox jumps"),   // in-domain bigrams
      (101L, "zzz qqq xxx vvv kkk"),          // all unseen
      (102L, "one")                            // no bigrams
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.lmLikelihoodMilli(docs, reference)
      .orderBy("doc_id").collect()
    assert(got(0).getAs[Long]("score_micro") > got(1).getAs[Long]("score_micro"),
      "in-domain text must out-score unseen-bigram text")
    assert(got(2).getAs[Long]("score_micro") === 0L &&
      got(2).getAs[Long]("n_bigrams") === 0L)
    intercept[IllegalArgumentException] {
      graft.ops.TextAnalysis.lmLikelihoodMilli(docs, reference.filter(lit(false)))
    }
  }

  test("sourceProfile: hand-computed per-source doc/token/vocab/TTR stats") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "x x y"), (2L, "a", "y z"), (3L, "b", "w")
    ).toDF("doc_id", "source", "text")
    val got = graft.ops.TextAnalysis.sourceProfile(docs)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got === Seq(
      ("a", 2L, 5L, 3L, 600000L, 2500L),
      ("b", 1L, 1L, 1L, 1000000L, 1000L)))
  }

  test("stupid backoff: hand-computed tier dispatch (tri > 0.4·bi > 0.16·uni > 0)") {
    import spark.implicits._
    // reference: N=7; uni a:2 b:2 c:1 d:1 x:1; bi 'a b':2 'b c':1
    // 'c d':1 'b x':1; tri 'a b c':1 'b c d':1 'a b x':1
    val reference = Seq((1L, "a b c d"), (2L, "a b x")).toDF("doc_id", "text")
    val docs = Seq(
      (200L, "a b c"), // trigram tier: 10⁶·1 div c₂('a b')=2 → 500000
      (201L, "z b c"), // bigram tier:  4·10⁵·c₂('b c')=1 div c₁(b)=2 → 200000
      (202L, "z z c"), // unigram tier: 16·10⁴·c₁(c)=1 div N=7 → 22857
      (203L, "z z q"), // unseen word → 0, but still a scored position
      (204L, "a b")    // no full trigram → 0 with n_trigrams 0
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.stupidBackoffMilli(docs, reference)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(200L) === ((500000L, 1L)))
    assert(got(201L) === ((200000L, 1L)))
    assert(got(202L) === ((22857L, 1L)))
    assert(got(203L) === ((0L, 1L)))
    assert(got(204L) === ((0L, 0L)))
    intercept[IllegalArgumentException] {
      graft.ops.TextAnalysis.stupidBackoffMilli(docs, reference.filter(lit(false)))
    }
  }

  test("watermarkDetect: degenerate repeats are all-or-nothing green, short docs never flag") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x x x x x"),       // all pairs identical → green count ∈ {0, 4}
      (2L, "solo"),            // < 2 tokens → 0 pairs, never watermarked
      (3L, "a b c d e f g h")  // mixed pairs: bounds only
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.watermarkDetect(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val d1 = got(1L)
    assert(d1.getAs[Long]("n_pairs") === 4L)
    val g1 = d1.getAs[Long]("n_green")
    assert(g1 === 0L || g1 === 4L,
      "identical adjacent pairs must all share one green verdict")
    val d2 = got(2L)
    assert(d2.getAs[Long]("n_pairs") === 0L && d2.getAs[Long]("n_green") === 0L)
    assert(d2.isNullAt(d2.fieldIndex("z_milli")))
    assert(!d2.getAs[Boolean]("watermarked"))
    got.values.foreach { r =>
      assert(r.getAs[Long]("n_green") <= r.getAs[Long]("n_pairs"))
      if (r.getAs[Boolean]("watermarked"))
        assert(r.getAs[Long]("z_milli") >= 4000L)
    }
    // natural text is unwatermarked: the corpus must not mass-flag
    val corpus = graft.ops.TextAnalysis.watermarkDetect(
      Tables.documents(spark, sf001))
    val flagged = corpus.filter(col("watermarked")).count()
    assert(flagged * 10 <= corpus.count(),
      "a z>=4 threshold must flag at most a sliver of natural text")
  }

  test("bleuPairs: clipping, per-order nulls below n tokens, brevity parts, lone docs absent") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d"), (1L, "a b c e"),   // one token swapped at the tail
      (2L, "x y z"), (3L, "x y"),         // candidate shorter than 3 tokens
      (4L, "a b"), (5L, "a a a"),         // the clipping signature: cand 'a'×3 vs ref 'a'×1
      (6L, "lonely even doc")             // no odd partner → absent
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.bleuPairs(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet === Set(0L, 2L, 4L))
    val p0 = got(0L)
    assert(p0.getAs[Boolean]("bp_ok")) // 4 ≥ 4
    assert(p0.getAs[Long]("p1_ppm") === 750000L)  // 3/4 unigrams survive
    assert(p0.getAs[Long]("p2_ppm") === 666666L)  // {a b, b c} of 3
    assert(p0.getAs[Long]("p3_ppm") === 500000L)  // {a b c} of 2
    assert(p0.getAs[Long]("p4_ppm") === 0L)
    val p2 = got(2L)
    assert(!p2.getAs[Boolean]("bp_ok")) // candidate 2 < reference 3
    assert(p2.getAs[Long]("p1_ppm") === 1000000L)
    assert(p2.getAs[Long]("p2_ppm") === 1000000L)
    assert(p2.isNullAt(p2.fieldIndex("p3_ppm")),
      "a 2-token candidate has no trigrams — precision must be NULL, not 0")
    assert(p2.isNullAt(p2.fieldIndex("p4_ppm")))
    val p4 = got(4L)
    // modified precision CLIPS: cand counts a×3 but the reference has
    // only one 'a' → 1/3, the Papineni fix that kills degenerate repeats
    assert(p4.getAs[Long]("p1_ppm") === 333333L)
  }

  test("boilerplate score: template prefixes score, unique docs zero, short docs are 0/0") {
    import spark.implicits._
    val shared = "nav home about contact" // 2 shared 3-grams across 5 docs
    val docs = ((1 to 5).map(i => (i.toLong, s"$shared u$i v$i w$i")) ++
      Seq((10L, "alpha beta gamma delta epsilon"), (11L, "one two")))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.boilerplateScore(docs, n = 3, minDf = 4)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // template docs: 5 distinct grams, 2 with df=5 >= 4 → 400000 ppm
    (1 to 5).foreach(i => assert(got(i.toLong) === ((5L, 2L, 400000L)), s"doc $i"))
    assert(got(10L) === ((3L, 0L, 0L)), "unique grams never count as boilerplate")
    assert(got(11L) === ((0L, 0L, 0L)), "sub-n docs stay in the report at 0/0")
  }

  test("source overlap: mirrored sources hit 1e6 ppm, disjoint pairs absent, self-join reuses the exchange") {
    import spark.implicits._
    val docs = Seq(
      ("mirror1", "a b c d e"), ("mirror2", "a b c d e"),
      ("other", "p q r s t")).toDF("source", "text")
    val got = graft.ops.TextAnalysis.sourceOverlap(docs, n = 3).collect()
    assert(got.length === 1, "zero-overlap pairs must not appear")
    val r = got.head
    assert((r.getString(0), r.getString(1)) === (("mirror1", "mirror2")))
    assert(r.getLong(4) === 3L && r.getLong(5) === 1000000L,
      "identical gram sets are a perfect-mirror pair")
    // the 100 TB join shape: both sides of the gram self-join share one
    // shuffle once tiny-data broadcasts are off
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = graft.ops.TextAnalysis.sourceOverlap(docs, n = 3)
        .queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"),
        s"self-join sides must reuse the distinct-gram exchange:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("source overlap approx: sketch inclusion-exclusion recovers planted overlaps, partition-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // three sources: x and y share exactly the first 52 of their 102
    // 3-grams (50-token shared prefix + 2 boundary grams), z is disjoint;
    // coupon-regime sketches (hundreds of grams) estimate EXACTLY
    val shared = (1 to 52).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      ("x", shared + " " + (1 to 52).map(i => s"x$i").mkString(" ")),
      ("y", shared + " " + (1 to 52).map(i => s"y$i").mkString(" ")),
      ("z", (1 to 104).map(i => s"z$i").mkString(" "))).toDF("source", "text")
    val exact = graft.ops.TextAnalysis.sourceOverlap(docs, n = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    val got = graft.ops.TextAnalysis.sourceOverlapApprox(docs, n = 3)
      .orderBy(col("source_a"), col("source_b")).collect()
    assert(got.length === 3, "approx emits every pair (zero-overlap included)")
    val byPair = got.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(5))).toMap
    // coupon regime ⇒ per-sketch estimates exact ⇒ common exact too
    assert(byPair(("x", "y"))._3 === exact(("x", "y")))
    assert(byPair(("x", "z"))._3 === 0L)
    assert(byPair(("y", "z"))._3 === 0L)
    // deterministic under repartition (fixed sketch hash)
    val again = graft.ops.TextAnalysis.sourceOverlapApprox(docs.repartition(7), n = 3)
      .orderBy(col("source_a"), col("source_b")).collect().toSeq
    assert(again === got.toSeq)
  }

  test("source divergence: identical-to-blend is 0, disjoint half is exactly 500000 ppm") {
    import spark.implicits._
    // A emits only 'x', B only 'y', equal mass → blend is 50/50 and each
    // source's TV from it is ½(|10⁶−5·10⁵| + 5·10⁵) = 500000, exactly
    val halves = Seq(("A", "x x x x"), ("B", "y y y y")).toDF("source", "text")
    val tv = graft.ops.TextAnalysis.sourceDivergence(halves).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("tv_ppm")).toMap
    assert(tv("A") === 500000L && tv("B") === 500000L)
    // one source IS the corpus → p = q tokenwise → distance 0
    val solo = Seq(("only", "a b b c c c")).toDF("source", "text")
    val r0 = graft.ops.TextAnalysis.sourceDivergence(solo).collect().head
    assert(r0.getAs[Long]("tv_ppm") === 0L)
    assert(r0.getAs[Long]("n_tokens") === 6L && r0.getAs[Long]("n_distinct") === 3L)
    // TV is a metric on distributions: always within [0, 10⁶]
    val real = graft.ops.TextAnalysis.sourceDivergence(
      Tables.documents(spark, sf001)).collect()
    real.foreach(r => assert(r.getAs[Long]("tv_ppm") >= 0L &&
      r.getAs[Long]("tv_ppm") <= 1000000L))
  }

  test("ivf balance report accounts for every vector and matches a direct recomputation") {
    val emb = Tables.embeddings(spark, sf001)
    val bal = graft.ops.Similarity.ivfBalance(emb, nLists = 16, kmeansIters = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(bal.values.map(_._1).sum === emb.count(), "every vector lands in a list")
    val shareSum = bal.values.map(_._2).sum
    assert(shareSum > 1000000L - bal.size && shareSum <= 1000000L,
      "floored shares sum to 1e6 within k ulps")
    // recompute from the same deterministic quantizer: must agree exactly
    val cents = graft.ops.Similarity.kmeansCentroids(emb, 16, iters = 2)
    val expect = graft.ops.Similarity.ivfAssignWithSim(emb, cents)
      .select(col("centroid_id"),
        floor(col("centroid_sim") * lit(1000000.0d) + lit(0.5d)).cast("long").as("m"))
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n"), sum(col("m")).as("s"), min(col("m")).as("mn"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(bal.keySet === expect.keySet)
    bal.foreach { case (id, (n, _, s, mn)) =>
      assert(expect(id) === ((n, s, mn)), s"list $id")
    }
  }

  test("approx corpus profile tracks the exact one within HLL error bounds") {
    val docs = Tables.documents(spark, sf001)
    val base = docs.select(col("source"), md5(col("text")).as("h"))
    val exact = base.groupBy("source").agg(countDistinct(col("h")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = base.groupBy("source").agg(approx_count_distinct(col("h")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (src, ex) =>
      val ap = approx(src).toDouble
      assert(math.abs(ap - ex) <= math.max(0.05 * ex, 2.0),
        s"source $src: approx $ap vs exact $ex outside 5% HLL bound")
    }
  }

  test("z-order interleave: exact Morton values, quadrant prefixes, range-partitioned layout") {
    import spark.implicits._
    import graft.ops.Compaction
    // x=3 (011), y=5 (101), 3 bits: x bits at even positions (1+4),
    // y bits at odd (2+32) → 39
    val df = Seq((3L, 5L), (0L, 0L), (7L, 7L)).toDF("x", "y")
    val z = df.select(Compaction.zOrderValue(Seq(col("x"), col("y")), bits = 3))
      .collect().map(_.getLong(0))
    assert(z.toSeq === Seq(39L, 0L, 63L))
    // quadrant property: the top bit pair of z is (x_hi, y_hi) — rows in
    // the same quadrant share a z prefix, the data-skipping invariant
    val quad = Seq((1L, 1L), (1L, 6L), (6L, 1L), (6L, 6L)).toDF("x", "y")
      .select(Compaction.zOrderValue(Seq(col("x"), col("y")), bits = 3).as("z"))
      .collect().map(r => r.getLong(0) >> 4)
    assert(quad.toSeq === Seq(0L, 2L, 1L, 3L))
    intercept[IllegalArgumentException](Compaction.zOrderValue(Seq(col("x")), 3))
    intercept[IllegalArgumentException](
      Compaction.zOrderValue(Seq(col("x"), col("y")), 32))
    // layout: one range shuffle on the z-value, helper column dropped
    val docs = Tables.documents(spark, sf001)
    val laid = Compaction.zOrderLayout(docs, Seq("n_chars", "doc_id"), bits = 10,
      numPartitions = 4)
    assert(laid.columns.sameElements(docs.columns))
    assert(laid.count() === docs.count())
    val plan = laid.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning") || plan.contains("RangePartitioning"),
      s"z-order layout must range-partition on the z-value:\n$plan")
  }

  test("hash embedding bridges text to the ANN family: near-dups score high, plan is map-only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark shuffles partition data across executors"),
      (2L, "spark shuffles partition data across machines"),   // near-dup of 1
      (3L, "violets are blue and roses are red entirely")      // unrelated
    ).toDF("doc_id", "text")
    val emb = graft.ops.TextAnalysis.hashEmbedding(docs, dim = 64)
    // composes directly with the similarity ops (vec_id + float array)
    val pairs = graft.ops.Dedup.embeddingNearDups(emb, threshold = -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) > pairs((1L, 3L)) && pairs((1L, 2L)) > pairs((2L, 3L)),
      s"near-dup docs must out-score unrelated ones: $pairs")
    assert(pairs((1L, 2L)) > 0.5, s"5-of-6 shared tokens: ${pairs((1L, 2L))}")
    // embedding generation itself never shuffles (map-only at 100 TB)
    val plan = emb.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"hashEmbedding must be shuffle-free:\n$plan")
    // identical text → identical vector, and dim must be a power of two
    val e = emb.filter(col("vec_id") <= 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(e(1L).length === 64 && e(1L).map(math.abs).sum > 0)
    intercept[IllegalArgumentException] {
      graft.ops.TextAnalysis.hashEmbedding(docs, dim = 48)
    }
    // null array elements are skipped, not NPE'd: hash_embed is a public
    // function and must be total even though split() never yields nulls
    val withNull = spark.range(1).select(
      graft.functions.TextFunctions.hash_embed(
        array(lit("a"), lit(null).cast("string"), lit("b")), 16).as("e"),
      graft.functions.TextFunctions.hash_embed(
        array(lit("a"), lit("b")), 16).as("want")).head()
    assert(withNull.getSeq[Float](0) === withNull.getSeq[Float](1))
  }

  test("vocab tokenization maps tokens by frequency rank with -1 UNK") {
    val docs = Seq((1L, "b a b c"), (2L, "b a rare")).toDF("doc_id", "text")
    val vocab = TextAnalysis.buildVocab(docs, topK = 2) // b(3)→0, a(2)→1
    assert(vocab.orderBy("id").as[(String, Int)].collect().toSeq
      === Seq(("b", 0), ("a", 1)))
    val ids = TextAnalysis.tokenizeToIds(docs, vocab).orderBy("doc_id")
      .as[(Long, String)].collect()
    assert(ids.toSeq === Seq((1L, "0,1,0,-1"), (2L, "0,1,-1")))
  }

  test("int8 quantization round-trips within half a scale step") {
    val emb = Tables.embeddings(spark, sf001).limit(50)
    val q = graft.ops.Similarity.quantizeInt8(emb)
      .join(emb, "vec_id")
      .select(col("vec_id"), col("scale"), col("q_csv"), col("embedding"))
      .collect()
    q.foreach { r =>
      val scale = r.getDouble(1)
      val codes = r.getString(2).split(',').map(_.toInt)
      val orig  = r.getSeq[Float](3)
      assert(codes.length === orig.length)
      assert(codes.forall(c => c >= -127 && c <= 127))
      codes.zip(orig).foreach { case (c, v) =>
        assert(math.abs(c * scale - v) <= scale / 2 + 1e-12,
          s"vec ${r.getLong(0)}: code $c scale $scale orig $v")
      }
    }
    // zero vector edge: scale 0, all-zero codes
    val z = graft.ops.Similarity.quantizeInt8(
      Seq((99L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding")).head
    assert(z.getDouble(1) === 0d && z.getString(2) === "0,0,0")
  }

  test("sqTopK: direction survives quantization, magnitude scales the score, zero vectors are safe") {
    import spark.implicits._
    // q's duplicate direction at 2x magnitude must outrank everything
    // (same int8 codes, double the scale); the negated copy must land
    // last (most-negative score); orthogonal ~0 sits between
    val q = Seq((0L, Array(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (0L, Array(1f, 2f, 3f, 4f)),      // self — excluded from results
      (1L, Array(2f, 4f, 6f, 8f)),      // same direction, 2x magnitude
      (2L, Array(4f, -3f, 2f, -1.5f)),  // ~orthogonal
      (3L, Array(-1f, -2f, -3f, -4f)),  // negated
      (4L, Array(0f, 0f, 0f, 0f))       // zero vector: score exactly 0
    ).toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.sqTopK(q, corpus, 4).collect()
      .map(r => r.getAs[Long]("neighbor_id") ->
        ((r.getAs[Int]("rnk"), r.getAs[Double]("score")))).toMap
    assert(!got.contains(0L), "the query itself must be excluded")
    assert(got(1L)._1 === 1, "2x same-direction copy must rank first")
    assert(got(3L)._1 === 4, "negated copy must rank last")
    assert(got(4L)._2 === 0.0, "zero vector scores exactly 0, no division error")
    // same-direction codes are identical, so the score ratio is the
    // scale ratio exactly: score(2v) = 2 * (v . v) in dequantized terms
    assert(math.abs(got(1L)._2 - 2.0 * 30.0) / 60.0 < 0.02,
      s"SQ8 score ${got(1L)._2} should approximate 2|v|^2 = 60 within code rounding")
  }

  test("resolveRedirects: branched chains resolve to terminals with exact hop counts") {
    import spark.implicits._
    // 5→4→3→0 with a side entry 9→3: terminals carry no outgoing edge
    val edges = Seq((5L, 4L), (4L, 3L), (3L, 0L), (9L, 3L))
      .toDF("src", "dst")
    val got = graft.ops.Web.resolveRedirects(edges, rounds = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      5L -> ((0L, 3L)), 4L -> ((0L, 2L)), 3L -> ((0L, 1L)), 9L -> ((0L, 2L))))
    // doubling is partitioning-invariant (pure equi-joins, no state),
    // and extra rounds past convergence change nothing (terminal fixed
    // point: terminals have no outgoing edge to jump through)
    val a = graft.ops.Web.resolveRedirects(edges.repartition(5), rounds = 4)
      .collect().map(_.toString).sorted
    val b = graft.ops.Web.resolveRedirects(edges.coalesce(1), rounds = 3)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("resolveRedirects: random acyclic forests resolve to the model transitive closure") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234) // fixed seed — deterministic run
    for (trial <- 1 to 3) {
      // each node > 0 redirects to a strictly smaller node with
      // probability 2/3 — acyclic by construction, arbitrary branching
      val edges = (1 to 59).flatMap { i =>
        if (rnd.nextInt(3) < 2) Some((i.toLong, rnd.nextInt(i).toLong)) else None
      }
      val m = edges.toMap
      def resolve(s: Long): (Long, Long) = {
        var cur = s; var hops = 0L
        while (m.contains(cur)) { cur = m(cur); hops += 1 }
        (cur, hops)
      }
      val expect = edges.map { case (s, _) => s -> resolve(s) }.toMap
      val got = graft.ops.Web.resolveRedirects(edges.toDF("src", "dst"), rounds = 6)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got === expect, s"trial $trial")
    }
  }

  test("benfordReport: planted digits count exactly, absent digits zero, expectations pinned") {
    import spark.implicits._
    // first digits: 1×3 (1, 123, 19), 9×1 (9000), zero/negative dropped
    val vals = Seq(1L, 123L, 19L, 9000L, 0L, -5L).toDF("cents")
    val got = graft.ops.Profile.benfordReport(vals, "cents").collect()
      .map(r => r.getInt(0) -> ((r.getAs[Long]("n_obs"), r.getAs[Long]("obs_ppm"),
        r.getAs[Long]("expected_ppm")))).toMap
    assert(got.keySet === (1 to 9).toSet, "all nine digits report")
    assert(got(1) === ((3L, 750000L, 301030L)))
    assert(got(9)._1 === 1L && got(9)._2 === 250000L)
    (2 to 8).foreach(d => assert(got(d)._1 === 0L && got(d)._2 === 0L))
    // the expectation table is log10(1+1/d) — pinned at both ends
    assert(got(9)._3 === 45757L)
    assert(got.values.map(_._3).sum === 1000000L,
      "rounded expectations telescope to exactly 1e6")
  }

  test("topicPurity: exhaustive over the corpus, dominant share bounded and consistent") {
    val docs = Tables.documents(spark, sf001)
    val rows = graft.ops.TextAnalysis.topicPurity(docs).collect()
    assert(rows.nonEmpty && rows.length <= 8)
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.count(),
      "every document must land in exactly one topic")
    val langs = docs.select("lang").distinct().count()
    rows.foreach { r =>
      val top = r.getAs[Long]("n_top"); val n = r.getAs[Long]("n_docs")
      val p = r.getAs[Long]("purity_ppm")
      assert(top >= 1L && top <= n)
      assert(p === top * 1000000L / n)
      // the dominant label can never fall below the uniform floor
      assert(p * langs >= 1000000L - langs,
        s"purity $p below the 1/$langs uniform floor")
    }
  }

  test("matryoshkaRecall: full-width prefix is a perfect 1e6, truncation stays bounded") {
    val emb = Tables.embeddings(spark, sf001)
    val qs = emb.filter(col("vec_id") < 5)
    // prefix = full dimension ⇒ both arms are the identical ranking
    val full = graft.ops.Similarity.matryoshkaRecall(qs, emb, k = 5, prefixDim = 64)
      .collect()
    assert(full.length === 5)
    full.foreach(r => assert(r.getAs[Long]("recall_ppm") === 1000000L,
      s"full-dim prefix must reproduce the truth exactly: $r"))
    // a real truncation loses at most everything, never goes negative,
    // and reports one row per query even at zero overlap
    val cut = graft.ops.Similarity.matryoshkaRecall(qs, emb, k = 5, prefixDim = 8)
      .collect()
    assert(cut.length === 5)
    cut.foreach { r =>
      val p = r.getAs[Long]("recall_ppm")
      assert(p >= 0L && p <= 1000000L)
      assert(r.getAs[Long]("n_hits") * 200000L === p)
    }
  }

  test("giniReport: equal masses score 0, concentration raises it, hand-computed extreme") {
    import spark.implicits._
    // four sources, one token each → perfectly equal → G = 0 on both axes
    val eq = Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "x"), (4L, "d", "x"))
      .toDF("doc_id", "source", "text")
    val g0 = graft.ops.Profile.giniReport(eq).head()
    assert(g0.getAs[Long]("gini_tokens_ppm") === 0L)
    assert(g0.getAs[Long]("gini_docs_ppm") === 0L)
    // tokens (1,1,1,97): sorted Σi·x = 1+2+3+4·97 = 394,
    // G = (788 − 5·100)/(4·100) = 0.72 exactly
    val skewed = Seq(
      (1L, "a", "x"), (2L, "b", "x"), (3L, "c", "x"),
      (4L, "d", Seq.fill(97)("x").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val g1 = graft.ops.Profile.giniReport(skewed).head()
    assert(g1.getAs[Long]("gini_tokens_ppm") === 720000L)
    assert(g1.getAs[Long]("gini_docs_ppm") === 0L, "doc counts stay equal")
    assert(g1.getAs[Long]("n_groups") === 4L)
    assert(g1.getAs[Long]("total_tokens") === 100L)
  }

  test("random projection preserves relative distances and is shuffle-free") {
    val emb  = Tables.embeddings(spark, sf001)
    val proj = graft.ops.Similarity.randomProject(emb)
    assert(proj.columns.toSeq === ("vec_id" +: (0 until 8).map(i => s"p$i")))
    assert(proj.queryExecution.executedPlan.toString.contains("Exchange") === false)
    // identical vectors project identically
    val dup = graft.ops.Similarity.randomProject(
      emb.limit(1).union(emb.limit(1))).collect()
    assert(dup(0).toSeq.tail === dup(1).toSeq.tail)
    // linearity: p(2v) = 2*p(v) for every projected dim
    val v1 = Seq((1L, Array.tabulate(64)(i => (i + 1) / 64f))).toDF("vec_id", "embedding")
    val v2 = Seq((2L, Array.tabulate(64)(i => (i + 1) / 32f))).toDF("vec_id", "embedding")
    val p1 = graft.ops.Similarity.randomProject(v1).head.toSeq.tail.map(_.asInstanceOf[Double])
    val p2 = graft.ops.Similarity.randomProject(v2).head.toSeq.tail.map(_.asInstanceOf[Double])
    p1.zip(p2).foreach { case (a, b) => assert(math.abs(b - 2 * a) < 1e-9) }
    // JL property: pairwise distances in the projected image correlate
    // with the original 64-dim distances, and more projection dims
    // preserve distances better (the near-isotropic synthetic embeddings
    // are the hard case — distances concentrate, so r is modest at k=8)
    def distCorr(outDim: Int): Double = {
      val p = graft.ops.Similarity.randomProject(emb, 64, outDim)
        .join(emb, "vec_id").limit(30).collect()
      val pairs = for {
        i <- p.indices; j <- p.indices if i < j
        a = p(i); b = p(j)
        dOrig = math.sqrt(a.getSeq[Float](outDim + 1).zip(b.getSeq[Float](outDim + 1))
          .map { case (x, y) => (x - y) * (x - y) }.sum)
        dProj = math.sqrt((1 to outDim).map(c => {
          val d = a.getDouble(c) - b.getDouble(c); d * d
        }).sum)
      } yield (dOrig.toDouble, dProj)
      val (xs, ys) = pairs.unzip
      val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
      xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
        math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum *
          ys.map(y => (y - my) * (y - my)).sum)
    }
    val (r8, r32) = (distCorr(8), distCorr(32))
    assert(r8 > 0, s"k=8 distance correlation not positive: $r8")
    assert(r32 > r8 && r32 > 0.4,
      s"k=32 should preserve distances better: r8=$r8 r32=$r32")
  }

  test("pq codes: 8 codes per vector in range, codebook vectors self-encode, corpus never shuffle-joins") {
    val emb = Tables.embeddings(spark, sf001)
    val pq = graft.ops.Similarity.pqCodes(emb) // fitted default (2 Lloyd rounds)
    val plan = pq.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"pq assignment must ride the broadcast, got:\n$plan")
    val rows = pq.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = emb.count()
    assert(rows.length === n * 8)
    assert(rows.forall { case (_, sm, code) => sm >= 0 && sm < 8 && code >= 0 && code < 16 })
    // the SEED codebook's vectors self-encode (own subvector at distance
    // 0 → own id, or a lower-id centroid with an identical subvector);
    // fitted centroids are means, so the invariant is seed-only
    val seed = graft.ops.Similarity.pqCodes(emb, pqIters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    seed.filter(_._1 < 16).foreach { case (vid, sm, code) =>
      assert(code <= vid, s"vec $vid subspace $sm encoded to higher id $code")
    }
  }

  test("pq adc search: valid rank sequences and nontrivial recall against exact inner-product top-k") {
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 10)
    val adc = graft.ops.Similarity.pqAdcTopK(queries, emb, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byQuery = adc.groupBy(_._1)
    assert(byQuery.size === 10)
    byQuery.values.foreach(rs => assert(rs.map(_._2).sorted.toSeq === (1L to 10L)))
    // exact inner-product top-10 per query (the metric ADC approximates)
    val exact = emb.as("c").crossJoin(broadcast(queries.select(
        col("vec_id").as("qid"), col("embedding").as("qe"))))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.VecFunctions.vec_dot(col("embedding"), col("qe")).as("ip"))
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("ip").desc, col("vec_id"))))
      .filter(col("rk") <= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = byQuery.map { case (q, rs) =>
      rs.map(_._3).count(exact(q).contains).toDouble / 10
    }.sum / byQuery.size
    // a 16-code×8-subspace quantizer is coarse; recall must still beat
    // random (10/500 = 2%) by an order of magnitude
    assert(recall >= 0.2, s"ADC mean recall vs exact IP top-10: $recall")
  }

  test("compaction merges a fragmented write into target-sized files without losing rows") {
    val frag = java.nio.file.Files.createTempDirectory("frag").toString
    val compacted = java.nio.file.Files.createTempDirectory("compacted").toString
    Tables.documents(spark, sf001).repartition(32).write.mode("overwrite").parquet(frag)
    def parquetFiles(d: String) =
      new java.io.File(d).listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles(frag) === 32)
    val total = graft.ops.Compaction.dataBytes(spark, frag)
    assert(total > 0)
    // target half the data per file → 2 output files
    val out = graft.ops.Compaction.compact(spark, frag, compacted,
      targetBytes = (total + 1) / 2)
    assert(parquetFiles(compacted) === 2)
    assert(out.count() === 500)
    // row set survives byte-identically (order-free content checksum)
    def checksum(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("bit_xor(xxhash64(doc_id, text, source)) AS c").head.getLong(0)
    assert(checksum(out) === checksum(Tables.documents(spark, sf001)))
  }

  test("substring-span dedup removes repeated windows keeping the first occurrence") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k"),     // shares its first 10-token window with doc 2
      (2L, "a b c d e f g h i j z"),
      (3L, "p q r s t u v w x y")).toDF("doc_id", "text")
    val got = graft.ops.Dedup.substringSpans(docs).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 11L, 11L, "a b c d e f g h i j k"),  // keeper: untouched
      (2L, 11L, 1L, "z"),                        // duplicated span removed
      (3L, 10L, 10L, "p q r s t u v w x y")))   // unique window untouched
    // short docs (< n tokens) pass through whole
    val short = graft.ops.Dedup.substringSpans(
      Seq((9L, "x y")).toDF("doc_id", "text")).head
    assert(short.getLong(2) === 2L && short.getString(3) === "x y")
    // dfCap exempts hot grams: cap 1 < occurrence count 2 → nothing removed
    val capped = graft.ops.Dedup.substringSpans(docs, dfCap = 1).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(capped.forall { case (_, total, kept, _) => kept === total })
    // a cap above every gram's frequency behaves like no cap
    val wide = graft.ops.Dedup.substringSpans(docs, dfCap = 100).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(wide === got)
  }

  test("self-span dedup trims in-document repeats and is idempotent") {
    import graft.ops.Dedup
    // doc 1 repeats its opening 4-gram verbatim at position 5; with
    // n=4 the second occurrence covers positions 5..8 → only those drop
    val docs = Seq(
      (1L, "a b c d x a b c d y"),
      (2L, "p q r s t u v w")).toDF("doc_id", "text")
    val got = Dedup.selfDedupSpans(docs, n = 4).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 10L, 6L, "a b c d x y"),
      (2L, 8L, 8L, "p q r s t u v w")))
    // idempotent: a trimmed corpus has no in-doc repeats left to trim
    val again = Dedup.selfDedupSpans(
      got.map { case (id, _, _, t) => (id, t) }.toDF("doc_id", "text"), n = 4)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(again.map(r => (r._1, r._4)) === got.map(r => (r._1, r._4)))
    // on a one-document corpus the within-doc and cross-corpus span
    // ops see the same duplicate set and must agree
    val solo = Seq((7L, "m n o p m n o p m n o p")).toDF("doc_id", "text")
    val a = Dedup.selfDedupSpans(solo, n = 4).head.getString(3)
    val b = Dedup.substringSpans(solo, n = 4, dfCap = Dedup.Unbounded).head.getString(3)
    assert(a === b && a === "m n o p")
    // overlapping repeats: "a a a a a a" with n=3 → dup starts 1,2,3
    // cover positions 1..5; position 0 alone survives
    val rep = Dedup.selfDedupSpans(Seq((1L, "a a a a a a")).toDF("doc_id", "text"), n = 3)
      .head
    assert(rep.getLong(2) === 1L && rep.getString(3) === "a")
  }

  test("canonical selection keeps exactly one best doc per duplicate cluster") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, 100L), (2L, 250L), (3L, 250L),  // cluster {1,2,3}: 2 and 3 tie on score → keep 2
      (4L, 50L),                            // singleton: keeps
      (5L, 10L), (6L, 90L)                  // cluster {5,6}: keep 6
    ).toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Dedup.canonicalKeep(docs, pairs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(got.toSeq === Seq(
      (1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
      (4L, 4L, true), (5L, 5L, false), (6L, 5L, true)))
    // exactly one keeper per cluster; filter(keep) is the pruned corpus
    val kept = Dedup.canonicalKeep(docs, pairs).filter(col("keep"))
    assert(kept.count() === 3)
    assert(kept.select("cluster_id").distinct().count() === 3)
  }

  test("per-label centroid sums: counts partition the corpus, micros match a hand fold") {
    val emb = Seq(
      (1L, Array(0.5f, -0.25f), "a"),
      (2L, Array(1.5f, 0.75f), "a"),
      (3L, Array(-1.0f, 2.0f), "b")).toDF("vec_id", "embedding", "label")
    val c = graft.ops.Similarity.centroidSumsByLabel(emb)
      .orderBy("label", "pos")
      .as[(String, Int, Long, Long)].collect().toSeq
    assert(c === Seq(
      ("a", 0, 2000000L, 2L),   // 500000 + 1500000
      ("a", 1, 500000L, 2L),    // -250000 + 750000
      ("b", 0, -1000000L, 1L),
      ("b", 1, 2000000L, 1L)))
  }

  test("curriculum mixture: weighted sources get higher keep thresholds, budget roughly hit") {
    val m = graft.ops.TextAnalysis.mixCurriculum(Tables.documents(spark, sf001))
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("threshold_ppm"),
        r.getAs[Long]("n_total"), r.getAs[Long]("n_kept"), r.getAs[Long]("kept_tokens")))
    assert(m.length === 20)
    m.foreach { case (_, thr, total, kept, _) =>
      assert(thr >= 0 && thr <= 1000000 && kept <= total)
    }
    // weight-3 sources (len-4 names) must out-sample weight-1 sources
    val thr3 = m.filter(_._1.length == 4).map(_._2).min
    val thr1 = m.filter(_._1.length == 5).map(_._2).max
    assert(thr3 > thr1, s"weighted threshold $thr3 should exceed unweighted $thr1")
    // the kept token mass lands near the 60% budget (hash-sampling
    // noise; under-run only — thresholds never over-allot)
    val totalToks = Tables.documents(spark, sf001)
      .select(graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .agg(sum(col("n"))).head.getLong(0)
    val keptToks = m.map(_._5).sum
    assert(math.abs(keptToks.toDouble / totalToks - 0.6) < 0.15,
      s"kept $keptToks of $totalToks")
  }

  test("tf-idf top-k matches a hand-computed ranking with lexicographic ties") {
    val docs = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.tfidfTopK(docs, k = 2)
      .orderBy("doc_id", "rank")
      .as[(Long, Long, String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, "x", 2L, 1L, 2000000L),   // tf=2, df=1
      (1L, 2L, "y", 1L, 2L, 500000L),
      (2L, 1L, "z", 1L, 1L, 1000000L),
      (2L, 2L, "y", 1L, 2L, 500000L)))
  }

  test("scriptProfile counts scripts and routes the dominant one (hand fixture)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello world"),                 // latin
      (2L, "这是中文文本 with two latin"),   // mixed: cjk 6 < latin? "withtwolatin" = 12 → latin
      (3L, "你好世界你好世界你好"),           // cjk
      (4L, "Привет мир"),                  // cyrillic
      (5L, "12345 67890"),                 // digits only
      (6L, "!!! ???")                      // none
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.scriptProfile(docs)
      .select("doc_id", "dominant_script").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "latin")
    assert(got(2L) === "latin") // 12 latin chars beat 6 cjk
    assert(got(3L) === "cjk")
    assert(got(4L) === "cyrillic")
    assert(got(5L) === "digit")
    assert(got(6L) === "none")
    // counts are exact
    val r3 = graft.ops.TextAnalysis.scriptProfile(docs.filter(col("doc_id") === 3))
      .head
    assert(r3.getAs[Long]("n_cjk") === 10L)
    assert(r3.getAs[Long]("n_latin") === 0L)
  }

  test("dsirScores ranks planted target-domain copies above the corpus median") {
    val docs = Tables.documents(spark, sf001)
    val target = docs.filter(col("source") === "src0")
    // orderBy pins WHICH 3 rows are planted — limit without sort is not
    // stable across separate actions
    val planted = target.orderBy(col("doc_id")).limit(3)
      .withColumn("doc_id", col("doc_id") + 500000)
    val raw = docs.filter(col("source") =!= "src0").unionByName(planted)
    val scores = graft.ops.TextAnalysis.dsirScores(raw, target)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sorted = scores.values.toSeq.sorted
    val median = sorted(sorted.size / 2)
    planted.select(col("doc_id")).collect().map(_.getLong(0)).foreach { id =>
      assert(scores(id) > median,
        s"an exact target copy ($id) must out-score the raw median")
    }
  }

  test("bm25TopK on an empty corpus returns empty (no NPE at plan build)") {
    val docs = Tables.documents(spark, sf001).filter(lit(false))
    assert(TextAnalysis.bm25TopK(docs, Seq("hash"), 5).count() === 0)
  }

  test("bm25TopK matches a direct integer recomputation over the corpus") {
    val docs = Tables.documents(spark, sf001)
    val terms = Seq("hash", "join")
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val n = rows.length.toLong
    val dls = rows.map { case (id, t) => id -> t.length.toLong }.toMap
    val av = math.max(dls.values.sum * 1000L / n, 1L)
    val tf = for {
      (id, t) <- rows.toSeq; term <- terms
      c = t.count(_ == term).toLong if c > 0
    } yield (id, term, c)
    val dfreq = tf.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val scores = tf.groupBy(_._1).map { case (id, hits) =>
      id -> hits.map { case (_, term, c) =>
        (n * 1000000L / dfreq(term)) * c * 2200L /
          (c * 1000L + 1200L * (1000L - 750L + 750L * dls(id) * 1000L / av) / 1000L)
      }.sum
    }
    val expected = scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
    val got = TextAnalysis.bm25TopK(docs, terms, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === expected)
  }

  test("hashed-feature classifier score matches an independent per-token fold") {
    val docs = Seq((1L, "alpha beta gamma alpha"), (2L, "delta")).toDF("doc_id", "text")
    val got = docs
      .select(col("doc_id"), TextAnalysis.classifierScoreMilli("text").as("s"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    def w(t: String): Long = {
      val h = graft.functions.FnvHash64.hash(t.getBytes("UTF-8"))
      val b = ((h % 1024) + 1024) % 1024
      b * 2654435761L % 2001L - 1000L
    }
    assert(got === Seq(
      (1L, Seq("alpha", "beta", "gamma", "alpha").map(w).sum),
      (2L, w("delta"))))
  }

  test("plan shapes: contamination broadcasts the benchmark; chunk/quantize/redact are shuffle-free") {
    val docs = Tables.documents(spark, sf001)
    val contam = TextAnalysis.contamination(
      docs.filter(col("source") === "src0"), docs.filter(col("source") === "src1"), n = 5)
    val cPlan = contam.queryExecution.executedPlan.toString
    assert(cPlan.contains("BroadcastHashJoin"),
      s"benchmark gram set should broadcast-join, got:\n$cPlan")
    val tokPlan = TextAnalysis.tokenizeToIds(docs, TextAnalysis.buildVocab(docs, 100))
      .queryExecution.executedPlan.toString
    assert(tokPlan.contains("BroadcastHashJoin"),
      s"vocab should broadcast-join, got:\n$tokPlan")
    // narrow per-row ops: zero shuffle Exchange anywhere in the plan
    for ((name, df) <- Seq(
        "chunk" -> TextAnalysis.chunk(docs, 32, 8),
        "quantize" -> graft.ops.Similarity.quantizeInt8(Tables.embeddings(spark, sf001)),
        "redact" -> docs.select(TextAnalysis.piiRedact(col("text"))))) {
      val plan = df.queryExecution.executedPlan.toString
      val shuffles = plan.linesIterator.filter(l => l.contains("Exchange") &&
        !l.contains("BroadcastExchange") && !l.contains("ReusedExchange")).toSeq
      assert(shuffles.isEmpty, s"$name should be shuffle-free, found: $shuffles")
    }
    // curriculum mixture: the corpus-sized side must never sort-merge or
    // shuffle-hash join — rates and totals ride broadcasts; the only
    // exchanges are the tiny per-source aggregations
    val mixPlan = TextAnalysis.mixCurriculum(docs)
      .queryExecution.executedPlan.toString
    assert(mixPlan.contains("BroadcastHashJoin") || mixPlan.contains("BroadcastNestedLoopJoin"),
      s"mixture rates should broadcast, got:\n$mixPlan")
    assert(!mixPlan.contains("SortMergeJoin") && !mixPlan.contains("ShuffledHashJoin"),
      s"mixture must not shuffle-join the corpus, got:\n$mixPlan")
  }

  test("approx percentile tracks exact within 1% (quantile scale path)") {
    val exact = Tables.orders(spark, sf001)
      .agg(expr("percentile(o_totalprice, 0.5)"), expr("percentile(o_totalprice, 0.9)"))
      .head
    val approx = Tables.orders(spark, sf001)
      .agg(expr("approx_percentile(o_totalprice, 0.5, 10000)"),
        expr("approx_percentile(o_totalprice, 0.9, 10000)"))
      .head
    for (i <- 0 to 1) {
      val (e, a) = (exact.getDouble(i), approx.getDouble(i))
      assert(math.abs(e - a) / e < 0.01, s"quantile $i: exact=$e approx=$a")
    }
  }

  test("langId is deterministic and in the candidate set") {
    val out = Tables.documents(spark, sf001)
      .select(TextAnalysis.langId("text").as("l")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(out.subsetOf(Set("en", "de", "es", "fr", "zh", "und")))
  }

  test("interval conversion uses the reference's avg-month constant") {
    // builtin_converters.go:48-49: 1 month = 30.4375 days
    val df = Seq((1, 0, 0L)).toDF("m", "d", "us")
    val v = df.select(PgConverters.intervalToMicros(col("m"), col("d"), col("us")).as("v"))
      .head.getLong(0)
    assert(v === 2629800000000L)
  }

  test("uint32 conversion maps negative int32 to the unsigned value") {
    val df = Seq(-1, 0, Int.MaxValue).toDF("x")
    val out = df.select(PgConverters.uint32ToLong(col("x")).as("v"))
      .collect().map(_.getLong(0)).toSet
    assert(out === Set(4294967295L, 0L, Int.MaxValue.toLong))
  }

  test("bits conversion pads to declared width") {
    val df = Seq(5).toDF("x")
    assert(df.select(PgConverters.bitsToString(col("x"), 8)).head.getString(0) === "00000101")
  }

  test("multimodal decode: batch plumbing produces one feature row per doc") {
    val docs = Tables.documents(spark, sf001)
    val feats = Multimodal.decodeFeatures(Multimodal.attachMedia(docs))
    assert(feats.count() === docs.count())
    val r = feats.filter(col("source_id") === 0).head
    assert(r.getAs[Int]("byte_len") > 0)
    assert(r.getAs[String]("mime") === "application/octet-stream")
    // non-image payloads report sentinel dimensions, not fake ones
    assert(r.getAs[Int]("width") === -1 && r.getAs[Int]("height") === -1)
  }

  test("multimodal decode: javax.imageio decodes real PNG dimensions (golden)") {
    val docs = Tables.documents(spark, sf001)
    val feats = Multimodal.decodeFeatures(Multimodal.attachImages(docs))
      .orderBy("source_id").limit(10).collect()
    assert(feats.nonEmpty)
    feats.foreach { r =>
      val id = r.getAs[Long]("source_id")
      val (w, h) = Multimodal.ImageCodec.dims(id)
      assert(r.getAs[Int]("width") === w, s"decoded width for doc $id")
      assert(r.getAs[Int]("height") === h, s"decoded height for doc $id")
      assert(r.getAs[String]("mime") === "image/png")
      // PNG magic survives the media column round-trip
      assert(r.getAs[Int]("byte_len") > 8)
    }
    // the decoded dims come from the actual pixel raster, not metadata
    // trust: a direct JDK decode of the synthesized bytes agrees
    val bytes = Multimodal.ImageCodec.syntheticPng(7L)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert((img.getWidth, img.getHeight) === Multimodal.ImageCodec.dims(7L))
  }

  test("multimodal resize: box-fit dims are exact, bytes re-decode to them, non-images pass through") {
    val docs = Tables.documents(spark, sf001)
    val resized = Multimodal.resizeImages(Multimodal.attachImages(docs), 16, 16)
      .orderBy("source_id").limit(10).collect()
    resized.foreach { r =>
      val id = r.getAs[Long]("source_id")
      val (w0, h0) = Multimodal.ImageCodec.dims(id)
      val scale = math.min(1.0, math.min(16.0 / w0, 16.0 / h0))
      val (ew, eh) = (math.max(1, (w0 * scale).toInt), math.max(1, (h0 * scale).toInt))
      assert(r.getAs[Int]("width") === ew && r.getAs[Int]("height") === eh,
        s"box-fit dims for doc $id (orig ${w0}x$h0)")
      assert(r.getAs[Int]("width") <= 16 && r.getAs[Int]("height") <= 16)
      // the emitted bytes are a REAL png of exactly the reported dims
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bytes")))
      assert((img.getWidth, img.getHeight) === (ew, eh))
    }
    // a tiny image is never upscaled: 8x8 source stays 8x8 in a 16x16 box
    val small = resized.find { r =>
      val (w0, h0) = Multimodal.ImageCodec.dims(r.getAs[Long]("source_id"))
      w0 <= 16 && h0 <= 16
    }
    small.foreach { r =>
      val (w0, h0) = Multimodal.ImageCodec.dims(r.getAs[Long]("source_id"))
      assert((r.getAs[Int]("width"), r.getAs[Int]("height")) === (w0, h0))
    }
    // non-image mime: untouched bytes, sentinel dims
    val passthru = Multimodal.resizeImages(Multimodal.attachMedia(docs.limit(3)), 16, 16)
      .collect()
    passthru.foreach { r =>
      assert(r.getAs[Int]("width") === -1 && r.getAs[Int]("height") === -1)
      assert(r.getAs[String]("mime") === "application/octet-stream")
    }
  }

  test("image aHash: deterministic, perturbation-tolerant, banded near-dup recovers planted twins") {
    import graft.ops.Multimodal
    val docs = Tables.documents(spark, sf001).filter(col("doc_id") < 40)
    val media = Multimodal.attachImages(docs)
    // deterministic across partitionings (pure integer pipeline)
    val h1 = Multimodal.imageHashes(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h2 = Multimodal.imageHashes(media.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 === h2)
    assert(h1.values.toSet.size > 1, "distinct images should hash apart")
    // the 1px-perturbed re-encode stays within the hamming bound and
    // the banded join recovers every planted twin exactly
    val twins = Multimodal.perturbImages(media, idOffset = 5000L)
    val pairs = Multimodal.imageNearDups(media.unionByName(twins), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val planted = pairs.filter(p => p._2 == p._1 + 5000L)
    assert(planted.length === 40, s"all twins recovered, got ${planted.length}")
    assert(planted.forall(_._3 <= 3))
    // non-image payloads fail loudly rather than hashing bytes
    intercept[Exception] {
      Multimodal.imageHashes(Multimodal.attachMedia(docs)).collect()
    }
    // hot-band cap: identical (flat-hash) images all land on one band
    // key — the cap excises them; unbounded opt-out still pairs them
    val flat = Multimodal.attachImages(docs.limit(1))
    val clones = (1 to 11).map(i =>
      Multimodal.perturbImages(flat, idOffset = 10000L * i))
      .foldLeft(flat)(_ unionByName _)
    assert(Multimodal.imageNearDups(clones, maxHamming = 3, dfCap = 10).count() === 0L)
    assert(Multimodal.imageNearDups(clones, maxHamming = 3, dfCap = 0).count() === 66L)
  }

  test("multimodal audio: javax.sound.sampled decodes real WAV header and frames (golden)") {
    val docs = Tables.documents(spark, sf001)
    val feats = Multimodal.audioFeatures(Multimodal.attachAudio(docs))
      .orderBy("source_id").limit(10).collect()
    assert(feats.nonEmpty)
    feats.foreach { r =>
      val id = r.getAs[Long]("source_id")
      assert(r.getAs[Int]("sample_rate") === 8000)
      assert(r.getAs[Int]("channels") === 1)
      assert(r.getAs[Long]("n_frames") === Multimodal.AudioCodec.frames(id).toLong,
        s"frame count for doc $id")
      // RIFF header + 2 bytes per frame actually present
      assert(r.getAs[Int]("byte_len") > Multimodal.AudioCodec.frames(id) * 2)
    }
    // independent JDK decode of the synthesized bytes agrees
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(Multimodal.AudioCodec.syntheticWav(5L)))
    assert(ais.getFrameLength === Multimodal.AudioCodec.frames(5L).toLong)
    // non-audio payloads report sentinels
    val sentinel = Multimodal.audioFeatures(Multimodal.attachMedia(docs.limit(2))).collect()
    sentinel.foreach(r => assert(r.getAs[Int]("sample_rate") === -1))
  }

  test("multimodal video: demux + per-keyframe decode, stride honored, dims golden") {
    val docs = Tables.documents(spark, sf001)
    val frames = Multimodal.videoKeyFrames(Multimodal.attachVideo(docs.limit(8)), stride = 2)
      .collect()
    assert(frames.nonEmpty)
    val byId = frames.groupBy(_.getAs[Long]("source_id"))
    byId.foreach { case (id, rows) =>
      val n = Multimodal.VideoCodec.frameCount(id)
      // kept frames are exactly 0, 2, 4, ...
      assert(rows.map(_.getAs[Int]("frame_no")).sorted.toSeq ===
        (0 until n by 2).toSeq, s"stride for source $id")
      rows.foreach { r =>
        val f = r.getAs[Int]("frame_no")
        val (w, h) = Multimodal.ImageCodec.dims(id * 131 + f)
        assert((r.getAs[Int]("width"), r.getAs[Int]("height")) === (w, h),
          s"decoded dims for source $id frame $f")
      }
    }
    // demux round-trips the container exactly
    val fs = Multimodal.VideoCodec.demux(Multimodal.VideoCodec.syntheticVideo(3L))
    assert(fs.length === Multimodal.VideoCodec.frameCount(3L))
    // non-video payloads produce no frames
    assert(Multimodal.videoKeyFrames(Multimodal.attachMedia(docs.limit(2))).count() === 0)
  }

  test("video near-dups: trimmed repacks recovered via shared keyframe hashes, strangers absent") {
    val docs = Tables.documents(spark, sf001)
    val base = Multimodal.attachVideo(docs.limit(8))
    val twins = Multimodal.perturbVideos(base, idOffset = 1000L)
    val pairs = Multimodal.videoNearDups(base.unionByName(twins),
        stride = 2, minShared = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_shared"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))
    val byPair = pairs.map(p => (p._1, p._2) -> p).toMap
    // every planted trimmed copy is found, and ONLY those pairs
    assert(pairs.map(p => (p._1, p._2)).sorted.toSeq ===
      (0L until 8L).map(id => (id, id + 1000L)).toSeq)
    (0L until 8L).foreach { id =>
      val n = Multimodal.VideoCodec.frameCount(id)
      val keyframes = (0 until n by 2).length
      val twinKeyframes = (0 until n - 1 by 2).length
      val (_, _, shared, na, nb) = byPair((id, id + 1000L))
      assert(na === keyframes.toLong && nb === twinKeyframes.toLong)
      // the trim only loses a keyframe hash when the last frame index
      // was even (stride 2): containment n_shared == n_b always
      assert(shared === nb, s"trimmed copy of $id must be contained")
    }
    // a hot hash shared by MANY videos is df-capped out of candidates
    // rather than fanning out quadratically (recall for it is given up
    // explicitly, the shingle-family posture)
    val hot = Multimodal.videoNearDups(base.unionByName(twins),
      stride = 2, minShared = 1, dfCap = 1)
    assert(hot.count() === 0L)
  }

  test("video near-dup denominators come from the CAPPED hash universe") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    // videos: 1=[p,q] 2=[p,r]; five hot carriers of q make df(q)=6
    val Seq(p, q, r) = Seq(1, 2, 3).map(i => Multimodal.ImageCodec.syntheticPng(i.toLong))
    def mk(id: Long, frames: Seq[Array[Byte]]) =
      Row(Row(Multimodal.VideoCodec.encode(frames), "video/x-graft-frames", id))
    val rows = Seq(mk(1L, Seq(p, q)), mk(2L, Seq(p, r))) ++
      (10L to 14L).map(i => mk(i, Seq(q)))
    val media = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("media", Multimodal.mediaSchema))))
    val out = Multimodal.videoNearDups(media, stride = 1, minShared = 1, dfCap = 5)
      .collect()
    // q excised (df=6 > 5): the only pair is (1,2) via p, and BOTH
    // denominators count capped hashes only — n_a=1, not the pre-cap 2
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_shared") === 1L)
    assert(out.head.getAs[Long]("n_a") === 1L,
      "denominator must exclude the capped-out hot hash")
    assert(out.head.getAs[Long]("n_b") === 2L)
  }

  test("multimodal frame sampling keeps every stride-th frame") {
    val docs = Tables.documents(spark, sf001).limit(3)
    val frames = Multimodal.sampleFrames(Multimodal.attachMedia(docs), frameBytes = 64, stride = 4)
      .collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getAs[Int]("frame_no") % 4 === 0))
  }

  test("http sink posts real bytes: per-event bodies, auth header, retry past 5xx") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import scala.jdk.CollectionConverters._
    val received   = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val failsLeft  = new java.util.concurrent.atomic.AtomicInteger(2)
    val headerSeen = new java.util.concurrent.atomic.AtomicReference[String]("")
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/ingest", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      headerSeen.set(ex.getRequestHeaders.getFirst("X-Api-Key"))
      if (failsLeft.getAndDecrement() > 0) ex.sendResponseHeaders(500, -1)
      else { received.add(body); ex.sendResponseHeaders(200, -1) }
      ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val sink = graft.sinks.Sinks.withRetry(
        graft.sinks.HttpSink(graft.sinks.HttpSinkConfig(
          s"http://127.0.0.1:$port/ingest",
          authenticationType = "header",
          headerName = "X-Api-Key", headerValue = "sekrit")))
      val df = Tables.documents(spark, sf001).limit(20)
        .select(col("doc_id"), substring(col("text"), 1, 30).as("snippet"))
      sink.emit(df, 7L)
      // at-least-once: the two injected 500s force a batch retry; the
      // receiver's set-dedupe collapses redelivery to exactly the rows
      val expected = df.toJSON.collect().toSet
      assert(received.asScala.toSet === expected)
      assert(headerSeen.get() === "sekrit")
    } finally server.stop(0)
  }

  test("redis sink speaks RESP: AUTH, per-event XADD frames, -ERR triggers retry") {
    import scala.jdk.CollectionConverters._
    val received  = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val authSeen  = new java.util.concurrent.atomic.AtomicReference[String]("")
    val failsLeft = new java.util.concurrent.atomic.AtomicInteger(1)
    val server = new java.net.ServerSocket(0, 50, java.net.InetAddress.getByName("127.0.0.1"))
    @volatile var running = true
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val s = server.accept()
          new Thread(() => {
            val in  = new java.io.DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
            val out = new java.io.BufferedOutputStream(s.getOutputStream)
            def line(): String = {
              val sb = new StringBuilder; var c = in.read()
              while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
              sb.toString
            }
            try {
              var l = line()
              while (l.nonEmpty) {
                val n = l.substring(1).toInt // *N
                val args = (0 until n).map { _ =>
                  val len = line().substring(1).toInt // $len
                  val buf = new Array[Byte](len + 2); in.readFully(buf)
                  new String(buf, 0, len, "UTF-8")
                }
                args.head match {
                  case "AUTH" => authSeen.set(args(1)); out.write("+OK\r\n".getBytes)
                  case "XADD" if failsLeft.getAndDecrement() > 0 =>
                    out.write("-ERR injected\r\n".getBytes)
                  case "XADD" =>
                    received.add(s"${args(1)}|${args(4)}|${args(6)}")
                    out.write("$3\r\n1-1\r\n".getBytes)
                  case _ => out.write("+OK\r\n".getBytes)
                }
                out.flush()
                l = line()
              }
            } catch { case _: Exception => () } finally s.close()
          }).start()
        } catch { case _: Exception => () }
      }
    })
    acceptor.start()
    try {
      import spark.implicits._
      val df = (1 to 10).map(i => (s"t$i", s"k$i", s"e$i"))
        .toDF("topic", "key", "envelope").repartition(3)
      val sink = graft.sinks.Sinks.withRetry(graft.sinks.RedisSink(
        graft.sinks.RedisSinkConfig(address = s"127.0.0.1:${server.getLocalPort}",
          password = "hunter2")))
      sink.emit(df, 3L)
      assert(authSeen.get() === "hunter2")
      assert(received.asScala.toSet ===
        (1 to 10).map(i => s"t$i|k$i|e$i").toSet)
      // null key (unwrap mode with the PK shaped away) must not NPE —
      // it rides as the empty-string field, matching NatsSink's fallback
      received.clear()
      val nullKey = Seq(("tn", null: String, "en"))
        .toDF("topic", "key", "envelope")
      sink.emit(nullKey, 4L)
      assert(received.asScala.toSet === Set("tn||en"))
    } finally { running = false; server.close() }
  }

  test("redis sink TLS: skipVerify accepts a self-signed server; plaintext dial to a TLS port fails") {
    import scala.jdk.CollectionConverters._
    // self-signed server identity, same keytool recipe as the kafka TLS test
    val ksPath = java.nio.file.Files.createTempFile("graft-redis-tls", ".p12")
    java.nio.file.Files.delete(ksPath)
    val keytool = new ProcessBuilder(
      s"${sys.props("java.home")}/bin/keytool", "-genkeypair", "-alias", "redis",
      "-keyalg", "RSA", "-keysize", "2048", "-storetype", "PKCS12",
      "-keystore", ksPath.toString, "-storepass", "changeit",
      "-dname", "CN=127.0.0.1", "-validity", "1").redirectErrorStream(true).start()
    assert(keytool.waitFor() == 0, "keytool keypair generation failed")
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val fis = new java.io.FileInputStream(ksPath.toFile)
    try ks.load(fis, "changeit".toCharArray) finally fis.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    val server = ctx.getServerSocketFactory.createServerSocket(
      0, 50, java.net.InetAddress.getByName("127.0.0.1"))
    val received = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val s = server.accept()
          new Thread(() => {
            val in  = new java.io.DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
            val out = new java.io.BufferedOutputStream(s.getOutputStream)
            def line(): String = {
              val sb = new StringBuilder; var c = in.read()
              while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
              sb.toString
            }
            try {
              var l = line()
              while (l.nonEmpty) {
                val n = l.substring(1).toInt
                val args = (0 until n).map { _ =>
                  val len = line().substring(1).toInt
                  val buf = new Array[Byte](len + 2); in.readFully(buf)
                  new String(buf, 0, len, "UTF-8")
                }
                if (args.head == "XADD") { received.add(args(1)); out.write("$3\r\n1-1\r\n".getBytes) }
                else out.write("+OK\r\n".getBytes)
                out.flush()
                l = line()
              }
            } catch { case _: Exception => () } finally s.close()
          }).start()
        } catch { case _: Exception => () }
      }
    })
    acceptor.start()
    try {
      import spark.implicits._
      val df = Seq(("tls-stream", "k1", "e1")).toDF("topic", "key", "envelope").coalesce(1)
      val addr = s"127.0.0.1:${server.getLocalPort}"
      graft.sinks.RedisSink(graft.sinks.RedisSinkConfig(address = addr,
        tls = true, tlsSkipVerify = true,
        dialTimeoutMs = 5000, readTimeoutMs = 5000)).emit(df, 1L)
      assert(received.asScala.toSet === Set("tls-stream"))
      // a PLAINTEXT dial against the TLS listener must fail, not hang:
      // the read timeout bounds the stalled handshake-garbage exchange
      // a PLAINTEXT dial against the TLS listener must fail, not succeed:
      // the server's TLS alert bytes are NOT RESP, and the client's
      // protocol-violation guard (not a permissive default) rejects them
      assertThrows[org.apache.spark.SparkException] {
        graft.sinks.RedisSink(graft.sinks.RedisSinkConfig(address = addr,
          dialTimeoutMs = 5000, readTimeoutMs = 2000)).emit(df, 2L)
      }
    } finally { running = false; server.close() }
  }

  test("redis timeouts/poolsize/clientauth config keys parse with Go-duration forms") {
    import graft.sinks.{Sinks, RedisSink}
    val r = Sinks.fromConfig(Map("sink.type" -> "redis",
      "sink.redis.tls.enabled" -> "true",
      "sink.redis.timeouts.dial" -> "250ms",
      "sink.redis.timeouts.read" -> "2s",
      "sink.redis.timeouts.write" -> "500",
      "sink.redis.timeouts.idle" -> "1m",
      "sink.redis.poolsize" -> "8")).asInstanceOf[RedisSink]
    assert(r.config.tls && r.config.dialTimeoutMs === 250L)
    assert(r.config.readTimeoutMs === 2000L && r.config.writeTimeoutMs === 500L)
    assert(r.config.idleTimeoutMs === 60000L && r.config.poolSize === 8)
    // Go time.ParseDuration forms: decimals, compound segments, micro µ/μ
    val r2 = Sinks.fromConfig(Map("sink.type" -> "redis",
      "sink.redis.timeouts.dial" -> "1.5s",
      "sink.redis.timeouts.read" -> "1m30s",
      "sink.redis.timeouts.idle" -> "1500µs")).asInstanceOf[RedisSink]
    assert(r2.config.dialTimeoutMs === 1500L)
    assert(r2.config.readTimeoutMs === 90000L && r2.config.idleTimeoutMs === 1L)
    // malformed duration names the offending key
    val bad = intercept[IllegalArgumentException] {
      Sinks.fromConfig(Map("sink.type" -> "redis",
        "sink.redis.timeouts.read" -> "fast"))
    }
    assert(bad.getMessage.contains("sink.redis.timeouts.read"))
    // client-certificate auth is native-path only: loud, never silent
    intercept[IllegalArgumentException] {
      Sinks.fromConfig(Map("sink.type" -> "redis", "sink.redis.tls.clientauth" -> "4"))
    }
    intercept[IllegalArgumentException] {
      Sinks.fromConfig(Map("sink.type" -> "http", "sink.http.url" -> "http://x",
        "sink.http.tls.clientauth" -> "4"))
    }
  }

  test("nats sink speaks the core protocol: CONNECT auth, PUB frames, PING flush, -ERR triggers retry") {
    import scala.jdk.CollectionConverters._
    val received    = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val connectSeen = new java.util.concurrent.atomic.AtomicReference[String]("")
    val errLeft     = new java.util.concurrent.atomic.AtomicInteger(1)
    val server = new java.net.ServerSocket(0, 50, java.net.InetAddress.getByName("127.0.0.1"))
    @volatile var running = true
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val s = server.accept()
          new Thread(() => {
            val in  = new java.io.DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
            val out = new java.io.BufferedOutputStream(s.getOutputStream)
            def line(): String = {
              val sb = new StringBuilder; var c = in.read()
              while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
              sb.toString
            }
            try {
              out.write("INFO {\"server_id\":\"fake\"}\r\n".getBytes); out.flush()
              var l = line()
              while (l.nonEmpty) {
                if (l.startsWith("CONNECT")) connectSeen.set(l)
                else if (l == "PING" && errLeft.getAndDecrement() > 0) {
                  out.write("-ERR 'injected'\r\n".getBytes); out.flush()
                }
                else if (l == "PING") { out.write("PONG\r\n".getBytes); out.flush() }
                else if (l.startsWith("PUB")) {
                  val parts = l.split(" ") // PUB subject nbytes
                  val buf = new Array[Byte](parts(2).toInt + 2); in.readFully(buf)
                  received.add(parts(1) + "|" + new String(buf, 0, parts(2).toInt, "UTF-8"))
                }
                l = line()
              }
            } catch { case _: Exception => () } finally s.close()
          }).start()
        } catch { case _: Exception => () }
      }
    })
    acceptor.start()
    try {
      import spark.implicits._
      val df = (1 to 8).map(i => (s"subj$i", s"env$i")).toDF("topic", "envelope")
        .repartition(2)
      val sink = graft.sinks.Sinks.withRetry(graft.sinks.NatsSink(graft.sinks.NatsSinkConfig(
        address = s"nats://127.0.0.1:${server.getLocalPort}",
        username = "alice", password = "s3cret", jetStream = false)))
      sink.emit(df, 9L)
      // unsupported auth modes fail loudly instead of connecting blank
      assertThrows[IllegalArgumentException] {
        graft.sinks.NatsSink(graft.sinks.NatsSinkConfig(
          address = "nats://127.0.0.1:1", authorization = "jwt")).emit(df, 10L)
      }
      assert(connectSeen.get().contains("\"user\":\"alice\"") &&
        connectSeen.get().contains("\"pass\":\"s3cret\""))
      assert(received.asScala.toSet === (1 to 8).map(i => s"subj$i|env$i").toSet)
    } finally { running = false; server.close() }
  }

  test("nats jetstream: HPUB with key header + inbox, per-message PubAck, no-ack redelivers, error ack throws") {
    import scala.jdk.CollectionConverters._
    val acked     = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val seenCount = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    val keysSeen  = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // first publish of subject "drop1" is swallowed once (no ack → client
    // times out → withRetry redelivers the batch)
    val dropLeft  = new java.util.concurrent.atomic.AtomicInteger(1)
    val server = new java.net.ServerSocket(0, 50, java.net.InetAddress.getByName("127.0.0.1"))
    @volatile var running = true
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val s = server.accept()
          new Thread(() => {
            val in  = new java.io.DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
            val out = new java.io.BufferedOutputStream(s.getOutputStream)
            var inbox = ""
            var seq = 0L
            def line(): String = {
              val sb = new StringBuilder; var c = in.read()
              while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
              sb.toString
            }
            try {
              out.write("INFO {\"server_id\":\"fake\",\"headers\":true}\r\n".getBytes); out.flush()
              var l = line()
              while (l.nonEmpty) {
                if (l == "PING") { out.write("PONG\r\n".getBytes); out.flush() }
                else if (l.startsWith("SUB ")) inbox = l.split(" ")(1)
                else if (l.startsWith("HPUB ")) {
                  // HPUB <subj> <reply> <hdrLen> <totLen>
                  val parts = l.split(" ")
                  val (subj, reply) = (parts(1), parts(2))
                  val (hdrLen, totLen) = (parts(3).toInt, parts(4).toInt)
                  val buf = new Array[Byte](totLen + 2); in.readFully(buf)
                  val hdrs = new String(buf, 0, hdrLen, "UTF-8")
                  hdrs.split("\r\n").filter(_.startsWith("key: "))
                    .foreach(h => keysSeen.add(h.drop(5)))
                  val payload = new String(buf, hdrLen, totLen - hdrLen, "UTF-8")
                  seenCount.computeIfAbsent(subj + "|" + payload,
                    _ => new java.util.concurrent.atomic.AtomicInteger(0)).incrementAndGet()
                  assert(reply === inbox, "publish must carry the subscribed inbox")
                  if (subj == "drop1" && dropLeft.getAndDecrement() > 0) {
                    // swallow: no ack — the client must time out and retry
                  } else {
                    seq += 1
                    val ack = s"""{"stream":"graft","seq":$seq}"""
                    out.write(s"MSG $inbox 1 ${ack.length}\r\n$ack\r\n".getBytes)
                    out.flush()
                    acked.add(subj + "|" + payload)
                  }
                }
                l = line()
              }
            } catch { case _: Exception => () } finally s.close()
          }).start()
        } catch { case _: Exception => () }
      }
    })
    acceptor.start()
    try {
      import spark.implicits._
      val df = Seq(("drop1", "k1", "e1"), ("ok2", "k2", "e2"), ("ok3", "k3", "e3"))
        .toDF("topic", "key", "envelope").coalesce(1)
      val sink = graft.sinks.Sinks.withRetry(graft.sinks.NatsSink(graft.sinks.NatsSinkConfig(
        address = s"nats://127.0.0.1:${server.getLocalPort}",
        username = "u", password = "p", timeoutSeconds = 1)))
      sink.emit(df, 1L)
      assert(acked.asScala.toSet === Set("drop1|e1", "ok2|e2", "ok3|e3"),
        "every message ends up broker-acked")
      assert(seenCount.get("drop1|e1").get() >= 2,
        "the unacked publish must be REDELIVERED, not silently lost")
      assert(keysSeen.asScala.toSet === Set("k1", "k2", "k3"),
        "the envelope key rides as a JetStream message header (nats.go:147-149)")
      // an explicit error PubAck must throw (fail loud, no silent loss)
      val errDf = Seq(("errsubj", "k", "e")).toDF("topic", "key", "envelope").coalesce(1)
      val errServer = new java.net.ServerSocket(0, 5, java.net.InetAddress.getByName("127.0.0.1"))
      val errThread = new Thread(() => {
        try {
          val s = errServer.accept()
          val in = new java.io.DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
          val out = new java.io.BufferedOutputStream(s.getOutputStream)
          var inbox = ""
          def line(): String = {
            val sb = new StringBuilder; var c = in.read()
            while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
            sb.toString
          }
          out.write("INFO {}\r\n".getBytes); out.flush()
          var l = line()
          while (l.nonEmpty) {
            if (l == "PING") { out.write("PONG\r\n".getBytes); out.flush() }
            else if (l.startsWith("SUB ")) inbox = l.split(" ")(1)
            else if (l.startsWith("HPUB ")) {
              val totLen = l.split(" ")(4).toInt
              val buf = new Array[Byte](totLen + 2); in.readFully(buf)
              val ack = """{"error":{"code":503,"description":"no stream"}}"""
              out.write(s"MSG $inbox 1 ${ack.length}\r\n$ack\r\n".getBytes); out.flush()
            }
            l = line()
          }
          s.close()
        } catch { case _: Exception => () }
      })
      errThread.start()
      val err = intercept[Exception] {
        graft.sinks.NatsSink(graft.sinks.NatsSinkConfig(
          address = s"nats://127.0.0.1:${errServer.getLocalPort}",
          username = "u", password = "p", timeoutSeconds = 1)).emit(errDf, 2L)
      }
      assert(err.getMessage != null && err.getMessage.contains("rejected"),
        s"error PubAck must surface, got: ${err.getMessage}")
      errServer.close()
    } finally { running = false; server.close() }
  }

  /** Server-side SigV4 check: recompute the Authorization header from the
    * received request using the known secret; true iff it matches. */
  private def sigV4Matches(ex: com.sun.net.httpserver.HttpExchange, body: Array[Byte],
      region: String, service: String, secret: String): Boolean = {
    val auth = ex.getRequestHeaders.getFirst("Authorization")
    if (auth == null) return false
    val cred = "Credential=([^,]+)".r.findFirstMatchIn(auth).map(_.group(1))
    val signed = "SignedHeaders=([^,]+)".r.findFirstMatchIn(auth).map(_.group(1))
    if (cred.isEmpty || signed.isEmpty) return false
    val akid = cred.get.split("/")(0)
    val headerSeq = signed.get.split(";").toSeq
      .map(h => h -> ex.getRequestHeaders.getFirst(h))
    val amzDate = ex.getRequestHeaders.getFirst("x-amz-date")
    val expected = graft.sinks.AwsSigV4.authorization(
      "POST", "/", "", headerSeq, body, amzDate, region, service, akid, secret)
    expected == auth
  }

  test("kinesis sink: SigV4-signed PutRecords batches; 500 and FailedRecordCount trigger retry") {
    import scala.jdk.CollectionConverters._
    val received   = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val sigBad     = new java.util.concurrent.atomic.AtomicInteger(0)
    val http500    = new java.util.concurrent.atomic.AtomicInteger(1)
    val failedRecs = new java.util.concurrent.atomic.AtomicInteger(1)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { ex =>
      val body = ex.getRequestBody.readAllBytes()
      if (!sigV4Matches(ex, body, "eu-west-1", "kinesis", "topsecret")) sigBad.incrementAndGet()
      val target = ex.getRequestHeaders.getFirst("x-amz-target")
      val resp =
        if (target == "Kinesis_20131202.DescribeStream") {
          ex.sendResponseHeaders(200, 0)
          """{"StreamDescription":{"StreamStatus":"ACTIVE"}}"""
        }
        else if (http500.getAndDecrement() > 0) { ex.sendResponseHeaders(500, 0); "" }
        else if (failedRecs.getAndDecrement() > 0) {
          ex.sendResponseHeaders(200, 0); """{"FailedRecordCount":1,"Records":[]}"""
        } else {
          """\{"Data":"([^"]+)","PartitionKey":"([^"]*)"\}""".r
            .findAllMatchIn(new String(body, "UTF-8")).foreach { m =>
              val env = new String(java.util.Base64.getDecoder.decode(m.group(1)), "UTF-8")
              received.add(s"${m.group(2)}|$env")
            }
          ex.sendResponseHeaders(200, 0); """{"FailedRecordCount":0,"Records":[]}"""
        }
      ex.getResponseBody.write(resp.getBytes("UTF-8")); ex.close()
    })
    server.start()
    try {
      import spark.implicits._
      val df = (1 to 12).map(i => (s"topic$i", s"""{"event":$i}""".toString))
        .toDF("topic", "envelope").repartition(3)
      val sink = graft.sinks.Sinks.withRetry(graft.sinks.KinesisSink(
        graft.sinks.KinesisSinkConfig(
          streamName = Some("graft-stream"), region = Some("eu-west-1"),
          endpoint = s"http://127.0.0.1:${server.getAddress.getPort}",
          accessKeyId = "AKIDEXAMPLE", secretAccessKey = "topsecret",
          sessionToken = "sess-token-123")))
      sink.emit(df, 5L)
      assert(sigBad.get() === 0)
      assert(received.asScala.toSet ===
        (1 to 12).map(i => s"topic$i|{\"event\":$i}").toSet)
    } finally server.stop(0)
  }

  test("kinesis sink: auto-creates a missing stream (describe -> create -> wait-active -> put)") {
    import scala.jdk.CollectionConverters._
    // awskinesis.go:89-117 parity: ResourceNotFoundException triggers
    // CreateStream with the configured shard count, then polling until
    // ACTIVE, then the records flow. Sequence is asserted in order.
    val calls   = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val created = new java.util.concurrent.atomic.AtomicBoolean(false)
    val describesAfterCreate = new java.util.concurrent.atomic.AtomicInteger(0)
    val received = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { ex =>
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val target = ex.getRequestHeaders.getFirst("x-amz-target")
      calls.add(target)
      val resp = target match {
        case "Kinesis_20131202.DescribeStream" if !created.get() =>
          ex.sendResponseHeaders(400, 0)
          """{"__type":"ResourceNotFoundException","message":"Stream graft-auto under account x not found."}"""
        case "Kinesis_20131202.DescribeStream" =>
          // first poll reports CREATING, second ACTIVE — exercises the wait loop
          val status =
            if (describesAfterCreate.getAndIncrement() == 0) "CREATING" else "ACTIVE"
          ex.sendResponseHeaders(200, 0)
          s"""{"StreamDescription":{"StreamStatus":"$status"}}"""
        case "Kinesis_20131202.CreateStream" =>
          assert(body.contains("\"ShardCount\":3"), s"shard count must ride create: $body")
          assert(body.contains("\"StreamName\":\"graft-auto\""))
          created.set(true)
          ex.sendResponseHeaders(200, 0); "{}"
        case "Kinesis_20131202.PutRecords" =>
          """\{"Data":"([^"]+)","PartitionKey":"([^"]*)"\}""".r
            .findAllMatchIn(body).foreach { m =>
              received.add(new String(java.util.Base64.getDecoder.decode(m.group(1)), "UTF-8"))
            }
          ex.sendResponseHeaders(200, 0); """{"FailedRecordCount":0,"Records":[]}"""
      }
      ex.getResponseBody.write(resp.getBytes("UTF-8")); ex.close()
    })
    server.start()
    try {
      import spark.implicits._
      val df = Seq(("t", """{"e":1}""")).toDF("topic", "envelope")
      val cfg = graft.sinks.KinesisSinkConfig(
        streamName = Some("graft-auto"), region = Some("eu-west-1"),
        endpoint = s"http://127.0.0.1:${server.getAddress.getPort}",
        shardCount = Some(3L),
        accessKeyId = "AKIDEXAMPLE", secretAccessKey = "topsecret")
      graft.sinks.KinesisSink(cfg).emit(df, 1L)
      assert(received.asScala.toSet === Set("""{"e":1}"""))
      val seq = calls.asScala.toList.map(_.stripPrefix("Kinesis_20131202."))
      assert(seq.take(4) === List("DescribeStream", "CreateStream",
        "DescribeStream", "DescribeStream"), s"unexpected call order: $seq")
      assert(seq.last === "PutRecords")
      // create disabled: the same missing stream is a hard error
      created.set(false)
      val e = intercept[RuntimeException] {
        graft.sinks.KinesisSink(cfg.copy(streamCreate = false)).emit(df, 2L)
      }
      assert(e.getMessage.contains("stream.create is disabled"))
    } finally server.stop(0)
  }

  test("sqs sink: SigV4-signed SendMessageBatch with group and dedup ids; error entry triggers retry") {
    import scala.jdk.CollectionConverters._
    val received = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val sigBad   = new java.util.concurrent.atomic.AtomicInteger(0)
    val errLeft  = new java.util.concurrent.atomic.AtomicInteger(1)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { ex =>
      val body = ex.getRequestBody.readAllBytes()
      if (!sigV4Matches(ex, body, "us-east-1", "sqs", "sqs-secret")) sigBad.incrementAndGet()
      val resp =
        if (errLeft.getAndDecrement() > 0)
          "<SendMessageBatchResponse><BatchResultErrorEntry><Id>msg0</Id></BatchResultErrorEntry></SendMessageBatchResponse>"
        else {
          val params = new String(body, "UTF-8").split("&").map { kv =>
            val Array(k, v) = kv.split("=", 2)
            java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
          }.toMap
          assert(params("Action") == "SendMessageBatch" &&
            params("QueueUrl") == "https://sqs.example/q.fifo")
          var i = 1
          while (params.contains(s"SendMessageBatchRequestEntry.$i.Id")) {
            val p = s"SendMessageBatchRequestEntry.$i"
            received.add(s"${params(s"$p.MessageGroupId")}|${params(s"$p.MessageBody")}|" +
              params(s"$p.MessageDeduplicationId"))
            i += 1
          }
          "<SendMessageBatchResponse><SendMessageBatchResult/></SendMessageBatchResponse>"
        }
      ex.sendResponseHeaders(200, 0)
      ex.getResponseBody.write(resp.getBytes("UTF-8")); ex.close()
    })
    server.start()
    try {
      import spark.implicits._
      // bodies with &, =, spaces and unicode prove the form-encoding round-trip
      val df = (1 to 25).map(i => (s"t${i % 3}", s"""{"n":$i,"s":"a&b = ç"}""", s"dedup-$i"))
        .toDF("topic", "envelope", "dedup_id").repartition(2)
      val sink = graft.sinks.Sinks.withRetry(graft.sinks.SqsSink(
        graft.sinks.SqsSinkConfig(
          queueUrl = Some("https://sqs.example/q.fifo"),
          endpoint = s"http://127.0.0.1:${server.getAddress.getPort}",
          accessKeyId = "AKIDSQS", secretAccessKey = "sqs-secret")))
      sink.emit(df, 6L)
      assert(sigBad.get() === 0)
      assert(received.asScala.toSet ===
        (1 to 25).map(i => s"t${i % 3}|{\"n\":$i,\"s\":\"a&b = ç\"}|dedup-$i").toSet)
    } finally server.stop(0)
  }

  test("kafka wire sink: Produce v3 + RecordBatch v2 parsed and CRC32C-verified by a fake broker; error code triggers retry") {
    import scala.jdk.CollectionConverters._
    val received  = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val crcBad    = new java.util.concurrent.atomic.AtomicInteger(0)
    val errLeft   = new java.util.concurrent.atomic.AtomicInteger(1)
    val server = new java.net.ServerSocket(0, 50, java.net.InetAddress.getByName("127.0.0.1"))
    @volatile var running = true

    def readVarlong(in: java.io.DataInputStream): Long = {
      var z = 0L; var shift = 0; var b = 0
      do { b = in.read(); z |= (b & 0x7fL) << shift; shift += 7 } while ((b & 0x80) != 0)
      (z >>> 1) ^ -(z & 1)
    }

    val acceptor = new Thread(() => {
      while (running) {
        try {
          val s = server.accept()
          new Thread(() => {
            val in  = new java.io.DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
            val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(s.getOutputStream))
            def str(): String = { val n = in.readShort(); val b = new Array[Byte](n); in.readFully(b); new String(b, "UTF-8") }
            try {
              while (true) {
                val size = in.readInt()
                val req  = new Array[Byte](size); in.readFully(req)
                val r = new java.io.DataInputStream(new java.io.ByteArrayInputStream(req))
                def rstr(): String = { val n = r.readShort(); val b = new Array[Byte](n); r.readFully(b); new String(b, "UTF-8") }
                assert(r.readShort() == 0 && r.readShort() == 3)   // Produce v3
                val corr = r.readInt()
                rstr()                                             // clientId
                assert(r.readShort() == -1)                        // transactional_id null
                assert(r.readShort() == -1)                        // acks=all
                r.readInt()                                        // timeout
                val nTopics = r.readInt()
                val topicNames = (0 until nTopics).map { _ =>
                  val topic = rstr()
                  assert(r.readInt() == 1 && r.readInt() == 0)     // one entry, partition 0
                  val setSize = r.readInt()
                  val batch = new Array[Byte](setSize); r.readFully(batch)
                  val b = new java.io.DataInputStream(new java.io.ByteArrayInputStream(batch))
                  b.readLong()                                     // baseOffset
                  assert(b.readInt() == setSize - 12)              // batchLength
                  b.readInt()                                      // partitionLeaderEpoch
                  assert(b.read() == 2)                            // magic v2
                  val crc = b.readInt()
                  val tail = new Array[Byte](setSize - 21); b.readFully(tail)
                  val c = new java.util.zip.CRC32C(); c.update(tail)
                  if (c.getValue.toInt != crc) crcBad.incrementAndGet()
                  val t = new java.io.DataInputStream(new java.io.ByteArrayInputStream(tail))
                  t.readShort()                                    // attributes
                  val lastOffsetDelta = t.readInt()
                  t.readLong(); t.readLong(); t.readLong(); t.readShort(); t.readInt()
                  val n = t.readInt()
                  assert(lastOffsetDelta == n - 1)
                  (0 until n).foreach { _ =>
                    readVarlong(t)                                 // record length
                    t.read()                                       // attributes
                    readVarlong(t); readVarlong(t)                 // tsDelta, offsetDelta
                    val kl = readVarlong(t).toInt
                    val key = if (kl < 0) "<null>" else {
                      val k = new Array[Byte](kl); t.readFully(k); new String(k, "UTF-8")
                    }
                    val vl = readVarlong(t).toInt
                    val value = if (vl < 0) "<null>" else {        // protocol null value
                      val v = new Array[Byte](vl); t.readFully(v); new String(v, "UTF-8")
                    }
                    assert(readVarlong(t) == 0)                    // headers
                    received.add(s"$topic|$key|$value")
                  }
                  topic
                }
                val resp = new java.io.ByteArrayOutputStream()
                val d = new java.io.DataOutputStream(resp)
                d.writeInt(corr)
                d.writeInt(topicNames.length)
                val err = if (errLeft.getAndDecrement() > 0) 7 else 0  // REQUEST_TIMED_OUT once
                topicNames.foreach { t =>
                  val tb = t.getBytes("UTF-8"); d.writeShort(tb.length); d.write(tb)
                  d.writeInt(1); d.writeInt(0); d.writeShort(err)
                  d.writeLong(0L); d.writeLong(-1L)
                }
                d.writeInt(0)                                      // throttle_time_ms
                out.writeInt(resp.size()); resp.writeTo(out); out.flush()
              }
            } catch { case _: Exception => () } finally s.close()
          }).start()
        } catch { case _: Exception => () }
      }
    })
    acceptor.start()
    try {
      import spark.implicits._
      val df = ((1 to 30).map(i => (s"topic${i % 2}", s"key$i", s"""{"ev":$i}""")) :+
        (("topic0", null.asInstanceOf[String], """{"ev":0}""")) :+
        (("topic1", "tomb", null.asInstanceOf[String]))) // log-compaction tombstone
        .toDF("topic", "key", "envelope").repartition(3)
      // comma-separated bootstrap list: dial the first entry
      val sink = graft.sinks.Sinks.withRetry(graft.sinks.KafkaWireSink(
        bootstrap = s"127.0.0.1:${server.getLocalPort},unreachable.example:9092"))
      sink.emit(df, 7L)
      assert(crcBad.get() === 0)
      assert(received.asScala.toSet ===
        ((1 to 30).map(i => s"topic${i % 2}|key$i|{\"ev\":$i}").toSet
          + "topic0|<null>|{\"ev\":0}" + "topic1|tomb|<null>"))
    } finally { running = false; server.close() }
  }

  test("kafka wire sink: SASL PLAIN handshake + authenticate gate Produce; bad credentials throw") {
    import scala.jdk.CollectionConverters._
    val produced      = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val tokenSeen     = new java.util.concurrent.atomic.AtomicReference[String]("")
    val produceNoAuth = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = new java.net.ServerSocket(0, 50, java.net.InetAddress.getByName("127.0.0.1"))
    @volatile var running = true
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val s = server.accept()
          new Thread(() => {
            val in  = new java.io.DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
            val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(s.getOutputStream))
            var handshaken = false
            var authed = false
            try {
              while (true) {
                val size = in.readInt()
                val req = new Array[Byte](size); in.readFully(req)
                val r = new java.io.DataInputStream(new java.io.ByteArrayInputStream(req))
                val apiKey = r.readShort()
                val version = r.readShort()
                val corr = r.readInt()
                val cidLen = r.readShort(); r.skipBytes(cidLen)
                val resp = new java.io.ByteArrayOutputStream()
                val d = new java.io.DataOutputStream(resp)
                apiKey match {
                  case 17 => // SaslHandshake v1: mechanism string
                    val mLen = r.readShort(); val mb = new Array[Byte](mLen); r.readFully(mb)
                    val mech = new String(mb, "UTF-8")
                    handshaken = mech == "PLAIN" && version == 1
                    d.writeInt(corr)
                    d.writeShort(if (handshaken) 0 else 33)  // UNSUPPORTED_SASL_MECHANISM
                    d.writeInt(1); val pb = "PLAIN".getBytes; d.writeShort(pb.length); d.write(pb)
                  case 36 => // SaslAuthenticate v0: auth_bytes
                    val n = r.readInt(); val tb = new Array[Byte](n); r.readFully(tb)
                    val token = new String(tb, "UTF-8")
                    tokenSeen.set(token)
                    authed = handshaken && token == "\u0000sylvie\u0000sw0rdfish"
                    d.writeInt(corr)
                    if (authed) { d.writeShort(0); d.writeShort(-1); d.writeInt(0) }
                    else {
                      d.writeShort(58)                       // SASL_AUTHENTICATION_FAILED
                      val m = "bad creds".getBytes; d.writeShort(m.length); d.write(m)
                      d.writeInt(0)
                    }
                  case 0 => // Produce v3 — only legal AFTER authentication
                    if (!authed) produceNoAuth.incrementAndGet()
                    r.readShort(); r.readShort(); r.readInt() // txn id, acks, timeout
                    val nTopics = r.readInt()
                    val names = (0 until nTopics).map { _ =>
                      val tn = r.readShort(); val tb = new Array[Byte](tn); r.readFully(tb)
                      r.readInt(); r.readInt()
                      val setSize = r.readInt(); r.skipBytes(setSize)
                      produced.add(new String(tb, "UTF-8"))
                      new String(tb, "UTF-8")
                    }
                    d.writeInt(corr); d.writeInt(names.length)
                    names.foreach { t =>
                      val tb = t.getBytes; d.writeShort(tb.length); d.write(tb)
                      d.writeInt(1); d.writeInt(0); d.writeShort(0)
                      d.writeLong(0L); d.writeLong(-1L)
                    }
                    d.writeInt(0)
                }
                out.writeInt(resp.size()); out.write(resp.toByteArray); out.flush()
              }
            } catch { case _: Exception => () } finally s.close()
          }).start()
        } catch { case _: Exception => () }
      }
    })
    acceptor.start()
    try {
      import spark.implicits._
      val df = Seq(("t1", "k", "e")).toDF("topic", "key", "envelope").coalesce(1)
      graft.sinks.KafkaWireSink(
        bootstrap = s"127.0.0.1:${server.getLocalPort}",
        saslUsername = "sylvie", saslPassword = "sw0rdfish").emit(df, 1L)
      assert(produced.asScala.toSet === Set("t1"))
      assert(produceNoAuth.get() === 0,
        "Produce must never be sent before the SASL handshake completes")
      assert(tokenSeen.get() === "\u0000sylvie\u0000sw0rdfish",
        "RFC 4616 PLAIN token: NUL-separated authzid/user/password")
      val err = intercept[Exception] {     // executor failure surfaces wrapped
        graft.sinks.KafkaWireSink(
          bootstrap = s"127.0.0.1:${server.getLocalPort}",
          saslUsername = "sylvie", saslPassword = "wrong").emit(df, 2L)
      }
      val msgs = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("sasl authenticate error 58"),
        s"bad credentials must fail loudly, got: $msgs")
    } finally { running = false; server.close() }
  }

  test("kafka wire sink: TLS handshake (skipVerify) gates Produce; plaintext dial and verified-path self-signed both fail") {
    // self-signed broker identity, generated offline by the JDK's keytool
    val ksPath = java.nio.file.Files.createTempFile("graft-kafka-tls", ".p12")
    java.nio.file.Files.delete(ksPath)
    val keytool = new ProcessBuilder(
      s"${sys.props("java.home")}/bin/keytool", "-genkeypair", "-alias", "broker",
      "-keyalg", "RSA", "-keysize", "2048", "-storetype", "PKCS12",
      "-keystore", ksPath.toString, "-storepass", "changeit",
      "-dname", "CN=127.0.0.1", "-validity", "1").redirectErrorStream(true).start()
    assert(keytool.waitFor() == 0, "keytool keypair generation failed")
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val fis = new java.io.FileInputStream(ksPath.toFile)
    try ks.load(fis, "changeit".toCharArray) finally fis.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    val server = ctx.getServerSocketFactory.createServerSocket(
      0, 50, java.net.InetAddress.getByName("127.0.0.1"))
    @volatile var running = true
    val topicsSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val s = server.accept()
          new Thread(() => {
            val in  = new java.io.DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
            val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(s.getOutputStream))
            try {
              while (true) {
                val size = in.readInt()
                val req = new Array[Byte](size); in.readFully(req)
                val r = new java.io.DataInputStream(new java.io.ByteArrayInputStream(req))
                def rstr(): String = { val n = r.readShort(); val b = new Array[Byte](n); r.readFully(b); new String(b, "UTF-8") }
                assert(r.readShort() == 0 && r.readShort() == 3) // Produce v3 over TLS
                val corr = r.readInt()
                rstr(); r.readShort(); r.readShort(); r.readInt() // clientId, txn_id, acks, timeout
                val nTopics = r.readInt()
                val names = (0 until nTopics).map { _ =>
                  val t = rstr()
                  r.readInt(); r.readInt()                        // 1 entry, partition 0
                  val setSize = r.readInt(); r.skipBytes(setSize) // record set
                  topicsSeen.add(t); t
                }
                val resp = new java.io.ByteArrayOutputStream()
                val d = new java.io.DataOutputStream(resp)
                d.writeInt(corr); d.writeInt(names.length)
                names.foreach { t =>
                  val tb = t.getBytes("UTF-8"); d.writeShort(tb.length); d.write(tb)
                  d.writeInt(1); d.writeInt(0); d.writeShort(0)
                  d.writeLong(0L); d.writeLong(-1L)
                }
                d.writeInt(0)
                out.writeInt(resp.size()); resp.writeTo(out); out.flush()
              }
            } catch { case _: Exception => () } finally s.close()
          }).start()
        } catch { case _: Exception => () }
      }
    })
    acceptor.start()
    try {
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      val df = Seq(("tls-topic", "k1", """{"ev":1}"""))
        .toDF("topic", "key", "envelope").coalesce(1)
      val addr = s"127.0.0.1:${server.getLocalPort}"
      // skipVerify accepts the self-signed chain and the produce succeeds
      graft.sinks.KafkaWireSink(bootstrap = addr,
        tlsEnabled = true, tlsSkipVerify = true).emit(df, 1L)
      assert(topicsSeen.asScala.toSet === Set("tls-topic"))
      // default trust store must REJECT a self-signed broker
      assertThrows[org.apache.spark.SparkException] {
        graft.sinks.KafkaWireSink(bootstrap = addr,
          tlsEnabled = true, tlsSkipVerify = false).emit(df, 2L)
      }
      // a plaintext client against a TLS listener fails, never half-works
      assertThrows[org.apache.spark.SparkException] {
        graft.sinks.KafkaWireSink(bootstrap = addr).emit(df, 3L)
      }
    } finally {
      running = false; server.close()
      java.nio.file.Files.deleteIfExists(ksPath)
    }
  }

  test("config-driven sink dispatch builds every backend from reference property keys") {
    import graft.sinks._
    assert(Sinks.fromConfig(Map.empty) === ConsoleSink)   // stdout default
    assert(Sinks.fromConfig(Map("sink.type" -> "kafka",
      "sink.kafka.brokers" -> "b1:9092,b2:9092"))
      === KafkaWireSink(bootstrap = "b1:9092,b2:9092"))
    val nats = Sinks.fromConfig(Map("sink.type" -> "nats",
      "sink.nats.address" -> "nats://n:4222",
      "sink.nats.userinfo.username" -> "u", "sink.nats.userinfo.password" -> "pw"))
      .asInstanceOf[NatsSink]
    assert(nats.config.username === "u" && nats.config.address === "nats://n:4222")
    val redis = Sinks.fromConfig(Map("sink.type" -> "redis",
      "sink.redis.address" -> "r:6379", "sink.redis.database" -> "3",
      "sink.redis.retries.backoff.min" -> "16",
      "sink.redis.tls.skipverify" -> "true"))
      .asInstanceOf[RedisSink]
    assert(redis.config.database === 3 && redis.config.retryBackoffMinMs === 16L)
    // skipverify maps to skipverify, NOT to TLS-enable
    assert(redis.config.tlsSkipVerify && !redis.config.tls)
    // SASL PLAIN maps onto the wire client's handshake credentials
    assert(Sinks.fromConfig(Map("sink.type" -> "kafka",
      "sink.kafka.sasl.enabled" -> "true", "sink.kafka.sasl.user" -> "ku",
      "sink.kafka.sasl.password" -> "kp"))
      === KafkaWireSink(bootstrap = "localhost:9092",
        saslUsername = "ku", saslPassword = "kp"))
    // non-PLAIN mechanisms and mTLS client auth are unsupported: they fail loudly
    assertThrows[IllegalArgumentException] {
      Sinks.fromConfig(Map("sink.type" -> "kafka",
        "sink.kafka.sasl.enabled" -> "true",
        "sink.kafka.sasl.mechanism" -> "SCRAM-SHA-256"))
    }
    assertThrows[IllegalArgumentException] {
      Sinks.fromConfig(Map("sink.type" -> "kafka",
        "sink.kafka.tls.enabled" -> "true", "sink.kafka.tls.clientauth" -> "4"))
    }
    // TLS now rides the wire path (kafka.go:66-77 analog)
    assert(Sinks.fromConfig(Map("sink.type" -> "kafka",
      "sink.kafka.tls.enabled" -> "true", "sink.kafka.tls.skipverify" -> "true"))
      === KafkaWireSink(tlsEnabled = true, tlsSkipVerify = true,
        bootstrap = "localhost:9092"))
    // missing mandatory http url fails at construction, not on an executor
    assertThrows[IllegalArgumentException] {
      Sinks.fromConfig(Map("sink.type" -> "http"))
    }
    // unknown types fall through to the pluggable registry
    Sinks.register("custom-test", () => NullSink)
    assert(Sinks.fromConfig(Map("sink.type" -> "custom-test")) === NullSink)
    val kin = Sinks.fromConfig(Map("sink.type" -> "kinesis",
      "sink.kinesis.stream.name" -> "s", "sink.kinesis.aws.region" -> "eu-west-1",
      "sink.kinesis.aws.accesskeyid" -> "AK", "sink.kinesis.aws.secretaccesskey" -> "SK"))
      .asInstanceOf[KinesisSink]
    assert(kin.config.streamName === Some("s") && kin.config.region === Some("eu-west-1"))
    val sqs = Sinks.fromConfig(Map("sink.type" -> "sqs",
      "sink.sqs.queue.url" -> "https://q.fifo")).asInstanceOf[SqsSink]
    assert(sqs.config.queueUrl === Some("https://q.fifo"))
    val http = Sinks.fromConfig(Map("sink.type" -> "http",
      "sink.http.url" -> "https://e", "sink.http.authentication.type" -> "basic",
      "sink.http.authentication.basic.username" -> "u")).asInstanceOf[HttpSink]
    assert(http.config.authenticationType === "basic")
    // a missing mandatory stream name fails at the sink's first emit,
    // before any request (reference wording)
    assertThrows[IllegalArgumentException] {
      Sinks.fromConfig(Map("sink.type" -> "kinesis")).asInstanceOf[KinesisSink]
        .emit(spark.emptyDataFrame, 0L)
    }
    assertThrows[IllegalArgumentException] {
      Sinks.fromConfig(Map("sink.type" -> "pulsar"))
    }
  }

  test("sink retry backs off and eventually succeeds") {
    var calls = 0
    val flaky = new graft.sinks.Sink {
      def name = "flaky"
      def emit(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
        calls += 1; if (calls < 3) throw new RuntimeException("transient")
      }
    }
    graft.sinks.Sinks.withRetry(flaky, maxRetries = 8, baseDelayMs = 1)
      .emit(Tables.documents(spark, sf001).limit(1), 0L)
    assert(calls === 3)
  }

  test("dead-letter queue: a poison batch routes annotated to the DLQ, " +
    "healthy batches never touch it, DLQ failures propagate") {
    val dead = new graft.sinks.CollectorSink
    val poison = new graft.sinks.Sink {
      def name = "poison"
      def emit(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
        throw new RuntimeException("endpoint gone")
    }
    val docs = Tables.documents(spark, sf001).limit(3)
    graft.sinks.Sinks.withDlq(poison, dead).emit(docs, 42L)
    assert(dead.rows.length === 3, "the whole failed batch lands in the DLQ")
    assert(dead.rows.forall(_.getAs[Long]("__dlq_batch_id") === 42L))
    assert(dead.rows.forall(_.getAs[String]("__dlq_error").contains("endpoint gone")))
    // healthy primary: DLQ untouched
    val ok = new graft.sinks.CollectorSink
    val dead2 = new graft.sinks.CollectorSink
    graft.sinks.Sinks.withDlq(ok, dead2).emit(docs, 1L)
    assert(ok.rows.length === 3 && dead2.rows.isEmpty)
    // a failing DLQ must NOT be swallowed
    intercept[RuntimeException] {
      graft.sinks.Sinks.withDlq(poison, poison).emit(docs, 2L)
    }
  }

  test("topic sanitization replaces illegal chars (sanitization.go:24-52)") {
    val df = Seq("a b/c:d").toDF("t")
    assert(df.select(graft.model.Envelope.sanitizeTopic(col("t"))).head.getString(0) === "a_b_c_d")
  }

  test("http sink config assembles auth headers (http.go:50-100)") {
    import graft.sinks.HttpSinkConfig
    assert(HttpSinkConfig("http://h/ep").headers === Map.empty)
    // RFC 7617 basic token for user:pass
    assert(HttpSinkConfig("http://h/ep", "basic", basicUsername = "user",
      basicPassword = "pass").headers
      === Map("Authorization" -> "Basic dXNlcjpwYXNz"))
    assert(HttpSinkConfig("http://h/ep", "header", headerName = "X-Api-Key",
      headerValue = "k1").headers === Map("X-Api-Key" -> "k1"))
    val e = intercept[IllegalArgumentException] {
      HttpSinkConfig("http://h/ep", "oauth2").headers
    }
    assert(e.getMessage.contains("doesn't exist"))
  }

  test("kinesis partition key and sqs message group id are the topic name") {
    import graft.sinks._
    // per-topic ordering, the reference's contract (awskinesis.go:143,
    // awssqs.go:115-121)
    val kin = KinesisSinkConfig(Some("graft-stream"), region = Some("eu-west-1"),
      shardCount = Some(4))
    assert(kin.partitionKey("graft.public.events") === "graft.public.events")
    val sqs = SqsSinkConfig(Some("https://sqs/q.fifo"))
    assert(sqs.messageGroupId("graft.public.events") === "graft.public.events")
  }
  test("naming strategy: event and message topic names (debezium.go:20-60)") {
    val df = Seq(("public", "events")).toDF("s", "t")
    assert(df.select(graft.model.Envelope.topicName("graft", col("s"), col("t")))
      .head.getString(0) === "graft.public.events")
    assert(graft.model.Envelope.messageTopicName("graft") === "graft.message")
  }

  test("bpe: learns the textbook merge sequence on a known corpus") {
    import graft.ops.TextAnalysis
    // 'low'×5, 'lower'×2: e-r wins round 3 only after l-o and lo-w
    val docs = Seq((1L, "low low low low low lower lower")).toDF("doc_id", "text")
    val (merges, words) = TextAnalysis.bpeFit(docs, nMerges = 4)
    val rules = merges.map(m => (m.lhs, m.rhs, m.merged, m.weighted_count))
    // round 1: (l,o) appears in both words: 5+2=7
    assert(rules(0) === (("l", "o", "lo", 7L)))
    // round 2: (lo,w) 7 beats (w,</w>) 5 ... actually (w,</w>)=5, (lo,w)=7
    assert(rules(1) === (("lo", "w", "low", 7L)))
    // round 3: (low,</w>) 5 beats (e,r) 2 and (low,e) 2
    assert(rules(2) === (("low", "</w>", "low</w>", 5L)))
    val sym = words.collect().map(r => r.getAs[String]("w") -> r.getAs[String]("sym")).toMap
    assert(sym("low") === "low</w>")
    assert(sym("lower").startsWith("low"))
  }

  test("bpe: greedy left-to-right merge on overlapping pairs, and early stop") {
    import graft.ops.TextAnalysis
    // 'aaa' → a a a </w>: pair (a,a) counts both overlapping positions
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val (merges, words) = TextAnalysis.bpeFit(docs, nMerges = 2)
    assert(merges.head.weighted_count === 2L) // overlapping occurrences both count
    // greedy apply: "a a a" → "aa a", NOT "a aa"
    assert(merges.head.merged === "aa")
    // round 2: (aa,a) and (a,</w>) tie at 1; "a </w>" < "aa a" in byte
    // order (space sorts below 'a'), so the tie-break picks (a, </w>)
    assert(merges(1).lhs === "a" && merges(1).rhs === "</w>")
    assert(words.head.getAs[String]("sym") === "aa a</w>")
    // EVEN run — the case a shared-delimiter single-space replace gets
    // wrong: "a a a a" must merge to "aa aa" (Sennrich non-overlapping
    // left-to-right scan), not "aa a a" (skipping every other pair)
    val even = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val (m3, w3) = TextAnalysis.bpeFit(even, nMerges = 1)
    assert(m3.head.weighted_count === 3L)
    assert(w3.head.getAs[String]("sym") === "aa aa </w>")
    // early stop: a single-symbol vocabulary runs out of pairs
    val tiny = Seq((1L, "x")).toDF("doc_id", "text")
    val (m2, _) = TextAnalysis.bpeFit(tiny, nMerges = 8)
    assert(m2.length < 8 && m2.nonEmpty) // (x,</w>) merges, then nothing left
    intercept[IllegalArgumentException] { TextAnalysis.bpeFit(tiny, 0) }
  }

  test("bpe encode: id sequences agree with fertility totals and the learned segmentation") {
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "low low lower", "s1"), (2L, "lowest low", "s2")
    ).toDF("doc_id", "text", "source")
    val enc = TextAnalysis.bpeEncode(docs, nMerges = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // Σ n_ids across docs = Σ n_symbols from fertility (same fit depth)
    val totalSyms = TextAnalysis.bpeFertility(docs, nMerges = 3)
      .agg(sum(col("n_symbols"))).head.getLong(0)
    assert(enc.values.map(_._1).sum === totalSyms)
    // same word → same id subsequence wherever it appears: doc 1 is
    // "low low lower", so its ids start with two identical blocks
    val ids1 = enc(1L)._2.split(",")
    val enc2 = TextAnalysis.bpeEncode(docs, nMerges = 3)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(enc2(1L) === enc(1L)._2, "deterministic across runs")
    val rep = (1 to ids1.length / 2).exists(k =>
      ids1.take(k).toSeq == ids1.slice(k, 2 * k).toSeq)
    assert(rep, s"repeated word must produce a repeated id block: ${enc(1L)._2}")
    // ids are within the symbol vocabulary (non-negative ints)
    assert(ids1.forall(s => s.toInt >= 0))
  }

  test("bpe encode-with drops wordless docs exactly like the batch encode") {
    import graft.ops.TextAnalysis
    val corpus = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val (fitted, symIds) = TextAnalysis.bpeArtifacts(corpus, nMerges = 2)
    // empty, whitespace-only, and null text produce NO row — the batch
    // encode's posexplode+filter emits nothing for them, and the
    // streaming projection must agree on row count
    val in = Seq((1L, "low lower"), (2L, ""), (3L, "   "))
      .toDF("doc_id", "text")
      .union(Seq(4L).toDF("doc_id").select(col("doc_id"),
        lit(null).cast("string").as("text")))
    val out = TextAnalysis.bpeEncodeWith(in, fitted, symIds)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet === Set(1L))
    assert(out(1L).split(",").forall(_.toInt >= -1))
  }

  test("stripMarkup: script/style content drops, tags become spaces, entities decode once") {
    def strip(s: String): String =
      Seq(s).toDF("h").select(TextAnalysis.stripMarkup(col("h"))).head.getString(0)
    assert(strip("<p>hello <b>world</b></p>") === "hello world")
    // script/style lose their CONTENT; other tags only themselves
    assert(strip("a<script>var x = '<p>not text</p>';</script>b") === "a b")
    assert(strip("a<style media=\"x\">p{}</style>b") === "a b")
    assert(strip("<SCRIPT>\nmultiline();\n</SCRIPT>ok") === "ok", "(?is) case+dotall")
    // nested other-element closer inside the payload: a '</style>'
    // INSIDE a script must not terminate the script strip (the old
    // alternation regex leaked `;leak()` as prose)
    assert(strip("a<script>write('</style>');leak()</script>b") === "a b")
    assert(strip("a<style>s{content:'</script>'}leak</style>b") === "a b")
    // entities: one decode pass — double-escaped stays literal
    assert(strip("fish &amp; chips") === "fish & chips")
    assert(strip("&amp;lt;kept&amp;gt;") === "&lt;kept&gt;")
    assert(strip("&lt;tag&gt; &#39;q&#39;&nbsp;x") === "<tag> 'q' x")
    // attributes, comments, whitespace collapse
    assert(strip("<a href=\"http://x\" rel=nofollow>link</a><!-- c -->  end")
      === "link end")
    // tags split words (space, not empty join) — the C4 behavior
    assert(strip("one<br/>two") === "one two")
  }

  test("url normalization: case/port/dot/tracking/fragment variants collapse, real differences survive") {
    import graft.ops.Web
    def norm(u: String): String =
      Seq(u).toDF("u").select(Web.urlNormalize(col("u"))).head.getString(0)
    // the canonical collapse set
    assert(norm("HTTPS://WWW.Example.COM:443/Path?utm_source=a&b=2&a=1#frag")
      === "https://www.example.com/Path?a=1&b=2")
    assert(norm("http://example.com.:80") === "http://example.com/")
    // non-default port, path case, and param VALUES are content — kept
    assert(norm("https://example.com:8443/x") === "https://example.com:8443/x")
    assert(norm("https://example.com/A") !== norm("https://example.com/a"))
    assert(norm("https://example.com/?a=1") !== norm("https://example.com/?a=2"))
    // ?utm-only query drops entirely (no dangling '?')
    assert(norm("https://example.com/p?utm_campaign=x&fbclid=1")
      === "https://example.com/p")
    // malformed input passes through trimmed, colliding only with itself
    assert(norm("  not a url  ") === "not a url")
    // :80 is only default for http, :443 only for https
    assert(norm("https://example.com:80/") === "https://example.com:80/")
    assert(norm("http://example.com:443/") === "http://example.com:443/")
  }

  test("registrable domain: PSL-approximate two/three-label extraction and the blocklist gate") {
    import graft.ops.Web
    def dom(u: String): String =
      Seq(u).toDF("u").select(Web.registrableDomain(col("u"))).head.getString(0)
    assert(dom("https://a.b.site.com/x") === "site.com")
    assert(dom("https://cdn.site.co.uk:8080/x") === "site.co.uk")
    assert(dom("https://news.bbc.ac.jp/") === "bbc.ac.jp")
    assert(dom("https://site.com/") === "site.com")
    assert(dom("https://localhost/") === "localhost")
    // .com is not a ccTLD: 'ac.com' is a plain registrable domain
    assert(dom("https://x.ac.com/") === "ac.com")
    val docs = Seq(
      (1L, "https://a.bad.com/x", "t"), (2L, "https://ok.com/y", "t"),
      (3L, "https://sub.bad.com/z", "t")).toDF("doc_id", "url", "text")
    val kept = Web.domainFilter(docs, col("url"), Seq("bad.com").toDF("d"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(2L))
    assert(docs.columns.toSeq ===
      Web.domainFilter(docs, col("url"), Seq("bad.com").toDF("d")).columns.toSeq)
  }

  test("bpe fertility: integer symbol budget per source, monotone in merges") {
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "aa aa aa bb", "s1"), (2L, "aa bb bb cc", "s2")
    ).toDF("doc_id", "text", "source")
    val f1 = TextAnalysis.bpeFertility(docs, nMerges = 1)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_symbols"))).toMap
    val f6 = TextAnalysis.bpeFertility(docs, nMerges = 6)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_symbols"))).toMap
    assert(f1("s1")._1 === 4L && f1("s2")._1 === 4L)
    // more merges never increase the symbol count (merges only shrink)
    for (s <- Seq("s1", "s2")) assert(f6(s)._2 <= f1(s)._2)
    // merge 1 is (a,</w>) — tie at 4 with (a,a), "a </w>" sorts first —
    // so 'aa' = [a, a</w>] = 2 syms, 'bb' untouched = 3 syms:
    // s1 = 3 words × 2 + 1 word × 3 = 9
    assert(f1("s1")._2 === 3L * 2 + 3L)
  }

  test("pointInInterval: equals the naive inequality join, plans as equi-join, guard fires") {
    import spark.implicits._
    val intervals = Seq((1L, 0L, 250L), (2L, 100L, 199L), (3L, 500L, 500L), (4L, 900L, 800L))
      .toDF("iv_id", "lo", "hi") // 4: empty (hi < lo) contributes nothing
    val points = (0L until 1000L by 7L).map(t => (t, t)).toSeq.toDF("pt_id", "ts")
    val binned = graft.ops.RangeJoin.pointInInterval(points, intervals,
      "ts", "lo", "hi", binWidth = 100L)
    val naive = points.join(intervals, col("ts") >= col("lo") && col("ts") <= col("hi"))
    val key = (df: org.apache.spark.sql.DataFrame) => df.select("iv_id", "pt_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(key(binned) === key(naive))
    assert(key(binned).nonEmpty && !key(binned).exists(_._1 == 4L))
    // the point of the op: no nested-loop join in the physical plan
    val plan = binned.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"expected equi-join plan:\n$plan")
    assert(naive.queryExecution.executedPlan.toString.contains("NestedLoopJoin"),
      "fixture sanity: the naive form really does plan as a nested loop")
    // outlier interval trips the bin guard instead of exploding rows
    val wide = Seq((9L, 0L, 10000000L)).toDF("iv_id", "lo", "hi")
    val e = intercept[Exception] {
      graft.ops.RangeJoin.pointInInterval(points, wide, "ts", "lo", "hi",
        binWidth = 10L, maxBinsPerInterval = 100).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("widen binWidth")), s"got: ${msgs(e)}")
  }

  test("jsonlParse: every line exactly once, typed or quarantined, never both") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    val schema = StructType.fromDDL("id BIGINT, lang STRING, nc BIGINT")
    val raw = Seq(
      (1L, """{"id": 1, "lang": "en", "nc": 7}"""),  // valid
      (2L, """{"id": 2, "lang"""),                   // truncated → corrupt
      (3L, """not json at all"""),                   // garbage → corrupt
      (4L, """{"id": 4, "nc": 9}"""),                // valid JSON, marker absent → corrupt
      (5L, """{"id": 5, "lang": "de", "nc": 3}""")   // valid
    ).toDF("line_no", "line")
    val out = graft.ops.Ingest.jsonlParse(raw, schema, markerCol = "lang",
      keep = Seq("line_no")).collect()
      .map(r => r.getAs[Long]("line_no") -> r).toMap
    assert(out.size === 5, "exactly-once: every input line surfaces")
    assert(!out(1L).getAs[Boolean]("is_corrupt") && out(1L).getAs[Long]("id") === 1L
      && out(1L).getAs[String]("lang") === "en")
    for (n <- Seq(2L, 3L, 4L)) {
      val r = out(n)
      assert(r.getAs[Boolean]("is_corrupt"), s"line $n corrupt")
      assert(r.isNullAt(r.fieldIndex("id")) && r.isNullAt(r.fieldIndex("lang")),
        s"line $n: corrupt rows never leak salvaged fields")
      assert(r.getAs[String]("quarantine_raw") != null, s"line $n raw preserved")
    }
    assert(out(5L).getAs[String]("quarantine_raw") == null,
      "valid rows carry no quarantine payload")
    val stats = graft.ops.Ingest.quarantineStats(
      graft.ops.Ingest.jsonlParse(raw, schema, markerCol = "lang",
        keep = Seq("line_no")).withColumn("shard", lit(0)), "shard").collect()
    assert(stats.length === 1 && stats(0).getAs[Long]("n_lines") === 5L
      && stats(0).getAs[Long]("n_corrupt") === 3L)
  }

  test("rakeKeywords: hand-computed deg/freq phrase scores, multi-word phrases win") {
    import spark.implicits._
    val docs = Seq((1L, "deep learning the deep model a learning")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.rakeKeywords(docs, k = 3).collect()
      .map(r => r.getAs[Int]("rank") ->
        (r.getAs[String]("phrase"), r.getAs[Long]("score_milli"))).toMap
    // deg: deep 2+2=4/freq 2 → 2000; learning (2+1)/2 → 1500; model 2/1 → 2000
    assert(out(1) === (("deep model", 4000L)))
    assert(out(2) === (("deep learning", 3500L)))
    assert(out(3) === (("learning", 1500L)))
  }

  test("ivfPqRerank: neighbors come from the PQ candidate set, scores are exact cosines") {
    val emb = Tables.embeddings(spark, sf001)
    val qs = emb.filter(col("vec_id") < 5)
    val rr = graft.ops.Similarity.ivfPqRerank(qs, emb, k = 5, kCand = 20).collect()
    val cand = graft.ops.Similarity.ivfPqTopK(qs, emb, 20).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(rr.nonEmpty)
    assert(rr.forall(r => cand(
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))),
      "rerank never invents a neighbor outside the candidate stage")
    // per query: ranks are 1..k and cosines non-increasing (exact re-score order)
    rr.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq === (1L to sorted.length))
      val cs = sorted.map(_.getAs[Double]("cosine"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, s"query $q")
    }
  }

  test("audio fingerprint: exact-gain remasters pair, distinct audios don't collapse") {
    val docs = Tables.documents(spark, sf001).filter(col("doc_id") < 60)
    val base = graft.ops.Multimodal.attachAudioGain(docs, gain = 1, idOffset = 0L)
    val twins = graft.ops.Multimodal.attachAudioGain(docs, gain = 4, idOffset = 1000000L)
    val pairs = graft.ops.Multimodal.audioNearDups(base.unionByName(twins))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 60L).map(i => (i, i + 1000000L)).toSet
    assert(expected.subsetOf(pairs), "every gain-4 remaster must pair with its base")
    // the fingerprint space is not degenerate: distinct sources rarely collide
    assert(pairs.size < expected.size + 10,
      s"too many cross-source collisions: ${pairs.size}")
    // deterministic across re-computation
    val again = graft.ops.Multimodal.audioNearDups(base.unionByName(twins))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === pairs)
  }

  test("two-stage rerank: recall@10 vs the exact scan is >= raw PQ ranking's") {
    val emb = Tables.embeddings(spark, sf001)
    val qs = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(graft.ops.Similarity.cosineTopK(qs, emb, 10))
    val pq = pairs(graft.ops.Similarity.ivfPqTopK(qs, emb, 10))
    val rr = pairs(graft.ops.Similarity.ivfPqRerank(qs, emb, 10, kCand = 30))
    // same candidate routing, exact re-scoring can only fix PQ's
    // quantization-order mistakes — never lose a true neighbor PQ kept
    assert((rr & exact).size >= (pq & exact).size,
      s"rerank recall ${(rr & exact).size} < pq recall ${(pq & exact).size}")
  }

  test("packManifest: sha256 sidecar matches a local digest of the packed blob") {
    val docs = Tables.documents(spark, sf001)
    val blobs = graft.ops.Sampling.packConcat(docs, budgetTokens = 512).collect()
      .map(r => (r.getString(0), r.getAs[Long]("shard")) -> r.getAs[String]("blob")).toMap
    val man = graft.ops.Sampling.packManifest(docs, budgetTokens = 512).collect()
    assert(man.nonEmpty && man.length === blobs.size)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    man.foreach { r =>
      val blob = blobs((r.getString(0), r.getAs[Long]("shard")))
      val hex = md.digest(blob.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getAs[String]("sha256") === hex)
      assert(r.getAs[Long]("blob_bytes") === blob.getBytes("UTF-8").length.toLong)
    }
  }

  test("dimStats: hand-computed micro stats per dimension") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.5f, -2.0f)), (2L, Seq(0.25f, 4.0f))
    ).toDF("vec_id", "embedding")
    val out = graft.ops.Similarity.dimStats(emb).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(0) === ((2L, 1750000L, 250000L, 1500000L)))
    assert(out(1) === ((2L, 2000000L, -2000000L, 4000000L)))
  }

  test("geoRadiusJoin equals brute force, including exact-radius boundary pairs") {
    import spark.implicits._
    val a = (0L until 80L).map(i => (i, (i * 137) % 2000, (i * 311 + 5) % 2000))
      .toDF("aid", "lat_m", "lon_m")
    val b = (0L until 40L).map(j => (j, (j * 173 + 9) % 2000, (j * 97) % 2000))
      .toDF("bid", "lat_m", "lon_m") :: // plant an EXACTLY-at-radius pair vs a's (0, 0·137, 5)
      Seq((999L, 0L + 100L, 5L)).toDF("bid", "lat_m", "lon_m") :: Nil reduce (_ unionByName _)
    val r = 100L
    val binned = graft.ops.RangeJoin.geoRadiusJoin(a, b, r)
      .select("aid", "bid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val brute = a.as("x").crossJoin(b.withColumnRenamed("lat_m", "b_lat_m")
        .withColumnRenamed("lon_m", "b_lon_m").as("y"))
      .filter(expr(s"(lat_m - b_lat_m) * (lat_m - b_lat_m) + " +
        s"(lon_m - b_lon_m) * (lon_m - b_lon_m) <= ${r * r}"))
      .select("aid", "bid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(binned === brute, "bin join must lose no pair and invent none")
    assert(binned.contains((0L, 999L)), "distance == radius is inside (≤)")
  }

  test("powerIterationTop finds a planted dominant direction; partition-invariant") {
    import spark.implicits._
    // 40 vectors ≈ ±(axis 2) with small deterministic noise on axis 5:
    // the dominant eigenvector of XᵀX is axis 2 regardless of sign flips
    val emb = (0 until 40).map { i =>
      val v = Array.fill(8)(0.0f)
      v(2) = if (i % 2 == 0) 1.0f else -1.0f
      v(5) = (i % 3 - 1) * 0.05f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val dir = graft.ops.Similarity.powerIterationTop(emb, iters = 3, dim = 8)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(math.abs(dir(2)) === 1000L, "dominant axis pinned to the renorm bound")
    assert(dir.filterNot(_._1 == 2).values.forall(v => math.abs(v) < 200L),
      "off-axis components stay small")
    val dir2 = graft.ops.Similarity.powerIterationTop(emb.repartition(7), 3, dim = 8)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(dir === dir2, "exact integers ⇒ partitioning-invariant")
  }

  test("persisted IVF-PQ index: search over artifacts ≡ direct ivfPqTopK; loader rejects a broken manifest") {
    val emb = Tables.embeddings(spark, sf001)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    graft.ops.Similarity.saveIvfPqIndex(emb, dir)
    val q = emb.filter(col("vec_id") < 5)
    val fromIndex = graft.ops.Similarity.searchIvfPqIndex(spark, dir, q, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = graft.ops.Similarity.ivfPqTopK(q, emb, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromIndex === direct, "fit-once artifacts must reproduce the direct search")
    // artifacts exist with the expected shapes
    assert(spark.read.parquet(s"$dir/codes").columns.toSet
      .contains("centroid_id"), "codes carry their IVF list")
    // a manifest missing a param fails loudly, not garbage-scores
    val p = new org.apache.hadoop.fs.Path(s"$dir/manifest.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true); out.write("{}".getBytes); out.close()
    intercept[IllegalArgumentException] {
      graft.ops.Similarity.searchIvfPqIndex(spark, dir, q, k = 10)
    }
  }

  test("k-anonymity and l-diversity gates on planted violations") {
    import spark.implicits._
    // QI (city, age): the (A,30) group has 1 row → k=2 violation;
    // the (B,40) group is 3-large but all share salary 10 → l=2 violation
    val df = Seq(
      ("A", 30, 10), ("B", 40, 10), ("B", 40, 10), ("B", 40, 10),
      ("C", 50, 10), ("C", 50, 20)
    ).toDF("city", "age", "salary")
    val ka = graft.ops.Profile.kAnonymity(df, Seq("city", "age"), k = 2).head()
    assert(ka.getAs[Long]("n_small_groups") === 1L)
    assert(ka.getAs[Long]("n_rows_at_risk") === 1L)
    assert(!ka.getAs[Boolean]("passed"))
    val ld = graft.ops.Profile.lDiversity(df, Seq("city", "age"), "salary", l = 2).head()
    assert(ld.getAs[Long]("n_undiverse_groups") === 2L,
      "(A,30) singleton AND the salary-uniform (B,40) both fail diversity")
    assert(ld.getAs[Long]("n_rows_at_risk") === 4L)
    assert(!ld.getAs[Boolean]("passed"))
    // the (C,50) group is both k-large and diverse: a clean frame passes
    val clean = df.filter(col("city") === "C")
    assert(graft.ops.Profile.kAnonymity(clean, Seq("city", "age"), 2)
      .head().getAs[Boolean]("passed"))
    assert(graft.ops.Profile.lDiversity(clean, Seq("city", "age"), "salary", 2)
      .head().getAs[Boolean]("passed"))
  }

  test("boilerplateRemove: corpus-frequent chunks cut, order kept, uniques intact") {
    import spark.implicits._
    // chunk width 2: "nav bar" opens 3 docs (df=3 → boilerplate at maxDf=3);
    // every other chunk is unique
    val docs = Seq(
      (1L, "nav bar alpha beta gamma delta"),
      (2L, "nav bar epsilon zeta"),
      (3L, "nav bar eta theta iota kappa"),
      (4L, "lambda mu nu xi")).toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateRemove(docs, width = 2, maxDf = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getAs[Long]("n_chunks"), r.getAs[Long]("n_removed"))).toMap
    assert(out(1L) === (("alpha beta gamma delta", 3L, 1L)))
    assert(out(2L) === (("epsilon zeta", 2L, 1L)))
    assert(out(3L) === (("eta theta iota kappa", 3L, 1L)))
    assert(out(4L) === (("lambda mu nu xi", 2L, 0L)))
    // a doc that is ALL boilerplate survives as an empty row, not a drop
    val all = Seq((1L, "x y"), (2L, "x y"), (3L, "x y")).toDF("doc_id", "text")
    val cleaned = TextAnalysis.boilerplateRemove(all, width = 2, maxDf = 3).collect()
    assert(cleaned.length === 3 && cleaned.forall(_.getString(1) === ""))
  }

  test("blocklistHits: exact substring counts via the replace-length identity") {
    import spark.implicits._
    val df = Seq((1L, "bad bad wolf"), (2L, "clean text"), (3L, "badbad")).toDF("id", "t")
    val (total, terms) = TextAnalysis.blocklistHits(col("t"), Seq("bad", "wolf"))
    val rows = df.select(col("id"), total.as("n"), terms.as("k"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(1L) === ((3L, 2L)))   // 2×bad + 1×wolf, both terms hit
    assert(rows(2L) === ((0L, 0L)))
    assert(rows(3L) === ((2L, 1L)))   // substring semantics: badbad = 2 hits
  }
}
