package graft

import graft.streaming.ConfigPipeline
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The reference's TOML/property surface assembled end-to-end
  * (`replicator.go` + `spi/config/config.go` semantics). */
class ConfigPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("enabledOps reference defaults: CRUD+truncate on, message/compression off") {
    assert(ConfigPipeline.enabledOps(Map.empty).sorted === Seq("c", "d", "r", "t", "u"))
    assert(ConfigPipeline.enabledOps(Map(
      "timescaledb.events.compression" -> "true")).contains("$"))
    assert(ConfigPipeline.enabledOps(Map(
      "postgresql.events.message" -> "true")).contains("m"))
    // deprecated key honored as fallback, new key wins
    assert(ConfigPipeline.enabledOps(Map(
      "timescaledb.events.message" -> "true")).contains("m"))
    assert(!ConfigPipeline.enabledOps(Map(
      "timescaledb.events.message" -> "true",
      "postgresql.events.message" -> "false")).contains("m"))
    // postgresql.events.* CRUD keys are validated-but-INERT: the
    // reference's gates are per-table-kind (replicationresolver.go
    // checks genPostgresqlInsertEvent only for vanilla-table events,
    // genHypertableInsertEvent only for hypertable/chunk events), and
    // this engine's stream is entirely hypertable events — a pg-side
    // veto must not suppress them
    assert(ConfigPipeline.enabledOps(Map(
      "postgresql.events.insert" -> "false")).contains("c"))
    assert(ConfigPipeline.enabledOps(Map(
      "postgresql.events.truncate" -> "false")).contains("t"))
    assert(!ConfigPipeline.enabledOps(Map(
      "timescaledb.events.insert" -> "false")).contains("c"))
    assert(ConfigPipeline.enabledOps(Map(
      "timescaledb.events.insert" -> "false")).sorted === Seq("d", "r", "t", "u"))
    intercept[IllegalArgumentException] {
      ConfigPipeline.enabledOps(Map("postgresql.events.delete" -> "maybe"))
    }
    // '$' gates on the COMPRESSION key only: the stand-in rule
    // synthesizes compression events, so the decompression key alone
    // must not enable them (the old OR-merge bug)
    assert(!ConfigPipeline.enabledOps(Map(
      "timescaledb.events.decompression" -> "true")).contains("$"))
    intercept[IllegalArgumentException] { // inert key still validates
      ConfigPipeline.enabledOps(Map("timescaledb.events.decompression" -> "x"))
    }
  }

  test("env-var key mapping round-trips and merges with env precedence") {
    // README examples verbatim
    assert(ConfigPipeline.toEnvKey("postgresql.connection") === "POSTGRESQL_CONNECTION")
    assert(ConfigPipeline.toEnvKey("test.some_value") === "TEST_SOME__VALUE")
    assert(ConfigPipeline.fromEnvKey("TEST_SOME__VALUE") === "test.some_value")
    // round-trip law over legal property names (segments never START
    // with '_' — the one shape the reference's own encoding makes
    // ambiguous: a._b and a_.b collide on A___B)
    val rnd = new scala.util.Random(11)
    val seg = () => "abcdefghijklmnopqrstuvwxyz".charAt(rnd.nextInt(26)) +:
      (0 until rnd.nextInt(6))
        .map(_ => "abcdefghijklmnopqrstuvwxyz0123456789_".charAt(rnd.nextInt(37))).mkString
    (0 until 300).foreach { _ =>
      val prop = (0 until 1 + rnd.nextInt(4)).map(_ => seg()).mkString(".")
      assert(ConfigPipeline.fromEnvKey(ConfigPipeline.toEnvKey(prop)) === prop, prop)
    }
    val merged = ConfigPipeline.withEnvOverrides(
      Map("topic.prefix" -> "fromfile", "sink.type" -> "stdout"),
      Map("TOPIC_PREFIX" -> "fromenv"))
    assert(merged("topic.prefix") === "fromenv")
    assert(merged("sink.type") === "stdout")
  }

  test("illegal config values fail loudly with the offending key") {
    def bad(props: Map[String, String]): String =
      intercept[IllegalArgumentException] {
        ConfigPipeline.fromProperties(spark, sf001, props)
      }.getMessage
    assert(bad(Map("timescaledb.events.read" -> "yes")).contains("timescaledb.events.read"))
    assert(bad(Map("postgresql.snapshot.initial" -> "sometimes")).contains("snapshot"))
    assert(bad(Map("topic.namingstrategy.type" -> "kebab")).contains("namingstrategy"))
    assert(bad(Map("sink.filters.f1.default" -> "true")).contains("condition"))
    assert(bad(Map("postgresql.transaction.window.maxsize" -> "0")).contains("window"))
    assert(bad(Map("postgresql.transaction.window.timeout" -> "sixty"))
      .contains("postgresql.transaction.window.timeout"))
  }

  test("snapshot mode is APPLIED: never drops reads, initial_only keeps only reads") {
    val never = ConfigPipeline.fromProperties(spark, sf001, Map.empty)
    assert(never.filter(col("op") === "r").count() === 0,
      "default snapshot mode 'never' must not produce snapshot reads")
    val snapOnly = ConfigPipeline.fromProperties(spark, sf001, Map(
      "postgresql.snapshot.initial" -> "initial_only"))
    assert(snapOnly.count() > 0)
    assert(snapOnly.filter(col("op") =!= "r").count() === 0,
      "initial_only is the snapshot alone")
    val always = ConfigPipeline.fromProperties(spark, sf001, Map(
      "postgresql.snapshot.initial" -> "always"))
    assert(always.filter(col("op") === "r").count() > 0)
    assert(always.filter(col("op") === "c").count() > 0)
  }

  test("scoped filter MATCHES its schema.table target (canonical-name scoping)") {
    // condition that drops everything, scoped to the actual table —
    // before the canonical-name fix this silently passed everything
    val scoped = ConfigPipeline.fromProperties(spark, sf001, Map(
      "postgresql.snapshot.initial" -> "always",
      "sink.filters.f1.condition" -> "user_id > 1000000",
      "sink.filters.f1.tables.includes" -> "public.events"))
    assert(scoped.count() === 0,
      "a filter scoped to public.events must apply to the events envelope")
  }

  test("excludes win over includes at the pipeline level") {
    val none = ConfigPipeline.fromProperties(spark, sf001, Map(
      "timescaledb.hypertables.includes" -> "public.*",
      "timescaledb.hypertables.excludes" -> "public.events"))
    assert(none.count() === 0)
    val all = ConfigPipeline.fromProperties(spark, sf001, Map(
      "timescaledb.hypertables.includes" -> "public.events"))
    assert(all.count() > 0)
  }

  test("scoped filters only gate their tables; out-of-scope uses the default") {
    // filter scoped to a table that does NOT exist in the stream → its
    // default (true) passes everything; default=false drops everything
    val passDefault = ConfigPipeline.fromProperties(spark, sf001, Map(
      "sink.filters.f1.condition" -> "user_id > 1000000",
      "sink.filters.f1.tables.includes" -> "other.table"))
    val base = ConfigPipeline.fromProperties(spark, sf001, Map.empty)
    assert(passDefault.count() === base.count())
    val dropDefault = ConfigPipeline.fromProperties(spark, sf001, Map(
      "sink.filters.f1.condition" -> "user_id > 1000000",
      "sink.filters.f1.tables.includes" -> "other.table",
      "sink.filters.f1.default" -> "false"))
    assert(dropDefault.count() === 0)
  }

  test("multiple filters AND together; tombstone config fans out deletes") {
    val anded = ConfigPipeline.fromProperties(spark, sf001, Map(
      "sink.filters.a.condition" -> "user_id > 3",
      "sink.filters.b.condition" -> """op == "c""""))
    assert(anded.filter(col("op") =!= "c" || col("user_id") <= 3).count() === 0)
    assert(anded.count() > 0)
    val plain = ConfigPipeline.fromProperties(spark, sf001, Map.empty)
    val tomb = ConfigPipeline.fromProperties(spark, sf001, Map(
      "sink.tombstone" -> "true"))
    val nDeletes = plain.filter(col("op") === "d").count()
    assert(tomb.count() === plain.count() + nDeletes,
      "one tombstone row per delete")
  }

  test("topic prefix is applied from config") {
    val df = ConfigPipeline.fromProperties(spark, sf001, Map(
      "topic.prefix" -> "myprefix"))
    assert(df.select(col("topic")).distinct().as[String].collect()
      .forall(_.startsWith("myprefix.")))
  }

  test("start() restarted on the same checkpoint emits nothing new (T1 through config)") {
    val dir = Files.createTempDirectory("graft-cfg-restart").toString
    val sink = new graft.sinks.CollectorSink
    graft.sinks.Sinks.register("collector-restart", () => sink)
    val props = Map(
      "sink.type" -> "collector-restart",
      "statestorage.type" -> "file",
      "statestorage.file.path" -> s"$dir/ckpt")
    val q1 = ConfigPipeline.start(spark, sf001, props, dir)
    assert(q1.awaitTermination(240000))
    val n1 = sink.rows.size
    assert(n1 > 0)
    val q2 = ConfigPipeline.start(spark, sf001, props, dir)
    assert(q2.awaitTermination(240000))
    assert(sink.rows.size === n1,
      "checkpointed resume must re-deliver nothing (same statestorage path)")
  }

  test("configured publication + slot run their lifecycle around the query (replicator stop path)") {
    val dir = Files.createTempDirectory("graft-cfg-ctrl").toString
    val sink = new graft.sinks.CollectorSink
    graft.sinks.Sinks.register("collector-ctrl", () => sink)
    val props = Map(
      "sink.type" -> "collector-ctrl",
      "postgresql.publication.name" -> "ctrl_pub",
      "postgresql.replicationslot.name" -> "ctrl_slot",
      "statestorage.type" -> "file",
      "statestorage.file.path" -> s"$dir/ckpt")
    val (q, pubM, slotM) = ConfigPipeline.startWithControlPlane(spark, sf001, props, dir)
    // startup order parity: both exist BEFORE any data flows
    assert(pubM.exists(_.existsPublication) && slotM.exists(_.existsSlot))
    assert(q.awaitTermination(240000))
    assert(sink.rows.nonEmpty)
    // the termination listener fires asynchronously and drops the slot
    // before it closes the publication; wait for both
    val deadline = System.currentTimeMillis() + 30000
    while ((slotM.exists(_.existsSlot) || pubM.exists(_.existsPublication)) &&
           System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(slotM.exists(!_.existsSlot),
      "created + autodrop slot must drop when the query terminates")
    assert(pubM.exists(!_.existsPublication),
      "publication.autodrop (default true) must drop the publication on close")
    // autodrop OFF: both survive termination
    val sink2 = new graft.sinks.CollectorSink
    graft.sinks.Sinks.register("collector-ctrl2", () => sink2)
    val props2 = props ++ Map("sink.type" -> "collector-ctrl2",
      "statestorage.file.path" -> s"$dir/ckpt2",
      "postgresql.publication.autodrop" -> "false",
      "postgresql.replicationslot.autodrop" -> "false")
    val (q2, pubM2, slotM2) = ConfigPipeline.startWithControlPlane(spark, sf001, props2, dir)
    assert(q2.awaitTermination(240000))
    Thread.sleep(1000) // give a (wrong) drop the chance to fire
    assert(slotM2.exists(_.existsSlot) && pubM2.exists(_.existsPublication),
      "autodrop=false must leave publication and slot in place")
  }

  test("Replicator TOML parser: sections, strings, arrays, comments, loud unsupported forms") {
    val toml = """
      |# top comment
      |[postgresql]
      |connection = "host=db1 user=repl password='a # b'"  # trailing comment
      |password = 'lit#eral'
      |[postgresql.snapshot]
      |batchsize = 250
      |[timescaledb.hypertables]
      |includes = ["public.ht_*", "other.t, with comma"]
      |excludes = []
      |[sink]
      |type = "collector"
      |tombstone = true
      |""".stripMargin
    val p = graft.Replicator.parseToml(toml)
    assert(p("postgresql.connection") === "host=db1 user=repl password='a # b'")
    assert(p("postgresql.password") === "lit#eral")
    assert(p("postgresql.snapshot.batchsize") === "250")
    assert(p("timescaledb.hypertables.includes") === "public.ht_*,other.t, with comma")
    assert(p("timescaledb.hypertables.excludes") === "")
    assert(p("sink.type") === "collector" && p("sink.tombstone") === "true")
    // escapes in basic strings
    assert(graft.Replicator.parseToml("""k = "a\"b\\c\nd"""")("k") === "a\"b\\c\nd")
    // unsupported forms fail loudly, never mis-read
    intercept[IllegalArgumentException] {
      graft.Replicator.parseToml("[[servers]]\nname = \"x\"")
    }
    intercept[IllegalArgumentException] {
      graft.Replicator.parseToml("k = [[1,2],[3]]")
    }
    intercept[IllegalArgumentException] { graft.Replicator.parseToml("just a line") }
    // camelCase TOML keys — valid for the reference's case-insensitive
    // BurntSushi struct tags — case-fold to the canonical lowercase
    // spelling instead of silently missing the lookup
    val camel = graft.Replicator.parseToml(
      "postgresql.replicationSlot.name = 'slot_a'\n[Sink.Redis]\nAddress = 'r:6379'\n")
    assert(camel("postgresql.replicationslot.name") === "slot_a")
    assert(camel("sink.redis.address") === "r:6379")
    // quoted header segments are case-sensitive per TOML — folding them
    // would corrupt, so they fail loudly
    intercept[IllegalArgumentException] {
      graft.Replicator.parseToml("[tables.\"MixedCase\"]\nk = 1\n")
    }
  }

  test("Replicator YAML parser: the reference's config.example.yml shape, TOML-equivalent") {
    // the same configuration written both ways (the reference's
    // unmarshall.go feeds one Config struct from either) must flatten
    // to the IDENTICAL property map — YAML's camelCase spelling lands
    // on the canonical lowercase TOML keys
    val toml = """
      |postgresql.connection = 'postgres://repl_user@localhost:5432/postgres'
      |postgresql.password = 'se # cret'
      |postgresql.replicationslot.name = 'slot_a'
      |postgresql.replicationslot.autodrop = true
      |postgresql.snapshot.batchsize = 1000
      |timescaledb.hypertables.excludes = ["pg_catalog.*", "internal.*"]
      |timescaledb.hypertables.includes = ["public.*"]
      |statestorage.type = 'file'
      |statestorage.file.path = '/tmp/statestorage.dat'
      |sink.tombstone = false
      |sink.type = 'stdout'
      |""".stripMargin
    val yaml = """
      |postgresql:
      |  connection: 'postgres://repl_user@localhost:5432/postgres'
      |  password: 'se # cret'   # trailing comment survives the quotes
      |  replicationSlot:
      |    name: 'slot_a'
      |    autoDrop: true
      |  snapshot:
      |    batchSize: 1000
      |timescaledb:
      |  hypertables:
      |    excludes:
      |      - 'pg_catalog.*'
      |      - 'internal.*'
      |    includes:
      |      - 'public.*'
      |stateStorage:
      |  type: file
      |  file:
      |    path: '/tmp/statestorage.dat'
      |sink:
      |  tombstone: false
      |  type: 'stdout'
      |""".stripMargin
    assert(graft.Replicator.parseYaml(yaml) === graft.Replicator.parseToml(toml))
    // YAML-specific scalar forms
    val p = graft.Replicator.parseYaml(
      "a:\n  b: \"x\\ny\"\n  c: 'it''s'\n  d: bare value\n")
    assert(p("a.b") === "x\ny" && p("a.c") === "it's" && p("a.d") === "bare value")
    // unsupported YAML fails loudly, never mis-reads
    intercept[IllegalArgumentException] { graft.Replicator.parseYaml("k: [1, 2]") }
    intercept[IllegalArgumentException] { graft.Replicator.parseYaml("k: *anchor") }
    intercept[IllegalArgumentException] { graft.Replicator.parseYaml("k:\n\tv: 1") }
    intercept[IllegalArgumentException] { graft.Replicator.parseYaml("just a line") }
    intercept[IllegalArgumentException] { graft.Replicator.parseYaml("- orphan item") }
    // a key with no value, items, or children is a mis-indent, not a
    // silent drop — the next key at the same/shallower level exposes it
    intercept[IllegalArgumentException] {
      graft.Replicator.parseYaml("a:\n  excludes:\n  b: 1\n")
    }
    intercept[IllegalArgumentException] { graft.Replicator.parseYaml("a:\nb: 1\n") }
    intercept[IllegalArgumentException] { graft.Replicator.parseYaml("dangling:\n") }
    // a key line indented INSIDE a block sequence is malformed YAML —
    // reject rather than flush the list AND emit a phantom nested key
    intercept[IllegalArgumentException] {
      graft.Replicator.parseYaml("a:\n  - x\n    b: 1\n")
    }
    intercept[IllegalArgumentException] {
      graft.Replicator.parseYaml("a:\n    - x\n  b: 1\n")
    }
    // sequence items must agree on their indent
    intercept[IllegalArgumentException] {
      graft.Replicator.parseYaml("a:\n  - x\n    - y\n")
    }
    // an item SHALLOWER than its key belongs to an outer scope in real
    // YAML — reject instead of silently attaching it here
    intercept[IllegalArgumentException] {
      graft.Replicator.parseYaml("m:\n  a:\n- x\n")
    }
    // items level with their key are standard YAML
    assert(graft.Replicator.parseYaml("a:\n- x\n- y\n") === Map("a" -> "x,y"))
    // …but a sibling key AFTER the sequence closes is fine
    assert(graft.Replicator.parseYaml("a:\n  - x\n  - y\nb: 1\n")
      === Map("a" -> "x,y", "b" -> "1"))
  }

  test("sslMode and connectionParts tolerate libpq-style unencoded userinfo") {
    import graft.streaming.ConfigPipeline.{sslMode, connectionParts}
    // libpq accepts passwords with '@'/space in URL userinfo where
    // java.net.URI throws a raw URISyntaxException — sslmode extraction
    // must not care, and the '?' is searched only after the last '@'
    val raw = Map("postgresql.connection" ->
      "postgres://rep:p@ss w?rd@db1:5433/events?sslmode=verify-ca")
    assert(sslMode(raw) === "verify-ca")
    assert(sslMode(Map("postgresql.connection" ->
      "postgres://rep@db1/events")) === "prefer")
    assert(sslMode(Map("postgresql.connection" ->
      "host=db1 sslmode=require")) === "require")
    intercept[IllegalArgumentException] {
      sslMode(Map("postgresql.connection" -> "postgres://db1/ev?sslmode=sideways"))
    }
    // a '@' in the QUERY (legal per RFC 3986) must not truncate it —
    // that would silently downgrade verify-full to the prefer default
    assert(sslMode(Map("postgresql.connection" ->
      "postgres://db1/ev?sslmode=verify-full&fallback_application_name=me@host"))
      === "verify-full")
    // connectionParts shares the lenient splitter: the unencoded
    // password round-trips instead of throwing URISyntaxException
    assert(connectionParts(raw) === (("db1", 5433, "events", "rep", Some("p@ss w?rd"))))
    assert(connectionParts(Map("postgresql.connection" ->
      "postgres://rep:ok@db1:5433/events"))._2 === 5433)
    assert(connectionParts(Map("postgresql.connection" ->
      "postgres://rep@db1/events")) === (("db1", 5432, "events", "rep", None)))
  }

  test("Replicator end-to-end: YAML config file drives the configured pipeline") {
    val dir = Files.createTempDirectory("graft-replicator-yml").toString
    val sink = new graft.sinks.CollectorSink
    graft.sinks.Sinks.register("collector-yml", () => sink)
    val yml =
      s"""sink:
         |  type: 'collector-yml'
         |postgresql:
         |  publication:
         |    name: 'yml_pub'
         |  replicationSlot:
         |    name: 'yml_slot'
         |stateStorage:
         |  type: file
         |  file:
         |    path: '$dir/ckpt'
         |""".stripMargin
    val cfg = java.nio.file.Paths.get(dir, "replicator.yml")
    java.nio.file.Files.write(cfg, yml.getBytes("UTF-8"))
    val props = graft.Replicator.loadConfig(cfg.toString, env = Map.empty)
    assert(props("postgresql.replicationslot.name") === "yml_slot")
    assert(props("statestorage.file.path") === s"$dir/ckpt")
    val (q, pubM, slotM) = ConfigPipeline.startWithControlPlane(spark, sf001, props, dir)
    assert(q.awaitTermination(240000))
    assert(sink.rows.nonEmpty)
    assert(pubM.exists(_.publicationName === "yml_pub"))
    assert(slotM.exists(_.slotName === "yml_slot"))
  }

  test("Replicator end-to-end: TOML config file drives the configured pipeline") {
    val dir = Files.createTempDirectory("graft-replicator-e2e").toString
    val sink = new graft.sinks.CollectorSink
    graft.sinks.Sinks.register("collector-toml", () => sink)
    val toml =
      s"""[sink]
         |type = "collector-toml"
         |[postgresql.publication]
         |name = "toml_pub"
         |[postgresql.replicationslot]
         |name = "toml_slot"
         |[statestorage]
         |type = "file"
         |[statestorage.file]
         |path = "$dir/ckpt"
         |""".stripMargin
    val cfg = java.nio.file.Paths.get(dir, "replicator.toml")
    java.nio.file.Files.write(cfg, toml.getBytes("UTF-8"))
    // env overlay: a known-namespace var wins over the file; junk like
    // PATH never becomes a property
    val props = graft.Replicator.loadConfig(cfg.toString,
      env = Map("TOPIC_PREFIX" -> "fromenv", "PATH" -> "/usr/bin"))
    assert(props("topic.prefix") === "fromenv")
    assert(!props.contains("path"))
    assert(props("postgresql.replicationslot.name") === "toml_slot")
    val (q, pubM, slotM) = ConfigPipeline.startWithControlPlane(spark, sf001, props, dir)
    assert(q.awaitTermination(240000))
    assert(sink.rows.nonEmpty)
    assert(pubM.exists(_.publicationName === "toml_pub"))
    assert(slotM.exists(_.slotName === "toml_slot"))
  }

  test("postgresql.pgoutput.path switches the WAL source to binary wire decode") {
    // encode sf0.001 events into pgoutput segment blobs, point the
    // CONFIGURED pipeline at them, and require the delivered envelopes
    // to match the file-sourced pipeline row-for-row on the DML set
    // (logical messages carry no table/timestamp on the wire — they
    // belong to the message topic, excluded from chunk resolution)
    val dir = Files.createTempDirectory("graft-cfg-pgo").toString
    graft.cdc.PgOutput.encodeSegments(Tables.events(spark, sf001))
      .write.mode("overwrite").parquet(s"$dir/segments")
    val sink = new graft.sinks.CollectorSink
    graft.sinks.Sinks.register("collector-pgo", () => sink)
    val props = Map(
      "sink.type" -> "collector-pgo",
      "postgresql.pgoutput.path" -> s"$dir/segments",
      "statestorage.type" -> "file",
      "statestorage.file.path" -> s"$dir/ckpt")
    val q = ConfigPipeline.start(spark, sf001, props, dir)
    assert(q.awaitTermination(300000), "pgoutput-sourced stream did not finish")
    val streamed = sink.rows.map(r =>
      (r.getAs[Long]("lsn"), r.getAs[String]("op"), r.getAs[Long]("ts_ms"),
        r.getAs[String]("topic"), r.getAs[Long]("user_id"))).sortBy(_._1)
    val fileSourced = ConfigPipeline
      .fromProperties(spark, sf001, props - "postgresql.pgoutput.path" - "statestorage.type")
      .filter(org.apache.spark.sql.functions.col("op") =!= "m")
      .select("lsn", "op", "ts_ms", "topic", "user_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4))).sortBy(_._1)
    assert(streamed.length === fileSourced.length)
    assert(streamed.sameElements(fileSourced),
      "wire-decoded envelopes must equal the file-sourced pipeline's DML set")
  }

  test("graft.pgtypes.jdbc: startup pg_type bulk load feeds the wire-decode pipeline") {
    // segments whose event_type column is a RESOLVER-ONLY enum oid —
    // the configured pipeline can only decode them because the startup
    // bulk load (typemanager.initialize analog) ran against the
    // JDBC-served pg_type table and the loaded resolver rode the
    // decode closure
    import graft.cdc.PgOutput
    import graft.cdc.PgOutput.{RelCol, RelationMsg, InsertMsg, rowTuple, writeFrame, encode}
    val dir = Files.createTempDirectory("graft-cfg-pgtypes").toString
    val src = Tables.events(spark, sf001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy("event_id").limit(40).collect()
    val labels = src.map(_.getString(3)).distinct.sorted
    val cols = Seq(RelCol(1, "event_id", 20, -1), RelCol(0, "ts", 1114, -1),
      RelCol(0, "user_id", 20, -1), RelCol(0, "event_type", 95102, -1),
      RelCol(0, "value", 701, -1), RelCol(0, "props", 25, -1))
    val bos = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bos)
    writeFrame(o, 0x10L, encode(RelationMsg(779, "public", "events", 'd'.toByte, cols)))
    src.foreach { r =>
      writeFrame(o, r.getLong(0), encode(InsertMsg(779, rowTuple(
        r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4), r.getString(5)))))
    }
    spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(0L, 0x10L, bos.toByteArray)),
      PgOutput.frameSchema).write.mode("overwrite").parquet(s"$dir/segments")
    val url = "jdbc:derby:memory:graft_pgtypes_cfg;create=true"
    graft.sources.JdbcSideChannel.withConnection(url) { c =>
      val st = c.createStatement()
      try st.execute("DROP TABLE PG_TYPE_CFG") catch { case _: java.sql.SQLException => }
      st.execute("CREATE TABLE PG_TYPE_CFG (oid INT NOT NULL PRIMARY KEY, " +
        "typname VARCHAR(64), typtype CHAR(1), typelem INT, " +
        "typbasetype INT, enum_values VARCHAR(256))")
      st.execute("INSERT INTO PG_TYPE_CFG VALUES (95102, 'evt_kind_cfg', 'e', 0, 0, " +
        s"'${labels.mkString(",")}')")
    }
    val sink = new graft.sinks.CollectorSink
    graft.sinks.Sinks.register("collector-pgtypes", () => sink)
    val props = Map(
      "sink.type" -> "collector-pgtypes",
      "postgresql.pgoutput.path" -> s"$dir/segments",
      "graft.pgtypes.jdbc" -> url,
      "graft.pgtypes.sql" ->
        "SELECT oid, typname, typtype, typelem, typbasetype, enum_values FROM PG_TYPE_CFG",
      "statestorage.type" -> "file",
      "statestorage.file.path" -> s"$dir/ckpt")
    val q = ConfigPipeline.start(spark, sf001, props, dir)
    assert(q.awaitTermination(300000), "pgtypes-resolved stream did not finish")
    // everything the envelope pipeline keeps (the default op gates —
    // message excluded, snapshot-mode read handling — same as the plain
    // pgoutput arm) decoded through the JDBC-loaded enum: no loss, no
    // misreads
    val keptOps = ConfigPipeline.effectiveOps(props)
    val expected = Tables.events(spark, sf001)
      .orderBy("event_id").limit(40)
      .withColumn("op", graft.cdc.Cdc.opExpr(col("event_type")))
      .filter(col("op").isin(keptOps: _*) && col("op") =!= "m")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val delivered = sink.rows.map(_.getAs[Long]("lsn")).toSet
    assert(delivered === expected)
  }

  test("pgoutput-sourced pipeline restarted on the same checkpoint emits nothing new") {
    val dir = Files.createTempDirectory("graft-cfg-pgo-restart").toString
    graft.cdc.PgOutput.encodeSegments(Tables.events(spark, sf001))
      .write.mode("overwrite").parquet(s"$dir/segments")
    val sink = new graft.sinks.CollectorSink
    graft.sinks.Sinks.register("collector-pgo-restart", () => sink)
    val props = Map(
      "sink.type" -> "collector-pgo-restart",
      "postgresql.pgoutput.path" -> s"$dir/segments",
      "statestorage.type" -> "file",
      "statestorage.file.path" -> s"$dir/ckpt")
    val q1 = ConfigPipeline.start(spark, sf001, props, dir)
    assert(q1.awaitTermination(300000))
    val n1 = sink.rows.size
    assert(n1 > 0)
    val q2 = ConfigPipeline.start(spark, sf001, props, dir)
    assert(q2.awaitTermination(300000))
    assert(sink.rows.size === n1,
      "checkpointed pgoutput stream must re-deliver nothing after restart (T1)")
  }

  test("marker decompression mode is config-selected through the full hop chain (P7/T3 × config)") {
    // the 2.12+ marker flow as a CONFIG ARM of the one-config-map
    // topology (the reference version-gates it; a deployment picks
    // status-machine vs marker mode here): real pg_logical_emit_message
    // frames ride binary segments, the configured stream decodes them,
    // the keyed-state tracker drops exactly the bracketed re-INSERTs,
    // and the survivors deliver through the registered sink
    import org.apache.spark.sql.functions.{col, lit, when}
    val dir = Files.createTempDirectory("graft-cfg-marker").toString
    val frames = graft.cdc.PgOutput.encodeSegments(
      Tables.events(spark, sf001), markerTxns = true)
    frames.write.mode("overwrite").parquet(s"$dir/segments")
    val sink = new graft.sinks.CollectorSink
    graft.sinks.Sinks.register("collector-marker", () => sink)
    val props = Map(
      "sink.type" -> "collector-marker",
      "timescaledb.experimental.decompression.markers" -> "true",
      "postgresql.pgoutput.path" -> s"$dir/segments",
      "statestorage.type" -> "file",
      "statestorage.file.path" -> s"$dir/ckpt")
    val q = ConfigPipeline.start(spark, sf001, props, dir)
    assert(q.awaitTermination(300000), "marker-mode stream did not finish")
    val streamed = sink.rows.map(_.getAs[Long]("lsn")).sorted
    // expected: the batch marker-suppression window over the SAME
    // decoded frames (spec-proven equal to the tracker), message rows
    // excluded (the wire arm's message topic is a separate surface)
    val decoded = graft.cdc.PgOutput.decodeSegments(frames).toDF()
    val walPrefixed = decoded.withColumn("op",
      when(col("op_wire") === "M", lit("m"))
        .otherwise(graft.cdc.Cdc.opExpr(col("event_type"))))
    val ops = ConfigPipeline.effectiveOps(props) // default: snapshot never -> no 'r'
    val expected = graft.cdc.Cdc.markerSuppressPrefixed(walPrefixed)
      .filter(col("op").isin(ops: _*))
      .select("lsn").as[Long].collect().sorted
    assert(expected.nonEmpty && streamed.length === expected.length &&
      streamed.sameElements(expected),
      "config-selected marker arm delivers exactly the unsuppressed DML set")
    // and something was really suppressed relative to marker-mode-off
    val plain = decoded.filter(col("op_wire").isin("I", "U", "D")).count()
    assert(streamed.length < plain, "bracketed re-INSERTs were dropped")
    // the BATCH form rides the same config key through fromProperties
    val batchOn = ConfigPipeline.fromProperties(spark, sf001,
        Map("timescaledb.experimental.decompression.markers" -> "true"))
      .select("lsn").as[Long].collect().sorted
    val batchExpected = graft.cdc.Cdc.markerSuppress(
        graft.cdc.Cdc.walEvents(spark, sf001))
      .filter(col("op").isin(ConfigPipeline.effectiveOps(Map.empty[String, String]): _*))
      .select("lsn").as[Long].collect().sorted
    assert(batchOn.sameElements(batchExpected),
      "batch fromProperties honors the marker arm")
    assert(batchOn.length <
      ConfigPipeline.fromProperties(spark, sf001, Map.empty).count(),
      "marker mode suppresses rows the default mode keeps")
  }

  test("marker mode without postgresql.pgoutput.path fails before any state exists") {
    // the brackets are tracked in the pgoutput decode walk; the parquet
    // stand-in has no frames to walk, so both entry points refuse the
    // combination, naming both keys, before a checkpoint is written
    val dir = Files.createTempDirectory("graft-cfg-marker-noseg").toString
    val props = Map(
      "sink.type" -> "null",
      "timescaledb.experimental.decompression.markers" -> "true",
      "statestorage.type" -> "file",
      "statestorage.file.path" -> s"$dir/ckpt")
    def named(e: Throwable): Boolean =
      e.getMessage.contains("timescaledb.experimental.decompression.markers") &&
        e.getMessage.contains("postgresql.pgoutput.path")
    val e1 = intercept[IllegalArgumentException] {
      ConfigPipeline.start(spark, sf001, props, dir)
    }
    assert(named(e1), e1.getMessage)
    assert(!new java.io.File(s"$dir/ckpt").exists(), "no checkpoint was created")
    val e2 = intercept[IllegalArgumentException] {
      graft.streaming.StreamPipeline.envelopeStream(spark, sf001, markerSuppress = true)
    }
    assert(named(e2), e2.getMessage)
  }

  test("streaming start() from config delivers the batch result through the sink") {
    val dir = Files.createTempDirectory("graft-cfg-sink").toString
    val ckpt = Files.createTempDirectory("graft-cfg-ckpt").toString
    val sink = new graft.sinks.CollectorSink
    graft.sinks.Sinks.register("collector-test", () => sink)
    val props = Map(
      "sink.type" -> "collector-test",
      "timescaledb.events.read" -> "false",
      "sink.filters.f1.condition" -> "user_id > 3",
      "statestorage.type" -> "file",
      "statestorage.file.path" -> s"$dir/ckpt")
    val q = ConfigPipeline.start(spark, sf001, props, ckpt)
    assert(q.awaitTermination(240000), "stream did not finish")
    val streamed = sink.rows.map(_.getAs[Long]("lsn")).sorted
    val batch = ConfigPipeline.fromProperties(spark, sf001, props - "statestorage.type")
      .select("lsn").as[Long].collect().sorted
    assert(streamed.length === batch.length)
    assert(streamed.sameElements(batch))
  }

  test("column.exclude.list drops and column.mask.hash.list hashes payload columns") {
    import org.apache.spark.sql.functions.col
    val out = ConfigPipeline.fromProperties(spark, sf001, Map(
      "column.exclude.list" -> "public.events.value",
      "column.mask.hash.list" -> "props"))
    assert(!out.columns.contains("value"), "excluded column dropped")
    val r = out.select(col("props")).head.getString(0)
    assert(r.matches("[0-9a-f]{64}"), s"masked column is sha256 hex, got $r")
    // equal plaintexts mask equally (pseudonymous joins preserved)
    assert(out.select(org.apache.spark.sql.functions.countDistinct(col("props")))
      .head.getLong(0) < out.count())
    intercept[IllegalArgumentException] {
      ConfigPipeline.fromProperties(spark, sf001,
        Map("column.exclude.list" -> "no_such_col"))
    }
  }

  test("transforms.unwrap applies the ExtractNewRecordState SMT last") {
    val base = Map("transforms.unwrap" -> "true")
    val dropped = ConfigPipeline.fromProperties(spark, sf001, base)
    assert(dropped.columns.contains("__op") && dropped.columns.contains("topic"))
    assert(!dropped.columns.contains("__deleted"), "drop mode: no soft-delete marker")
    assert(dropped.filter(org.apache.spark.sql.functions.col("__op") === "d").count() === 0)
    val rewritten = ConfigPipeline.fromProperties(spark, sf001,
      base + ("transforms.unwrap.delete.handling.mode" -> "rewrite",
        "sink.tombstone" -> "true"))
    import org.apache.spark.sql.functions.col
    assert(rewritten.filter(col("__deleted") === "true").count() > 0)
    // unwrap after tombstone fan-out: tombstones are delete rows too
    val plain = ConfigPipeline.fromProperties(spark, sf001,
      base + ("transforms.unwrap.delete.handling.mode" -> "rewrite"))
    assert(rewritten.count() > plain.count(), "tombstone rows survive rewrite mode")
    intercept[RuntimeException] {
      ConfigPipeline.fromProperties(spark, sf001,
        base + ("transforms.unwrap.delete.handling.mode" -> "bogus")).count()
    }
  }

  test("wire render survives exclude/mask/unwrap/tombstone configs; DLQ gates the render") {
    import org.apache.spark.sql.functions.{get_json_object, lit}
    def render(props: Map[String, String]) =
      ConfigPipeline.renderWireRows(ConfigPipeline.fromProperties(spark, sf001, props), props)
    // excluded payload column: envelope renders WITHOUT it, no crash
    val exProps = Map("column.exclude.list" -> "props", "sink.type" -> "kafka")
    val ex = render(exProps).filter(col("op") === "c").select("envelope").head.getString(0)
    assert(!ex.contains("props") && ex.contains("\"event_id\""))
    // masked props: envelope stays VALID JSON (the defensive to_json
    // path quotes the hash; a raw embed would corrupt the document)
    val mkProps = Map("column.mask.hash.list" -> "props", "sink.type" -> "kafka")
    val mk = render(mkProps).filter(col("op") === "c").select("envelope").head.getString(0)
    val parsedProps = spark.range(1)
      .select(get_json_object(lit(mk), "$.after.props")).head.getString(0)
    assert(parsedProps != null && parsedProps.length === 64, "masked hash rides as a JSON string")
    // unwrap: the flat record IS the value; the SMT rewrites only the
    // value, so the record KEY keeps the PK image (per-key partitioning
    // and compaction survive unwrapping)
    val uwProps = Map("transforms.unwrap" -> "true", "sink.type" -> "kafka")
    val uw = render(uwProps)
    assert(uw.select("key").head.getString(0).contains("\"event_id\""))
    val uwEnv = uw.select("envelope").head.getString(0)
    assert(spark.range(1).select(get_json_object(lit(uwEnv), "$.__op")).head.getString(0) != null)
    // unwrap + PK excluded: only then does the key fall back to null
    val uwNoPk = render(uwProps + ("column.exclude.list" -> "event_id"))
    assert(uwNoPk.select("key").head.isNullAt(0))
    // unwrap + a column the SMT projection itself references excluded:
    // typed-null stand-in, never an unresolved-column AnalysisException
    val uwExUser = render(uwProps + ("column.exclude.list" -> "user_id"))
    val uwExEnv = uwExUser.select("envelope").head.getString(0)
    assert(!uwExEnv.contains("\"user_id\":") || uwExEnv.contains("\"user_id\":null"),
      "excluded user_id renders as absent/null in the unwrapped value")
    assert(uwExUser.select("key").head.getString(0).contains("\"event_id\""),
      "the PK key survives excluding a different column")
    // masked PAYLOAD column (not props): the raw-concat envelope would
    // embed an unquoted sha2 hex / NULL the concat — must route through
    // the defensive branch and stay valid JSON
    val mkUser = render(Map("column.mask.hash.list" -> "user_id", "sink.type" -> "kafka"))
      .filter(col("op") === "c").select("envelope").head.getString(0)
    val mkUserVal = spark.range(1)
      .select(get_json_object(lit(mkUser), "$.after.user_id")).head.getString(0)
    assert(mkUserVal != null && mkUserVal.length === 64,
      "masked user_id rides as a quoted hash in valid JSON")
    val mkValue = render(Map("column.mask.hash.list" -> "value", "sink.type" -> "kafka"))
      .filter(col("op") === "c").select("envelope")
    assert(mkValue.filter(col("envelope").isNull).count() === 0,
      "masked value must not null out whole envelopes")
    // excluded envelope-METADATA column: the defensive render tolerates
    // the gap instead of an unresolved-column AnalysisException
    val exMeta = render(Map("column.exclude.list" -> "props,lsn", "sink.type" -> "kafka"))
      .filter(col("op") === "c").select("envelope").head.getString(0)
    assert(!exMeta.contains("\"lsn\"") && exMeta.contains("\"event_id\""))
    // logical messages render the MESSAGE envelope + {prefix} key
    val msgProps = Map("postgresql.events.message" -> "true", "sink.type" -> "kafka")
    val mRow = render(msgProps).filter(col("op") === "m").select("envelope", "key").head
    assert(mRow.getString(0).contains("\"message\":{\"content\":"))
    // the REAL per-row prefix rides both the envelope's message block
    // and the {prefix} key — no surface fabricates a constant
    val keyPrefix = spark.range(1).select(
      get_json_object(lit(mRow.getString(1)), "$.payload.prefix")).head.getString(0)
    val envPrefix = spark.range(1).select(
      get_json_object(lit(mRow.getString(0)), "$.payload.message.prefix")).head.getString(0)
    assert(keyPrefix != null && keyPrefix.nonEmpty && keyPrefix === envPrefix,
      s"key prefix '$keyPrefix' must equal the envelope's message.prefix '$envPrefix'")
    // tombstones: kafka gets the log-compaction contract (same key,
    // NULL value); a sink without null-value records drops the fan-out
    val tbProps = Map("sink.tombstone" -> "true", "sink.type" -> "kafka")
    val tb = render(tbProps)
    val tombs = tb.filter(col("is_tombstone"))
    assert(tombs.count() > 0 && tombs.filter(col("envelope").isNotNull).count() === 0)
    assert(tombs.filter(col("key").isNull).count() === 0, "tombstones keep the PK key")
    val ntProps = Map("sink.tombstone" -> "true", "sink.type" -> "nats")
    assert(render(ntProps).filter(col("is_tombstone")).count() === 0)
    // dedup id: rendered only for SQS, the one sink that reads it —
    // content-based, defined even for null-envelope tombstones (a kafka
    // primary with an SQS DLQ keeps those tombstones)
    assert(!tb.columns.contains("dedup_id"), "no SQS sink: no dedup id")
    val tbDlq = render(tbProps + ("sink.dlq.type" -> "sqs"))
    assert(tbDlq.filter(col("is_tombstone") && col("envelope").isNull).count() > 0)
    assert(tbDlq.filter(col("dedup_id").isNull).count() === 0)
    assert(render(Map("sink.type" -> "sqs")).columns.contains("dedup_id"))
    // the render gate considers the DLQ: a wire DLQ behind a non-wire
    // primary must receive renderable rows the day it engages
    assert(ConfigPipeline.needsWireRender(Map("sink.type" -> "stdout", "sink.dlq.type" -> "kafka")))
    assert(!ConfigPipeline.needsWireRender(Map("sink.type" -> "stdout")))
  }

  test("wire render: one-pass envelope, and column sinks get only the columns they read") {
    import org.apache.spark.sql.catalyst.expressions.Concat
    import org.apache.spark.sql.catalyst.plans.logical.Project
    def render(props: Map[String, String]) =
      ConfigPipeline.renderWireRows(ConfigPipeline.fromProperties(spark, sf001, props), props)
    val kafka = render(Map("sink.type" -> "kafka"))
    val plan = kafka.queryExecution.optimizedPlan
    val rendered = plan.collect { case p: Project => p.projectList }.flatten
      .filter(a => a.name == "envelope" || a.name == "key")
    assert(rendered.map(_.name).toSet === Set("envelope", "key"), plan.toString)
    assert(rendered.forall(_.collect { case c: Concat => c }.isEmpty),
      s"a Concat renders the envelope or key:\n$plan")
    assert(rendered.exists(_.collect { case e: graft.cdc.EventsEnvelope => e }.nonEmpty))
    assert(kafka.columns.toSeq === Seq("topic", "key", "envelope"))
    assert(render(Map("sink.type" -> "sqs")).columns.toSeq ===
      Seq("topic", "key", "envelope", "dedup_id"))
    assert(render(Map("sink.type" -> "kafka", "sink.dlq.type" -> "nats")).columns.toSeq ===
      Seq("topic", "key", "envelope"))
    // a sink that reads whole rows, as primary or DLQ, keeps the shaped
    // columns next to the rendered ones
    for (props <- Seq(Map("sink.type" -> "stdout", "sink.dlq.type" -> "kafka"),
                      Map("sink.type" -> "kafka", "sink.dlq.type" -> "http"),
                      Map("sink.type" -> "http"))) {
      val cols = render(props).columns.toSet
      assert(Set("op", "lsn", "event_id", "topic", "key", "envelope").subsetOf(cols),
        s"$props: $cols")
    }
  }

  test("production topology, ONE config map: SCRAM-PLUS over TLS → resilient spool → " +
    "typed decode via jdbc pg_type → full envelopes → kafka wire") {
    // every hop of a first-attach deployment, driven from a single
    // property map: the walsender requires channel-bound SCRAM over TLS,
    // wireTail dials with the CONFIGURED credentials/sslmode and spools
    // rotating segments, the decode rides the JDBC-bulk-loaded pg_type
    // resolver (event_type is a resolver-only enum oid), and the
    // envelopes land — rendered, CRC-verified — on a Produce-v3 broker
    import graft.cdc.PgOutput
    import graft.cdc.PgOutput.{RelCol, RelationMsg, InsertMsg, BeginMsg, CommitMsg, rowTuple, encode}
    val dir = Files.createTempDirectory("graft-topology").toString
    val src = Tables.events(spark, sf001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy("event_id").limit(30).collect()
    val labels = src.map(_.getString(3)).distinct.sorted
    val cols = Seq(RelCol(1, "event_id", 20, -1), RelCol(0, "ts", 1114, -1),
      RelCol(0, "user_id", 20, -1), RelCol(0, "event_type", 95104, -1),
      RelCol(0, "value", 701, -1), RelCol(0, "props", 25, -1))
    val frames: Seq[(Long, Array[Byte])] =
      (0x10L -> encode(RelationMsg(779, "public", "events", 'd'.toByte, cols))) +:
        src.zipWithIndex.flatMap { case (r, i) =>
          val base = 0x100L * (i + 1)
          Seq(
            base -> encode(BeginMsg(base + 0x20, 77000000L, 900 + i)),
            (base + 0x10) -> encode(InsertMsg(779, rowTuple(
              r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
              r.getDouble(4), r.getString(5)))),
            (base + 0x20) -> encode(CommitMsg(0, base + 0x20, base + 0x21, 77000000L)))
        }.toSeq
    val srv = new WalFakes.FakeWalsender(
      serverCtx = Some(WalFakes.serverCtxWithSan("ip:127.0.0.1")),
      auth = "scram", scramPassword = "s3cret-Pass", offerPlus = true,
      script = start => frames.filter(_._1 >= start), sendKeepalive = false)
    val broker = new FakeKafkaBroker
    val url = "jdbc:derby:memory:graft_pgtypes_topo;create=true"
    graft.sources.JdbcSideChannel.withConnection(url) { c =>
      val st = c.createStatement()
      try st.execute("DROP TABLE PG_TYPE_TOPO") catch { case _: java.sql.SQLException => }
      st.execute("CREATE TABLE PG_TYPE_TOPO (oid INT NOT NULL PRIMARY KEY, " +
        "typname VARCHAR(64), typtype CHAR(1), typelem INT, " +
        "typbasetype INT, enum_values VARCHAR(256))")
      st.execute("INSERT INTO PG_TYPE_TOPO VALUES (95104, 'evt_kind_topo', 'e', 0, 0, " +
        s"'${labels.mkString(",")}')")
    }
    val props = Map(
      "postgresql.connection" ->
        s"host=127.0.0.1 port=${srv.port} user=rep dbname=events_db sslmode=require",
      "postgresql.password" -> "s3cret-Pass",
      "postgresql.pgoutput.path" -> s"$dir/segments",
      "graft.wire.segment.frames" -> "10",
      "graft.pgtypes.jdbc" -> url,
      "graft.pgtypes.sql" ->
        "SELECT oid, typname, typtype, typelem, typbasetype, enum_values FROM PG_TYPE_TOPO",
      "sink.type" -> "kafka",
      "sink.kafka.brokers" -> s"127.0.0.1:${broker.port}",
      "statestorage.type" -> "file",
      "statestorage.file.path" -> s"$dir/ckpt")
    try {
      // hop 1-2: configured dial (TLS posture from sslmode, password from
      // config) + resilient spool to the configured segment path
      val finalLsn = ConfigPipeline.wireTail(spark, props)
      assert(finalLsn > 0L)
      assert(srv.sawMechanism === graft.sources.Scram.MechanismPlus,
        "the client must pick channel-bound SCRAM when the TLS server offers -PLUS")
      assert(srv.sawGs2 === "p=tls-server-end-point,,")
      val segs = spark.read.schema(PgOutput.frameSchema).parquet(s"$dir/segments")
      assert(segs.select("segment").distinct().count() >= 2L,
        "the 91-frame stream must rotate across segments")
      // hop 3-5: the SAME config map drives decode → envelopes → kafka
      val q = ConfigPipeline.start(spark, sf001, props, dir)
      assert(q.awaitTermination(300000), "topology stream did not finish")
      assert(broker.crcBad.get() === 0, "RecordBatch CRC32C must verify")
      val keptOps = ConfigPipeline.effectiveOps(props)
      val expected = Tables.events(spark, sf001)
        .orderBy("event_id").limit(30)
        .withColumn("op", graft.cdc.Cdc.opExpr(col("event_type")))
        .filter(col("op").isin(keptOps: _*) && col("op") =!= "m")
        .select("event_id").collect().map(_.getLong(0)).toSet
      val msgs = broker.messages.map(_.split("\\|", 3)).map(a => (a(0), a(1), a(2)))
      assert(msgs.nonEmpty && msgs.forall(_._1 === "timescaledb.public.events"))
      val keyIds = msgs.map(_._2).map { k =>
        "\"event_id\":(\\d+)".r.findFirstMatchIn(k).get.group(1).toLong
      }
      // the broker records a MULTISET: duplicates would fail the length
      // check, so this really is exactly-once, not at-least-once
      assert(keyIds.distinct.length === keyIds.length, "no duplicate deliveries")
      assert(keyIds.toSet === expected, "every gate-surviving insert, keyed, exactly once")
      // values are the FULL rendered envelopes: self-describing, op in
      // the payload, the row riding in `after` (creates/updates/reads)
      // or `before` (deletes)
      msgs.foreach { case (_, _, v) =>
        assert(v.startsWith("{\"payload\":{") && v.contains("\"schema\":"))
        assert(v.contains("\"after\":{\"event_id\":") ||
          v.contains("\"before\":{\"event_id\":"))
      }
    } finally {
      broker.close()
      spark.sql("SELECT 1").collect() // keep linters quiet about the session
    }
  }
}
