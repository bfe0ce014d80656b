package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.catalog.TableFilter
import graft.cdc.Cdc
import graft.filter.EventFilter
import graft.model.Envelope
import graft.sinks.Sinks

/** The reference's top-level config surface → one assembled pipeline:
  * what `replicator.go` builds from a parsed TOML/YAML config
  * (`spi/config/config.go`, README "Configuration"), re-expressed as a
  * declarative Catalyst plan. A user of the reference switches by
  * handing the SAME property keys to [[fromProperties]] (batch) or
  * [[start]] (streaming into the config-dispatched sink):
  *
  *   - `timescaledb.hypertables.includes`/`.excludes` — wildcard table
  *     selection (comma-separated patterns), applied as an `rlike`
  *     predicate from the SAME compiled regexes the catalog-side
  *     `TableFilter` uses — pushable into the scan.
  *   - `timescaledb.events.*` + `postgresql.events.message` — per-kind
  *     gates (read/insert/update/delete/truncate default TRUE;
  *     compression/decompression/message default FALSE, reference
  *     defaults per README).
  *   - `sink.filters.<name>.{condition,default,tables.includes,
  *     tables.excludes}` — Expr-dialect event filters, ALL AND-ed,
  *     per-filter table scoping with `default` fallback
  *     (`eventfilter.go:95-152`).
  *   - `sink.tombstone` — delete tombstone fan-out.
  *   - `topic.prefix` / `topic.namingstrategy.type` (only `debezium`).
  *   - `postgresql.snapshot.initial` / `postgresql.transaction.window.*`
  *     — validated here; the snapshot fence and the bounded streaming
  *     transaction window are the T4/T2 operators ([[Cdc.withSnapshotMode]],
  *     [[TxnAssembler]]).
  *   - `statestorage.type` = `file` → `statestorage.file.path` becomes
  *     the Structured Streaming checkpoint location (the X4 mapping).
  *
  * Unknown enum values fail loudly with the reference's vocabulary; the
  * plan itself stays a stream-static broadcast join + narrow filters, so
  * the config layer adds ZERO execution cost at any scale.
  */
object ConfigPipeline {

  final case class TxnWindow(enabled: Boolean, timeoutSeconds: Int, maxSize: Int)

  /** The reference's environment-variable form (README "Configuration"):
    * `postgresql.connection` ⇄ `POSTGRESQL_CONNECTION` — dots become
    * underscores, everything uppercased, and a LITERAL underscore in a
    * property name is doubled (`test.some_value` ⇄ `TEST_SOME__VALUE`).
    */
  def toEnvKey(property: String): String =
    property.replace("_", "__").replace(".", "_").toUpperCase

  /** Inverse mapping: `__` → literal `_`, remaining `_` → `.`,
    * lowercased, scanning left-to-right preferring the doubled pair.
    * Round-trips with [[toEnvKey]] for every reference property name
    * (property-tested). The scheme itself is ambiguous when a segment
    * STARTS with an underscore (`a._b` and `a_.b` both encode to
    * `A___B`) — no reference key has that shape, and the greedy decode
    * picks the `a_.b` (trailing-underscore) reading. */
  def fromEnvKey(env: String): String = {
    val sb = new StringBuilder
    var i = 0
    val s = env.toLowerCase
    while (i < s.length) {
      if (s.charAt(i) == '_') {
        if (i + 1 < s.length && s.charAt(i + 1) == '_') { sb.append('_'); i += 2 }
        else { sb.append('.'); i += 1 }
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** Merge an env-style map over file properties — env wins, matching
    * the reference's precedence. */
  def withEnvOverrides(props: Map[String, String],
                       env: Map[String, String]): Map[String, String] =
    props ++ env.map { case (k, v) => fromEnvKey(k) -> v }

  private def bool(props: Map[String, String], key: String, default: Boolean): Boolean =
    props.get(key) match {
      case None => default
      case Some(v) if v == "true" || v == "false" => v.toBoolean
      case Some(v) => throw new IllegalArgumentException(s"$key: illegal boolean '$v'")
    }

  private def list(props: Map[String, String], key: String): Seq[String] =
    props.get(key).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** Per-kind op gates for the event kinds this engine EMITS. The
    * reference's gates are per-TABLE-KIND, not two gates on one event:
    * `replicationresolver.go`'s OnInsertEvent consults
    * `genPostgresqlInsertEvent` only for vanilla-table events and
    * `genHypertableInsertEvent` only for hypertable/chunk events —
    * never both on the same event. This engine's stream is entirely
    * chunk-resolved HYPERTABLE events, so CRUD+truncate gate on
    * `timescaledb.events.*` alone; the `postgresql.events.*` CRUD keys
    * are accepted and shape-validated but inert (they would gate a
    * vanilla-table stream this engine doesn't model), exactly like the
    * decompression key. Message events are pg-side (no hypertable
    * variant), so `postgresql.events.message` is the real gate with the
    * deprecated `timescaledb.events.message` honored as a fallback.
    *
    * op='$' gates on `timescaledb.events.compression` ONLY: this
    * engine's stand-in chunk-transition rule synthesizes COMPRESSION
    * events (`tsdb_op="c"`), never decompression ones, so the
    * decompression key has no '$' rows to enable — it is accepted for
    * config compatibility and documented as inert (the decompression-
    * side behavior here is the INSERT suppression operator, P7). */
  def enabledOps(props: Map[String, String]): Seq[String] = {
    def ht(kind: String): Boolean = {
      // validate the pg-side twin's value shape even though it is inert
      bool(props, s"postgresql.events.$kind", default = true)
      bool(props, s"timescaledb.events.$kind", default = true)
    }
    val b = Seq(
      Envelope.Op.Read     -> ht("read"),
      Envelope.Op.Create   -> ht("insert"),
      Envelope.Op.Update   -> ht("update"),
      Envelope.Op.Delete   -> ht("delete"),
      Envelope.Op.Truncate -> ht("truncate"),
      Envelope.Op.Message  -> bool(props, "postgresql.events.message",
        default = bool(props, "timescaledb.events.message", default = false)),
      Envelope.Op.Timescale ->
        bool(props, "timescaledb.events.compression", default = false))
    // validate the inert key's value shape even though it gates nothing
    bool(props, "timescaledb.events.decompression", default = false)
    b.collect { case (op, true) => op }
  }

  def hypertableFilter(props: Map[String, String]): TableFilter =
    TableFilter(list(props, "timescaledb.hypertables.includes"),
      list(props, "timescaledb.hypertables.excludes"))

  /** The table filter as a Catalyst predicate over canonical
    * `schema.table` — same compiled regexes as the catalog-side
    * matcher, excludes win, empty includes = include-all. */
  def tablePredicate(tf: TableFilter, canonical: Column): Column = {
    val inc =
      if (tf.includeRegexes.isEmpty) lit(true)
      else tf.includeRegexes.map(canonical.rlike).reduce(_ || _)
    val exc =
      if (tf.excludeRegexes.isEmpty) lit(false)
      else tf.excludeRegexes.map(canonical.rlike).reduce(_ || _)
    inc && !exc
  }

  /** `sink.filters.<name>.*` groups → EventFilters, name-sorted for a
    * deterministic AND order (the reference iterates a map — AND is
    * commutative so order only affects short-circuit work). */
  def eventFilters(props: Map[String, String]): Seq[EventFilter] = {
    val Pat = """sink\.filters\.([^.]+)\.(.+)""".r
    val groups = props.keys.collect { case Pat(name, _) => name }.toSeq.distinct.sorted
    groups.map { name =>
      val base = s"sink.filters.$name"
      val condition = props.getOrElse(s"$base.condition",
        throw new IllegalArgumentException(s"$base.condition is mandatory"))
      EventFilter(condition,
        TableFilter(list(props, s"$base.tables.includes"),
          list(props, s"$base.tables.excludes")),
        defaultValue = bool(props, s"$base.default", default = true))
    }
  }

  private def int(props: Map[String, String], key: String, default: Int): Int =
    props.get(key) match {
      case None => default
      case Some(v) => v.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"$key: illegal integer '$v'"))
    }

  /** Parsed `postgresql.transaction.window.*` bounds. [[fromProperties]]
    * and [[start]] validate them up front but apply no window: a
    * consumer hands `maxSize` and `timeoutSeconds * 1000` to
    * [[TxnAssembler.txnStream]]. */
  def txnWindow(props: Map[String, String]): TxnWindow = {
    val tw = TxnWindow(
      bool(props, "postgresql.transaction.window.enabled", default = true),
      int(props, "postgresql.transaction.window.timeout", 60),
      int(props, "postgresql.transaction.window.maxsize", 10000))
    require(tw.timeoutSeconds > 0 && tw.maxSize > 0,
      s"transaction window bounds must be positive: $tw")
    tw
  }

  def snapshotMode(props: Map[String, String]): String = {
    val mode = props.getOrElse("postgresql.snapshot.initial", "never")
    require(Seq("always", "never", "initial_only").contains(mode),
      s"postgresql.snapshot.initial: illegal value '$mode'")
    mode
  }

  /** `postgresql.publication.{name,create,autodrop}` → the publication
    * lifecycle manager (`internal/publicationmanager/publicationmanager.go:35-45`;
    * name defaults to "" like `streamer.go:76` — `ensurePublication`
    * fails loudly on a missing unnamed publication with create off). */
  def publicationManager(props: Map[String, String],
                         preExisting: Option[Set[String]] = None): graft.catalog.PublicationManager =
    new graft.catalog.PublicationManager(
      props.getOrElse("postgresql.publication.name", ""),
      bool(props, "postgresql.publication.create", default = true),
      bool(props, "postgresql.publication.autodrop", default = true),
      preExisting)

  /** `postgresql.replicationslot.{name,create,autodrop}` → the slot
    * lifecycle manager. The name default mirrors the reference's random
    * 20-lowercase-letter fallback (`replicationcontext.go:73-75`) —
    * like `topic.prefix`, set it explicitly for resumable deployments
    * (a random slot name orphans the server-side cursor on restart). */
  def replicationSlotManager(props: Map[String, String],
                             preExisting: Boolean = false): graft.catalog.ReplicationSlotManager = {
    val name = props.getOrElse("postgresql.replicationslot.name",
      scala.util.Random.alphanumeric.filter(c => c >= 'a' && c <= 'z').take(20).mkString)
    new graft.catalog.ReplicationSlotManager(name,
      bool(props, "postgresql.replicationslot.create", default = true),
      bool(props, "postgresql.replicationslot.autodrop", default = true),
      preExisting)
  }

  /** `internal.snapshotter.parallelism` (default 5, `snapshotter.go:88`)
    * + `postgresql.snapshot.batchsize` (default 1000, `snapshotter.go:89`)
    * — the keyset-slice count and per-slice JDBC fetch size the fenced
    * snapshot runs with. */
  def snapshotterConfig(props: Map[String, String]): (Int, Int) = {
    val parallelism = int(props, "internal.snapshotter.parallelism", 5)
    val batchSize = int(props, "postgresql.snapshot.batchsize", 1000)
    require(parallelism > 0, s"internal.snapshotter.parallelism: must be > 0, got $parallelism")
    require(batchSize > 0, s"postgresql.snapshot.batchsize: must be > 0, got $batchSize")
    (parallelism, batchSize)
  }

  /** The config-assembled fenced snapshot: the slot lifecycle runs
    * first (create-or-adopt; create-disabled + missing fails loudly
    * BEFORE any scan), then the side-channel keyset snapshot runs at
    * the configured parallelism/batch size. The fence is the live
    * high-watermark probe in both cases — this harness has no server
    * to export a slot snapshot against, so the created-slot snapshot
    * name is informational (read it off the returned manager). */
  def configuredSnapshot(spark: SparkSession, url: String, schema: String,
                         table: String, keyCol: String,
                         props: Map[String, String],
                         slotPreExisting: Boolean = false)
      : (DataFrame, Long, graft.catalog.ReplicationSlotManager) = {
    val slot = replicationSlotManager(props, slotPreExisting)
    slot.createReplicationSlot()
    val (parallelism, batchSize) = snapshotterConfig(props)
    val (df, fence) = graft.sources.JdbcSideChannel.snapshot(
      spark, url, schema, table, keyCol, parts = parallelism, fetchSize = batchSize)
    (df, fence, slot)
  }

  /** libpq keyword/value DSN tokenizer: `key = value` pairs where a
    * value may be single-quoted (spaces inside) with `\'` / `\\`
    * escapes — a naive whitespace split silently mangles a password
    * containing a space into garbage that then fails AUTH instead of
    * failing loudly at parse. Unterminated quotes throw. */
  private def parseDsn(s: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    var i = 0
    val n = s.length
    def skipWs(): Unit = while (i < n && s.charAt(i).isWhitespace) i += 1
    while ({ skipWs(); i < n }) {
      val eq = s.indexOf('=', i)
      require(eq > i, s"postgresql.connection: malformed at '${s.substring(i)}'")
      val key = s.substring(i, eq).trim
      i = eq + 1
      skipWs() // libpq allows whitespace around '='
      val sb = new StringBuilder
      if (i < n && s.charAt(i) == '\'') {
        i += 1
        var closed = false
        while (i < n && !closed) s.charAt(i) match {
          case '\\' if i + 1 < n => sb.append(s.charAt(i + 1)); i += 2
          case '\''              => closed = true; i += 1
          case c                 => sb.append(c); i += 1
        }
        require(closed, "postgresql.connection: unterminated quoted value")
      } else {
        while (i < n && !s.charAt(i).isWhitespace) {
          if (s.charAt(i) == '\\' && i + 1 < n) { sb.append(s.charAt(i + 1)); i += 2 }
          else { sb.append(s.charAt(i)); i += 1 }
        }
      }
      out(key) = sb.toString
    }
    out.toMap
  }

  /** `postgresql.connection` + `postgresql.password` → the (jdbcUrl,
    * user, password) triple the JDBC side channel dials. Accepts both
    * pgx connection forms (`streamer.go:57-71` hands the string to
    * `pgx.ParseConfig`): the keyword/value DSN (`host=h port=5432
    * user=u dbname=d password=p`) and the `postgres://u:p@h:5432/d`
    * URL. `postgresql.password`, when set, OVERRIDES any password
    * embedded in the connection string — the reference's precedence.
    * dbname falls back to the user name (the libpq rule pgx applies). */
  /** The parsed (host, port, dbname, user, password?) quintuple both
    * dialers share — JDBC side channel and the [[graft.sources.PgWire]]
    * replication probe must see the SAME address or a config typo
    * passes one check and fails the other. */
  /** Lenient postgres:// URL split — libpq semantics, NOT java.net.URI:
    * userinfo may carry unencoded '@'/space/'?' (libpq tolerates what
    * URI rejects with a raw URISyntaxException). The authority is the
    * span before the FIRST '/' after the scheme; the userinfo boundary
    * is the LAST '@' inside that span (so a '@' in the query or path —
    * legal per RFC 3986 — never truncates the host or query); '?' is
    * searched only after that boundary (so a '?' in a password never
    * masquerades as the query separator). The one ambiguity left
    * unresolvable without percent-encoding is '/' inside a password.
    * Returns (userinfo, hostport, path, query). */
  private[graft] def splitUrl(conn: String): (String, String, String, String) = {
    val scheme = conn.indexOf("://")
    require(scheme > 0, s"not a URL: $conn")
    val rest0 = conn.substring(scheme + 3)
    val firstSlash = rest0.indexOf('/')
    val authEnd = if (firstSlash >= 0) firstSlash else rest0.length
    val at = rest0.lastIndexOf('@', authEnd - 1)
    val userinfo = if (at >= 0) rest0.substring(0, at) else ""
    val rest = rest0.substring(at + 1)
    val q = rest.indexOf('?')
    val (beforeQ, query) =
      if (q >= 0) (rest.substring(0, q), rest.substring(q + 1)) else (rest, "")
    val slash = beforeQ.indexOf('/')
    val (hostport, path) =
      if (slash >= 0) (beforeQ.substring(0, slash), beforeQ.substring(slash + 1))
      else (beforeQ, "")
    (userinfo, hostport, path, query)
  }

  def connectionParts(props: Map[String, String]): (String, Int, String, String, Option[String]) = {
    val conn = props.getOrElse("postgresql.connection", "host=localhost user=repl_user")
    val (host, port, dbOpt, userOpt, passOpt) =
      if (conn.startsWith("postgres://") || conn.startsWith("postgresql://")) {
        val (ui, hostport, path, _) = splitUrl(conn)
        val userInfo = ui.split(":", 2)
        // port = the suffix after the LAST ':' when it is all digits
        // (an unencoded-IPv6 or portless host keeps the whole span)
        val colon = hostport.lastIndexOf(':')
        val portStr = if (colon >= 0) hostport.substring(colon + 1) else ""
        val hasPort = portStr.nonEmpty && portStr.forall(_.isDigit)
        (Some(if (hasPort) hostport.substring(0, colon) else hostport)
           .filter(_.nonEmpty).getOrElse("localhost"),
         if (hasPort) portStr.toInt else 5432,
         Some(path).filter(_.nonEmpty),
         userInfo.headOption.filter(_.nonEmpty),
         if (userInfo.length > 1) Some(userInfo(1)) else None)
      } else {
        val kv = parseDsn(conn)
        (kv.getOrElse("host", "localhost"),
         kv.get("port").map(_.toInt).getOrElse(5432),
         kv.get("dbname"), kv.get("user"), kv.get("password"))
      }
    val user = userOpt.getOrElse("")
    (host, port, dbOpt.orElse(userOpt).getOrElse(""), user, passOpt)
  }

  def jdbcConnection(props: Map[String, String]): (String, String, String) = {
    val (host, port, db, user, passOpt) = connectionParts(props)
    val password = props.get("postgresql.password").filter(_.nonEmpty)
      .orElse(passOpt).getOrElse("")
    (s"jdbc:postgresql://$host:$port/$db", user, password)
  }

  /** `sslmode` from the connection string (DSN keyword or URL query
    * param), libpq's names: disable/allow/prefer → plaintext (prefer's
    * opportunistic upgrade is a client nicety, not a guarantee — the
    * probe treats it as its effective floor), require → TLS without
    * certificate verification (libpq's documented require), verify-ca/
    * verify-full → TLS against the JVM default trust store, verify-full
    * additionally checking the hostname. Unknown modes fail loudly. */
  def sslMode(props: Map[String, String]): String = {
    val conn = props.getOrElse("postgresql.connection", "")
    val mode =
      if (conn.startsWith("postgres://") || conn.startsWith("postgresql://"))
        // the shared lenient splitter (splitUrl): unencoded userinfo
        // tolerated, and a '@' in the query/path — legal per RFC 3986 —
        // never truncates the query (that would silently downgrade a
        // configured verify-full to the 'prefer' default)
        splitUrl(conn)._4.split("&")
          .map(_.split("=", 2)).collectFirst { case Array("sslmode", v) => v }
          .getOrElse("prefer")
      else parseDsn(conn).getOrElse("sslmode", "prefer")
    require(Set("disable", "allow", "prefer", "require", "verify-ca", "verify-full")(mode),
      s"unknown sslmode '$mode' in postgresql.connection")
    mode
  }

  /** Startup connection validation over the REPLICATION protocol — the
    * reference connects and identifies the system before streaming
    * (`internal/streamer.go:57-71` via pgx; `replicationcontext.go`
    * IdentifySystem). Opt-in (`graft.wire.probe=true`): this harness
    * streams from files, so a live walsender is only present when the
    * user points one at us. Returns the IDENTIFY_SYSTEM row; fails
    * loudly (connect refusal, auth mismatch, server ErrorResponse)
    * BEFORE any pipeline state is created. The probe dials with the
    * CONFIGURED credentials and sslmode — `postgresql.password`
    * (overriding any password embedded in the connection string, the
    * reference's precedence) feeds the SCRAM exchange, and the
    * connection string's `sslmode` selects the TLS posture, so a
    * SCRAM-requiring or TLS-requiring server validates instead of
    * failing a config that would work. */
  def wireProbe(props: Map[String, String]): Seq[Option[String]] = {
    val client = replicationDial(props)()
    try client.identifySystem()
    finally client.close()
  }

  /** The configured replication dial: `postgresql.connection`, with
    * `postgresql.password` overriding a password in the connection
    * string (the reference's precedence), and the sslmode's TLS posture.
    * The config is parsed and validated now; each call of the result
    * opens a connection and completes the startup handshake. */
  private def replicationDial(props: Map[String, String]): () => graft.sources.PgReplicationClient = {
    val (host, port, db, user, passOpt) = connectionParts(props)
    val password = props.get("postgresql.password").filter(_.nonEmpty)
      .orElse(passOpt).getOrElse("")
    val (sslCtx, verifyHost) = sslMode(props) match {
      case "disable" | "allow" | "prefer" => (None, false)
      case "require" => (Some(graft.sources.PgWire.permissiveTlsContext()), false)
      case "verify-ca" => (Some(javax.net.ssl.SSLContext.getDefault), false)
      case "verify-full" => (Some(javax.net.ssl.SSLContext.getDefault), true)
    }
    () => {
      val client = new graft.sources.PgReplicationClient(host, port, user, db,
        password = password, sslContext = sslCtx, sslVerifyHostname = verifyHost)
      try { client.handshake(); client }
      catch { case e: Throwable => client.close(); throw e }
    }
  }

  /** Config-driven wire attach — the missing half of the first-attach
    * topology: dial the CONFIGURED walsender (`postgresql.connection` +
    * `postgresql.password` + sslmode → TLS posture, SCRAM/-PLUS
    * negotiated by the client exactly as [[wireProbe]] dials), start
    * replication on the configured slot/publication, and spool frames
    * into `postgresql.pgoutput.path` through the RESILIENT tailer
    * (reconnect-from-committed-LSN on socket death). Blocks until the
    * walsender finishes (CopyDone/close with no reconnect progress) and
    * returns the final committed LSN. Run it on its own thread next to
    * [[start]] pointed at the same path and the decode side consumes
    * segments WHILE this spools them — the full reference topology
    * (`replicationchannel.go:115-215` feeding the event pipeline) from
    * ONE config map. `graft.wire.segment.frames` sizes segment rotation
    * (default 1024 frames — at production WAL rates, seconds of data
    * per parquet commit). */
  def wireTail(spark: SparkSession, props: Map[String, String],
               startLsn: Long = 0L): Long = {
    val dial = replicationDial(props)
    val dir = props.getOrElse("postgresql.pgoutput.path",
      throw new IllegalArgumentException(
        "wireTail requires postgresql.pgoutput.path — the segment spool directory"))
    val slot = props.getOrElse("postgresql.replicationslot.name", "graft_slot")
    val publication = props.getOrElse("postgresql.publication.name", "graft_pub")
    val framesPerSegment = int(props, "graft.wire.segment.frames", 1024)
    def connect(lsn: Long): graft.sources.PgReplicationClient = {
      val c = dial()
      c.startReplication(slot, publication, lsn)
      c
    }
    graft.sources.PgWireTailer.tailResilient(spark, connect, startLsn, dir,
      framesPerSegment = framesPerSegment)
  }

  /** DOCUMENTED DEVIATION: the reference generates a RANDOM 20-char
    * prefix when `topic.prefix` is unset (`internal/streamer.go:81-82`);
    * a random default is untestable and breaks checkpoint resume across
    * restarts (topics would rename), so the deterministic `timescaledb`
    * default stands in — set the key explicitly for reference-identical
    * behavior. */
  def topicPrefix(props: Map[String, String]): String =
    props.getOrElse("topic.prefix", "timescaledb")

  /** `topic.namingstrategy.type` dispatch through the plugin-extensible
    * registry (`wiremodules.go:73`; plugins register via
    * [[graft.spi.Plugins]]). Classpath plugins are loaded first, so a
    * strategy shipped as a jar resolves here with zero code changes —
    * `streamer.go:87-90` ordering. */
  def namingStrategy(props: Map[String, String]): graft.spi.NamingStrategy = {
    graft.spi.Plugins.load()
    graft.spi.NamingStrategies.create(
      props.getOrElse("topic.namingstrategy.type", "debezium"))
  }

  /** Shared post-envelope transform chain: table selection → event
    * filters → topic naming → optional tombstones. One code path for
    * the batch and streaming forms (the envelope input differs). */
  private def shape(envelope: DataFrame, props: Map[String, String]): DataFrame = {
    val prefix = topicPrefix(props)
    val naming = namingStrategy(props)
    // column privacy FIRST — Debezium applies exclude/mask at capture,
    // before filters or SMTs can observe a plaintext byte. Entries are
    // `schema.table.column` (canonical) or bare column names.
    def colList(key: String): Seq[String] =
      list(props, key).map(_.split('.').last)
    val masked = Cdc.maskColumns(envelope,
      exclude = colList("column.exclude.list"),
      maskHash = colList("column.mask.hash.list"))
    val selected = masked.filter(tablePredicate(hypertableFilter(props),
      concat_ws(".", col("schema_name"), col("table_name"))))
    val filtered = eventFilters(props).foldLeft(selected)((df, f) => f.apply(df))
    val named = filtered.withColumn("topic",
      naming.topicName(prefix, col("schema_name"), col("table_name")))
    val withTomb =
      if (bool(props, "sink.tombstone", default = false)) Cdc.withTombstones(named)
      else named
    // Debezium SMT surface: `transforms.unwrap` applies
    // ExtractNewRecordState LAST (after filters/naming/tombstones, the
    // SMT position in a Debezium chain); delete records follow
    // `transforms.unwrap.delete.handling.mode` (drop|rewrite) — drop
    // also drops tombstone fan-out rows, Debezium's drop.tombstones
    // default. The topic column rides through for the sink dispatch.
    if (bool(props, "transforms.unwrap", default = false)) {
      // the SMT rewrites only the record VALUE — the Kafka record key
      // (PK image) is untouched, so it rides beside the unwrapped row
      // as a render-internal column (renderWireRows keys on it and
      // keeps it OUT of the value JSON); absent when column privacy
      // already dropped the PK
      val keyed =
        if (withTomb.columns.contains("event_id"))
          withTomb.withColumn("__key_event_id", col("event_id"))
        else withTomb
      Cdc.unwrapNewRecordState(keyed,
        props.getOrElse("transforms.unwrap.delete.handling.mode", "drop"),
        passthrough = Seq("topic") ++
          (if (keyed.columns.contains("__key_event_id")) Seq("__key_event_id")
           else Nil))
    } else withTomb
  }

  /** Gate set with the snapshot mode APPLIED: in this engine's model,
    * snapshot reads ARE the op='r' rows (T8 — `Cdc.withSnapshotMode`
    * fence semantics), so `never` drops reads, `initial_only` keeps
    * ONLY reads, and `always` (which the reference declares not yet
    * implemented) runs snapshot + stream — implemented here and
    * documented as surface the reference intends but lacks. */
  def effectiveOps(props: Map[String, String]): Seq[String] = {
    val base = enabledOps(props)
    snapshotMode(props) match {
      case "never"        => base.filterNot(_ == Envelope.Op.Read)
      case "initial_only" => base.filter(_ == Envelope.Op.Read)
      case "always"       => base
    }
  }

  /** `timescaledb.experimental.decompression.markers`: selects the
    * 2.12+ MARKER decompression flow (exact
    * `::timescaledb-decompression-start/end` prefix gating, P7
    * suppression of the bracketed re-INSERTs) over the default
    * status-machine mode — the config analog of the reference's
    * version gate (`transactiontracker.go:376-415` activates on
    * TSDB ≥ 2.12). The streaming form tracks the brackets in the
    * pgoutput decode walk, so it requires `postgresql.pgoutput.path`
    * ([[start]] rejects it without one); batch [[fromProperties]]
    * applies the `Cdc.markerSuppress` window to the parquet stand-in. */
  def markerMode(props: Map[String, String]): Boolean =
    bool(props, "timescaledb.experimental.decompression.markers",
      default = false)

  /** Batch assembly (snapshot-mode aware) — the testable form. */
  def fromProperties(spark: SparkSession, dir: String,
                     props: Map[String, String]): DataFrame = {
    txnWindow(props) // validate the full surface up front
    shape(Cdc.envelopePipeline(spark, dir, effectiveOps(props),
      markerSuppress = markerMode(props)), props)
  }

  /** Streaming assembly into the config-dispatched sink. Checkpoint
    * location = `statestorage.file.path` when `statestorage.type=file`
    * (the reference's file state storage), else the caller's default. */
  def start(spark: SparkSession, dir: String, props: Map[String, String],
            defaultCheckpointDir: String): StreamingQuery =
    startWithControlPlane(spark, dir, props, defaultCheckpointDir)._1

  /** [[start]] plus the control-plane managers it assembled — the
    * testable form (the managers' lifecycle state is asserted after the
    * query terminates). Publication/slot lifecycle runs only when the
    * respective name is CONFIGURED: the reference always runs both
    * (random slot name, "" publication), but an unnamed publication is
    * a server-side error there too, and a random slot orphans the
    * cursor — naming them is the deployable configuration. Shutdown
    * parity (`replicator.go` stop path): query termination auto-drops
    * the slot (only if created here + autodrop) and closes the
    * publication manager (auto-drop under publication.autodrop). */
  private val wireSinkTypes = Set("kafka", "nats", "redis", "kinesis", "http", "sqs")

  private[graft] def needsWireRender(props: Map[String, String]): Boolean =
    wireSinkTypes.contains(props.getOrElse("sink.type", "stdout").toLowerCase) ||
      wireSinkTypes.contains(props.getOrElse("sink.dlq.type", "").toLowerCase)

  /** Wire-row rendering over the SHAPED stream — the step between the
    * column pipeline and byte-consuming sinks. Shape-aware by design:
    * `shape()` can drop payload columns (`column.exclude.list`), turn
    * them into hash strings (`column.mask.hash.list`), fan deletes out
    * into tombstone rows, or replace the envelope columns wholesale
    * (`transforms.unwrap`), and the render must produce VALID wire rows
    * under every combination rather than an unresolved-column crash:
    *
    *  - unwrap mode: the unwrapped record IS the value (Debezium
    *    ExtractNewRecordState semantics) — a flat JSON object; the SMT
    *    rewrites only the value, so the record KEY keeps the PK image
    *    (per-key partitioning/compaction survive unwrapping) and falls
    *    back to the protocol null only when shaping dropped the PK;
    *  - full payload intact: the reference-exact [[Cdc.eventsEnvelopeCols]]
    *    (per-op before/after images, op='m' message envelopes +
    *    `{prefix}` keys, schema descriptors);
    *  - excluded/masked payload: a defensive `to_json` render over the
    *    SURVIVING payload columns (masked values render masked — the
    *    capture-time privacy contract; a raw-embedded masked `props`
    *    would otherwise corrupt the JSON);
    *  - tombstone fan-out rows (`sink.tombstone=true`): Kafka gets the
    *    log-compaction contract — the SAME key with a protocol NULL
    *    value; sinks without null-value records (NATS/Redis/HTTP/SQS/
    *    Kinesis) drop the fan-out row and keep the delete event;
    *  - the SQS FIFO dedup id is CONTENT-based over (topic, envelope,
    *    key) — robust to any of the above reshapes — and is rendered
    *    only when the primary or the DLQ sink is SQS;
    *  - when every configured sink (primary and DLQ) reads named columns
    *    only, the frame ends with a select of `topic`, `key`,
    *    `envelope` (and `dedup_id` for SQS), so the micro-batch does
    *    not materialize shaped columns no sink reads.
    */
  private[graft] def renderWireRows(shaped: DataFrame,
                                    props: Map[String, String]): DataFrame = {
    val cols = shaped.columns.toSet
    def colNames(key: String): Set[String] =
      list(props, key).map(_.split('.').last).toSet
    val masked = colNames("column.mask.hash.list")
    val payloadCols = Seq("event_id", "props", "user_id", "value")
    val sinkType = props.getOrElse("sink.type", "stdout").toLowerCase
    // PK key when the column survives shaping, protocol null otherwise —
    // shared by unwrap and defensive renders (Debezium semantics: the
    // ExtractNewRecordState SMT rewrites only the VALUE, the record key
    // is preserved, so unwrapped streams keep per-key partitioning and
    // log compaction)
    val pkKey =
      if (cols.contains("event_id")) to_json(struct(col("event_id")))
      else lit(null).cast(org.apache.spark.sql.types.StringType)
    val withEnvelope =
      if (bool(props, "transforms.unwrap", default = false)) {
        // msg_prefix is envelope-render metadata, not record data — it
        // must not leak into the unwrapped value JSON
        val valueCols = shaped.columns
          .filterNot(c => c == "topic" || c == "__key_event_id" ||
            c == "msg_prefix").toSeq.sorted
        val unwrapKey =
          if (cols.contains("__key_event_id"))
            to_json(struct(col("__key_event_id").as("event_id")))
          else lit(null).cast(org.apache.spark.sql.types.StringType)
        shaped.withColumn("envelope", to_json(struct(valueCols.map(col): _*)))
          .withColumn("key", unwrapKey)
          .drop("__key_event_id")
      } else if ((payloadCols :+ "msg_prefix").forall(cols.contains) &&
                 masked.intersect(payloadCols.toSet).isEmpty) {
        // the reference-exact raw-concat envelope is only valid when NO
        // payload column was rewritten by masking: a masked user_id /
        // event_id would embed an unquoted sha2 hex (invalid JSON), a
        // masked value turns floor(sha2*100) NULL and nulls the whole
        // concat — every masked-payload config routes through the
        // defensive to_json branch instead. msg_prefix must also have
        // survived shaping: the op='m' render embeds the REAL prefix
        val (env, key) = Cdc.eventsEnvelopeCols("graft")
        shaped.withColumn("envelope", env).withColumn("key", key)
      } else {
        val surviving = payloadCols.filter(cols.contains)
        val rowStruct = struct(surviving.map(col): _*)
        // column.exclude.list may drop ANY column, envelope metadata
        // included — tolerate the gap (to_json omits null fields) so the
        // "never an unresolved-column crash" contract holds under every
        // exclude list
        def meta(name: String, tpe: org.apache.spark.sql.types.DataType) =
          (if (cols.contains(name)) col(name) else lit(null).cast(tpe)).as(name)
        import org.apache.spark.sql.types.{LongType, StringType}
        val opCol =
          if (cols.contains("op")) col("op") else lit(null).cast(StringType)
        val payload = struct(
          when(opCol.isin(Envelope.Op.Update, Envelope.Op.Delete), rowStruct)
            .as("before"),
          when(opCol.isin(Envelope.Op.Read, Envelope.Op.Create, Envelope.Op.Update),
            rowStruct).as("after"),
          opCol.as("op"),
          struct(meta("schema_name", StringType), meta("table_name", StringType),
            meta("lsn", LongType), meta("xid", LongType),
            meta("ts_ms", LongType)).as("source"),
          meta("ts_ms", LongType))
        shaped.withColumn("envelope", to_json(payload))
          .withColumn("key", pkKey)
      }
    val tombAware =
      if (!cols.contains("is_tombstone")) withEnvelope
      else if (sinkType == "kafka")
        withEnvelope.withColumn("envelope",
          when(col("is_tombstone"), lit(null)
            .cast(org.apache.spark.sql.types.StringType))
            .otherwise(col("envelope")))
      else withEnvelope.filter(!col("is_tombstone"))
    // only the SQS sink reads the dedup id; foreachBatch hands sinks a
    // Dataset over the already-planned rows, so a sink's select cannot
    // prune an unread column and every render would hash every envelope
    val withDedup =
      if (!readsDedupId(props)) tombAware
      else tombAware.withColumn("dedup_id",
        sha2(concat_ws("|", col("topic"),
          coalesce(col("envelope"), lit("∅")),
          coalesce(col("key"), lit(""))), 256))
    // for the same reason, hand sinks that read named columns only those
    // columns; a stdout, file, collector or HTTP sink (which posts whole
    // rows) anywhere in the config keeps the shaped columns
    val dlqType = props.get("sink.dlq.type").map(_.toLowerCase)
    if (!(sinkType +: dlqType.toSeq).forall(columnSinkTypes.contains)) withDedup
    else withDedup.select((Seq("topic", "key", "envelope") ++
      (if (readsDedupId(props)) Seq("dedup_id") else Nil)).map(col): _*)
  }

  /** Wire sinks that read only `topic`, `key`, `envelope` and (SQS)
    * `dedup_id`. */
  private val columnSinkTypes = wireSinkTypes - "http"

  /** The primary or the dead-letter sink is SQS, the one sink that
    * reads `dedup_id`. */
  private def readsDedupId(props: Map[String, String]): Boolean =
    Seq("sink.type", "sink.dlq.type").exists(k => props.get(k).exists(_.equalsIgnoreCase("sqs")))

  def startWithControlPlane(spark: SparkSession, dir: String,
                            props: Map[String, String],
                            defaultCheckpointDir: String)
      : (StreamingQuery,
         Option[graft.catalog.PublicationManager],
         Option[graft.catalog.ReplicationSlotManager]) = {
    txnWindow(props)
    StreamPipeline.requireWireForMarkers(markerMode(props),
      props.get("postgresql.pgoutput.path"))
    val pubM = props.get("postgresql.publication.name").filter(_.nonEmpty)
      .map(_ => publicationManager(props))
    pubM.foreach(_.ensurePublication())
    val slotM = props.get("postgresql.replicationslot.name").filter(_.nonEmpty)
      .map(_ => replicationSlotManager(props))
    slotM.foreach(_.createReplicationSlot())
    // plugin-extensible statestorage dispatch (spi/statestorage analog;
    // built-ins: file = reference file storage, rocksdb = checkpoint like
    // file but keyed state in a native RocksDB per executor — the
    // production setting once stream-stream joins / dedup / SCD2 state
    // outgrows the JVM heap, none = caller default). Classpath plugins
    // load first (streamer.go:87-90 ordering).
    graft.spi.Plugins.load()
    val ckpt = graft.spi.StateStorages
      .create(props.getOrElse("statestorage.type", "none"))
      .checkpointLocation(spark, props, defaultCheckpointDir)
    val sink = Sinks.fromConfig(props)
    // Prometheus scrape surface, reference parity: stats.enabled default
    // true, stats.port default 8081 (stats.go:35-100); one listener +
    // server per JVM however many pipelines start. The key starts or
    // skips the endpoint only: the observe nodes are always in the plan
    if (bool(props, "stats.enabled", default = true))
      StatsEndpoint.ensure(spark, props.getOrElse("stats.port", "8081").toInt,
        runtimeStats = bool(props, "stats.runtime.enabled", default = true))
    // WAL source dispatch: `postgresql.pgoutput.path` switches the
    // stream onto binary pgoutput segment blobs (the wire-decode path);
    // default is the parquet stand-in. Same downstream pipeline either way.
    // `graft.pgtypes.jdbc` (optional JDBC url, `graft.pgtypes.sql` the
    // catalog query when the server isn't PostgreSQL-shaped) bulk-loads
    // pg_type at STARTUP — the reference's typemanager.initialize
    // (`typemanager.go:111-138` fed by `queries.go:36-63`) — and the
    // loaded resolver rides the decode closure to every executor.
    val typeResolver = props.get("graft.pgtypes.jdbc") match {
      case Some(url) => graft.sources.JdbcSideChannel.pgTypeResolver(url,
        props.getOrElse("graft.pgtypes.sql", graft.sources.JdbcSideChannel.PgTypesQuery))
      case None => graft.types.TypeRegistry.Resolver.empty
    }
    val shaped = shape(StreamPipeline.envelopeStream(spark, dir, effectiveOps(props),
      pgoutputPath = props.get("postgresql.pgoutput.path"),
      typeResolver = typeResolver,
      markerSuppress = markerMode(props)), props)
    // Wire sinks consume RENDERED rows (topic, key, envelope and, for
    // SQS, a content dedup id) — render HERE, after filters and masking, so an
    // excluded/masked column can never leak into an envelope byte.
    // Collector/stdout/file paths keep the shaped columns (the
    // reference's sinks all take the serialized envelope,
    // `spi/sink/sink.go:30-36`; the column forms exist for testability).
    // The gate considers the DLQ too: a wire DLQ behind a non-wire
    // primary must receive renderable rows on the day it engages.
    val rendered =
      if (needsWireRender(props)) renderWireRows(shaped, props) else shaped
    // channel counters are observed inside envelopeStream, ahead of chunk
    // resolution (the reference counts them at the replication handler,
    // before anything resolves or filters — replicationhandler.go:41),
    // and emitted here, on the rows the sink gets (eventemitter.go:51),
    // so the channel/emitted gap every reference dashboard plots shows
    // what resolution and the filters dropped
    val query = rendered.observe("graft_emitted", count(lit(1)).as("n_emitted"))
      .writeStream
      .queryName(topicPrefix(props))
      .option("checkpointLocation", ckpt)
      .foreachBatch((batch: DataFrame, id: Long) => sink.emit(batch, id))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    if (pubM.nonEmpty || slotM.nonEmpty) {
      val qid = query.id
      // shutdown is idempotent (drop guards on created/dropped, close on
      // closed), so the belt-and-suspenders below can double-fire safely
      def shutdown(): Unit = {
        slotM.foreach(_.dropReplicationSlot())
        pubM.foreach(_.close())
      }
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == qid) {
            shutdown()
            spark.streams.removeListener(this)
          }
      }
      spark.streams.addListener(listener)
      // a fast AvailableNow query can terminate BEFORE addListener ran —
      // the bus never replays missed events, so a late registration
      // would silently skip the drop and leak the listener; check once
      // after registering and run the shutdown inline if we lost the race
      if (!query.isActive) {
        shutdown()
        spark.streams.removeListener(listener)
      }
    }
    (query, pubM, slotM)
  }
}
