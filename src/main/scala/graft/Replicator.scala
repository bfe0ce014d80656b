package graft

/** The standalone entry point — the analog of the reference's binary
  * (`cmd/timescaledb-event-streamer/main.go:129-175`): read a config
  * file (TOML or flat `key=value` properties), overlay environment
  * variables, validate, assemble the configured pipeline, run until
  * the stream ends or the process is signalled.
  *
  * `spark-submit --class graft.Replicator <jar> <config> [dataDir]`.
  * The data directory (the WAL stand-in this harness streams from) can
  * also come from the `graft.data.dir` property — the one
  * engine-specific key, everything else is the reference's surface.
  *
  * Parity choices:
  *   - `.toml` selects the TOML parser, `.yaml`/`.yml` the YAML parser
  *     (`unmarshall.go` + `main.go:145-146` pick by extension the same
  *     way; both arms land in one flat property map, like the
  *     reference's one Config struct), anything else reads flat
  *     properties;
  *   - env overlay accepts only variables whose prefix maps to a known
  *     config namespace (POSTGRESQL_/TIMESCALEDB_/SINK_/TOPIC_/
  *     STATS_/STATESTORAGE_/INTERNAL_/GRAFT_) — a blanket
  *     `fromEnvKey(PATH)` overlay would invent junk properties;
  *   - a missing `postgresql.connection` is NOT fatal here, unlike the
  *     reference's exit code 6: this harness streams from files, so
  *     the connection string is only required when a JDBC side channel
  *     is actually configured (documented deviation);
  *   - SIGTERM/SIGINT stop the query gracefully via a shutdown hook —
  *     the control-plane listener then drops the slot / publication
  *     per their autodrop config, the reference's stop path.
  */
object Replicator {

  /** Minimal TOML subset — exactly what the reference's config files
    * use (`spi/config/unmarshall.go` + README examples): `[table]` /
    * `[table.sub]` headers, `key = value` pairs with basic-string,
    * literal-string, boolean, integer/float, and flat string-array
    * values, `#` comments. Arrays flatten to comma-joined strings
    * (the form every `*.includes`/`*.excludes` key already parses).
    * Dotted keys flatten as written (the reference's example config is
    * entirely dotted keys); keys and table headers case-fold to
    * lowercase, matching both parseYaml and the reference's
    * case-insensitive struct-tag matching. Unsupported TOML
    * (array-of-tables,
    * multiline strings) fails loudly rather than mis-reading. */
  def parseToml(text: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    var section = ""
    def stripComment(line: String): String = {
      // escape-aware: inside a basic string \" stays in-string and \\
      // consumes the backslash so a following real quote still closes
      var inBasic = false; var inLiteral = false; var esc = false
      var i = 0
      while (i < line.length) {
        val c = line.charAt(i)
        if (inBasic) {
          if (esc) esc = false
          else if (c == '\\') esc = true
          else if (c == '"') inBasic = false
        } else c match {
          case '"' if !inLiteral  => inBasic = true
          case '\'' => inLiteral = !inLiteral
          case '#' if !inLiteral => return line.substring(0, i)
          case _ => ()
        }
        i += 1
      }
      line
    }
    def scalar(v: String): String = {
      val t = v.trim
      require(t.nonEmpty, "empty TOML value")
      if (t.startsWith("\"")) {
        require(t.length >= 2 && t.endsWith("\""), s"unterminated string: $t")
        require(!t.startsWith("\"\"\""), "multiline strings not supported")
        val sb = new StringBuilder
        var i = 1
        while (i < t.length - 1) {
          val c = t.charAt(i)
          if (c == '\\') {
            require(i + 1 < t.length - 1, s"trailing escape in $t")
            sb.append(t.charAt(i + 1) match {
              case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
              case '"' => '"'; case '\\' => '\\'
              case other => throw new IllegalArgumentException(
                s"unsupported escape \\$other in $t")
            })
            i += 2
          } else { sb.append(c); i += 1 }
        }
        sb.toString
      } else if (t.startsWith("'")) {
        require(t.length >= 2 && t.endsWith("'"), s"unterminated literal string: $t")
        t.substring(1, t.length - 1)
      } else t // bare boolean / number
    }
    def array(v: String): String = {
      val body = v.trim.stripPrefix("[").stripSuffix("]")
      if (body.trim.isEmpty) return ""
      // split on top-level commas (strings may contain commas); inside
      // a basic string an ESCAPED quote (\" — or \\ then a real close)
      // must not toggle the string state, or the element boundary
      // shifts and quoted commas leak into the split
      val parts = Seq.newBuilder[String]
      var inBasic = false; var inLiteral = false; var esc = false
      val cur = new StringBuilder
      body.foreach { c =>
        if (inBasic) {
          cur.append(c)
          if (esc) esc = false
          else if (c == '\\') esc = true
          else if (c == '"') inBasic = false
        } else c match {
          case '"' if !inLiteral => inBasic = true; cur.append('"')
          case '\'' if !inBasic  => inLiteral = !inLiteral; cur.append('\'')
          case '[' if !inLiteral =>
            throw new IllegalArgumentException("nested TOML arrays not supported")
          case ',' if !inLiteral =>
            parts += cur.toString; cur.clear()
          case other => cur.append(other)
        }
      }
      parts += cur.toString
      parts.result().map(scalar).mkString(",")
    }
    text.linesIterator.foreach { raw =>
      val line = stripComment(raw).trim
      if (line.nonEmpty) {
        if (line.startsWith("[")) {
          require(line.endsWith("]") && !line.startsWith("[["),
            s"unsupported TOML table header: $line")
          // Case-fold like parseYaml: the reference's BurntSushi decoder
          // matches struct tags case-insensitively, so a camelCase TOML
          // key (postgresql.replicationSlot.name) is valid there — a
          // flat map needs the one canonical lowercase spelling or the
          // lookup silently falls back to defaults. Locale.ROOT for the
          // Turkish-I reason documented in parseYaml.
          section = line.substring(1, line.length - 1).trim
            .toLowerCase(java.util.Locale.ROOT)
          require(section.nonEmpty, s"empty TOML table header: $line")
          // quoted segments are case-SENSITIVE per the TOML spec — the
          // fold above would silently corrupt them, so reject instead
          // (the reference's config never quotes header segments)
          require(!section.contains('"') && !section.contains('\''),
            s"quoted TOML table-header segments not supported: $line")
        } else {
          val eq = line.indexOf('=')
          require(eq > 0, s"TOML line without '=': $line")
          val key = line.substring(0, eq).trim
            .toLowerCase(java.util.Locale.ROOT)
          require(!key.contains(' ') && !key.contains('"'),
            s"unsupported TOML key form: $key")
          val rhs = line.substring(eq + 1).trim
          val value = if (rhs.startsWith("[")) array(rhs) else scalar(rhs)
          out(if (section.isEmpty) key else s"$section.$key") = value
        }
      }
    }
    out.toMap
  }

  /** Minimal YAML subset — exactly the shape the reference's
    * `config.example.yml` uses (its `unmarshall.go` YAML arm feeds the
    * SAME Config struct the TOML arm does, so both flatten to the same
    * property map here): indentation-nested mappings, `key: value`
    * scalars (bare / 'literal' / "escaped"), block sequences (`- item`,
    * flattened to the comma-joined string every `*.includes`/
    * `*.excludes` key already parses), `#` comments. Key segments
    * lowercase on flattening — YAML spells `replicationSlot` where the
    * canonical TOML keys spell `replicationslot`; Go reaches both via
    * case-insensitive struct tags, a flat map needs one spelling.
    * Unsupported YAML (tabs, flow collections, anchors/aliases,
    * multi-line scalars, documents) fails loudly rather than
    * mis-reading. */
  def parseYaml(text: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    def scalar(v: String): String = {
      val t = v.trim
      if (t.startsWith("\"")) {
        require(t.length >= 2 && t.endsWith("\""), s"unterminated YAML string: $t")
        val sb = new StringBuilder
        var i = 1
        while (i < t.length - 1) {
          val c = t.charAt(i)
          if (c == '\\') {
            require(i + 1 < t.length - 1, s"trailing escape in $t")
            sb.append(t.charAt(i + 1) match {
              case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
              case '"' => '"'; case '\\' => '\\'
              case other => throw new IllegalArgumentException(
                s"unsupported YAML escape \\$other in $t")
            })
            i += 2
          } else { sb.append(c); i += 1 }
        }
        sb.toString
      } else if (t.startsWith("'")) {
        require(t.length >= 2 && t.endsWith("'"), s"unterminated YAML literal: $t")
        // YAML single-quote escaping: '' → '
        t.substring(1, t.length - 1).replace("''", "'")
      } else {
        require(!t.startsWith("[") && !t.startsWith("{"),
          s"YAML flow collections not supported: $t")
        require(!t.startsWith("&") && !t.startsWith("*"),
          s"YAML anchors/aliases not supported: $t")
        require(t != "|" && t != ">",
          "YAML block scalars not supported")
        t
      }
    }
    // a '#' starts a comment only outside quotes and after whitespace
    // (or at line start) — 'a # b' inside quotes survives
    def stripComment(line: String): String = {
      var inBasic = false; var inLiteral = false
      var i = 0
      while (i < line.length) {
        line.charAt(i) match {
          case '"' if !inLiteral => inBasic = !inBasic
          case '\'' if !inBasic  => inLiteral = !inLiteral
          case '#' if !inBasic && !inLiteral &&
              (i == 0 || line.charAt(i - 1) == ' ') => return line.substring(0, i)
          case _ => ()
        }
        i += 1
      }
      line
    }
    // (indent, segment) stack of the enclosing mappings
    var stack = List[(Int, String)]()
    // a key with an empty value is a pending LIST head until either an
    // item arrives (block sequence) or a deeper key does (nested map);
    // a pending key that gets NEITHER before the next same-or-shallower
    // key (or EOF) is a mis-indented/empty mapping — fail loudly, a
    // silently vanished key starts the pipeline minus a filter/slot
    var listKey: Option[String] = None
    var listIndent = -1
    var itemIndent = -1 // indent of the block sequence's items, -1 until one arrives
    var pendingResolved = true
    val listBuf = scala.collection.mutable.ListBuffer[String]()
    def flushList(): Unit = {
      listKey.foreach { k =>
        if (listBuf.nonEmpty) out(k) = listBuf.mkString(",")
        else require(pendingResolved, s"YAML key '$k' has no value, items, or children")
      }
      listKey = None; listBuf.clear(); itemIndent = -1; pendingResolved = true
    }
    text.linesIterator.foreach { raw =>
      require(!raw.contains('\t'), s"YAML tabs not supported: $raw")
      val noComment = stripComment(raw)
      val line = noComment.trim
      if (line.nonEmpty && line != "---") {
        val indent = noComment.takeWhile(_ == ' ').length
        if (line.startsWith("- ") || line == "-") {
          require(listKey.isDefined, s"YAML sequence item without a key: $line")
          val v = scalar(line.stripPrefix("-").trim)
          require(v.nonEmpty, s"empty YAML sequence item: $line")
          if (itemIndent < 0) {
            // items sit at or below their key's indent column — a
            // shallower item ('m:\n  a:\n- x') belongs to some OUTER
            // scope in real YAML and must not silently attach here
            require(indent >= listIndent,
              s"YAML sequence item at indent $indent under a key at indent $listIndent: $line")
            itemIndent = indent
          } else require(indent == itemIndent,
            s"YAML sequence item indent $indent does not match its siblings' $itemIndent: $line")
          listBuf += v
        } else {
          // a deeper key resolves the pending empty-valued key into a
          // nested mapping; a same-or-shallower key means it got nothing.
          // Once ITEMS have arrived the key's value IS a sequence — a key
          // line at or below the items' indent ('a:\n  - x\n    b: 1')
          // is malformed YAML, not a nested map; silently flushing the
          // list AND emitting 'a.b' would mis-read it.
          require(listBuf.isEmpty || indent <= listIndent,
            s"YAML key at indent $indent inside the sequence under '${listKey.getOrElse("")}' (items at indent $itemIndent): $line")
          if (listKey.isDefined && indent > listIndent) pendingResolved = true
          else if (listKey.isDefined) pendingResolved = false
          flushList()
          stack = stack.filter(_._1 < indent)
          // split on the first ':' outside quotes
          var colon = -1
          var i = 0; var inB = false; var inL = false
          while (i < line.length && colon < 0) {
            line.charAt(i) match {
              case '"' if !inL => inB = !inB
              case '\'' if !inB => inL = !inL
              case ':' if !inB && !inL => colon = i
              case _ => ()
            }
            i += 1
          }
          require(colon > 0, s"YAML line without ':': $line")
          // Locale.ROOT: a Turkish default locale would fold 'I' to the
          // dotless 'ı' and break every *Includes* key on that machine
          val key = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
          require(key.nonEmpty && !key.contains(' ') && !key.contains('"'),
            s"unsupported YAML key form: $line")
          val path = (stack.map(_._2) :+ key).mkString(".")
          val rhs = line.substring(colon + 1).trim
          if (rhs.isEmpty) { // nested map, or a block sequence's key
            stack = stack :+ ((indent, key))
            listKey = Some(path)
            listIndent = indent
            pendingResolved = false
          } else out(path) = scalar(rhs)
        }
      }
    }
    // EOF with a pending unresolved key is the same mis-indent error
    flushList()
    out.toMap
  }

  /** Flat `key=value` properties (comments with '#', blank lines ok). */
  def parseProperties(text: String): Map[String, String] =
    text.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val eq = l.indexOf('=')
        require(eq > 0, s"property line without '=': $l")
        l.substring(0, eq).trim -> l.substring(eq + 1).trim
      }.toMap

  private val EnvPrefixes = Seq("POSTGRESQL_", "TIMESCALEDB_", "SINK_",
    "TOPIC_", "STATS_", "STATESTORAGE_", "INTERNAL_", "GRAFT_")

  /** Config assembly: file → env overlay (known namespaces only). */
  def loadConfig(path: String, env: Map[String, String] = sys.env): Map[String, String] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
    val ext = path.toLowerCase
    val fileProps =
      if (ext.endsWith(".toml")) parseToml(text)
      else if (ext.endsWith(".yaml") || ext.endsWith(".yml")) parseYaml(text)
      else parseProperties(text)
    val relevant = env.filter { case (k, _) => EnvPrefixes.exists(k.startsWith) }
    graft.streaming.ConfigPipeline.withEnvOverrides(fileProps, relevant)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Replicator <config.(toml|yml|properties)> [dataDir]")
    val props = loadConfig(args(0))
    val dir = if (args.length > 1) args(1)
      else props.getOrElse("graft.data.dir",
        throw new IllegalArgumentException(
          "data directory required: pass as arg 2 or set graft.data.dir"))
    // deployment override: a cluster master in place of local[cores]
    val spark = GraftSession(master = sys.env.get("SPARK_GRAFT_MASTER"))
    // reference startup order: validate the replication connection and
    // identify the system BEFORE creating any pipeline state
    // (streamer.go:57-71). Opt-in — the file harness has no walsender.
    if (props.get("graft.wire.probe").contains("true")) {
      val id = graft.streaming.ConfigPipeline.wireProbe(props)
      System.err.println(s"[replicator] walsender identified: system=${
        id.headOption.flatten.getOrElse("?")} xlogpos=${
        id.lift(2).flatten.getOrElse("?")}")
    }
    val ckptDefault = java.nio.file.Files.createTempDirectory("graft-replicator").toString
    val (query, _, _) = graft.streaming.ConfigPipeline
      .startWithControlPlane(spark, dir, props, ckptDefault)
    // SIGTERM/SIGINT → graceful stop; the termination listener runs the
    // slot/publication autodrop shutdown (replicator stop path)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try if (query.isActive) query.stop() catch { case _: Exception => () }))
    query.awaitTermination()
    spark.stop()
  }
}
