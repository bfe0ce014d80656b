package graft

import graft.catalog.TableFilter
import graft.functions.FnvHash64
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based coverage (the reference has none — SURVEY §5): laws
  * that must hold for arbitrary inputs, not just the fixture matrix.
  * Raw ScalaCheck generators with fixed seeds (deterministic runs).
  */
class PropertySpec extends AnyFunSuite {

  private def samples[T](g: Gen[T], n: Int = 100): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // ≤30 chars: the filter enforces the reference's 63-char identifier cap
  private val ident: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(30).mkString)

  test("table filter: a literal pattern matches exactly itself") {
    samples(Gen.zip(ident, ident)).foreach { case (s, t) =>
      val f = TableFilter(Seq(s"$s.$t"), Nil)
      assert(f.matches(s"$s.$t"))
      assert(!f.matches(s"$s.${t}x"))
      assert(!f.matches(s"x$s.$t"))
    }
  }

  test("table filter: excludes always win regardless of includes") {
    samples(Gen.zip(ident, ident)).foreach { case (s, t) =>
      assert(!TableFilter(Seq("*.*", s"$s.$t"), Seq(s"$s.$t")).matches(s"$s.$t"))
    }
  }

  test("table filter: star pattern accepts any table in schema") {
    samples(Gen.zip(ident, ident)).foreach { case (s, t) =>
      assert(TableFilter(Seq(s"$s.*"), Nil).matches(s"$s.$t"))
    }
  }

  test("debezium descriptor: valid JSON with matching shape for arbitrary nested types") {
    import org.apache.spark.sql.types._
    val scalar = Gen.oneOf[DataType](ByteType, ShortType, IntegerType, LongType,
      FloatType, DoubleType, BooleanType, StringType, BinaryType, DateType)
    def dtGen(depth: Int): Gen[DataType] =
      if (depth <= 0) scalar
      else Gen.frequency(
        4 -> scalar,
        1 -> Gen.zip(dtGen(depth - 1), Gen.oneOf(true, false))
          .map { case (e, n) => ArrayType(e, n) },
        1 -> Gen.zip(dtGen(depth - 1), Gen.oneOf(true, false))
          .map { case (v, n) => MapType(StringType, v, n) },
        1 -> Gen.listOfN(3, Gen.zip(ident, dtGen(depth - 1), Gen.oneOf(true, false)))
          .map(fs => StructType(fs.zipWithIndex.map { case ((n, t, nl), i) =>
            StructField(s"${n}_$i", t, nl) })))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def check(dt: DataType, node: com.fasterxml.jackson.databind.JsonNode): Unit = {
      assert(node.get("type").asText() === graft.model.DebeziumSchema.typeName(dt))
      dt match {
        case st: StructType =>
          val fields = node.get("fields")
          assert(fields.size() === st.length)
          st.fields.zipWithIndex.foreach { case (f, i) =>
            assert(fields.get(i).get("field").asText() === f.name)
            assert(fields.get(i).has("optional") === f.nullable)
            check(f.dataType, fields.get(i))
          }
        case ArrayType(et, _) => check(et, node.get("valueSchema"))
        case MapType(kt, vt, _) =>
          check(kt, node.get("keySchema")); check(vt, node.get("valueSchema"))
        case _ => ()
      }
    }
    samples(dtGen(3), n = 60).foreach { dt =>
      val json = graft.model.DebeziumSchema.descriptor(dt)
      check(dt, mapper.readTree(json)) // readTree throws on invalid JSON
    }
  }

  test("fnv64a: incremental property h(a++b) folds from h(a)") {
    val bytes = Gen.listOf(Gen.choose(0, 255))
    samples(Gen.zip(bytes, bytes)).foreach { case (a, b) =>
      val ab = (a ++ b).map(_.toByte).toArray
      var h = FnvHash64.hash(a.map(_.toByte).toArray)
      b.foreach { x => h ^= (x & 0xffL); h *= FnvHash64.Prime }
      assert(h === FnvHash64.hash(ab))
    }
  }

  test("fnv64a: snapshot partition stable and in range") {
    samples(ident).foreach { name =>
      val h1 = FnvHash64.hash(name.getBytes("UTF-8"))
      assert(h1 === FnvHash64.hash(name.getBytes("UTF-8")))
      val p = java.lang.Long.remainderUnsigned(h1, 5L)
      assert(p >= 0 && p < 5)
    }
  }

  test("expr filter translation: AND/OR/equality rewrite is stable") {
    samples(Gen.choose(0, 1000)).foreach { n =>
      val out = graft.filter.EventFilter.translate(s"""op == "c" && user_id > $n""")
      assert(out.contains("= 'c'") && out.contains(" AND ") && out.contains(s"> $n"))
    }
  }

  test("expr filter translation: string literals survive byte-for-byte") {
    // arbitrary literals, including every operator token the round-1
    // replaceAll translator corrupted (==, &&, ||, !, quotes, backslash)
    val litChar = Gen.oneOf(Gen.alphaNumChar,
      Gen.oneOf('=', '&', '|', '!', '<', '>', '?', ':', '\'', '"', '\\', ' ', '.', '['))
    val lit = Gen.listOf(litChar).map(_.mkString)
    samples(lit).foreach { s =>
      val exprLit = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val sqlLit  = "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
      assert(graft.filter.EventFilter.translate(s"op == $exprLit")
        === s"`op` = $sqlLit", s"for literal <$s>")
    }
  }

  test("expr filter wave 2: Go-duration parsing law and slice translation shape") {
    val unitGen = Gen.oneOf(("ns", 0.001), ("us", 1.0), ("ms", 1000.0),
      ("s", 1e6), ("m", 6e7), ("h", 3.6e9))
    val termsGen = Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 999), unitGen)).map(_.take(4))
    samples(termsGen).foreach { terms =>
      val text = terms.map { case (n, (u, _)) => s"$n$u" }.mkString
      val expected = terms.foldLeft(0.0d) { case (acc, (n, (_, m))) => acc + n * m }.toLong
      assert(graft.filter.EventFilter.parseGoDuration(text) === Some(expected),
        s"for duration <$text>")
    }
    // malformed forms reject, never mis-parse
    Seq("", "12", "h", "1h2", "1d", "--3s").foreach { bad =>
      assert(graft.filter.EventFilter.parseGoDuration(bad).isEmpty, s"<$bad>")
    }
    samples(Gen.zip(Gen.choose(0, 50), Gen.choose(0, 50))).foreach { case (a, b) =>
      assert(graft.filter.EventFilter.translate(s"name[$a:$b]")
        === s"graft_slice(`name`, $a, $b)")
    }
  }

  test("ngrams_join eval: sliding-window law for arbitrary token lists") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val tok: Gen[String] = Gen.nonEmptyListOf(
      Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('é', '中', '-', '_'))).map(_.take(8).mkString)
    val toks: Gen[List[String]] = Gen.listOf(tok).map(_.take(20))
    samples(Gen.zip(toks, Gen.choose(1, 5))).foreach { case (ts, n) =>
      val out = graft.functions.NGramsJoin(
        Literal.create(ts, ArrayType(StringType)), n)
        .eval(null).asInstanceOf[ArrayData]
        .toObjectArray(StringType).map(_.asInstanceOf[UTF8String].toString).toList
      val expected =
        if (ts.length >= n) ts.sliding(n).map(_.mkString(" ")).toList else Nil
      assert(out === expected, s"tokens=$ts n=$n")
    }
  }

  test("kafka zigzag varlong round-trips every value (the record-batch integer encoding)") {
    def decode(bytes: Array[Byte]): (Long, Int) = {
      var z = 0L; var shift = 0; var i = 0; var b = 0
      do { b = bytes(i) & 0xff; z |= (b & 0x7fL) << shift; shift += 7; i += 1 }
      while ((b & 0x80) != 0)
      ((z >>> 1) ^ -(z & 1), i)
    }
    val edge = Seq(0L, 1L, -1L, 63L, 64L, -64L, -65L, Int.MaxValue.toLong,
      Int.MinValue.toLong, Long.MaxValue, Long.MinValue)
    val rand = samples(Gen.long, 200)
    (edge ++ rand).foreach { v =>
      val out = new graft.sinks.KafkaWire.WireBuffer()
      out.varlong(v)
      val (back, used) = decode(out.toArray)
      assert(back === v && used === out.size, s"varlong $v")
      // the record-length computation sizes fields with this function
      assert(graft.sinks.KafkaWire.varlongSize(v) === out.size, s"varlongSize $v")
    }
  }

  test("sigv4 signature is deterministic and sensitive to every signed input") {
    import graft.sinks.AwsSigV4
    val base = () => AwsSigV4.authorization("POST", "/", "",
      Seq("host" -> "h:1", "x-amz-date" -> "20260812T000000Z"),
      "body".getBytes("UTF-8"), "20260812T000000Z", "us-east-1", "sqs", "AK", "SK")
    assert(base() === base())   // deterministic
    val variants = Seq(
      AwsSigV4.authorization("PUT", "/", "",
        Seq("host" -> "h:1", "x-amz-date" -> "20260812T000000Z"),
        "body".getBytes("UTF-8"), "20260812T000000Z", "us-east-1", "sqs", "AK", "SK"),
      AwsSigV4.authorization("POST", "/", "",
        Seq("host" -> "h:2", "x-amz-date" -> "20260812T000000Z"),
        "body".getBytes("UTF-8"), "20260812T000000Z", "us-east-1", "sqs", "AK", "SK"),
      AwsSigV4.authorization("POST", "/", "",
        Seq("host" -> "h:1", "x-amz-date" -> "20260812T000000Z"),
        "bodY".getBytes("UTF-8"), "20260812T000000Z", "us-east-1", "sqs", "AK", "SK"),
      AwsSigV4.authorization("POST", "/", "",
        Seq("host" -> "h:1", "x-amz-date" -> "20260812T000000Z"),
        "body".getBytes("UTF-8"), "20260812T000000Z", "eu-west-1", "sqs", "AK", "SK"),
      AwsSigV4.authorization("POST", "/", "",
        Seq("host" -> "h:1", "x-amz-date" -> "20260812T000000Z"),
        "body".getBytes("UTF-8"), "20260812T000000Z", "us-east-1", "kinesis", "AK", "SK"),
      AwsSigV4.authorization("POST", "/", "",
        Seq("host" -> "h:1", "x-amz-date" -> "20260812T000000Z"),
        "body".getBytes("UTF-8"), "20260812T000000Z", "us-east-1", "sqs", "AK", "SK2"))
    val sigs = (base() +: variants).map(_.split("Signature=")(1))
    assert(sigs.distinct.length === sigs.length,
      "every signed input must perturb the signature")
    // header ORDER must not matter (canonicalization sorts)
    val reordered = AwsSigV4.authorization("POST", "/", "",
      Seq("x-amz-date" -> "20260812T000000Z", "host" -> "h:1"),
      "body".getBytes("UTF-8"), "20260812T000000Z", "us-east-1", "sqs", "AK", "SK")
    assert(reordered === base())
  }

  test("jdbc keyset predicates tile (low, high] exactly: no gap, no overlap, any split") {
    val gen = Gen.zip(
      Gen.chooseNum(-1000000L, 1000000L),
      Gen.chooseNum(1L, 5000000L),
      Gen.chooseNum(1, 64))
    samples(gen).foreach { case (low, span, parts) =>
      val high = low + span
      val preds = graft.sources.JdbcSideChannel.keysetPredicates("k", low, high, parts)
      // parse back the (lo, hi] bounds from the emitted SQL
      val bounds = preds.map { p =>
        val m = """"k" > (-?\d+) AND "k" <= (-?\d+)""".r.findFirstMatchIn(p).get
        (m.group(1).toLong, m.group(2).toLong)
      }
      assert(bounds.head._1 == low && bounds.last._2 == high)
      bounds.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) => assert(hi1 == lo2, "adjacent slices must abut")
        case _ => ()
      }
      bounds.foreach { case (lo, hi) => assert(lo < hi, "every slice non-empty") }
      assert(bounds.length == math.min(parts.toLong, span).toInt)
      // total key coverage equals the span — no key lost or double-read
      assert(bounds.map { case (lo, hi) => hi - lo }.sum == span)
    }
  }

  test("jdbc keyset predicates survive near-Long.MaxValue spans (no Long overflow)") {
    // snowflake-style 64-bit keys: span * i overflowed Long in the naive
    // `low + span * i / n` tiling, producing non-monotonic/empty slices
    // that silently dropped rows from a fenced snapshot.
    val cases = Seq(
      (Long.MinValue + 1, Long.MaxValue, 32),          // nearly the full Long range
      (Long.MinValue + 1, Long.MaxValue, 1),
      (0L, Long.MaxValue, 64),
      (-1L, Long.MaxValue - 1, 7),
      (Long.MaxValue - 100, Long.MaxValue, 32),        // tiny span at the top end
      (Long.MinValue + 1, Long.MinValue + 5, 32))      // tiny span at the bottom end
    cases.foreach { case (low, high, parts) =>
      val preds = graft.sources.JdbcSideChannel.keysetPredicates("k", low, high, parts)
      val bounds = preds.map { p =>
        val m = """"k" > (-?\d+) AND "k" <= (-?\d+)""".r.findFirstMatchIn(p).get
        (BigInt(m.group(1)), BigInt(m.group(2)))
      }
      assert(bounds.head._1 == BigInt(low) && bounds.last._2 == BigInt(high))
      bounds.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) => assert(hi1 == lo2, "adjacent slices must abut")
        case _ => ()
      }
      bounds.foreach { case (lo, hi) =>
        assert(lo < hi, "every slice non-empty")
        assert(lo.isValidLong && hi.isValidLong, "bounds must be SQL-renderable Longs")
      }
      assert(bounds.map { case (lo, hi) => hi - lo }.sum == BigInt(high) - BigInt(low))
    }
    // min key == Long.MinValue: inclusive first slice instead of "min - 1"
    val inc = graft.sources.JdbcSideChannel.keysetPredicates(
      "k", Long.MinValue, Long.MinValue + 10, 4, inclusiveLow = true)
    assert(inc.head.contains("\"k\" >= " + Long.MinValue))
    assert(inc.tail.forall(_.contains("\"k\" > ")))
  }

  test("pgoutput codec: arbitrary messages roundtrip byte-exactly, framed streams included") {
    import graft.cdc.PgOutput
    import graft.cdc.PgOutput._
    // arbitrary UTF-8 content, NUL excluded where the wire uses cstrings
    val cstr: Gen[String] = Gen.listOf(
      Gen.frequency(8 -> Gen.alphaNumChar, 2 -> Gen.oneOf('é', 'ß', '漢', '€', ' ', '.')))
      .map(_.mkString.take(40))
    val rawBytes: Gen[Array[Byte]] =
      Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    val tupleCol: Gen[TupleCol] = Gen.frequency(
      5 -> rawBytes.map(TextCol.apply),
      2 -> rawBytes.map(BinaryCol.apply),
      2 -> Gen.const(NullCol),
      1 -> Gen.const(UnchangedCol))
    val tuple: Gen[Seq[TupleCol]] = Gen.listOf(tupleCol).map(_.take(8))
    val relCol: Gen[RelCol] = for {
      f <- Gen.oneOf(0, 1); n <- cstr; oid <- Gen.posNum[Int]; tm <- Gen.chooseNum(-1, 64)
    } yield RelCol(f.toByte, n, oid, tm)
    val msg: Gen[PgMsg] = Gen.oneOf(
      for { l <- Gen.posNum[Long]; t <- Gen.chooseNum(-1000000L, 1000000L); x <- Gen.posNum[Int] }
        yield BeginMsg(l, t, x),
      for { l <- Gen.posNum[Long]; t <- Gen.posNum[Long] } yield CommitMsg(0, l, l + 1, t),
      for { l <- Gen.posNum[Long]; n <- cstr } yield OriginMsg(l, n),
      for { id <- Gen.posNum[Int]; ns <- cstr; n <- cstr; ri <- Gen.oneOf('d', 'f', 'n', 'i')
            cols <- Gen.listOf(relCol).map(_.take(6)) } yield RelationMsg(id, ns, n, ri.toByte, cols),
      for { oid <- Gen.posNum[Int]; ns <- cstr; n <- cstr } yield TypeMsg(oid, ns, n),
      for { id <- Gen.posNum[Int]; t <- tuple } yield InsertMsg(id, t),
      for { id <- Gen.posNum[Int]; k <- Gen.oneOf('O', 'K'); ot <- tuple; nt <- tuple }
        yield UpdateMsg(id, Some(k), Some(ot), nt),
      for { id <- Gen.posNum[Int]; nt <- tuple } yield UpdateMsg(id, None, None, nt),
      for { id <- Gen.posNum[Int]; k <- Gen.oneOf('O', 'K'); t <- tuple } yield DeleteMsg(id, k, t),
      for { opts <- Gen.chooseNum(0, 3); ids <- Gen.nonEmptyListOf(Gen.posNum[Int]) }
        yield TruncateMsg(opts.toByte, ids.take(8)),
      for { txn <- Gen.oneOf(true, false); l <- Gen.posNum[Long]; p <- cstr; c <- rawBytes }
        yield LogicalMsg(txn, l, p, c))
    val msgs = samples(msg, 400)
    msgs.foreach { m =>
      val enc = PgOutput.encode(m)
      val dec = PgOutput.decode(enc)
      assert(PgOutput.encode(dec).toSeq === enc.toSeq, s"roundtrip mismatch for $m")
      assert(dec.getClass === m.getClass, s"type mismatch for $m")
    }
    // framed stream: the same messages written as one blob come back in
    // order with their LSNs (the socket-loop contract decodeSegments runs on)
    val bos = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bos)
    msgs.zipWithIndex.foreach { case (m, i) => writeFrame(o, i + 1L, PgOutput.encode(m)) }
    val back = readFrames(bos.toByteArray).toSeq
    assert(back.length === msgs.length)
    back.zip(msgs).zipWithIndex.foreach { case (((lsn, dec), orig), i) =>
      assert(lsn === i + 1L)
      assert(PgOutput.encode(dec).toSeq === PgOutput.encode(orig).toSeq, s"frame $i")
    }
  }

  test("SCRAM: proof verifies, tampering fails, normalize is idempotent — arbitrary passwords") {
    import graft.sources.Scram
    // structurally non-empty (head + tail): nonEmptyListOf/suchThat
    // RETRY on failure, and samples() replays one fixed initial seed -
    // a seed whose first draw fails would retry that same draw forever
    val pwChar = Gen.oneOf(
      Gen.alphaNumChar,
      Gen.oneOf('é', 'ü', '€', ' ', '!', ',', '=', '­', ' '),
      Gen.choose(0x20.toChar, 0x7e.toChar))
    val pw: Gen[String] = for {
      n <- Gen.choose(0, 23)
      h <- pwChar
      t <- Gen.listOfN(n, pwChar)
    } yield (h +: t).mkString
    val authMessage = "n=,r=cnonce,r=cnoncesrv,s=c2FsdA==,i=4096,c=biws,r=cnoncesrv"
    samples(Gen.zip(pw, Gen.listOfN(16, Gen.choose(0, 255))), 60).foreach {
      case (p, saltInts) =>
        val salt = saltInts.map(_.toByte).toArray
        val salted = Scram.saltedPassword(p, salt, 256)
        val proof = Scram.clientProof(salted, authMessage)
        val stored = Scram.storedKey(Scram.clientKey(salted))
        // RFC 5802 §3: the server recovers ClientKey from the proof and
        // checks H(ClientKey) == StoredKey — must hold for every password
        assert(Scram.verifyClientProof(proof, stored, authMessage))
        // any single-bit tamper of the proof must fail verification
        val bad = proof.clone(); bad(0) = (bad(0) ^ 1).toByte
        assert(!Scram.verifyClientProof(bad, stored, authMessage))
        // SASLprep is a projection: applying it twice changes nothing
        // (also holds on the raw-fallback path — same input, same answer)
        assert(Scram.normalize(Scram.normalize(p)) === Scram.normalize(p))
    }
  }

  test("YAML parser: arbitrary rendered config trees flatten to the expected map") {
    // generate nested config trees, render them as block-style YAML
    // (single-quoted scalars — the form config.example.yml uses), parse
    // with Replicator.parseYaml, and require EXACTLY the flattened
    // dotted-lowercase map. Catches indentation-stack, list-flush, and
    // quote-handling bugs no fixture would.
    sealed trait Node
    case class Leaf(v: String) extends Node
    case class Items(vs: Seq[String]) extends Node
    case class Branch(kids: Seq[(String, Node)]) extends Node
    val key: Gen[String] = for {
      h <- Gen.alphaChar
      t <- Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const('_'))).map(_.take(8))
    } yield (h :: t).mkString
    // printable scalars incl. the characters that trip naive parsers:
    // '#', ':', ',', '=', double quotes, spaces; no newlines (can't
    // render single-line), no leading/trailing space (YAML trims)
    val scalarChar = Gen.oneOf(Gen.alphaNumChar,
      Gen.oneOf('#', ':', ',', '=', '"', ' ', '\'', '.', '-', '/'))
    // head is alphanumeric so trim can never empty the string - no
    // suchThat (fixed-seed retry loops forever on a failing seed)
    val scalar: Gen[String] = for {
      n <- Gen.choose(0, 19)
      h <- Gen.alphaNumChar
      t <- Gen.listOfN(n, scalarChar)
    } yield (h +: t).mkString.trim
    // size bounded AT GENERATION: an unbounded listOf draws ~100
    // elements per level before any take(), which goes exponential in
    // the nested tree (100^3 leaf draws burned ~10 CPU-minutes)
    def nel[T](g: Gen[T], cap: Int): Gen[Seq[T]] = for {
      n <- Gen.choose(0, cap - 1)
      h <- g
      t <- Gen.listOfN(n, g)
    } yield h +: t
    val items: Gen[Node] = nel(scalar, 3).map(Items)
    def node(depth: Int): Gen[Node] =
      if (depth <= 0) Gen.oneOf(scalar.map(Leaf), items)
      else Gen.frequency(
        3 -> scalar.map(Leaf),
        1 -> items,
        2 -> nel(Gen.zip(key, Gen.lzy(node(depth - 1))), 4)
          .map(kids => Branch(kids.distinctBy(_._1.toLowerCase))))
    val tree: Gen[Branch] = nel(Gen.zip(key, node(2)), 5)
      .map(kids => Branch(kids.distinctBy(_._1.toLowerCase)))
    def q(s: String): String = "'" + s.replace("'", "''") + "'"
    def render(b: Branch, indent: Int, sb: StringBuilder): Unit =
      b.kids.foreach { case (k, n) =>
        val pad = " " * indent
        n match {
          case Leaf(v)   => sb.append(s"$pad$k: ${q(v)}\n")
          case Items(vs) =>
            sb.append(s"$pad$k:\n")
            vs.foreach(v => sb.append(s"$pad  - ${q(v)}\n"))
          case br: Branch =>
            sb.append(s"$pad$k:\n"); render(br, indent + 2, sb)
        }
      }
    def flatten(b: Branch, prefix: String, out: scala.collection.mutable.Map[String, String]): Unit =
      b.kids.foreach { case (k, n) =>
        val path = if (prefix.isEmpty) k.toLowerCase else s"$prefix.${k.toLowerCase}"
        n match {
          case Leaf(v)    => out(path) = v
          case Items(vs)  => out(path) = vs.mkString(",")
          case br: Branch => flatten(br, path, out)
        }
      }
    samples(tree, 150).foreach { t =>
      val sb = new StringBuilder
      render(t, 0, sb)
      val expected = scala.collection.mutable.Map[String, String]()
      flatten(t, "", expected)
      assert(graft.Replicator.parseYaml(sb.toString) === expected.toMap,
        s"yaml:\n${sb.toString.take(400)}")
    }

    // the SAME trees rendered as TOML ([dotted.section] headers, basic
    // strings, flat arrays) must flatten to the IDENTICAL map — the
    // TOML≡YAML equivalence the reference's unmarshall.go guarantees,
    // here exercised over arbitrary trees instead of one fixture.
    // Catches key/header case-folding and quote/comment-handling bugs.
    def qToml(s: String): String = "\"" + s.replace("\"", "\\\"") + "\""
    def renderToml(b: Branch, path: String, sb: StringBuilder): Unit = {
      if (path.nonEmpty) sb.append(s"[$path]\n")
      b.kids.foreach {
        case (k, Leaf(v))   => sb.append(s"$k = ${qToml(v)}\n")
        case (k, Items(vs)) => sb.append(s"$k = [${vs.map(qToml).mkString(", ")}]\n")
        case _              => ()
      }
      b.kids.foreach {
        case (k, br: Branch) =>
          renderToml(br, if (path.isEmpty) k else s"$path.$k", sb)
        case _ => ()
      }
    }
    samples(tree, 150).foreach { t =>
      val sb = new StringBuilder
      renderToml(t, "", sb)
      val expected = scala.collection.mutable.Map[String, String]()
      flatten(t, "", expected)
      assert(graft.Replicator.parseToml(sb.toString) === expected.toMap,
        s"toml:\n${sb.toString.take(400)}")
    }
  }
}
