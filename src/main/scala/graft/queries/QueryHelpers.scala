package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextAnalysis}

/** Helpers shared by the query families: integer-cents money, the FNV
  * and MinHash twins, the fitted-quantizer and BPE unrollings, and the
  * DuckDB twins of Spark-side renderers. */
private[graft] object QueryHelpers {

  /** Representation-stable money: round to integer cents in pure IEEE-754
    * double arithmetic (multiply + add + floor are correctly rounded and
    * bit-identical in Spark and DuckDB), then aggregate as BIGINT — integer
    * sums are associative, so shuffle/aggregation order can't change the
    * result. Avoids the double→decimal cast boundary (Spark shortest-string
    * vs DuckDB binary value, e.g. 1.005 → 1.01 vs 1.00) that hash-broke
    * q1/rollup/window_running in round 1. Oracle twin: `centsSql`. */
  def cents(c: Column): Column = floor(c * lit(100.0) + lit(0.5))

  def centsSql(e: String): String = s"CAST(FLOOR(($e) * 100.0 + 0.5) AS BIGINT)"

  /** Shared MinHash+LSH DuckDB twin: FNV-64a shingle hash fold, the
    * 16-perm LCG family, 4-row banding, and the hot-bucket star-edge
    * guard — parameterized by the unit CTE (must yield `tok(doc_id, t)`)
    * so document- and paragraph-granularity gates replay ONE tail. */
  def minhashPairsSql(unitsCte: String): String =
    ("""WITH UNITS_CTE,
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest(list_transform(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
      |           x -> x[1] || ' ' || x[2] || ' ' || x[3])) AS shingle
      |       FROM tok WHERE len(t) >= 3),
      |hv AS (SELECT doc_id,
      |         list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |           list_transform(range(1, length(shingle) + 1),
      |             i -> ascii(substr(shingle, CAST(i AS INTEGER), 1)))),
      |           (acc, c) -> (xor(acc, CAST(c AS HUGEINT)) * 1099511628211) % 18446744073709551616) AS hu
      |       FROM sh),
      |hb AS (SELECT doc_id,
      |         CAST((((CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
      |                      THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END)
      |                % 2147483647 + 2147483647) % 2147483647) AS BIGINT) AS h
      |       FROM hv),
      |perm AS (SELECT i,
      |           CAST(CASE WHEN ((6364136223846793005 * CAST(i AS HUGEINT) + 1442695040888963407) & 2147483647) = 0
      |                     THEN 1
      |                     ELSE ((6364136223846793005 * CAST(i AS HUGEINT) + 1442695040888963407) & 2147483647) END AS BIGINT) AS a,
      |           CAST(((2862933555777941757 * CAST(i AS HUGEINT) + 3037000493) & 2147483647) AS BIGINT) AS b
      |         FROM (SELECT unnest(range(1, 17)) AS i)),
      |mh AS (SELECT doc_id, p.i AS i, min((h * p.a + p.b) % 2147483647) AS mh
      |       FROM hb CROSS JOIN perm p GROUP BY doc_id, p.i),
      |bd AS (SELECT doc_id, (i - 1) // 4 AS band,
      |              array_to_string(list(CAST(mh AS VARCHAR) ORDER BY i), ',') AS bkey
      |       FROM mh GROUP BY doc_id, (i - 1) // 4),
      |bsz AS (SELECT doc_id, band, bkey,
      |              count(*) OVER (PARTITION BY band, bkey) AS bc,
      |              min(doc_id) OVER (PARTITION BY band, bkey) AS anchor
      |        FROM bd)
      |SELECT DISTINCT doc_a, doc_b FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM (SELECT doc_id, band, bkey FROM bsz WHERE bc <= MAXB) a
      |  JOIN (SELECT doc_id, band, bkey FROM bsz WHERE bc <= MAXB) b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |  UNION ALL
      |  SELECT anchor AS doc_a, doc_id AS doc_b FROM bsz
      |  WHERE bc > MAXB AND doc_id <> anchor)
      |ORDER BY doc_a, doc_b""".stripMargin
      .replace("MAXB", Dedup.DefaultMaxBucket.toString)
      .replace("UNITS_CTE", unitsCte))

  /** Integer cents → decimal text `x.yy` — rendering decimals as text
    * without a float-to-string crossing engines (numrange/float8 text). */
  def decimalCentsText(c: Column): Column = concat(
    (c / 100).cast("long"), lit("."), lpad(pmod(c, lit(100)).cast("string"), 2, "0"))

  /** DuckDB FNV-1a 64 fold over a string expression (HUGEINT modular
    * arithmetic) — the oracle twin of `graft.functions.FnvHash64`. ONE
    * definition: five CTE families hash with it, and a drift in any
    * copy would silently break that oracle's parity. */
  def fnvSql(e: String): String =
    s"list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
      s"list_transform(range(1, length($e) + 1), i -> ascii(substr($e, CAST(i AS INTEGER), 1)))), " +
      "(acc, c) -> (xor(acc, CAST(c AS HUGEINT)) * 1099511628211) % 18446744073709551616)"

  /** Unsigned-FNV HUGEINT → signed i64 → `pmod 2³¹−1`, the same
    * conversion the minhash twins apply — shared so the watermark
    * oracle can't drift from it. `e` must be a plain column reference
    * (it is spliced into scalar context). */
  def signedModP(e: String): String =
    s"CAST((((CASE WHEN $e >= CAST(9223372036854775808 AS HUGEINT) " +
      s"THEN $e - CAST(18446744073709551616 AS HUGEINT) ELSE $e END) " +
      "% 2147483647 + 2147483647) % 2147483647) AS BIGINT)"

  /** Shared CTE chain for the hybrid-retrieval oracles: BM25 top-50
    * with ranks (`sp`) + hash-embedding integer dot-product top-50 with
    * ranks (`de`). The dot is computed in bucket-join form — identical
    * to Spark's zip_with lane product because non-shared lanes multiply
    * to 0. Ends with `)),` so callers append their own closing CTE +
    * SELECT. Terms/query fixed to 'hash join vector' (the bm25 query's
    * term set). */
  val retrievalCtes =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
      |g AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tot FROM lens),
      |av AS (SELECT greatest(tot * 1000 // greatest(n, 1), 1) AS avgdl_milli, n FROM g),
      |tf AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, term, count(*) AS tf
      |       FROM (SELECT doc_id, t, unnest(t) AS term FROM toks) z
      |       WHERE term IN ('hash', 'join', 'vector')
      |       GROUP BY 1, 2, 3),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |scored AS (SELECT tf.doc_id,
      |    (av.n * 1000000 // dfreq.df) * tf.tf * (1200 + 1000) //
      |      (tf.tf * 1000 + 1200 * (1000 - 750 + 750 * tf.dl * 1000 // av.avgdl_milli) // 1000)
      |      AS contrib
      |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN av),
      |sp AS (SELECT doc_id, row_number() OVER (ORDER BY score_milli DESC, doc_id) AS sparse_rank
      |       FROM (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_milli
      |             FROM scored GROUP BY 1
      |             ORDER BY score_milli DESC, doc_id LIMIT 50)),
      |tok2 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |h2 AS (SELECT doc_id, ${fnvSql("t")} AS hv FROM tok2),
      |da AS (SELECT doc_id, CAST(hv % 64 AS BIGINT) AS bkt,
      |         CAST(sum(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS v
      |       FROM h2 GROUP BY 1, 2),
      |qt AS (SELECT unnest(string_split('hash join vector', ' ')) AS t),
      |qh AS (SELECT ${fnvSql("t")} AS hv FROM qt),
      |qa AS (SELECT CAST(hv % 64 AS BIGINT) AS bkt,
      |         CAST(sum(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS v
      |       FROM qh GROUP BY 1),
      |dot AS (SELECT d0.doc_id, CAST(coalesce(s.dot, 0) AS BIGINT) AS dot
      |        FROM (SELECT doc_id FROM documents) d0
      |        LEFT JOIN (SELECT d.doc_id, sum(d.v * q.v) AS dot
      |                   FROM da d JOIN qa q USING (bkt) GROUP BY 1) s USING (doc_id)),
      |de AS (SELECT doc_id, dot, row_number() OVER (ORDER BY dot DESC, doc_id) AS dense_rank
      |       FROM (SELECT * FROM dot ORDER BY dot DESC, doc_id LIMIT 50)),""".stripMargin

  // splitmix64-style finalization constants of the multimodal fixtures
  // (`Multimodal.ImageCodec.syntheticPng` / `AudioCodec.syntheticWav*`),
  // as unsigned decimals for DuckDB HUGEINT arithmetic
  val SmK1 = java.lang.Long.toUnsignedString(0x9e3779b97f4a7c15L)

  val SmK2 = java.lang.Long.toUnsignedString(0xbf58476d1ce4e5b9L)

  val SmK3 = java.lang.Long.toUnsignedString(0x94d049bb133111ebL)

  val U64  = "18446744073709551616"

  /** DuckDB CTE chain computing the Java aHash for synthetic images —
    * the exact integer pipeline `ImageCodec.averageHash` runs on REAL
    * decoded pixels, replayed from the fixture generator's arithmetic
    * (pixels survive the PNG roundtrip losslessly, so the codec chain
    * must land on these very bits). Input CTE `imgs(img_key, sid, w, h,
    * flip)`: `sid` seeds the pixel hash, `flip` applies the
    * `perturbImages` (0,0)-pixel xor. The 64×64 multiply is split 32/32
    * to stay inside signed HUGEINT. Emits `ah(img_key, ahash)`. */
  def ahashCtes: String =
    s"""apx AS (SELECT img_key, sid, w, h, flip, CAST(x AS HUGEINT) AS x, CAST(y AS HUGEINT) AS y
       |        FROM imgs, unnest(range(0, w)) tx(x), unnest(range(0, h)) ty(y)),
       |az0 AS (SELECT img_key, w, h, flip, x, y,
       |          (CAST(sid AS HUGEINT) * $SmK1 + x * $SmK2 + y * $SmK3) % $U64 AS z FROM apx),
       |az1 AS (SELECT img_key, w, h, flip, x, y, xor(z, z // 1073741824) AS z FROM az0),
       |az2 AS (SELECT img_key, w, h, flip, x, y,
       |          ((z % 4294967296) * $SmK2 + ((z // 4294967296) * $SmK2 % 4294967296) * 4294967296)
       |            % $U64 AS z FROM az1),
       |apxv AS (SELECT img_key, w, h, x, y,
       |           CASE WHEN flip AND x = 0 AND y = 0
       |                THEN xor(xor(z, z // 134217728) % 16777216, 986895)
       |                ELSE xor(z, z // 134217728) % 16777216 END AS rgb FROM az2),
       |alum AS (SELECT img_key, (8*x + w + 7) // w - 1 AS cx, (8*y + h + 7) // h - 1 AS cy,
       |           299*(rgb // 65536) + 587*((rgb // 256) % 256) + 114*(rgb % 256) AS l FROM apxv),
       |acell AS (SELECT img_key, CAST(cy*8 + cx AS INTEGER) AS cell, sum(l) // count(*) AS cv
       |          FROM alum GROUP BY 1, 2),
       |amean AS (SELECT img_key, sum(cv) // 64 AS mean FROM acell GROUP BY 1),
       |ahu AS (SELECT c.img_key,
       |          sum(CASE WHEN cv > mean THEN CAST(1 AS HUGEINT) << cell
       |              ELSE CAST(0 AS HUGEINT) END) AS hu
       |        FROM acell c JOIN amean USING (img_key) GROUP BY 1),
       |ah AS (SELECT img_key, CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
       |         THEN hu - CAST($U64 AS HUGEINT) ELSE hu END AS BIGINT) AS ahash FROM ahu)""".stripMargin

  /** Shared CTE chain producing the MinHash-LSH near-dup pair set
    * (`pairs(doc_a, doc_b)`) — the dedup_minhash_lsh pipeline as a
    * composable block for the split-leakage family. Declared RECURSIVE
    * so callers may append recursive CTEs (connected components); ends
    * WITHOUT a trailing comma. The FNV split hash CTE (`spl`) is
    * appended per-oracle because its input text differs (raw text vs
    * cluster-representative text). */
  val minhashPairCtes =
    s"""WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest(list_transform(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
      |           x -> x[1] || ' ' || x[2] || ' ' || x[3])) AS shingle
      |       FROM tok WHERE len(t) >= 3),
      |hv AS (SELECT doc_id, ${fnvSql("shingle")} AS hu FROM sh),
      |hb AS (SELECT doc_id,
      |         CAST((((CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
      |                      THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END)
      |                % 2147483647 + 2147483647) % 2147483647) AS BIGINT) AS h
      |       FROM hv),
      |perm AS (SELECT i,
      |           CAST(CASE WHEN ((6364136223846793005 * CAST(i AS HUGEINT) + 1442695040888963407) & 2147483647) = 0
      |                     THEN 1
      |                     ELSE ((6364136223846793005 * CAST(i AS HUGEINT) + 1442695040888963407) & 2147483647) END AS BIGINT) AS a,
      |           CAST(((2862933555777941757 * CAST(i AS HUGEINT) + 3037000493) & 2147483647) AS BIGINT) AS b
      |         FROM (SELECT unnest(range(1, 17)) AS i)),
      |mh AS (SELECT doc_id, p.i AS i, min((h * p.a + p.b) % 2147483647) AS mh
      |       FROM hb CROSS JOIN perm p GROUP BY doc_id, p.i),
      |bd AS (SELECT doc_id, (i - 1) // 4 AS band,
      |              array_to_string(list(CAST(mh AS VARCHAR) ORDER BY i), ',') AS bkey
      |       FROM mh GROUP BY doc_id, (i - 1) // 4),
      |bsz AS (SELECT doc_id, band, bkey,
      |              count(*) OVER (PARTITION BY band, bkey) AS bc,
      |              min(doc_id) OVER (PARTITION BY band, bkey) AS anchor
      |        FROM bd),
      |pairs AS (SELECT DISTINCT doc_a, doc_b FROM (
      |          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |          FROM (SELECT doc_id, band, bkey FROM bsz WHERE bc <= ${Dedup.DefaultMaxBucket}) a
      |          JOIN (SELECT doc_id, band, bkey FROM bsz WHERE bc <= ${Dedup.DefaultMaxBucket}) b
      |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |          UNION ALL
      |          SELECT anchor AS doc_a, doc_id AS doc_b FROM bsz
      |          WHERE bc > ${Dedup.DefaultMaxBucket} AND doc_id <> anchor))""".stripMargin

  /** Shared CTE chain for the topic-clustering oracles: hash-embed per
    * doc (FNV fold, 64 buckets, sign bit), unrolled-Lloyd k-means
    * (`duckKmeans`), and the broadcast-argmax assignment — ends at
    * `asg(doc_id, topic_id)`, no trailing comma; `tok` stays visible
    * for term-level consumers. */
  lazy val topicAsgCtes: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |h AS (SELECT doc_id,
       |  list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform(range(1, length(t) + 1),
       |        i -> ascii(substr(t, CAST(i AS INTEGER), 1)))),
       |      (acc, c) -> (xor(acc, CAST(c AS HUGEINT)) * 1099511628211) % 18446744073709551616) AS hv
       |  FROM tok),
       |bh AS (SELECT doc_id, CAST(hv % 64 AS BIGINT) AS bkt,
       |        CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END AS s FROM h),
       |bagg AS (SELECT doc_id, bkt, sum(s) AS v FROM bh GROUP BY 1, 2),
       |grid AS (SELECT d.doc_id, dims.b FROM (SELECT doc_id FROM documents) d
       |         CROSS JOIN (SELECT unnest(range(0, 64)) AS b) dims),
       |e0 AS (SELECT g.doc_id AS vec_id,
       |    list(CAST(CAST(coalesce(a.v, 0) AS BIGINT) AS REAL) ORDER BY g.b) AS embedding
       |  FROM grid g LEFT JOIN bagg a ON a.doc_id = g.doc_id AND a.bkt = g.b
       |  GROUP BY g.doc_id),
       |e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM e0),
       |${duckKmeans("e", 8, 64, 2, "tk")},
       |asg AS (SELECT vec_id AS doc_id, centroid_id AS topic_id FROM (
       |    SELECT s.vec_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY s.vec_id
       |        ORDER BY ${duckDot("s.embedding", "c.centroid")} / (s.norm * c.cnorm) DESC,
       |                 c.centroid_id) AS rn
       |    FROM e s CROSS JOIN tk2 c) t WHERE rn = 1)""".stripMargin

  /** DCG discount lookup as a SQL CASE chain — generated from the SAME
    * Scala constant table the Spark op reads (Retrieval
    * .ndcgDiscountsMicro), so `log` never executes inside either
    * engine. */
  def ndcgDiscCase(rankExpr: String, k: Int): String =
    "CASE " + ops.Retrieval.ndcgDiscountsMicro(k).zipWithIndex
      .map { case (d, i) => s"WHEN $rankExpr = ${i + 1} THEN $d" }
      .mkString(" ") + " ELSE 0 END"

  /** Shared CASE expression for op mapping in oracles. */
  val opCaseSql =
    """CASE event_type WHEN 'signup' THEN 'c' WHEN 'purchase' THEN 'u'
      |    WHEN 'error' THEN 'd' WHEN 'view' THEN 'r' ELSE 'm' END""".stripMargin

  /** Pigeonhole edit-distance oracle, parameterized by the hot-segment
    * df cap — shared by the default-recall and capped-posture gates. */
  def editDistanceOracle(dfCap: Int): String =
    s"""WITH t AS (SELECT doc_id AS id, substring(text, 1, 24) AS s FROM documents
       |           WHERE length(substring(text, 1, 24)) >= 1),
       |segs AS (
       |  SELECT id, s, length(s) AS L, iv.i AS seg_i,
       |    substring(s, CAST(iv.i * (length(s) // 7) + least(iv.i, length(s) % 7) + 1 AS INTEGER),
       |      CAST((length(s) // 7) + CASE WHEN iv.i < length(s) % 7 THEN 1 ELSE 0 END AS INTEGER)) AS seg
       |  FROM t CROSS JOIN (SELECT unnest(range(0, 7)) AS i) iv
       |  WHERE length(s) >= 7
       |  UNION ALL
       |  SELECT id, s, length(s) AS L, CAST(0 AS BIGINT) AS seg_i, '' AS seg
       |  FROM t WHERE length(s) < 7),
       |hot AS (SELECT seg_i, seg, L FROM segs
       |        GROUP BY 1, 2, 3 HAVING count(*) > $dfCap),
       |capped AS (SELECT s.* FROM segs s ANTI JOIN hot h USING (seg_i, seg, L)),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b
       |  FROM capped a JOIN capped b ON a.seg_i = b.seg_i AND a.seg = b.seg
       |    AND a.L = b.L AND a.id < b.id)
       |SELECT id_a, id_b, CAST(levenshtein(s_a, s_b) AS BIGINT) AS dist
       |FROM cand WHERE levenshtein(s_a, s_b) <= 6
       |ORDER BY id_a, id_b""".stripMargin

  /** Shared oracle CTE chain replaying the logical-message prefix
    * fixture (Cdc.withMessagePrefix) and the 2.12+ marker brackets
    * (Cdc.withMarkerFlag): `mwalp` = the prefixed WAL, `mbr` = per-txn
    * decompression-bracket boundaries gated on the EXACT
    * `::timescaledb-decompression-start/end` ids. Window frames: lsn is
    * unique, so DuckDB's RANGE-to-current-row default matches Spark's.
    */
  val msgPrefixCtes: String =
    s"""mwal AS (SELECT event_id AS lsn, event_id // 10 AS xid,
       |    $opCaseSql AS op,
       |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day,
       |    epoch_ns(ts) // 1000000 AS ts_ms, props FROM events),
       |mwalp AS (SELECT lsn, xid, op, chunk_day, ts_ms, props,
       |    CASE WHEN op = 'm' THEN
       |      CASE WHEN nm >= 2 AND xid % 3 <> 2 THEN
       |        CASE WHEN mi = 1 THEN '::timescaledb-decompression-start'
       |             WHEN mi = nm THEN '::timescaledb-decompression-end'
       |             ELSE 'graft' END
       |      WHEN nm >= 2 THEN 'app.outbox' ELSE 'graft' END END AS msg_prefix
       |  FROM (SELECT *,
       |      SUM(CASE WHEN op = 'm' THEN 1 ELSE 0 END)
       |        OVER (PARTITION BY xid) AS nm,
       |      SUM(CASE WHEN op = 'm' THEN 1 ELSE 0 END)
       |        OVER (PARTITION BY xid ORDER BY lsn) AS mi
       |    FROM mwal) t),
       |mbr AS (SELECT s.xid, s.start_lsn, e.end_lsn FROM
       |    (SELECT xid, MIN(lsn) AS start_lsn FROM mwalp
       |     WHERE msg_prefix = '::timescaledb-decompression-start' GROUP BY xid) s
       |  LEFT JOIN
       |    (SELECT xid, MAX(lsn) AS end_lsn FROM mwalp
       |     WHERE msg_prefix = '::timescaledb-decompression-end' GROUP BY xid) e
       |  ON s.xid = e.xid)""".stripMargin

  /** Shared oracle CTE chain replaying the T3 chunk-status fixture
    * (Cdc.chunkStatusUpdates) and the transactiontracker state machine
    * (Cdc.compressionFromStatus): `su` = the status-UPDATE stream,
    * `ce` = the emitted compression/decompression events. All-integer
    * arithmetic on non-negative operands, so `//` ≡ Spark's `div`. */
  val chunkStatusCtes: String =
    """mx AS (SELECT MAX(event_id) AS max_lsn,
      |    MAX(epoch_ns(ts) // 1000000) AS max_ts FROM events),
      |days AS (SELECT DISTINCT epoch_ns(ts) // 86400000000000 - 19723 AS d FROM events),
      |b AS (SELECT d, ((max_lsn // 10) + 10) * 10 AS base, max_ts FROM days, mx),
      |u AS (
      |  SELECT base + d*40 AS lsn,
      |    CASE WHEN d % 3 = 0 THEN 9 ELSE 1 END AS new_status, d, base, max_ts FROM b
      |  UNION ALL
      |  SELECT base + d*40 + CASE WHEN d % 4 = 0 THEN 1 ELSE 10 END, 0, d, base, max_ts
      |  FROM b WHERE d % 2 = 0
      |  UNION ALL
      |  SELECT base + d*40 + 20, 1, d, base, max_ts FROM b WHERE d % 4 = 2),
      |su AS (SELECT lsn, lsn // 10 AS xid, d AS chunk_id, new_status,
      |    max_ts + (lsn - base) AS ts_ms FROM u),
      |st AS (SELECT *, lag(new_status, 1, 0)
      |    OVER (PARTITION BY chunk_id ORDER BY lsn) AS old_status FROM su),
      |kk AS (SELECT *, CASE WHEN old_status = 0 AND new_status <> 0 THEN 'c'
      |                      WHEN old_status <> 0 AND new_status = 0 THEN 'd' END AS kind
      |  FROM st),
      |wn AS (SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY xid, kind ORDER BY lsn DESC) AS rn
      |    FROM kk WHERE kind IS NOT NULL) z WHERE rn = 1),
      |cm AS (SELECT xid, MAX(lsn) AS commit_lsn, MAX(ts_ms) AS commit_ts_ms
      |  FROM su GROUP BY xid),
      |ccat AS (SELECT d AS chunk_id,
      |    concat('_hyper_1_', CAST(d AS VARCHAR), '_chunk') AS chunk_name,
      |    1 AS hypertable_id FROM days),
      |cht AS (SELECT 1 AS hypertable_id, 'public' AS ht_schema,
      |    'events' AS ht_table),
      |ce AS (SELECT cm.commit_lsn AS lsn, wn.xid, '$' AS op, wn.kind AS tsdb_op,
      |    ccat.chunk_name,
      |    (wn.new_status & 8) = 8 AS partial,
      |    cht.ht_schema AS key_schema, cht.ht_table AS key_table,
      |    cm.commit_ts_ms AS ts_ms
      |  FROM wn JOIN cm ON wn.xid = cm.xid
      |  JOIN ccat ON ccat.chunk_id = wn.chunk_id
      |  JOIN cht ON cht.hypertable_id = ccat.hypertable_id)""".stripMargin

  /** Shared IVF-PQ oracle chain through the `ranked` candidates CTE —
    * the topk entry appends its own cut, the rerank entry appends an
    * exact re-scoring stage over the same candidates. */
  lazy val ivfPqRankedCtes: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings),
         |${duckKmeans("e", 16, 64, 2, "km")},
         |asg AS (SELECT vec_id, centroid_id FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckDot("e.embedding", "c.centroid")} / (e.norm * c.cnorm) DESC,
         |                 c.centroid_id) AS rn
         |    FROM e CROSS JOIN km2 c) t WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qe, norm AS qnorm FROM e WHERE vec_id < 10),
         |pr AS (SELECT query_id, centroid_id FROM (
         |    SELECT q.query_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${duckDot("q.qe", "c.centroid")} / (q.qnorm * c.cnorm) DESC,
         |                 c.centroid_id) AS rn
         |    FROM q CROSS JOIN km2 c) t WHERE rn <= 4),
         |${duckPqKmeans(16, 8, 8, 2, "pq")},
         |cscored AS (SELECT c2.vec_id, c2.sm, b.cid,
         |    2 * ${duckDot("c2.subvec", "b.csub")} - ${duckDot("b.csub", "b.csub")} AS score
         |  FROM pqcorp c2 JOIN pq2 b ON c2.sm = b.sm),
         |codes AS (SELECT vec_id, sm, cid AS code FROM (
         |    SELECT vec_id, sm, cid,
         |      row_number() OVER (PARTITION BY vec_id, sm ORDER BY score DESC, cid ASC) AS rn
         |    FROM cscored) t WHERE rn = 1),
         |qsub AS (SELECT vec_id AS query_id, sm, subvec AS qsub
         |         FROM pqcorp WHERE vec_id < 10),
         |dt AS (SELECT query_id, b.sm, b.cid,
         |    2 * ${duckDot("qs.qsub", "b.csub")} - ${duckDot("b.csub", "b.csub")} AS score
         |  FROM qsub qs JOIN pq2 b ON qs.sm = b.sm),
         |cand AS (SELECT pr.query_id, asg.vec_id
         |  FROM pr JOIN asg ON pr.centroid_id = asg.centroid_id
         |  WHERE pr.query_id <> asg.vec_id),
         |joined AS (SELECT cand.query_id, cd.vec_id, cd.sm, dt.score
         |  FROM cand JOIN codes cd ON cd.vec_id = cand.vec_id
         |    JOIN dt ON dt.query_id = cand.query_id AND dt.sm = cd.sm AND dt.cid = cd.code),
         |summed AS (SELECT query_id, vec_id AS neighbor_id,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(score ORDER BY sm)),
         |      (a, x) -> a + x) AS adc_score
         |  FROM joined GROUP BY 1, 2),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_score DESC, neighbor_id ASC) AS rank FROM summed)""".stripMargin

  /** Unrolled batch-perceptron CTE chain (Learn.perceptronTrain twin):
    * sparse token-shape features + bias, zero weights, then per
    * iteration margins → misclassified gradient → weight update, all
    * exact integers. */
  def perceptronCtes(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""m$i AS (SELECT f.doc_id, f.y, SUM(f.xv * w.w) AS margin
         |  FROM f JOIN w${i - 1} w USING (pos) GROUP BY 1, 2),
         |g$i AS (SELECT f.pos, SUM(f.y * f.xv) AS g FROM f
         |  JOIN (SELECT doc_id FROM m$i WHERE y * margin <= 0) d USING (doc_id)
         |  GROUP BY 1),
         |w$i AS (SELECT w.pos, CAST(w.w + COALESCE(g.g, 0) AS BIGINT) AS w
         |  FROM w${i - 1} w LEFT JOIN g$i g USING (pos))""".stripMargin
    }.mkString(",\n")
    s"""WITH f AS (
       |  SELECT doc_id, CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
       |    CAST(length(tok) % 8 AS INT) AS pos, CAST(count(*) AS BIGINT) AS xv
       |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY 1, 2, 3
       |  UNION ALL
       |  SELECT doc_id, CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT),
       |    8, 1 FROM documents),
       |w0 AS (SELECT CAST(unnest(generate_series(0, 8)) AS INT) AS pos,
       |              CAST(0 AS BIGINT) AS w),
       |$steps""".stripMargin
  }

  /** DuckDB sequential-fold dot product over two list columns (parity
    * with Similarity.dot's aggregate/zip_with left fold). */
  def duckDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
       |  (acc, v) -> acc + v)""".stripMargin

  def duckNorm(a: String): String =
    s"""sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |  (acc, v) -> acc + v))""".stripMargin

  /** MMR twin, generated for k greedy steps: the same top-`preselect`
    * relevance cut, then per step a max-sim aggregate against the
    * picked set, the identical fixed-order score text
    * (0.7·rel − 0.3·maxsim — decimal literals parse to the same IEEE
    * doubles lambdaMicro/10⁶ produces), NOT EXISTS exclusion, and the
    * smallest-cand_id tie break. */
  def mmrOracle(k: Int, preselect: Int): String = {
    val pairSim = s"${duckDot("r.ce", "s.se")} / (r.cnorm * s.snorm)"
    val steps = (2 to k).map { i =>
      s""",
         |ms$i AS (SELECT r.query_id, r.cand_id, max($pairSim) AS maxsim
         |  FROM rel r JOIN sel${i - 1} s ON s.query_id = r.query_id
         |  GROUP BY r.query_id, r.cand_id),
         |sc$i AS (SELECT r.query_id, r.cand_id, r.ce, r.cnorm,
         |    0.7 * r.rel - 0.3 * m.maxsim AS score
         |  FROM rel r JOIN ms$i m ON m.query_id = r.query_id AND m.cand_id = r.cand_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s
         |                    WHERE s.query_id = r.query_id AND s.sel_id = r.cand_id)),
         |pk$i AS (SELECT query_id, cand_id AS sel_id, $i AS rnk, score,
         |    ce AS se, cnorm AS snorm
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY score DESC, cand_id) AS rn FROM sc$i) z WHERE rn = 1),
         |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM pk$i)"""
        .stripMargin
    }.mkString
    s"""WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, norm AS qnorm FROM e WHERE vec_id < 6),
       |rel0 AS (SELECT q.query_id, c.vec_id AS cand_id,
       |    ${duckDot("q.qe", "c.embedding")} / (q.qnorm * c.norm) AS rel,
       |    c.embedding AS ce, c.norm AS cnorm
       |  FROM q JOIN e c ON q.query_id <> c.vec_id),
       |rel AS (SELECT query_id, cand_id, rel, ce, cnorm FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, cand_id) AS rn FROM rel0) z WHERE rn <= $preselect),
       |sel1 AS (SELECT query_id, cand_id AS sel_id, 1 AS rnk,
       |    0.7 * rel - 0.3 * 0.0 AS score, ce AS se, cnorm AS snorm
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |          ORDER BY (0.7 * rel - 0.3 * 0.0) DESC, cand_id) AS rn FROM rel) z
       |  WHERE rn = 1)$steps
       |SELECT query_id, rnk, sel_id AS selected_id, score
       |FROM sel$k ORDER BY query_id, rnk""".stripMargin
  }

  /** The exact fixed-point mean used by every fitted-quantizer twin:
    * integer micros summed as BIGINT (order-free), ONE double division,
    * cast to REAL — bit-identical to Similarity.kmeansCentroids. */
  def duckExactMean(v: String): String =
    s"CAST(CAST(sum(CAST(floor(CAST($v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)" +
      s" / (CAST(count(*) AS DOUBLE) * 1000000.0) AS REAL)"

  /** Unrolled exact-mean Lloyd rounds — the oracle twin of
    * `Similarity.kmeansCentroids` (fitted quantizers are only hash-
    * verifiable because the Spark means are integer-exact, not float
    * `avg`). Emits CTEs `{p}0 … {p}{iters}`, each
    * (centroid_id, centroid, cnorm); callers reference `{p}{iters}`.
    * `src` must be a CTE with (vec_id, embedding, norm). */
  def duckKmeans(src: String, k: Int, dim: Int, iters: Int,
                         p: String = "km"): String = {
    val init = s"${p}0 AS (SELECT vec_id AS centroid_id, embedding AS centroid, " +
      s"norm AS cnorm FROM $src ORDER BY vec_id LIMIT $k)"
    val rounds = (1 to iters).map { i =>
      val prev = s"$p${i - 1}"; val cur = s"$p$i"
      s"""${cur}_asg AS (SELECT vec_id, centroid_id FROM (
SELECT s.vec_id, c.centroid_id,
  row_number() OVER (PARTITION BY s.vec_id
    ORDER BY ${duckDot("s.embedding", "c.centroid")} / (s.norm * c.cnorm) DESC,
             c.centroid_id) AS rn
FROM $src s CROSS JOIN $prev c) t WHERE rn = 1),
${cur}_m AS (SELECT a.centroid_id, px.pos, ${duckExactMean(s"s.embedding[px.pos]")} AS mn
FROM ${cur}_asg a JOIN $src s ON s.vec_id = a.vec_id
  CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS pos) px
GROUP BY a.centroid_id, px.pos),
$cur AS (SELECT p0.centroid_id,
  COALESCE(mm.marr, p0.centroid) AS centroid,
  ${duckNorm("COALESCE(mm.marr, p0.centroid)")} AS cnorm
FROM $prev p0 LEFT JOIN (SELECT centroid_id, list(mn ORDER BY pos) AS marr
  FROM ${cur}_m GROUP BY centroid_id) mm USING (centroid_id))"""
    }
    (init +: rounds).mkString(",\n")
  }

  /** Unrolled BPE merge learning — the oracle twin of
    * `TextAnalysis.bpeFit`. Emits the word table `{p}0 … {p}{iters}`
    * (w, freq, sym) and per-round winning pairs `{p}{i}_b` (pr, cnt):
    * adjacent-pair weighted counts over the space-joined symbol string,
    * argmax with (count desc, pair asc) tie-break, then the engine's
    * double-spaced literal replace (" l  r " → " lr " with every
    * separator doubled, so consecutive runs of the winning pair all
    * merge — Sennrich semantics), collapsed back — exactly the
    * engine's round. */
  def duckBpe(iters: Int, p: String = "bpe"): String = {
    val init =
      s"""${p}0 AS (SELECT w, freq,
trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' </w>' AS sym FROM (
  SELECT tok AS w, count(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents) t
  WHERE tok <> '' GROUP BY tok) wf)"""
    val rounds = (1 to iters).map { i =>
      val prev = s"$p${i - 1}"; val cur = s"$p$i"
      s"""${cur}_b AS (SELECT pr, cnt FROM (
  SELECT pr, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(arr)),
      j -> arr[j] || ' ' || arr[j+1])) AS pr, freq
    FROM (SELECT string_split(sym, ' ') AS arr, freq FROM $prev) s) g
  GROUP BY pr) z ORDER BY cnt DESC, pr LIMIT 1),
$cur AS (SELECT w, freq,
  trim(replace(
    replace('  ' || replace(sym, ' ', '  ') || '  ',
            ' ' || replace(b.pr, ' ', '  ') || ' ',
            ' ' || replace(b.pr, ' ', '') || ' '),
    '  ', ' ')) AS sym
  FROM $prev CROSS JOIN ${cur}_b b)"""
    }
    (init +: rounds).mkString(",\n")
  }

  /** Per-subspace unrolled PQ codebook fit — the oracle twin of
    * `Similarity.pqCodebookFitted` (independent exact-mean Lloyd rounds
    * in every subspace, squared-L2 argmin as `2·a·c − ‖c‖²` argmax).
    * Emits `{p}sm`, `{p}corp` (vec_id, sm, subvec) and codebooks
    * `{p}0 … {p}{iters}` (cid, sm, csub). */
  def duckPqKmeans(k: Int, m: Int, sub: Int, iters: Int,
                           p: String = "pq"): String = {
    val header =
      s"""${p}sm AS (SELECT unnest(range(0, $m)) AS sm),
${p}corp AS (SELECT vec_id, sm, embedding[sm*$sub+1 : sm*$sub+$sub] AS subvec
FROM embeddings CROSS JOIN ${p}sm),
${p}0 AS (SELECT cid, sm, embedding[sm*$sub+1 : sm*$sub+$sub] AS csub
FROM (SELECT vec_id AS cid, embedding FROM embeddings ORDER BY vec_id LIMIT $k) cb0
CROSS JOIN ${p}sm)"""
    val rounds = (1 to iters).map { i =>
      val prev = s"$p${i - 1}"; val cur = s"$p$i"
      s"""${cur}_asg AS (SELECT vec_id, sm, cid FROM (
SELECT c2.vec_id, c2.sm, b.cid,
  row_number() OVER (PARTITION BY c2.vec_id, c2.sm
    ORDER BY 2 * ${duckDot("c2.subvec", "b.csub")} - ${duckDot("b.csub", "b.csub")} DESC,
             b.cid ASC) AS rn
FROM ${p}corp c2 JOIN $prev b ON c2.sm = b.sm) t WHERE rn = 1),
${cur}_m AS (SELECT a.sm, a.cid, px.pos, ${duckExactMean(s"c2.subvec[px.pos]")} AS mn
FROM ${cur}_asg a JOIN ${p}corp c2 ON c2.vec_id = a.vec_id AND c2.sm = a.sm
  CROSS JOIN (SELECT unnest(range(1, ${sub + 1})) AS pos) px
GROUP BY a.sm, a.cid, px.pos),
$cur AS (SELECT p0.cid, p0.sm, COALESCE(mm.marr, p0.csub) AS csub
FROM $prev p0 LEFT JOIN (SELECT sm, cid, list(mn ORDER BY pos) AS marr
  FROM ${cur}_m GROUP BY sm, cid) mm ON mm.sm = p0.sm AND mm.cid = p0.cid)"""
    }
    (header +: rounds).mkString(",\n")
  }

  /** DuckDB twin of `Similarity.lshBucketKey`: per-plane sign bits from
    * the SAME generated hyperplanes (rendered as exact-double literals —
    * `(double)f` round-trips through shortest-string), summed to the
    * bucket id. */
  def duckLshBucket(embCol: String, dim: Int, nPlanes: Int,
                            seed: Long = 42L): String = {
    val planes = graft.ops.Similarity.lshPlanes(dim, nPlanes, seed)
    (0 until nPlanes).map { j =>
      val lst = planes(j).map(f => f.toDouble.toString).mkString("[", ", ", "]")
      val dot = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(list_zip($embCol, $lst), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), " +
        s"(acc, v) -> acc + v)"
      s"(CASE WHEN $dot > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** The corpus_profile enrichment, shared with its HLL approx twin so
    * the exact and approximate profiles can never silently diverge in
    * token/hash definitions. */
  def profileEnriched(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      md5(col("text")).as("h"))

  /** Deterministic messy-URL synthesis for the Web-op queries (the
    * corpus has no URL column): consecutive doc pairs share everything
    * derived from `doc_id div 2`, while the even doc takes uppercase
    * host + explicit :443 + tracking-params/fragment noise — so after
    * [[graft.ops.Web.urlNormalize]] exactly the pairs whose query
    * params survive identically collapse. Mirrored literally by
    * [[synthUrlSql]]. */

  def synthUrl: Column = {
    val k = expr("doc_id div 2")
    val hostBase = concat(
      when(k % 3 === 0, lit("cdn.")).otherwise(lit("")),
      lit("site"), (k % 50).cast("string"),
      when(k % 5 === 0, lit(".co.uk")).otherwise(lit(".com")))
    concat(
      when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
      when(col("doc_id") % 2 === 0, upper(hostBase)).otherwise(hostBase),
      when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit("")),
      lit("/page/"), k.cast("string"),
      when(col("doc_id") % 4 === 0, lit("?utm_source=x&b=2&a=1"))
        .when(col("doc_id") % 4 === 1, lit("?a=1&b=2"))
        .when(col("doc_id") % 4 === 2, lit("?b=2&a=1&fbclid=zz"))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit("")))
  }

  /** DuckDB twin of [[synthUrl]]. */
  val synthUrlSql: String =
    """(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END ||
      | CASE WHEN doc_id % 2 = 0 THEN upper(hb) ELSE hb END ||
      | CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
      | '/page/' || CAST(doc_id // 2 AS VARCHAR) ||
      | CASE doc_id % 4 WHEN 0 THEN '?utm_source=x&b=2&a=1'
      |                 WHEN 1 THEN '?a=1&b=2'
      |                 WHEN 2 THEN '?b=2&a=1&fbclid=zz' ELSE '' END ||
      | CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END)""".stripMargin

  /** The `hb` (host-base) CTE column [[synthUrlSql]] consumes. */
  val synthHostSql: String =
    """(CASE WHEN (doc_id // 2) % 3 = 0 THEN 'cdn.' ELSE '' END ||
      | 'site' || CAST((doc_id // 2) % 50 AS VARCHAR) ||
      | CASE WHEN (doc_id // 2) % 5 = 0 THEN '.co.uk' ELSE '.com' END)""".stripMargin

  /** Deterministic JSONL fixture for the ingest queries: one JSON
    * object per document (id/lang/n_chars — fields whose string forms
    * are engine-identical), with every `doc_id % 7 == 3` line truncated
    * to 10 chars (never a closing brace → malformed in BOTH engines,
    * and the cut always severs `lang`, the corruption marker). DuckDB
    * twin inline in the `ingest_*` oracles. */
  def synthJsonl(docs: DataFrame): DataFrame = {
    val full = concat(
      lit("{\"id\": "), col("doc_id"),
      lit(", \"lang\": \""), col("lang"),
      lit("\", \"nc\": "), col("n_chars"), lit("}"))
    docs.select(
      col("doc_id").as("line_no"),
      (col("doc_id") % 8).as("shard"),
      when(col("doc_id") % 7 === 3, substring(full, 1, 10)).otherwise(full).as("line"))
  }

  /** DuckDB twin of the events `{payload, schema}` envelope (no final
    * ORDER BY — reused standalone and inside the multi-table union).
    * Schema literals come from the SAME generator as the Spark side
    * (`Cdc.events*SchemaJson`) — only double quotes, safe inside
    * single-quoted SQL literals. */
  lazy val eventsEnvelopeOracle: String = {
    val env = graft.cdc.Cdc.eventsEnvelopeSchemaJson
    val msgEnv = graft.cdc.Cdc.messageEnvelopeSchemaJson
    val pkKey = graft.cdc.Cdc.eventsPkKeySchemaJson
    val msgKey = graft.model.DebeziumSchema.messageKeySchemaJson
    s"""WITH w AS (
       |  SELECT event_id, user_id, value, props, event_id AS lsn,
       |    event_id // 10 AS xid, epoch_ns(ts) // 1000000 AS ts_ms,
       |    $opCaseSql AS op
       |  FROM events),
       |wp AS (
       |  SELECT * EXCLUDE (nm, mi),
       |    CASE WHEN op = 'm' THEN
       |      CASE WHEN nm >= 2 AND xid % 3 <> 2 THEN
       |        CASE WHEN mi = 1 THEN '${graft.cdc.Cdc.DecompressionMarkerStartId}'
       |             WHEN mi = nm THEN '${graft.cdc.Cdc.DecompressionMarkerEndId}'
       |             ELSE 'graft' END
       |      WHEN nm >= 2 THEN 'app.outbox' ELSE 'graft' END END AS msg_prefix
       |  FROM (SELECT *,
       |      SUM(CASE WHEN op = 'm' THEN 1 ELSE 0 END)
       |        OVER (PARTITION BY xid) AS nm,
       |      SUM(CASE WHEN op = 'm' THEN 1 ELSE 0 END)
       |        OVER (PARTITION BY xid ORDER BY lsn) AS mi
       |    FROM w) t),
       |j AS (
       |  SELECT lsn, op, ts_ms, event_id, msg_prefix,
       |    '{"event_id":' || CAST(event_id AS VARCHAR) || ',"props":' || props
       |      || ',"user_id":' || CAST(user_id AS VARCHAR)
       |      || ',"value_cents":' || ${centsSql("value")} || '}' AS rowj,
       |    '{"connector":"spark-graft","db":"graft","lsn":"' || hex(lsn >> 32) || '/' || hex(lsn & 4294967295)
       |      || '","name":"graft","schema":"public","snapshot":false,"table":"events","ts_ms":'
       |      || CAST(ts_ms AS VARCHAR) || ',"txId":' || CAST(event_id // 10 AS VARCHAR)
       |      || ',"version":"0.1.0"}' AS srcj,
       |    '{"content":"' || to_base64(encode(props)) || '","prefix":"' || msg_prefix || '"}' AS msgj
       |  FROM wp),
       |t AS (
       |  SELECT *, ',"op":"' || op || '","source":' || srcj || ',"ts_ms":' || CAST(ts_ms AS VARCHAR) || '}' AS tailj
       |  FROM j)
       |SELECT lsn,
       |  '{"payload":' || CASE
       |     WHEN op IN ('r','c') THEN '{"after":' || rowj || tailj
       |     WHEN op = 'u' THEN '{"after":' || rowj || ',"before":' || rowj || tailj
       |     WHEN op = 'd' THEN '{"before":' || rowj || tailj
       |     ELSE '{"message":' || msgj || tailj END
       |    || ',"schema":' || CASE WHEN op = 'm' THEN '$msgEnv' ELSE '$env' END || '}' AS envelope,
       |  '{"payload":' || CASE WHEN op = 'm' THEN '{"prefix":"' || msg_prefix || '"}'
       |     ELSE '{"event_id":' || CAST(event_id AS VARCHAR) || '}' END
       |    || ',"schema":' || CASE WHEN op = 'm' THEN '$msgKey' ELSE '$pkKey' END || '}' AS key_json
       |FROM t""".stripMargin
  }

  /** DuckDB twin of `PgConverters.timestamptzNanosToText` for a nanos
    * expression (used by conv_timestamptz_text and conv_tsrange_string). */
  def duckTsText(n: String): String =
    // single line: this splices into outer stripMargin strings, where a
    // line-leading '||' would lose a pipe to margin stripping.
    // Fraction gate is on the µs-TRUNCATED remainder (like the Spark
    // twin): a sub-µs-only fraction must render no dot at all.
    s"strftime(make_timestamp((($n) // 1000000000) * 1000000), '%Y-%m-%dT%H:%M:%S') || " +
    s"CASE WHEN (($n) % 1000000000) // 1000 > 0 THEN '.' || " +
    s"rtrim(lpad(CAST((($n) % 1000000000) // 1000 * 1000 AS VARCHAR), 9, '0'), '0') " +
    s"ELSE '' END || 'Z'"

  /** DuckDB twin of `decimalCentsText` (single-line: safe to splice into
    * stripMargin oracles). */
  def duckCentsText(e: String): String =
    s"(CAST(($e) // 100 AS VARCHAR) || '.' || lpad(CAST(($e) % 100 AS VARCHAR), 2, '0'))"

  /** DuckDB twin of `conv_uint32_long`'s synthesized-uint32 expression. */
  def duckUint(e: String): String =
    s"(CASE WHEN (($e) * 2654435761) % 4294967296 - 2147483648 < 0 THEN (($e) * 2654435761) % 4294967296 - 2147483648 + 4294967296 ELSE (($e) * 2654435761) % 4294967296 - 2147483648 END)"

  /** DuckDB twin of `PgConverters.macaddr8ToText` for a long expression. */
  def duckMac8(e: String): String =
    s"printf('%02x:%02x:%02x:%02x:%02x:%02x:%02x:%02x', (($e) >> 56) & 255, (($e) >> 48) & 255, (($e) >> 40) & 255, (($e) >> 32) & 255, (($e) >> 24) & 255, (($e) >> 16) & 255, (($e) >> 8) & 255, ($e) & 255)"
}
