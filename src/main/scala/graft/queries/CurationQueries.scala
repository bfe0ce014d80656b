package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cdc.Cdc
import graft.ops.{Dedup, Ingest, Layout, Sampling, TextAnalysis}
import QueryHelpers._

/** Dataset curation (`multimodal_*`, `profile_*`, `sample_*`, `layout_*`,
  * `ingest_*`, `mix_*`, `pipeline_*`, `split_*`): profiling, sampling,
  * layout, ingest, mixing and train/test splits. */
object CurationQueries {
  val all: Seq[Query] = Seq(
    Query("layout_zorder_key", (s, dir) =>
      // Z-order clustering key (Delta/Iceberg OPTIMIZE ZORDER analog):
      // pure shift/mask integer ladder, codegen'd, zero shuffle to
      // compute — the oracle runs the identical bit arithmetic
      Tables.events(s, dir)
        .select(col("event_id"),
          Layout.mortonKey(col("user_id"), col("event_id"), bits = 16).as("zkey"))
        .orderBy(col("event_id")),
      s"""SELECT event_id, ${Layout.mortonKeySql("user_id", "event_id", 16)} AS zkey
         |FROM events ORDER BY event_id""".stripMargin),

    Query("layout_zorder_extents", (s, dir) => {
      // layout-quality report: bucket events into the 64 aligned Morton
      // quadrants of (user_id, value_cents>>8) and measure each bucket's
      // extent in BOTH dimensions — the numbers a zone map prunes on.
      // Coordinates are chosen UNWRAPPED (user_id < 256, cents>>8 < 256)
      // so quadrant membership genuinely bounds both raw columns
      val vc = floor(col("value") * lit(100.0) + lit(0.5))
      Layout.zorderExtents(Tables.events(s, dir),
          col("user_id"), shiftright(vc, 8), bits = 8, quadBits = 3)
        .orderBy(col("bucket"))
    },
      s"""WITH e AS (SELECT
         |    user_id % 256 AS zx,
         |    (CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) >> 8) % 256 AS zy,
         |    ${Layout.mortonKeySql("user_id", "(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) >> 8)", 8)} AS zkey
         |  FROM events)
         |SELECT zkey >> 10 AS bucket, COUNT(*) AS n_rows,
         |  MIN(zx) AS min_x, MAX(zx) AS max_x,
         |  MIN(zy) AS min_y, MAX(zy) AS max_y
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("layout_zonemap_prune", (s, dir) => {
      // zone-map data skipping, proven lossless: the pruned scan (bucket
      // min/max intersect → broadcast semi-join → residual filter) must
      // hash-match the oracle's PLAIN filter over all rows
      val ev = Tables.events(s, dir)
        .withColumn("value_cents", floor(col("value") * lit(100.0) + lit(0.5)))
      val bucket = shiftright(
        Layout.mortonKey(col("user_id"), shiftright(col("value_cents"), 8), bits = 8), 10)
      val zm = Layout.zoneMap(ev, bucket, col("value_cents"))
      Layout.zoneMapPrunedFilter(ev, bucket, col("value_cents"),
          zm, lit(2000L), lit(3000L))
        .select(col("event_id"), col("user_id"), col("value_cents"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, user_id, CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS value_cents
        |FROM events
        |WHERE CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) BETWEEN 2000 AND 3000
        |ORDER BY event_id""".stripMargin),

    Query("sample_priority", (s, dir) =>
      // weighted sampling without replacement (Duffield-Lund-Thorup
      // priority sampling), deterministic integer instantiation —
      // u = (keepHash+1)/1e6, priority = w·1e6 div (h+1), top-k
      Sampling.prioritySample(Tables.documents(s, dir), k = 100, weightCol = "n_chars")
        .select(col("doc_id"), col("n_chars"), col("priority")),
      s"""WITH keyed AS (SELECT doc_id, n_chars,
         |    CAST(${fnvSql("'doc_' || CAST(doc_id AS VARCHAR)")} % 1000000 AS BIGINT) + 1 AS u
         |  FROM documents)
         |SELECT doc_id, n_chars, (CAST(n_chars AS BIGINT) * 1000000) // u AS priority
         |FROM keyed ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin),

    Query("sample_kcenter", (s, dir) =>
      // k-center greedy coreset (farthest-point): the diverse-subset
      // selection a curation pipeline runs AFTER dedup — maximize
      // coverage, the opposite pressure from near-dup removal. dist is
      // the squared-L2 coverage radius sequence; sequential-fold double
      // dots are engine-exact, so the oracle replays all 8 rounds
      Sampling.kCenterSelect(Tables.embeddingsSpread(s, dir), k = 8)
        .orderBy(col("rank")),
      // k-center twin: 8 unrolled farthest-point rounds; dist arithmetic
      // mirrors the Spark expression ((a·a + c·c) - 2·a·c, same fold order)
      {
        val k = 8
        val sb = new StringBuilder
        sb.append("WITH e AS (SELECT vec_id, embedding FROM embeddings),\n")
        sb.append("s0 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),\n")
        def distSql(v: String, c: String) =
          s"((${duckDot(s"$v.embedding", s"$v.embedding")} + ${duckDot(s"$c.embedding", s"$c.embedding")}) - " +
            s"2 * ${duckDot(s"$v.embedding", s"$c.embedding")})"
        sb.append(s"d0 AS (SELECT e.vec_id, e.embedding, ${distSql("e", "s0")} AS d FROM e, s0),\n")
        (1 until k).foreach { r =>
          sb.append(s"s$r AS (SELECT vec_id, embedding, d FROM d${r - 1} ORDER BY d DESC, vec_id LIMIT 1),\n")
          if (r < k - 1)
            sb.append(s"d$r AS (SELECT d${r - 1}.vec_id, d${r - 1}.embedding, " +
              s"least(d${r - 1}.d, ${distSql(s"d${r - 1}", s"s$r")}) AS d FROM d${r - 1}, s$r),\n")
        }
        val selects = (s"SELECT 0 AS rank, vec_id, CAST(0.0 AS DOUBLE) AS dist FROM s0" +:
          (1 until k).map(r => s"SELECT $r, vec_id, d FROM s$r"))
        sb.setLength(sb.length - 2) // drop trailing comma-newline
        sb.append("\n" + selects.mkString("\nUNION ALL ") + "\nORDER BY rank")
        sb.toString
      }),

    Query("profile_heavy_hitters", (s, dir) => {
      // exact heavy hitters via the two-pass hash filter: pass-1 state
      // is nBuckets rows (NOT key cardinality); the oracle's plain
      // HAVING twin proves the bounded-memory path loses nothing
      val toks = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
      graft.ops.Profile.heavyHitters(toks, "tok", minCount = 700L, nBuckets = 1 << 12)
        .orderBy(col("cnt").desc, col("tok"))
    },
      """SELECT tok, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |GROUP BY tok HAVING cnt >= 700
        |ORDER BY cnt DESC, tok""".stripMargin),

    Query("pipeline_funnel_report", (s, dir) => {
      // curation funnel observability: doc counts surviving each stage
      // (raw → length gate → english → exact dedup → near-dup prune) —
      // the report every data-pipeline review starts from
      val docs = Tables.documents(s, dir)
      val quality = docs.filter(length(col("text")) >= 100)
      val english = quality.filter(col("lang") === "en")
      val exact = english.withColumn("__rn",
          row_number().over(Window.partitionBy(col("text")).orderBy(col("doc_id"))))
        .filter(col("__rn") === 1).drop("__rn")
      val pairs = Dedup.jaccardPairs(exact, n = 3, threshold10 = 4)
      val pruned = exact.join(
        pairs.select(col("doc_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      def stage(no: Int, name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(no).as("stage_no"), lit(name).as("stage"), col("n_docs"))
      stage(1, "raw", docs)
        .unionByName(stage(2, "min_length", quality))
        .unionByName(stage(3, "english", english))
        .unionByName(stage(4, "exact_dedup", exact))
        .unionByName(stage(5, "neardup_prune", pruned))
        .orderBy(col("stage_no"))
    },
      // funnel twin: each stage recomputed over the previous stage's set
      s"""WITH q AS (SELECT * FROM documents WHERE length(text) >= 100),
         |en AS (SELECT * FROM q WHERE lang = 'en'),
         |ex AS (SELECT * FROM (SELECT *, row_number() OVER (
         |         PARTITION BY text ORDER BY doc_id) AS rn FROM en) z WHERE rn = 1),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM ex),
         |sh0 AS (SELECT DISTINCT doc_id,
         |         unnest(list_transform(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
         |           x -> x[1] || ' ' || x[2] || ' ' || x[3])) AS shingle
         |       FROM tok WHERE len(t) >= 3),
         |sh AS (SELECT doc_id, shingle FROM (
         |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS dfc FROM sh0) zc
         |  WHERE dfc <= ${Dedup.DefaultDfCap}),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id),
         |dups AS (SELECT DISTINCT doc_b FROM pairs
         |         JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |         WHERE shared * 10 >= 4 * (sa.n + sb.n - shared)),
         |pr AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_b FROM dups))
         |SELECT 1 AS stage_no, 'raw' AS stage, COUNT(*) AS n_docs FROM documents
         |UNION ALL SELECT 2, 'min_length', COUNT(*) FROM q
         |UNION ALL SELECT 3, 'english', COUNT(*) FROM en
         |UNION ALL SELECT 4, 'exact_dedup', COUNT(*) FROM ex
         |UNION ALL SELECT 5, 'neardup_prune', COUNT(*) FROM pr
         |ORDER BY stage_no""".stripMargin),

    Query("pipeline_gopher_filter", (s, dir) => {
      // the full Gopher rule set composed in one plan: length band,
      // duplicate-token fraction, top-2-gram share, stopword presence —
      // integer inequalities throughout (ratio-free, oracle-stable)
      val docs = Tables.documents(s, dir)
      // n_stop computed inside repetitionMetrics' narrow words projection:
      // one corpus scan, no second shuffle-join (r8 bench regression fix)
      TextAnalysis.repetitionMetrics(docs, includeStopwords = true)
        .filter(col("n_tokens").between(20, 1000) &&
          col("n_distinct_tokens") * 2 >= col("n_tokens") &&
          col("top2_count") * 20 <= col("n_2grams") &&
          col("n_stop") >= 1)
        .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
          col("top2_count"), col("n_2grams"))
        .orderBy(col("doc_id"))
    },
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |word AS (SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct_tokens FROM tok),
        |g2 AS (SELECT doc_id, unnest(list_transform(list_zip(t[1:len(t)-1], t[2:len(t)]),
        |         x -> x[1] || ' ' || x[2])) AS gram FROM tok WHERE len(t) >= 2),
        |c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, max(c) AS tc, CAST(sum(c) AS BIGINT) AS ng FROM c2 GROUP BY 1),
        |stop AS (SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS n_stop
        |         FROM documents)
        |SELECT w.doc_id, n_tokens, n_distinct_tokens,
        |       coalesce(tc, 0) AS top2_count, coalesce(ng, 0) AS n_2grams
        |FROM word w LEFT JOIN t2 USING (doc_id) JOIN stop USING (doc_id)
        |WHERE n_tokens BETWEEN 20 AND 1000 AND n_distinct_tokens * 2 >= n_tokens
        |  AND coalesce(tc, 0) * 20 <= coalesce(ng, 0) AND n_stop >= 1
        |ORDER BY doc_id""".stripMargin),

    Query("pipeline_clean_corpus", (s, dir) => {
      // end-to-end corpus cleaning in ONE Catalyst plan: quality gate →
      // language filter → exact-dedup keep-lowest — the composition a
      // training-data pipeline actually runs; every stage is one of the
      // oracle-proven operators above. One shuffle total (the dedup
      // groupBy); the quality/langid stages are narrow codegen columns.
      val docs = Tables.documents(s, dir)
      val scored = docs.select(col("doc_id"), col("text"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.langId("text").as("lang"))
      val kept = scored.filter(col("n_tokens") >= 5 &&
        col("lang").isin("en", "de", "es", "fr"))
      // identical text ⇒ identical lang/n_tokens, so min() is exact
      kept.groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("doc_id"), min(col("lang")).as("lang"),
          min(col("n_tokens")).as("n_tokens"))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .orderBy(col("doc_id"))
    },
      """WITH votes AS (
        |  SELECT doc_id, text,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |    len(regexp_extract_all(text, '\b(der|die|das|und)\b')) AS de,
        |    len(regexp_extract_all(text, '\b(the|a|of|and)\b')) AS en,
        |    len(regexp_extract_all(text, '\b(el|la|los|y)\b')) AS es,
        |    len(regexp_extract_all(text, '\b(le|la|les|et)\b')) AS fr,
        |    len(regexp_extract_all(text, '\b(的|是|了|在)\b')) AS zh
        |  FROM documents
        |), scored AS (
        |  SELECT doc_id, text, n_tokens,
        |    CASE WHEN greatest(de, en, es, fr, zh) = 0 THEN 'und'
        |         ELSE ['de','en','es','fr','zh'][list_position([de, en, es, fr, zh], greatest(de, en, es, fr, zh))]
        |    END AS lang
        |  FROM votes
        |), kept AS (
        |  SELECT * FROM scored WHERE n_tokens >= 5 AND lang IN ('en','de','es','fr')
        |)
        |SELECT min(doc_id) AS doc_id, min(lang) AS lang, min(n_tokens) AS n_tokens
        |FROM kept GROUP BY md5(text)
        |ORDER BY doc_id""".stripMargin),

    Query("sample_stratified", (s, dir) => {
      // Data mixing: per-source sampling rates applied via the shared
      // doc-id-keyed FNV-64a keep-hash — deterministic across retries
      // and partitionings (no RNG, no seed plumbing), the property a
      // reproducible 100 TB training run needs. Narrow projection + one
      // groupBy(source); the hash kernel is codegen'd.
      val docs = Tables.documents(s, dir)
      val keyed = docs.select(col("source"),
        graft.functions.FnvHash64.keepHash(col("doc_id"), 100).as("bucket"),
        when(length(col("source")) === 4, lit(70)).otherwise(lit(30)).as("rate"))
      keyed.groupBy(col("source")).agg(
        count(lit(1)).as("n_total"),
        sum(when(col("bucket") < col("rate"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    },
      """WITH keyed AS (
        |  SELECT source,
        |    CAST(list_reduce(
        |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |        list_transform(range(1, length(k) + 1),
        |          i -> ascii(substr(k, CAST(i AS INTEGER), 1)))),
        |      (acc, b) -> (xor(acc, CAST(b AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |    ) % 100 AS BIGINT) AS bucket,
        |    CASE WHEN length(source) = 4 THEN 70 ELSE 30 END AS rate
        |  FROM (SELECT source, 'doc_' || CAST(doc_id AS VARCHAR) AS k FROM documents) t)
        |SELECT source, count(*) AS n_total,
        |  CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM keyed GROUP BY source ORDER BY source""".stripMargin),

    Query("mix_curriculum", (s, dir) =>
      // data-dependent mixture rates toward a token budget; broadcast-
      // only joins, two narrow scans
      TextAnalysis.mixCurriculum(Tables.documents(s, dir))
        .orderBy(col("source")),
      // mixture twin: same FNV ppm hash, same integer-division order
      // (t_total*pct//100*w//W*1e6//t_s), HUGEINT fold % 1e6 = unsigned mod
      """WITH toks AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(list_reduce(
        |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |        list_transform(range(1, length(k) + 1),
        |          i -> ascii(substr(k, CAST(i AS INTEGER), 1)))),
        |      (acc, b) -> (xor(acc, CAST(b AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |    ) % 1000000 AS BIGINT) AS ppm
        |  FROM (SELECT source, doc_id, text, 'doc_' || CAST(doc_id AS VARCHAR) AS k FROM documents) t),
        |s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t_s,
        |        CASE WHEN length(source) = 4 THEN 3 ELSE 1 END AS w_s
        |      FROM toks GROUP BY 1),
        |g AS (SELECT CAST(sum(t_s) AS BIGINT) AS t_total, CAST(sum(w_s) AS BIGINT) AS w_total FROM s),
        |r AS (SELECT source,
        |        CASE WHEN t_total * 60 // 100 * w_s // w_total >= t_s THEN 1000000
        |             ELSE t_total * 60 // 100 * w_s // w_total * 1000000 // t_s
        |        END AS threshold_ppm
        |      FROM s CROSS JOIN g)
        |SELECT t.source, r.threshold_ppm, count(*) AS n_total,
        |  CAST(sum(CASE WHEN ppm < threshold_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN ppm < threshold_ppm THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM toks t JOIN r ON t.source = r.source
        |GROUP BY 1, 2 ORDER BY t.source""".stripMargin),

    Query("ingest_jsonl", (s, dir) =>
      // front-door tolerant JSONL parse: every line surfaces exactly
      // once, typed or quarantined (corruption anchored on the
      // mandatory `lang` field, so partial-parse salvage differences
      // between engines can't split the verdict)
      Ingest.jsonlParse(synthJsonl(Tables.documents(s, dir)),
          org.apache.spark.sql.types.StructType.fromDDL(
            "id BIGINT, lang STRING, nc BIGINT"),
          markerCol = "lang", keep = Seq("line_no", "shard"))
        .orderBy(col("line_no")),
      // jsonl twin: identical line synthesis; corruption = try_cast NULL
      // or missing lang — the same verdict the Spark side anchors on lang
      """WITH raw AS (
        |  SELECT doc_id AS line_no, doc_id % 8 AS shard,
        |    '{"id": ' || CAST(doc_id AS VARCHAR) || ', "lang": "' || lang ||
        |      '", "nc": ' || CAST(n_chars AS VARCHAR) || '}' AS fl
        |  FROM documents),
        |lines AS (SELECT line_no, shard,
        |    CASE WHEN line_no % 7 = 3 THEN left(fl, 10) ELSE fl END AS line
        |  FROM raw),
        |p AS (SELECT line_no, shard, line, try_cast(line AS JSON) AS j FROM lines),
        |f AS (SELECT *,
        |    (j IS NULL OR json_extract_string(j, '$.lang') IS NULL) AS is_corrupt
        |  FROM p)
        |SELECT line_no, shard,
        |  CASE WHEN is_corrupt THEN NULL
        |       ELSE CAST(json_extract(j, '$.id') AS BIGINT) END AS id,
        |  CASE WHEN is_corrupt THEN NULL
        |       ELSE json_extract_string(j, '$.lang') END AS lang,
        |  CASE WHEN is_corrupt THEN NULL
        |       ELSE CAST(json_extract(j, '$.nc') AS BIGINT) END AS nc,
        |  is_corrupt,
        |  CASE WHEN is_corrupt THEN line END AS quarantine_raw
        |FROM f ORDER BY line_no""".stripMargin),

    Query("ingest_quarantine", (s, dir) =>
      // quarantine-rate report per shard — the ops dashboard row that
      // makes a bad input shard visible the batch it lands
      Ingest.quarantineStats(
          Ingest.jsonlParse(synthJsonl(Tables.documents(s, dir)),
            org.apache.spark.sql.types.StructType.fromDDL(
              "id BIGINT, lang STRING, nc BIGINT"),
            markerCol = "lang", keep = Seq("shard")),
          "shard")
        .orderBy(col("shard")),
      """WITH raw AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    '{"id": ' || CAST(doc_id AS VARCHAR) || ', "lang": "' || lang ||
        |      '", "nc": ' || CAST(n_chars AS VARCHAR) || '}' AS fl
        |  FROM documents),
        |lines AS (SELECT shard,
        |    CASE WHEN doc_id % 7 = 3 THEN left(fl, 10) ELSE fl END AS line
        |  FROM raw),
        |f AS (SELECT shard,
        |    (try_cast(line AS JSON) IS NULL OR
        |     json_extract_string(try_cast(line AS JSON), '$.lang') IS NULL)
        |      AS is_corrupt
        |  FROM lines)
        |SELECT shard, COUNT(*) AS n_lines,
        |  CAST(SUM(CASE WHEN is_corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt
        |FROM f GROUP BY shard ORDER BY shard""".stripMargin),

    Query("profile_benford", (s, dir) =>
      // Benford first-digit audit of the value column (integer cents):
      // expectations are plan-time log10 literals, shares integer ppm
      graft.ops.Profile.benfordReport(
          Cdc.walEvents(s, dir).select(
            expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents")),
          "cents")
        .orderBy(col("digit")),
      // Benford twin: identical first-digit-of-decimal-string derivation,
      // the shared Scala expectation literals
      {
        val expectedCase = "CASE g.digit " + ops.Profile.BenfordExpectedPpm.map {
          case (d, e) => s"WHEN $d THEN $e"
        }.mkString(" ") + " END"
        s"""WITH v AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
           |p AS (SELECT cents FROM v WHERE cents > 0),
           |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit FROM p),
           |c AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY 1),
           |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS tt FROM c),
           |g AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit)
           |SELECT g.digit, CAST(COALESCE(c.n_obs, 0) AS BIGINT) AS n_obs,
           |  (CAST(COALESCE(c.n_obs, 0) AS BIGINT) * 1000000) // t.tt AS obs_ppm,
           |  CAST($expectedCase AS BIGINT) AS expected_ppm
           |FROM g LEFT JOIN c USING (digit) CROSS JOIN t
           |ORDER BY g.digit""".stripMargin
      }),

    Query("multimodal_features", (s, dir) => {
      // real javax.imageio PNG decode: width/height are true pixel dims.
      // Gate columns are the SQL-predictable invariants (the fixture
      // dims derive from the id), so encode→decode round-trips hash
      // against the oracle; byte_len/checksum (codec-specific) stay
      // spec-asserted in MultimodalSpec
      ops.Multimodal.decodeFeatures(ops.Multimodal.attachImages(Tables.documents(s, dir)))
        .select(col("source_id"), col("mime"), col("width"), col("height"))
        .orderBy(col("source_id"))
    },
      // multimodal invariants: the codec fixtures are id-parameterized
      // (ImageCodec.dims, AudioCodec.frames, VideoCodec.frameCount), so
      // the REAL encode→decode chains must land exactly on these
      // SQL-derivable values — dims wrong, container wrong, or demux
      // wrong → hash red.
      """SELECT doc_id AS source_id, 'image/png' AS mime,
        |  CAST(8 + doc_id % 32 AS INT) AS width,
        |  CAST(8 + (doc_id // 3) % 24 AS INT) AS height
        |FROM documents ORDER BY source_id""".stripMargin),

    Query("multimodal_ahash", (s, dir) =>
      // perceptual hash per image: real ImageIO decode → integer aHash
      // (rows-only: codec output is not SQL-replicable)
      ops.Multimodal.imageHashes(
          ops.Multimodal.attachImages(Tables.documents(s, dir)))
        .orderBy(col("source_id")),
      // the REAL-codec perceptual hash, oracle-replayed: PNG pixels are a
      // lossless roundtrip of the generator arithmetic, so the decoded
      // aHash must equal the recomputed one bit-for-bit
      s"""WITH imgs AS (SELECT doc_id AS img_key, doc_id AS sid,
         |    8 + doc_id % 32 AS w, 8 + (doc_id // 3) % 24 AS h, false AS flip
         |  FROM documents),
         |$ahashCtes
         |SELECT img_key AS source_id, ahash FROM ah ORDER BY source_id""".stripMargin),

    Query("multimodal_video", (s, dir) => {
      // real demux + per-keyframe ImageIO decode over the labeled
      // frame-container fixture (no mp4 codec in the JDK). Scoped to
      // 2000 docs: the bench cost of this query is dominated by the
      // fixture's per-frame PNG ENCODE, not the operator under test
      // gate columns: decoded frame dims (fixture-derivable), so the
      // mux→demux→ImageIO chain hashes against the oracle; the PNG byte
      // size stays spec-asserted
      ops.Multimodal.videoKeyFrames(
          ops.Multimodal.attachVideo(
            Tables.documents(s, dir).filter(col("doc_id") < 2000)), stride = 2)
        .select(col("source_id"), col("frame_no"), col("width"), col("height"))
        .orderBy(col("source_id"), col("frame_no"))
    },
      // demux + per-keyframe decode: frame f of doc d is the synthetic
      // image for id d*131+f; stride 2 over 4 + d%6 frames
      """WITH fr AS (SELECT doc_id, CAST(f AS INT) AS frame_no,
        |    doc_id * 131 + f AS fid
        |  FROM documents, unnest(range(0, 4 + doc_id % 6)) AS t(f)
        |  WHERE doc_id < 2000 AND f % 2 = 0)
        |SELECT doc_id AS source_id, frame_no,
        |  CAST(8 + fid % 32 AS INT) AS width,
        |  CAST(8 + (fid // 3) % 24 AS INT) AS height
        |FROM fr ORDER BY source_id, frame_no""".stripMargin),

    Query("multimodal_audio", (s, dir) => {
      // real javax.sound.sampled WAV decode: sample rate / channels /
      // frame length parsed from the container
      ops.Multimodal.audioFeatures(ops.Multimodal.attachAudio(Tables.documents(s, dir)))
        .orderBy(col("source_id"))
    },
      // canonical RIFF/WAV: 44-byte header + 2 bytes per 16-bit mono frame
      """SELECT doc_id AS source_id, 'audio/wav' AS mime,
        |  CAST(44 + 2 * (100 + doc_id % 400) AS INT) AS byte_len,
        |  8000 AS sample_rate, 1 AS channels,
        |  CAST(100 + doc_id % 400 AS BIGINT) AS n_frames
        |FROM documents ORDER BY source_id""".stripMargin),

    Query("multimodal_resize", (s, dir) => {
      // decode → bilinear box-fit resize → re-encode; emitted dims are
      // the true resized pixel dims (bytes dropped for the dump)
      ops.Multimodal.resizeImages(
          ops.Multimodal.attachImages(Tables.documents(s, dir)), 16, 16)
        .select(col("source_id"), col("mime"), col("width"), col("height"))
        .orderBy(col("source_id"))
    },
      // box-fit 16x16, aspect preserved, never upscaled: identical IEEE
      // double ops on both engines, FLOOR = Scala's toInt for positives
      """WITH d AS (SELECT doc_id,
        |    CAST(8 + doc_id % 32 AS DOUBLE) AS w0,
        |    CAST(8 + (doc_id // 3) % 24 AS DOUBLE) AS h0
        |  FROM documents),
        |s AS (SELECT doc_id, w0, h0, LEAST(1.0, 16.0 / w0, 16.0 / h0) AS sc FROM d)
        |SELECT doc_id AS source_id, 'image/png' AS mime,
        |  CAST(GREATEST(1, FLOOR(w0 * sc)) AS INT) AS width,
        |  CAST(GREATEST(1, FLOOR(h0 * sc)) AS INT) AS height
        |FROM s ORDER BY source_id""".stripMargin),

    Query("multimodal_frames", (s, dir) => {
      // frame slicing over opaque bytes; the corpus is ASCII, so the
      // sliced frames re-read as text and gate against a substring twin
      ops.Multimodal.sampleFrames(ops.Multimodal.attachMedia(Tables.documents(s, dir)))
        .select(col("source_id"), col("frame_no"),
          octet_length(col("frame")).as("frame_len"),
          col("frame").cast("string").as("frame_text"))
        .orderBy(col("source_id"), col("frame_no"))
    },
      // 64-byte frame slicing at stride 4 over the (ASCII) text bytes
      """WITH f AS (SELECT doc_id AS source_id, CAST(i AS INT) AS frame_no,
        |    substring(text, CAST(i * 64 + 1 AS INT), 64) AS frame_text
        |  FROM documents, unnest(range(0, (length(text) - 1) // 64 + 1)) AS t(i)
        |  WHERE i % 4 = 0)
        |SELECT source_id, frame_no,
        |  CAST(length(frame_text) AS INT) AS frame_len, frame_text
        |FROM f ORDER BY source_id, frame_no""".stripMargin),

    Query("layout_zorder", (s, dir) =>
      // the data-skipping clustering key: 10-bit Morton interleave of
      // (n_chars, doc_id) rank spaces — files sorted by it carry tight
      // min/max on BOTH columns
      Tables.documents(s, dir)
        .select(col("doc_id"),
          ops.Compaction.zOrderValue(Seq(
            pmod(col("n_chars"), lit(1024L)), pmod(col("doc_id"), lit(1024L))),
            bits = 10).as("zval"))
        .orderBy(col("doc_id")),
      // z-order twin: the same statically-unrolled bit interleave
      {
        val terms = for {
          i <- 0 until 10
          (c, j) <- Seq("(n_chars % 1024)", "(doc_id % 1024)").zipWithIndex
        } yield s"((($c >> $i) & 1) << ${i * 2 + j})"
        s"""SELECT doc_id, CAST(${terms.mkString(" + ")} AS BIGINT) AS zval
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    Query("mix_temperature", (s, dir) =>
      // T=2 temperature mixing (mT5 posture): keep rates ∝ sqrt(n)/n,
      // engine-exact floor-sqrt weights + defined nested-floor ppm
      Sampling.temperatureMixRates(Tables.documents(s, dir), budget = 50000L)
        .orderBy(col("source")),
      // temperature twin: identical floor-sqrt weights + nested-floor ppm
      """WITH s AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY source),
        |w AS (SELECT source, n_tokens,
        |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight FROM s),
        |t AS (SELECT sum(weight) AS w_sum FROM w)
        |SELECT w.source, w.n_tokens, w.weight,
        |  CAST(CASE WHEN w.n_tokens <= 0 OR t.w_sum <= 0 THEN 0
        |       ELSE least(1000000, ((CAST(50000 AS BIGINT) * 1000000 // t.w_sum) * w.weight) // w.n_tokens)
        |  END AS BIGINT) AS rate_ppm
        |FROM w CROSS JOIN t ORDER BY source""".stripMargin),

    Query("mix_unimax", (s, dir) =>
      // UniMax: epoch-capped waterfilling of a token budget across
      // sources — small sources saturate at n*E, the rest split evenly
      Sampling.unimaxAllocation(Tables.documents(s, dir),
          budget = 100000L, epochCap = 2)
        .orderBy(col("source")),
      // unimax twin: identical window cumsums over the cap-sorted sources
      """WITH s AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY source),
        |c AS (SELECT source, n_tokens, n_tokens * 2 AS cap_tokens FROM s),
        |f AS (SELECT *,
        |    coalesce(sum(cap_tokens) OVER (ORDER BY cap_tokens, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx,
        |    count(*) OVER (ORDER BY cap_tokens, source
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS rem
        |  FROM c),
        |g AS (SELECT *, cap_tokens * rem <= 100000 - pfx AS sat FROM f),
        |t AS (SELECT coalesce(sum(CASE WHEN sat THEN cap_tokens END), 0) AS sat_sum,
        |             sum(CASE WHEN sat THEN 0 ELSE 1 END) AS n_unsat FROM g),
        |a AS (SELECT g.source, g.n_tokens, g.cap_tokens,
        |        CASE WHEN g.sat THEN g.cap_tokens
        |             ELSE (100000 - t.sat_sum) // t.n_unsat END AS alloc_tokens
        |      FROM g CROSS JOIN t)
        |SELECT source, n_tokens, cap_tokens, CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
        |  CAST(CASE WHEN n_tokens <= 0 THEN 0
        |       ELSE alloc_tokens * 1000 // n_tokens END AS BIGINT) AS epochs_milli
        |FROM a ORDER BY source""".stripMargin),

    Query("sample_neyman", (s, dir) =>
      // Neyman vs proportional stratified allocation of a 1000-doc
      // budget: high-variance sources earn more than their share,
      // largest-remainder apportionment sums to the budget exactly
      Sampling.neymanAllocation(Tables.documents(s, dir), k = 1000L)
        .orderBy(col("source")),
      // Neyman twin: identical exact sums → fixed-order sd_milli floor,
      // identical integer-weight largest-remainder apportionment twice
      """WITH per AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sx,
        |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)
        |             * CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS sx2
        |  FROM documents GROUP BY 1),
        |sd AS (SELECT source, n_docs,
        |    CASE WHEN CAST(sx2 AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |           - (CAST(sx AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |             * (CAST(sx AS DOUBLE) / CAST(n_docs AS DOUBLE)) <= 0.0
        |      THEN CAST(0 AS BIGINT)
        |      ELSE CAST(FLOOR(SQRT(
        |        CAST(sx2 AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |          - (CAST(sx AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |            * (CAST(sx AS DOUBLE) / CAST(n_docs AS DOUBLE)))
        |        * 1000.0 + 0.5) AS BIGINT) END AS sd_milli
        |  FROM per),
        |ny AS (SELECT *, n_docs * sd_milli AS w FROM sd),
        |nt AS (SELECT CAST(COALESCE(SUM(w), 0) AS BIGINT) AS tw FROM ny),
        |nb AS (SELECT ny.*, nt.tw,
        |    CASE WHEN nt.tw > 0 THEN CAST((1000 * w) // nt.tw AS BIGINT) ELSE 0 END AS base,
        |    CASE WHEN nt.tw > 0 THEN CAST((1000 * w) % nt.tw AS BIGINT) ELSE 0 END AS r
        |  FROM ny CROSS JOIN nt),
        |na AS (SELECT *,
        |    CASE WHEN tw > 0 THEN 1000 - CAST(SUM(base) OVER () AS BIGINT) ELSE 0 END AS leftv,
        |    row_number() OVER (ORDER BY r DESC, source) AS rn FROM nb),
        |n1 AS (SELECT source, n_docs, sd_milli,
        |    CAST(base + CASE WHEN rn <= leftv THEN 1 ELSE 0 END AS BIGINT) AS alloc_neyman
        |  FROM na),
        |py AS (SELECT source, n_docs, CAST(n_docs AS BIGINT) AS w FROM sd),
        |pt AS (SELECT CAST(COALESCE(SUM(w), 0) AS BIGINT) AS tw FROM py),
        |pb AS (SELECT py.*, pt.tw,
        |    CASE WHEN pt.tw > 0 THEN CAST((1000 * w) // pt.tw AS BIGINT) ELSE 0 END AS base,
        |    CASE WHEN pt.tw > 0 THEN CAST((1000 * w) % pt.tw AS BIGINT) ELSE 0 END AS r
        |  FROM py CROSS JOIN pt),
        |pa AS (SELECT *,
        |    CASE WHEN tw > 0 THEN 1000 - CAST(SUM(base) OVER () AS BIGINT) ELSE 0 END AS leftv,
        |    row_number() OVER (ORDER BY r DESC, source) AS rn FROM pb),
        |p1 AS (SELECT source,
        |    CAST(base + CASE WHEN rn <= leftv THEN 1 ELSE 0 END AS BIGINT) AS alloc_prop
        |  FROM pa)
        |SELECT n1.source, n1.n_docs, n1.sd_milli, n1.alloc_neyman, p1.alloc_prop
        |FROM n1 JOIN p1 USING (source) ORDER BY n1.source""".stripMargin),

    Query("mix_quality_budget", (s, dir) =>
      // quality-first waterfall (the third mixing recipe next to
      // UniMax/temperature): spend the budget on the highest-TTR
      // sources first, each capped at 2.0 epochs
      Sampling.qualityBudgetMix(
          TextAnalysis.sourceProfile(Tables.documents(s, dir))
            .select(col("source"), col("total_tokens").as("n_tokens"),
              col("ttr_ppm").as("priority")),
          budget = 20000L)
        .orderBy(col("source")),
      // quality-waterfall twin: the sourceProfile stats CTEs, TTR
      // priority, cumulative-cap window, identical clamp arithmetic
      """WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
        |base AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(sum(len(t)) AS BIGINT) AS total_tokens
        |  FROM toks GROUP BY source),
        |dist AS (SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS distinct_tokens
        |  FROM (SELECT source, unnest(t) AS w FROM toks) z GROUP BY source),
        |st AS (SELECT b.source, b.total_tokens AS n_tokens,
        |    d.distinct_tokens * 1000000 // nullif(b.total_tokens, 0) AS priority
        |  FROM base b JOIN dist d ON b.source = d.source),
        |wf AS (SELECT *, CAST((n_tokens * 20) // 10 AS BIGINT) AS cap_tokens,
        |    CAST(COALESCE(SUM((n_tokens * 20) // 10) OVER (
        |      ORDER BY priority DESC, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM st)
        |SELECT source, n_tokens, priority, cap_tokens,
        |  CAST(greatest(0, least(cap_tokens, 20000 - cum_before)) AS BIGINT)
        |    AS take_tokens,
        |  CAST(CASE WHEN n_tokens > 0
        |    THEN (greatest(0, least(cap_tokens, 20000 - cum_before)) * 1000)
        |         // n_tokens ELSE 0 END AS BIGINT) AS epochs_milli
        |FROM wf ORDER BY source""".stripMargin),

    Query("sample_splits", (s, dir) =>
      // leakage-safe train/val/test: content-keyed FNV ppm, so exact
      // duplicates always share a split and can't leak into eval
      Sampling.assignSplits(Tables.documents(s, dir))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id")),
      // splits twin: the classifier twin's FNV HUGEINT fold over the TEXT
      // (content-keyed), unsigned % 1e6, same ppm thresholds
      """WITH h AS (SELECT doc_id,
        |  list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |      list_transform(range(1, length(text) + 1),
        |        i -> ascii(substr(text, CAST(i AS INTEGER), 1)))),
        |      (acc, c) -> (xor(acc, CAST(c AS HUGEINT)) * 1099511628211) % 18446744073709551616)
        |    % 1000000 AS hv
        |  FROM documents)
        |SELECT doc_id, CASE WHEN hv < 800000 THEN 'train'
        |                    WHEN hv < 900000 THEN 'val'
        |                    ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin),

    Query("sample_cap_per_source", (s, dir) => {
      // RefinedWeb-style per-domain frequency cap: best 20 docs per
      // source by (n_chars desc, doc_id)
      Sampling.capPerGroup(Tables.documents(s, dir), "source", 20,
          Seq(col("n_chars").desc, col("doc_id")))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 20 ORDER BY doc_id""".stripMargin),

    Query("sample_top_quantile", (s, dir) => {
      // quantile gate: top 25% of each source by length rank,
      // integer-exact (rank*100 <= 25*count)
      Sampling.topPercentPerGroup(Tables.documents(s, dir), "source", 25,
          Seq(col("n_chars").desc, col("doc_id")))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents) t
        |WHERE rk * 100 <= n * 25 ORDER BY doc_id""".stripMargin),

    Query("profile_source_stats", (s, dir) =>
      // per-source corpus-health report: doc/token counts, vocabulary,
      // type-token ratio, mean doc length — all integer-exact
      TextAnalysis.sourceProfile(Tables.documents(s, dir))
        .orderBy(col("source")),
      // source-profile twin: doc-level token counts, per-source distinct
      // vocabulary, the same integer ratio arithmetic
      """WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
        |base AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(sum(len(t)) AS BIGINT) AS total_tokens
        |  FROM toks GROUP BY source),
        |dist AS (SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS distinct_tokens
        |  FROM (SELECT source, unnest(t) AS w FROM toks) z GROUP BY source)
        |SELECT b.source, b.n_docs, b.total_tokens, d.distinct_tokens,
        |  d.distinct_tokens * 1000000 // nullif(b.total_tokens, 0) AS ttr_ppm,
        |  b.total_tokens * 1000 // b.n_docs AS mean_doc_tokens_milli
        |FROM base b JOIN dist d ON b.source = d.source
        |ORDER BY b.source""".stripMargin),

    Query("profile_k_anonymity", (s, dir) =>
      // governance gate: (lang, source) quasi-identifier groups below
      // k=5 re-identify their members; 1-row report, examples withheld
      graft.ops.Profile.kAnonymity(Tables.documents(s, dir),
        Seq("lang", "source"), k = 5),
      // hybrid-retrieval twin: the bm25 CTE chain at k=50 + the
      // hash-embedding dot product (bucket-join form — identical to the
      // zip_with dot, non-shared lanes contribute 0) + integer RRF merge
      // maxsim twin: sparse bucket-join dots with the zero-fill cases made
      // explicit — a unit/chunk pair sharing no bucket has dot EXACTLY 0,
      // so (a) per-(doc,unit) max includes 0 when any chunk is absent from
      // the join, (b) absent (doc,unit) pairs contribute 0 via the grid
      """WITH g AS (SELECT lang, source, count(*) AS sz FROM documents GROUP BY 1, 2)
        |SELECT 'lang,source' AS qi, CAST(5 AS BIGINT) AS k,
        |  COUNT(*) AS n_groups,
        |  CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
        |  CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
        |  min(sz) AS min_group_size,
        |  (SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) = 0) AS passed
        |FROM g""".stripMargin),

    Query("profile_mad_outliers", (s, dir) =>
      // robust per-source length-outlier gate: lower-median/MAD, all
      // integer, 50% breakdown point — the estimator the outliers
      // themselves can't drag
      graft.ops.Profile.madOutliers(Tables.documents(s, dir), "n_chars", k = 3)
        .orderBy(col("source")),
      // MAD twin: same lower-median rank definition, same (value,id) and
      // (dev,id) total orders
      """WITH base AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |med AS (SELECT source, v AS med FROM base WHERE rn = (n + 1) // 2),
        |dev AS (SELECT b.source, b.doc_id, b.v, b.n, abs(b.v - m.med) AS dv, m.med
        |  FROM base b JOIN med m USING (source)),
        |mad AS (SELECT source, dv AS mad FROM (
        |    SELECT source, dv, n,
        |      row_number() OVER (PARTITION BY source ORDER BY dv, doc_id) AS rd
        |    FROM dev) z WHERE rd = (n + 1) // 2)
        |SELECT d.source, COUNT(*) AS n, min(d.med) AS median, min(m.mad) AS mad,
        |  CAST(SUM(CASE WHEN d.dv > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  max(CASE WHEN d.dv > 3 * m.mad THEN d.v END) AS worst_value
        |FROM dev d JOIN mad m USING (source)
        |GROUP BY d.source ORDER BY d.source""".stripMargin),

    Query("profile_gini", (s, dir) =>
      // corpus-mix inequality: Gini of doc/token mass across sources,
      // exact sorted-rank identity in ppm
      graft.ops.Profile.giniReport(Tables.documents(s, dir)),
      // gini twin: same sorted-rank identity over the |sources|-row
      // aggregate, ties by source name (value-invariant), integer ppm
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT) AS rt,
        |    CAST(row_number() OVER (ORDER BY n_docs, source) AS BIGINT) AS rd
        |  FROM per)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(n_docs) AS BIGINT) AS total_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CASE WHEN count(*) * SUM(n_tokens) = 0 THEN 0
        |    ELSE CAST(((2 * SUM(rt * n_tokens) - (count(*) + 1) * SUM(n_tokens)) * 1000000)
        |         // (count(*) * SUM(n_tokens)) AS BIGINT) END AS gini_tokens_ppm,
        |  CASE WHEN count(*) * SUM(n_docs) = 0 THEN 0
        |    ELSE CAST(((2 * SUM(rd * n_docs) - (count(*) + 1) * SUM(n_docs)) * 1000000)
        |         // (count(*) * SUM(n_docs)) AS BIGINT) END AS gini_docs_ppm
        |FROM r""".stripMargin),

    Query("profile_heaps_curve", (s, dir) =>
      // vocabulary growth at corpus-prefix checkpoints (Heaps' law):
      // first-occurrence trick — one linear token groupBy, no
      // per-checkpoint distinct
      graft.ops.Profile.heapsCurve(Tables.documents(s, dir))
        .orderBy(col("frac_ppm")),
      // heaps twin: identical first-occurrence trick, integer ppm cutoffs
      """WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |fo AS (SELECT token, MIN(doc_id) AS first_doc FROM tok GROUP BY token),
        |f AS (SELECT unnest([CAST(125000 AS BIGINT), 250000, 500000, 1000000]) AS frac_ppm),
        |c AS (SELECT frac_ppm, (m * frac_ppm) // 1000000 AS cutoff_id FROM f, mx)
        |SELECT c.frac_ppm, c.cutoff_id,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents d WHERE d.doc_id <= c.cutoff_id) AS n_docs,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM fo WHERE fo.first_doc <= c.cutoff_id) AS vocab
        |FROM c ORDER BY frac_ppm""".stripMargin),

    Query("split_leakage", (s, dir) => {
      // decontamination audit: near-dup pairs (MinHash-LSH) that CROSS
      // the content-keyed train/val/test boundary — exact duplicates
      // can't leak (content hashing pins them to one split), so every
      // hit here is a fuzzy leak the split assignment can't see.
      // NOTE: the pair set is star-capped in hot buckets, so a
      // non-anchor x non-anchor dup can escape this PAIR listing —
      // split_leakage_clusters is the complete (component-level) audit
      val docs = Tables.documents(s, dir)
      val splits = Sampling.assignSplits(docs).select(col("doc_id"), col("split"))
      Dedup.minhashLshPairs(docs)
        .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
        .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
        .filter(col("split_a") =!= col("split_b"))
        .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // leakage twin: the minhash-LSH pair CTEs + the content-keyed split
      // hash, keeping only pairs whose endpoints land in different splits
      (minhashPairCtes +
        s""",
          |spl AS (SELECT doc_id,
          |  CASE WHEN hvs < 800000 THEN 'train' WHEN hvs < 900000 THEN 'val' ELSE 'test' END AS split
          |  FROM (SELECT doc_id, ${fnvSql("text")} % 1000000 AS hvs
          |    FROM documents) hx)
          |SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
          |FROM pairs p JOIN spl sa ON p.doc_a = sa.doc_id JOIN spl sb ON p.doc_b = sb.doc_id
          |WHERE sa.split <> sb.split
          |ORDER BY doc_a, doc_b""".stripMargin)),

    Query("split_leakage_clusters", (s, dir) => {
      // the COMPLETE decontamination audit: pairwise split_leakage can
      // miss a non-anchor x non-anchor dup inside a star-capped hot
      // bucket, but star edges preserve connected components — so audit
      // at the CLUSTER level: any near-dup cluster whose members span
      // more than one content-keyed split is a leak, with no pair-set
      // blind spot at any bucket size
      val docs = Tables.documents(s, dir)
      val splits = Sampling.assignSplits(docs).select(col("doc_id"), col("split"))
      Dedup.clusters(Dedup.minhashLshPairs(docs))
        .join(splits, "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("split")).as("n_splits"),
          concat_ws(",", array_sort(collect_set(col("split")))).as("splits"))
        .filter(col("n_splits") > 1)
        .orderBy(col("cluster_id"))
    },
      // cluster-leak twin: recursive CC over the pair graph, split hash
      // per member, leak = cluster spanning >1 split
      (minhashPairCtes +
        s""",
          |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
          |cc AS (SELECT a AS doc, a AS label FROM edges
          |       UNION SELECT e.a, cc.label FROM cc JOIN edges e ON cc.doc = e.b),
          |lab AS (SELECT doc AS doc_id, MIN(label) AS cluster_id FROM cc GROUP BY doc),
          |spl AS (SELECT doc_id,
          |  CASE WHEN hvs < 800000 THEN 'train' WHEN hvs < 900000 THEN 'val' ELSE 'test' END AS split
          |  FROM (SELECT doc_id, ${fnvSql("text")} % 1000000 AS hvs
          |    FROM documents) hx)
          |SELECT CAST(l.cluster_id AS BIGINT) AS cluster_id, COUNT(*) AS n_docs,
          |  COUNT(DISTINCT s.split) AS n_splits,
          |  string_agg(DISTINCT s.split, ',' ORDER BY s.split) AS splits
          |FROM lab l JOIN spl s USING (doc_id)
          |GROUP BY l.cluster_id HAVING COUNT(DISTINCT s.split) > 1
          |ORDER BY cluster_id""".stripMargin)),

    Query("split_by_cluster", (s, dir) => {
      // the FIX for split_leakage: near-dup clusters (connected
      // components of the MinHash-LSH graph) keyed by their
      // representative's content hash — one split per cluster, so
      // fuzzy leakage across train/val/test is structurally impossible
      val docs = Tables.documents(s, dir)
      Sampling.assignSplitsByCluster(docs, Dedup.minhashLshPairs(docs))
        .select(col("doc_id"), col("cluster_id"), col("split"))
        .orderBy(col("doc_id"))
    },
      // cluster-split twin: the same pair CTEs + recursive connected
      // components (min label), split hash over the representative's text
      (minhashPairCtes +
        s""",
          |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
          |cc AS (SELECT a AS doc, a AS label FROM edges
          |       UNION SELECT e.a, cc.label FROM cc JOIN edges e ON cc.doc = e.b),
          |lab AS (SELECT doc AS doc_id, MIN(label) AS cluster_id FROM cc GROUP BY doc),
          |keyed AS (SELECT d.doc_id, l.cluster_id, coalesce(r.text, d.text) AS key_text
          |          FROM documents d LEFT JOIN lab l USING (doc_id)
          |          LEFT JOIN documents r ON r.doc_id = l.cluster_id),
          |spl AS (SELECT doc_id, cluster_id,
          |  CASE WHEN hvs < 800000 THEN 'train' WHEN hvs < 900000 THEN 'val' ELSE 'test' END AS split
          |  FROM (SELECT doc_id, cluster_id, ${fnvSql("key_text")} % 1000000 AS hvs
          |    FROM keyed) hx)
          |SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id, split
          |FROM spl ORDER BY doc_id""".stripMargin)),

    Query("pipeline_quality_buckets", (s, dir) => {
      // CCNet-style quality bucketing composed from two proven ops in
      // ONE plan: per-doc classifier score → keep the better half of
      // each source (quantile gate, integer-exact)
      val scored = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        TextAnalysis.classifierScoreMilli("text").as("score_milli"))
      Sampling.topPercentPerGroup(scored, "source", 50,
          Seq(col("score_milli").desc, col("doc_id")))
        .orderBy(col("doc_id"))
    },
      // quality-bucket twin: the text_classifier HUGEINT fold per token,
      // then the integer quantile gate rank*100 <= n*50
      """WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t FROM documents),
        |w AS (SELECT doc_id, source,
        |  CAST(((list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |      list_transform(range(1, length(t) + 1),
        |        i -> ascii(substr(t, CAST(i AS INTEGER), 1)))),
        |      (acc, c) -> (xor(acc, CAST(c AS HUGEINT)) * 1099511628211) % 18446744073709551616)
        |    % 1024) * 2654435761 % 2001 - 1000) AS BIGINT) AS w
        |  FROM tok),
        |scored AS (SELECT doc_id, source, CAST(sum(w) AS BIGINT) AS score_milli
        |           FROM w GROUP BY 1, 2),
        |ranked AS (SELECT *,
        |    row_number() OVER (PARTITION BY source ORDER BY score_milli DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM scored)
        |SELECT doc_id, source, score_milli FROM ranked
        |WHERE rk * 100 <= n * 50 ORDER BY doc_id""".stripMargin),

    Query("sample_dsir_topk", (s, dir) => {
      // DSIR-shaped selection: rank the general corpus by hashed-bigram
      // similarity to the src0 target domain, keep the top 100
      val docs = Tables.documents(s, dir)
      TextAnalysis.dsirScores(
          raw = docs.filter(col("source") =!= "src0"),
          target = docs.filter(col("source") === "src0"))
        .orderBy(col("dsir_score_ppm").desc, col("doc_id"))
        .limit(100)
    },
      // DSIR twin: FNV HUGEINT fold % 4096 (2^64 ≡ 0 mod 4096, so the
      // unsigned mod equals Spark's signed pmod), integer ppm weights
      """WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, source,
        |        unnest(list_transform(list_zip(t[1:len(t)-1], t[2:len(t)]),
        |          x -> x[1] || ' ' || x[2])) AS gram
        |      FROM tok WHERE len(t) >= 2),
        |b AS (SELECT doc_id, source,
        |        CAST(list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |          list_transform(range(1, length(gram) + 1),
        |            i -> ascii(substr(gram, CAST(i AS INTEGER), 1)))),
        |          (acc, c) -> (xor(acc, CAST(c AS HUGEINT)) * 1099511628211) % 18446744073709551616)
        |          % 4096 AS BIGINT) AS bucket
        |      FROM g),
        |tc AS (SELECT bucket, count(*) AS t_count FROM b WHERE source = 'src0' GROUP BY 1),
        |rc AS (SELECT bucket, count(*) AS r_count FROM b WHERE source <> 'src0' GROUP BY 1),
        |w AS (SELECT rc.bucket, coalesce(tc.t_count, 0) * 1000000 // rc.r_count AS w_ppm
        |      FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket),
        |tf AS (SELECT doc_id, bucket, count(*) AS tf FROM b WHERE source <> 'src0' GROUP BY 1, 2)
        |SELECT tf.doc_id, CAST(sum(tf.tf * w.w_ppm) // sum(tf.tf) AS BIGINT) AS dsir_score_ppm
        |FROM tf JOIN w ON tf.bucket = w.bucket
        |GROUP BY tf.doc_id
        |ORDER BY dsir_score_ppm DESC, tf.doc_id LIMIT 100""".stripMargin),

    Query("profile_columns", (s, dir) =>
      // deequ-posture column profile: completeness + exact distinctness
      // per column in one scan (multi-distinct → one Expand shuffle)
      graft.ops.Profile.columnProfile(Tables.documents(s, dir),
          Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy(col("column_name")),
      """SELECT 'doc_id' AS column_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  COUNT(DISTINCT doc_id) AS n_distinct FROM documents
        |UNION ALL
        |SELECT 'lang', COUNT(*),
        |  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT lang) FROM documents
        |UNION ALL
        |SELECT 'source', COUNT(*),
        |  CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT source) FROM documents
        |UNION ALL
        |SELECT 'n_chars', COUNT(*),
        |  CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT n_chars) FROM documents
        |ORDER BY column_name""".stripMargin),

    Query("profile_constraints", (s, dir) =>
      // the ship gate: named row-level assertions → violation counts.
      // 'text_min_length' is a deliberately tight bar real docs miss —
      // the report must prove failures SURFACE, not that data is clean
      graft.ops.Profile.checkConstraints(Tables.documents(s, dir), Seq(
          "doc_id_not_null" -> col("doc_id").isNotNull,
          "lang_known" -> col("lang").isin("en", "de", "fr", "es", "zh", "ja"),
          "n_chars_positive" -> (col("n_chars") > 0),
          "n_chars_matches_text" -> (length(col("text")) === col("n_chars")),
          "text_min_length" -> (length(col("text")) >= 200)))
        .orderBy(col("constraint")),
      """WITH v AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |    CAST(SUM(CASE WHEN lang IN ('en','de','fr','es','zh','ja')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v2,
        |    CAST(SUM(CASE WHEN n_chars > 0 THEN 0 ELSE 1 END) AS BIGINT) AS v3,
        |    CAST(SUM(CASE WHEN length(text) = n_chars THEN 0 ELSE 1 END) AS BIGINT) AS v4,
        |    CAST(SUM(CASE WHEN length(text) >= 200 THEN 0 ELSE 1 END) AS BIGINT) AS v5
        |  FROM documents)
        |SELECT "constraint", n_rows, n_violations, n_violations = 0 AS passed FROM (
        |  SELECT 'doc_id_not_null' AS "constraint", n_rows, v1 AS n_violations FROM v
        |  UNION ALL SELECT 'lang_known', n_rows, v2 FROM v
        |  UNION ALL SELECT 'n_chars_positive', n_rows, v3 FROM v
        |  UNION ALL SELECT 'n_chars_matches_text', n_rows, v4 FROM v
        |  UNION ALL SELECT 'text_min_length', n_rows, v5 FROM v) t
        |ORDER BY "constraint"""".stripMargin),

    Query("profile_skew", (s, dir) =>
      // pre-join skew diagnostic: hottest keys + exact ppm shares —
      // the report that decides whether a join needs salting
      graft.ops.Profile.keySkew(Cdc.walEvents(s, dir), "user_id", topK = 5)
        .orderBy(col("rank")),
      // skew twin: counts + prefix shares over the same deterministic order
      """WITH c AS (SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
        |r AS (SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rank
        |      FROM c)
        |SELECT CAST(rank AS INT) AS rank, key, cnt,
        |  CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm,
        |  CAST(sum(cnt) OVER (ORDER BY rank) * 1000000 // total AS BIGINT)
        |    AS cum_share_ppm
        |FROM r CROSS JOIN t WHERE rank <= 5 ORDER BY rank""".stripMargin)
  )
}
