package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextAnalysis}
import QueryHelpers._

/** Deduplication (`dedup_*`): exact, MinHash/LSH, SimHash, semantic, Bloom,
  * edit-distance, multimodal and clustering gates. */
object DedupQueries {
  val all: Seq[Query] = Seq(
    Query("dedup_lsh_eval", (s, dir) =>
      // banding calibration: raw LSH candidate precision/recall vs the
      // exact Jaccard truth set — the measured S-curve that picks
      // (bands × rows) before a 100 TB run commits to one
      Dedup.lshEval(Tables.documentsSpread(s, dir)),
      // lsh-eval twin: the minhash candidate CTEs (`pairs`) + the df-capped
      // exact-Jaccard truth CTEs, then three counts and two integer ratios
      (minhashPairCtes +
        s""",
           |tsh AS (SELECT doc_id, shingle FROM (
           |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS dfc FROM sh) zc
           |  WHERE dfc <= ${Dedup.DefaultDfCap}),
           |tsizes AS (SELECT doc_id, count(*) AS n FROM tsh GROUP BY doc_id),
           |tpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
           |           FROM tsh a JOIN tsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |           GROUP BY 1, 2),
           |truth AS (SELECT doc_a, doc_b FROM tpairs
           |          JOIN tsizes sa ON doc_a = sa.doc_id JOIN tsizes sb ON doc_b = sb.doc_id
           |          WHERE shared * 10 >= 4 * (sa.n + sb.n - shared)),
           |hits AS (SELECT p.doc_a FROM pairs p JOIN truth t USING (doc_a, doc_b)),
           |c AS (SELECT (SELECT count(*) FROM truth) AS n_true,
           |             (SELECT count(*) FROM pairs) AS n_candidates,
           |             (SELECT count(*) FROM hits) AS n_hits)
           |SELECT n_true, n_candidates, n_hits,
           |  CAST(CASE WHEN n_candidates = 0 THEN 0
           |       ELSE n_hits * 1000000 // n_candidates END AS BIGINT) AS precision_ppm,
           |  CAST(CASE WHEN n_true = 0 THEN 0
           |       ELSE n_hits * 1000000 // n_true END AS BIGINT) AS recall_ppm
           |FROM c""".stripMargin)),

    Query("dedup_incremental", (s, dir) => {
      // continuous-ingest dedup: short-named sources (src0..src9) play
      // the historical corpus, long-named (src10..src19) the new batch
      val docs = Tables.documentsSpread(s, dir)
      Dedup.incrementalPrune(
        batch   = docs.filter(length(col("source")) === 5),
        history = docs.filter(length(col("source")) === 4))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      s"""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source,
        |         unnest(list_transform(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
        |           x -> x[1] || ' ' || x[2] || ' ' || x[3])) AS shingle
        |       FROM tok WHERE len(t) >= 3),
        |b0 AS (SELECT doc_id, shingle FROM sh WHERE length(source) = 5),
        |h0 AS (SELECT doc_id, shingle FROM sh WHERE length(source) = 4),
        |hot AS (SELECT shingle FROM (SELECT shingle FROM b0 UNION ALL SELECT shingle FROM h0) u
        |        GROUP BY shingle HAVING count(*) > ${Dedup.DefaultDfCap}),
        |b AS (SELECT * FROM b0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
        |h AS (SELECT * FROM h0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
        |nb AS (SELECT doc_id, count(*) AS n FROM b GROUP BY 1),
        |nh AS (SELECT doc_id, count(*) AS n FROM h GROUP BY 1),
        |dropped AS (SELECT DISTINCT p.doc_id FROM (
        |    SELECT b.doc_id, h.doc_id AS hist_id, count(*) AS shared
        |    FROM b JOIN h ON b.shingle = h.shingle GROUP BY 1, 2) p
        |  JOIN nb ON p.doc_id = nb.doc_id JOIN nh ON p.hist_id = nh.doc_id
        |  WHERE p.shared * 10 >= 4 * (nb.n + nh.n - p.shared))
        |SELECT d.doc_id, d.source FROM documents d
        |WHERE length(d.source) = 5 AND d.doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY d.doc_id""".stripMargin),

    Query("dedup_substring_spans", (s, dir) =>
      // Lee-et-al exact-substring dedup: first occurrence survives
      Dedup.substringSpans(Tables.documentsSpread(s, dir))
        .orderBy(col("doc_id")),
      // substring-span twin: same windows, keeper = rn 1 over
      // (doc_id, start) ≡ Spark's min(struct), reassembly by position
      s"""WITH tok0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tok AS (SELECT doc_id, pos - 1 AS pos, t[pos] AS tok
        |        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos FROM tok0) z),
        |win AS (SELECT doc_id, start - 1 AS start, array_to_string(t[start:start+9], ' ') AS gram
        |        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 9)) AS start
        |              FROM tok0 WHERE len(t) >= 10) z),
        |marked AS (SELECT doc_id, start FROM (
        |    SELECT doc_id, start,
        |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, start) AS rn,
        |      count(*) OVER (PARTITION BY gram) AS cnt
        |    FROM win) x WHERE rn > 1 AND cnt <= ${Dedup.DefaultDfCap}),
        |covered AS (SELECT DISTINCT doc_id, pos FROM (
        |    SELECT doc_id, unnest(generate_series(start, start + 9)) AS pos FROM marked) y),
        |kept AS (SELECT t.doc_id, t.pos, t.tok
        |         FROM tok t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
        |         WHERE c.pos IS NULL),
        |reb AS (SELECT doc_id, count(*) AS n_kept,
        |          array_to_string(list(tok ORDER BY pos), ' ') AS cleaned
        |        FROM kept GROUP BY 1)
        |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(r.cleaned, '') AS cleaned
        |FROM documents d LEFT JOIN reb r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    Query("dedup_self_spans", (s, dir) =>
      // within-doc repeated-trigram trim: the self-repetition REWRITE
      // (repetitionMetrics only scores); (doc, gram)-keyed window, so
      // no cross-doc skew and no df-cap to tune
      Dedup.selfDedupSpans(Tables.documents(s, dir), n = 3)
        .orderBy(col("doc_id")),
      // self-span twin: identical span machinery with the window keyed
      // by (doc_id, gram) — repeats never cross documents
      s"""WITH tok0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tok AS (SELECT doc_id, pos - 1 AS pos, t[pos] AS tok
        |        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos FROM tok0) z),
        |win AS (SELECT doc_id, start - 1 AS start, array_to_string(t[start:start+2], ' ') AS gram
        |        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS start
        |              FROM tok0 WHERE len(t) >= 3) z),
        |marked AS (SELECT doc_id, start FROM (
        |    SELECT doc_id, start,
        |      row_number() OVER (PARTITION BY doc_id, gram ORDER BY start) AS rn
        |    FROM win) x WHERE rn > 1),
        |covered AS (SELECT DISTINCT doc_id, pos FROM (
        |    SELECT doc_id, unnest(generate_series(start, start + 2)) AS pos FROM marked) y),
        |kept AS (SELECT t.doc_id, t.pos, t.tok
        |         FROM tok t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
        |         WHERE c.pos IS NULL),
        |reb AS (SELECT doc_id, count(*) AS n_kept,
        |          array_to_string(list(tok ORDER BY pos), ' ') AS cleaned
        |        FROM kept GROUP BY 1)
        |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(r.cleaned, '') AS cleaned
        |FROM documents d LEFT JOIN reb r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    Query("dedup_exact", (s, dir) => {
      Dedup.exact(Tables.documents(s, dir)).orderBy(col("text_hash"))
    },
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin),

    Query("dedup_ngram_jaccard", (s, dir) => {
      Dedup.jaccardPairs(Tables.documentsSpread(s, dir), n = 3, threshold10 = 4)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
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
         |          GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, shared, sa.n AS n_a, sb.n AS n_b
         |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE shared * 10 >= 4 * (sa.n + sb.n - shared)
         |ORDER BY doc_a, doc_b""".stripMargin),

    Query("dedup_clusters", (s, dir) => {
      Dedup.clusters(Dedup.jaccardPairs(Tables.documentsSpread(s, dir), n = 3, threshold10 = 4))
        .orderBy(col("doc_id"))
    },
      s"""WITH RECURSIVE
        |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id, unnest(list_transform(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
        |        x -> x[1] || ' ' || x[2] || ' ' || x[3])) AS shingle FROM tok WHERE len(t) >= 3),
        |sh AS (SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS dfc FROM sh0) zc
        |  WHERE dfc <= ${Dedup.DefaultDfCap}),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY a.doc_id, b.doc_id),
        |near AS (SELECT doc_a, doc_b FROM pairs
        |         JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |         WHERE shared * 10 >= 4 * (sa.n + sb.n - shared)),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM near UNION SELECT doc_b, doc_a FROM near),
        |cc AS (SELECT a AS doc, a AS label FROM edges
        |       UNION
        |       SELECT e.a, cc.label FROM cc JOIN edges e ON cc.doc = e.b)
        |SELECT doc AS doc_id, MIN(label) AS cluster_id FROM cc GROUP BY doc ORDER BY doc_id""".stripMargin),

    Query("dedup_canonical", (s, dir) => {
      // the SHIP step after near-dup detection: one keeper per cluster
      // (longest doc, ties to lowest id); filter(keep) = pruned corpus
      val docs = Tables.documentsSpread(s, dir)
      Dedup.canonicalKeep(docs,
          Dedup.jaccardPairs(docs, n = 3, threshold10 = 4))
        .orderBy(col("doc_id"))
    },
      // canonical twin: the clusters chain, labels left-joined onto the
      // whole corpus (singletons label as themselves), keeper = rn 1 over
      // (n_chars desc, doc_id)
      s"""WITH RECURSIVE
        |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id, unnest(list_transform(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
        |        x -> x[1] || ' ' || x[2] || ' ' || x[3])) AS shingle FROM tok WHERE len(t) >= 3),
        |sh AS (SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS dfc FROM sh0) zc
        |  WHERE dfc <= ${Dedup.DefaultDfCap}),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY a.doc_id, b.doc_id),
        |near AS (SELECT doc_a, doc_b FROM pairs
        |         JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |         WHERE shared * 10 >= 4 * (sa.n + sb.n - shared)),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM near UNION SELECT doc_b, doc_a FROM near),
        |cc AS (SELECT a AS doc, a AS label FROM edges
        |       UNION
        |       SELECT e.a, cc.label FROM cc JOIN edges e ON cc.doc = e.b),
        |lab AS (SELECT doc AS doc_id, MIN(label) AS cluster_id FROM cc GROUP BY doc),
        |full0 AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id, d.n_chars
        |         FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id)
        |SELECT doc_id, cluster_id, n_chars,
        |  row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) = 1 AS keep
        |FROM full0 ORDER BY doc_id""".stripMargin),

    Query("dedup_neardup_embedding", (s, dir) => {
      Dedup.embeddingNearDups(Tables.embeddingsSpread(s, dir), 0.45)
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${duckDot("a.embedding", "b.embedding")} / (a.norm * b.norm) AS cosine
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE cosine >= 0.45 ORDER BY id_a, id_b""".stripMargin),

    Query("dedup_prune", (s, dir) => {
      // end-to-end dedup: drop every doc that appears as the right side
      // of a near-dup pair (keep-lowest-id policy)
      val pairs = Dedup.jaccardPairs(Tables.documentsSpread(s, dir), n = 3, threshold10 = 4)
      Tables.documentsSpread(s, dir)
        .join(pairs.select(col("doc_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
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
        |         WHERE shared * 10 >= 4 * (sa.n + sb.n - shared))
        |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_b FROM dups)
        |ORDER BY doc_id""".stripMargin),

    Query("dedup_minhash_lsh", (s, dir) => {
      Dedup.minhashLshPairs(Tables.documentsSpread(s, dir)).orderBy(col("doc_a"), col("doc_b"))
    },
      // MinHash-LSH twin: FNV-64a per shingle (HUGEINT fold, two's-
      // complement → signed → pmod P), the same LCG-derived affine family
      // (exact HUGEINT arithmetic & 0x7fffffff reproduces Scala's wrapped
      // i64 low bits — truncation to 64 bits never changes low-31 bits),
      // per-band min-tuple keys, bucket self-join
      minhashPairsSql("tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)")),

    Query("dedup_paragraph_minhash", (s, dir) => {
      // paragraph-granularity fuzzy dedup (the Dolma/RefinedWeb recipe:
      // boilerplate repeats at paragraph level long before whole docs
      // collide): 16-token chunk units re-keyed doc_id·1000+chunk_no,
      // then the SAME MinHash+LSH stack — chunking is a narrow
      // projection, so the scale shape is unchanged from doc-level
      val units = TextAnalysis.chunk(Tables.documentsSpread(s, dir), width = 16, overlap = 0)
        .select((col("doc_id") * 1000 + col("chunk_no")).as("doc_id"),
          col("chunk_text").as("text"))
      Dedup.minhashLshPairs(units).orderBy(col("doc_a"), col("doc_b"))
    },
      // paragraph-granularity twin: identical MinHash+LSH tail over
      // 16-token chunk units re-keyed as doc_id*1000+chunk_no (same
      // windows as TextAnalysis.chunk width=16 overlap=0)
      minhashPairsSql(
        """tok0 AS (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents),
          |st AS (SELECT doc_id, t0,
          |         unnest(range(1, greatest(len(t0), 1) + 1, 16)) AS start
          |       FROM tok0),
          |tok AS (SELECT doc_id * 1000 + (start - 1) // 16 AS doc_id,
          |          list_slice(t0, start, start + 15) AS t
          |        FROM st)""".stripMargin)),

    Query("dedup_simhash", (s, dir) => {
      Dedup.simhash(Tables.documentsSpread(s, dir)).orderBy(col("doc_id"))
    },
      // full 64-bit SimHash twin: FNV-64a per token as a HUGEINT fold
      // (ascii-per-char = utf-8 bytes on this corpus), term-frequency bit
      // votes, signature rebuilt from HUGEINT powers then two's-complement
      // converted to the signed BIGINT Spark emits
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT doc_id,
        |        list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |          list_transform(range(1, length(tok) + 1),
        |            i -> ascii(substr(tok, CAST(i AS INTEGER), 1)))),
        |          (acc, b) -> (xor(acc, CAST(b AS HUGEINT)) * 1099511628211) % 18446744073709551616) AS hv
        |      FROM tok),
        |bits AS (SELECT doc_id, b, sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |         FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb
        |         GROUP BY doc_id, b),
        |sig AS (SELECT doc_id,
        |          sum(CASE WHEN s > 0 THEN CAST(1 AS HUGEINT) << b ELSE CAST(0 AS HUGEINT) END) AS v
        |        FROM bits GROUP BY doc_id)
        |SELECT doc_id, CAST(CASE WHEN v >= CAST(9223372036854775808 AS HUGEINT)
        |                         THEN v - CAST(18446744073709551616 AS HUGEINT)
        |                         ELSE v END AS BIGINT) AS simhash
        |FROM sig ORDER BY doc_id""".stripMargin),

    Query("dedup_image_ahash", (s, dir) => {
      // image near-dup demo: every doc's image + a 1px-perturbed
      // re-encode; banded hamming join must recover the planted twins
      // pinned: base feeds BOTH union branches (directly and through
      // perturbImages) — unpinned, the PNG synthesis runs twice
      val base = ops.Multimodal.attachImages(
        Tables.documents(s, dir).filter(col("doc_id") < 2000))
        .localCheckpoint(true)
      val twins = ops.Multimodal.perturbImages(base, idOffset = 1000000L)
      ops.Multimodal.imageNearDups(base.unionByName(twins), maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    },
      // image near-dup twin: base + (0,0)-xored re-encodes, the SAME
      // 4-band pigeonhole candidates + df-cap + hamming cut as the engine
      s"""WITH imgs AS (
         |  SELECT doc_id AS img_key, doc_id AS sid,
         |    8 + doc_id % 32 AS w, 8 + (doc_id // 3) % 24 AS h, false AS flip
         |  FROM documents WHERE doc_id < 2000
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS img_key, doc_id AS sid,
         |    8 + doc_id % 32 AS w, 8 + (doc_id // 3) % 24 AS h, true AS flip
         |  FROM documents WHERE doc_id < 2000),
         |$ahashCtes,
         |bd AS (SELECT img_key, ahash, CAST(i AS INTEGER) AS band_i,
         |         (ahash >> CAST(16*i AS INTEGER)) & 65535 AS band
         |       FROM ah, unnest(range(0, 4)) t(i)),
         |keep AS (SELECT bd.* FROM bd LEFT JOIN (
         |    SELECT band_i, band FROM bd GROUP BY 1, 2 HAVING count(*) > ${graft.ops.Dedup.DefaultDfCap}
         |  ) hot USING (band_i, band) WHERE hot.band IS NULL),
         |cand AS (SELECT DISTINCT a.img_key AS id_a, b.img_key AS id_b,
         |           a.ahash AS h_a, b.ahash AS h_b
         |         FROM keep a JOIN keep b
         |           ON a.band_i = b.band_i AND a.band = b.band AND a.img_key < b.img_key)
         |SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(h_a, h_b)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),

    Query("dedup_audio_fp", (s, dir) => {
      // acoustic near-dup: base corpus + EXACT 4×-gain remasters —
      // energy-delta fingerprints are gain-invariant, so every twin
      // must pair; equality dedup, no pairwise stage
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 2000)
      val base = ops.Multimodal.attachAudioGain(docs, gain = 1, idOffset = 0L)
      val twins = ops.Multimodal.attachAudioGain(docs, gain = 4, idOffset = 1000000L)
      ops.Multimodal.audioNearDups(base.unionByName(twins))
        .orderBy(col("id_a"), col("id_b"))
    },
      // acoustic-fingerprint twin: quiet 12-bit samples from the same
      // splitmix arithmetic; gain-4 remasters share the fingerprint
      // EXACTLY (energies scale by 16, comparisons unchanged), so both
      // sides carry the gain-1 fingerprint into the equality join
      s"""WITH d AS (SELECT doc_id, 100 + doc_id % 400 AS n
         |  FROM documents WHERE doc_id < 2000),
         |sm0 AS (SELECT doc_id, n, CAST(i AS HUGEINT) AS i,
         |    (CAST(doc_id AS HUGEINT) * $SmK1 + CAST(i AS HUGEINT) * $SmK2) % $U64 AS z
         |  FROM d, unnest(range(0, (n // 4) * 4)) t(i)),
         |sm1 AS (SELECT doc_id, n, i, xor(z, z // 1073741824) AS z FROM sm0),
         |sm2 AS (SELECT doc_id, n, i,
         |    ((z % 4294967296) * $SmK2 + ((z // 4294967296) * $SmK2 % 4294967296) * 4294967296)
         |      % $U64 AS z FROM sm1),
         |smp AS (SELECT doc_id, n, i,
         |    CAST(xor(z, z // 134217728) % 4096 - 2048 AS BIGINT) AS s FROM sm2),
         |en AS (SELECT doc_id, n, CAST(i // 4 AS BIGINT) AS wi, sum(s * s) AS e
         |       FROM smp GROUP BY 1, 2, 3),
         |fpb AS (SELECT a.doc_id, a.n // 4 AS nw,
         |          sum(CASE WHEN a.e > b.e THEN CAST(1 AS HUGEINT) << CAST(a.wi % 64 AS INTEGER)
         |              ELSE CAST(0 AS HUGEINT) END) AS hu
         |        FROM en a JOIN en b ON a.doc_id = b.doc_id AND b.wi = a.wi + 1
         |        WHERE a.wi < least(a.n // 4 - 1, 64)
         |        GROUP BY 1, 2),
         |fp AS (SELECT doc_id, CAST(nw AS INTEGER) AS n_windows,
         |         CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
         |           THEN hu - CAST($U64 AS HUGEINT) ELSE hu END AS BIGINT) AS fingerprint
         |       FROM fpb),
         |un AS (SELECT doc_id AS source_id, n_windows, fingerprint FROM fp
         |       UNION ALL
         |       SELECT doc_id + 1000000, n_windows, fingerprint FROM fp)
         |SELECT a.source_id AS id_a, b.source_id AS id_b,
         |  a.n_windows, a.fingerprint
         |FROM un a JOIN un b
         |  ON a.n_windows = b.n_windows AND a.fingerprint = b.fingerprint
         |    AND a.source_id < b.source_id
         |ORDER BY id_a, id_b""".stripMargin),

    Query("dedup_video_keyframes", (s, dir) => {
      // video near-dup demo: every doc's container + a last-frame-
      // trimmed repack; the keyframe-hash equi-join must recover each
      // planted trimmed copy (rows-only: real-codec outputs)
      // pinned: base feeds BOTH union branches (directly and through
      // perturbVideos) — unpinned, the per-frame PNG mux runs twice
      val base = ops.Multimodal.attachVideo(
        Tables.documents(s, dir).filter(col("doc_id") < 1000))
        .localCheckpoint(true)
      val twins = ops.Multimodal.perturbVideos(base, idOffset = 1000000L)
      ops.Multimodal.videoNearDups(base.unionByName(twins), stride = 2,
          minShared = 2)
        .orderBy(col("id_a"), col("id_b"))
    },
      // keyframe twin: frame f of doc d hashes the synthetic image for
      // id d*131+f; trimmed repacks drop the last frame; shared-hash
      // equi-join with the engine's df-cap and minShared cut
      s"""WITH fr AS (SELECT doc_id, CAST(f AS BIGINT) AS f, doc_id * 131 + f AS fid
         |  FROM documents, unnest(range(0, 4 + doc_id % 6)) t(f)
         |  WHERE doc_id < 1000 AND f % 2 = 0),
         |imgs AS (SELECT DISTINCT fid AS img_key, fid AS sid,
         |    8 + fid % 32 AS w, 8 + (fid // 3) % 24 AS h, false AS flip FROM fr),
         |$ahashCtes,
         |kept AS (
         |  SELECT fr.doc_id AS source_id, ah.ahash FROM fr JOIN ah ON fr.fid = ah.img_key
         |  UNION
         |  SELECT fr.doc_id + 1000000 AS source_id, ah.ahash
         |  FROM fr JOIN ah ON fr.fid = ah.img_key
         |  WHERE fr.f < 4 + fr.doc_id % 6 - 1),
         |capped AS (SELECT k.* FROM kept k LEFT JOIN (
         |    SELECT ahash FROM kept GROUP BY 1 HAVING count(*) > ${graft.ops.Dedup.DefaultDfCap}
         |  ) hot USING (ahash) WHERE hot.ahash IS NULL),
         |cnt AS (SELECT source_id, count(*) AS n_frames FROM capped GROUP BY 1),
         |prs AS (SELECT a.source_id AS id_a, b.source_id AS id_b, count(*) AS n_shared
         |        FROM capped a JOIN capped b
         |          ON a.ahash = b.ahash AND a.source_id < b.source_id
         |        GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT id_a, id_b, n_shared, ca.n_frames AS n_a, cb.n_frames AS n_b
         |FROM prs JOIN cnt ca ON id_a = ca.source_id JOIN cnt cb ON id_b = cb.source_id
         |ORDER BY id_a, id_b""".stripMargin),

    Query("dedup_semantic", (s, dir) => {
      // SemDeDup: cluster-scoped cosine pairs (within-cluster equi-join,
      // never all-pairs) with each side's centroid similarity
      Dedup.semanticDupPairs(Tables.embeddingsSpread(s, dir), nClusters = 16, threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    },
      // SemDeDup twin: the IVF-assign CTE shape (argmax = row_number over
      // cosine DESC, centroid_id ASC — proven equal to Spark's
      // array_max(struct(sim, -id))) keeping the winning cosine itself,
      // then within-cluster pairs only
      s"""WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings),
         |${duckKmeans("e", 16, 64, 2, "km")},
         |asg AS (SELECT vec_id, centroid_id, sim AS centroid_sim FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      ${duckDot("e.embedding", "c.centroid")} / (e.norm * c.cnorm) AS sim,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckDot("e.embedding", "c.centroid")} / (e.norm * c.cnorm) DESC,
         |                 c.centroid_id) AS rn
         |    FROM e CROSS JOIN km2 c) t WHERE rn = 1)
         |SELECT a.centroid_id AS cluster_id, a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${duckDot("ea.embedding", "eb.embedding")} / (ea.norm * eb.norm) AS cosine,
         |  a.centroid_sim AS centroid_sim_a, b.centroid_sim AS centroid_sim_b
         |FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
         |WHERE ${duckDot("ea.embedding", "eb.embedding")} / (ea.norm * eb.norm) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin),

    Query("dedup_semantic_prune", (s, dir) => {
      // keep the LOWER-centroid-sim side of every dup relation (the
      // paper's diversity-keeping policy, parallel relaxation)
      Dedup.semanticPrune(Tables.embeddingsSpread(s, dir), nClusters = 16, threshold = 0.4)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },
      // prune twin: pairs always have id_a < id_b, so a drops only when
      // strictly beaten on centroid_sim; b drops on loss OR tie
      s"""WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings),
         |${duckKmeans("e", 16, 64, 2, "km")},
         |asg AS (SELECT vec_id, centroid_id, sim AS centroid_sim FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      ${duckDot("e.embedding", "c.centroid")} / (e.norm * c.cnorm) AS sim,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckDot("e.embedding", "c.centroid")} / (e.norm * c.cnorm) DESC,
         |                 c.centroid_id) AS rn
         |    FROM e CROSS JOIN km2 c) t WHERE rn = 1),
         |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    a.centroid_sim AS sa, b.centroid_sim AS sb
         |  FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
         |    JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE ${duckDot("ea.embedding", "eb.embedding")} / (ea.norm * eb.norm) >= 0.4),
         |dropped AS (SELECT id_a AS vec_id FROM pairs WHERE sb < sa
         |  UNION SELECT id_b FROM pairs WHERE sa < sb OR sa = sb)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
         |ORDER BY vec_id""".stripMargin),

    Query("dedup_semantic_incremental", (s, dir) => {
      // continuous-ingest SemDeDup: batch (high ids) pruned against the
      // frozen history (low ids), binned by the HISTORY's quantizer
      val emb = Tables.embeddingsSpread(s, dir)
      Dedup.semanticPruneIncremental(
          batch = emb.filter(col("vec_id") >= 350),
          history = emb.filter(col("vec_id") < 350),
          nClusters = 16, threshold = 0.4)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },
      // incremental-SemDeDup twin: history-derived centroids, both sides
      // argmax-assigned (rn=1 over cosine DESC, centroid_id), batch×
      // history cosine within cluster only, anti-join on the hit set
      s"""WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings),
         |h0 AS (SELECT * FROM e WHERE vec_id < 350),
         |b0 AS (SELECT * FROM e WHERE vec_id >= 350),
         |${duckKmeans("h0", 16, 64, 2, "km")},
         |ha AS (SELECT vec_id, centroid_id FROM (
         |    SELECT h0.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY h0.vec_id
         |        ORDER BY ${duckDot("h0.embedding", "c.centroid")} / (h0.norm * c.cnorm) DESC,
         |                 c.centroid_id) AS rn
         |    FROM h0 CROSS JOIN km2 c) t WHERE rn = 1),
         |ba AS (SELECT vec_id, centroid_id FROM (
         |    SELECT b0.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY b0.vec_id
         |        ORDER BY ${duckDot("b0.embedding", "c.centroid")} / (b0.norm * c.cnorm) DESC,
         |                 c.centroid_id) AS rn
         |    FROM b0 CROSS JOIN km2 c) t WHERE rn = 1),
         |hits AS (SELECT DISTINCT ba.vec_id
         |  FROM ba JOIN ha ON ba.centroid_id = ha.centroid_id AND ba.vec_id <> ha.vec_id
         |    JOIN e be ON be.vec_id = ba.vec_id JOIN e he ON he.vec_id = ha.vec_id
         |  WHERE ${duckDot("be.embedding", "he.embedding")} / (be.norm * he.norm) >= 0.4)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id >= 350 AND vec_id NOT IN (SELECT vec_id FROM hits)
         |ORDER BY vec_id""".stripMargin),

    Query("dedup_semantic_sweep", (s, dir) =>
      // the τ-tuning chart: pairs + cumulative would-be-drops per cosine
      // threshold bucket, ONE pass over the pair set (re-running dedup
      // per candidate τ is the naive 100 TB mistake)
      Dedup.semanticThresholdSweep(Tables.embeddingsSpread(s, dir), nClusters = 16,
          tauFloor = 0.2, step = 0.05)
        .orderBy(col("threshold_milli")),
      // sweep twin: the dedup_semantic pair CTEs at floor 0.2, each
      // pair's LOSER by semanticPrune's policy (higher centroid_sim, tie
      // → higher id), then bucket + two cumulative sums from the top
      s"""WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings),
         |${duckKmeans("e", 16, 64, 2, "km")},
         |asg AS (SELECT vec_id, centroid_id, sim AS centroid_sim FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      ${duckDot("e.embedding", "c.centroid")} / (e.norm * c.cnorm) AS sim,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckDot("e.embedding", "c.centroid")} / (e.norm * c.cnorm) DESC,
         |                 c.centroid_id) AS rn
         |    FROM e CROSS JOIN km2 c) t WHERE rn = 1),
         |pairs AS (SELECT CASE WHEN b.centroid_sim < a.centroid_sim
         |      THEN a.vec_id ELSE b.vec_id END AS loser,
         |    ${duckDot("ea.embedding", "eb.embedding")} / (ea.norm * eb.norm) AS cosine
         |  FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
         |    JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE ${duckDot("ea.embedding", "eb.embedding")} / (ea.norm * eb.norm) >= 0.2),
         |bk AS (SELECT least(CAST(floor((cosine - 0.2) / 0.05) AS INT), 15) AS b, loser FROM pairs),
         |pc AS (SELECT b, count(*) AS n_pairs FROM bk GROUP BY b),
         |dm AS (SELECT b, count(*) AS n_new_drops FROM (
         |    SELECT loser, max(b) AS b FROM bk GROUP BY loser) z GROUP BY b),
         |j AS (SELECT coalesce(pc.b, dm.b) AS b,
         |        coalesce(pc.n_pairs, 0) AS n_pairs,
         |        coalesce(dm.n_new_drops, 0) AS n_new_drops
         |      FROM pc FULL JOIN dm ON pc.b = dm.b)
         |SELECT CAST(200 + b * 50 AS BIGINT) AS threshold_milli,
         |  CAST(n_pairs AS BIGINT) AS n_pairs,
         |  CAST(sum(n_pairs) OVER (ORDER BY b DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pairs_at_or_above,
         |  CAST(sum(n_new_drops) OVER (ORDER BY b DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS docs_dropped_at_or_above
         |FROM j ORDER BY threshold_milli""".stripMargin),

    Query("dedup_bloom_prune", (s, dir) => {
      // bloom-prefiltered incremental exact dedup: history = short-named
      // sources, batch = long-named (the dedup_incremental split)
      val docs = Tables.documents(s, dir)
      Dedup.bloomPrune(
        batch   = docs.filter(length(col("source")) === 5),
        history = docs.filter(length(col("source")) === 4))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      // bloom-prune twin: the bloom is a prefilter only — observable
      // semantics are exactly "batch minus docs whose content exists in
      // history"
      """SELECT d.doc_id, d.source FROM documents d
        |WHERE length(d.source) = 5
        |  AND d.text NOT IN (SELECT text FROM documents WHERE length(source) = 4)
        |ORDER BY d.doc_id""".stripMargin),

    Query("dedup_bloom_sharded", (s, dir) => {
      // the beyond-10^9-keys form: 4 hash-range bloom shards built in
      // one grouped pass; each batch row probes exactly one filter
      val docs = Tables.documents(s, dir)
      Dedup.bloomPrune(
        batch   = docs.filter(length(col("source")) === 5),
        history = docs.filter(length(col("source")) === 4),
        shards  = 4)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      // sharding is pure execution strategy — observable semantics are
      // identical to the single-bloom form, so the twin is the same SQL
      """SELECT d.doc_id, d.source FROM documents d
        |WHERE length(d.source) = 5
        |  AND d.text NOT IN (SELECT text FROM documents WHERE length(source) = 4)
        |ORDER BY d.doc_id""".stripMargin),

    Query("dedup_edit_distance", (s, dir) => {
      // fuzzy short-string dedup: exact levenshtein <= 6 over
      // pigeonhole-blocked 24-char title prefixes (k+1 aligned
      // segments; substitution-complete recall, indel shifts are the
      // documented blocking trade). DEFAULT posture = the scale-safe
      // cap (EditDistanceDfCap=250, slope 0.15 across the sf0.8
      // synthetic decade) — the configuration a 1000-executor run
      // should get without reading the docs
      val titles = Tables.documentsSpread(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("text"))
      Dedup.editDistancePairs(titles, k = 6)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // edit-distance twin: identical even-split segmentation (remainder
      // spread left), same df-capped blocking, same distinct-then-verify.
      // Default = the scale-safe cap (EditDistanceDfCap)
      editDistanceOracle(250)),

    Query("dedup_edit_recall", (s, dir) => {
      // the recall-leaning OPT-IN: a wide df cap keeps boilerplate
      // segment blocks in play (pre-cap quadratic candidate regime —
      // SCALING.md's sf0.8 forensics measured slope 1.21); for small
      // corpora where the extra candidates are affordable
      val titles = Tables.documentsSpread(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("text"))
      Dedup.editDistancePairs(titles, k = 6, dfCap = 2000)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // recall-leaning opt-in twin: the wide cap that keeps boilerplate
      // blocks in play (the pre-r15 default; SCALING.md sf0.8 forensics
      // measured its quadratic candidate regime)
      editDistanceOracle(2000)),

    Query("dedup_edit_excised", (s, dir) => {
      // the cap's recall-loss AUDIT (r15 advice: excised hot blocks
      // must be observable, not silent): every pigeonhole block the df
      // cap cuts, with its document frequency — the corpus owner's
      // before-trusting-the-default inspection surface. Small cap here
      // so the fixture exercises a non-trivial excision set
      val titles = Tables.documentsSpread(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("text"))
      Dedup.editDistanceExcisedBlocks(titles, k = 6, dfCap = 8)
        .select(col("seg_i").cast("long").as("seg_i"), col("seg"),
          col("L").cast("long").as("seg_len"), col("df"))
        .orderBy(col("seg_i"), col("seg"), col("seg_len"))
    },
      // excised-block audit twin: the hot CTE of the edit-distance oracle
      // surfaced as the output (same segmentation, same cap comparison)
      """WITH t AS (SELECT doc_id AS id, substring(text, 1, 24) AS s FROM documents
        |           WHERE length(substring(text, 1, 24)) >= 1),
        |segs AS (
        |  SELECT id, s, length(s) AS L, iv.i AS seg_i,
        |    substring(s, CAST(iv.i * (length(s) // 7) + least(iv.i, length(s) % 7) + 1 AS INTEGER),
        |      CAST((length(s) // 7) + CASE WHEN iv.i < length(s) % 7 THEN 1 ELSE 0 END AS INTEGER)) AS seg
        |  FROM t CROSS JOIN (SELECT unnest(range(0, 7)) AS i) iv
        |  WHERE length(s) >= 7
        |  UNION ALL
        |  SELECT id, s, length(s) AS L, CAST(0 AS BIGINT) AS seg_i, '' AS seg
        |  FROM t WHERE length(s) < 7)
        |SELECT seg_i, seg, L AS seg_len, count(*) AS df
        |FROM segs GROUP BY 1, 2, 3 HAVING count(*) > 8
        |ORDER BY seg_i, seg, seg_len""".stripMargin),

    Query("dedup_chunk_exact", (s, dir) =>
      // chunk-level exact dedup (the Dolma paragraph-dedup granularity):
      // duplicated 20-token chunks removed corpus-wide, first stays
      Dedup.chunkDedup(Tables.documents(s, dir), chunkTokens = 20)
        .orderBy(col("doc_id")),
      // chunk-dedup twin: 20-token windows, corpus-wide first occurrence
      // by (doc_id, chunk_idx) survives, in-order reassembly
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ch AS (SELECT doc_id, i AS chunk_idx,
        |         array_to_string(t[i*20+1 : i*20+20], ' ') AS chunk
        |       FROM (SELECT doc_id, t, unnest(range(0, (len(t) - 1) // 20 + 1)) AS i
        |             FROM tok) z),
        |kept AS (SELECT doc_id, chunk_idx, chunk FROM (
        |    SELECT doc_id, chunk_idx, chunk,
        |      row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        |    FROM ch) x WHERE rn = 1),
        |reb AS (SELECT doc_id, count(*) AS n_kept_chunks,
        |          array_to_string(list(chunk ORDER BY chunk_idx), ' ') AS cleaned
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST((len(string_split(d.text, ' ')) - 1) // 20 + 1 AS BIGINT) AS n_chunks,
        |  CAST(coalesce(r.n_kept_chunks, 0) AS BIGINT) AS n_kept_chunks,
        |  coalesce(r.cleaned, '') AS cleaned
        |FROM documents d LEFT JOIN reb r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    Query("dedup_minhash_est", (s, dir) =>
      // signature-agreement Jaccard estimates vs exact, per LSH
      // candidate pair — the k-width calibration companion of lshEval
      Dedup.minhashJaccardEst(Tables.documentsSpread(s, dir))
        .orderBy(col("doc_a"), col("doc_b")),
      // signature-estimate twin: the shared minhash CTEs (mh exposes the
      // per-i minima; sh the shingle sets), matches and shared counts per
      // candidate pair, identical ppm arithmetic
      (minhashPairCtes +
        """,
          |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
          |sg AS (SELECT p.doc_a, p.doc_b,
          |    CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT) AS sig_matches
          |  FROM pairs p
          |  JOIN mh ma ON ma.doc_id = p.doc_a
          |  JOIN mh mb ON mb.doc_id = p.doc_b AND mb.i = ma.i
          |  GROUP BY 1, 2),
          |shd AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS shared
          |  FROM pairs p
          |  JOIN sh a ON a.doc_id = p.doc_a
          |  JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
          |  GROUP BY 1, 2)
          |SELECT s.doc_a, s.doc_b, s.sig_matches,
          |  COALESCE(d.shared, 0) AS shared, na.n_sh AS n_a, nb.n_sh AS n_b,
          |  (s.sig_matches * 1000000) // 16 AS est_ppm,
          |  (COALESCE(d.shared, 0) * 1000000)
          |    // (na.n_sh + nb.n_sh - COALESCE(d.shared, 0)) AS jaccard_ppm
          |FROM sg s LEFT JOIN shd d USING (doc_a, doc_b)
          |JOIN sizes na ON na.doc_id = s.doc_a
          |JOIN sizes nb ON nb.doc_id = s.doc_b
          |ORDER BY s.doc_a, s.doc_b""".stripMargin)),

    Query("dedup_norm_exact", (s, dir) => {
      // normalize-then-hash exact dedup (C4/RefinedWeb form)
      Dedup.normalizedExact(Tables.documents(s, dir))
        .orderBy(col("norm_hash"))
    },
      // normalized-dedup twin: identical ASCII normalization ('g' = all
      // occurrences, matching Spark's replace-all default)
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY norm_hash""".stripMargin),

    Query("dedup_cdc_chunks", (s, dir) =>
      // content-defined chunk dedup: boundaries where the 3-gram FNV
      // hits hash mod 16 = 0 (content-anchored — edits reshape chunks
      // locally, unlike fixed-width); first occurrence survives
      Dedup.cdcChunkDedup(Tables.documentsSpread(s, dir), w = 3, maskBits = 4)
        .orderBy(col("doc_id")),
      // CDC-chunk twin: same boundary rule via the shared FNV fold
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |g AS (SELECT doc_id, start - 1 AS gpos,
         |        array_to_string(t[start:start+2], ' ') AS gram
         |      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS start
         |            FROM tok WHERE len(t) >= 3) z),
         |b AS (SELECT doc_id, gpos FROM g
         |      WHERE gpos > 0 AND (${fnvSql("gram")}) % 16 = 0),
         |tk AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok
         |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
         |             FROM tok) z),
         |tc AS (SELECT k.doc_id, k.pos, k.tok,
         |         (SELECT count(*) FROM b
         |          WHERE b.doc_id = k.doc_id AND b.gpos <= k.pos) AS chunk_id
         |       FROM tk k),
         |ch AS (SELECT doc_id, chunk_id,
         |         string_agg(tok, ' ' ORDER BY pos) AS chunk_text
         |       FROM tc GROUP BY 1, 2),
         |kp AS (SELECT *, row_number() OVER (
         |         PARTITION BY chunk_text ORDER BY doc_id, chunk_id) AS rn
         |       FROM ch)
         |SELECT doc_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_chunks,
         |  COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk_text END,
         |                      ' ' ORDER BY chunk_id), '') AS cleaned
         |FROM kp GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Query("dedup_unicode_nfc", (s, dir) => {
      // canonical-form dedup: the SAME text arrives precomposed (U+00E9)
      // and decomposed (e + U+0301) — byte-hash dedup sees 2 docs, the
      // codegen unicode_normalize(NFC) key merges them. Variants are
      // synthesized per doc (both forms of an accented suffix); the
      // countDistinct pair proves raw keys split where NFC keys fuse.
      import graft.functions.TextFunctions
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(array(
          concat(col("text"), lit(" café")),
          concat(col("text"), lit(" café")))).as("raw"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("raw")).as("n_raw"),
          countDistinct(TextFunctions.unicode_normalize(col("raw"))).as("n_nfc"))
        .orderBy(col("doc_id"))
    },
      // NFC twin: DuckDB's nfc_normalize on the same synthesized variants
      """WITH v AS (SELECT doc_id,
        |  unnest([text || ' caf' || chr(233), text || ' cafe' || chr(769)]) AS raw
        |  FROM documents)
        |SELECT doc_id, CAST(count(DISTINCT raw) AS BIGINT) AS n_raw,
        |  CAST(count(DISTINCT nfc_normalize(raw)) AS BIGINT) AS n_nfc
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Query("dedup_containment", (s, dir) => {
      // containment near-dups: a doc 80%-contained in another is a dup
      // even when symmetric Jaccard dilutes below any threshold
      Dedup.containmentPairs(Tables.documents(s, dir), n = 3, threshold10 = 8)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
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
        |          GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, shared, sa.n AS n_a, sb.n AS n_b,
        |  CASE WHEN sa.n <= sb.n THEN doc_a ELSE doc_b END AS contained
        |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE shared * 10 >= least(sa.n, sb.n) * 8
        |ORDER BY doc_a, doc_b""".stripMargin),

    Query("dedup_winnow_prune", (s, dir) => {
      Dedup.winnowingPrune(Tables.documentsSpread(s, dir), k = 5, w = 4, minShared = 2)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      // winnow-prune twin: the pairs CTE + right-side anti-join
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, start - 1 AS pos,
        |        array_to_string(t[start:start+4], ' ') AS gram
        |      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS start
        |            FROM tok WHERE len(t) >= 5) z),
        |h AS (SELECT doc_id, pos,
        |        CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
        |                  THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END AS BIGINT) AS h
        |      FROM (SELECT doc_id, pos,
        |              list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |                list_transform(range(1, length(gram) + 1),
        |                  i -> ascii(substr(gram, CAST(i AS INTEGER), 1)))),
        |                (acc, c) -> (xor(acc, CAST(c AS HUGEINT)) * 1099511628211) % 18446744073709551616) AS hu
        |            FROM g) y),
        |fp0 AS (SELECT DISTINCT doc_id, fp FROM (
        |        SELECT doc_id,
        |          min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |          count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS n_in_win
        |        FROM h) w WHERE n_in_win = 4),
        |fp AS (SELECT doc_id, fp FROM (
        |        SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS dfc FROM fp0) zc
        |      WHERE dfc <= 2000),
        |drops AS (SELECT DISTINCT b.doc_id
        |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        |ORDER BY doc_id""".stripMargin),

    Query("dedup_cluster_report", (s, dir) => {
      // the dedup run's headline output: cluster-size histogram (how
      // many dup groups of each size) over the near-dup graph
      val pairs = Dedup.jaccardPairs(Tables.documentsSpread(s, dir), n = 3, threshold10 = 4)
      Dedup.clusters(pairs)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("sz"))
    },
      // cluster-report twin: the recursive-CTE clustering + two aggregates
      s"""WITH RECURSIVE
        |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id, unnest(list_transform(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
        |        x -> x[1] || ' ' || x[2] || ' ' || x[3])) AS shingle FROM tok WHERE len(t) >= 3),
        |sh AS (SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS dfc FROM sh0) zc
        |  WHERE dfc <= ${Dedup.DefaultDfCap}),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY a.doc_id, b.doc_id),
        |near AS (SELECT doc_a, doc_b FROM pairs
        |         JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |         WHERE shared * 10 >= 4 * (sa.n + sb.n - shared)),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM near UNION SELECT doc_b, doc_a FROM near),
        |cc AS (SELECT a AS doc, a AS label FROM edges
        |       UNION
        |       SELECT e.a, cc.label FROM cc JOIN edges e ON cc.doc = e.b),
        |lab AS (SELECT doc, MIN(label) AS cluster_id FROM cc GROUP BY doc),
        |cs AS (SELECT cluster_id, count(*) AS sz FROM lab GROUP BY 1)
        |SELECT sz, count(*) AS n_clusters FROM cs GROUP BY sz ORDER BY sz""".stripMargin),

    Query("dedup_winnow_fp", (s, dir) => {
      // winnowing fingerprint sets (MOSS): window-min of FNV k-gram hashes
      Dedup.winnowingFingerprints(Tables.documents(s, dir), k = 5, w = 4)
        .orderBy(col("doc_id"), col("fp"))
    },
      // winnowing twin: FNV HUGEINT fold → signed BIGINT BEFORE the window
      // min (Spark's min is over the signed value), full windows only
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, start - 1 AS pos,
        |        array_to_string(t[start:start+4], ' ') AS gram
        |      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS start
        |            FROM tok WHERE len(t) >= 5) z),
        |h AS (SELECT doc_id, pos,
        |        CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
        |                  THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END AS BIGINT) AS h
        |      FROM (SELECT doc_id, pos,
        |              list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |                list_transform(range(1, length(gram) + 1),
        |                  i -> ascii(substr(gram, CAST(i AS INTEGER), 1)))),
        |                (acc, c) -> (xor(acc, CAST(c AS HUGEINT)) * 1099511628211) % 18446744073709551616) AS hu
        |            FROM g) y),
        |win AS (SELECT doc_id,
        |          min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |          count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS n_in_win
        |        FROM h)
        |SELECT DISTINCT doc_id, fp FROM win WHERE n_in_win = 4
        |ORDER BY doc_id, fp""".stripMargin),

    Query("dedup_winnow_pairs", (s, dir) => {
      Dedup.winnowingPairs(Tables.documents(s, dir), k = 5, w = 4, minShared = 2)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, start - 1 AS pos,
        |        array_to_string(t[start:start+4], ' ') AS gram
        |      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS start
        |            FROM tok WHERE len(t) >= 5) z),
        |h AS (SELECT doc_id, pos,
        |        CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
        |                  THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END AS BIGINT) AS h
        |      FROM (SELECT doc_id, pos,
        |              list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |                list_transform(range(1, length(gram) + 1),
        |                  i -> ascii(substr(gram, CAST(i AS INTEGER), 1)))),
        |                (acc, c) -> (xor(acc, CAST(c AS HUGEINT)) * 1099511628211) % 18446744073709551616) AS hu
        |            FROM g) y),
        |fp0 AS (SELECT DISTINCT doc_id, fp FROM (
        |        SELECT doc_id,
        |          min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |          count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS n_in_win
        |        FROM h) w WHERE n_in_win = 4),
        |fp AS (SELECT doc_id, fp FROM (
        |        SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS dfc FROM fp0) zc
        |      WHERE dfc <= 2000)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_a, doc_b""".stripMargin)
  )
}
