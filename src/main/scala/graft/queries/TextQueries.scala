package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops.{Learn, Sampling, TextAnalysis}
import QueryHelpers._

/** Text processing (`text_*`, `vocab_*`, `pack_*`, `tokenize_*`,
  * `corpus_*`, `topic_*`, `classifier_*`): quality signals, BPE, packing,
  * corpus stats, topics and a perceptron. */
object TextQueries {
  val all: Seq[Query] = Seq(
    Query("text_boilerplate_remove", (s, dir) =>
      // CCNet dedup-paragraphs rewrite on 3-token chunks: chunks seen
      // ≥3 times corpus-wide are cut, survivors reassembled in order
      TextAnalysis.boilerplateRemove(Tables.documentsSpread(s, dir), width = 3, maxDf = 3)
        .orderBy(col("doc_id")),
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |chl AS (SELECT doc_id, list_transform(range(0, (len(t)-1)//3 + 1),
        |          i -> array_to_string(t[(i*3+1):(i*3+3)], ' ')) AS chunks FROM tok),
        |ch AS (SELECT doc_id, unnest(chunks) AS chunk,
        |         unnest(range(0, len(chunks))) AS chunk_idx FROM chl),
        |dfc AS (SELECT chunk, count(*) AS chunk_df FROM ch GROUP BY chunk),
        |j AS (SELECT doc_id, chunk_idx, chunk, chunk_df FROM ch JOIN dfc USING (chunk))
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN chunk_df < 3 THEN chunk END, ' ' ORDER BY chunk_idx), '')
        |    AS clean_text,
        |  COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN chunk_df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Query("text_blocklist_hits", (s, dir) => {
      // safety-filter primitive: substring occurrence counts against a
      // broadcast-free compiled-in blocklist + a keep/flag verdict
      val terms = Seq("slow", "big table", "vector")
      val (total, distinctHit) = TextAnalysis.blocklistHits(col("text"), terms)
      Tables.documentsSpread(s, dir)
        .select(col("doc_id"), total.as("n_hits"), distinctHit.as("n_terms_hit"),
          (total * 1000000L / greatest(length(col("text")), lit(1))).cast("long")
            .as("hit_ppm_per_char"))
        .orderBy(col("doc_id"))
    },
      """WITH h AS (SELECT doc_id, text,
        |    (length(text) - length(replace(text, 'slow', ''))) // 4 AS c1,
        |    (length(text) - length(replace(text, 'big table', ''))) // 9 AS c2,
        |    (length(text) - length(replace(text, 'vector', ''))) // 6 AS c3
        |  FROM documents)
        |SELECT doc_id, c1 + c2 + c3 AS n_hits,
        |  (CASE WHEN c1 > 0 THEN 1 ELSE 0 END + CASE WHEN c2 > 0 THEN 1 ELSE 0 END
        |    + CASE WHEN c3 > 0 THEN 1 ELSE 0 END) AS n_terms_hit,
        |  ((c1 + c2 + c3) * 1000000) // greatest(length(text), 1) AS hit_ppm_per_char
        |FROM h ORDER BY doc_id""".stripMargin),

    Query("text_quality", (s, dir) =>
      TextAnalysis.qualityFeatures(Tables.documentsSpread(s, dir)).orderBy(col("doc_id")),
      """SELECT doc_id, length(text) AS n_chars,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  len(list_filter(string_split(text, ' '), x -> x IN ('the','a'))) AS n_stop,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("text_fingerprint", (s, dir) => {
      Tables.documentsSpread(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint("text").as("fp"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |  list_transform(string_split(text, ' '), t -> CAST(length(t) * 31 + ascii(substr(t, 1, 1)) AS BIGINT))),
        |  (acc, v) -> (acc * 131 + v) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("text_repetition", (s, dir) =>
      TextAnalysis.repetitionMetrics(Tables.documentsSpread(s, dir)).orderBy(col("doc_id")),
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |word AS (SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct_tokens FROM tok),
        |g2 AS (SELECT doc_id, unnest(list_transform(list_zip(t[1:len(t)-1], t[2:len(t)]),
        |         x -> x[1] || ' ' || x[2])) AS gram FROM tok WHERE len(t) >= 2),
        |c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, max(c) AS top2_count, CAST(sum(c) AS BIGINT) AS n_2grams FROM c2 GROUP BY 1),
        |g3 AS (SELECT doc_id, unnest(list_transform(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
        |         x -> x[1] || ' ' || x[2] || ' ' || x[3])) AS gram FROM tok WHERE len(t) >= 3),
        |c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
        |t3 AS (SELECT doc_id, max(c) AS top3_count, CAST(sum(c) AS BIGINT) AS n_3grams FROM c3 GROUP BY 1)
        |SELECT w.doc_id, n_tokens, n_distinct_tokens,
        |       coalesce(top2_count, 0) AS top2_count, coalesce(n_2grams, 0) AS n_2grams,
        |       coalesce(top3_count, 0) AS top3_count, coalesce(n_3grams, 0) AS n_3grams
        |FROM word w LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    Query("text_pii_redact", (s, dir) => {
      // The synthetic corpus carries no PII, so seed deterministic
      // PII-shaped content from doc_id (both engines derive the same
      // input) — the redaction pass then has real work to do.
      val seeded = Tables.documentsSpread(s, dir).select(col("doc_id"),
        concat_ws(" ",
          substring(col("text"), 1, 40),
          concat(lit("contact user"), col("doc_id").cast("string"), lit("@example.com")),
          concat(lit("host 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")),
          concat(lit("tel 21-555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-1234"))).as("raw"))
      val counted = TextAnalysis.piiCounts(col("raw"))
        .foldLeft(seeded.withColumn("redacted", TextAnalysis.piiRedact(col("raw")))) {
          case (d, (name, c)) => d.withColumn(name, c)
        }
      counted.select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
        col("redacted")).orderBy(col("doc_id"))
    },
      """WITH seeded AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ||
        |    ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ||
        |    ' tel 21-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-1234' AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(raw, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ip,
        |  CAST(len(regexp_extract_all(raw, '\b[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS INT) AS n_phone,
        |  regexp_replace(regexp_replace(regexp_replace(raw,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |      '\b[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS redacted
        |FROM seeded ORDER BY doc_id""".stripMargin),

    Query("text_contamination", (s, dir) => {
      // Benchmark stand-in: two sources play the eval suite; the rest is
      // the corpus. 5-gram collision counts per corpus doc.
      val docs = Tables.documentsSpread(s, dir)
      val bench  = docs.filter(col("source").isin("src0", "src1"))
      val corpus = docs.filter(!col("source").isin("src0", "src1"))
      TextAnalysis.contamination(corpus, bench, n = 5).orderBy(col("doc_id"))
    },
      """WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, source, unnest(list_transform(
        |        list_zip(t[1:len(t)-4], t[2:len(t)-3], t[3:len(t)-2], t[4:len(t)-1], t[5:len(t)]),
        |        x -> x[1] || ' ' || x[2] || ' ' || x[3] || ' ' || x[4] || ' ' || x[5])) AS gram
        |     FROM tok WHERE len(t) >= 5),
        |bench AS (SELECT DISTINCT gram FROM g WHERE source IN ('src0', 'src1')),
        |corpus AS (SELECT DISTINCT doc_id, gram FROM g WHERE source NOT IN ('src0', 'src1')),
        |perdoc AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1),
        |hits AS (SELECT doc_id, count(*) AS n_contaminated
        |         FROM corpus JOIN bench USING (gram) GROUP BY 1)
        |SELECT p.doc_id, n_grams, coalesce(n_contaminated, 0) AS n_contaminated
        |FROM perdoc p LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin),

    Query("text_classifier", (s, dir) =>
      // hashed-feature linear scorer; keep-flag at score > 0
      Tables.documentsSpread(s, dir)
        .select(col("doc_id"),
          TextAnalysis.classifierScoreMilli("text").as("score_milli"))
        .withColumn("kept", col("score_milli") > 0)
        .orderBy(col("doc_id")),
      // classifier twin: FNV-64a per token (HUGEINT fold), bucket = % 1024
      // (2^64 ≡ 0 mod 1024 so unsigned ≡ signed pmod), Knuth spread to
      // milli-weights, BIGINT sum. ascii(char)=byte holds for ASCII text
      // only (the corpus is ASCII — same documented assumption as
      // cdc_snapshot_partitions); Spark hashes UTF-8 bytes either way.
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |w AS (SELECT doc_id,
        |  CAST(((list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |      list_transform(range(1, length(t) + 1),
        |        i -> ascii(substr(t, CAST(i AS INTEGER), 1)))),
        |      (acc, c) -> (xor(acc, CAST(c AS HUGEINT)) * 1099511628211) % 18446744073709551616)
        |    % 1024) * 2654435761 % 2001 - 1000) AS BIGINT) AS w
        |  FROM tok)
        |SELECT doc_id, CAST(sum(w) AS BIGINT) AS score_milli,
        |  CAST(sum(w) AS BIGINT) > 0 AS kept
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Query("text_compressibility", (s, dir) =>
      // gzip-ratio proxy: distinct/total 4-gram ppm, zero shuffle
      TextAnalysis.compressibility(Tables.documentsSpread(s, dir))
        .orderBy(col("doc_id")),
      // compressibility twin: DuckDB 4-gram zip + distinct count
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id,
        |    list_transform(list_zip(t[1:len(t)-3], t[2:len(t)-2], t[3:len(t)-1], t[4:len(t)]),
        |      x -> x[1] || ' ' || x[2] || ' ' || x[3] || ' ' || x[4]) AS gs
        |  FROM tok WHERE len(t) >= 4)
        |SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
        |  CAST(len(list_distinct(gs)) * 1000000 // len(gs) AS BIGINT) AS distinct_ppm
        |FROM g ORDER BY doc_id""".stripMargin),

    Query("text_rake_keywords", (s, dir) =>
      // phrase-level keywords (RAKE): stopword-split candidate runs,
      // deg/freq word scores in milli fixed point, per-doc top-3
      TextAnalysis.rakeKeywords(Tables.documentsSpread(s, dir), k = 3)
        .orderBy(col("doc_id"), col("rank")),
      // RAKE twin: identical phrase runs, deg/freq milli scores
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tk AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok
        |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
        |             FROM tok) z),
        |st AS (SELECT doc_id, pos FROM tk WHERE tok IN ('the', 'a')),
        |nr AS (SELECT k.doc_id, k.pos, k.tok,
        |        (SELECT count(*) FROM st s
        |         WHERE s.doc_id = k.doc_id AND s.pos < k.pos) AS phrase_id
        |       FROM tk k WHERE k.tok NOT IN ('the', 'a')),
        |ph AS (SELECT doc_id, phrase_id,
        |         string_agg(tok, ' ' ORDER BY pos) AS phrase, COUNT(*) AS plen
        |       FROM nr GROUP BY 1, 2),
        |wr AS (SELECT doc_id, phrase_id, phrase, plen,
        |         unnest(string_split(phrase, ' ')) AS word FROM ph),
        |ws AS (SELECT doc_id, word,
        |         (1000 * SUM(plen)) // COUNT(*) AS wscore_milli
        |       FROM wr GROUP BY 1, 2),
        |sc AS (SELECT w.doc_id, w.phrase_id, w.phrase,
        |         CAST(SUM(s.wscore_milli) AS BIGINT) AS score_milli
        |       FROM wr w JOIN ws s ON s.doc_id = w.doc_id AND s.word = w.word
        |       GROUP BY 1, 2, 3),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |         ORDER BY score_milli DESC, phrase, phrase_id) AS rank FROM sc)
        |SELECT doc_id, CAST(rank AS INT) AS rank, phrase, score_milli
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    Query("classifier_perceptron", (s, dir) =>
      // TRAINED quality/lang filter (vs text_classifier's fixed
      // weights): 3 synchronous batch-perceptron passes over sparse
      // integer features — exact-integer updates, broadcast weight
      // vector, unrolled-SQL oracle parity
      Learn.perceptronTrain(
          Learn.perceptronFeatures(Tables.documentsSpread(s, dir)), iters = 3)
        .orderBy(col("pos")),
      s"""${perceptronCtes(3)}
         |SELECT pos, w FROM w3 ORDER BY pos""".stripMargin),

    Query("classifier_perceptron_eval", (s, dir) => {
      // training-set confusion of the trained hyperplane (ties = errors)
      val feats = Learn.perceptronFeatures(Tables.documentsSpread(s, dir))
      Learn.perceptronEval(feats, Learn.perceptronTrain(feats, iters = 3))
        .orderBy(col("y"))
    },
      s"""${perceptronCtes(3)},
         |mf AS (SELECT f.doc_id, f.y, SUM(f.xv * w.w) AS margin
         |  FROM f JOIN w3 w USING (pos) GROUP BY 1, 2)
         |SELECT y, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN y * margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |FROM mf GROUP BY y ORDER BY y""".stripMargin),

    Query("tokenize_ids", (s, dir) => {
      // corpus → model-ready id sequences: top-100 frequency vocab,
      // OOV → -1, broadcast vocab join, position-restored sequences
      val docs = Tables.documents(s, dir)
      TextAnalysis.tokenizeToIds(docs, TextAnalysis.buildVocab(docs, topK = 100))
        .orderBy(col("doc_id"))
    },
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS pos, t FROM tok),
        |tokens AS (SELECT doc_id, pos, t[pos] AS tok FROM pos),
        |freq AS (SELECT tok AS token, count(*) AS cnt FROM tokens GROUP BY 1),
        |vocab AS (SELECT token, id FROM (
        |  SELECT token, row_number() OVER (ORDER BY cnt DESC, token) - 1 AS id FROM freq)
        |  WHERE id < 100)
        |SELECT doc_id,
        |  array_to_string(list(CAST(coalesce(v.id, -1) AS VARCHAR) ORDER BY pos), ',') AS ids_csv
        |FROM tokens LEFT JOIN vocab v ON tok = v.token
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Query("vocab_bpe_merges", (s, dir) =>
      // tokenizer TRAINING (Sennrich BPE): corpus touched once for the
      // word-freq table, then 6 merge rounds over the vocab-sized table
      TextAnalysis.bpeMerges(Tables.documentsSpread(s, dir), nMerges = 6),
      // BPE twin: 6 unrolled merge rounds (duckBpe); each round's winner
      // row becomes one output row in training order
      (s"WITH ${duckBpe(6)},\nm AS (" +
        (1 to 6).map(i =>
          s"SELECT $i AS rank, split_part(pr, ' ', 1) AS lhs, " +
            s"split_part(pr, ' ', 2) AS rhs, replace(pr, ' ', '') AS merged, " +
            s"cnt AS weighted_count FROM bpe${i}_b").mkString(" UNION ALL ") +
        ")\nSELECT * FROM m ORDER BY rank")),

    Query("vocab_bpe_fertility", (s, dir) =>
      // symbols-per-word by source under the learned tokenizer — the
      // corpus-mass → token-budget conversion a mixing plan needs
      TextAnalysis.bpeFertility(Tables.documentsSpread(s, dir), nMerges = 6)
        .orderBy(col("source")),
      // fertility twin: per-source word counts joined to the round-6 word
      // table; symbol count = segmented-symbol list length
      s"""WITH ${duckBpe(6)},
         |sw AS (SELECT source, tok AS w, count(*) AS f FROM (
         |  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents) t
         |  WHERE tok <> '' GROUP BY source, tok)
         |SELECT sw.source, CAST(sum(sw.f) AS BIGINT) AS n_words,
         |  CAST(sum(sw.f * len(string_split(k.sym, ' '))) AS BIGINT) AS n_symbols
         |FROM sw JOIN bpe6 k ON sw.w = k.w GROUP BY sw.source ORDER BY source""".stripMargin),

    Query("vocab_bpe_encode", (s, dir) =>
      // the tokenizer APPLIED: every doc as its loader-ready subword-id
      // sequence under the 6-merge fit; two broadcast vocab joins
      TextAnalysis.bpeEncode(Tables.documentsSpread(s, dir), nMerges = 6)
        .orderBy(col("doc_id")),
      s"""WITH ${duckBpe(6)},
         |sc AS (SELECT s AS symbol, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT unnest(string_split(sym, ' ')) AS s, freq FROM bpe6) z GROUP BY s),
         |svocab AS (SELECT symbol, row_number() OVER (ORDER BY cnt DESC, symbol) - 1 AS id FROM sc),
         |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
         |wpos AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS wp, t FROM tok),
         |words AS (SELECT doc_id, wp, t[wp] AS w FROM wpos WHERE t[wp] <> ''),
         |enc AS (SELECT doc_id, wp, string_split(k.sym, ' ') AS syms FROM words JOIN bpe6 k USING (w)),
         |spos AS (SELECT doc_id, wp, unnest(generate_series(1, len(syms))) AS sp, syms FROM enc),
         |symrows AS (SELECT doc_id, wp, sp, syms[sp] AS symbol FROM spos)
         |SELECT s.doc_id, count(*) AS n_ids,
         |  array_to_string(list(CAST(v.id AS VARCHAR) ORDER BY s.wp, s.sp), ',') AS ids_csv
         |FROM symrows s JOIN svocab v USING (symbol) GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin),

    Query("pack_token_ids", (s, dir) =>
      // the full loader artifact: BPE-encoded corpus concat-and-chopped
      // into 256-id context windows per source, in one plan
      TextAnalysis.bpeEncodePacked(Tables.documentsSpread(s, dir), nMerges = 6,
          windowTokens = 256)
        .orderBy(col("source"), col("win")),
      // encode twin: frequency-ranked symbol ids over the fitted vocab,
      // per-word segmentation join, ids ordered by (word pos, sym pos)
      // packed-ids twin: the encode CTEs + global offsets + window chop
      s"""WITH ${duckBpe(6)},
         |sc AS (SELECT s AS symbol, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT unnest(string_split(sym, ' ')) AS s, freq FROM bpe6) z GROUP BY s),
         |svocab AS (SELECT symbol, row_number() OVER (ORDER BY cnt DESC, symbol) - 1 AS id FROM sc),
         |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
         |wpos AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS wp, t FROM tok),
         |words AS (SELECT doc_id, wp, t[wp] AS w FROM wpos WHERE t[wp] <> ''),
         |enc AS (SELECT doc_id, wp, string_split(k.sym, ' ') AS syms FROM words JOIN bpe6 k USING (w)),
         |spos AS (SELECT doc_id, wp, unnest(generate_series(1, len(syms))) AS sp, syms FROM enc),
         |symrows AS (SELECT doc_id, wp, sp, syms[sp] AS symbol FROM spos),
         |ids AS (SELECT s.doc_id, v.id,
         |    row_number() OVER (PARTITION BY s.doc_id ORDER BY s.wp, s.sp) - 1 AS tp
         |  FROM symrows s JOIN svocab v USING (symbol)),
         |lens AS (SELECT doc_id, count(*) AS n FROM ids GROUP BY 1),
         |starts AS (SELECT d.doc_id, d.source,
         |    sum(l.n) OVER (PARTITION BY d.source ORDER BY d.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - l.n AS doc_start
         |  FROM documents d JOIN lens l USING (doc_id)),
         |g AS (SELECT st.source, i.doc_id, i.id, st.doc_start + i.tp AS gpos
         |  FROM ids i JOIN starts st USING (doc_id))
         |SELECT source, CAST(gpos // 256 AS BIGINT) AS win, COUNT(*) AS n_ids,
         |  array_to_string(list(CAST(id AS VARCHAR) ORDER BY gpos), ',') AS ids_csv
         |FROM g GROUP BY 1, 2 ORDER BY source, win""".stripMargin),

    Query("text_tfidf_topk", (s, dir) =>
      // integer-exact per-doc keyword extraction
      TextAnalysis.tfidfTopK(Tables.documentsSpread(s, dir))
        .orderBy(col("doc_id"), col("rank")),
      // tf-idf twin: tf·1e6//df integer ranking, lexicographic tie-break
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    CAST(tf.tf * 1000000 // dfreq.df AS BIGINT) AS score_milli
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |             ORDER BY score_milli DESC, term ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
        |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score_milli
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    Query("pack_shards", (s, dir) => {
      // Sequence packing: docs accumulate in doc_id order into fixed
      // token-budget training shards, via the SAME shardAssign math
      // pack_concat materializes (one shared helper — the two views of
      // a shard can never desync). Partitioned by source so the window
      // never globally sorts the corpus.
      Sampling.shardAssign(Tables.documents(s, dir), budgetTokens = 512)
        .groupBy(col("source"), col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("shard_tokens"))
        .orderBy(col("source"), col("shard"))
    },
      """WITH t AS (SELECT source, doc_id,
        |             len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |           FROM documents),
        |c AS (SELECT source, doc_id, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_tok
        |      FROM t)
        |SELECT source, CAST(start_tok // 512 AS BIGINT) AS shard,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
        |FROM c GROUP BY 1, 2 ORDER BY source, shard""".stripMargin),

    Query("pack_windows", (s, dir) =>
      // Token-level concat-and-chop: the context-window manifest (docs
      // SPLIT across fixed 256-token windows, zero padding waste) —
      // the loader-facing complement of pack_shards' doc-granular form
      Sampling.packSequences(Tables.documents(s, dir), windowTokens = 256)
        .orderBy(col("source"), col("win"), col("doc_id")),
      // token-level chop: same running-offset CTE, then each doc unnests
      // over its window-id range with slice arithmetic
      """WITH t AS (SELECT source, doc_id,
        |             len(string_split_regex(trim(text), '\s+')) AS nt
        |           FROM documents),
        |c AS (SELECT source, doc_id, nt,
        |        CAST(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt
        |        AS BIGINT) AS s
        |      FROM t WHERE nt > 0),
        |e AS (SELECT source, doc_id, s, s + nt AS e FROM c),
        |x AS (SELECT source, doc_id, s, e,
        |        unnest(range(s // 256, (e - 1) // 256 + 1)) AS win FROM e)
        |SELECT source, CAST(win AS BIGINT) AS win, doc_id,
        |  CAST(greatest(s, win * 256) - s AS BIGINT) AS doc_from,
        |  CAST(least(e, (win + 1) * 256) - greatest(s, win * 256) AS BIGINT)
        |    AS slice_len,
        |  CAST(greatest(s, win * 256) - win * 256 AS BIGINT) AS win_off
        |FROM x ORDER BY source, win, doc_id""".stripMargin),

    Query("pack_efficiency", (s, dir) =>
      // the report read BEFORE committing a window size: padding waste
      // and truncation loss per candidate W under the three loader
      // strategies (pad-per-doc / clip-to-W / concat-and-chop)
      Sampling.packingEfficiency(Tables.documents(s, dir), Seq(64, 128, 256, 512))
        .orderBy(col("window_tokens"), col("strategy")),
      // efficiency twin: same whitespace token counts, three strategy
      // arms unioned, ceil-div as (n + w - 1) // w
      """WITH nt AS (SELECT source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt
        |  FROM documents
        |  WHERE len(string_split_regex(trim(text), '\s+')) > 0),
        |ws AS (SELECT unnest([64, 128, 256, 512]) AS w),
        |pd AS (SELECT w, 'pad_doc' AS strategy,
        |    CAST(sum((nt + w - 1) // w) AS BIGINT) AS n_sequences,
        |    CAST(sum(nt) AS BIGINT) AS content_tokens,
        |    CAST(sum(((nt + w - 1) // w) * w - nt) AS BIGINT) AS padding_tokens,
        |    CAST(0 AS BIGINT) AS truncated_tokens
        |  FROM nt CROSS JOIN ws GROUP BY w),
        |cl AS (SELECT w, 'clip' AS strategy,
        |    CAST(count(*) AS BIGINT) AS n_sequences,
        |    CAST(sum(least(nt, w)) AS BIGINT) AS content_tokens,
        |    CAST(sum(greatest(0, w - nt)) AS BIGINT) AS padding_tokens,
        |    CAST(sum(greatest(0, nt - w)) AS BIGINT) AS truncated_tokens
        |  FROM nt CROSS JOIN ws GROUP BY w),
        |gt AS (SELECT source, CAST(sum(nt) AS BIGINT) AS gtv FROM nt GROUP BY source),
        |ch AS (SELECT w, 'chop' AS strategy,
        |    CAST(sum((gtv + w - 1) // w) AS BIGINT) AS n_sequences,
        |    CAST(sum(gtv) AS BIGINT) AS content_tokens,
        |    CAST(sum(((gtv + w - 1) // w) * w - gtv) AS BIGINT) AS padding_tokens,
        |    CAST(0 AS BIGINT) AS truncated_tokens
        |  FROM gt CROSS JOIN ws GROUP BY w),
        |u AS (SELECT * FROM pd UNION ALL SELECT * FROM cl UNION ALL SELECT * FROM ch)
        |SELECT CAST(w AS BIGINT) AS window_tokens, strategy, n_sequences,
        |  content_tokens, padding_tokens, truncated_tokens,
        |  CAST(content_tokens * 1000000 // (n_sequences * w) AS BIGINT) AS efficiency_ppm
        |FROM u ORDER BY window_tokens, strategy""".stripMargin),

    Query("text_watermark_detect", (s, dir) =>
      // green-list watermark detector (Kirchenbauer et al. 2023):
      // prev-token-seeded green fraction + one-proportion z statistic,
      // FNV-based so the whole statistic hash-verifies
      TextAnalysis.watermarkDetect(Tables.documentsSpread(s, dir))
        .orderBy(col("doc_id")),
      // watermark twin: adjacent-token pairs by list index (tokens
      // hoisted into plain columns FIRST — fnvSql's fold lambda binds
      // `i`, which would shadow an index passed inside the expression),
      // same FNV→pmod hash, same fixed-order z text
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |pr AS (SELECT doc_id, t[i] AS ta, t[i + 1] AS tb FROM (
         |    SELECT doc_id, t, unnest(range(1, len(t))) AS i
         |    FROM tok WHERE len(t) >= 2) z),
         |hu AS (SELECT doc_id, ${fnvSql("ta")} AS ua, ${fnvSql("tb")} AS ub FROM pr),
         |hx AS (SELECT doc_id, ${signedModP("ua")} AS ha, ${signedModP("ub")} AS hb FROM hu),
         |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(CASE WHEN (ha + hb) % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_green
         |  FROM hx GROUP BY 1),
         |zz AS (SELECT d.doc_id,
         |    COALESCE(g.n_pairs, 0) AS n_pairs, COALESCE(g.n_green, 0) AS n_green
         |  FROM documents d LEFT JOIN g ON d.doc_id = g.doc_id),
         |zs AS (SELECT *,
         |    CASE WHEN n_pairs > 0 THEN
         |      CAST(FLOOR((CAST(n_green AS DOUBLE) - CAST(n_pairs AS DOUBLE) / 4.0)
         |                  / SQRT(3.0 * CAST(n_pairs AS DOUBLE) / 16.0)
         |                  * 1000.0 + 0.5) AS BIGINT)
         |    END AS z_milli
         |  FROM zz)
         |SELECT doc_id, n_pairs, n_green, z_milli,
         |  COALESCE(z_milli >= 4000, false) AS watermarked
         |FROM zs ORDER BY doc_id""".stripMargin),

    Query("text_ngram_novelty", (s, dir) =>
      // per-doc novelty: share of the doc's 3-grams first seen HERE —
      // the first-occurrence trick at gram granularity, one linear
      // groupBy + join, no per-doc distinct scans
      TextAnalysis.ngramNovelty(Tables.documentsSpread(s, dir))
        .orderBy(col("doc_id")),
      // novelty twin: identical 3-gram derivation + first-occurrence min
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest(list_transform(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
        |           x -> x[1] || ' ' || x[2] || ' ' || x[3])) AS shingle
        |       FROM tok WHERE len(t) >= 3),
        |fd AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle),
        |per AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |    CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |  FROM sh s JOIN fd f USING (shingle) GROUP BY s.doc_id)
        |SELECT d.doc_id, COALESCE(n_grams, 0) AS n_grams,
        |  COALESCE(n_novel, 0) AS n_novel,
        |  CASE WHEN COALESCE(n_grams, 0) > 0
        |    THEN CAST((n_novel * 1000000) // n_grams AS BIGINT) END AS novelty_ppm
        |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin),

    Query("text_bleu_pairs", (s, dir) =>
      // BLEU-style clipped n-gram precisions (p1..p4 ppm) + brevity
      // parts per (even, odd) doc pair — the synthetic-rewrite QA gate
      TextAnalysis.bleuPairs(Tables.documentsSpread(s, dir))
        .orderBy(col("pair_id")),
      // BLEU twin: tagged-gram union per order (slices guarded by len —
      // DuckDB's negative slice bounds wrap from the end, so the n >
      // len(t) case must be excluded explicitly, matching the Spark
      // ngrams kernel's empty-result contract), clipped min-join, ppm by
      // integer division
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |cand AS (SELECT doc_id - 1 AS pair_id, t FROM tok WHERE doc_id % 2 = 1),
        |refs AS (SELECT doc_id AS pair_id, t FROM tok WHERE doc_id % 2 = 0),
        |cg AS (SELECT pair_id, g, count(*) AS c FROM (
        |    SELECT pair_id, unnest(list_transform(t, x -> '1|' || x)) AS g FROM cand
        |    UNION ALL
        |    SELECT pair_id, unnest(list_transform(list_zip(t[1:len(t)-1], t[2:len(t)]),
        |      x -> '2|' || x[1] || ' ' || x[2])) FROM cand WHERE len(t) >= 2
        |    UNION ALL
        |    SELECT pair_id, unnest(list_transform(
        |      list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
        |      x -> '3|' || x[1] || ' ' || x[2] || ' ' || x[3])) FROM cand WHERE len(t) >= 3
        |    UNION ALL
        |    SELECT pair_id, unnest(list_transform(
        |      list_zip(t[1:len(t)-3], t[2:len(t)-2], t[3:len(t)-1], t[4:len(t)]),
        |      x -> '4|' || x[1] || ' ' || x[2] || ' ' || x[3] || ' ' || x[4]))
        |    FROM cand WHERE len(t) >= 4) z GROUP BY 1, 2),
        |rg AS (SELECT pair_id, g, count(*) AS rc FROM (
        |    SELECT pair_id, unnest(list_transform(t, x -> '1|' || x)) AS g FROM refs
        |    UNION ALL
        |    SELECT pair_id, unnest(list_transform(list_zip(t[1:len(t)-1], t[2:len(t)]),
        |      x -> '2|' || x[1] || ' ' || x[2])) FROM refs WHERE len(t) >= 2
        |    UNION ALL
        |    SELECT pair_id, unnest(list_transform(
        |      list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
        |      x -> '3|' || x[1] || ' ' || x[2] || ' ' || x[3])) FROM refs WHERE len(t) >= 3
        |    UNION ALL
        |    SELECT pair_id, unnest(list_transform(
        |      list_zip(t[1:len(t)-3], t[2:len(t)-2], t[3:len(t)-1], t[4:len(t)]),
        |      x -> '4|' || x[1] || ' ' || x[2] || ' ' || x[3] || ' ' || x[4]))
        |    FROM refs WHERE len(t) >= 4) z GROUP BY 1, 2),
        |tot AS (SELECT pair_id, CAST(split_part(g, '|', 1) AS INT) AS n,
        |    CAST(SUM(c) AS BIGINT) AS total FROM cg GROUP BY 1, 2),
        |clip AS (SELECT c.pair_id, CAST(split_part(c.g, '|', 1) AS INT) AS n,
        |    CAST(SUM(least(c.c, r.rc)) AS BIGINT) AS clipped
        |  FROM cg c JOIN rg r USING (pair_id, g) GROUP BY 1, 2),
        |prec AS (SELECT t.pair_id, t.n,
        |    (COALESCE(cl.clipped, 0) * 1000000) // t.total AS p_ppm
        |  FROM tot t LEFT JOIN clip cl USING (pair_id, n)),
        |lens AS (SELECT c.pair_id, CAST(len(c.t) AS BIGINT) AS len_c,
        |    CAST(len(r.t) AS BIGINT) AS len_r
        |  FROM cand c JOIN refs r USING (pair_id))
        |SELECT l.pair_id, l.len_c, l.len_r, l.len_c >= l.len_r AS bp_ok,
        |  max(CASE WHEN n = 1 THEN p_ppm END) AS p1_ppm,
        |  max(CASE WHEN n = 2 THEN p_ppm END) AS p2_ppm,
        |  max(CASE WHEN n = 3 THEN p_ppm END) AS p3_ppm,
        |  max(CASE WHEN n = 4 THEN p_ppm END) AS p4_ppm
        |FROM lens l LEFT JOIN prec USING (pair_id)
        |GROUP BY 1, 2, 3, 4 ORDER BY l.pair_id""".stripMargin),

    Query("classifier_calibration", (s, dir) => {
      // reliability report: margin bins relative to max |margin|
      // (scale-invariant; portable FLOOR(x·n/max) signed division) vs
      // empirical positive rate — score order must carry probability
      // before the hyperplane gates a corpus
      val feats = Learn.perceptronFeatures(Tables.documentsSpread(s, dir))
      Learn.calibrationReport(feats, Learn.perceptronTrain(feats, iters = 3))
        .orderBy(col("bin"))
    },
      // calibration twin: same trained w3, same margins, bins relative
      // to max |margin| via the portable FLOOR(x·n/max) signed division
      // (integer div truncates in Spark but floors in DuckDB — double
      // floor agrees everywhere, exact below 2^53)
      s"""${perceptronCtes(3)},
         |mf AS (SELECT f.doc_id, f.y, SUM(f.xv * w.w) AS margin
         |  FROM f JOIN w3 w USING (pos) GROUP BY 1, 2),
         |mx AS (SELECT max(abs(margin)) AS maxabs FROM mf),
         |bins AS (SELECT CASE WHEN maxabs = 0 THEN CAST(0 AS BIGINT)
         |    ELSE greatest(CAST(-4 AS BIGINT), least(CAST(4 AS BIGINT),
         |      CAST(FLOOR(CAST(margin AS DOUBLE) * 4.0
         |                 / CAST(maxabs AS DOUBLE)) AS BIGINT))) END AS bin, y
         |  FROM mf CROSS JOIN mx)
         |SELECT bin, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  (CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         |    // COUNT(*) AS pos_ppm
         |FROM bins GROUP BY bin ORDER BY bin""".stripMargin),

    Query("text_langid", (s, dir) => {
      Tables.documentsSpread(s, dir)
        .select(col("doc_id"), TextAnalysis.langId("text").as("pred_lang"))
        .orderBy(col("doc_id"))
    },
      // Upgraded from rows-only: the marker-voting argmax is expressible
      // in DuckDB (regexp_extract_all + list_position first-max, matching
      // Spark's array_position lexicographic tie-break; \b is ASCII-class
      // in both Java regex and RE2)
      """SELECT doc_id,
        |  CASE WHEN greatest(de, en, es, fr, zh) = 0 THEN 'und'
        |       ELSE ['de','en','es','fr','zh'][list_position([de, en, es, fr, zh], greatest(de, en, es, fr, zh))]
        |  END AS pred_lang
        |FROM (SELECT doc_id,
        |  len(regexp_extract_all(text, '\b(der|die|das|und)\b')) AS de,
        |  len(regexp_extract_all(text, '\b(the|a|of|and)\b')) AS en,
        |  len(regexp_extract_all(text, '\b(el|la|los|y)\b')) AS es,
        |  len(regexp_extract_all(text, '\b(le|la|les|et)\b')) AS fr,
        |  len(regexp_extract_all(text, '\b(的|是|了|在)\b')) AS zh
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin),

    Query("text_strip_markup", (s, dir) => {
      // C4's extraction step: deterministic HTML wrapper (script/style
      // payload, attributes, comments, single- and double-escaped
      // entities) around the corpus, stripped back to prose
      val html = concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;" +
          "</script><style>p{color:red}</style></head><body><h1 class=\"t\">"),
        col("source"), lit("</h1><p>"),
        replace(col("text"), lit(" the "), lit(" &amp; ")),
        lit(" &lt;tag&gt; &amp;lt;literal&#39;s&nbsp;end</p>" +
          "<!-- note --></body></html>"))
      Tables.documentsSpread(s, dir)
        .select(col("doc_id"), TextAnalysis.stripMarkup(html).as("clean"))
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("clean")).cast("long"))
        .orderBy(col("doc_id"))
    },
      // markup strip mirrored step by step (DuckDB regexp_replace needs
      // the explicit 'g' flag — Spark's is global by default)
      """WITH h AS (SELECT doc_id,
        |  '<html><head><script type="text/javascript">var x = 1 < 2;' ||
        |  '</script><style>p{color:red}</style></head><body><h1 class="t">' ||
        |  source || '</h1><p>' || replace(text, ' the ', ' &amp; ') ||
        |  ' &lt;tag&gt; &amp;lt;literal&#39;s&nbsp;end</p>' ||
        |  '<!-- note --></body></html>' AS html FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(regexp_replace(html,
        |  '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |  '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS x FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(x, '<[^>]*>', ' ', 'g') AS x FROM s1),
        |s3 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(x,
        |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |  '&nbsp;', ' '), '&amp;', '&') AS x FROM s2),
        |c AS (SELECT doc_id, trim(regexp_replace(x, '\s+', ' ', 'g')) AS clean
        |      FROM s3)
        |SELECT doc_id, clean,
        |  CAST(len(string_split_regex(trim(clean), '\s+')) AS BIGINT) AS n_tokens
        |FROM c ORDER BY doc_id""".stripMargin),

    Query("text_langid_confusion", (s, dir) =>
      // the langid AUDIT: predicted × labeled confusion counts — the
      // first table anyone checks before trusting a language gate.
      // One corpus scan + one tiny (|langs|²-row) groupBy
      Tables.documentsSpread(s, dir)
        .select(col("lang"), TextAnalysis.langId("text").as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("pred_lang")),
      """SELECT lang, CASE WHEN greatest(de, en, es, fr, zh) = 0 THEN 'und'
        |       ELSE ['de','en','es','fr','zh'][list_position([de, en, es, fr, zh], greatest(de, en, es, fr, zh))]
        |  END AS pred_lang, count(*) AS n_docs
        |FROM (SELECT lang,
        |  len(regexp_extract_all(text, '\b(der|die|das|und)\b')) AS de,
        |  len(regexp_extract_all(text, '\b(the|a|of|and)\b')) AS en,
        |  len(regexp_extract_all(text, '\b(el|la|los|y)\b')) AS es,
        |  len(regexp_extract_all(text, '\b(le|la|les|et)\b')) AS fr,
        |  len(regexp_extract_all(text, '\b(的|是|了|在)\b')) AS zh
        |  FROM documents) t
        |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin),

    Query("pack_concat", (s, dir) =>
      // shard materialization: the EOS-joined blob + char-offset index
      // a training loader consumes, per (source, 512-token shard)
      Sampling.packConcat(Tables.documents(s, dir), budgetTokens = 512)
        .orderBy(col("source"), col("shard")),
      // concat twin: pack_shards' window math + per-doc char offsets
      // (Σ previous len+eosLen inside the shard) + ordered string_agg
      """WITH t AS (SELECT source, doc_id, text,
        |             len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |           FROM documents),
        |c AS (SELECT source, doc_id, text, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_tok
        |      FROM t),
        |sh AS (SELECT source, doc_id, text, n_tokens,
        |         CAST(start_tok // 512 AS BIGINT) AS shard FROM c),
        |o AS (SELECT source, shard, doc_id, text, n_tokens,
        |        coalesce(sum(strlen(text) + 7) OVER (PARTITION BY source, shard
        |          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |      FROM sh)
        |SELECT source, shard, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
        |  string_agg(text, '<|eos|>' ORDER BY doc_id) AS blob,
        |  string_agg(CAST(off AS VARCHAR), ',' ORDER BY doc_id) AS offsets_csv
        |FROM o GROUP BY 1, 2 ORDER BY source, shard""".stripMargin),

    Query("pack_manifest", (s, dir) =>
      // shard integrity sidecar: byte size + sha256 per blob — what the
      // loader checks before reading; manifest ≡ artifact by derivation
      Sampling.packManifest(Tables.documents(s, dir), budgetTokens = 512)
        .orderBy(col("source"), col("shard")),
      // manifest twin: size + sha256 over the identical blobs
      """WITH t AS (SELECT source, doc_id, text,
        |             len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |           FROM documents),
        |c AS (SELECT source, doc_id, text, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_tok
        |      FROM t),
        |sh AS (SELECT source, doc_id, text, n_tokens,
        |         CAST(start_tok // 512 AS BIGINT) AS shard FROM c),
        |b AS (SELECT source, shard, count(*) AS n_docs,
        |        CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
        |        string_agg(text, '<|eos|>' ORDER BY doc_id) AS blob
        |      FROM sh GROUP BY 1, 2)
        |SELECT source, shard, n_docs, shard_tokens,
        |  CAST(strlen(blob) AS BIGINT) AS blob_bytes, sha256(blob) AS sha256
        |FROM b ORDER BY source, shard""".stripMargin),

    Query("text_lm_quality", (s, dir) => {
      // CCNet-style LM quality score: add-one-smoothed bigram likelihood
      // (integer-exact surrogate) of the long-source slice under a model
      // fit on the short-source "clean reference" slice
      val docs = Tables.documents(s, dir)
      TextAnalysis.lmLikelihoodMilli(
          docs.filter(length(col("source")) === 5),
          reference = docs.filter(length(col("source")) === 4))
        .orderBy(col("doc_id"))
    },
      // LM-quality twin: the same add-one-smoothed integer bigram
      // likelihood — exact integer terms, order-free sums
      """WITH ref AS (SELECT string_split(text, ' ') AS t FROM documents WHERE length(source) = 4),
        |cb AS (SELECT bigram, count(*) AS cb FROM (
        |    SELECT unnest(list_transform(list_zip(t[1:len(t)-1], t[2:len(t)]),
        |      x -> x[1] || ' ' || x[2])) AS bigram FROM ref WHERE len(t) >= 2) z
        |  GROUP BY bigram),
        |cu AS (SELECT w1, count(*) AS cu FROM (
        |    SELECT unnest(t) AS w1 FROM ref) z GROUP BY w1),
        |v AS (SELECT count(*) AS v FROM cu),
        |db AS (SELECT doc_id,
        |    unnest(list_transform(list_zip(t[1:len(t)-1], t[2:len(t)]),
        |      x -> x[1] || ' ' || x[2])) AS bigram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |        WHERE length(source) = 5) z WHERE len(t) >= 2),
        |sc AS (SELECT d.doc_id,
        |    (1000000 * (coalesce(cb.cb, 0) + 1)) // (coalesce(cu.cu, 0) + v.v) AS term
        |  FROM db d
        |  LEFT JOIN cb ON cb.bigram = d.bigram
        |  LEFT JOIN cu ON cu.w1 = string_split(d.bigram, ' ')[1]
        |  CROSS JOIN v),
        |agg AS (SELECT doc_id, sum(term) AS ms, count(*) AS nb FROM sc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(agg.ms // agg.nb, 0) AS BIGINT) AS score_micro,
        |  CAST(coalesce(agg.nb, 0) AS BIGINT) AS n_bigrams
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |WHERE length(d.source) = 5
        |ORDER BY d.doc_id""".stripMargin),

    Query("text_stupid_backoff", (s, dir) => {
      // Brants et al. 2007 stupid-backoff trigram scoring: highest
      // observed order wins, lower orders carry the fixed 0.4 factor —
      // integer-exact micro scores, model fit on the clean-slice
      val docs = Tables.documentsSpread(s, dir)
      TextAnalysis.stupidBackoffMilli(
          docs.filter(length(col("source")) === 5),
          reference = docs.filter(length(col("source")) === 4))
        .orderBy(col("doc_id"))
    },
      // stupid-backoff twin: the same three count tables, existence-based
      // tier dispatch, identical integer arithmetic (// is DuckDB's div)
      """WITH ref AS (SELECT string_split(text, ' ') AS t FROM documents WHERE length(source) = 4),
        |c3 AS (SELECT tri, count(*) AS c3 FROM (
        |    SELECT unnest(list_transform(
        |      list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
        |      x -> x[1] || ' ' || x[2] || ' ' || x[3])) AS tri
        |    FROM ref WHERE len(t) >= 3) z GROUP BY tri),
        |c2 AS (SELECT bi, count(*) AS c2 FROM (
        |    SELECT unnest(list_transform(list_zip(t[1:len(t)-1], t[2:len(t)]),
        |      x -> x[1] || ' ' || x[2])) AS bi FROM ref WHERE len(t) >= 2) z
        |  GROUP BY bi),
        |c1 AS (SELECT w, count(*) AS c1 FROM (
        |    SELECT unnest(t) AS w FROM ref) z GROUP BY w),
        |n AS (SELECT count(*) AS n FROM (SELECT unnest(t) AS w FROM ref) z),
        |dt AS (SELECT doc_id, string_split(tri, ' ') AS p, tri FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
        |      x -> x[1] || ' ' || x[2] || ' ' || x[3])) AS tri
        |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |          WHERE length(source) = 5) q WHERE len(t) >= 3) z),
        |sc AS (SELECT dt.doc_id,
        |    CASE WHEN t3.c3 IS NOT NULL THEN (1000000 * t3.c3) // p2.c2
        |         WHEN b2.c2 IS NOT NULL THEN (400000 * b2.c2) // u1.c1
        |         WHEN uw.c1 IS NOT NULL THEN (160000 * uw.c1) // n.n
        |         ELSE 0 END AS term
        |  FROM dt
        |  LEFT JOIN c3 t3 ON t3.tri = dt.tri
        |  LEFT JOIN c2 p2 ON p2.bi = dt.p[1] || ' ' || dt.p[2]
        |  LEFT JOIN c2 b2 ON b2.bi = dt.p[2] || ' ' || dt.p[3]
        |  LEFT JOIN c1 u1 ON u1.w = dt.p[2]
        |  LEFT JOIN c1 uw ON uw.w = dt.p[3]
        |  CROSS JOIN n),
        |agg AS (SELECT doc_id, sum(term) AS ms, count(*) AS nt FROM sc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(agg.ms // agg.nt, 0) AS BIGINT) AS score_micro,
        |  CAST(coalesce(agg.nt, 0) AS BIGINT) AS n_trigrams
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |WHERE length(d.source) = 5
        |ORDER BY d.doc_id""".stripMargin),

    Query("text_bm25_topk", (s, dir) => {
      // integer fixed-point BM25 retrieval for a fixed query term set
      TextAnalysis.bm25TopK(Tables.documentsSpread(s, dir),
          Seq("hash", "join", "vector"), k = 15)
        .orderBy(col("score_milli").desc, col("doc_id"))
    },
      // BM25 twin: the same integer fixed-point pipeline (k1=1200, b=750
      // milli; linear idf in ppm), N/avgdl recomputed from the same corpus,
      // `//` = Spark's `div` on BIGINT
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
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
        |agg AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_milli,
        |          count(*) AS n_terms_hit
        |        FROM scored GROUP BY 1)
        |SELECT doc_id, score_milli, n_terms_hit FROM agg
        |ORDER BY score_milli DESC, doc_id LIMIT 15""".stripMargin),

    Query("topic_purity", (s, dir) =>
      // external-validity check of the topic clustering: per topic the
      // dominant lang label and its share (ties to the largest label)
      TextAnalysis.topicPurity(Tables.documents(s, dir))
        .orderBy(col("topic_id")),
      // purity twin: the shared assignment CTEs + a (topic, lang) count
      // with the same (n DESC, lang DESC) dominant-label tie-break
      s"""$topicAsgCtes,
         |bl AS (SELECT a.topic_id, d.lang, COUNT(*) AS n
         |  FROM asg a JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |tp AS (SELECT topic_id, lang, CAST(n AS BIGINT) AS n,
         |    row_number() OVER (PARTITION BY topic_id
         |      ORDER BY n DESC, lang DESC) AS rn,
         |    CAST(SUM(n) OVER (PARTITION BY topic_id) AS BIGINT) AS n_docs
         |  FROM bl)
         |SELECT topic_id, n_docs, lang AS top_lang, n AS n_top,
         |  (n * 1000000) // n_docs AS purity_ppm
         |FROM tp WHERE rn = 1 ORDER BY topic_id""".stripMargin),

    Query("corpus_diff", (s, dir) => {
      // version audit: synthetic v2 = drop ids < 20, modify 20..39,
      // add 10 new ids — classify every id across versions
      val docs = Tables.documents(s, dir)
      val after = docs.filter(col("doc_id") >= 20)
        .withColumn("text", when(col("doc_id") < 40,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") < 10)
          .withColumn("doc_id", col("doc_id") + 100000))
      TextAnalysis.corpusDiff(docs, after)
        .orderBy(col("doc_id"))
    },
      """WITH after AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id < 40 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id >= 20
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 10),
        |b AS (SELECT doc_id, md5(text) AS hb FROM documents),
        |a AS (SELECT doc_id, md5(text) AS ha FROM after)
        |SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |  CASE WHEN b.doc_id IS NULL THEN 'added'
        |       WHEN a.doc_id IS NULL THEN 'removed'
        |       WHEN hb = ha THEN 'unchanged'
        |       ELSE 'modified' END AS change
        |FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id
        |ORDER BY doc_id""".stripMargin),

    Query("corpus_divergence", (s, dir) =>
      // mixing diagnostic: per-source total-variation distance from the
      // corpus blend, integer ppm (which source is lexically unlike the
      // mix — the signal mixture reweighting actually moves)
      TextAnalysis.sourceDivergence(Tables.documents(s, dir))
        .orderBy(col("source")),
      // divergence twin: identical floored-ppm distributions; the absent
      // mass enters as Q_total − Σ_present q (never a source × vocab join)
      """WITH st AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        |sc AS (SELECT source, token, count(*) AS n FROM st GROUP BY 1, 2),
        |corpus AS (SELECT token, CAST(sum(n) AS BIGINT) AS m FROM sc GROUP BY 1),
        |mt AS (SELECT CAST(sum(m) AS BIGINT) AS mm FROM corpus),
        |q AS (SELECT token, m * 1000000 // mt.mm AS q_ppm FROM corpus CROSS JOIN mt),
        |qt AS (SELECT CAST(sum(q_ppm) AS BIGINT) AS qtot FROM q),
        |ns AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
        |         CAST(count(*) AS BIGINT) AS n_distinct FROM sc GROUP BY 1),
        |per AS (SELECT sc.source,
        |    CAST(sum(abs(sc.n * 1000000 // ns.n_tokens - q.q_ppm)) AS BIGINT) AS present,
        |    CAST(sum(q.q_ppm) AS BIGINT) AS q_present
        |  FROM sc JOIN q USING (token) JOIN ns USING (source) GROUP BY 1)
        |SELECT per.source, ns.n_tokens, ns.n_distinct,
        |  CAST((per.present + (qt.qtot - per.q_present)) // 2 AS BIGINT) AS tv_ppm
        |FROM per JOIN ns USING (source) CROSS JOIN qt ORDER BY source""".stripMargin),

    Query("corpus_top_ngrams", (s, dir) => {
      // corpus-level heavy hitters = boilerplate shortlist
      TextAnalysis.topNgrams(Tables.documents(s, dir), n = 3, k = 20)
    },
      """SELECT gram, count(*) AS n_occurrences
        |FROM (SELECT unnest(list_transform(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
        |        x -> x[1] || ' ' || x[2] || ' ' || x[3])) AS gram
        |      FROM (SELECT string_split(text, ' ') AS t FROM documents) z
        |      WHERE len(t) >= 3)
        |GROUP BY gram ORDER BY n_occurrences DESC, gram LIMIT 20""".stripMargin),

    Query("text_boilerplate", (s, dir) =>
      // per-doc share of corpus-common 3-grams (df >= 4): the doc-level
      // boilerplate signal behind RefinedWeb/CCNet line filtering
      TextAnalysis.boilerplateScore(Tables.documents(s, dir), n = 3, minDf = 4)
        .orderBy(col("doc_id")),
      // boilerplate twin: distinct per-doc 3-grams, df across docs, the
      // same integer ppm (all counts nonneg, so // matches div)
      """WITH g AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
        |      x -> x[1] || ' ' || x[2] || ' ' || x[3]))) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) z
        |  WHERE len(t) >= 3),
        |d AS (SELECT gram, count(*) AS gram_df FROM g GROUP BY gram),
        |p AS (SELECT g.doc_id, count(*) AS n_grams,
        |        sum(CASE WHEN d.gram_df >= 4 THEN 1 ELSE 0 END) AS n_common
        |      FROM g JOIN d USING (gram) GROUP BY g.doc_id)
        |SELECT doc_id, CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(p.n_common, 0) AS BIGINT) AS n_common,
        |  CAST(coalesce(p.n_common * 1000000 // p.n_grams, 0) AS BIGINT) AS boilerplate_ppm
        |FROM documents LEFT JOIN p USING (doc_id) ORDER BY doc_id""".stripMargin),

    Query("topic_clusters", (s, dir) =>
      // BERTopic-shaped corpus map: hash-embed → exact-Lloyd k-means →
      // fixed-point c-TF-IDF labels; the whole chain stays hash-
      // verifiable because every stage is engine-exact
      TextAnalysis.topicClusters(Tables.documents(s, dir), nTopics = 8, iters = 2)
        .orderBy(col("topic_id"), col("rank")),
      // topic twin: the hash-embedding CTEs (REAL list form) feed the
      // unrolled-Lloyd kmeans CTEs, then the same argmax-assign shape as
      // every IVF twin, then integer c-TF-IDF
      s"""$topicAsgCtes,
         |sizes AS (SELECT topic_id, COUNT(*) AS n_docs FROM asg GROUP BY topic_id),
         |terms AS (SELECT a.topic_id, tok.t AS term FROM tok JOIN asg a USING (doc_id)),
         |ctf AS (SELECT topic_id, term, COUNT(*) AS ctf FROM terms GROUP BY 1, 2),
         |ttok AS (SELECT topic_id, COUNT(*) AS topic_tokens FROM terms GROUP BY 1),
         |tdf AS (SELECT term, COUNT(*) AS topic_df FROM ctf GROUP BY term),
         |scored AS (SELECT c.topic_id, c.term,
         |    (c.ctf * 1000000 // t.topic_tokens) * (8 // d.topic_df) AS score_fp
         |  FROM ctf c JOIN ttok t USING (topic_id) JOIN tdf d USING (term)),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY topic_id
         |    ORDER BY score_fp DESC, term) AS rank FROM scored)
         |SELECT r.topic_id, s.n_docs, CAST(r.rank AS BIGINT) AS rank, r.term,
         |  CAST(r.score_fp AS BIGINT) AS score_fp
         |FROM ranked r JOIN sizes s USING (topic_id)
         |WHERE r.rank <= 3 ORDER BY r.topic_id, r.rank""".stripMargin),

    Query("text_hash_embedding", (s, dir) =>
      // model-free doc embedding via the signed hashing trick: 64-dim
      // FNV-bucketed signed token counts, map-only, feeds the ANN family
      TextAnalysis.hashEmbedding(Tables.documents(s, dir), dim = 64)
        .select(col("vec_id").as("doc_id"),
          array_join(transform(col("embedding"),
            v => v.cast("long").cast("string")), ",").as("emb_csv"))
        .orderBy(col("doc_id")),
      // hash-embedding twin: the classifier twin's FNV HUGEINT fold per
      // token; bucket = % 64 (2^64 ≡ 0 mod 64 so unsigned ≡ signed pmod),
      // sign = bit 6 ((hv // 64) % 2 ≡ Spark's (h >>> 6) & 1), dense csv
      // over the 0..63 grid with 0 for untouched buckets
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |h AS (SELECT doc_id,
        |  list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |      list_transform(range(1, length(t) + 1),
        |        i -> ascii(substr(t, CAST(i AS INTEGER), 1)))),
        |      (acc, c) -> (xor(acc, CAST(c AS HUGEINT)) * 1099511628211) % 18446744073709551616) AS hv
        |  FROM tok),
        |b AS (SELECT doc_id, CAST(hv % 64 AS BIGINT) AS bkt,
        |        CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END AS s FROM h),
        |agg AS (SELECT doc_id, bkt, sum(s) AS v FROM b GROUP BY 1, 2),
        |grid AS (SELECT d.doc_id, dims.b FROM (SELECT doc_id FROM documents) d
        |         CROSS JOIN (SELECT unnest(range(0, 64)) AS b) dims)
        |SELECT g.doc_id,
        |  array_to_string(list(CAST(CAST(coalesce(a.v, 0) AS BIGINT) AS VARCHAR)
        |    ORDER BY g.b), ',') AS emb_csv
        |FROM grid g LEFT JOIN agg a ON a.doc_id = g.doc_id AND a.bkt = g.b
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin),

    Query("text_script_profile", (s, dir) => {
      // Unicode-script routing: the pre-model script detector
      TextAnalysis.scriptProfile(Tables.documents(s, dir))
        .orderBy(col("doc_id"))
    },
      // script-profile twin: identical literal-character classes (the one
      // form Java regex and RE2 share), list_position argmax = first-wins
      {
        val classes = graft.ops.TextAnalysis.scriptRanges
        val cnt = classes.map { case (n, cls) =>
          s"CAST(len(regexp_extract_all(text, '$cls')) AS BIGINT) AS n_$n"
        }.mkString(",\n|    ")
        val names = classes.map { case (n, _) => s"'$n'" }.mkString("[", ", ", "]")
        val cols = classes.map { case (n, _) => s"n_$n" }.mkString("[", ", ", "]")
        val great = classes.map { case (n, _) => s"n_$n" }.mkString("greatest(", ", ", ")")
        s"""WITH c AS (SELECT doc_id,
           |    $cnt,
           |    CAST(length(text) AS BIGINT) AS n_chars_total
           |  FROM documents)
           |SELECT *, CASE WHEN $great = 0 THEN 'none'
           |  ELSE $names[list_position($cols, $great)] END AS dominant_script
           |FROM c ORDER BY doc_id""".stripMargin
      }),

    Query("corpus_profile", (s, dir) => {
      // ONE-plan corpus report: per-source doc/token totals, exact-dup
      // rate, and language mix — the summary a curation run prints
      // before and after each pipeline stage. One shuffle on source
      // (the dup-rate subaggregate shares it via partial aggs).
      profileEnriched(Tables.documents(s, dir))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          countDistinct(col("h")).as("n_distinct"),
          countDistinct(col("lang")).as("n_langs"),
          max(col("n_tokens")).as("max_doc_tokens"))
        .withColumn("n_exact_dups", col("n_docs") - col("n_distinct"))
        .orderBy(col("source"))
    },
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  count(DISTINCT md5(text)) AS n_distinct,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(max(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS max_doc_tokens,
        |  count(*) - count(DISTINCT md5(text)) AS n_exact_dups
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    Query("corpus_profile_approx", (s, dir) => {
      // the 100 TB form of corpus_profile: HLL++ approximate distincts
      // replace the exact countDistinct (whose per-group state is the
      // distinct value set — the thing that doesn't fit at scale) over
      // the SAME shared enrichment (the two can't diverge in token/hash
      // definitions). Rows-only: sketch estimates are engine-specific,
      // the q_quantiles_approx stance; OpsSpec bounds the error vs exact
      // driver-checkable form (r8 advice): the exact aggregates gate
      // directly; the HLL estimates gate via BOUND BOOLEANS against the
      // exact distincts (computed alongside — gate arithmetic only; the
      // production operator is the sketch-only aggregation above this
      // comment's history). |approx - exact| <= 15% of exact + 5 is ~3x
      // the default 5% rsd — a broken sketch turns the hash red, a
      // healthy one never flaps.
      profileEnriched(Tables.documents(s, dir))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          approx_count_distinct(col("h")).as("ad"),
          approx_count_distinct(col("lang")).as("al"),
          count_distinct(col("h")).as("ed"),
          count_distinct(col("lang")).as("el"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (abs(col("ad") * 100 - col("ed") * 100) <= col("ed") * 15 + 500).as("distinct_ok"),
          (abs(col("al") * 100 - col("el") * 100) <= col("el") * 15 + 500).as("langs_ok"))
        .orderBy(col("source"))
    },
      // approx twin: exact aggregates checked directly, HLL estimates via
      // their error-bound booleans (same stance as q_quantiles_approx)
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  true AS distinct_ok, true AS langs_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)
  )
}
