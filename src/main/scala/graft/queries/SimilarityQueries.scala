package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops.{Graph, Retrieval, Similarity, TextAnalysis}
import QueryHelpers._

/** Vector similarity (`ann_*`, `retrieval_*`, `embed_*`, `emb_*`,
  * `graph_*`, `chunk_*`): ANN indexes, retrieval metrics, embeddings and
  * chunking. */
object SimilarityQueries {
  val all: Seq[Query] = Seq(
    Query("emb_quantize", (s, dir) =>
      Similarity.quantizeInt8(Tables.embeddingsSpread(s, dir)).orderBy(col("vec_id")),
      """WITH m AS (SELECT vec_id, embedding,
        |  list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS absmax
        |FROM embeddings)
        |SELECT vec_id, absmax / 127.0 AS scale,
        |  CASE WHEN absmax = 0
        |    THEN array_to_string(list_transform(embedding, v -> 0), ',')
        |    ELSE array_to_string(list_transform(embedding,
        |           v -> CAST(floor(CAST(v AS DOUBLE) * 127.0 / absmax + 0.5) AS INT)), ',')
        |  END AS q_csv
        |FROM m ORDER BY vec_id""".stripMargin),

    Query("embed_project", (s, dir) =>
      // JL random projection 64→8 dims; shuffle-free per-row map
      Similarity.randomProject(Tables.embeddingsSpread(s, dir)).orderBy(col("vec_id")),
      // JL projection twin: the SAME generated planes rendered as
      // exact-double literals, the same sequential-fold dot product
      {
        val planes = graft.ops.Similarity.lshPlanes(64, 8, 7L)
        val cols = (0 until 8).map { j =>
          val lst = planes(j).map(f => f.toDouble.toString).mkString("[", ", ", "]")
          s"${duckDot("embedding", lst)} AS p$j"
        }.mkString(",\n")
        s"SELECT vec_id,\n$cols\nFROM embeddings ORDER BY vec_id"
      }),

    Query("embed_dim_drift", (s, dir) => {
      // model-input drift monitor: per-dimension exact mean shift between
      // the even-id slice (the "fitted" corpus) and the odd-id slice
      // (the "arriving" one), scaled by the fitted slice's range
      val emb = Tables.embeddingsSpread(s, dir)
      Similarity.dimDrift(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0),
          emb.filter(pmod(col("vec_id"), lit(2)) === 1))
        .orderBy(col("pos"))
    },
      // dim-stats twin: unnest with positional index, integer micros
      // drift twin: the dim-stats CTE per parity slice, integer mean shift
      """WITH vm AS (SELECT vec_id, CAST(i - 1 AS INT) AS pos,
        |    CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vm
        |  FROM embeddings CROSS JOIN range(1, 65) t(i)),
        |sa AS (SELECT pos, CAST(SUM(vm) // COUNT(*) AS BIGINT) AS mean_a_micro,
        |         MIN(vm) AS min_a, MAX(vm) AS max_a
        |       FROM vm WHERE vec_id % 2 = 0 GROUP BY pos),
        |sb AS (SELECT pos, CAST(SUM(vm) // COUNT(*) AS BIGINT) AS mean_b_micro,
        |         MIN(vm) AS min_b, MAX(vm) AS max_b
        |       FROM vm WHERE vec_id % 2 = 1 GROUP BY pos)
        |SELECT sa.pos, mean_a_micro, mean_b_micro,
        |  abs(mean_b_micro - mean_a_micro) AS mean_shift_micro,
        |  CAST(CASE WHEN max_a = min_a THEN 0
        |       ELSE abs(mean_b_micro - mean_a_micro) * 1000000 // (max_a - min_a)
        |  END AS BIGINT) AS drift_ppm,
        |  (min_b < min_a OR max_b > max_a) AS range_expanded
        |FROM sa JOIN sb USING (pos) ORDER BY sa.pos""".stripMargin),

    Query("embed_dim_stats", (s, dir) =>
      // per-dimension micro-exact stats — the normalization/whitening
      // input table; one (pos)-keyed partial agg
      Similarity.dimStats(Tables.embeddingsSpread(s, dir)).orderBy(col("pos")),
      """SELECT CAST(i - 1 AS INT) AS pos, COUNT(*) AS n,
        |  CAST(SUM(vm) AS BIGINT) AS sum_micros,
        |  MIN(vm) AS min_micros, MAX(vm) AS max_micros
        |FROM (SELECT i, CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
        |        * 1000000 + 0.5) AS BIGINT) AS vm
        |      FROM embeddings CROSS JOIN range(1, 65) t(i)) z
        |GROUP BY 1 ORDER BY pos""".stripMargin),

    Query("embed_power_iteration", (s, dir) =>
      // 1-component PCA direction via 3 integer power iterations (two
      // sparse matvecs + max-|w| renorm per round, broadcast direction)
      Similarity.powerIterationTop(Tables.embeddingsSpread(s, dir), iters = 3)
        .orderBy(col("pos")),
      // power-iteration twin: identical integer matvecs + sign-safe renorm
      {
        val steps = (1 to 3).map { i =>
          s"""s$i AS (SELECT x.vec_id, SUM(x.xq * v.v) AS s
             |  FROM x JOIN v${i - 1} v USING (pos) GROUP BY 1),
             |w$i AS (SELECT x.pos, SUM(s.s * x.xq) AS w
             |  FROM x JOIN s$i s USING (vec_id) GROUP BY 1),
             |n$i AS (SELECT MAX(ABS(w)) AS m FROM w$i),
             |v$i AS (SELECT pos, CAST(CASE WHEN m = 0 THEN 0
             |    WHEN w < 0 THEN -((ABS(w) * 1000) // m)
             |    ELSE (ABS(w) * 1000) // m END AS BIGINT) AS v
             |  FROM w$i CROSS JOIN n$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH x AS (SELECT vec_id, CAST(i - 1 AS INT) AS pos,
           |    CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000.0 + 0.5)
           |         AS BIGINT) AS xq
           |  FROM embeddings CROSS JOIN range(1, 65) t(i)),
           |v0 AS (SELECT CAST(i - 1 AS INT) AS pos, CAST(1000 AS BIGINT) AS v
           |  FROM range(1, 65) t(i)),
           |$steps
           |SELECT pos, v FROM v3 ORDER BY pos""".stripMargin
      }),

    Query("ann_pq_codes", (s, dir) =>
      // product-quantization encode; zero corpus shuffle
      Similarity.pqCodes(Tables.embeddingsSpread(s, dir))
        .orderBy(col("vec_id"), col("subspace")),
      // PQ twin: same sliced-codebook quantizer, same 2·a·c − ‖c‖² argmin
      // (sequential-fold doubles), row_number tie-break by code id
      // PQ twins now fit the codebook: 2 unrolled per-subspace exact-mean
      // Lloyd rounds (duckPqKmeans) replacing the sliced-seed CTE — the
      // Spark default is the FITTED codebook
      s"""WITH ${duckPqKmeans(16, 8, 8, 2, "pq")},
         |scored AS (SELECT c.vec_id, c.sm, b.cid,
         |    2 * ${duckDot("c.subvec", "b.csub")} - ${duckDot("b.csub", "b.csub")} AS score
         |  FROM pqcorp c JOIN pq2 b ON c.sm = b.sm),
         |best AS (SELECT vec_id, sm, cid,
         |    row_number() OVER (PARTITION BY vec_id, sm ORDER BY score DESC, cid ASC) AS rn
         |  FROM scored)
         |SELECT vec_id, CAST(sm AS BIGINT) AS subspace, CAST(cid AS BIGINT) AS code
         |FROM best WHERE rn = 1 ORDER BY vec_id, subspace""".stripMargin),

    Query("ann_pq_adc_topk", (s, dir) => {
      // ADC search over PQ codes: 8 bytes touched per corpus vector
      val emb = Tables.embeddingsSpread(s, dir)
      Similarity.pqAdcTopK(emb.filter(col("vec_id") < 10), emb, k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      // ADC twin: the fitted pq-codebook CTEs + per-query distance table,
      // score sum as an sm-ordered sequential fold (NOT an unordered SUM)
      s"""WITH ${duckPqKmeans(16, 8, 8, 2, "pq")},
         |cscored AS (SELECT c.vec_id, c.sm, b.cid,
         |    2 * ${duckDot("c.subvec", "b.csub")} - ${duckDot("b.csub", "b.csub")} AS score
         |  FROM pqcorp c JOIN pq2 b ON c.sm = b.sm),
         |codes AS (SELECT vec_id, sm, cid AS code FROM (
         |    SELECT vec_id, sm, cid,
         |      row_number() OVER (PARTITION BY vec_id, sm ORDER BY score DESC, cid ASC) AS rn
         |    FROM cscored) t WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, sm, subvec AS qsub
         |      FROM pqcorp WHERE vec_id < 10),
         |dt AS (SELECT query_id, b.sm, b.cid,
         |    2 * ${duckDot("q.qsub", "b.csub")} - ${duckDot("b.csub", "b.csub")} AS score
         |  FROM q JOIN pq2 b ON q.sm = b.sm),
         |joined AS (SELECT dt.query_id, c.vec_id, c.sm, dt.score
         |  FROM codes c JOIN dt ON c.sm = dt.sm AND c.code = dt.cid
         |  WHERE dt.query_id <> c.vec_id),
         |summed AS (SELECT query_id, vec_id AS neighbor_id,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(score ORDER BY sm)),
         |      (a, x) -> a + x) AS adc_score
         |  FROM joined GROUP BY 1, 2),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_score DESC, neighbor_id ASC) AS rank FROM summed)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc_score
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    Query("embed_centroids", (s, dir) =>
      // per-label centroids as exact integer micro-sums + count
      Similarity.centroidSumsByLabel(Tables.embeddingsSpread(s, dir))
        .orderBy(col("label"), col("pos")),
      // centroid twin: floor(c*1e6+0.5) micros summed as BIGINT — integer
      // sums are association-order-free, unlike float means
      """SELECT label, pos - 1 AS pos,
        |  CAST(sum(CAST(floor(CAST(embedding[pos] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS comp_micros_sum,
        |  count(*) AS n
        |FROM (SELECT label, embedding,
        |        unnest(generate_series(1, len(embedding))) AS pos
        |      FROM embeddings) t
        |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin),

    Query("chunk_documents", (s, dir) =>
      TextAnalysis.chunk(Tables.documents(s, dir), width = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_no")),
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |st AS (SELECT doc_id, t,
        |         unnest(generate_series(1, greatest(len(t) - 8, 1), 24)) AS start
        |       FROM tok)
        |SELECT doc_id, CAST((start - 1) // 24 AS BIGINT) AS chunk_no,
        |  len(t[start:start+31]) AS n_chunk_tokens,
        |  array_to_string(t[start:start+31], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_no""".stripMargin),

    Query("graph_triangles", (s, dir) => {
      // dedup-graph QA: exact triangle participation per node via the
      // degree-ordered orientation (Schank/Wagner) — hot hubs fan out
      // only toward higher-degree nodes, bounding wedge skew at O(√|E|)
      // ring-with-chords graph (i→i+1, i→i+2, plus a long chord): the
      // short edges guarantee (i, i+1, i+2) triangles to count
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val n = ids.agg((max(col("doc_id")) + 1).as("__n"))
      val edges = ids.crossJoin(broadcast(n))
        .select(col("doc_id").as("doc_a"), explode(array(
          pmod(col("doc_id") + 1, col("__n")),
          pmod(col("doc_id") + 2, col("__n")),
          pmod(col("doc_id") * 31 + 7, col("__n")))).as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b")).distinct()
      Graph.triangles(edges).orderBy(col("node"))
    },
      // pagerank twin: the identical integer iterations, unrolled
      // triangles twin: same synthetic 3-out-link graph, same degree-
      // ordered orientation, wedge join + closure semi-join
      """WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id+1) % n AS dst FROM documents CROSS JOIN nn
        |    UNION ALL SELECT doc_id, (doc_id+2) % n FROM documents CROSS JOIN nn
        |    UNION ALL SELECT doc_id, (doc_id*31+7) % n FROM documents CROSS JOIN nn)
        |  WHERE src <> dst),
        |und AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
        |deg AS (SELECT u AS nd, count(*) AS d FROM und GROUP BY u),
        |ori AS (SELECT und.u AS a, und.v AS b
        |  FROM und JOIN deg du ON und.u = du.nd JOIN deg dv ON und.v = dv.nd
        |  WHERE du.d < dv.d OR (du.d = dv.d AND und.u < und.v)),
        |w AS (SELECT e1.a, e1.b, e2.b AS c FROM ori e1 JOIN ori e2 ON e1.b = e2.a),
        |t AS (SELECT w.a, w.b, w.c FROM w
        |      WHERE EXISTS (SELECT 1 FROM ori o WHERE o.a = w.a AND o.b = w.c)),
        |x AS (SELECT unnest([a, b, c]) AS node FROM t)
        |SELECT node, COUNT(*) AS n_triangles FROM x GROUP BY node ORDER BY node""".stripMargin),

    Query("ann_cosine_topk", (s, dir) => {
      val emb = Tables.embeddingsSpread(s, dir)
      Similarity.cosineTopK(emb.filter(col("vec_id") < 10), emb, 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    },
      s"""WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings),
         |q AS (SELECT * FROM e WHERE vec_id < 10),
         |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${duckDot("q.embedding", "c.embedding")} / (q.norm * c.norm) AS cosine
         |  FROM q JOIN e c ON q.vec_id <> c.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, rnk, cosine FROM ranked WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin),

    Query("ann_mmr_diverse", (s, dir) => {
      // MMR diversified top-k: greedy λ·rel − (1−λ)·max-sim-to-picked
      // over a top-30 relevance cut (retrieve-then-rerank geometry)
      val emb = Tables.embeddingsSpread(s, dir)
      Similarity.mmrSelect(emb.filter(col("vec_id") < 6), emb,
          k = 4, lambdaMicro = 700000L, preselect = 30)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    },
      // MMR twin: generated greedy unroll — see mmrOracle
      mmrOracle(4, 30)),

    Query("ann_ivf_topk", (s, dir) => {
      // DEFAULT path: fitted exact-mean quantizer (2 Lloyd rounds) +
      // balance guard; hash-verified against the unrolled-kmeans twin
      val emb = Tables.embeddingsSpread(s, dir)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, 5, nLists = 16, nProbe = 4)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    },
      // IVF twin: deterministic coarse centroids (lowest-id 16 vectors),
      // argmax assignment with (sim desc, centroid_id) tie-break, top-4
      // probe lists per query, exact-cosine rerank inside probed lists —
      // every double is the sequential-fold parity pattern
      // fitted-default IVF twin: 2 unrolled exact-mean Lloyd rounds
      // (duckKmeans), then the proven assign/probe/score CTE shapes
      // against the FITTED centroids km2
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
         |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |             ${duckDot("q.qe", "e.embedding")} / (q.qnorm * e.norm) AS cosine
         |           FROM pr JOIN asg ON pr.centroid_id = asg.centroid_id
         |                JOIN e ON e.vec_id = asg.vec_id
         |                JOIN q ON q.query_id = pr.query_id
         |           WHERE q.query_id <> e.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |             ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored)
         |SELECT query_id, neighbor_id, rnk, cosine FROM ranked
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),

    Query("ann_ivf_sampled_topk", (s, dir) => {
      // the 100 TB fit posture: Lloyd rounds over the pmod(vec_id,2)=0
      // HALF of the corpus, assignment over everything — sampled fits
      // stay hash-verified because the sample predicate is engine-neutral
      val emb = Tables.embeddingsSpread(s, dir)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, 5, nLists = 16,
          nProbe = 4, fitSampleMod = 2)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    },
      // sampled-fit twin: the kmeans CTEs run over the vec_id%2=0 slice,
      // assignment/probe/score over the full corpus
      s"""WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings),
         |es AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         |${duckKmeans("es", 16, 64, 2, "km")},
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
         |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |             ${duckDot("q.qe", "e.embedding")} / (q.qnorm * e.norm) AS cosine
         |           FROM pr JOIN asg ON pr.centroid_id = asg.centroid_id
         |                JOIN e ON e.vec_id = asg.vec_id
         |                JOIN q ON q.query_id = pr.query_id
         |           WHERE q.query_id <> e.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |             ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored)
         |SELECT query_id, neighbor_id, rnk, cosine FROM ranked
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),

    Query("ann_ivf_seed_topk", (s, dir) => {
      // seeded lowest-id quantizer baseline (kmeansIters = 0)
      val emb = Tables.embeddingsSpread(s, dir)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, 5, nLists = 16,
          nProbe = 4, kmeansIters = 0)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    },
      // the seeded (kmeansIters = 0) baseline keeps the SQL-trivial
      // lowest-id quantizer oracle
      s"""WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings),
         |c AS (SELECT vec_id AS centroid_id, embedding AS centroid, norm AS cnorm
         |      FROM e ORDER BY vec_id LIMIT 16),
         |asg AS (SELECT vec_id, centroid_id FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckDot("e.embedding", "c.centroid")} / (e.norm * c.cnorm) DESC,
         |                 c.centroid_id) AS rn
         |    FROM e CROSS JOIN c) t WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qe, norm AS qnorm FROM e WHERE vec_id < 10),
         |pr AS (SELECT query_id, centroid_id FROM (
         |    SELECT q.query_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${duckDot("q.qe", "c.centroid")} / (q.qnorm * c.cnorm) DESC,
         |                 c.centroid_id) AS rn
         |    FROM q CROSS JOIN c) t WHERE rn <= 4),
         |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |             ${duckDot("q.qe", "e.embedding")} / (q.qnorm * e.norm) AS cosine
         |           FROM pr JOIN asg ON pr.centroid_id = asg.centroid_id
         |                JOIN e ON e.vec_id = asg.vec_id
         |                JOIN q ON q.query_id = pr.query_id
         |           WHERE q.query_id <> e.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |             ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored)
         |SELECT query_id, neighbor_id, rnk, cosine FROM ranked
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),

    Query("ann_ivf_pq_topk", (s, dir) => {
      // true IVF-PQ: coarse quantizer routes, product quantizer scores
      val emb = Tables.embeddingsSpread(s, dir)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb, 10,
          nLists = 16, nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
      // IVF-PQ twin: the fitted ann_ivf_topk assign/probe CTEs route, the
      // fitted ann_pq_adc_topk codes/dtable/ordered-fold CTEs score,
      // joined on the probed lists only
      s"""${ivfPqRankedCtes}
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc_score
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    Query("ann_ivf_pq_rerank", (s, dir) => {
      // two-stage: PQ proposes 30 candidates, exact cosine re-scores
      // — full vectors touched only for candidates, never the corpus
      val emb = Tables.embeddingsSpread(s, dir)
      Similarity.ivfPqRerank(emb.filter(col("vec_id") < 10), emb, k = 10,
          kCand = 30, nLists = 16, nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
      // two-stage search twin: PQ candidates (top-30) exactly re-scored
      s"""${ivfPqRankedCtes},
         |rcand AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 30),
         |rr AS (SELECT r.query_id, r.neighbor_id,
         |    ${duckDot("ne.embedding", "qq.qe")} / (ne.norm * qq.qnorm) AS cosine
         |  FROM rcand r JOIN e ne ON ne.vec_id = r.neighbor_id
         |    JOIN q qq ON qq.query_id = r.query_id),
         |rr2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM rr)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
         |FROM rr2 WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    Query("ann_ivf_kmeans_topk", (s, dir) => {
      // deeper fit: 3 distributed Lloyd rounds. Exact fixed-point means
      // made this hash-verifiable (was rows-only when means were float)
      val emb = Tables.embeddingsSpread(s, dir)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, 5, nLists = 16,
          nProbe = 4, kmeansIters = 3)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    },
      // deeper fit (3 Lloyd rounds) — previously rows-only (float means);
      // exact fixed-point means make it hash-verifiable
      s"""WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings),
         |${duckKmeans("e", 16, 64, 3, "km")},
         |asg AS (SELECT vec_id, centroid_id FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckDot("e.embedding", "c.centroid")} / (e.norm * c.cnorm) DESC,
         |                 c.centroid_id) AS rn
         |    FROM e CROSS JOIN km3 c) t WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qe, norm AS qnorm FROM e WHERE vec_id < 10),
         |pr AS (SELECT query_id, centroid_id FROM (
         |    SELECT q.query_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${duckDot("q.qe", "c.centroid")} / (q.qnorm * c.cnorm) DESC,
         |                 c.centroid_id) AS rn
         |    FROM q CROSS JOIN km3 c) t WHERE rn <= 4),
         |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |             ${duckDot("q.qe", "e.embedding")} / (q.qnorm * e.norm) AS cosine
         |           FROM pr JOIN asg ON pr.centroid_id = asg.centroid_id
         |                JOIN e ON e.vec_id = asg.vec_id
         |                JOIN q ON q.query_id = pr.query_id
         |           WHERE q.query_id <> e.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |             ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored)
         |SELECT query_id, neighbor_id, rnk, cosine FROM ranked
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),

    Query("ann_lsh_cosine", (s, dir) => {
      Similarity.lshCosinePairs(Tables.embeddingsSpread(s, dir), dim = 64, threshold = 0.3)
        .orderBy(col("id_a"), col("id_b"))
    },
      // multi-table SRP-LSH twin: per-table sign-bit buckets against the
      // shared generated hyperplanes (seeds 42..47), candidate union via
      // (table, bucket) equi-join, exact-cosine recheck — all double math
      // is the proven sequential-fold parity pattern
      s"""WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings),
         |k AS (${(0 until 6).map(t =>
                  s"SELECT vec_id, $t AS tbl, ${duckLshBucket("embedding", 64, 8, 42L + t)} AS bucket FROM e")
                  .mkString("\n|      UNION ALL ")}),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |         FROM k a JOIN k b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |                          AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b,
         |  ${duckDot("ea.embedding", "eb.embedding")} / (ea.norm * eb.norm) AS cosine
         |FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
         |WHERE cosine >= 0.3 ORDER BY id_a, id_b""".stripMargin),

    Query("ann_lsh_occupancy", (s, dir) =>
      // the pre-flight saturation audit for the LSH candidate join:
      // candidate_pairs prices each table's within-bucket join without
      // running it — the number that says "raise nPlanes" at scale
      Similarity.lshBucketStats(Tables.embeddingsSpread(s, dir), dim = 64)
        .orderBy(col("tbl")),
      // occupancy-census twin: same generated hyperplanes, per-(table,
      // bucket) counts, then all-integer per-table aggregates; DuckDB's
      // SUM(BIGINT) widens to HUGEINT so each sum casts back before the
      // exact integer halving (c·(c−1) is even)
      s"""WITH k AS (${(0 until 6).map(t =>
              s"SELECT CAST($t AS INTEGER) AS tbl, ${duckLshBucket("embedding", 64, 8, 42L + t)} AS bucket FROM embeddings")
              .mkString("\n|      UNION ALL ")}),
         |occ AS (SELECT tbl, bucket, count(*) AS occupancy FROM k GROUP BY tbl, bucket)
         |SELECT tbl, count(*) AS n_buckets, max(occupancy) AS max_occupancy,
         |  CAST(sum(occupancy) AS BIGINT) AS n_vectors,
         |  CAST(sum(occupancy * (occupancy - 1)) AS BIGINT) // 2 AS candidate_pairs
         |FROM occ GROUP BY tbl ORDER BY tbl""".stripMargin),

    Query("ann_ivf_balance", (s, dir) =>
      // the quantizer-skew report: per-list size/share + micro-cosine
      // cohesion for the default fitted quantizer — read BEFORE a run,
      // fixed with more Lloyd rounds / higher k / the salt guard
      Similarity.ivfBalance(Tables.embeddingsSpread(s, dir), nLists = 16,
          kmeansIters = 2)
        .orderBy(col("centroid_id")),
      // balance twin: the fitted (2-round) quantizer's per-list sizes and
      // micro-rounded cohesion — sim folds identically (sequential
      // list_reduce ≡ Spark's aggregate HOF), so floor(sim·10⁶+0.5) is
      // bit-equal and the BIGINT sums are order-free
      s"""WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings),
         |${duckKmeans("e", 16, 64, 2, "km")},
         |asg AS (SELECT vec_id, centroid_id,
         |    CAST(floor(sim * 1000000.0 + 0.5) AS BIGINT) AS sim_micro FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      ${duckDot("e.embedding", "c.centroid")} / (e.norm * c.cnorm) AS sim,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckDot("e.embedding", "c.centroid")} / (e.norm * c.cnorm) DESC,
         |                 c.centroid_id) AS rn
         |    FROM e CROSS JOIN km2 c) t WHERE rn = 1),
         |pl AS (SELECT centroid_id, count(*) AS n_vectors,
         |         sum(sim_micro) AS sum_sim_micro, min(sim_micro) AS min_sim_micro
         |       FROM asg GROUP BY centroid_id),
         |t AS (SELECT sum(n_vectors) AS tot FROM pl)
         |SELECT centroid_id, CAST(n_vectors AS BIGINT) AS n_vectors,
         |  CAST(n_vectors * 1000000 // tot AS BIGINT) AS share_ppm,
         |  CAST(sum_sim_micro AS BIGINT) AS sum_sim_micro,
         |  CAST(min_sim_micro AS BIGINT) AS min_sim_micro
         |FROM pl CROSS JOIN t ORDER BY centroid_id""".stripMargin),

    Query("ann_recall_report", (s, dir) => {
      // the tuning loop ANN serving actually runs: recall@k of the IVF
      // probe path (nProbe=2, deliberately lossy) against the exact
      // scan, per query — the number that decides nProbe before a
      // 100 TB index build. Integer pct keeps it engine-exact.
      val emb = Tables.embeddingsSpread(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
      val exact = Similarity.cosineTopK(qs, emb, 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(qs, emb, 5, nLists = 16, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("query_id"), col("k"), col("n_hit"),
          expr("n_hit * 100 div k").as("recall_pct"))
        .orderBy(col("query_id"))
    },
      // recall twin: brute-force top-5 LEFT JOIN the nProbe=2 IVF top-5
      // (same fitted km2 CTEs as ann_ivf_topk) — hits counted per query
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
         |    FROM q CROSS JOIN km2 c) t WHERE rn <= 2),
         |iscored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |             ${duckDot("q.qe", "e.embedding")} / (q.qnorm * e.norm) AS cosine
         |           FROM pr JOIN asg ON pr.centroid_id = asg.centroid_id
         |                JOIN e ON e.vec_id = asg.vec_id
         |                JOIN q ON q.query_id = pr.query_id
         |           WHERE q.query_id <> e.vec_id),
         |ivf AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS rnk FROM iscored) t WHERE rnk <= 5),
         |escored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${duckDot("q.qe", "c.embedding")} / (q.qnorm * c.norm) AS cosine
         |  FROM q JOIN e c ON q.query_id <> c.vec_id),
         |exact AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS rnk FROM escored) t WHERE rnk <= 5)
         |SELECT exact.query_id, COUNT(*) AS k,
         |  CAST(SUM(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(SUM(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100
         |    // COUNT(*) AS BIGINT) AS recall_pct
         |FROM exact LEFT JOIN ivf ON exact.query_id = ivf.query_id
         |     AND exact.neighbor_id = ivf.neighbor_id
         |GROUP BY exact.query_id ORDER BY exact.query_id""".stripMargin),

    Query("ann_matryoshka_recall", (s, dir) => {
      // Matryoshka truncation eval: recall@10 of 16-dim-prefix cosine
      // search vs the 64-dim truth — is the 4x cheaper index safe?
      val emb = Tables.embeddingsSpread(s, dir)
      Similarity.matryoshkaRecall(emb.filter(col("vec_id") < 10), emb,
          k = 10, prefixDim = 16)
        .orderBy(col("query_id"))
    },
      // Matryoshka twin: full-dim and 16-dim-prefix cosine rankings via
      // the shared fold helpers, k-row semi-join overlap per query
      s"""WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings),
         |p AS (SELECT vec_id, embedding[1:16] AS pe FROM embeddings),
         |pn AS (SELECT vec_id, pe, ${duckNorm("pe")} AS pnorm FROM p),
         |q AS (SELECT * FROM e WHERE vec_id < 10),
         |qp AS (SELECT * FROM pn WHERE vec_id < 10),
         |ft AS (SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY CASE WHEN q.norm * c.norm = 0 THEN -2.0
         |          ELSE ${duckDot("q.embedding", "c.embedding")} / (q.norm * c.norm) END DESC,
         |                 c.vec_id) AS rnk
         |    FROM q JOIN e c ON q.vec_id <> c.vec_id) z WHERE rnk <= 10),
         |pt AS (SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY CASE WHEN q.pnorm * c.pnorm = 0 THEN -2.0
         |          ELSE ${duckDot("q.pe", "c.pe")} / (q.pnorm * c.pnorm) END DESC,
         |                 c.vec_id) AS rnk
         |    FROM qp q JOIN pn c ON q.vec_id <> c.vec_id) z WHERE rnk <= 10),
         |h AS (SELECT p.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM pt p JOIN ft f
         |    ON f.query_id = p.query_id AND f.neighbor_id = p.neighbor_id
         |  GROUP BY 1)
         |SELECT q.vec_id AS query_id, COALESCE(h.n_hits, 0) AS n_hits,
         |  (COALESCE(h.n_hits, 0) * 1000000) // 10 AS recall_ppm
         |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
         |LEFT JOIN h ON h.query_id = q.vec_id
         |ORDER BY query_id""".stripMargin),

    Query("retrieval_maxsim", (s, dir) =>
      // ColBERT-style late interaction on engine-exact parts: per query
      // unit, the best-matching 8-token chunk; score = Σ of the maxes.
      // Long docs win on a local passage instead of an averaged blur
      Retrieval.maxSimTopK(Tables.documents(s, dir),
        Seq("vector", "batch window", "slow scan"), k = 10)
        .orderBy(col("rank")),
      s"""WITH chl AS (SELECT doc_id, list_transform(range(0, (len(t)-1)//8 + 1),
         |      i -> array_to_string(t[(i*8+1):(i*8+8)], ' ')) AS chunks
         |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) z),
         |ch AS (SELECT doc_id, unnest(range(0, len(chunks))) AS chunk_idx,
         |        unnest(chunks) AS chunk FROM chl),
         |ctok AS (SELECT doc_id, chunk_idx, unnest(string_split(chunk, ' ')) AS t FROM ch),
         |chv AS (SELECT doc_id, chunk_idx, ${fnvSql("t")} AS hv FROM ctok),
         |cagg AS (SELECT doc_id, chunk_idx, CAST(hv % 64 AS BIGINT) AS bkt,
         |    CAST(SUM(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS v
         |  FROM chv GROUP BY 1, 2, 3),
         |q(unit_id, unit) AS (VALUES (0, 'vector'), (1, 'batch window'), (2, 'slow scan')),
         |qtok AS (SELECT unit_id, unnest(string_split(unit, ' ')) AS t FROM q),
         |qhv AS (SELECT unit_id, ${fnvSql("t")} AS hv FROM qtok),
         |qagg AS (SELECT unit_id, CAST(hv % 64 AS BIGINT) AS bkt,
         |    CAST(SUM(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS v
         |  FROM qhv GROUP BY 1, 2),
         |nch AS (SELECT doc_id, COUNT(*) AS n FROM ch GROUP BY doc_id),
         |dots AS (SELECT c.doc_id, c.chunk_idx, qq.unit_id, SUM(c.v * qq.v) AS dot
         |  FROM cagg c JOIN qagg qq USING (bkt) GROUP BY 1, 2, 3),
         |mx AS (SELECT d.doc_id, d.unit_id,
         |    CASE WHEN COUNT(*) < any_value(n.n) THEN greatest(max(dot), 0)
         |         ELSE max(dot) END AS maxsim
         |  FROM dots d JOIN nch n USING (doc_id) GROUP BY d.doc_id, d.unit_id),
         |grid AS (SELECT d.doc_id, q.unit_id FROM (SELECT doc_id FROM documents) d CROSS JOIN q),
         |mx2 AS (SELECT g.doc_id, g.unit_id, coalesce(m.maxsim, 0) AS maxsim
         |  FROM grid g LEFT JOIN mx m USING (doc_id, unit_id)),
         |sc AS (SELECT doc_id, CAST(SUM(maxsim) AS BIGINT) AS score FROM mx2 GROUP BY doc_id)
         |SELECT doc_id, score,
         |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),

    Query("retrieval_rrf", (s, dir) => {
      // hybrid retrieval: BM25 top-50 ⊕ dense hash-embedding top-50,
      // merged by reciprocal-rank fusion (integer micro-scaled)
      val docs = Tables.documents(s, dir)
      Retrieval.rrfFuse(
          Retrieval.sparseTopK(docs, Seq("hash", "join", "vector"), 50),
          Retrieval.denseTopK(docs, "hash join vector", 50))
        .select(col("doc_id"), col("sparse_rank"), col("dense_rank"),
          col("rrf_micro"), col("rank"))
        .orderBy(col("rank"))
    },
      (retrievalCtes +
        """
          |f AS (SELECT coalesce(sp.doc_id, de.doc_id) AS doc_id, sp.sparse_rank, de.dense_rank,
          |        coalesce(1000000 // (60 + sp.sparse_rank), 0) +
          |        coalesce(1000000 // (60 + de.dense_rank), 0) AS rrf_micro
          |      FROM sp FULL OUTER JOIN de ON sp.doc_id = de.doc_id)
          |SELECT doc_id, sparse_rank, dense_rank, CAST(rrf_micro AS BIGINT) AS rrf_micro,
          |  row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS rank
          |FROM (SELECT * FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 20) z
          |ORDER BY rank""".stripMargin)),

    Query("retrieval_hard_negatives", (s, dir) =>
      // contrastive hard negatives: dense-retrieved docs the lexical
      // arm misses — the DPR/Contriever negative-mining set
      Retrieval.hardNegatives(Tables.documents(s, dir),
          Seq("hash", "join", "vector"), "hash join vector")
        .select(col("doc_id"), col("dot"), col("dense_rank"))
        .orderBy(col("dense_rank")),
      // hard-negative twin: dense pool minus the sparse top-50 doc set
      (retrievalCtes +
        """
          |hn AS (SELECT doc_id, dot, dense_rank FROM de
          |  WHERE doc_id NOT IN (SELECT doc_id FROM sp))
          |SELECT doc_id, dot, dense_rank FROM hn ORDER BY dense_rank LIMIT 20""".stripMargin)),

    Query("retrieval_eval", (s, dir) =>
      // recall@20 / MRR of the dense arm and the fusion vs the BM25
      // top-10 relevance proxy — is the fusion earning its extra arm?
      Retrieval.evalVsLexical(Tables.documents(s, dir),
          Seq("hash", "join", "vector"), "hash join vector")
        .orderBy(col("system")),
      // eval twin: relevance = sparse_rank ≤ 10; recall/MRR per system
      (retrievalCtes +
        """
          |f AS (SELECT coalesce(sp.doc_id, de.doc_id) AS doc_id, sp.sparse_rank, de.dense_rank,
          |        coalesce(1000000 // (60 + sp.sparse_rank), 0) +
          |        coalesce(1000000 // (60 + de.dense_rank), 0) AS rrf_micro
          |      FROM sp FULL OUTER JOIN de ON sp.doc_id = de.doc_id),
          |rr AS (SELECT doc_id, row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS rank
          |       FROM (SELECT * FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 20) z),
          |rel AS (SELECT doc_id FROM sp WHERE sparse_rank <= 10),
          |dm AS (SELECT 'dense' AS system, count(*) AS n_hits, min(dense_rank) AS fr
          |       FROM de WHERE dense_rank <= 20 AND doc_id IN (SELECT doc_id FROM rel)),
          |rm AS (SELECT 'rrf' AS system, count(*) AS n_hits, min(rank) AS fr
          |       FROM rr WHERE doc_id IN (SELECT doc_id FROM rel))
          |SELECT system, CAST(n_hits AS BIGINT) AS n_hits,
          |  CAST(n_hits * 1000000 // 10 AS BIGINT) AS recall_ppm,
          |  CAST(coalesce(1000000 // fr, 0) AS BIGINT) AS mrr_micro
          |FROM (SELECT * FROM dm UNION ALL SELECT * FROM rm) u ORDER BY system""".stripMargin)),

    Query("retrieval_ndcg", (s, dir) =>
      // NDCG@10: rank-aware where recall is rank-blind — DCG discounts
      // are plan-time integer-micro constants (no in-engine log, no
      // order-dependent double sums)
      Retrieval.ndcgAtK(Tables.documents(s, dir),
          Seq("hash", "join", "vector"), "hash join vector")
        .orderBy(col("system")),
      // NDCG twin: same rel/pools, the generated integer-micro discount
      // CASE (shared Scala constants), integer dcg sums, ppm division
      (retrievalCtes +
        s"""
          |f AS (SELECT coalesce(sp.doc_id, de.doc_id) AS doc_id, sp.sparse_rank, de.dense_rank,
          |        coalesce(1000000 // (60 + sp.sparse_rank), 0) +
          |        coalesce(1000000 // (60 + de.dense_rank), 0) AS rrf_micro
          |      FROM sp FULL OUTER JOIN de ON sp.doc_id = de.doc_id),
          |rr AS (SELECT doc_id, row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS rank
          |       FROM (SELECT * FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 10) z),
          |rel AS (SELECT doc_id FROM sp WHERE sparse_rank <= 10),
          |dm AS (SELECT 'dense' AS system, count(*) AS n_hits,
          |        CAST(coalesce(SUM(${ndcgDiscCase("dense_rank", 10)}), 0) AS BIGINT) AS dcg_micro
          |       FROM de WHERE dense_rank <= 10 AND doc_id IN (SELECT doc_id FROM rel)),
          |rm AS (SELECT 'rrf' AS system, count(*) AS n_hits,
          |        CAST(coalesce(SUM(${ndcgDiscCase("rank", 10)}), 0) AS BIGINT) AS dcg_micro
          |       FROM rr WHERE doc_id IN (SELECT doc_id FROM rel))
          |SELECT system, CAST(n_hits AS BIGINT) AS n_hits, dcg_micro,
          |  CAST(${ops.Retrieval.ndcgDiscountsMicro(10).sum} AS BIGINT) AS idcg_micro,
          |  (dcg_micro * 1000000) // ${ops.Retrieval.ndcgDiscountsMicro(10).sum} AS ndcg_ppm
          |FROM (SELECT * FROM dm UNION ALL SELECT * FROM rm) u ORDER BY system""".stripMargin)),

    Query("retrieval_rank_eval", (s, dir) =>
      // the standard IR eval card: MRR / P@10 / recall@10 / AP@10 per
      // system, integer-exact over k-bounded hit frames
      Retrieval.rankEvalAtK(Tables.documents(s, dir),
          Seq("hash", "join", "vector"), "hash join vector")
        .orderBy(col("system")),
      // rank-eval twin: same arms/truth, identical integer rank math
      (retrievalCtes +
        """
          |f AS (SELECT coalesce(sp.doc_id, de.doc_id) AS doc_id, sp.sparse_rank, de.dense_rank,
          |        coalesce(1000000 // (60 + sp.sparse_rank), 0) +
          |        coalesce(1000000 // (60 + de.dense_rank), 0) AS rrf_micro
          |      FROM sp FULL OUTER JOIN de ON sp.doc_id = de.doc_id),
          |rr AS (SELECT doc_id, row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS rank
          |       FROM (SELECT * FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 10) z),
          |rel AS (SELECT doc_id FROM sp WHERE sparse_rank <= 10),
          |dh AS (SELECT CAST(dense_rank AS BIGINT) AS r,
          |        row_number() OVER (ORDER BY dense_rank) AS hit_idx
          |       FROM de WHERE dense_rank <= 10 AND doc_id IN (SELECT doc_id FROM rel)),
          |rh AS (SELECT CAST(rank AS BIGINT) AS r,
          |        row_number() OVER (ORDER BY rank) AS hit_idx
          |       FROM rr WHERE doc_id IN (SELECT doc_id FROM rel)),
          |dm AS (SELECT 'dense' AS system, CAST(count(*) AS BIGINT) AS n_hits,
          |        CAST(coalesce(MIN(r), 0) AS BIGINT) AS firstr,
          |        CAST(coalesce(SUM((hit_idx * 1000000) // r), 0) AS BIGINT) AS apsum
          |       FROM dh),
          |rm AS (SELECT 'rrf' AS system, CAST(count(*) AS BIGINT) AS n_hits,
          |        CAST(coalesce(MIN(r), 0) AS BIGINT) AS firstr,
          |        CAST(coalesce(SUM((hit_idx * 1000000) // r), 0) AS BIGINT) AS apsum
          |       FROM rh)
          |SELECT system, n_hits,
          |  CAST(CASE WHEN firstr > 0 THEN 1000000 // firstr ELSE 0 END AS BIGINT) AS mrr_micro,
          |  (n_hits * 1000000) // 10 AS p_at_k_ppm,
          |  (n_hits * 1000000) // 10 AS recall_ppm,
          |  apsum // 10 AS ap_micro
          |FROM (SELECT * FROM dm UNION ALL SELECT * FROM rm) u ORDER BY system""".stripMargin)),

    Query("ann_sq_topk", (s, dir) => {
      // SQ8 search: exact i64 dot over int8 codes, scales multiply back
      // in only at the final fixed-order score
      val emb = Tables.embeddingsSpread(s, dir)
      Similarity.sqTopK(emb.filter(col("vec_id") < 10), emb, 5)
        .orderBy(col("query_id"), col("rnk"))
    },
      // SQ8 twin: identical absmax fold, identical int8 code transform,
      // exact i64 code dot, one fixed-order double score per pair
      """WITH am AS (SELECT vec_id, embedding,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
        |      (m, v) -> greatest(m, v)) AS amax
        |  FROM embeddings),
        |qz AS (SELECT vec_id, amax / 127.0 AS scale,
        |    CASE WHEN amax = 0 THEN list_transform(embedding, v -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           v -> CAST(floor(CAST(v AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT))
        |    END AS q
        |  FROM am),
        |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(list_zip(q.q, c.q), x -> x[1] * x[2])),
        |      (acc, v) -> acc + v) AS idot,
        |    (q.scale * c.scale) AS ss
        |  FROM (SELECT * FROM qz WHERE vec_id < 10) q
        |  JOIN qz c ON q.vec_id <> c.vec_id),
        |r AS (SELECT query_id, neighbor_id, idot,
        |    ss * CAST(idot AS DOUBLE) AS score FROM sc)
        |SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk,
        |  idot, score
        |FROM r QUALIFY rnk <= 5 ORDER BY query_id, rnk""".stripMargin)
  )
}
