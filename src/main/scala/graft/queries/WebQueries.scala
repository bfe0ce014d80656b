package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Graph, Sampling, TextAnalysis, Web}
import QueryHelpers._

/** Web-corpus operators (`web_*`, `source_*`): URL normalization and dedup,
  * redirects, link analysis and per-domain stats. */
object WebQueries {
  val all: Seq[Query] = Seq(
    Query("web_url_dedup", (s, dir) =>
      // canonical-URL dedup over deterministically synthesized messy
      // URLs: case/port/tracking-param/fragment variants of the same
      // page collapse to one key (zero shuffle before the one groupBy)
      Web.urlDedup(Tables.documentsSpread(s, dir), synthUrl)
        .orderBy(col("url_norm")),
      // URL normalization mirrored step by step: parse with the same RE2
      // regexes, strip default port / trailing dot / fragment, drop
      // tracking params, byte-sort survivors
      s"""WITH b AS (SELECT doc_id, $synthHostSql AS hb FROM documents),
         |u AS (SELECT doc_id, $synthUrlSql AS url FROM b),
         |p AS (SELECT doc_id,
         |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://.*$$', 1)) AS scheme,
         |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*$$', 1)) AS auth,
         |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*).*$$', 1) AS path0,
         |  regexp_extract(url, '^[^?#]*\\?([^#]*).*$$', 1) AS q FROM u),
         |n AS (SELECT doc_id, scheme,
         |  regexp_replace(regexp_replace(auth, ':[0-9]+$$', ''), '\\.$$', '') AS hostc,
         |  regexp_extract(auth, ':([0-9]+)$$', 1) AS port,
         |  CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
         |  list_sort(list_filter(string_split(q, '&'),
         |    x -> strlen(x) > 0 AND NOT starts_with(string_split(x, '=')[1], 'utm_')
         |         AND NOT list_contains(['fbclid','gclid','msclkid','mc_cid','mc_eid','ref'],
         |                               string_split(x, '=')[1]))) AS kept FROM p),
         |k AS (SELECT doc_id, scheme || '://' ||
         |  (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
         |         OR (scheme = 'https' AND port = '443')
         |        THEN hostc ELSE hostc || ':' || port END) || path ||
         |  (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
         |        ELSE '' END) AS url_norm FROM n)
         |SELECT url_norm, count(*) AS n_docs, min(doc_id) AS keeper
         |FROM k GROUP BY url_norm ORDER BY url_norm""".stripMargin),

    Query("web_joint_dedup", (s, dir) => {
      // multi-signal dedup (RefinedWeb's URL-then-content passes as ONE
      // component computation): URL groups contract to their anchors,
      // only the MinHash-LSH near-dup pairs drive the iterative CC —
      // exact quotient-graph equivalence to clustering the edge union
      // (the r13 form), at a fraction of the loop's node/edge count
      val docs = Tables.documentsSpread(s, dir)
      val withUrl = docs.select(col("doc_id"), Web.urlNormalize(synthUrl).as("u"))
      val ka = withUrl.groupBy(col("u")).agg(min(col("doc_id")).as("ka"))
      val anchors = withUrl.join(ka, "u")
        .select(col("doc_id"), col("ka").as("anchor"))
      Dedup.clustersContracted(
          Dedup.minhashLshPairs(docs).select(col("doc_a"), col("doc_b")), anchors)
        .withColumn("keep", col("doc_id") === col("cluster_id"))
        .orderBy(col("doc_id"))
    },
      // joint-dedup twin: minhash pairs ∪ URL star edges → recursive CC
      (minhashPairCtes +
        s""",
           |b AS (SELECT doc_id, $synthHostSql AS hb FROM documents),
           |u AS (SELECT doc_id, $synthUrlSql AS url FROM b),
           |p AS (SELECT doc_id,
           |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://.*$$', 1)) AS scheme,
           |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*$$', 1)) AS auth,
           |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*).*$$', 1) AS path0,
           |  regexp_extract(url, '^[^?#]*\\?([^#]*).*$$', 1) AS q FROM u),
           |n AS (SELECT doc_id, scheme,
           |  regexp_replace(regexp_replace(auth, ':[0-9]+$$', ''), '\\.$$', '') AS hostc,
           |  regexp_extract(auth, ':([0-9]+)$$', 1) AS port,
           |  CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
           |  list_sort(list_filter(string_split(q, '&'),
           |    x -> strlen(x) > 0 AND NOT starts_with(string_split(x, '=')[1], 'utm_')
           |         AND NOT list_contains(['fbclid','gclid','msclkid','mc_cid','mc_eid','ref'],
           |                               string_split(x, '=')[1]))) AS kept FROM p),
           |k AS (SELECT doc_id, scheme || '://' ||
           |  (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
           |         OR (scheme = 'https' AND port = '443')
           |        THEN hostc ELSE hostc || ':' || port END) || path ||
           |  (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
           |        ELSE '' END) AS url_norm FROM n),
           |ka AS (SELECT url_norm, MIN(doc_id) AS m FROM k GROUP BY 1),
           |urlp AS (SELECT ka.m AS doc_a, k.doc_id AS doc_b
           |         FROM k JOIN ka USING (url_norm) WHERE k.doc_id > ka.m),
           |alle AS (SELECT doc_a, doc_b FROM pairs UNION SELECT doc_a, doc_b FROM urlp),
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM alle
           |          UNION SELECT doc_b, doc_a FROM alle),
           |cc AS (SELECT a AS doc, a AS label FROM edges
           |       UNION SELECT e.a, cc.label FROM cc JOIN edges e ON cc.doc = e.b)
           |SELECT doc AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_id,
           |  MIN(label) = doc AS keep
           |FROM cc GROUP BY doc ORDER BY doc_id""".stripMargin)),

    Query("web_redirect_resolve", (s, dir) => {
      // synthetic acyclic redirect forest (doc_id % 7 != 0 points one
      // id back; multiples of 7 terminate): the closed-form oracle
      // final = doc_id − (doc_id % 7) proves the log-round pointer
      // doubling resolves every chain exactly, hops included
      val r = Tables.documents(s, dir).select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id").as("src"), (col("doc_id") - 1).as("dst"))
      Web.resolveRedirects(r, rounds = 4)
        .orderBy(col("src"))
    },
      // redirect twin: the closed form of the synthetic forest — chain
      // length and terminal are analytic, so the hash match proves the
      // doubling, not a second implementation of it
      """SELECT doc_id AS src, doc_id - (doc_id % 7) AS final_dst,
        |  CAST(doc_id % 7 AS BIGINT) AS hops
        |FROM documents WHERE doc_id % 7 <> 0 ORDER BY src""".stripMargin),

    Query("web_hits", (s, dir) => {
      // hubs & authorities over the same deterministic 3-out-link graph
      // as web_pagerank: 3 synchronous integer fixed-point HITS rounds,
      // renormalized by the max per half-step (no float L2 — integer
      // division keeps the scores engine- and partitioning-exact)
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val n = ids.agg((max(col("doc_id")) + 1).as("__n"))
      val edges = ids.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"), explode(array(
          pmod(col("doc_id") * 31 + 7, col("__n")),
          pmod(col("doc_id") * 17 + 3, col("__n")),
          pmod(col("doc_id") * 13 + 11, col("__n")))).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      Graph.hitsInt(edges, iters = 3)
        .select(col("node").as("doc_id"), col("hub"), col("auth"))
        .orderBy(col("doc_id"))
    },
      // HITS twin: same synthetic edges, unrolled auth-then-hub rounds,
      // max-renormalization by integer division per half-step
      {
        val iterCtes = (1 to 3).map { i =>
          val ph = if (i == 1) "h0" else s"h${i - 1}"
          s"""ar$i AS (SELECT e.dst AS node, SUM(h.hub) AS raw
             |  FROM e JOIN $ph h ON h.node = e.src GROUP BY 1),
             |am$i AS (SELECT max(raw) AS m FROM ar$i),
             |a$i AS (SELECT n.node,
             |    CAST(COALESCE((r.raw * 1000000) // mm.m, 0) AS BIGINT) AS auth
             |  FROM nodes n LEFT JOIN ar$i r ON n.node = r.node CROSS JOIN am$i mm),
             |hr$i AS (SELECT e.src AS node, SUM(a.auth) AS raw
             |  FROM e JOIN a$i a ON a.node = e.dst GROUP BY 1),
             |hm$i AS (SELECT max(raw) AS m FROM hr$i),
             |h$i AS (SELECT n.node,
             |    CAST(COALESCE((r.raw * 1000000) // mm.m, 0) AS BIGINT) AS hub
             |  FROM nodes n LEFT JOIN hr$i r ON n.node = r.node CROSS JOIN hm$i mm)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
           |e AS (SELECT DISTINCT src, dst FROM (
           |    SELECT doc_id AS src, (doc_id*31+7) % n AS dst FROM documents CROSS JOIN nn
           |    UNION ALL SELECT doc_id, (doc_id*17+3) % n FROM documents CROSS JOIN nn
           |    UNION ALL SELECT doc_id, (doc_id*13+11) % n FROM documents CROSS JOIN nn)
           |  WHERE src <> dst),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes),
           |$iterCtes
           |SELECT h3.node AS doc_id, h3.hub, a3.auth
           |FROM h3 JOIN a3 ON h3.node = a3.node ORDER BY doc_id""".stripMargin
      }),

    Query("web_pagerank", (s, dir) => {
      // link-graph centrality for corpus weighting: 5 synchronous
      // integer-fixed-point PageRank iterations over a deterministic
      // 3-out-link graph (dst = (id·a+b) mod N, the N scalar rides as a
      // broadcast — no driver action). Static edges repartitioned once
      // on src; each iteration = one rank join + one partial-agg.
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val n = ids.agg((max(col("doc_id")) + 1).as("__n"))
      val edges = ids.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"), explode(array(
          pmod(col("doc_id") * 31 + 7, col("__n")),
          pmod(col("doc_id") * 17 + 3, col("__n")),
          pmod(col("doc_id") * 13 + 11, col("__n")))).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      Graph.pageRankInt(edges, iters = 5)
        .select(col("node").as("doc_id"), col("rank"))
        .orderBy(col("doc_id"))
    },
      {
        val iterCtes = (1 to 5).map { i =>
          val prev = if (i == 1) "r0" else s"r${i - 1}"
          s"""r$i AS (SELECT n.node,
             |    CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst AS node, SUM(r.rank // o.outdeg) AS s
             |    FROM e JOIN outd o ON e.src = o.src JOIN $prev r ON r.node = e.src
             |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
           |e AS (SELECT DISTINCT src, dst FROM (
           |    SELECT doc_id AS src, (doc_id*31+7) % n AS dst FROM documents CROSS JOIN nn
           |    UNION ALL SELECT doc_id, (doc_id*17+3) % n FROM documents CROSS JOIN nn
           |    UNION ALL SELECT doc_id, (doc_id*13+11) % n FROM documents CROSS JOIN nn)
           |  WHERE src <> dst),
           |outd AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
           |$iterCtes
           |SELECT node AS doc_id, rank FROM r5 ORDER BY doc_id""".stripMargin
      }),

    Query("web_domain_stats", (s, dir) =>
      // corpus mass per registrable domain (PSL-approximate: co.uk-
      // style generic second levels take three labels) — the input
      // table for per-domain caps and blocklist review
      Web.domainStats(Tables.documentsSpread(s, dir), synthUrl)
        .orderBy(col("domain")),
      s"""WITH b AS (SELECT doc_id, text, $synthHostSql AS hb FROM documents),
         |u AS (SELECT doc_id, text, $synthUrlSql AS url FROM b),
         |h AS (SELECT doc_id, text,
         |  regexp_replace(regexp_replace(
         |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*$$', 1)),
         |    ':[0-9]+$$', ''), '\\.$$', '') AS host FROM u),
         |d AS (SELECT doc_id, text, host, string_split(host, '.') AS ls,
         |             len(string_split(host, '.')) AS nl FROM h),
         |r AS (SELECT doc_id, text,
         |  CASE WHEN nl <= 2 THEN host
         |       WHEN strlen(ls[nl]) = 2 AND list_contains(
         |              ['co','com','net','org','gov','ac','edu'], ls[nl-1])
         |       THEN ls[nl-2] || '.' || ls[nl-1] || '.' || ls[nl]
         |       ELSE ls[nl-1] || '.' || ls[nl] END AS domain FROM d)
         |SELECT domain, count(*) AS n_docs,
         |  CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
         |    AS n_tokens
         |FROM r GROUP BY domain ORDER BY domain""".stripMargin),

    Query("web_domain_filter", (s, dir) => {
      import s.implicits._
      // blocklist gate: broadcast anti-join on registrable domain,
      // surviving corpus counted per source
      Web.domainFilter(Tables.documentsSpread(s, dir), synthUrl,
          Seq("site7.com", "site13.com", "site0.co.uk").toDF("domain"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    },
      s"""WITH b AS (SELECT doc_id, source, $synthHostSql AS hb FROM documents),
         |u AS (SELECT doc_id, source, $synthUrlSql AS url FROM b),
         |h AS (SELECT doc_id, source,
         |  regexp_replace(regexp_replace(
         |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*$$', 1)),
         |    ':[0-9]+$$', ''), '\\.$$', '') AS host FROM u),
         |d AS (SELECT doc_id, source, host, string_split(host, '.') AS ls,
         |             len(string_split(host, '.')) AS nl FROM h),
         |r AS (SELECT doc_id, source,
         |  CASE WHEN nl <= 2 THEN host
         |       WHEN strlen(ls[nl]) = 2 AND list_contains(
         |              ['co','com','net','org','gov','ac','edu'], ls[nl-1])
         |       THEN ls[nl-2] || '.' || ls[nl-1] || '.' || ls[nl]
         |       ELSE ls[nl-1] || '.' || ls[nl] END AS domain FROM d)
         |SELECT source, count(*) AS n_kept FROM r
         |WHERE domain NOT IN ('site7.com', 'site13.com', 'site0.co.uk')
         |GROUP BY source ORDER BY source""".stripMargin),

    Query("web_domain_cap", (s, dir) =>
      // RefinedWeb §3.2 per-registered-domain cap: the Web family
      // composes with the sampling family — registrable domain becomes
      // the capPerGroup key (one window shuffle), longest docs survive
      Sampling.capPerGroup(
          Tables.documentsSpread(s, dir)
            .withColumn("domain", Web.registrableDomain(synthUrl)),
          "domain", n = 5, Seq(col("n_chars").desc, col("doc_id")))
        .select(col("domain"), col("doc_id"), col("n_chars"))
        .orderBy(col("domain"), col("doc_id")),
      s"""WITH b AS (SELECT doc_id, n_chars, $synthHostSql AS hb FROM documents),
         |u AS (SELECT doc_id, n_chars, $synthUrlSql AS url FROM b),
         |h AS (SELECT doc_id, n_chars,
         |  regexp_replace(regexp_replace(
         |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*$$', 1)),
         |    ':[0-9]+$$', ''), '\\.$$', '') AS host FROM u),
         |d AS (SELECT doc_id, n_chars, host, string_split(host, '.') AS ls,
         |             len(string_split(host, '.')) AS nl FROM h),
         |r AS (SELECT doc_id, n_chars,
         |  CASE WHEN nl <= 2 THEN host
         |       WHEN strlen(ls[nl]) = 2 AND list_contains(
         |              ['co','com','net','org','gov','ac','edu'], ls[nl-1])
         |       THEN ls[nl-2] || '.' || ls[nl-1] || '.' || ls[nl]
         |       ELSE ls[nl-1] || '.' || ls[nl] END AS domain FROM d),
         |k AS (SELECT domain, doc_id, n_chars, row_number() OVER (
         |        PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rk
         |      FROM r)
         |SELECT domain, doc_id, n_chars FROM k WHERE rk <= 5
         |ORDER BY domain, doc_id""".stripMargin),

    Query("source_overlap", (s, dir) =>
      // pairwise distinct-3-gram Jaccard between sources: the
      // mirror-crawl detector read before committing mixing weights
      TextAnalysis.sourceOverlap(Tables.documents(s, dir), n = 3)
        .orderBy(col("source_a"), col("source_b")),
      // overlap twin: distinct (source, gram) sets, self-join on gram with
      // src_a < src_b, integer Jaccard over the union size
      """WITH sg AS (SELECT DISTINCT src, gram FROM (
        |    SELECT source AS src,
        |      unnest(list_distinct(list_transform(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
        |        x -> x[1] || ' ' || x[2] || ' ' || x[3]))) AS gram
        |    FROM (SELECT source, string_split(text, ' ') AS t FROM documents) z
        |    WHERE len(t) >= 3)),
        |sz AS (SELECT src, count(*) AS n FROM sg GROUP BY src),
        |i AS (SELECT a.src AS source_a, b.src AS source_b, count(*) AS n_common
        |      FROM sg a JOIN sg b ON a.gram = b.gram AND a.src < b.src
        |      GROUP BY 1, 2)
        |SELECT i.source_a, i.source_b,
        |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
        |  CAST(i.n_common AS BIGINT) AS n_common,
        |  CAST(i.n_common * 1000000 // (sa.n + sb.n - i.n_common) AS BIGINT) AS jaccard_ppm
        |FROM i JOIN sz sa ON sa.src = i.source_a
        |  JOIN sz sb ON sb.src = i.source_b
        |ORDER BY source_a, source_b""".stripMargin),

    Query("source_overlap_approx", (s, dir) => {
      // the 100 TB overlap path: HLL inclusion-exclusion per source
      // pair — corpus read once into sketch states, no distinct, no
      // gram self-join. Gate: exact sizes hash (gate-only arithmetic,
      // same pairing as q_quantiles_approx) + deterministic bound
      // booleans — 5% of the UNION absorbs the three compounded RSEs
      val docs = Tables.documentsSpread(s, dir)
      val approx = TextAnalysis.sourceOverlapApprox(docs, n = 3)
      val exact = TextAnalysis.sourceOverlap(docs, n = 3)
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          col("n_common"))
      approx.join(exact, Seq("source_a", "source_b"))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          col("n_common"),
          (abs(col("est_a") - col("n_a")) * 20 <= col("n_a"))
            .as("a_within_5pct"),
          (abs(col("est_b") - col("n_b")) * 20 <= col("n_b"))
            .as("b_within_5pct"),
          (abs(col("est_common") - col("n_common")) * 20 <=
            col("n_a") + col("n_b") - col("n_common"))
            .as("common_within_5pct_of_union"))
        .orderBy(col("source_a"), col("source_b"))
    },
      // approx-overlap twin: the exact sizes restated + the bound booleans
      // asserted true — a drifting sketch or broken inclusion-exclusion
      // flips a boolean and hashes red
      """WITH sg AS (SELECT DISTINCT src, gram FROM (
        |    SELECT source AS src,
        |      unnest(list_distinct(list_transform(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
        |        x -> x[1] || ' ' || x[2] || ' ' || x[3]))) AS gram
        |    FROM (SELECT source, string_split(text, ' ') AS t FROM documents) z
        |    WHERE len(t) >= 3)),
        |sz AS (SELECT src, count(*) AS n FROM sg GROUP BY src),
        |i AS (SELECT a.src AS source_a, b.src AS source_b, count(*) AS n_common
        |      FROM sg a JOIN sg b ON a.gram = b.gram AND a.src < b.src
        |      GROUP BY 1, 2)
        |SELECT i.source_a, i.source_b,
        |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
        |  CAST(i.n_common AS BIGINT) AS n_common,
        |  true AS a_within_5pct, true AS b_within_5pct,
        |  true AS common_within_5pct_of_union
        |FROM i JOIN sz sa ON sa.src = i.source_a
        |  JOIN sz sb ON sb.src = i.source_b
        |ORDER BY source_a, source_b""".stripMargin)
  )
}
