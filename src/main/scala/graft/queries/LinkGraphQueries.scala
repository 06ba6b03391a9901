package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._
import graft.streaming.DocumentStreams

/** Host-level link graph (r15): the crawl-graph stage — anchors
  * PARSED from the raw page bytes (absolute hrefs cross hosts via the
  * grammar's `next` anchor; relative hrefs resolve to the page's own
  * host), aggregated to the host webgraph, ranked by the all-integer
  * PageRank kernel already proven on the word graph. The oracle
  * rebuilds the pages and re-parses the same regexps end to end.
  */
object LinkGraphQueries {
  private val linkHosts = QueryDef("q_link_hosts",
    (s, dir) => LinkGraph.hostEdges(Tables.documents(s, dir)),
    // Host-level link graph (r15): pages rebuilt, anchors re-parsed with
    // the engine's own patterns, resolved and aggregated to the
    // cross-host edge list — the parse is what's checked, not assumed.
    s"""WITH $linkCtes
       |SELECT src_host, dst_host, n_links FROM le""".stripMargin)
  private val linkAuthority = QueryDef("q_link_authority",
    (s, dir) => LinkGraph.authorityBySource(Tables.documents(s, dir)),
    // Authority-as-curation-prior: per source, the summed/avg host rank
    // of its pages (isolated hosts count 0 — the honest floor).
    {
      import graft.operators.GraphAnalytics.PrIters
      s"""WITH $linkCtes,
         |e AS (SELECT src_host AS src, dst_host AS dst, n_links AS w FROM le),
         |${pageRankCtes("e")},
         |ph AS (SELECT doc_id, source, ${hostOfSql("doc_id")} AS host FROM hd)
         |SELECT ph.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT ph.host) AS BIGINT) AS n_hosts,
         |  CAST(sum(coalesce(p.pr, 0)) AS BIGINT) AS sum_pr,
         |  CAST(sum(coalesce(p.pr, 0)) AS BIGINT)
         |    // CAST(count(*) AS BIGINT) AS avg_pr
         |FROM ph LEFT JOIN pr$PrIters p ON p.id = ph.host
         |GROUP BY ph.source""".stripMargin
    })
  // anchor-context retrieval through the STORED context index (r17):
  // anchor + window tokens per target host, BM25 scoring shared with
  // the inner-text path — zero parsing on the query path
  private val anchorCtxBm25Stored = QueryDef("q_anchor_ctx_bm25_stored",
    (s, dir) => AnchorStore.anchorCtxBm25Hosts(s, dir),
    // The context-extended anchor BM25 oracle (r17): [[anchorContextCtes]]
    // feeding the SAME integer-ratio BM25 tail as the `q_anchor_bm25` oracle's
    // anchor side, each cross-host anchor contributing anchor + window
    // tokens to the TARGET host's bag. Serves the STORED-index query too —
    // tf/dl are exact longs, so the parquet round-trip is bit-exact (the
    // RankStore argument).
    s"""WITH $anchorContextCtes,
       |$anchorCtxScoreCtes
       |SELECT host, score FROM ah2""".stripMargin)

  val all: Seq[QueryDef] = Seq(
    linkHosts,
    // STREAMING twin: per-batch doc-local anchor extraction appended to
    // the anchor log, ONE post-drain cross-host rollup (shared
    // edgesFromLinks) — the webgraph-accumulation position.
    QueryDef.twin("q_stream_link_hosts", linkHosts,
      (s, dir) => DocumentStreams.linkHostsToBatch(s, dir)),
    QueryDef("q_link_rank", (s, dir) => LinkGraph.hostRank(Tables.documents(s, dir)),
      // Host authority: the shared all-integer PageRank unroll over the
      // parsed host graph, plus distinct in/out counterparty counts.
      {
        import graft.operators.GraphAnalytics.PrIters
        s"""WITH $linkCtes,
           |e AS (SELECT src_host AS src, dst_host AS dst, n_links AS w FROM le),
           |${pageRankCtes("e")},
           |ind AS (SELECT dst_host, CAST(count(DISTINCT src_host) AS BIGINT) AS n_in
           |  FROM le GROUP BY 1),
           |outd AS (SELECT src_host, CAST(count(DISTINCT dst_host) AS BIGINT) AS n_out
           |  FROM le GROUP BY 1)
           |SELECT p.id AS host, p.pr,
           |  CAST(coalesce(i.n_in, 0) AS BIGINT) AS n_in,
           |  CAST(coalesce(o.n_out, 0) AS BIGINT) AS n_out
           |FROM pr$PrIters p
           |LEFT JOIN ind i ON i.dst_host = p.id
           |LEFT JOIN outd o ON o.src_host = p.id""".stripMargin
      }),
    QueryDef("q_link_frontier", (s, dir) => LinkGraph.frontier(Tables.documents(s, dir)),
      // Crawl frontier: every anchor (absolute AND relative), targets
      // anti-checked against the corpus id set per target host.
      s"""WITH $linkCtes,
         |k AS (SELECT DISTINCT doc_id FROM hd)
         |SELECT dst_host,
         |  CAST(count(*) AS BIGINT) AS n_links,
         |  CAST(count(DISTINCT dst_page) AS BIGINT) AS n_targets,
         |  CAST(count(DISTINCT CASE WHEN k.doc_id IS NULL THEN dst_page END)
         |    AS BIGINT) AS n_frontier
         |FROM lall LEFT JOIN k ON lall.dst_page = k.doc_id
         |GROUP BY dst_host""".stripMargin),
    linkAuthority,
    // authority under STORED ranks (RankStore on the ArtifactStore
    // kernel): the periodic-webgraph-rebuild production shape — zero
    // parse/rank jobs on the apply path; integer ranks round-trip
    // parquet exactly, so the card is hash-identical
    QueryDef.twin("q_link_authority_stored", linkAuthority,
      (s, dir) => RankStore.authorityBySource(s, dir)),
    // pivot-sampled harmonic centrality (the other published host-rank
    // metric): deterministic 8-pivot BFS, 3 unrolled all-integer rounds
    QueryDef("q_link_harmonic", (s, dir) => LinkGraph.harmonicCentrality(Tables.documents(s, dir)),
      // Pivot-sampled harmonic centrality: same seeded-md5 pivot draw,
      // HcRounds unrolled min-relaxation rounds (MATERIALIZED — each round
      // references the previous twice), radius-truncated 1000//d scoring.
      {
        import graft.operators.LinkGraph.{HcPivots, HcRounds, HcSeed}
        // `pivot` is a DuckDB keyword (PIVOT statement) — the replay
        // names the column `piv`
        val roundCtes = (0 until HcRounds).map { t =>
          s"""d${t + 1} AS MATERIALIZED (SELECT piv, host, CAST(min(d) AS INTEGER) AS d FROM (
             |  SELECT piv, host, d FROM d$t
             |  UNION ALL
             |  SELECT d$t.piv, e2.dst AS host, d$t.d + 1 AS d
             |  FROM d$t JOIN e2 ON d$t.host = e2.src) t GROUP BY 1, 2)""".stripMargin
        }.mkString(",\n")
        s"""WITH $linkCtes,
           |e2 AS (SELECT src_host AS src, dst_host AS dst FROM le),
           |hn AS (SELECT src AS host FROM e2 UNION SELECT dst FROM e2),
           |pv AS (SELECT host AS piv FROM hn
           |  ORDER BY ${h60(HcSeed, "host")} ASC, host ASC LIMIT $HcPivots),
           |d0 AS MATERIALIZED (SELECT piv, piv AS host, 0 AS d FROM pv),
           |$roundCtes,
           |hc AS (SELECT host, CAST(sum(1000 // d) AS BIGINT) AS h,
           |    CAST(count(*) AS BIGINT) AS r, CAST(min(d) AS INTEGER) AS m
           |  FROM d$HcRounds WHERE d >= 1 GROUP BY host)
           |SELECT hn.host,
           |  CAST(coalesce(hc.h, 0) AS BIGINT) AS h_milli,
           |  CAST(coalesce(hc.r, 0) AS BIGINT) AS n_pivots_reached,
           |  CAST(coalesce(hc.m, 0) AS INTEGER) AS min_d
           |FROM hn LEFT JOIN hc ON hc.host = hn.host""".stripMargin
      }),
    // web communities: weakly-connected host components (per-source site
    // families under this grammar) via the proven CC machinery
    QueryDef("q_link_components", (s, dir) => LinkGraph.hostComponents(Tables.documents(s, dir)),
      // Web communities: recursive-CTE transitive closure over the parsed
      // host graph (the q_dedup_clusters oracle shape on string keys).
      s"""WITH RECURSIVE $linkCtes,
         |eu AS MATERIALIZED (SELECT src_host AS src, dst_host AS dst FROM le
         |  UNION SELECT dst_host, src_host FROM le),
         |hn AS (SELECT src AS host FROM eu UNION SELECT dst FROM eu),
         |reach(id, root) AS (
         |  SELECT host, host FROM hn
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN eu e ON e.src = r.id),
         |labels AS (SELECT id AS host, min(root) AS component_id
         |  FROM reach GROUP BY id),
         |sizes AS (SELECT component_id, CAST(count(*) AS BIGINT) AS component_n
         |  FROM labels GROUP BY 1)
         |SELECT l.host, l.component_id, s.component_n
         |FROM labels l JOIN sizes s USING (component_id)""".stripMargin),
    // TrustRank: personalized PageRank from a trusted seed-host set —
    // the link-spam demotion signal; trust flows only outward from seeds
    QueryDef("q_link_trustrank", (s, dir) => LinkGraph.trustRank(Tables.documents(s, dir)),
      // TrustRank: the personalized unroll with the deterministic seed
      // rule (hosts of the lexicographically first source) replayed.
      {
        import graft.operators.GraphAnalytics.PrIters
        s"""WITH $linkCtes,
           |ss AS (SELECT min(source) AS ssrc FROM hd),
           |sd AS (SELECT DISTINCT ${hostOfSql("doc_id")} AS id
           |  FROM hd, ss WHERE hd.source = ss.ssrc),
           |e AS (SELECT src_host AS src, dst_host AS dst, n_links AS w FROM le),
           |${personalizedPageRankCtes("e", "sd")}
           |SELECT id AS host, pr AS trust, seed AS is_seed
           |FROM pr$PrIters""".stripMargin
      }),
    // STORED-RANK staleness: RankStore's persisted ranks probed against
    // a grown re-crawl (even/odd page-id replica) — per-status host
    // buckets, rank-shift mass, frontier delta, rebuild verdict (r16)
    QueryDef("q_link_rank_stale", (s, dir) => LinkGraph.rankStalenessCard(s, dir),
      // Stored-rank staleness: base chain (= the stored ranks, integers
      // round-trip parquet) vs a d-suffixed grown-re-crawl chain, per-host
      // FULL join into status buckets + frontier totals + rebuild verdict.
      // DuckDB replay of `LinkGraph.rankStalenessCard` (r16): the base link
      // chain + integer PageRank (this IS the stored-rank replay — integer
      // pr round-trips parquet exactly, the `q_link_authority_stored`
      // argument), a second `d`-suffixed chain over the GROWN re-crawl
      // (even/odd page-id replica, the `q_ann_stale` idiom), FULL-joined
      // per host into status buckets, plus both crawls' frontier totals
      // and the mass-based rebuild verdict.
      {
        import graft.operators.GraphAnalytics.PrIters
        import graft.operators.LinkGraph.{StaleShiftDenom, StaleRebuildDenom}
        val driftedDocs = "(SELECT doc_id * 2 AS doc_id, source, text FROM documents" +
          " UNION ALL SELECT doc_id * 2 + 1, source, text FROM documents)"
        def frontier(sfx: String, name: String) =
          s"""SELECT CAST(count(DISTINCT dst_host || '|' || CAST(dst_page AS VARCHAR)) AS BIGINT) AS $name
             |  FROM lall$sfx LEFT JOIN (SELECT DISTINCT doc_id AS t FROM hd$sfx) i$sfx
             |    ON lall$sfx.dst_page = i$sfx.t
             |  WHERE i$sfx.t IS NULL AND lall$sfx.dst_page IS NOT NULL""".stripMargin
        s"""WITH $linkCtes,
           |e AS (SELECT src_host AS src, dst_host AS dst, n_links AS w FROM le),
           |${pageRankCtes("e")},
           |${linkCtesOver("_d", driftedDocs)},
           |e_d AS (SELECT src_host AS src, dst_host AS dst, n_links AS w FROM le_d),
           |${pageRankCtes("e_d", "_d")},
           |fs AS (${frontier("", "n_frontier_stored")}),
           |fd AS (${frontier("_d", "n_frontier_fresh")}),
           |j AS (SELECT coalesce(s.id, f.id) AS host, s.pr AS prs, f.pr AS prf
           |  FROM pr$PrIters s FULL JOIN pr${PrIters}_d f ON s.id = f.id),
           |sb AS (SELECT CASE WHEN prs IS NULL THEN 'new_host'
           |      WHEN prf IS NULL THEN 'vanished'
           |      WHEN abs(prf - prs) * $StaleShiftDenom > prs THEN 'shifted'
           |      ELSE 'stable' END AS status,
           |    coalesce(prs, 0) AS prs, coalesce(prf, 0) AS prf,
           |    CASE WHEN prs IS NULL THEN prf WHEN prf IS NULL THEN prs
           |      ELSE abs(prf - prs) END AS sh
           |  FROM j),
           |g AS (SELECT status, CAST(count(*) AS BIGINT) AS n_hosts,
           |    CAST(sum(prs) AS BIGINT) AS sum_pr_stored,
           |    CAST(sum(prf) AS BIGINT) AS sum_pr_fresh,
           |    CAST(sum(sh) AS BIGINT) AS shift_abs
           |  FROM sb GROUP BY status),
           |tt AS (SELECT CAST(sum(shift_abs) AS BIGINT) AS ts,
           |    CAST(sum(sum_pr_stored) AS BIGINT) AS tm FROM g)
           |SELECT g.status, g.n_hosts, g.sum_pr_stored, g.sum_pr_fresh, g.shift_abs,
           |  fs.n_frontier_stored, fd.n_frontier_fresh,
           |  (tt.ts * $StaleRebuildDenom > tt.tm) AS rebuild
           |FROM g CROSS JOIN fs CROSS JOIN fd CROSS JOIN tt""".stripMargin
      }),
    // per-anchor ±N-token visible-prose context windows (r17): the
    // anchor text says what the TARGET is; the window says what the
    // source was talking about — the row-level extraction card
    QueryDef("q_anchor_context",
      (s, dir) => {
        import org.apache.spark.sql.functions.{array_join, col}
        LinkGraph.anchorContexts(Tables.documents(s, dir))
          .select(col("doc_id"), col("src_host"), col("dst_host"),
            col("absolute"), col("anchor_text"),
            array_join(col("ctx_before"), " ").as("ctx_before"),
            array_join(col("ctx_after"), " ").as("ctx_after"))
      },
      (s"WITH $anchorContextCtes\n" +
        """SELECT doc_id, src_host, dst_host, absolute, atext AS anchor_text,
          |  array_to_string(ctx_b, ' ') AS ctx_before,
          |  array_to_string(ctx_a, ' ') AS ctx_after
          |FROM acw""".stripMargin)),
    anchorCtxBm25Stored,
    // continuous-crawl twin (r17): the arriving shard is the ONLY thing
    // parsed; its term counts merge additively with the stored base
    // index (base ⊎ shard ≡ full rebuild exactly: tf is per-page
    // additive), then one BM25 pass over the merged index
    QueryDef.twin("q_anchor_ctx_incremental", anchorCtxBm25Stored,
      (s, dir) => AnchorStore.anchorCtxBm25Incremental(s, dir)),
    // streaming twin: per-micro-batch shard-only parse appended to the
    // persisted base index inside foreachBatch, one post-drain rollup +
    // BM25 pass — batches compose additively, so stream ≡ incremental ≡
    // full (r17)
    QueryDef.twin("q_stream_anchor_ctx", anchorCtxBm25Stored,
      (s, dir) => DocumentStreams.anchorCtxToBatch(s, dir)),
    // publish/compaction: base ⊎ shard persisted as the NEXT base-crawl
    // artifact, per-host rollup read back FROM the artifact — closes the
    // probe → publish → probe loop; published ≡ full rebuild (r17)
    QueryDef("q_anchor_ctx_publish", (s, dir) => AnchorStore.publishCtxBase(s, dir),
      // publish/compaction: the published artifact must equal the full
      // rebuild, so the oracle replays the full context bag and rolls it
      // up per host (n_terms = distinct tokens, dl = total occurrences)
      (s"""WITH $anchorContextCtes,
         |ct AS (SELECT dst_host AS host, unnest(atoks || ctx_b || ctx_a) AS tok
         |  FROM acw WHERE dst_host <> src_host)
         |SELECT host, CAST(count(DISTINCT tok) AS BIGINT) AS n_terms,
         |  CAST(count(*) AS BIGINT) AS dl
         |FROM ct GROUP BY host""".stripMargin)),
  )
}
