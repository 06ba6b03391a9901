package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._
import graft.streaming.DocumentStreams

/** Composed curation pipelines: retention funnels, hybrid retrieval and
  * per-source curation cards.
  */
object PipelineQueries {
  // ANCHOR-TEXT hybrid retrieval: BM25 over the anchor-text index
  // (cross-host anchor tokens keyed by TARGET host, from the same
  // single-pass extraction as the edge list) RRF-fused with content
  // BM25 (r16)
  private val anchorBm25 = QueryDef("q_anchor_bm25",
    (s, dir) => Pipeline.anchorHybridTopK(Tables.documents(s, dir)),
    // DuckDB replay of `Pipeline.anchorHybridTopK` (r16): the shared
    // content-BM25 CTE, the anchor-text index rebuilt from `lall`'s
    // cross-host anchors (tokens of the unescaped anchor text keyed by
    // TARGET host), the identical integer-ratio BM25 over it at host
    // granularity, host→doc pool expansion, and the `q_hybrid_rrf`
    // integer fusion tail.
    {
      import graft.operators.TextAnalysis._
      import graft.operators.LinkGraph.AnchorHostK
      import graft.operators.Pipeline.{RrfC, RrfK}
      val poolK = Bm25K
      val numF = (Bm25K1Num + Bm25K1Den) * Bm25BDen
      val denTf = Bm25K1Den * Bm25BDen
      val denS = Bm25K1Num * (Bm25BDen - Bm25BNum)
      val denDl = Bm25K1Num * Bm25BNum
      val inList = Bm25Query.map(t => s"'$t'").mkString(", ")
      val pivot = Bm25Query
        .map(t => s"COALESCE(max(CASE WHEN tok = '$t' THEN ts END), 0)")
        .mkString(" + ")
      s"""WITH $linkCtes,
         |bm AS ($bm25TopKOracle),
         |txt AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS text_rank
         |  FROM bm),
         |at AS (SELECT dst_host AS host,
         |    unnest(list_filter(regexp_split_to_array(
         |      trim(lower(nfc_normalize(atext))), '\\s+'), x -> x <> '')) AS tok
         |  FROM lall WHERE dst_host <> src_host),
         |adl AS (SELECT host, CAST(count(*) AS BIGINT) AS dl FROM at GROUP BY host),
         |asc2 AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS s_tok FROM adl),
         |atf AS (SELECT host, tok, CAST(count(*) AS BIGINT) AS tf FROM at
         |  WHERE tok IN ($inList) GROUP BY host, tok),
         |adf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM atf GROUP BY tok),
         |aper AS (SELECT t.host, t.tok,
         |    (CAST(t.tf * $numF * sc.s_tok AS DOUBLE)
         |      / CAST(t.tf * $denTf * sc.s_tok + $denS * sc.s_tok
         |             + $denDl * d.dl * sc.n_docs AS DOUBLE))
         |    * (CAST(sc.n_docs AS DOUBLE) / CAST(q.df + 1 AS DOUBLE)) AS ts
         |  FROM atf t JOIN adl d USING (host) JOIN adf q USING (tok) CROSS JOIN asc2 sc),
         |ah AS (SELECT host, $pivot AS score FROM aper GROUP BY host
         |  ORDER BY score DESC, host ASC LIMIT $AnchorHostK),
         |ahr AS (SELECT host,
         |    row_number() OVER (ORDER BY score DESC, host ASC) AS host_rank
         |  FROM ah),
         |ad AS (SELECT d.doc_id, ahr.host_rank FROM documents d
         |  JOIN ahr ON ${hostOfSql("doc_id")} = ahr.host
         |  ORDER BY ahr.host_rank ASC, d.doc_id ASC LIMIT $poolK),
         |adr AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY host_rank ASC, doc_id ASC) AS anchor_rank
         |  FROM ad)
         |SELECT COALESCE(txt.doc_id, adr.doc_id) AS doc_id, text_rank, anchor_rank,
         |  COALESCE(1000000 // ($RrfC + text_rank), 0)
         |    + COALESCE(1000000 // ($RrfC + anchor_rank), 0) AS rrf_micro
         |FROM txt FULL OUTER JOIN adr ON txt.doc_id = adr.doc_id
         |ORDER BY rrf_micro DESC, doc_id ASC LIMIT $RrfK""".stripMargin
    })
  // continuous-ingestion twin: the arriving fifth scored first-reject
  // against artifacts FROZEN on the existing corpus (spam set, keeper
  // fps, keeper LSH band index) — no per-batch PageRank/rerank (r17)
  private val trustFunnelIncremental = QueryDef("q_trust_funnel_incremental",
    (s, dir) =>
      Pipeline.incrementalTrustFunnel(Tables.documents(s, dir),
        sigTable = Some(SignatureStore.table(s, dir))),
    // DuckDB replay of `Pipeline.incrementalTrustFunnel` (r17): every
    // frozen artifact recomposed from the EXISTING sub-corpus (doc_id
    // below the ⌊4·(max+1)/5⌋ ingest boundary) — the link chain, integer
    // PageRank, `t`-suffixed TrustRank and the spam rule over existing
    // docs only; keepers among existing reachers — then the ARRIVING
    // shard scored first-reject against them: quality (per-doc), frozen
    // spam set, fp ∈ existing keepers, brute-force shingle Jaccard vs the
    // existing keeper set (probe-only — no shard-internal pairs, the
    // incremental dedup contract). Rolled up per (source, verdict) over
    // arrivals only.
    {
      import graft.operators.GraphAnalytics.{PrIters, PrQ}
      import graft.operators.LinkGraph.{SpamRankMult, SpamTrustMult}
      val existingDocs = "(SELECT d.doc_id, d.source, d.text FROM documents d," +
        " esplit WHERE d.doc_id < esplit.b)"
      s"""WITH esplit AS (SELECT (max(doc_id) + 1) * 4 // 5 AS b FROM documents),
         |${linkCtesOver("", existingDocs)},
         |e AS (SELECT src_host AS src, dst_host AS dst, n_links AS w FROM le),
         |${pageRankCtes("e")},
         |ms AS (SELECT min(source) AS s FROM documents, esplit
         |  WHERE doc_id < esplit.b),
         |sd AS (SELECT DISTINCT ${hostOfSql("doc_id")} AS id
         |  FROM documents CROSS JOIN ms CROSS JOIN esplit
         |  WHERE source = ms.s AND doc_id < esplit.b),
         |${personalizedPageRankCtes("e", "sd", "t")},
         |nnr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pr$PrIters),
         |spam AS MATERIALIZED (SELECT p.id AS host FROM pr$PrIters p CROSS JOIN nnr
         |  LEFT JOIN pr${PrIters}t t2 ON t2.id = p.id
         |  WHERE p.pr * nnr.n > $SpamRankMult * $PrQ
         |    AND coalesce(t2.pr, 0) * $SpamTrustMult < p.pr),
         |tk AS MATERIALIZED ($tokCte),
         |bse AS MATERIALIZED (SELECT d.doc_id, d.source,
         |    CAST(len(tk.toks) AS BIGINT) AS n_toks,
         |    (len(tk.toks) >= 10 AND len(list_filter(tk.toks,
         |      w -> list_contains($stopList, w))) > 0) AS q_ok,
         |    (sp.host IS NOT NULL) AS spam,
         |    md5(regexp_replace(lower(trim(nfc_normalize(d.text))), '\\s+', ' ', 'g')) AS fp
         |  FROM documents d JOIN tk ON d.doc_id = tk.doc_id
         |  LEFT JOIN spam sp ON sp.host = ${hostOfSql("d.doc_id")}),
         |kk AS MATERIALIZED (SELECT fp, min(bse.doc_id) AS keeper FROM bse, esplit
         |  WHERE bse.doc_id < esplit.b AND q_ok AND NOT spam GROUP BY fp),
         |r4e AS MATERIALIZED (SELECT bse.doc_id FROM bse JOIN kk USING (fp), esplit
         |  WHERE bse.doc_id < esplit.b AND q_ok AND NOT spam
         |    AND bse.doc_id = kk.keeper),
         |arr AS MATERIALIZED (SELECT bse.*, (kk.fp IS NOT NULL) AS exact_dup
         |  FROM bse LEFT JOIN kk USING (fp), esplit
         |  WHERE bse.doc_id >= esplit.b),
         |st AS (SELECT d.doc_id,
         |    regexp_split_to_array(trim(nfc_normalize(d.text)), '\\s+')[1:${graft.functions.TextFunctions.MaxShingleTokens}] AS toks
         |  FROM documents d),
         |shf AS MATERIALIZED (SELECT doc_id,
         |    CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
         |      range(0, len(toks) - 2), i -> array_to_string(toks[i+1:i+3], ' ')))
         |    ELSE CAST([] AS VARCHAR[]) END AS sh
         |  FROM st),
         |sa AS MATERIALIZED (SELECT shf.doc_id, sh FROM shf JOIN arr USING (doc_id)
         |  WHERE arr.q_ok AND NOT arr.spam AND NOT arr.exact_dup),
         |se AS MATERIALIZED (SELECT shf.doc_id, sh FROM shf JOIN r4e USING (doc_id)),
         |${jaccardPairCtes(out = "ndp", left = "sa", right = "se",
            aCol = "arr_doc", bCol = "ex_doc", sym = false, pfx = "nj")},
         |nd AS (SELECT DISTINCT arr_doc AS doc_id FROM ndp),
         |v AS (SELECT arr.source,
         |    CASE WHEN NOT q_ok THEN 'low_quality'
         |      WHEN spam THEN 'spam_host'
         |      WHEN exact_dup THEN 'exact_dup'
         |      WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
         |      ELSE 'kept' END AS verdict,
         |    n_toks
         |  FROM arr LEFT JOIN nd ON nd.doc_id = arr.doc_id)
         |SELECT source, verdict, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens
         |FROM v GROUP BY source, verdict""".stripMargin
    })

  val all: Seq[QueryDef] = Seq(
    anchorBm25,
    // the same fusion under the PERSISTED AnchorStore term index — zero
    // page synthesis / anchor parsing on the query path; exact longs
    // round-trip parquet, so the fused card is hash-identical (r16)
    QueryDef.twin("q_anchor_bm25_stored", anchorBm25,
      (s, dir) => Pipeline.anchorHybridStoredTopK(s, dir)),
    // fused retrieval over the context index: content BM25 + the
    // context-anchor ranking through the same stored path + RRF (r17)
    QueryDef("q_anchor_ctx_fused", (s, dir) => Pipeline.anchorCtxHybridStoredTopK(s, dir),
      // The fused retrieval over the CONTEXT index (r17): content BM25 +
      // the context-anchor host ranking expanded to docs, fused through the
      // same integer RRF tail as the `q_anchor_bm25` oracle — the stored-path
      // query `q_anchor_ctx_fused`'s replay.
      {
        import graft.operators.TextAnalysis.Bm25K
        import graft.operators.Pipeline.{RrfC, RrfK}
        s"""WITH $anchorContextCtes,
           |$anchorCtxScoreCtes,
           |bm AS ($bm25TopKOracle),
           |txt AS (SELECT doc_id,
           |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS text_rank
           |  FROM bm),
           |ahr AS (SELECT host,
           |    row_number() OVER (ORDER BY score DESC, host ASC) AS host_rank
           |  FROM ah2),
           |ad AS (SELECT d.doc_id, ahr.host_rank FROM documents d
           |  JOIN ahr ON ${hostOfSql("doc_id")} = ahr.host
           |  ORDER BY ahr.host_rank ASC, d.doc_id ASC LIMIT $Bm25K),
           |adr AS (SELECT doc_id,
           |    row_number() OVER (ORDER BY host_rank ASC, doc_id ASC) AS anchor_rank
           |  FROM ad)
           |SELECT COALESCE(txt.doc_id, adr.doc_id) AS doc_id, text_rank, anchor_rank,
           |  COALESCE(1000000 // ($RrfC + text_rank), 0)
           |    + COALESCE(1000000 // ($RrfC + anchor_rank), 0) AS rrf_micro
           |FROM txt FULL OUTER JOIN adr ON txt.doc_id = adr.doc_id
           |ORDER BY rrf_micro DESC, doc_id ASC LIMIT $RrfK""".stripMargin
      }),
    // retention funnel with the TrustRank spam gate composed in: every
    // doc's FIRST-reject verdict across quality -> spam-host -> exact ->
    // near-dup, per (source, verdict) — counts sum to the corpus (r16)
    QueryDef("q_pipeline_trust_funnel",
      (s, dir) =>
        Pipeline.retentionFunnel(Tables.documents(s, dir),
          sigTable = Some(SignatureStore.table(s, dir))),
      // Retention funnel with the TrustRank spam gate: PR + personalized
      // PR over the link chain, then first-reject CASE per document.
      // DuckDB replay of `Pipeline.retentionFunnel` (r16): the link chain
      // feeds integer PageRank AND `t`-suffixed personalized PageRank from
      // the min-document-source seed hosts; the spam set is the
      // high-rank/low-trust rule; then the `q_pipeline_retained` stages
      // re-expressed as a first-reject CASE — quality, spam host, exact
      // keeper, near-dup cluster rep (recursive CC over the reachers' pair
      // graph) — rolled up per (source, verdict).
      {
        import graft.operators.GraphAnalytics.{PrIters, PrQ}
        import graft.operators.LinkGraph.{SpamRankMult, SpamTrustMult}
        s"""WITH RECURSIVE $linkCtes,
           |e AS (SELECT src_host AS src, dst_host AS dst, n_links AS w FROM le),
           |${pageRankCtes("e")},
           |ms AS (SELECT min(source) AS s FROM documents),
           |sd AS (SELECT DISTINCT ${hostOfSql("doc_id")} AS id
           |  FROM documents CROSS JOIN ms WHERE source = ms.s),
           |${personalizedPageRankCtes("e", "sd", "t")},
           |nnr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pr$PrIters),
           |spam AS MATERIALIZED (SELECT p.id AS host FROM pr$PrIters p CROSS JOIN nnr
           |  LEFT JOIN pr${PrIters}t t2 ON t2.id = p.id
           |  WHERE p.pr * nnr.n > $SpamRankMult * $PrQ
           |    AND coalesce(t2.pr, 0) * $SpamTrustMult < p.pr),
           |tk AS MATERIALIZED ($tokCte),
           |bse AS MATERIALIZED (SELECT d.doc_id, d.source,
           |    CAST(len(tk.toks) AS BIGINT) AS n_toks,
           |    (len(tk.toks) >= 10 AND len(list_filter(tk.toks,
           |      w -> list_contains($stopList, w))) > 0) AS q_ok,
           |    (sp.host IS NOT NULL) AS spam,
           |    md5(regexp_replace(lower(trim(nfc_normalize(d.text))), '\\s+', ' ', 'g')) AS fp
           |  FROM documents d JOIN tk ON d.doc_id = tk.doc_id
           |  LEFT JOIN spam sp ON sp.host = ${hostOfSql("d.doc_id")}),
           |kk AS MATERIALIZED (SELECT fp, min(doc_id) AS keeper FROM bse
           |  WHERE q_ok AND NOT spam GROUP BY fp),
           |stg AS MATERIALIZED (SELECT bse.*, (bse.doc_id = kk.keeper) AS is_keeper
           |  FROM bse LEFT JOIN kk USING (fp)),
           |r4 AS MATERIALIZED (SELECT doc_id FROM stg WHERE q_ok AND NOT spam AND is_keeper),
           |st AS (SELECT d.doc_id,
           |    regexp_split_to_array(trim(nfc_normalize(d.text)), '\\s+')[1:${graft.functions.TextFunctions.MaxShingleTokens}] AS toks
           |  FROM documents d JOIN r4 USING (doc_id)),
           |shf AS MATERIALIZED (SELECT doc_id,
           |    CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
           |      range(0, len(toks) - 2), i -> array_to_string(toks[i+1:i+3], ' ')))
           |    ELSE CAST([] AS VARCHAR[]) END AS sh
           |  FROM st),
           |${jaccardPairCtes(out = "pairs", left = "shf", right = "shf",
              pfx = "fj")},
           |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs),
           |reach(id, root) AS (
           |  SELECT doc_id, doc_id FROM r4
           |  UNION
           |  SELECT e2.dst, r.root FROM reach r JOIN edges e2 ON e2.src = r.id),
           |labels AS MATERIALIZED (SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id),
           |v AS (SELECT stg.source,
           |    CASE WHEN NOT q_ok THEN 'low_quality'
           |      WHEN spam THEN 'spam_host'
           |      WHEN NOT is_keeper THEN 'exact_dup'
           |      WHEN l.cluster_id <> stg.doc_id THEN 'near_dup'
           |      ELSE 'kept' END AS verdict,
           |    n_toks
           |  FROM stg LEFT JOIN labels l ON l.doc_id = stg.doc_id)
           |SELECT source, verdict, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_toks) AS BIGINT) AS n_tokens
           |FROM v GROUP BY source, verdict""".stripMargin
      }),
    trustFunnelIncremental,
    // streaming twin: per-micro-batch first-reject scoring against the
    // same frozen artifacts inside foreachBatch (shared
    // scoreShardAgainstFunnel), rollup post-drain
    QueryDef.twin("q_stream_trust_funnel", trustFunnelIncremental,
      (s, dir) => DocumentStreams.trustFunnelToBatch(s, dir)),
    // stored-bundle twin: the arriving shard scored against the
    // PERSISTED FunnelStore artifacts — zero PageRank / keeper / corpus
    // work on the scoring path (r17)
    QueryDef.twin("q_trust_funnel_stored", trustFunnelIncremental,
      (s, dir) => FunnelStore.trustFunnelStored(s, dir)),
    // Hybrid retrieval: integer reciprocal-rank fusion of the BM25 and
    // dense-cosine top-k lists (doc-aligned embeddings).
    QueryDef("q_hybrid_rrf",
      (s, dir) => Pipeline.hybridRrfTopK(Tables.documents(s, dir), Tables.embeddings(s, dir)),
      {
        import graft.operators.Pipeline.{RrfC, RrfK}
        val poolK = graft.operators.TextAnalysis.Bm25K
        s"""WITH bm AS ($bm25TopKOracle),
           |txt AS (SELECT doc_id,
           |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS text_rank
           |  FROM bm),
           |dn AS (SELECT neighbor_id AS doc_id, rank AS vec_rank FROM (
           |    SELECT b.vec_id AS neighbor_id,
           |      row_number() OVER (
           |        ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
           |                 b.vec_id ASC) AS rank
           |    FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
           |    WHERE a.vec_id = 0) t
           |  WHERE rank <= $poolK)
           |SELECT COALESCE(txt.doc_id, dn.doc_id) AS doc_id, text_rank, vec_rank,
           |  COALESCE(1000000 // ($RrfC + text_rank), 0)
           |    + COALESCE(1000000 // ($RrfC + vec_rank), 0) AS rrf_micro
           |FROM txt FULL OUTER JOIN dn ON txt.doc_id = dn.doc_id
           |ORDER BY rrf_micro DESC, doc_id ASC LIMIT $RrfK""".stripMargin
      }),
    // The same fusion with the dense side on the trained IVF probe — the
    // at-index-scale hybrid, registered rather than promised.
    QueryDef("q_hybrid_rrf_ivf",
      (s, dir) =>
        Pipeline.hybridRrfIvfTopK(
          Tables.documents(s, dir), requireOracleDim(Tables.embeddings(s, dir))),
      // Hybrid RRF: the shared BM25 oracle ranks the lexical pool, the
      // brute-cosine subquery (query vector 0) ranks the dense pool, and
      // the fusion is exact integer millionths over a full outer join.
      // The IVF-dense hybrid shares the bm25 + k-means/probe CTEs.
      // Hybrid RRF with the dense pool from the TRAINED IVF probe: the
      // shared bm25 CTE, the shared k-means/probe CTEs at nQueries = 1, the
      // exact rerank cut at the fusion pool size, then the same integer
      // fusion tail as `q_hybrid_rrf`.
      {
        import graft.operators.Pipeline.{RrfC, RrfK}
        val poolK = graft.operators.TextAnalysis.Bm25K
        val (nLists, iters) = (graft.operators.Similarity.IvfLists,
          graft.operators.Similarity.IvfTrainIters)
        s"""WITH bm AS ($bm25TopKOracle),
           |txt AS (SELECT doc_id,
           |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS text_rank
           |  FROM bm),
           |e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |    sqrt(${selfDotSql("v")}) AS nrm FROM embeddings),
           |${ivfTrainCtes(nLists, iters)},
           |${ivfProbeCtes(s"cent$iters", "c.cn", nQueries = 1)},
           |cand AS MATERIALIZED (SELECT p.query_id, a.neighbor_id
           |  FROM probes p JOIN assigned a USING (cell)
           |  WHERE a.neighbor_id <> p.query_id),
           |dn AS (SELECT neighbor_id AS doc_id, rank AS vec_rank FROM (
           |    SELECT cand.neighbor_id,
           |      row_number() OVER (
           |        ORDER BY ${dotSql("q.v", "n.v")}
           |                   / (q.nrm * n.nrm) DESC,
           |                 cand.neighbor_id ASC) AS rank
           |    FROM cand JOIN e q ON q.vec_id = cand.query_id
           |              JOIN e n ON n.vec_id = cand.neighbor_id) t
           |  WHERE rank <= $poolK)
           |SELECT COALESCE(txt.doc_id, dn.doc_id) AS doc_id, text_rank, vec_rank,
           |  COALESCE(1000000 // ($RrfC + text_rank), 0)
           |    + COALESCE(1000000 // ($RrfC + vec_rank), 0) AS rrf_micro
           |FROM txt FULL OUTER JOIN dn ON txt.doc_id = dn.doc_id
           |ORDER BY rrf_micro DESC, doc_id ASC LIMIT $RrfK""".stripMargin
      }),
    // the full retention pipeline: quality gate -> exact dedup -> near-dup
    // (near-dup stage probes the SignatureStore semi-joined to survivors)
    QueryDef("q_pipeline_retained",
      (s, dir) =>
        Pipeline.retainedCorpus(Tables.documents(s, dir),
          sigTable = Some(SignatureStore.table(s, dir))),
      // The retention pipeline's oracle chains the same three stages: quality
      // filter, exact-dedup min-keeper, then the recursive-CTE connected
      // components over the SURVIVORS' pair graph, keeping representatives.
      s"""WITH RECURSIVE t AS ($tokCte),
         |q AS (SELECT d.doc_id, d.lang, d.text
         |  FROM documents d JOIN t ON d.doc_id = t.doc_id
         |  WHERE len(t.toks) >= 10
         |    AND len(list_filter(t.toks, w -> list_contains($stopList, w))) > 0),
         |e AS (SELECT min(doc_id) AS doc_id
         |  FROM q GROUP BY md5(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g'))),
         |s AS (SELECT q.* FROM q JOIN e USING (doc_id)),
         |st AS (SELECT doc_id,
         |    regexp_split_to_array(trim(nfc_normalize(text)), '\\s+')[1:${graft.functions.TextFunctions.MaxShingleTokens}] AS toks
         |  FROM s),
         |sh AS (SELECT doc_id,
         |    CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
         |      range(0, len(toks) - 2), i -> array_to_string(toks[i+1:i+3], ' ')))
         |    ELSE CAST([] AS VARCHAR[]) END AS sh
         |  FROM st),
         |$neardupPairsCte,
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, root) AS (
         |  SELECT doc_id, doc_id FROM s
         |  UNION
         |  SELECT e2.dst, r.root FROM reach r JOIN edges e2 ON e2.src = r.id),
         |labels AS MATERIALIZED (SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id)
         |SELECT s.doc_id, s.lang FROM s JOIN labels l ON s.doc_id = l.doc_id
         |WHERE l.cluster_id = l.doc_id""".stripMargin),
    // source x source near-dup contamination matrix over the same pair set
    QueryDef("q_source_overlap",
      (s, dir) =>
        Pipeline.sourceOverlapMatrix(
          Tables.documents(s, dir),
          Dedup.nearDuplicatePairsFromTable(SignatureStore.table(s, dir))),
      // Upper-triangular source x source matrix over the same pair set.
      s"""WITH sh AS MATERIALIZED ($shCte),
         |$neardupPairsCte
         |SELECT least(da.source, db.source) AS src_a,
         |  greatest(da.source, db.source) AS src_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs p
         |JOIN documents da ON da.doc_id = p.doc_a
         |JOIN documents db ON db.doc_id = p.doc_b
         |GROUP BY 1, 2""".stripMargin),
    // quality-ranked keeper per near-dup cluster (longest member, min-id tie)
    QueryDef("q_dedup_keep_best",
      (s, dir) =>
        Pipeline.bestOfClusterKeepers(Tables.documents(s, dir),
          Dedup.nearDuplicatePairsFromTable(SignatureStore.table(s, dir))),
      // Keep-best retention: the clusters CTE (identical to q_dedup_clusters)
      // plus the portable two-agg argmax — per-cluster max token count, then
      // min doc_id among the members achieving it.
      s"""WITH RECURSIVE sh AS MATERIALIZED ($shCte),
         |$neardupPairsCte,
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id),
         |labels AS MATERIALIZED (SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id),
         |q AS (SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_toks
         |  FROM documents),
         |m AS (SELECT l.cluster_id, l.doc_id, q.n_toks
         |  FROM labels l JOIN q USING (doc_id)),
         |s AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |    max(n_toks) AS best_toks FROM m GROUP BY cluster_id)
         |SELECT m.cluster_id, min(m.doc_id) AS keeper_id, s.best_toks, s.n_members
         |FROM m JOIN s USING (cluster_id)
         |WHERE m.n_toks = s.best_toks
         |GROUP BY m.cluster_id, s.best_toks, s.n_members""".stripMargin),
    // per-source best-decile selection card (rank by classifier score)
    QueryDef("q_select_best", (s, dir) => Pipeline.selectBestPerSource(Tables.documents(s, dir)),
      // The classifier-score CTE (shared weight constants), then the same
      // total-order window rank and ceil(n/10) budget as
      // Pipeline.selectBestPerSource.
      {
        import graft.operators.TextAnalysis.{ClsSeed, ClsWeightMod, ClsWeightShift}
        import graft.operators.Pipeline.SelectBestDenom
        s"""WITH s AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_toks,
           |    CAST(coalesce(list_sum(list_transform(t,
           |      tok -> ${h60(ClsSeed, "tok")} % $ClsWeightMod - $ClsWeightShift)), 0)
           |      AS BIGINT) AS score
           |  FROM (SELECT doc_id, source,
           |      list_filter(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+'),
           |        x -> x <> '') AS t
           |    FROM documents)),
           |r AS (SELECT source, doc_id, n_toks, score,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY score DESC, doc_id ASC) AS rnk,
           |    count(*) OVER (PARTITION BY source) AS n_src
           |  FROM s)
           |SELECT source, CAST(max(n_src) AS BIGINT) AS n_docs,
           |  CAST(count(*) AS BIGINT) AS n_selected,
           |  CAST(min(score) AS BIGINT) AS cutoff_score,
           |  CAST(sum(n_toks) AS BIGINT) AS n_tokens_selected
           |FROM r WHERE rnk <= (n_src + ${SelectBestDenom - 1}) // $SelectBestDenom
           |GROUP BY source""".stripMargin
      }),
    // the one-row corpus datasheet (single scan, many axes)
    QueryDef("q_corpus_datasheet", (s, dir) => Pipeline.corpusDatasheet(Tables.documents(s, dir)),
      // One-row datasheet: every per-row column a closed form (token count,
      // split CASE, classifier fold), aggregated once.
      {
        import graft.operators.TextAnalysis.{ClsSeed, ClsWeightMod, ClsWeightShift}
        s"""WITH t AS (SELECT doc_id, source, lang,
           |    CAST(length(text) AS BIGINT) AS n_chars,
           |    list_filter(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+'),
           |      x -> x <> '') AS tks
           |  FROM documents),
           |m AS (SELECT source, lang, n_chars,
           |    CAST(len(tks) AS BIGINT) AS n_toks,
           |    ${splitSql("doc_id")} AS split,
           |    CAST(coalesce(list_sum(list_transform(tks,
           |      tok -> ${h60(ClsSeed, "tok")} % $ClsWeightMod - $ClsWeightShift)), 0)
           |      AS BIGINT) > 0 AS cls_keep
           |  FROM t)
           |SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
           |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           |  CAST(count(*) FILTER (WHERE split = 'train') AS BIGINT) AS n_train,
           |  CAST(count(*) FILTER (WHERE split = 'val') AS BIGINT) AS n_val,
           |  CAST(count(*) FILTER (WHERE split = 'test') AS BIGINT) AS n_test,
           |  CAST(count(*) FILTER (WHERE cls_keep) AS BIGINT) AS n_cls_keep
           |FROM m""".stripMargin
      }),
    // quality-signal agreement: classifier x LM-surprisal x rare-bigram,
    // the 2^3-cell detector-comparison card
    QueryDef("q_quality_agreement", (s, dir) => Pipeline.qualityAgreement(Tables.documents(s, dir)),
      // Quality-signal agreement: the classifier fold + prefixed copies of
      // the LM-surprisal and rare-bigram chains, 2^3-cell rollup
      // DuckDB mirror of `Pipeline.qualityAgreement`: the classifier fold,
      // the (prefixed) LM-surprisal chain, and the (prefixed) rare-bigram
      // chain joined per doc, corpus-relative LM flag, 2³-cell rollup.
      {
        import graft.operators.TextAnalysis.{ClsSeed, ClsWeightMod, ClsWeightShift}
        s"""WITH cls AS (SELECT doc_id,
           |    CAST(coalesce(list_sum(list_transform(
           |      list_filter(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+'),
           |        x -> x <> ''),
           |      tok -> ${h60(ClsSeed, "tok")} % $ClsWeightMod - $ClsWeightShift)), 0)
           |      AS BIGINT) > 0 AS cls_keep
           |  FROM documents),
           |${lmSurprisalCtes("l_")},
           |${rareBigramCtes("r_")},
           |lt AS (SELECT CAST(count(*) AS BIGINT) AS n_scored,
           |    CAST(sum(avg_nll_f) AS BIGINT) AS sum_avg
           |  FROM l_lmdoc WHERE n_bigrams > 0)
           |SELECT c.cls_keep,
           |  l.n_bigrams > 0 AND l.avg_nll_f * lt.n_scored > lt.sum_avg AS lm_flag,
           |  r.flagged AS rare_flag, CAST(count(*) AS BIGINT) AS n
           |FROM cls c JOIN l_lmdoc l USING (doc_id)
           |JOIN r_raredoc r USING (doc_id) CROSS JOIN lt
           |GROUP BY 1, 2, 3""".stripMargin
      }),
    // per-ingest-feed curation rollup (corpus-wide dup contamination)
    QueryDef("q_source_stats", (s, dir) => Pipeline.sourceCurationStats(Tables.documents(s, dir)),
      // Per-source curation rollup: corpus-wide fp counts joined back, then
      // per-source aggregation; avg is one division of exact BIGINTs.
      """WITH f AS (SELECT doc_id, source, lang,
        |    md5(regexp_replace(lower(trim(nfc_normalize(text))), '\s+', ' ', 'g')) AS fp,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_toks
        |  FROM documents),
        |c AS (SELECT fp, count(*) AS n_copies FROM f GROUP BY fp)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_toks) AS DOUBLE) / count(*) AS avg_tokens
        |FROM f JOIN c ON f.fp = c.fp
        |GROUP BY source""".stripMargin),
  )
}
