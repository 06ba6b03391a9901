package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._
import graft.streaming.EmbeddingStreams

/** Similarity search over embeddings (exact, LSH, IVF, PQ) and the curation cards built on it. */
object SimilarityQueries {
  // Default = the exact grid-blocked join: recall 1 by construction, and
  // the cheaper plan on this data's margin-free threshold (the LSH path
  // does ~tables/2^planes = 3x the candidate work here). The LSH variant
  // stays registered as the opt-in scale path for margin-bearing corpora.
  private val embedNeardup = QueryDef("q_embed_neardup",
    (s, dir) => Similarity.cosineNearDupPairsBlocked(Tables.embeddings(s, dir)),
    // Pairs only (no float column): cosine values are not bit-portable
    // across engines; the closest pair sits 5.5e-4 from the 0.45 threshold
    // at sf0.01, far beyond any fp divergence. The oracle brute-forces all
    // pairs; the engine's grid-blocked join is exact by construction.
    """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45""".stripMargin)
  // embedding-space drift at the ingest boundary: per-cell occupancy
  // shares of the incoming fifth vs the corpus, frozen cells
  private val embedDrift = QueryDef("q_embed_drift",
    (s, dir) => Similarity.embeddingDrift(Tables.embeddings(s, dir)),
    // DuckDB mirror of `Similarity.embeddingDrift`: corpus-trained cells,
    // per-side occupancy histograms, milli shares over a full-outer join.
    {
      val (nLists, iters) = (graft.operators.Similarity.IvfLists,
        graft.operators.Similarity.IvfTrainIters)
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(${selfDotSql("v")}) AS nrm
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |sp AS (SELECT (max(vec_id) + 1) * 4 // 5 AS s FROM embeddings),
         |ec AS (SELECT e.* FROM e, sp WHERE e.vec_id < sp.s),
         |${ivfTrainCtes(nLists, iters, src = "ec")},
         |${ivfProbeCtes(s"cent$iters", "c.cn")},
         |ch AS (SELECT a.cell, CAST(count(*) AS BIGINT) AS n_corpus
         |  FROM assigned a CROSS JOIN sp WHERE a.neighbor_id < sp.s
         |  GROUP BY a.cell),
         |shh AS (SELECT a.cell, CAST(count(*) AS BIGINT) AS n_shard
         |  FROM assigned a CROSS JOIN sp WHERE a.neighbor_id >= sp.s
         |  GROUP BY a.cell),
         |tot AS (SELECT (SELECT CAST(sum(n_corpus) AS BIGINT) FROM ch) AS t_corpus,
         |               (SELECT CAST(sum(n_shard) AS BIGINT) FROM shh) AS t_shard)
         |SELECT cell, coalesce(n_corpus, 0) AS n_corpus,
         |  coalesce(n_shard, 0) AS n_shard,
         |  CASE WHEN t_corpus > 0
         |       THEN (coalesce(n_corpus, 0) * 1000) // t_corpus ELSE 0 END
         |    AS corpus_milli,
         |  CASE WHEN t_shard > 0
         |       THEN (coalesce(n_shard, 0) * 1000) // t_shard ELSE 0 END
         |    AS shard_milli,
         |  abs(CASE WHEN t_shard > 0
         |           THEN (coalesce(n_shard, 0) * 1000) // t_shard ELSE 0 END
         |    - CASE WHEN t_corpus > 0
         |           THEN (coalesce(n_corpus, 0) * 1000) // t_corpus ELSE 0 END)
         |    AS delta_milli
         |FROM ch FULL OUTER JOIN shh USING (cell) CROSS JOIN tot""".stripMargin
    })
  // continuous-ingestion SemDeDup: the incoming fifth probes the
  // corpus's persisted cells; the corpus is never self-joined again
  private val semdedupIncremental = QueryDef("q_semdedup_incremental",
    (s, dir) => Similarity.semDeDupIncremental(Tables.embeddings(s, dir)),
    // DuckDB mirror of `Similarity.semDeDupIncremental` — the same
    // training CTEs restricted to the corpus below the ⌊4·(max+1)/5⌋
    // ingest boundary (centroids are the persisted artifact; a batch must
    // not shift them), ONE assignment pass over everything (corpus and
    // shard score against identical centroids), then the asymmetric
    // corpus→shard drop rule.
    {
      val (nLists, iters) = (graft.operators.Similarity.IvfLists,
        graft.operators.Similarity.IvfTrainIters)
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(${selfDotSql("v")}) AS nrm
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |sp AS (SELECT (max(vec_id) + 1) * 4 // 5 AS s FROM embeddings),
         |ec AS (SELECT e.* FROM e, sp WHERE e.vec_id < sp.s),
         |${ivfTrainCtes(nLists, iters, src = "ec")},
         |${ivfProbeCtes(s"cent$iters", "c.cn")},
         |dropped AS (SELECT DISTINCT b.neighbor_id AS j
         |  FROM assigned a
         |  JOIN assigned b ON a.cell = b.cell
         |  JOIN embeddings ea ON ea.vec_id = a.neighbor_id
         |  JOIN embeddings eb ON eb.vec_id = b.neighbor_id
         |  CROSS JOIN sp
         |  WHERE a.neighbor_id < sp.s AND b.neighbor_id >= sp.s
         |    AND list_cosine_similarity(ea.embedding, eb.embedding) >= 0.45)
         |SELECT b.neighbor_id AS vec_id, b.cell AS cell,
         |  b.neighbor_id NOT IN (SELECT j FROM dropped) AS kept
         |FROM assigned b CROSS JOIN sp WHERE b.neighbor_id >= sp.s""".stripMargin
    })
  // The trained-centroid production path: 2 k-means rounds, whole loop
  // replayed by the oracle (integer-quantized means are bit-portable).
  private val annIvfTrained = QueryDef("ann_ivf_trained",
    (s, dir) =>
      Similarity.ivfTopK(requireOracleDim(Tables.embeddings(s, dir)), trainIters = 2),
    // DuckDB mirror of `Similarity.ivfTopK(trainIters = 2)` — the k-means
    // loop itself is replayed in SQL: cent0 = first-8 seeds, then per round
    // an assignment CTE (same cosine, same (cs DESC, i DESC) tie-break) and
    // a mean CTE. The mean is portable because the engine quantizes it:
    // per-dimension sums are integers of x·2²⁰ (order-independent), divided
    // CAST-to-DOUBLE / n / 2²⁰ in that pinned order, rounded back to FLOAT —
    // so DuckDB recomputes the exact same centroid bits and every
    // downstream cosine/rank agrees at hash level. Empty cells keep the
    // previous round's centroid (COALESCE over a LEFT JOIN).
    {
      val (nLists, iters) = (graft.operators.Similarity.IvfLists,
        graft.operators.Similarity.IvfTrainIters)
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(${selfDotSql("v")}) AS nrm FROM embeddings),
         |${ivfTrainCtes(nLists, iters)},
         |${annIvfTailSql(s"cent$iters", "c.cn")}""".stripMargin
    })
  // Product quantization: subspace k-means codebooks → 8-byte codes →
  // exhaustive ADC scan → exact rerank; the whole pipeline (training
  // included) is replayed by the oracle.
  private val annPq = QueryDef("ann_pq",
    (s, dir) => ProductQuantization.pqTopK(requireOracleDim(Tables.embeddings(s, dir))),
    // DuckDB mirror of `ProductQuantization.pqTopK()` — the ENTIRE pipeline
    // replayed: per-subspace k-means (same quantized-mean portability trick
    // as the `ann_ivf_trained` oracle, same (distance ASC, code ASC) assignment
    // tie-break), final encoding, exhaustive ADC scoring through the
    // trained codebooks, top-RerankDepth recall, exact-cosine rerank. Every
    // double chain (+, left-assoc) mirrors the engine's reduceLeft order,
    // so the ranking agrees bit-for-bit.
    {
      import graft.operators.ProductQuantization.{RerankDepth, TrainSampleN, NumQueries}
      val p = pqSqlParts(trainSrc = "et")
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(${selfDotSql("v")}) AS nrm
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |et AS (SELECT * FROM e WHERE vec_id < $TrainSampleN),
         |${p.ctes},
         |adc AS (SELECT qq.vec_id AS query_id, x.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qq.vec_id
         |      ORDER BY (${p.scoreSql}) / (qq.nrm * sqrt(${p.nsSql})) DESC,
         |               x.vec_id ASC) AS rn
         |  FROM e qq JOIN codes x ON qq.vec_id <> x.vec_id ${p.cwJoins}
         |  WHERE qq.vec_id < $NumQueries),
         |cand AS (SELECT query_id, neighbor_id FROM adc WHERE rn <= $RerankDepth),
         |$exactRerankSql""".stripMargin
    })
  // IVF-ADC: the composed production ANN shape — IVF cells prune the
  // candidate set, PQ codes compress the scan, exact rerank finishes.
  // Both training loops replayed by the oracle.
  private val annIvfpq = QueryDef("ann_ivfpq",
    (s, dir) => ProductQuantization.ivfPqTopK(requireOracleDim(Tables.embeddings(s, dir))),
    annIvfPqOracle)

  val all: Seq[QueryDef] = Seq(
    // Per-dimension INT8 scalar-quantization error card (FAISS SQ8).
    QueryDef("q_embed_quant", (s, dir) => Similarity.int8QuantReport(Tables.embeddings(s, dir)),
      // INT8 quantization: codes/reconstruction replayed on identical
      // doubles, errors floored to integer 2^20ths before summing.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |x AS (SELECT vec_id, i AS d, v[i] AS x
        |  FROM e, unnest(range(1, len(v) + 1)) AS t(i)),
        |s AS (SELECT d, min(x) AS mn, max(x) AS mx FROM x GROUP BY d),
        |q AS (SELECT x.d, s.mn, s.mx,
        |    abs(CASE WHEN s.mx = s.mn THEN s.mn
        |         ELSE s.mn + (least(255, CAST(floor((x.x - s.mn) * 256
        |                / (s.mx - s.mn)) AS BIGINT)) + 0.5)
        |              * (s.mx - s.mn) / 256 END - x.x) AS err
        |  FROM x JOIN s USING (d))
        |SELECT d, mn, mx, CAST(count(*) AS BIGINT) AS n_vals,
        |  CAST(sum(CAST(floor(err * 1048576) AS BIGINT)) AS BIGINT) AS sum_err_q,
        |  CAST(max(CAST(floor(err * 1048576) AS BIGINT)) AS BIGINT) AS max_err_q
        |FROM q GROUP BY d, mn, mx""".stripMargin),
    embedNeardup,
    // The LSH variant's candidates + exact verify return the same set on
    // this data (recall 1 measured with >= 5-table margin at every SF — see
    // Similarity.NearDupPlanes) — same oracle.
    QueryDef.twin("q_embed_neardup_lsh", embedNeardup,
      (s, dir) => Similarity.cosineNearDupPairs(Tables.embeddings(s, dir))),
    // SemDeDup: k-means cells bound the pair search; smaller-id in-cell
    // near-dups drop the vector (deterministic keep-one rule)
    QueryDef("q_semdedup", (s, dir) => Similarity.semDeDup(Tables.embeddings(s, dir)),
      // DuckDB mirror of `Similarity.semDeDup` — the `ann_ivf_trained`
      // k-means/assignment CTEs verbatim (same centroids, same (cosine DESC,
      // cell DESC) argmax), then brute-force in-cell pairs at the
      // margin-protected 0.45 threshold (the `q_embed_neardup` idiom — the
      // oracle needs no rep collapse because the collapse is a pure
      // optimization: identical vectors pair at cosine ≈ 1) and the
      // smaller-id drop rule as a NOT IN.
      {
        val (nLists, iters) = (graft.operators.Similarity.IvfLists,
          graft.operators.Similarity.IvfTrainIters)
        s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |    sqrt(${selfDotSql("v")}) AS nrm
           |  FROM embeddings WHERE embedding IS NOT NULL),
           |${ivfTrainCtes(nLists, iters)},
           |${ivfProbeCtes(s"cent$iters", "c.cn")},
           |pairs AS (SELECT a.neighbor_id AS i, b.neighbor_id AS j
           |  FROM assigned a JOIN assigned b
           |    ON a.cell = b.cell AND a.neighbor_id < b.neighbor_id
           |  JOIN embeddings ea ON ea.vec_id = a.neighbor_id
           |  JOIN embeddings eb ON eb.vec_id = b.neighbor_id
           |  WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.45)
           |SELECT a.neighbor_id AS vec_id, a.cell AS cell,
           |  a.neighbor_id NOT IN (SELECT j FROM pairs) AS kept
           |FROM assigned a""".stripMargin
      }),
    // cluster-balanced diversity sampling: √cell-size budget allocation
    // over the trained k-means cells, content-hash Bernoulli within cell
    QueryDef("q_sample_diverse",
      (s, dir) => Similarity.cellBalancedSample(Tables.embeddings(s, dir)),
      // DuckDB mirror of `Similarity.cellBalancedSample` — the
      // `ann_ivf_trained` k-means/assignment CTEs verbatim, then the
      // √cell-size budget allocation (floor(sqrt) over an IEEE sqrt — exact
      // for n < 2^52) and the 20-bit content-hash Bernoulli draw as integer
      // cross-multiplication, per-cell kept counts left-joined back onto the
      // budget card.
      {
        val (nLists, iters) = (graft.operators.Similarity.IvfLists,
          graft.operators.Similarity.IvfTrainIters)
        val denom = graft.operators.Similarity.DiverseSampleDenom
        val seed = graft.operators.Similarity.DiverseSampleSeed
        s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |    sqrt(${selfDotSql("v")}) AS nrm
           |  FROM embeddings WHERE embedding IS NOT NULL),
           |${ivfTrainCtes(nLists, iters)},
           |${ivfProbeCtes(s"cent$iters", "c.cn")},
           |sizes AS (SELECT cell, CAST(count(*) AS BIGINT) AS n,
           |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS isq
           |  FROM assigned GROUP BY cell),
           |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
           |    CAST(sum(isq) AS BIGINT) AS isq_total FROM sizes),
           |budgets AS (SELECT cell, n, isq,
           |    ((n_total // $denom) * isq) // isq_total AS budget
           |  FROM sizes CROSS JOIN tot),
           |kept AS (SELECT a.cell, CAST(count(*) AS BIGINT) AS n_kept
           |  FROM assigned a JOIN budgets b USING (cell)
           |  WHERE (${h60(seed, "CAST(a.neighbor_id AS VARCHAR)")} % 1048576) * b.n
           |        < b.budget * 1048576
           |  GROUP BY a.cell)
           |SELECT b.cell, b.n, b.isq, b.budget, coalesce(k.n_kept, 0) AS n_kept
           |FROM budgets b LEFT JOIN kept k USING (cell)""".stripMargin
      }),
    // label-relevance retrieval eval: MRR + recall@k of the embedding
    // space itself (exact cosine ranking, integer milli metrics)
    QueryDef("q_retrieval_eval", (s, dir) => Similarity.retrievalEval(Tables.embeddings(s, dir)),
      // retrieval eval: exact-cosine global rank per query, label relevance,
      // integer milli MRR / recall@k
      {
        val (nQ, k) = (10, 10)
        s"""WITH nz AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
           |    sqrt(${selfDotSql("CAST(embedding AS DOUBLE[])")}) AS nrm
           |  FROM embeddings WHERE embedding IS NOT NULL
           |    AND sqrt(${selfDotSql("CAST(embedding AS DOUBLE[])")}) > 0.0),
           |lc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_label
           |  FROM nz GROUP BY label),
           |r AS (SELECT q.vec_id AS query_id, q.label AS q_label,
           |    c.label AS nb_label,
           |    row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
           |               c.vec_id ASC) AS rank
           |  FROM nz q JOIN nz c ON q.vec_id < $nQ AND c.vec_id <> q.vec_id),
           |rk AS (SELECT * FROM r WHERE rank <= $k),
           |pq AS (SELECT query_id, q_label,
           |    CAST(sum(CASE WHEN nb_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
           |      AS hits,
           |    min(CASE WHEN nb_label = q_label THEN rank END) AS first_rank
           |  FROM rk GROUP BY query_id, q_label),
           |qs AS (SELECT vec_id AS query_id, label AS q_label
           |  FROM nz WHERE vec_id < $nQ)
           |SELECT qs.query_id, qs.q_label AS label,
           |  lc.n_label - 1 AS n_relevant,
           |  CAST(coalesce(first_rank, 0) AS BIGINT) AS first_rel_rank,
           |  CASE WHEN first_rank IS NOT NULL THEN 1000 // first_rank
           |       ELSE 0 END AS rr_milli,
           |  coalesce(hits, 0) AS hits_at_k,
           |  CASE WHEN lc.n_label > 1
           |       THEN (coalesce(hits, 0) * 1000)
           |            // least(CAST($k AS BIGINT), lc.n_label - 1)
           |       ELSE 0 END AS recall_milli
           |FROM qs LEFT JOIN pq
           |  ON qs.query_id = pq.query_id AND qs.q_label = pq.q_label
           |JOIN lc ON qs.q_label = lc.label""".stripMargin
      }),
    // SEMANTIC split leakage: eval vectors probed against the train
    // side's frozen cells at cosine >= 0.8 — catches what string
    // decontamination misses
    QueryDef("q_semantic_leakage",
      (s, dir) => Similarity.semanticLeakage(Tables.embeddings(s, dir)),
      // DuckDB mirror of `Similarity.semanticLeakage`: k-means on the
      // train side only (vec_id % 10 ≠ 0), both sides assigned under those
      // centroids, brute-force train×eval in-cell pairs at 0.8.
      {
        val (nLists, iters) = (graft.operators.Similarity.IvfLists,
          graft.operators.Similarity.IvfTrainIters)
        val t = graft.operators.Similarity.SemanticLeakThreshold
        s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |    sqrt(${selfDotSql("v")}) AS nrm
           |  FROM embeddings WHERE embedding IS NOT NULL),
           |ec AS (SELECT e.* FROM e WHERE e.vec_id % 10 <> 0),
           |${ivfTrainCtes(nLists, iters, src = "ec")},
           |${ivfProbeCtes(s"cent$iters", "c.cn")},
           |leaked AS (SELECT DISTINCT b.neighbor_id AS j
           |  FROM assigned a
           |  JOIN assigned b ON a.cell = b.cell
           |  JOIN embeddings ea ON ea.vec_id = a.neighbor_id
           |  JOIN embeddings eb ON eb.vec_id = b.neighbor_id
           |  WHERE a.neighbor_id % 10 <> 0 AND b.neighbor_id % 10 = 0
           |    AND list_cosine_similarity(ea.embedding, eb.embedding) >= $t)
           |SELECT b.neighbor_id AS vec_id, b.cell AS cell,
           |  b.neighbor_id IN (SELECT j FROM leaked) AS leaked
           |FROM assigned b WHERE b.neighbor_id % 10 = 0""".stripMargin
      }),
    embedDrift,
    // streaming twin: per-micro-batch cell counts summed into the same
    // card through the shared driftCardOf
    QueryDef.twin("q_stream_embed_drift", embedDrift,
      (s, dir) => EmbeddingStreams.embeddingDriftToBatch(s, dir)),
    // stored-index STALENESS: ann_ivf_stored's persisted centroids probed
    // against a drifted replica (reversed-dim twins), recall vs a fresh
    // retrain per region, retrain verdict — what the artifact stores
    // defer and a real pipeline must trigger on (r15)
    QueryDef("q_ann_stale", (s, dir) => Similarity.annStalenessCard(s, dir),
      // DuckDB replay of `Similarity.annStalenessCard`: the drifted corpus
      // (even ids original, odd ids dimension-reversed), the STORED
      // centroid chain (k-means over the original corpus — bit-identical to
      // CentroidStore's artifact, as `ann_ivf_stored` proves), a FRESH
      // chain over the drifted corpus, both probes + candidate masses +
      // brute-force truth, and the per-region milli-recall/retrain fold.
      {
        val (nLists, iters) = (graft.operators.Similarity.IvfLists,
          graft.operators.Similarity.IvfTrainIters)
        val nq = 20
        val k = 5
        val margin = graft.operators.Similarity.DriftRetrainMarginMilli
        def tail(pfx: String): String =
          s"""${pfx}cand AS (SELECT p.query_id, a.neighbor_id
             |  FROM ${pfx}probes p JOIN ${pfx}assigned a USING (cell)
             |  WHERE a.neighbor_id <> p.query_id),
             |${pfx}topk AS (SELECT query_id, neighbor_id FROM (
             |    SELECT c.query_id, c.neighbor_id,
             |      row_number() OVER (PARTITION BY c.query_id
             |        ORDER BY ${dotSql("q.v", "n.v")}
             |                   / (q.nrm * n.nrm) DESC,
             |                 c.neighbor_id ASC) AS rank
             |    FROM ${pfx}cand c JOIN d q ON q.vec_id = c.query_id
             |                      JOIN d n ON n.vec_id = c.neighbor_id) x
             |  WHERE rank <= $k)""".stripMargin
        s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |    sqrt(${selfDotSql("v")}) AS nrm
           |  FROM embeddings WHERE embedding IS NOT NULL),
           |d AS MATERIALIZED (SELECT vec_id, v, sqrt(${selfDotSql("v")}) AS nrm
           |  FROM (SELECT vec_id * 2 AS vec_id, v FROM e
           |    UNION ALL SELECT vec_id * 2 + 1, list_reverse(v) FROM e) d0),
           |${ivfTrainCtes(nLists, iters)},
           |${ivfTrainCtes(nLists, iters, src = "d", pfx = "f")},
           |${ivfProbeCtes(s"cent$iters", "c.cn", nq, pfx = "st", src = "d")},
           |${tail("st")},
           |${ivfProbeCtes(s"fcent$iters", "c.cn", nq, pfx = "fr", src = "d")},
           |${tail("fr")},
           |truth AS (SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${dotSql("q.v", "n.v")}
           |                   / (q.nrm * n.nrm) DESC,
           |                 n.vec_id ASC) AS rank
           |    FROM d q JOIN d n ON n.vec_id <> q.vec_id WHERE q.vec_id < $nq) x
           |  WHERE rank <= $k),
           |poss AS (SELECT query_id % 2 AS r, CAST(count(*) AS BIGINT) AS n_possible
           |  FROM truth GROUP BY 1),
           |hs AS (SELECT t.query_id % 2 AS r, CAST(count(*) AS BIGINT) AS hits_stored
           |  FROM truth t JOIN sttopk USING (query_id, neighbor_id) GROUP BY 1),
           |hf AS (SELECT t.query_id % 2 AS r, CAST(count(*) AS BIGINT) AS hits_fresh
           |  FROM truth t JOIN frtopk USING (query_id, neighbor_id) GROUP BY 1),
           |cs AS (SELECT query_id % 2 AS r, CAST(count(*) AS BIGINT) AS cand_stored
           |  FROM stcand GROUP BY 1),
           |cf AS (SELECT query_id % 2 AS r, CAST(count(*) AS BIGINT) AS cand_fresh
           |  FROM frcand GROUP BY 1)
           |SELECT CASE WHEN r = 0 THEN 'base' ELSE 'drifted' END AS region,
           |  n_possible,
           |  coalesce(hits_stored, 0) AS hits_stored,
           |  coalesce(hits_fresh, 0) AS hits_fresh,
           |  coalesce(hits_stored, 0) * 1000 // n_possible AS recall_stored_milli,
           |  coalesce(hits_fresh, 0) * 1000 // n_possible AS recall_fresh_milli,
           |  coalesce(cand_stored, 0) AS cand_stored,
           |  coalesce(cand_fresh, 0) AS cand_fresh,
           |  (coalesce(hits_fresh, 0) * 1000 // n_possible
           |     - coalesce(hits_stored, 0) * 1000 // n_possible) > $margin AS retrain
           |FROM poss LEFT JOIN hs USING (r) LEFT JOIN hf USING (r)
           |  LEFT JOIN cs USING (r) LEFT JOIN cf USING (r)""".stripMargin
      }),
    // METADATA-FILTERED ANN (the RAG-serving shape): stored-index IVF
    // probe with the label class composed into the candidate JOIN KEY —
    // the filter prunes before any cosine (r16)
    QueryDef("q_ann_filtered",
      (s, dir) => {
        requireOracleDim(Tables.embeddings(s, dir))
        Similarity.ivfFilteredTopK(s, dir)
      },
      // metadata-filtered IVF probe: label class in the candidate join
      // DuckDB replay of `Similarity.ivfFilteredTopK` (r16): the trained
      // centroids (the stored index trains on the corpus as it is — the
      // `ann_ivf_stored` argument), the shared probe CTEs, then the label
      // class composed into the candidate join exactly like the engine's
      // (cell, fl) key, and the shared exact rerank.
      {
        val (nLists, iters) = (graft.operators.Similarity.IvfLists,
          graft.operators.Similarity.IvfTrainIters)
        val m = graft.operators.Similarity.FilteredLabelMod
        s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |    sqrt(${selfDotSql("v")}) AS nrm FROM embeddings),
           |lab AS (SELECT vec_id, label FROM embeddings),
           |${ivfTrainCtes(nLists, iters)},
           |${ivfProbeCtes(s"cent$iters", "c.cn")},
           |cand AS MATERIALIZED (SELECT p.query_id, a.neighbor_id
           |  FROM probes p JOIN assigned a USING (cell)
           |  JOIN lab ql ON ql.vec_id = p.query_id
           |  JOIN lab al ON al.vec_id = a.neighbor_id
           |  WHERE a.neighbor_id <> p.query_id AND ql.label % $m = al.label % $m),
           |$exactRerankSql""".stripMargin
      }),
    // recall-vs-filter-selectivity: filtered probe vs filtered brute
    // force at label-congruence tiers 10/5/2/1 — prices the candidate
    // starvation narrowing filters cause (r16)
    QueryDef("q_ann_filtered_recall",
      (s, dir) => {
        requireOracleDim(Tables.embeddings(s, dir))
        Similarity.annFilteredRecallCard(s, dir)
      },
      // recall vs filter selectivity at label-congruence tiers 10/5/2/1
      // DuckDB replay of `Similarity.annFilteredRecallCard` (r16): ONE
      // labeled query×corpus cosine frame and ONE unfiltered probe pair
      // set, then per [[graft.operators.Similarity.FilterMods]] tier the
      // filtered truth, filtered candidates, filtered top-k, and the
      // integer recall/pool/candidate counts, unioned.
      {
        val (nLists, iters) = (graft.operators.Similarity.IvfLists,
          graft.operators.Similarity.IvfTrainIters)
        val (nq, k) = (10, 5)
        val mods = graft.operators.Similarity.FilterMods
        def tier(m: Int): String =
          s"""t$m AS (SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
             |      ORDER BY cs DESC, neighbor_id ASC) AS rank
             |    FROM cosf WHERE q_label % $m = n_label % $m) x WHERE rank <= $k),
             |f$m AS (SELECT c.query_id, c.neighbor_id, c.cs FROM cp
             |  JOIN cosf c USING (query_id, neighbor_id)
             |  WHERE c.q_label % $m = c.n_label % $m),
             |k$m AS (SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
             |      ORDER BY cs DESC, neighbor_id ASC) AS rank FROM f$m) x WHERE rank <= $k),
             |r$m AS (SELECT $m AS filter_mod,
             |    (SELECT CAST(count(*) AS BIGINT) FROM cosf
             |       WHERE q_label % $m = n_label % $m) AS n_pool,
             |    (SELECT CAST(count(*) AS BIGINT) FROM t$m) AS n_possible,
             |    (SELECT CAST(count(*) AS BIGINT) FROM t$m
             |       JOIN k$m USING (query_id, neighbor_id)) AS n_hits,
             |    (SELECT CAST(count(*) AS BIGINT) FROM f$m) AS n_cand)""".stripMargin
        s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |    sqrt(${selfDotSql("v")}) AS nrm FROM embeddings),
           |lab AS (SELECT vec_id, label FROM embeddings),
           |${ivfTrainCtes(nLists, iters)},
           |${ivfProbeCtes(s"cent$iters", "c.cn", nq)},
           |cp AS (SELECT p.query_id, a.neighbor_id
           |  FROM probes p JOIN assigned a USING (cell)
           |  WHERE a.neighbor_id <> p.query_id),
           |cosf AS (SELECT q.vec_id AS query_id, ql.label AS q_label,
           |    n.vec_id AS neighbor_id, nl.label AS n_label,
           |    ${dotSql("q.v", "n.v")} / (q.nrm * n.nrm) AS cs
           |  FROM e q JOIN e n ON n.vec_id <> q.vec_id
           |  JOIN lab ql ON ql.vec_id = q.vec_id
           |  JOIN lab nl ON nl.vec_id = n.vec_id
           |  WHERE q.vec_id < $nq),
           |${mods.map(tier).mkString(",\n")}
           |SELECT filter_mod, n_pool, n_possible, n_hits,
           |  CASE WHEN n_possible > 0 THEN n_hits * 1000 // n_possible ELSE 0 END AS recall_milli,
           |  n_cand
           |FROM (${mods.map(m => s"SELECT * FROM r$m").mkString(" UNION ALL ")})""".stripMargin
      }),
    semdedupIncremental,
    // the same probe as a stream: per-micro-batch assignment + index
    // probe inside foreachBatch (stateless; same frozen index, same verdicts)
    QueryDef.twin("q_stream_semdedup_incremental", semdedupIncremental,
      (s, dir) => EmbeddingStreams.semDeDupIncrementalToBatch(s, dir)),
    // semi-supervised label assignment: nearest labeled seed within the
    // trained-IVF cell (1-NN, cell-keyed equi-join, never corpus^2)
    QueryDef("q_knn_label", (s, dir) => Similarity.cellKnnLabel(Tables.embeddings(s, dir)),
      // DuckDB mirror of `Similarity.cellKnnLabel` — the `ann_ivf_trained`
      // k-means/assignment CTEs verbatim, then the in-cell query×seed cosine
      // join (seeds: vec_id ≡ 0 mod LabelSeedMod, zero-norm rows excluded on
      // both sides) and the portable two-agg argmax: max cosine per query,
      // min seed id among the rows achieving it. The cosine is the same
      // left-assoc [[dotSql]] chain the engine's kernel evaluates, so the
      // equality join on `cos = best_cos` — and the emitted `best_cos`
      // itself — are bit-exact.
      {
        val (nLists, iters) = (graft.operators.Similarity.IvfLists,
          graft.operators.Similarity.IvfTrainIters)
        val mod = graft.operators.Similarity.LabelSeedMod
        s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |    sqrt(${selfDotSql("v")}) AS nrm
           |  FROM embeddings WHERE embedding IS NOT NULL),
           |${ivfTrainCtes(nLists, iters)},
           |${ivfProbeCtes(s"cent$iters", "c.cn")},
           |nz AS (SELECT a.neighbor_id AS vec_id, a.cell, emb.label, e.v,
           |    e.nrm AS nrm
           |  FROM assigned a JOIN e ON e.vec_id = a.neighbor_id
           |  JOIN embeddings emb ON emb.vec_id = a.neighbor_id
           |  WHERE e.nrm > 0.0),
           |scored AS (SELECT q.vec_id, q.cell, q.label AS true_label,
           |    s.vec_id AS nb_id, s.label AS nb_label,
           |    ${dotSql("q.v", "s.v")} / (q.nrm * s.nrm) AS cos
           |  FROM nz q JOIN nz s ON q.cell = s.cell
           |  WHERE q.vec_id % $mod <> 0 AND s.vec_id % $mod = 0),
           |best AS (SELECT vec_id, max(cos) AS best_cos FROM scored GROUP BY vec_id),
           |pick AS (SELECT sc.vec_id, sc.cell, sc.true_label, b.best_cos,
           |    min(sc.nb_id) AS nb_id
           |  FROM scored sc JOIN best b ON sc.vec_id = b.vec_id AND sc.cos = b.best_cos
           |  GROUP BY 1, 2, 3, 4)
           |SELECT p.vec_id, p.cell, p.true_label, s.label AS pred_label, p.best_cos,
           |  s.label = p.true_label AS correct
           |FROM pick p JOIN embeddings s ON s.vec_id = p.nb_id""".stripMargin
      }),
    // per-cell outlier report: cosine of each vector to its own trained
    // centroid, rolled up to |cells| rows (the embedding-junk monitor)
    QueryDef("q_embed_outliers",
      (s, dir) => Similarity.cellOutlierReport(Tables.embeddings(s, dir)),
      // DuckDB mirror of `Similarity.cellOutlierReport` — the
      // `ann_ivf_trained` k-means/assignment CTEs verbatim, then each
      // vector's cosine to its OWN cell's centroid (the same left-assoc
      // [[dotSql]] chain, zero-norm rows excluded as in the `q_knn_label` oracle)
      // and the per-cell rollup with the integer-milli outlier rate.
      {
        val (nLists, iters) = (graft.operators.Similarity.IvfLists,
          graft.operators.Similarity.IvfTrainIters)
        val thr = graft.operators.Similarity.OutlierCos
        s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |    sqrt(${selfDotSql("v")}) AS nrm
           |  FROM embeddings WHERE embedding IS NOT NULL),
           |${ivfTrainCtes(nLists, iters)},
           |${ivfProbeCtes(s"cent$iters", "c.cn")},
           |cs AS (SELECT a.cell,
           |    ${dotSql("e.v", "c.c")}
           |      / (e.nrm * c.cn) AS cos
           |  FROM assigned a JOIN e ON e.vec_id = a.neighbor_id
           |  JOIN cent$iters c ON c.i = a.cell
           |  WHERE e.nrm > 0.0)
           |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
           |  CAST(count(*) FILTER (WHERE cos < $thr) AS BIGINT) AS n_outliers,
           |  CAST(count(*) FILTER (WHERE cos < $thr) AS BIGINT) * 1000
           |    // CAST(count(*) AS BIGINT) AS outlier_rate_milli,
           |  min(cos) AS min_cos
           |FROM cs GROUP BY cell""".stripMargin
      }),
    QueryDef("q_ann_bruteforce", (s, dir) => Similarity.bruteForceTopK(Tables.embeddings(s, dir)),
      annBruteforceOracle),
    // hard negatives: top-k most-similar vectors with a DIFFERENT label
    QueryDef("q_hard_negatives", (s, dir) => Similarity.hardNegatives(Tables.embeddings(s, dir)),
      // Same ranking contract as the brute-force oracle, with the label
      // inequality in the join — ranks are per-query over the negative set
      """SELECT query_id, query_label, neighbor_id, neighbor_label, rank FROM (
        |  SELECT a.vec_id AS query_id, a.label AS query_label,
        |    b.vec_id AS neighbor_id, b.label AS neighbor_label,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
        |               b.vec_id ASC) AS rank
        |  FROM embeddings a JOIN embeddings b ON b.label <> a.label
        |  WHERE a.vec_id < 10) t
        |WHERE rank <= 5""".stripMargin),
    // JL random projection: exploded (vec_id, k, component) reduced vectors
    QueryDef("q_embed_rp", (s, dir) => Similarity.randomProjections(Tables.embeddings(s, dir)),
      // JL random projection: each component is one of the engine's ±v[d]
      // signed sums (same md5 hyperplane family, same left-to-right order),
      // emitted per (vec_id, k) via the same explode shape.
      {
        import graft.operators.Similarity.{RpPlanes, RpTable}
        val hps = graft.operators.Similarity.hyperplanes(RpTable, RpPlanes, EmbDim)
        val cases = (0 until RpPlanes)
          .map(p => s"WHEN $p THEN ${signedSumSql("v", hps(p))}")
          .mkString("\n    ")
        s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(${selfDotSql("v")}) AS nrm FROM embeddings)
           |SELECT e.vec_id, CAST(k.i AS INTEGER) AS k,
           |  CASE k.i
           |    $cases
           |  END AS rp_value
           |FROM e CROSS JOIN range(0, $RpPlanes) k(i)""".stripMargin
      }),
    // int8 scalar quantization: per-dim ranges -> codes + midpoint error
    QueryDef("q_embed_sq8", (s, dir) => Similarity.scalarQuantize(Tables.embeddings(s, dir)),
      // Scalar quantization replayed exactly: same per-dim ranges, same
      // pinned double-op order for codes and midpoint error, same 255 clamp.
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(${selfDotSql("v")}) AS nrm FROM embeddings),
         |c AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS d, v[i] AS v
         |  FROM e CROSS JOIN range(1, ${EmbDim + 1}) t(i)),
         |r AS (SELECT d, min(v) AS mn, max(v) AS mx FROM c GROUP BY d),
         |qt AS (SELECT c.vec_id, c.d, c.v, r.mn, r.mx,
         |    CASE WHEN r.mx = r.mn THEN 0
         |         ELSE least(CAST(floor(((c.v - r.mn) * 255.0) / (r.mx - r.mn)) AS BIGINT),
         |                    255) END AS q
         |  FROM c JOIN r USING (d))
         |SELECT vec_id, d, q,
         |  abs(v - (mn + ((q + 0.5) * (mx - mn)) / 255.0)) AS err
         |FROM qt""".stripMargin),
    // per-label class prototypes (quantized-portable means)
    QueryDef("q_label_centroids", (s, dir) => Similarity.labelCentroids(Tables.embeddings(s, dir)),
      // Label prototypes: the k-means quantized-mean portability trick
      // (integer sums, pinned division order, FLOAT round-trip).
      {
        val q = graft.operators.Similarity.MeanQuantum
        s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |c AS (SELECT label, CAST(i - 1 AS INTEGER) AS d, v[i] AS v
           |  FROM e CROSS JOIN range(1, ${EmbDim + 1}) t(i)),
           |m AS (SELECT label, d,
           |    CAST(sum(CAST(round(v * $q) AS BIGINT)) AS BIGINT) AS s, count(*) AS n
           |  FROM c GROUP BY label, d)
           |SELECT label, d,
           |  CAST(CAST(CAST(s AS DOUBLE) / n / $q.0 AS FLOAT) AS DOUBLE) AS c
           |FROM m""".stripMargin
      }),
    // nearest-centroid confusion matrix over the label prototypes
    QueryDef("q_nearest_centroid",
      (s, dir) => Similarity.nearestCentroidConfusion(Tables.embeddings(s, dir)),
      // Nearest-centroid assignment: same quantized prototypes, same
      // left-assoc dot chains, same (cos DESC, label ASC) tie-break.
      {
        val q = graft.operators.Similarity.MeanQuantum
        s"""WITH e AS MATERIALIZED (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
           |    sqrt(${selfDotSql("v")}) AS nrm FROM embeddings),
           |c AS (SELECT label, CAST(i - 1 AS INTEGER) AS d, v[i] AS v
           |  FROM e CROSS JOIN range(1, ${EmbDim + 1}) t(i)),
           |m AS (SELECT label, d,
           |    CAST(sum(CAST(round(v * $q) AS BIGINT)) AS BIGINT) AS s, count(*) AS n
           |  FROM c GROUP BY label, d),
           |cent AS (SELECT label, d,
           |    CAST(CAST(CAST(s AS DOUBLE) / n / $q.0 AS FLOAT) AS DOUBLE) AS c
           |  FROM m),
           |cl AS (SELECT label AS pred_label, list(c ORDER BY d ASC) AS cv
           |  FROM cent GROUP BY label),
           |score AS (SELECT e.vec_id, e.label, cl.pred_label,
           |    ${dotSql("e.v", "cl.cv")}
           |      / (e.nrm * sqrt(${selfDotSql("cl.cv")})) AS cos
           |  FROM e CROSS JOIN cl),
           |a AS (SELECT vec_id, label, pred_label,
           |    row_number() OVER (PARTITION BY vec_id
           |      ORDER BY cos DESC, pred_label ASC) AS rn
           |  FROM score)
           |SELECT label, pred_label, count(*) AS n
           |FROM a WHERE rn = 1 GROUP BY label, pred_label""".stripMargin
      }),
    // ANN paths are approximate by design, but their bucketing/assignment
    // is deterministic (md5 hyperplanes, first-n centroids), so the full
    // candidate generation + rerank is mirrored in DuckDB SQL below.
    QueryDef("ann_lsh", (s, dir) => Similarity.lshTopK(requireOracleDim(Tables.embeddings(s, dir))),
      annLshOracle),
    QueryDef("ann_ivf", (s, dir) => Similarity.ivfTopK(requireOracleDim(Tables.embeddings(s, dir))),
      annIvfOracle),
    annIvfTrained,
    // Train-once/apply-everywhere (r14): the SAME trained probe, but the
    // centroids/codebooks come from the persisted CentroidStore artifact —
    // k-means runs once per corpus ever; the apply path reads nLists (or
    // M×K) parquet rows and probes. Hash-identical to the retrain forms:
    // the store round-trips exact float32 bits.
    QueryDef.twin("ann_ivf_stored", annIvfTrained,
      (s, dir) => {
        requireOracleDim(Tables.embeddings(s, dir))
        Similarity.ivfTopKStored(s, dir)
      }),
    annPq,
    QueryDef.twin("ann_pq_stored", annPq,
      (s, dir) => {
        requireOracleDim(Tables.embeddings(s, dir))
        ProductQuantization.pqTopKStored(s, dir)
      }),
    annIvfpq,
    QueryDef.twin("ann_ivfpq_stored", annIvfpq,
      (s, dir) => {
        requireOracleDim(Tables.embeddings(s, dir))
        ProductQuantization.ivfPqTopKStored(s, dir)
      }),
    // Exact recall@k of LSH/IVF/IVF-PQ vs the brute-force top-k — the
    // acceptance gate an ANN index ships behind; deterministic, so the
    // whole report (all four result sets + intersections) is oracle-checked.
    QueryDef("q_ann_recall",
      (s, dir) => Similarity.annRecallReport(requireOracleDim(Tables.embeddings(s, dir))),
      // Recall report: recompute all four ANN result sets (the same oracles
      // as their standalone queries, nested as derived tables) and intersect
      // — deterministic inputs make the recall EXACT, not an estimate.
      s"""WITH exact AS (SELECT query_id, neighbor_id FROM ($annBruteforceOracle) x),
         |lsh_r AS (SELECT query_id, neighbor_id FROM (${annLshOracle}) x),
         |ivf_r AS (SELECT query_id, neighbor_id FROM (${annIvfOracle}) x),
         |ivfpq_r AS (SELECT query_id, neighbor_id FROM (${annIvfPqOracle}) x),
         |poss AS (SELECT CAST(count(*) AS BIGINT) AS n_possible FROM exact),
         |h AS (
         |  SELECT 'lsh' AS method, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM exact JOIN lsh_r USING (query_id, neighbor_id)
         |  UNION ALL
         |  SELECT 'ivf', CAST(count(*) AS BIGINT)
         |  FROM exact JOIN ivf_r USING (query_id, neighbor_id)
         |  UNION ALL
         |  SELECT 'ivfpq', CAST(count(*) AS BIGINT)
         |  FROM exact JOIN ivfpq_r USING (query_id, neighbor_id))
         |SELECT h.method, h.n_hits, poss.n_possible,
         |  CASE WHEN poss.n_possible > 0
         |    THEN CAST(h.n_hits AS DOUBLE) / poss.n_possible ELSE 0.0 END AS recall
         |FROM h, poss""".stripMargin),
  )

  /** Exact brute-force top-k oracle — standalone query AND the `exact`
    * side of the recall report.
    */
  private def annBruteforceOracle: String =
    """SELECT query_id, neighbor_id, rank FROM (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
      |               b.vec_id ASC) AS rank
      |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      |  WHERE a.vec_id < 10) t
      |WHERE rank <= 5""".stripMargin

  /** DuckDB mirror of `Similarity.lshTopK(planes=4, tables=8)`: same md5
    * hyperplane signs (embedded as ±v[d] sums), same union-of-tables
    * candidate set, same exact-cosine rerank with the same (cos DESC,
    * neighbor ASC) tie-break. All arithmetic is double with the engine's
    * evaluation order, so bucket bits — sign comparisons — agree exactly.
    */
  private def annLshOracle: String = {
    val tables = 8
    val bucketCols = (0 until tables)
      .map(t => s"${bucketSql("v", t, 4)} AS b$t").mkString(",\n    ")
    val orCond = (0 until tables).map(t => s"q.b$t = c.b$t").mkString(" OR ")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(${selfDotSql("v")}) AS nrm FROM embeddings),
       |b AS (SELECT vec_id, v, nrm,
       |    $bucketCols
       |  FROM e),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM b q JOIN b c ON q.vec_id <> c.vec_id AND ($orCond)
       |  WHERE q.vec_id < 10),
       |ranked AS (SELECT cand.query_id, cand.neighbor_id,
       |    row_number() OVER (PARTITION BY cand.query_id
       |      ORDER BY ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
       |               cand.neighbor_id ASC) AS rank
       |  FROM cand JOIN b q ON q.vec_id = cand.query_id
       |            JOIN b c ON c.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** Shared exact-rerank tail over a `cand(query_id, neighbor_id)` CTE. */
  private def exactRerankSql: String =
    s"""ranked AS (SELECT cand.query_id, cand.neighbor_id,
       |    row_number() OVER (PARTITION BY cand.query_id
       |      ORDER BY ${dotSql("q.v", "n.v")}
       |                 / (q.nrm * n.nrm) DESC,
       |               cand.neighbor_id ASC) AS rank
       |  FROM cand JOIN e q ON q.vec_id = cand.query_id
       |            JOIN e n ON n.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""".stripMargin

  /** IVF candidate-generation + rerank tail (probe CTEs, then every vector
    * in a probed cell reranked exactly) — the first-n / trained oracles.
    */
  private def annIvfTailSql(centCte: String, cnExpr: String): String =
    s"""${ivfProbeCtes(centCte, cnExpr)},
       |cand AS MATERIALIZED (SELECT p.query_id, a.neighbor_id
       |  FROM probes p JOIN assigned a USING (cell) WHERE a.neighbor_id <> p.query_id),
       |$exactRerankSql""".stripMargin

  /** DuckDB mirror of `Similarity.ivfTopK(nLists=8, nProbe=3)`: centroids
    * are the first 8 vectors by vec_id; assignment/probing rank cells by
    * (cosine DESC, cell-id DESC) exactly like the engine; rerank as in
    * [[annLshOracle]]. Candidate/rerank tail shared via [[annIvfTailSql]].
    */
  private def annIvfOracle: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(${selfDotSql("v")}) AS nrm FROM embeddings),
       |cent AS (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS i, v AS c,
       |    nrm AS cn
       |  FROM e ORDER BY vec_id ASC LIMIT 8),
       |${annIvfTailSql("cent", "c.cn")}""".stripMargin

  /** The PQ pipeline CTEs (per-subspace codebook training, encoding,
    * codeword-norm lookups) plus the ADC scoring fragments that reference
    * them — shared by the flat-PQ and IVF-PQ oracles.
    * `ctes` defines `cb<TrainIters>_m`, `codes(vec_id, c0..cM-1)` and
    * `rn_m(k, ns)`; `scoreSql` is the ADC score for query alias `qq` with
    * codeword aliases `w<m>`; `nsSql` the reconstruction norm²; `cwJoins`
    * the codeword/norm joins keyed on a codes alias `x`.
    */
  private case class PqSqlParts(
      ctes: String, scoreSql: String, nsSql: String, cwJoins: String)

  private def pqSqlParts(trainSrc: String = "e"): PqSqlParts = {
    import graft.operators.ProductQuantization.{NumSubspaces => M, NumCodes => K, TrainIters}
    val q = graft.operators.ProductQuantization.MeanQuantum
    val sub = EmbDim / M
    def vIdx(m: Int, d: Int) = m * sub + d // 1-based SQL index of dim d (1..sub)
    def subList(m: Int, v: String) =
      (1 to sub).map(d => s"$v[${vIdx(m, d)}]").mkString("[", ", ", "]")
    def l2Sql(m: Int, v: String, c: String) =
      (1 to sub).map(d => s"($v[${vIdx(m, d)}]-$c[$d])*($v[${vIdx(m, d)}]-$c[$d])")
        .mkString("(", " + ", ")")
    val sumCols = (1 to sub)
      .map(d => s"sum(CAST(round(e.v[__I$d]*$q) AS BIGINT)) AS s$d").mkString(", ")
    val meanList = (1 to sub)
      .map(d => s"CAST(CAST(CAST(s$d AS DOUBLE)/n/$q.0 AS FLOAT) AS DOUBLE)")
      .mkString("[", ", ", "]")
    def assignCte(name: String, cbName: String, m: Int, src: String): String =
      s"""$name AS MATERIALIZED (SELECT vec_id, k AS code FROM (
         |    SELECT e.vec_id, c.k,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql(m, "e.v", "c.c")} ASC, c.k ASC) AS rn
         |    FROM $src e CROSS JOIN $cbName c) r WHERE rn = 1)""".stripMargin
    def roundCtes(t: Int, m: Int): String = {
      val subSums = (1 to sub).foldLeft(sumCols) { (acc, d) =>
        acc.replace(s"__I$d", vIdx(m, d).toString)
      }
      s"""${assignCte(s"a${t}_$m", s"cb${t}_$m", m, trainSrc)},
         |m${t}_$m AS MATERIALIZED (SELECT a.code, count(*) AS n, $subSums
         |  FROM a${t}_$m a JOIN $trainSrc e USING (vec_id) GROUP BY a.code),
         |cb${t + 1}_$m AS MATERIALIZED (SELECT c0.k, COALESCE(mm.c, c0.c) AS c
         |  FROM cb${t}_$m c0 LEFT JOIN
         |    (SELECT code AS k, $meanList AS c FROM m${t}_$m) mm USING (k))""".stripMargin
    }
    val seedCtes = (0 until M).map(m =>
      s"""cb0_$m AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS k,
         |    ${subList(m, "v")} AS c
         |  FROM $trainSrc ORDER BY vec_id ASC LIMIT $K)""".stripMargin).mkString(",\n")
    val trainCtes = (for (t <- 0 until TrainIters; m <- 0 until M)
      yield roundCtes(t, m)).mkString(",\n")
    // the final ENCODE pass always covers the full corpus CTE `e`
    val encCtes = (0 until M)
      .map(m => assignCte(s"enc_$m", s"cb${TrainIters}_$m", m, "e")).mkString(",\n")
    val codesCte =
      s"""codes AS MATERIALIZED (SELECT e.vec_id, ${(0 until M).map(m => s"enc_$m.code AS c$m").mkString(", ")}
         |  FROM e ${(0 until M).map(m => s"JOIN enc_$m USING (vec_id)").mkString(" ")})""".stripMargin
    val rnormCtes = (0 until M).map(m =>
      s"""rn_$m AS MATERIALIZED (SELECT k, ${(1 to sub).map(d => s"c[$d]*c[$d]").mkString("(", " + ", ")")} AS ns
         |  FROM cb${TrainIters}_$m)""".stripMargin).mkString(",\n")
    // score: per-subspace dot(q_m, codeword) chained left-associatively,
    // matching the engine's reduceLeft over subspaces then dims
    val scoreSql = (0 until M).map { m =>
      (1 to sub).map(d => s"qq.v[${vIdx(m, d)}]*w$m.c[$d]").mkString("(", " + ", ")")
    }.mkString(" + ")
    val nsSql = (0 until M).map(m => s"w${m}ns.ns").mkString("(", " + ", ")")
    val cwJoins = (0 until M).map(m =>
      s"JOIN cb${TrainIters}_$m w$m ON w$m.k = x.c$m " +
        s"JOIN rn_$m w${m}ns ON w${m}ns.k = x.c$m").mkString(" ")
    PqSqlParts(
      s"""$seedCtes,
         |$trainCtes,
         |$encCtes,
         |$codesCte,
         |$rnormCtes""".stripMargin,
      scoreSql, nsSql, cwJoins)
  }

  /** DuckDB mirror of `ProductQuantization.ivfPqTopK()` — IVF-ADC, the
    * composed production shape, with BOTH training loops replayed: the
    * k-means centroid CTEs ([[ivfTrainCtes]], the exact loop of
    * `ann_ivf_trained`) give every vector its one cell and every query its
    * 3 probe cells; the PQ CTEs ([[pqSqlParts]], the exact loop of
    * `ann_pq`) give every vector its codes; the ADC scan then scores ONLY
    * (probe cell ∩ assigned cell) pairs — the candidate equi-join on cell
    * id that replaces `ann_pq`'s exhaustive corpus×queries join — and the
    * shared exact rerank finishes.
    */
  private def annIvfPqOracle: String = {
    import graft.operators.ProductQuantization.{RerankDepth, IvfLists, IvfIters, TrainSampleN, NumQueries}
    val p = pqSqlParts(trainSrc = "et")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(${selfDotSql("v")}) AS nrm
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |et AS (SELECT * FROM e WHERE vec_id < $TrainSampleN),
       |${ivfTrainCtes(IvfLists, IvfIters, src = "et")},
       |${ivfProbeCtes(s"cent$IvfIters", "c.cn", NumQueries)},
       |${p.ctes},
       |adc AS (SELECT pr.query_id, a.neighbor_id,
       |    row_number() OVER (PARTITION BY pr.query_id
       |      ORDER BY (${p.scoreSql}) / (qq.nrm * sqrt(${p.nsSql})) DESC,
       |               a.neighbor_id ASC) AS rn
       |  FROM probes pr
       |    JOIN assigned a USING (cell)
       |    JOIN e qq ON qq.vec_id = pr.query_id
       |    JOIN codes x ON x.vec_id = a.neighbor_id
       |    ${p.cwJoins}
       |  WHERE a.neighbor_id <> pr.query_id),
       |cand AS (SELECT query_id, neighbor_id FROM adc WHERE rn <= $RerankDepth),
       |$exactRerankSql""".stripMargin
  }
}
