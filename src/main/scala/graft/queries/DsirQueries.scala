package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._
import graft.streaming.DocumentStreams

/** DSIR (Xie et al. 2023): hashed-n-gram importance weights and resampling
  * toward curated target feeds.
  */
object DsirQueries {
  // continuous-ingestion DSIR: the incoming fifth scored under weights
  // FROZEN on the existing corpus (never re-featurized, never shifted
  // by the batch being judged); novel buckets take the smoothing floor
  private val dsirIncremental = QueryDef("q_dsir_incremental",
    (s, dir) => Dsir.incrementalScores(Tables.documents(s, dir)),
    // DuckDB mirror of `Dsir.incrementalScores`: weights train on the corpus BELOW the
    // ⌊4·(max+1)/5⌋ ingest split only; shard buckets left-join them with
    // the smoothing-floor fallback for never-seen features.
    {
      import graft.functions.FixedPointLn.lnFSql
      val b = graft.operators.Dsir.NumBuckets
      val targets = graft.operators.Dsir.TargetSources
        .map(s => s"'$s'").mkString(", ")
      s"""WITH $dsirFeatureCtes,
         |sp AS (SELECT (max(doc_id) + 1) * 4 // 5 AS split FROM documents),
         |cfb AS (SELECT fb.* FROM fb CROSS JOIN sp WHERE fb.doc_id < sp.split),
         |raw AS (SELECT b, CAST(sum(c) AS BIGINT) AS r FROM cfb GROUP BY b),
         |tgt AS (SELECT b, CAST(sum(c) AS BIGINT) AS t FROM cfb
         |  WHERE source IN ($targets) GROUP BY b),
         |tot AS (SELECT (SELECT CAST(sum(r) AS BIGINT) FROM raw) AS bigr,
         |               (SELECT CAST(sum(t) AS BIGINT) FROM tgt) AS bigt),
         |lam AS (SELECT raw.b,
         |  ${lnFSql("coalesce(tgt.t, 0) + 1", "lt")},
         |  ${lnFSql("tot.bigt + " + b, "lbt")},
         |  ${lnFSql("raw.r + 1", "lr")},
         |  ${lnFSql("tot.bigr + " + b, "lbr")},
         |  lt - lbt - lr + lbr AS lam_f
         |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
         |dflt AS (SELECT
         |  ${lnFSql("tot.bigr + " + b, "ldr")},
         |  ${lnFSql("tot.bigt + " + b, "ldt")},
         |  ldr - ldt AS lam_default
         |  FROM tot),
         |sfb AS (SELECT fb.* FROM fb CROSS JOIN sp WHERE fb.doc_id >= sp.split),
         |docw AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
         |    CAST(sum(c * coalesce(lam.lam_f, dflt.lam_default)) AS BIGINT) AS logw_f
         |  FROM sfb LEFT JOIN lam USING (b) CROSS JOIN dflt GROUP BY doc_id),
         |shard AS (SELECT d.doc_id, d.source FROM documents d CROSS JOIN sp
         |  WHERE d.doc_id >= sp.split)
         |SELECT s.doc_id, s.source, coalesce(w.n_feats, 0) AS n_feats,
         |  coalesce(w.logw_f, 0) AS logw_f
         |FROM shard s LEFT JOIN docw w USING (doc_id)""".stripMargin
    })

  val all: Seq[QueryDef] = Seq(
    // DSIR (Xie et al. 2023): hashed-n-gram importance weights toward the
    // curated target feeds — log-likelihood ratios as exact fixed-point ints
    QueryDef("q_dsir_score", (s, dir) => Dsir.importanceScores(Tables.documents(s, dir)),
      // DSIR importance scores: the CTE chain in dsirScoreCtes (hashed
      // features, smoothed target/raw histograms, fixed-point λ)
      s"WITH $dsirScoreCtes SELECT * FROM scores"),
    // DSIR resampling: Gumbel-top-k over the importance weights (hash
    // Gumbel), computed by counting — the corpus is never globally sorted
    QueryDef("q_dsir_select", (s, dir) => Dsir.gumbelTopK(Tables.documents(s, dir)),
      // DSIR resampling: the same scores + hash-Gumbel keys, pinned as the
      // obvious global rank (the engine computes the set by counting)
      // DuckDB mirror of `Dsir.gumbelTopK`'s key: the 20-bit content hash
      // draw, −ln u and the Gumbel both through ln_f, then the obvious global
      // window rank the engine's counting selection must reproduce.
      {
        val d = graft.operators.Dsir.SelectDenom
        s"""WITH $dsirScoreCtes,
           |$dsirKeyedCtes
           |SELECT doc_id, source, logw_f, g_f, key_f
           |FROM sel CROSS JOIN nk WHERE rn <= (n + ${d - 1}) // $d""".stripMargin
      }),
    dsirIncremental,
    // streaming twin: per-micro-batch scoring against the same frozen
    // weight table inside foreachBatch (shared scoreShardAgainstWeights)
    QueryDef.twin("q_stream_dsir_score", dsirIncremental,
      (s, dir) => DocumentStreams.dsirScoresToBatch(s, dir)),
    // per-source steering report: score rollup + the exact selected set
    QueryDef("q_dsir_report", (s, dir) => Dsir.steeringReport(Tables.documents(s, dir)),
      // DuckDB mirror of `Dsir.steeringReport`: per-source score rollup plus
      // selected counts from the SAME selection CTEs as `q_dsir_select`.
      {
        val d = graft.operators.Dsir.SelectDenom
        s"""WITH $dsirScoreCtes,
           |$dsirKeyedCtes,
           |selc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_selected
           |  FROM sel CROSS JOIN nk WHERE rn <= (n + ${d - 1}) // $d
           |  GROUP BY source),
           |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(logw_f) AS BIGINT) AS sum_logw_f
           |  FROM scores GROUP BY source)
           |SELECT a.source, a.n_docs, a.sum_logw_f,
           |  a.sum_logw_f // a.n_docs AS mean_logw_f,
           |  coalesce(s.n_selected, 0) AS n_selected,
           |  (coalesce(s.n_selected, 0) * 1000) // a.n_docs AS sel_share_milli
           |FROM agg a LEFT JOIN selc s USING (source)""".stripMargin
      }),
  )

  /** The hashed-feature CTEs shared by every DSIR oracle: filtered token
    * arrays, unigram+bigram features, and the per-(doc, bucket) counts
    * `fb` — the SQL mirror of `Dsir.featureBuckets`.
    */
  private def dsirFeatureCtes: String = {
    val b = graft.operators.Dsir.NumBuckets
    s"""ts AS (SELECT doc_id, source,
       |    list_filter(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+'),
       |      t -> t <> '') AS ts
       |  FROM documents),
       |uni AS (SELECT doc_id, source, unnest(ts) AS f FROM ts),
       |bi AS (SELECT doc_id, source, ts[i] || ' ' || ts[i + 1] AS f
       |  FROM (SELECT doc_id, source, ts, unnest(range(1, len(ts))) AS i
       |        FROM ts WHERE len(ts) >= 2)),
       |fb AS (SELECT doc_id, source,
       |    ${h60(graft.operators.Dsir.FeatureSeed, "f")} % $b AS b,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
       |  GROUP BY doc_id, source, b)""".stripMargin
  }

  /** DuckDB mirror of `Dsir.importanceScores` as a CTE chain ending in
    * `scores(doc_id, source, n_feats, logw_f)`: hashed unigram+bigram
    * buckets (same 60-bit md5, same modulus), target/raw histograms with
    * add-1 smoothing, and the per-bucket λ as four portable fixed-point
    * ln_f chains ([[graft.functions.FixedPointLn.lnFSql]]) — so the
    * summed log-likelihood ratios are exact BIGINTs on both engines.
    */
  private def dsirScoreCtes: String = {
    import graft.functions.FixedPointLn.lnFSql
    val b = graft.operators.Dsir.NumBuckets
    val targets = graft.operators.Dsir.TargetSources
      .map(s => s"'$s'").mkString(", ")
    s"""$dsirFeatureCtes,
       |raw AS (SELECT b, CAST(sum(c) AS BIGINT) AS r FROM fb GROUP BY b),
       |tgt AS (SELECT b, CAST(sum(c) AS BIGINT) AS t FROM fb
       |  WHERE source IN ($targets) GROUP BY b),
       |tot AS (SELECT (SELECT CAST(sum(r) AS BIGINT) FROM raw) AS bigr,
       |               (SELECT CAST(sum(t) AS BIGINT) FROM tgt) AS bigt),
       |lam AS (SELECT raw.b,
       |  ${lnFSql("coalesce(tgt.t, 0) + 1", "lt")},
       |  ${lnFSql("tot.bigt + " + b, "lbt")},
       |  ${lnFSql("raw.r + 1", "lr")},
       |  ${lnFSql("tot.bigr + " + b, "lbr")},
       |  lt - lbt - lr + lbr AS lam_f
       |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
       |docw AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
       |    CAST(sum(c * lam_f) AS BIGINT) AS logw_f
       |  FROM fb JOIN lam USING (b) GROUP BY doc_id),
       |scores AS (SELECT d.doc_id, d.source,
       |    coalesce(w.n_feats, 0) AS n_feats, coalesce(w.logw_f, 0) AS logw_f
       |  FROM documents d LEFT JOIN docw w USING (doc_id))""".stripMargin
  }

  /** The Gumbel-key CTEs (`g0`..`keyed`) plus the ranked-selection CTEs
    * (`nk`, `sel` with its global rank) over the `scores` CTE — shared by
    * the selection oracle and the steering-report oracle.
    */
  private def dsirKeyedCtes: String = {
    import graft.functions.FixedPointLn.{lnFSql, Ln2F}
    s"""g0 AS (SELECT doc_id, source, logw_f,
       |    ${h60(graft.operators.Dsir.GumbelSeed, "CAST(doc_id AS VARCHAR)")}
       |      % 1048576 AS h
       |  FROM scores),
       |g1 AS (SELECT doc_id, source, logw_f,
       |  ${lnFSql("h * 2 + 1", "lh")},
       |  greatest(21 * $Ln2F - lh, 1) AS nl
       |  FROM g0),
       |g2 AS (SELECT doc_id, source, logw_f,
       |  ${lnFSql("nl", "lnl")},
       |  20 * $Ln2F - lnl AS g_f
       |  FROM g1),
       |keyed AS (SELECT doc_id, source, logw_f, g_f, logw_f + g_f AS key_f
       |  FROM g2),
       |nk AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |sel AS (SELECT k.*, row_number()
       |    OVER (ORDER BY key_f DESC, doc_id ASC) AS rn FROM keyed k)""".stripMargin
  }
}
