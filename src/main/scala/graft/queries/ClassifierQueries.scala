package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._
import graft.streaming.DocumentStreams

/** Quality classifiers: the hashed linear scorer and the Naive Bayes model
  * trained on a weak label.
  */
object ClassifierQueries {
  // Every doc scored under the trained model: prior + sum c*llr, the
  // smoothing-floor constant for out-of-vocabulary tokens.
  private val nbScore = QueryDef("q_nb_score",
    (s, dir) => TextAnalysis.nbScore(Tables.documents(s, dir)),
    // Per-doc posterior fold under the same model CTEs.
    s"""WITH $nbCtes,
       |$nbScoreCtes
       |SELECT doc_id, n_tokens, score_f, score_f > 0 AS nb_quality
       |FROM scored""".stripMargin)

  val all: Seq[QueryDef] = Seq(
    // hashed linear quality-classifier inference: in-expression weights,
    // per-row fold, no shuffle
    QueryDef("q_classifier_score",
      (s, dir) => TextAnalysis.classifierScore(Tables.documents(s, dir)),
      // Hashed linear classifier: list_transform + list_sum replays the
      // per-row fold; empty token lists coalesce to score 0 like the
      // engine's aggregate() zero element.
      {
        import graft.operators.TextAnalysis.{ClsSeed, ClsWeightMod, ClsWeightShift}
        s"""SELECT doc_id, source, n_toks, score, score > 0 AS keep FROM (
           |  SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_toks,
           |    CAST(coalesce(list_sum(list_transform(t,
           |      tok -> ${h60(ClsSeed, "tok")} % $ClsWeightMod - $ClsWeightShift)), 0)
           |      AS BIGINT) AS score
           |  FROM (SELECT doc_id, source,
           |      list_filter(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+'),
           |        x -> x <> '') AS t
           |    FROM documents))""".stripMargin
      }),
    // TRAINED Naive Bayes quality model (distant supervision from the
    // corpus's own weak label, train split only): per-token smoothed
    // log-likelihood ratios through the portable fixed-point ln.
    QueryDef("q_nb_train", (s, dir) => TextAnalysis.nbTrain(Tables.documents(s, dir)),
      // The trained NB model table: counting + four integer-ln chains.
      s"""WITH $nbCtes
         |SELECT tok, n_pos, n_neg, llr_f FROM model""".stripMargin),
    nbScore,
    // Stored-model scoring (r14): the persisted ModelStore artifact gates
    // the corpus with ZERO training aggregations on the apply path — the
    // production quality-filter shape (train once, score every ingest);
    // ln_f integers round-trip parquet exactly, so rows are identical.
    QueryDef.twin("q_nb_score_stored", nbScore, (s, dir) => ModelStore.score(s, dir)),
    // The trained filter as a continuous ingest gate: model + constants
    // frozen, each micro-batch scored through the shared fold; a full
    // drain equals the batch scoring row-for-row.
    QueryDef.twin("q_stream_nb_score", nbScore,
      (s, dir) => DocumentStreams.nbScoresToBatch(s, dir)),
    // Reliability card: eval docs bucketed by clamped score-nat band
    // with observed weak-label positive rate — the calibration read
    // before a learned filter gates a corpus.
    QueryDef("q_nb_calibration", (s, dir) => TextAnalysis.nbCalibration(Tables.documents(s, dir)),
      // Calibration card: shifted-floor band of the eval-split scores vs
      // the weak label, same model CTEs.
      {
        import graft.functions.FixedPointLn.Scale
        val (bands, shift) =
          (TextAnalysis.CalibrationBands, TextAnalysis.CalibrationShift)
        s"""WITH $nbCtes,
           |$nbScoreCtes,
           |ev AS (SELECT greatest(0, least(${bands * Scale - 1},
           |      s.score_f + ${shift * Scale})) // $Scale - $shift AS band,
           |    lab.y
           |  FROM scored s JOIN lab ON s.doc_id = lab.doc_id
           |  WHERE s.doc_id % ${graft.operators.TextAnalysis.EvalHoldoutMod} = 0)
           |SELECT band, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) * 1000
           |    // CAST(count(*) AS BIGINT) AS pos_rate_milli
           |FROM ev GROUP BY band""".stripMargin
      }),
    // Held-out confusion card: the trained filter vs the weak label on
    // docs the model never saw.
    QueryDef("q_nb_eval", (s, dir) => TextAnalysis.nbEval(Tables.documents(s, dir)),
      // Held-out confusion of the trained filter vs the weak label.
      s"""WITH $nbCtes,
         |$nbScoreCtes,
         |ev AS (SELECT s.doc_id, s.score_f > 0 AS p, lab.y
         |  FROM scored s JOIN lab ON s.doc_id = lab.doc_id
         |  WHERE s.doc_id % ${graft.operators.TextAnalysis.EvalHoldoutMod} = 0),
         |cm AS (SELECT
         |    CAST(sum(CASE WHEN p AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM ev)
         |SELECT tp, fp, fn, tn,
         |  (tp + tn) * 1000 // (tp + fp + fn + tn) AS accuracy_milli,
         |  CASE WHEN tp + fp > 0 THEN tp * 1000 // (tp + fp) END AS precision_milli,
         |  CASE WHEN tp + fn > 0 THEN tp * 1000 // (tp + fn) END AS recall_milli
         |FROM cm""".stripMargin),
  )

  /** Shared CTE chain of the three Naive Bayes oracles: weak label from
    * RAW tokens (the docStats rule), lowercase empty-filtered train
    * tokens, class-conditional counts, 1-row totals, and the per-token
    * llr through four integer-ln lateral chains — so train/score/eval
    * replay one model and cannot drift.
    */
  private def nbCtes: String = {
    import graft.functions.FixedPointLn.lnFSql
    s"""t AS ($tokCte),
       |lab AS (SELECT doc_id, (len(toks) >= 10
       |    AND len(list_filter(toks, w -> list_contains($stopList, w))) > 0) AS y
       |  FROM t),
       |lt AS (SELECT doc_id, unnest(list_filter(
       |    regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+'), x -> x <> '')) AS tok
       |  FROM documents WHERE doc_id % ${graft.operators.TextAnalysis.EvalHoldoutMod} <> 0),
       |cnt AS (SELECT tok,
       |    CAST(sum(CASE WHEN lab.y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |    CAST(sum(CASE WHEN lab.y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
       |  FROM lt JOIN lab ON lt.doc_id = lab.doc_id GROUP BY tok),
       |tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS bign1,
       |    CAST(sum(n_neg) AS BIGINT) AS bign0,
       |    CAST(count(*) AS BIGINT) AS v FROM cnt),
       |mchain AS (SELECT tok, n_pos, n_neg,
       |  ${lnFSql("n_pos + 1", "la")},
       |  ${lnFSql("bign1 + v", "lb")},
       |  ${lnFSql("n_neg + 1", "lc")},
       |  ${lnFSql("bign0 + v", "ld")}
       |  FROM cnt, tot),
       |model AS (SELECT tok, n_pos, n_neg, la - lb - lc + ld AS llr_f FROM mchain)""".stripMargin
  }

  /** The scoring tail shared by the nb score/eval oracles (appends to
    * [[nbCtes]]): prior/floor constants and the per-doc posterior fold.
    */
  private def nbScoreCtes: String = {
    import graft.functions.FixedPointLn.lnFSql
    s"""pri AS (SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS d1,
       |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS d0
       |  FROM lab WHERE doc_id % ${graft.operators.TextAnalysis.EvalHoldoutMod} <> 0),
       |cchain AS (SELECT
       |  ${lnFSql("d1", "pa")},
       |  ${lnFSql("d0", "pb")},
       |  ${lnFSql("bign0 + v", "pc")},
       |  ${lnFSql("bign1 + v", "pd")}
       |  FROM pri, tot),
       |consts AS (SELECT pa - pb AS prior_f, pc - pd AS unseen_f FROM cchain),
       |sc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest(list_filter(
       |      regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+'), x -> x <> '')) AS tok
       |    FROM documents) u
       |  GROUP BY doc_id, tok),
       |scored AS (SELECT sc.doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(max(prior_f) + sum(c * coalesce(model.llr_f, unseen_f)) AS BIGINT)
       |      AS score_f
       |  FROM sc LEFT JOIN model ON sc.tok = model.tok, consts
       |  GROUP BY sc.doc_id)""".stripMargin
  }
}
