package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._
import graft.streaming.DocumentStreams

/** Dedup: exact, MinHash+LSH / n-gram Jaccard, SimHash, substring, line and winnowing. */
object DedupQueries {
  private val dedupNeardup = QueryDef("q_dedup_neardup",
    (s, dir) => Dedup.nearDuplicatePairsFromTable(SignatureStore.table(s, dir)),
    // Oracle brute-forces all pairs; the engine uses MinHash+LSH banding.
    // With 8 bands x 2 rows a jaccard>=0.5 pair is missed with prob
    // <= (1-0.25)^8 = 10% in the worst case at exactly 0.5 — but the data's
    // near-dup pairs all sit at ~0.99 (miss prob ~6e-15), with the next
    // pair below 0.14, so banding and brute force agree deterministically.
    s"""WITH sh AS MATERIALIZED ($shCte),
       |$neardupPairsCte
       |SELECT doc_a, doc_b, inter, uni, jaccard FROM pairs""".stripMargin)
  // Incoming shard probed against the corpus's persisted LSH index —
  // the continuous-ingestion dedup shape (no corpus self-join).
  private val dedupIncremental = QueryDef("q_dedup_incremental",
    (s, dir) => Dedup.incrementalNearDupsFromTable(SignatureStore.table(s, dir)),
    // Asymmetric brute force (corpus side x shard side only), same
    // banding-vs-brute-force equivalence argument as q_dedup_neardup;
    // split = floor(4*(max_id+1)/5) like the engine's scalar broadcast.
    s"""WITH sh AS MATERIALIZED ($shCte),
       |$ingestSideCtes,
       |${jaccardPairCtes(out = "ipairs", left = "shc", right = "shs",
            aCol = "corpus_doc", bCol = "shard_doc", sym = false)}
       |SELECT corpus_doc, shard_doc, inter, uni, jaccard FROM ipairs""".stripMargin)
  // Benchmark decontamination: corpus docs sharing >=2 distinct 8-token
  // windows with any eval-set doc; eval grams broadcast, corpus scanned
  private val benchmarkContamination = QueryDef("q_benchmark_contamination",
    (s, dir) =>
      Dedup.benchmarkContamination(
        Tables.documents(s, dir), Dedup.evalSample(Tables.documents(s, dir))),
    // Literal 8-token window text where the engine carries fingerprints
    // (the grouping-key identity of the q_dedup_substring precedent),
    // distinct per doc on both sides, so shared_ngrams counts distinct
    // shared windows; eval side selected by the same content-hash draw.
    {
      import graft.operators.Dedup.{ContamMinShared, EvalSampleMod, EvalSampleSeed}
      s"""WITH cr AS (SELECT md5(text) AS fp, min(doc_id) AS rep_id,
         |    min_by(text, doc_id) AS text FROM documents GROUP BY md5(text)),
         |cg AS (SELECT DISTINCT rep_id, array_to_string(tk[i:i+7], ' ') AS g
         |  FROM (SELECT rep_id, string_split(text, ' ') AS tk FROM cr) t0,
         |       unnest(range(1, len(tk) - 6)) AS t(i)),
         |er AS (SELECT min(doc_id) AS eval_id, min_by(text, doc_id) AS text
         |  FROM documents
         |  WHERE ${h60(EvalSampleSeed, "doc_id")} % $EvalSampleMod = 0
         |  GROUP BY md5(text)),
         |eg AS (SELECT DISTINCT eval_id, array_to_string(tk[i:i+7], ' ') AS g
         |  FROM (SELECT eval_id, string_split(text, ' ') AS tk FROM er) t0,
         |       unnest(range(1, len(tk) - 6)) AS t(i)),
         |hot AS (SELECT g FROM cg GROUP BY g
         |  HAVING count(*) > ${graft.operators.Dedup.ContamHotCap}),
         |eg2 AS (SELECT * FROM eg WHERE g NOT IN (SELECT g FROM hot)),
         |v AS (SELECT rep_id, eval_id, CAST(count(*) AS BIGINT) AS shared_ngrams
         |  FROM cg JOIN eg2 USING (g)
         |  GROUP BY 1, 2 HAVING count(*) >= $ContamMinShared)
         |SELECT d.doc_id, v.eval_id, v.shared_ngrams
         |FROM documents d
         |JOIN cr ON md5(d.text) = cr.fp
         |JOIN v USING (rep_id)""".stripMargin
    })
  // The continuous-ingestion twin: shard lines excised against the
  // corpus-frozen frequency index (freq >= minOcc-1 tips the threshold);
  // shard-internal repeats wait for the next full pass.
  private val lineDedupIncremental = QueryDef("q_line_dedup_incremental",
    (s, dir) => Dedup.incrementalLineDedup(Tables.documents(s, dir)),
    // Corpus lines below the split form the frozen index at
    // freq >= minOcc-1; the shard side excises against it only.
    {
      val mo = graft.operators.Dedup.LineMinOccurrences
      s"""WITH $lineCtes,
         |sp AS (SELECT (max(doc_id) + 1) * 4 // 5 AS split FROM documents),
         |f AS (SELECT lh FROM h, sp WHERE h.doc_id < sp.split
         |  GROUP BY lh HAVING count(*) >= ${mo - 1}),
         |s AS (SELECT h.* FROM h, sp WHERE h.doc_id >= sp.split)
         |${lineReportSql("s")}""".stripMargin
    })
  // WITHIN-document repetition excision (Gopher-style): repeated lines
  // keep their first occurrence only; per-doc report + kept-text md5.
  private val repetitionExcised = QueryDef("q_repetition_excised",
    (s, dir) => Dedup.repetitionExcise(Tables.documents(s, dir)),
    // Within-document repetition excision: same line frame, verdict is
    // per (doc, line-hash) — keep min(pos), drop the rest; same report
    // fold (kept text re-joined in position order).
    s"""WITH $lineCtes,
       |fp AS (SELECT doc_id, lh, min(pos) AS first_pos FROM h
       |  GROUP BY doc_id, lh)
       |SELECT h.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_lines,
       |  CAST(sum(CASE WHEN h.pos > fp.first_pos THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_lines_dropped,
       |  CAST(sum(CASE WHEN h.pos > fp.first_pos THEN h.n_tok ELSE 0 END) AS BIGINT)
       |    AS n_tokens_dropped,
       |  md5(coalesce(
       |    string_agg(CASE WHEN h.pos = fp.first_pos THEN h.line END,
       |      ' ' ORDER BY h.pos), '')) AS kept_md5
       |FROM h JOIN fp ON h.doc_id = fp.doc_id AND h.lh = fp.lh
       |GROUP BY h.doc_id""".stripMargin)
  // Ingestion-time winnow overlap: arriving docs probe the frozen
  // capped corpus fingerprint index (shard-vs-corpus pairs only).
  private val winnowOverlapIncremental = QueryDef("q_winnow_overlap_incremental",
    (s, dir) => Dedup.incrementalWinnowOverlap(Tables.documents(s, dir)),
    // Corpus fingerprints below the split freeze into the capped index;
    // shard fingerprints drop corpus-hot hashes and probe it.
    {
      import graft.operators.Dedup.{WinnowBucketCap, WinnowMinShared}
      s"""WITH $winnowSelCtes,
         |fps AS MATERIALIZED (SELECT DISTINCT doc_id,
         |    wcomp // $WinnowScale AS fp_hash FROM sel),
         |sp AS (SELECT (max(doc_id) + 1) * 4 // 5 AS split FROM documents),
         |cfps AS MATERIALIZED (SELECT f.* FROM fps f, sp
         |  WHERE f.doc_id < sp.split),
         |hot AS MATERIALIZED (SELECT fp_hash FROM cfps GROUP BY fp_hash
         |  HAVING count(*) > $WinnowBucketCap),
         |idx AS MATERIALIZED (SELECT * FROM cfps
         |  WHERE fp_hash NOT IN (SELECT fp_hash FROM hot)),
         |nc AS (SELECT doc_id AS corpus_doc, CAST(count(*) AS BIGINT) AS n_corpus
         |  FROM idx GROUP BY 1),
         |sfps AS MATERIALIZED (SELECT f.* FROM fps f, sp
         |  WHERE f.doc_id >= sp.split
         |    AND f.fp_hash NOT IN (SELECT fp_hash FROM hot)),
         |ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_doc
         |  FROM sfps GROUP BY doc_id),
         |p AS (SELECT s.doc_id, i.doc_id AS corpus_doc,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM sfps s JOIN idx i ON s.fp_hash = i.fp_hash
         |  GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared)
         |SELECT p.doc_id, p.corpus_doc, p.n_shared, ns.n_doc, nc.n_corpus,
         |  p.n_shared * 1000 // least(ns.n_doc, nc.n_corpus) AS overlap_milli
         |FROM p JOIN ns ON p.doc_id = ns.doc_id
         |       JOIN nc ON p.corpus_doc = nc.corpus_doc""".stripMargin
    })

  val all: Seq[QueryDef] = Seq(
    // The MinHash family reads the session-persisted SignatureStore (the
    // ingest-time artifact): signatures/shingles computed once per corpus,
    // probed by every consumer below — never re-shingled per query.
    QueryDef("q_dedup_exact", (s, dir) => Dedup.exactDuplicates(Tables.documents(s, dir)),
      """SELECT md5(regexp_replace(lower(trim(nfc_normalize(text))), '\s+', ' ', 'g')) AS fp_md5,
        |  count(*) AS n_copies, min(doc_id) AS keeper_id
        |FROM documents GROUP BY 1""".stripMargin),
    QueryDef("q_minhash_sig",
      (s, dir) => SignatureStore.table(s, dir).drop("sh", "group_id", "members"),
      s"""WITH sh AS MATERIALIZED ($shCte)
         |SELECT doc_id,
         |  $minhashCols
         |FROM sh""".stripMargin),
    dedupNeardup,
    // EXACT (recall-1) near-dup pairs by SSJoin/PPJoin prefix filtering:
    // rarest-first ordered prefixes joined, length-filtered, verified —
    // the deterministic ground-truth twin of the banded miner, same
    // brute-force oracle with no banding-equivalence caveat: it emits the
    // jaccard>=0.5 pair set by theorem (no banding probability, no cap).
    QueryDef.twin("q_neardup_exact", dedupNeardup,
      (s, dir) => Dedup.prefixNearDupPairs(SignatureStore.table(s, dir))),
    // The DEPLOYABLE form of the exact miner: same prefix join under a
    // doc-weighted size cap, dropping degenerate prefix join keys
    // (template-family boilerplate) before they go quadratic.
    // Identical-content pairs always survive (they never join). r15:
    // registered at ExercisedPrefixCap, which this corpus EXCEEDS — the
    // valve fires under the oracle gate and the result observably
    // differs from q_neardup_exact (see the constant's docstring).
    QueryDef("q_neardup_exact_capped",
      (s, dir) =>
        Dedup.prefixNearDupPairs(SignatureStore.table(s, dir),
          maxPrefixGroup = Dedup.ExercisedPrefixCap),
      // The CAPPED exact miner has no brute-force shortcut: its contract
      // is the prefix construction itself (content-group collapse, df-asc
      // prefix, doc-weighted group cap, length filter, verify, member
      // expansion), so the oracle replays every step with window functions
      // over the same integer arithmetic. r15: the registered cap
      // (ExercisedPrefixCap) sits BELOW this corpus's max prefix-group
      // mass, so keys are genuinely dropped under the gate and the result
      // observably differs from q_neardup_exact — the valve itself is what
      // this row verifies.
      {
        val cap = graft.operators.Dedup.ExercisedPrefixCap
        s"""WITH sh0 AS MATERIALIZED ($shCte),
           |ne AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
           |g AS (SELECT doc_id, sh,
           |    min(doc_id) OVER (PARTITION BY sh) AS rep_id,
           |    count(*) OVER (PARTITION BY sh) AS members
           |  FROM ne),
           |reps AS (SELECT rep_id, sh, members FROM g WHERE doc_id = rep_id),
           |e AS (SELECT rep_id, members, unnest(sh) AS sg FROM reps),
           |d AS (SELECT sg, count(*) AS df FROM e GROUP BY 1),
           |o AS (SELECT e.rep_id, e.members, e.sg,
           |    row_number() OVER (PARTITION BY e.rep_id ORDER BY d.df, e.sg) AS rk,
           |    count(*) OVER (PARTITION BY e.rep_id) AS n
           |  FROM e JOIN d USING (sg)),
           |p AS (SELECT rep_id, members, n, sg FROM o
           |  WHERE rk <= n - (500 * n + 999) // 1000 + 1),
           |ov AS (SELECT sg FROM p GROUP BY sg HAVING sum(members) > $cap),
           |k AS (SELECT * FROM p WHERE sg NOT IN (SELECT sg FROM ov)),
           |c AS (SELECT DISTINCT l.rep_id AS rep_a, r.rep_id AS rep_b
           |  FROM k l JOIN k r ON l.sg = r.sg AND l.rep_id < r.rep_id
           |    AND 1000 * l.n >= 500 * r.n AND 1000 * r.n >= 500 * l.n),
           |v AS (SELECT c.rep_a, c.rep_b,
           |    len(list_intersect(a.sh, b.sh)) AS inter,
           |    len(list_distinct(a.sh || b.sh)) AS uni
           |  FROM c JOIN reps a ON c.rep_a = a.rep_id
           |         JOIN reps b ON c.rep_b = b.rep_id),
           |vf AS (SELECT rep_a, rep_b, inter, uni FROM v
           |  WHERE 1000 * inter >= 500 * uni),
           |sp AS (SELECT rep_id AS rep_a, rep_id AS rep_b,
           |    len(sh) AS inter, len(sh) AS uni
           |  FROM reps WHERE members > 1),
           |u AS (SELECT * FROM vf UNION ALL SELECT * FROM sp),
           |m AS (SELECT rep_id, doc_id FROM g)
           |SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
           |  greatest(ma.doc_id, mb.doc_id) AS doc_b,
           |  u.inter, u.uni,
           |  CAST(u.inter AS DOUBLE) / u.uni AS jaccard
           |FROM u JOIN m ma ON u.rep_a = ma.rep_id
           |       JOIN m mb ON u.rep_b = mb.rep_id
           |WHERE u.rep_a <> u.rep_b OR ma.doc_id < mb.doc_id""".stripMargin
      }),
    // Banding S-curve tuning card: closed-form P(detect | jaccard) for the
    // configured (bands, rows) next to the observed verified-pair mass.
    QueryDef("q_lsh_curve", (s, dir) => Dedup.lshThresholdCurve(SignatureStore.table(s, dir)),
      // S-curve card: brute-force verified pairs (the q_dedup_neardup
      // equivalence) bucketed by exact integer milli-jaccard, left-joined
      // onto the constant grid whose p_band/p_detect chains replay the
      // engine's stepwise `·x div 1000` folds via lateral aliases.
      {
        import graft.operators.Dedup.{Bands, RowsPerBand, CurveBucketMilli}
        val pbChain = (1 to RowsPerBand).map { k =>
          val prev = if (k == 1) "1000" else s"pb${k - 1}"
          s"($prev * j_mid) // 1000 AS pb$k"
        }.mkString(",\n  ")
        val missChain = (1 to Bands).map { k =>
          val prev = if (k == 1) "1000" else s"miss${k - 1}"
          s"($prev * (1000 - pb$RowsPerBand)) // 1000 AS miss$k"
        }.mkString(",\n  ")
        s"""WITH sh AS MATERIALIZED ($shCte),
           |${jaccardPairCtes(out = "p", left = "sh", right = "sh")},
           |h AS (SELECT (((inter * 1000) // uni) // $CurveBucketMilli)
           |      * $CurveBucketMilli AS jaccard_lo,
           |    CAST(count(*) AS BIGINT) AS n_pairs
           |  FROM p GROUP BY 1),
           |g AS (SELECT CAST(i * $CurveBucketMilli AS BIGINT) AS jaccard_lo,
           |    CAST(CASE WHEN i * $CurveBucketMilli = 1000 THEN 1000
           |      ELSE i * $CurveBucketMilli + ${CurveBucketMilli / 2} END AS BIGINT)
           |      AS j_mid
           |  FROM (SELECT unnest(range(0, ${1000 / CurveBucketMilli + 1})) AS i) u),
           |c AS (SELECT jaccard_lo, j_mid,
           |  $pbChain,
           |  $missChain
           |  FROM g)
           |SELECT c.jaccard_lo, c.j_mid, c.pb$RowsPerBand AS p_band_milli,
           |  1000 - c.miss$Bands AS p_detect_milli,
           |  coalesce(h.n_pairs, 0) AS n_pairs
           |FROM c LEFT JOIN h ON c.jaccard_lo = h.jaccard_lo""".stripMargin
      }),
    dedupIncremental,
    // The same probe running as continuous ingestion: per-micro-batch
    // foreachBatch against the static corpus index (stateless).
    // Per-doc signatures, shard-vs-corpus only: the same pair set.
    QueryDef.twin("q_stream_dedup_incremental", dedupIncremental,
      (s, dir) => DocumentStreams.incrementalNearDupsToBatch(s, dir)),
    // the ingestion dashboard number: per arrival band, how much of what
    // came in was already in the corpus
    QueryDef("q_ingest_dup_rate",
      (s, dir) => Dedup.ingestDupRateFromTable(SignatureStore.table(s, dir)),
      // Dup-rate rollup over the same brute-forced shard-vs-corpus pair set
      // (banding and rate all-integer)
      {
        import graft.operators.Dedup.IngestBand
        s"""WITH sh AS MATERIALIZED ($shCte),
           |$ingestSideCtes,
           |${jaccardPairCtes(out = "ip", left = "shc", right = "shs",
              aCol = "corpus_doc", bCol = "shard_doc", sym = false)},
           |dup AS (SELECT DISTINCT shard_doc FROM ip)
           |SELECT doc_id // $IngestBand AS band, CAST(count(*) AS BIGINT) AS n_arrived,
           |  CAST(count(*) FILTER (WHERE doc_id IN (SELECT shard_doc FROM dup))
           |    AS BIGINT) AS n_dup,
           |  CAST(count(*) FILTER (WHERE doc_id IN (SELECT shard_doc FROM dup))
           |    AS BIGINT) * 1000 // CAST(count(*) AS BIGINT) AS dup_rate_milli
           |FROM documents, sp WHERE doc_id >= sp.split
           |GROUP BY doc_id // $IngestBand""".stripMargin
      }),
    // Exact-substring dedup (Lee et al. 2022, window formulation): maximal
    // per-doc token spans covered by any 8-token window occurring twice
    // anywhere in the corpus — counting, not pairing, so no candidate join.
    QueryDef("q_dedup_substring", (s, dir) => Dedup.duplicatedNgramSpans(Tables.documents(s, dir)),
      // Exact-substring dedup replay: the oracle carries the literal 8-token
      // window text where the engine carries a 128-bit fingerprint — the
      // grouping key differs, the grouped SETS are identical (fingerprint
      // collisions aside, ~1e-20/pair), so positions and merged spans match.
      // Same gaps-and-islands interval merge, 0-based starts, exclusive ends.
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |grams AS (SELECT doc_id, i - 1 AS start, array_to_string(tk[i:i+7], ' ') AS g
        |  FROM toks, unnest(range(1, len(tk) - 6)) AS t(i)),
        |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        |spans AS (SELECT doc_id, start, start + 8 AS "end"
        |  FROM grams WHERE g IN (SELECT g FROM dup)),
        |flagged AS (SELECT doc_id, start, "end",
        |    CASE WHEN start > COALESCE(max("end") OVER (PARTITION BY doc_id ORDER BY start
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS opens
        |  FROM spans),
        |islands AS (SELECT doc_id, start, "end",
        |    sum(opens) OVER (PARTITION BY doc_id ORDER BY start) AS island
        |  FROM flagged)
        |SELECT doc_id, min(start) AS span_start, max("end") AS span_end,
        |  max("end") - min(start) AS span_tokens
        |FROM islands GROUP BY doc_id, island""".stripMargin),
    // Suffix-array-EXACT substring dedup (50-char windows == Lee et al.'s
    // marked set, distributed): maximal duplicated char runs per doc.
    QueryDef("q_dedup_substring_exact",
      (s, dir) => Dedup.duplicatedCharSpans(Tables.documents(s, dir)),
      // Exact char-window replay: literal 50-char substrings where the
      // engine carries 128-bit fingerprints; same gaps-and-islands merge.
      {
        val k = graft.operators.Dedup.CharSpanLen
        s"""WITH grams AS (SELECT doc_id, i - 1 AS start, substr(text, i, $k) AS g
           |  FROM documents, unnest(range(1, len(text) - ${k - 2})) AS t(i)),
           |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
           |spans AS (SELECT doc_id, start, start + $k AS "end"
           |  FROM grams WHERE g IN (SELECT g FROM dup)),
           |flagged AS (SELECT doc_id, start, "end",
           |    CASE WHEN start > COALESCE(max("end") OVER (PARTITION BY doc_id ORDER BY start
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS opens
           |  FROM spans),
           |islands AS (SELECT doc_id, start, "end",
           |    sum(opens) OVER (PARTITION BY doc_id ORDER BY start) AS island
           |  FROM flagged)
           |SELECT doc_id, min(start) AS span_start, max("end") AS span_end,
           |  max("end") - min(start) AS span_chars
           |FROM islands GROUP BY doc_id, island""".stripMargin
      }),
    benchmarkContamination,
    // ingestion-time gate: the same probe per micro-batch against the
    // frozen eval gram index (doc-local verdicts -> shares the oracle)
    QueryDef.twin("q_stream_benchmark_contamination", benchmarkContamination,
      (s, dir) => DocumentStreams.benchmarkContaminationToBatch(s, dir)),
    // the linear production form: one row per contaminated doc (rollup
    // at rep level, so near-dup families never make the output quadratic)
    QueryDef("q_contamination_verdict",
      (s, dir) =>
        Dedup.contaminationVerdicts(
          Tables.documents(s, dir), Dedup.evalSample(Tables.documents(s, dir))),
      // the rollup replayed at rep level, expanded to members afterwards
      {
        import graft.operators.Dedup.{ContamMinShared, EvalSampleMod, EvalSampleSeed}
        s"""WITH cr AS (SELECT md5(text) AS fp, min(doc_id) AS rep_id,
           |    min_by(text, doc_id) AS text FROM documents GROUP BY md5(text)),
           |cg AS (SELECT DISTINCT rep_id, array_to_string(tk[i:i+7], ' ') AS g
           |  FROM (SELECT rep_id, string_split(text, ' ') AS tk FROM cr) t0,
           |       unnest(range(1, len(tk) - 6)) AS t(i)),
           |er AS (SELECT min(doc_id) AS eval_id, min_by(text, doc_id) AS text
           |  FROM documents
           |  WHERE ${h60(EvalSampleSeed, "doc_id")} % $EvalSampleMod = 0
           |  GROUP BY md5(text)),
           |eg AS (SELECT DISTINCT eval_id, array_to_string(tk[i:i+7], ' ') AS g
           |  FROM (SELECT eval_id, string_split(text, ' ') AS tk FROM er) t0,
           |       unnest(range(1, len(tk) - 6)) AS t(i)),
           |hot AS (SELECT g FROM cg GROUP BY g
           |  HAVING count(*) > ${graft.operators.Dedup.ContamHotCap}),
           |eg2 AS (SELECT * FROM eg WHERE g NOT IN (SELECT g FROM hot)),
           |v AS (SELECT rep_id, eval_id, CAST(count(*) AS BIGINT) AS shared_ngrams
           |  FROM cg JOIN eg2 USING (g)
           |  GROUP BY 1, 2 HAVING count(*) >= $ContamMinShared),
           |r AS (SELECT rep_id, CAST(count(*) AS BIGINT) AS n_eval_items,
           |    CAST(max(shared_ngrams) AS BIGINT) AS max_shared,
           |    min(eval_id) AS first_eval
           |  FROM v GROUP BY rep_id)
           |SELECT d.doc_id, r.n_eval_items, r.max_shared, r.first_eval
           |FROM documents d
           |JOIN cr ON md5(d.text) = cr.fp
           |JOIN r USING (rep_id)""".stripMargin
      }),
    // Exactness-gap card: where the 8-token window approximation and the
    // 50-char exact miner disagree, per doc, in chars (both directions).
    QueryDef("q_substring_gap", (s, dir) => Dedup.substringExactnessGap(Tables.documents(s, dir)),
      // Exactness-gap card: both span sets rebuilt literally (50-char and
      // 8-token windows), token spans converted through the same
      // split-on-space offsets, three gaps-and-islands merges, char sums.
      // DuckDB replay of `Dedup.substringExactnessGap`: exact 50-char spans
      // and 8-token window spans rebuilt from literal window text, token
      // spans converted to char offsets through the identical
      // split-on-space arithmetic (token i starts at Σ_{j<i}(len+1)), then
      // per-method and union coverage via three gaps-and-islands merges.
      {
        val k = graft.operators.Dedup.CharSpanLen
        def islands(src: String, s: String, e: String, pre: String): String =
          s"""${pre}fl AS (SELECT doc_id, $s, $e,
             |    CASE WHEN $s > COALESCE(max($e) OVER (PARTITION BY doc_id ORDER BY $s
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS opens
             |  FROM $src),
             |${pre}is AS (SELECT doc_id, $s, $e,
             |    sum(opens) OVER (PARTITION BY doc_id ORDER BY $s) AS island
             |  FROM ${pre}fl),
             |${pre}m AS (SELECT doc_id, min($s) AS s, max($e) AS e
             |  FROM ${pre}is GROUP BY doc_id, island)""".stripMargin
        s"""WITH cgr AS (SELECT doc_id, i - 1 AS start, substr(text, i, $k) AS g
           |  FROM documents, unnest(range(1, len(text) - ${k - 2})) AS t(i)),
           |cdup AS (SELECT g FROM cgr GROUP BY g HAVING count(*) >= 2),
           |cspan AS (SELECT doc_id, start AS s, start + $k AS e
           |  FROM cgr WHERE g IN (SELECT g FROM cdup)),
           |${islands("cspan", "s", "e", "c")},
           |toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |wgr AS (SELECT doc_id, i - 1 AS start, array_to_string(tk[i:i+7], ' ') AS g
           |  FROM toks, unnest(range(1, len(tk) - 6)) AS t(i)),
           |wdup AS (SELECT g FROM wgr GROUP BY g HAVING count(*) >= 2),
           |wspan AS (SELECT doc_id, start AS s, start + 8 AS e
           |  FROM wgr WHERE g IN (SELECT g FROM wdup)),
           |${islands("wspan", "s", "e", "w")},
           |pos AS (SELECT doc_id, i - 1 AS pos, len(tk[i]) AS tlen
           |  FROM toks, unnest(range(1, len(tk) + 1)) AS t(i)),
           |offs AS (SELECT doc_id, pos, tlen,
           |    CAST(coalesce(sum(tlen + 1) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cstart
           |  FROM pos),
           |wchar AS (SELECT wm.doc_id, o1.cstart AS s, o2.cstart + o2.tlen AS e
           |  FROM wm JOIN offs o1 ON wm.doc_id = o1.doc_id AND o1.pos = wm.s
           |          JOIN offs o2 ON wm.doc_id = o2.doc_id AND o2.pos = wm.e - 1),
           |ua AS (SELECT doc_id, s, e FROM cm UNION ALL SELECT doc_id, s, e FROM wchar),
           |${islands("ua", "s", "e", "u")},
           |ec AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS exact_chars
           |  FROM cm GROUP BY doc_id),
           |wc AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS window_chars
           |  FROM wchar GROUP BY doc_id),
           |uc AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS union_chars
           |  FROM um GROUP BY doc_id)
           |SELECT uc.doc_id, coalesce(ec.exact_chars, 0) AS exact_chars,
           |  coalesce(wc.window_chars, 0) AS window_chars, uc.union_chars,
           |  uc.union_chars - coalesce(wc.window_chars, 0) AS only_exact_chars,
           |  uc.union_chars - coalesce(ec.exact_chars, 0) AS only_window_chars
           |FROM uc LEFT JOIN ec ON uc.doc_id = ec.doc_id
           |        LEFT JOIN wc ON uc.doc_id = wc.doc_id""".stripMargin
      }),
    // C4/RefinedWeb line-level dedup: corpus-frequent fixed-token-window
    // "lines" excised from every document; per-doc totals + kept-text md5.
    QueryDef("q_line_dedup", (s, dir) => Dedup.lineDedup(Tables.documents(s, dir)),
      // Line-level dedup: same non-overlapping token windows, same seeded
      // 60-bit line hash, same frequency threshold; kept text re-joined in
      // position order (string_agg skips dropped-line NULLs like Spark's
      // collect_list; all-dropped coalesces to the empty string both sides).
      {
        val mo = graft.operators.Dedup.LineMinOccurrences
        s"""WITH $lineCtes,
           |f AS (SELECT lh FROM h GROUP BY lh HAVING count(*) >= $mo)
           |${lineReportSql("h")}""".stripMargin
      }),
    lineDedupIncremental,
    // The same probe as continuous ingestion: per-micro-batch excision
    // against the static index inside foreachBatch (stateless).
    QueryDef.twin("q_stream_line_dedup_incremental", lineDedupIncremental,
      (s, dir) => DocumentStreams.incrementalLineDedupToBatch(s, dir)),
    repetitionExcised,
    // STREAMING within-doc repetition excision: doc-local verdicts, so
    // any micro-batch partitioning unions to the identical report.
    QueryDef.twin("q_stream_repetition_excised", repetitionExcised,
      (s, dir) => DocumentStreams.repetitionExciseToBatch(s, dir)),
    // MOSS-style overlap pairs over winnowing fingerprints (hot
    // fingerprints leave by broadcast anti-join before the pair join).
    QueryDef("q_winnow_overlap", (s, dir) => Dedup.winnowOverlapPairs(Tables.documents(s, dir)),
      // Overlap pairs over the SAME winnow selection CTEs: per-doc distinct
      // hashes, hot hashes (> cap docs) excluded, pair counts by self-join.
      {
        import graft.operators.Dedup.{WinnowBucketCap, WinnowMinShared}
        s"""WITH $winnowSelCtes,
           |fps AS MATERIALIZED (SELECT DISTINCT doc_id, wcomp // $WinnowScale AS fp_hash
           |  FROM sel),
           |hot AS (SELECT fp_hash FROM fps GROUP BY fp_hash
           |  HAVING count(*) > $WinnowBucketCap),
           |cold AS MATERIALIZED (SELECT * FROM fps
           |  WHERE fp_hash NOT IN (SELECT fp_hash FROM hot)),
           |na AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM cold
           |  GROUP BY doc_id),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    CAST(count(*) AS BIGINT) AS n_shared
           |  FROM cold a JOIN cold b
           |    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared)
           |SELECT p.doc_a, p.doc_b, p.n_shared, na1.n AS n_a, na2.n AS n_b,
           |  p.n_shared * 1000 // least(na1.n, na2.n) AS overlap_milli
           |FROM p JOIN na na1 ON p.doc_a = na1.doc_id
           |       JOIN na na2 ON p.doc_b = na2.doc_id""".stripMargin
      }),
    // Soft exact dedup: each copy kept with probability 1/n_copies via
    // the content-hash Bernoulli (expected one survivor per group).
    QueryDef("q_dedup_soft", (s, dir) => Dedup.softDedup(Tables.documents(s, dir)),
      // Soft dedup: same normalized-text groups as q_dedup_exact, keep
      // verdict = seeded 60-bit hash residue mod group size.
      {
        val sd = graft.operators.Dedup.SoftDedupSeed
        s"""WITH fp AS (SELECT doc_id,
           |    md5(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g')) AS fp_md5
           |  FROM documents),
           |g AS (SELECT fp_md5, CAST(count(*) AS BIGINT) AS n_copies
           |  FROM fp GROUP BY fp_md5)
           |SELECT doc_id, n_copies,
           |  (${h60(sd, "CAST(doc_id AS VARCHAR)")} % n_copies) = 0 AS kept
           |FROM fp JOIN g USING (fp_md5)""".stripMargin
      }),
    winnowOverlapIncremental,
    // The same probe per micro-batch against the static artifacts.
    QueryDef.twin("q_stream_winnow_overlap", winnowOverlapIncremental,
      (s, dir) => DocumentStreams.incrementalWinnowOverlapToBatch(s, dir)),
    QueryDef("q_simhash_sig", (s, dir) => Dedup.simhashSignatures(Tables.documents(s, dir)),
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM sig""".stripMargin),
    QueryDef("q_simhash_pairs", (s, dir) => Dedup.simhashNearDupPairs(Tables.documents(s, dir)),
      // Byte-banding over 32 bits is exact for Hamming distance <= 3
      // (pigeonhole: 3 flipped bits touch at most 3 of the 4 bytes), so the
      // engine's band join equals this brute-force oracle.
      s"""WITH $simhashCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash)) AS dist
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),
    QueryDef("q_dedup_clusters",
      (s, dir) =>
        Dedup.clustersFromPairs(
          Tables.documents(s, dir),
          Dedup.nearDuplicatePairsFromTable(SignatureStore.table(s, dir))),
      // Connected components via transitive closure: the recursive CTE
      // computes every (node, reachable-root) pair; min(root) per node is the
      // component's minimum doc_id — exactly the engine's min-label
      // propagation fixpoint. UNION (not UNION ALL) dedups per step, so the
      // recursion terminates.
      s"""WITH RECURSIVE sh AS MATERIALIZED ($shCte),
         |$neardupPairsCte,
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id),
         |labels AS MATERIALIZED (SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id),
         |sizes AS (SELECT cluster_id, count(*) AS cluster_n FROM labels GROUP BY 1)
         |SELECT l.doc_id, l.cluster_id, s.cluster_n
         |FROM labels l JOIN sizes s USING (cluster_id)""".stripMargin),
    // directional containment over the mined pair set: mutual / a_in_b /
    // b_in_a / partial (integer-milli ratios, two slim size joins)
    QueryDef("q_containment", (s, dir) => Dedup.pairContainment(SignatureStore.table(s, dir)),
      // Directional containment over the brute-forced near-dup pair set:
      // integer-milli floor divisions and the same verdict CASE order as
      // Dedup.pairContainment (pairs never include empty shingle sets, so
      // the divisors are positive).
      {
        import graft.operators.Dedup.ContainmentMilli
        s"""WITH sh AS MATERIALIZED ($shCte),
           |${jaccardPairCtes(out = "p", left = "sh", right = "sh")}
           |SELECT doc_a, doc_b, inter, n_a, n_b,
           |  inter * 1000 // n_a AS cont_a_milli,
           |  inter * 1000 // n_b AS cont_b_milli,
           |  CASE WHEN inter * 1000 // n_a >= $ContainmentMilli
           |         AND inter * 1000 // n_b >= $ContainmentMilli THEN 'mutual'
           |    WHEN inter * 1000 // n_a >= $ContainmentMilli THEN 'a_in_b'
           |    WHEN inter * 1000 // n_b >= $ContainmentMilli THEN 'b_in_a'
           |    ELSE 'partial' END AS relation
           |FROM p""".stripMargin
      }),
    // MinHash-vs-SimHash detector agreement (both / minhash_only /
    // simhash_only pair counts; both miners are the banded joins)
    QueryDef("q_dedup_agreement",
      (s, dir) =>
        Dedup.dedupMethodAgreement(
          Tables.documents(s, dir), SignatureStore.table(s, dir)),
      // The two brute-forced pair sets (jaccard >= 0.5 via the shared CTE,
      // simhash hamming <= 3 via the shared simhashCte), full-outer joined
      // on the pair key and bucketed like Dedup.dedupMethodAgreement.
      s"""WITH sh AS MATERIALIZED ($shCte),
         |$neardupPairsCte,
         |$simhashCte,
         |sp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |u AS (SELECT p.doc_a IS NOT NULL AS in_mh, sp.doc_a IS NOT NULL AS in_sh
         |  FROM pairs p FULL JOIN sp
         |    ON p.doc_a = sp.doc_a AND p.doc_b = sp.doc_b)
         |SELECT CASE WHEN in_mh AND in_sh THEN 'both'
         |    WHEN in_mh THEN 'minhash_only'
         |    ELSE 'simhash_only' END AS method,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM u GROUP BY 1""".stripMargin),
    // clustering composes with ANY pair source: here the exact cosine pairs
    QueryDef("q_embed_clusters",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val emb = Tables.embeddings(s, dir)
        Dedup.clustersFromPairs(
          emb.select(col("vec_id").as("doc_id")),
          Similarity.cosineNearDupPairsBlocked(emb)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
          .select(col("doc_id").as("vec_id"), col("cluster_id"), col("cluster_n"))
      },
      // Same transitive-closure shape as q_dedup_clusters, over the exact
      // cosine pair graph.
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45),
        |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(id, root) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id),
        |labels AS (SELECT id AS vec_id, min(root) AS cluster_id FROM reach GROUP BY id),
        |sizes AS (SELECT cluster_id, count(*) AS cluster_n FROM labels GROUP BY 1)
        |SELECT l.vec_id, l.cluster_id, s.cluster_n
        |FROM labels l JOIN sizes s USING (cluster_id)""".stripMargin),
    // Ingest-time content dedup of documents (streaming twin of
    // q_dedup_exact): the surviving-fingerprint SET is deterministic even
    // though the surviving copy depends on arrival order.
    QueryDef("q_stream_dedup_docs", (s, dir) => DocumentStreams.dedupToBatch(s, dir),
      // One surviving row per distinct fingerprint — the batch twin's keys.
      """SELECT md5(regexp_replace(lower(trim(nfc_normalize(text))), '\s+', ' ', 'g')) AS fp_md5
        |FROM documents GROUP BY 1""".stripMargin),
  )

  /** The per-document excision report over a lines relation `src`
    * left-joined to the verdict CTE `f` (mirrors `Dedup.excisionReport`).
    */
  private def lineReportSql(src: String): String =
    s"""SELECT $src.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_lines,
       |  CAST(sum(CASE WHEN f.lh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_lines_dropped,
       |  CAST(sum(CASE WHEN f.lh IS NOT NULL THEN n_tok ELSE 0 END) AS BIGINT)
       |    AS n_tokens_dropped,
       |  md5(coalesce(
       |    string_agg(CASE WHEN f.lh IS NULL THEN line END, ' ' ORDER BY pos),
       |    '')) AS kept_md5
       |FROM $src LEFT JOIN f ON $src.lh = f.lh
       |GROUP BY $src.doc_id""".stripMargin

  // mh(2i)/mh(2i+1) are the two independent 60-bit halves of digest i
  // (hex chars [1,15] and [17,31]) — mirrors HashFunctions.md5LongHalves
  private val minhashCols = (0 until Dedup.NumHashes)
    .map { i =>
      val (seed, from) = (i / 2, if (i % 2 == 0) 1 else 17)
      val h = s"CAST(('0x' || substr(md5('$seed:' || s), $from, 15)) AS BIGINT)"
      s"CASE WHEN len(sh) > 0 THEN list_min(list_transform(sh, s -> $h)) END AS mh$i"
    }
    .mkString(",\n  ")

  private val simhashCte = {
    val bitSums = (0 until 32)
      .map(b => s"sum(((h32 >> $b) & 1) * 2 - 1) AS b$b").mkString(", ")
    val recombine = (0 until 32)
      .map(b => s"CASE WHEN b$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(nfc_normalize(text)), '\\s+')) AS tok
       |         FROM documents),
       |th AS (SELECT doc_id, ${h60(99, "tok")} & 4294967295 AS h32 FROM toks),
       |bits AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id),
       |sig AS (SELECT doc_id, $recombine AS simhash FROM bits)""".stripMargin
  }
}
