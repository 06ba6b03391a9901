package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._

/** BPE tokenizer training, sampling and encoding. */
object TokenizerQueries {

  val all: Seq[QueryDef] = Seq(
    // Vocabulary induction + id encoding: top-V tokens by (count DESC,
    // tok ASC) get ids 1..V, every position encoded, OOV -> 0.
    QueryDef("q_token_ids", (s, dir) => TextAnalysis.tokenIdSequences(Tables.documents(s, dir)),
      {
        import graft.operators.TextAnalysis.{VocabSize, UnkId}
        s"""WITH t AS (SELECT doc_id,
           |    regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+') AS ts FROM documents),
           |pos AS (SELECT doc_id, i - 1 AS pos, ts[i] AS tok FROM (
           |    SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM t) x),
           |vocab AS (SELECT tok, row_number() OVER (ORDER BY n DESC, tok ASC) AS token_id
           |  FROM (SELECT tok, count(*) AS n FROM pos GROUP BY tok
           |        ORDER BY n DESC, tok ASC LIMIT $VocabSize) f)
           |SELECT p.doc_id, p.pos, COALESCE(v.token_id, $UnkId) AS token_id
           |FROM pos p LEFT JOIN vocab v USING (tok)""".stripMargin
      }),
    QueryDef("q_bpe_merges", (s, dir) => TextAnalysis.bpeMergeCandidates(Tables.documents(s, dir)),
      // BPE step-one merge candidates: adjacent character pairs inside
      // lowercase tokens; substr is character-based in both engines and the
      // offset axes match (sequence 1..len-1 inclusive == range(1, len)).
      s"""SELECT pair, count(*) AS n FROM (
         |  SELECT unnest(list_transform(range(1, length(tok)),
         |                i -> substr(tok, CAST(i AS INTEGER), 2))) AS pair
         |  FROM (SELECT unnest(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+')) AS tok
         |        FROM documents) t
         |  WHERE length(tok) >= 2) p
         |GROUP BY pair
         |ORDER BY n DESC, pair ASC LIMIT ${TextAnalysis.DefaultBpeK}""".stripMargin),
    // REAL iterative BPE: k rounds of weighted pair-count + merge over the
    // evolving segmentation (vocabulary-scale rounds, kernel-applied rules).
    // Trained ONCE per corpus into the persisted TokenizerStore table;
    // this query reads the artifact back.
    QueryDef("q_bpe_trained", (s, dir) => TokenizerStore.mergesTable(s, dir),
      // The full k-round BPE training loop replayed: per round a weighted
      // pair count over the current segmentation (top-1 by count DESC, pair
      // ASC), the segmentation re-derived from s0 by a streaming nested
      // list_reduce identical to the kernel's leftmost-first merge — only
      // the 1-row merge CTEs are MATERIALIZED (see bpeChainCtes).
      (bpeRoundCtes(TextAnalysis.DefaultBpeK) + "\n" +
        "SELECT rank, a, b, n FROM m")),
    // Bounded-sample training (r14): identical trainer on a deterministic
    // 1/16 doc sample — the 100 TB production path (both the word scan
    // and every merge round are sample-bounded); the agreement card below
    // is its acceptance gate vs the exact trainer.
    QueryDef("q_bpe_sampled", (s, dir) => TextAnalysis.bpeSampledMerges(Tables.documents(s, dir)),
      // The SAME k-round training replay, but over the deterministic 1/16
      // doc sample (h60 membership mirrors the engine's md5Long draw)
      ("WITH RECURSIVE " +
        bpeChainCtes(TextAnalysis.DefaultBpeK, w = "wq", s = "t", m = "mm",
          docWhere = bpeSampleWhere) + "\n" +
        "SELECT rank, a, b, n FROM mm")),
    QueryDef("q_bpe_sample_agreement",
      (s, dir) => TextAnalysis.bpeSampleAgreement(Tables.documents(s, dir)),
      // Agreement card: BOTH trainings side by side (exact chain w/s/m,
      // sampled chain wq/t/mm), the sampled rules APPLIED to the full
      // vocabulary (u folding mm's rules over the exact seed sr), and the
      // freq-weighted segmentation-agreement scalar — all replayed,
      // nothing asserted. The rank scaffold keeps the output at exactly k
      // rows with NULL rule columns past an early stop (engine parity).
      {
        val k = TextAnalysis.DefaultBpeK
        "WITH RECURSIVE " +
          bpeChainCtes(k, w = "w", s = "s", m = "m", docWhere = "") + ",\n" +
          bpeChainCtes(k, w = "wq", s = "t", m = "mm", docWhere = bpeSampleWhere) + ",\n" +
          bpeApplyCtes(u = "u", m = "mm", seedRow = "sr") + ",\n" +
          s"""agree AS MATERIALIZED (SELECT
             |    (CAST(sum(CASE WHEN array_to_string(e.pieces, ' ')
             |                      = array_to_string(u.pieces, ' ')
             |         THEN e.freq ELSE 0 END) AS BIGINT) * 1000)
             |      // CAST(sum(e.freq) AS BIGINT) AS seg_agree_milli
             |  FROM s$k e JOIN u USING (word))
             |SELECT rk.rank,
             |  me.a AS exact_a, me.b AS exact_b,
             |  ms.a AS sample_a, ms.b AS sample_b,
             |  coalesce(me.a = ms.a AND me.b = ms.b, FALSE) AS rule_match,
             |  agree.seg_agree_milli
             |FROM (SELECT unnest(range(1, $k + 1)) AS rank) rk
             |LEFT JOIN m me ON me.rank = rk.rank
             |LEFT JOIN mm ms ON ms.rank = rk.rank
             |CROSS JOIN agree""".stripMargin
      }),
    // The tokenizer's APPLY step: every distinct word segmented under
    // rules RELOADED from the persisted table (train-once/apply-everywhere
    // — encode never retrains).
    QueryDef("q_bpe_encode",
      (s, dir) =>
        TextAnalysis.bpeEncodeWithRules(Tables.documents(s, dir), TokenizerStore.rules(s, dir)),
      (bpeRoundCtes(TextAnalysis.DefaultBpeK) + "\n" +
        s"""SELECT word, freq, array_to_string(pieces, ' ') AS pieces,
           |  CAST(len(pieces) AS BIGINT) AS n_pieces
           |FROM s${TextAnalysis.DefaultBpeK}""".stripMargin)),
    // vocab-sizing curve (r17): ONE training to the deepest checkpoint,
    // then per-checkpoint rule-prefix encodes — fertility/compression/
    // distinct-piece utilization vs merge count, all exact integers
    QueryDef("q_bpe_vocab_curve", (s, dir) => TextAnalysis.bpeVocabCurve(Tables.documents(s, dir)),
      // Vocab-sizing curve: the SAME training recursion's intermediate
      // round states (round r of mtr = segmentation under the first r
      // rules — BPE's greedy prefix invariant), aggregated per checkpoint
      (bpeRoundCtes(TextAnalysis.DefaultBpeK) + ",\n" +
        s"""ckpts AS (SELECT round, seg FROM mtr
           |  WHERE round IN (${TextAnalysis.BpeCurveCheckpoints.mkString(", ")})),
           |cbase AS (SELECT CAST(sum(s.freq) AS BIGINT) AS n_words,
           |    CAST(sum(s.freq * length(s.word)) AS BIGINT) AS n_chars
           |  FROM sr, unnest(sr.seg) AS t0(s)),
           |cagg AS (SELECT round,
           |    CAST(sum(freq) AS BIGINT) AS n_bpe_tokens,
           |    CAST(count(DISTINCT piece) AS BIGINT) AS n_distinct_pieces
           |  FROM (SELECT round, s.freq AS freq, unnest(s.pieces) AS piece
           |    FROM (SELECT round, unnest(seg) AS s FROM ckpts) z0) z1
           |  GROUP BY round)
           |SELECT CAST(round AS BIGINT) AS vocab_k,
           |  CAST(round AS BIGINT) AS n_rules,
           |  n_distinct_pieces, n_words, n_chars, n_bpe_tokens,
           |  (n_bpe_tokens * 1000) // n_words AS fertility_milli,
           |  (n_chars * 1000) // n_bpe_tokens AS compression_milli
           |FROM cagg CROSS JOIN cbase""".stripMargin)),
    // byte-fallback card (r17): character_coverage-kept alphabet ∪ merge
    // outputs from the SAMPLED trainer; full corpus encoded under the
    // sampled rules, OOV pieces expanded to UTF-8 bytes — per-lang rates
    QueryDef("q_bpe_byte_fallback",
      (s, dir) => TextAnalysis.bpeByteFallback(Tables.documents(s, dir)),
      // Byte-fallback card: sampled trainer chain (wq/t/mm) + full-corpus
      // seed (fsr) folded under the sampled rules (u); the kept alphabet
      // is the minimal coverage prefix (cum_before·den < total·num), the
      // vocabulary alphabet ∪ merge outputs (DISTINCT over UNION ALL — the
      // WITH RECURSIVE UNION-dedup pitfall), OOV pieces expand to strlen
      // bytes (DuckDB strlen = UTF-8 bytes = Spark octet_length)
      {
        val k = TextAnalysis.DefaultBpeK
        "WITH RECURSIVE " +
          bpeChainCtes(k, w = "wq", s = "t", m = "mm",
            docWhere = bpeSampleWhere) + ",\n" +
          bpeSeedCte("fsr", "fw", "") + ",\n" +
          bpeApplyCtes(u = "u", m = "mm", seedRow = "fsr") + ",\n" +
          s"""cfr AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cf FROM (
             |    SELECT s.freq AS freq, unnest(s.pieces) AS piece
             |    FROM tr, unnest(tr.seg) AS t0(s)) z GROUP BY piece),
             |alpha AS (SELECT piece FROM (
             |    SELECT piece, cf,
             |      coalesce(sum(cf) OVER (ORDER BY cf DESC, piece ASC
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |        AS cum_before,
             |      sum(cf) OVER () AS cf_total
             |    FROM cfr) a
             |  WHERE cum_before * ${TextAnalysis.BpeCoverageDen}
             |      < cf_total * ${TextAnalysis.BpeCoverageNum}),
             |vocabp AS (SELECT DISTINCT piece FROM (
             |    SELECT piece FROM alpha
             |    UNION ALL SELECT a || b AS piece FROM mm) vv),
             |pstat AS (SELECT p.word AS word, CAST(count(*) AS BIGINT) AS wp,
             |    CAST(sum(CASE WHEN v.piece IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS wo,
             |    CAST(sum(CASE WHEN v.piece IS NULL THEN strlen(p.piece)
             |      ELSE 1 END) AS BIGINT) AS wt
             |  FROM (SELECT u.word AS word, unnest(u.pieces) AS piece FROM u) p
             |  LEFT JOIN vocabp v ON p.piece = v.piece
             |  GROUP BY p.word),
             |lw AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS freq FROM (
             |    SELECT lang, unnest(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+')) AS word
             |    FROM documents) t
             |  WHERE length(word) >= 1 GROUP BY lang, word)
             |SELECT lw.lang,
             |  CAST(sum(lw.freq) AS BIGINT) AS n_words,
             |  CAST(sum(lw.freq * ps.wp) AS BIGINT) AS n_pieces,
             |  CAST(sum(lw.freq * ps.wo) AS BIGINT) AS n_oov_pieces,
             |  CAST(sum(lw.freq * ps.wt) AS BIGINT) AS n_tokens,
             |  (CAST(sum(lw.freq * ps.wo) AS BIGINT) * 1000)
             |    // CAST(sum(lw.freq * ps.wp) AS BIGINT) AS oov_permille
             |FROM lw JOIN pstat ps USING (word)
             |GROUP BY lw.lang""".stripMargin
      }),
  )

  /** DuckDB membership test of the engine's deterministic BPE doc
    * sample (`TextAnalysis.bpeSampledDocs`).
    */
  private def bpeSampleWhere: String =
    s" WHERE ${h60(TextAnalysis.BpeSampleSeed, "CAST(doc_id AS VARCHAR)")}" +
      s" % ${TextAnalysis.BpeSampleMod} = 0"

  /** APPLY-ONLY twin: ONE nested-fold CTE `$u` applying chain `$m`'s
    * trained rules in rank order over chain seed `$seedRow`'s char
    * segmentation — how the agreement oracle applies the sample-trained
    * rules to the FULL vocabulary. The outer reduce walks the rules (the
    * accumulator is the pieces list, seeded by list_prepend); the inner
    * reduce is the kernel's leftmost-first single-rule merge pass.
    */
  private def bpeApplyCtes(u: String, m: String, seedRow: String): String =
    s"""$u AS (SELECT s.word, s.freq,
       |  list_reduce(list_prepend(s.pieces,
       |      list_transform(${m}f.rules, r0 -> [r0.a, r0.b])),
       |    (acc, r) -> list_reduce(list_transform(acc, p -> [p]),
       |      (a2, x2) -> CASE WHEN a2[-1] = r[1] AND x2[1] = r[2]
       |        THEN a2[1:len(a2)-1] || [r[1] || r[2]] ELSE a2 || x2 END))
       |    AS pieces
       |  FROM $seedRow, ${m}f, unnest($seedRow.seg) AS t(s))""".stripMargin
}
