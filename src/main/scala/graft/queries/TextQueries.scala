package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._
import graft.streaming.DocumentStreams

/** Text analysis for the LLM data pipeline: statistics, language id,
  * retrieval, quality, PII, decontamination.
  */
object TextQueries {
  private val topTermsPerLang = QueryDef("q_top_terms_per_lang",
    (s, dir) => TextAnalysis.topTermsPerLang(Tables.documents(s, dir)),
    s"""WITH t AS (SELECT lang,
       |    unnest(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+')) AS term
       |  FROM documents),
       |c AS (SELECT lang, term, count(*) AS n FROM t
       |  WHERE len(term) > 0 GROUP BY lang, term)
       |SELECT lang, term, n, rank FROM (
       |  SELECT lang, term, n,
       |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, term ASC) AS rank
       |  FROM c) r
       |WHERE rank <= ${TextAnalysis.DefaultTopTermsK}""".stripMargin)
  // span-level decontamination: WHERE the leaked 13-grams sit (merged
  // token-offset spans) — the excision cut list, not just the flag
  private val spanDecontam = QueryDef("q_span_decontam",
    (s, dir) => TextAnalysis.spanDecontaminate(Tables.documents(s, dir)),
    // Span decontam: positional 13-gram windows (same token/hash axes as
    // q_decontam), eval hashes collapsed before the join, gaps-and-islands
    // span merge — lag NULL on the first hit opens an island in both
    // engines (NULL < n is NULL -> the ELSE/otherwise branch)
    {
      val n = TextAnalysis.DecontamNgram
      s"""WITH t AS ($tokCte),
         |c AS (SELECT doc_id,
         |  toks[1:${graft.functions.TextFunctions.MaxShingleTokens}] AS toks FROM t),
         |win AS (SELECT doc_id, CAST(i AS BIGINT) AS s,
         |    ${h60(n, s"array_to_string(toks[i+1:i+$n], ' ')")} AS gh
         |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - ${n - 1})) AS i
         |        FROM c WHERE len(toks) >= $n) u),
         |ev AS (SELECT DISTINCT gh FROM win
         |  WHERE doc_id % ${TextAnalysis.EvalHoldoutMod} = 0),
         |hits AS (SELECT w.doc_id, w.s FROM win w JOIN ev USING (gh)
         |  WHERE w.doc_id % ${TextAnalysis.EvalHoldoutMod} <> 0),
         |fl AS (SELECT doc_id, s,
         |    CASE WHEN s - lag(s) OVER (PARTITION BY doc_id ORDER BY s) < $n
         |         THEN 0 ELSE 1 END AS newisl
         |  FROM hits),
         |isl AS (SELECT doc_id, s, sum(newisl)
         |    OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS isl
         |  FROM fl)
         |SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
         |  CAST(max(s) + ${n - 1} AS BIGINT) AS span_end,
         |  CAST(count(*) AS BIGINT) AS n_windows
         |FROM isl GROUP BY doc_id, isl""".stripMargin
    })
  // Per-arriving-doc novelty against the frozen corpus vocabulary:
  // the "does this doc add anything" ingestion filter signal.
  private val ngramNoveltyIncremental = QueryDef("q_ngram_novelty_incremental",
    (s, dir) => TextAnalysis.incrementalNgramNovelty(Tables.documents(s, dir)),
    // Frozen below-split distinct-shingle vocabulary, per-shard-doc
    // probe counts (every shard doc present, shingle-less ones as zeros).
    s"""WITH sh AS MATERIALIZED ($shCte),
       |sp AS (SELECT (max(doc_id) + 1) * 4 // 5 AS split FROM documents),
       |idx AS (SELECT DISTINCT sg FROM (
       |    SELECT unnest(sh) AS sg FROM sh, sp WHERE sh.doc_id < sp.split) u),
       |e AS (SELECT doc_id, unnest(sh) AS sg FROM sh, sp
       |  WHERE sh.doc_id >= sp.split),
       |c AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
       |    CAST(sum(CASE WHEN i.sg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_novel
       |  FROM e LEFT JOIN idx i ON e.sg = i.sg GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(c.n_ngrams, 0) AS n_ngrams,
       |  coalesce(c.n_novel, 0) AS n_novel,
       |  CASE WHEN coalesce(c.n_ngrams, 0) > 0
       |       THEN c.n_novel * 1000 // c.n_ngrams ELSE 0 END AS novelty_milli
       |FROM (SELECT doc_id FROM documents, sp
       |      WHERE documents.doc_id >= sp.split) d
       |LEFT JOIN c ON d.doc_id = c.doc_id""".stripMargin)

  val all: Seq[QueryDef] = Seq(
    // Dead-letter-queue split: the quality gate's reject side with the
    // first-failing-rule reason, two-sink idempotent foreachBatch routing.
    QueryDef("q_stream_dlq", (s, dir) => DocumentStreams.dlqSplitToBatch(s, dir),
      // The gate's negation with first-failing-rule reasons (same check
      // order as the engine's when-chain; ELSE is provably pii_digit_run).
      {
        val stopFilter = s"len(list_filter(t.toks, w -> list_contains($stopList, w)))"
        s"""WITH t AS ($tokCte)
           |SELECT d.doc_id, d.lang, d.source,
           |  CASE WHEN len(t.toks) < 10 THEN 'too_short'
           |       WHEN $stopFilter = 0 THEN 'no_stopwords'
           |       WHEN len(regexp_extract_all(d.text, '${TextAnalysis.EmailPattern}')) > 0 THEN 'pii_email'
           |       WHEN len(regexp_extract_all(d.text, '${TextAnalysis.Ipv4Pattern}')) > 0 THEN 'pii_ipv4'
           |       ELSE 'pii_digit_run' END AS reason
           |FROM documents d JOIN t ON d.doc_id = t.doc_id
           |WHERE NOT (len(t.toks) >= 10
           |  AND $stopFilter > 0
           |  AND len(regexp_extract_all(d.text, '${TextAnalysis.EmailPattern}')) = 0
           |  AND len(regexp_extract_all(d.text, '${TextAnalysis.Ipv4Pattern}')) = 0
           |  AND len(regexp_extract_all(d.text, '${TextAnalysis.DigitRunPattern}')) = 0)""".stripMargin
      }),
    QueryDef("q_text_stats", (s, dir) => TextAnalysis.docStats(Tables.documents(s, dir)),
      s"""WITH t AS ($tokCte)
         |SELECT d.doc_id, length(d.text) AS n_chars_txt, len(t.toks) AS n_tokens,
         |  len(list_filter(t.toks, w -> regexp_full_match(w, '[.,!?:;"'']+'))) AS n_punct_tokens,
         |  len(list_filter(t.toks, w -> list_contains($stopList, w))) AS n_stopwords,
         |  CAST(len(list_filter(t.toks, w -> list_contains($stopList, w))) AS DOUBLE)
         |    / len(t.toks) AS stopword_ratio,
         |  (len(t.toks) >= 10 AND len(list_filter(t.toks, w -> list_contains($stopList, w))) > 0)
         |    AS is_quality
         |FROM documents d JOIN t ON d.doc_id = t.doc_id""".stripMargin),
    QueryDef("q_lang_id", (s, dir) => TextAnalysis.langId(Tables.documents(s, dir)),
      s"""WITH $langIdCtes
         |SELECT doc_id, lang, hits_en, hits_de, hits_es, hits_fr, pred_lang
         |FROM li""".stripMargin),
    // detector QA: (true, predicted) confusion cells with milli shares
    QueryDef("q_langid_confusion",
      (s, dir) => TextAnalysis.langIdConfusion(Tables.documents(s, dir)),
      // Confusion rollup over the SAME per-doc prediction CTEs (shared via
      // langIdCtes so the two oracles cannot drift)
      s"""WITH $langIdCtes,
         |cells AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         |  FROM li GROUP BY lang, pred_lang),
         |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_true
         |  FROM cells GROUP BY lang)
         |SELECT c.lang, c.pred_lang, c.n, t2.n_true,
         |  (c.n * 1000) // t2.n_true AS share_milli,
         |  c.lang = c.pred_lang AS correct
         |FROM cells c JOIN tot t2 USING (lang)""".stripMargin),
    QueryDef("q_token_counts", (s, dir) => TextAnalysis.tokenCounts(Tables.documents(s, dir)),
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(nfc_normalize(text)), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpeish_tokens
        |FROM documents""".stripMargin),
    // BM25-style ranked retrieval (rational k1/b cross-multiplied to exact
    // integers, linear idf, fixed-order term sum) — full oracle replay.
    QueryDef("q_bm25_topk", (s, dir) => TextAnalysis.bm25TopK(Tables.documents(s, dir)),
      bm25TopKOracle),
    QueryDef("q_fingerprint", (s, dir) => TextAnalysis.fingerprints(Tables.documents(s, dir)),
      s"""WITH sh AS MATERIALIZED ($shCte)
         |SELECT d.doc_id,
         |  md5(regexp_replace(lower(trim(nfc_normalize(d.text))), '\\s+', ' ', 'g')) AS fp_md5,
         |  ${h60(0, "regexp_replace(lower(trim(nfc_normalize(d.text))), '\\s+', ' ', 'g')")} AS fp60,
         |  CASE WHEN len(sh.sh) > 0
         |       THEN list_min(list_transform(sh.sh, s -> ${h60(1, "s")})) END AS fp_min_shingle
         |FROM documents d JOIN sh ON d.doc_id = sh.doc_id""".stripMargin),
    QueryDef("q_tfidf_topterms", (s, dir) => TextAnalysis.tfIdfTopTerms(Tables.documents(s, dir)),
      // The linear-idf score is a single division of exact integers — see
      // TextAnalysis.tfIdfTopTerms for why ln() is not hash-portable.
      """WITH t AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
        |  WHERE len(term) > 0 GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |ranked AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf * n.n_docs AS DOUBLE) / (df.df + 1) AS tfidf,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / (df.df + 1) DESC,
        |               tf.term ASC) AS rank
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, tfidf, rank FROM ranked WHERE rank <= 5""".stripMargin),
    topTermsPerLang,
    // At-scale twin: per-lang TakeOrdered (bound heaps) instead of the
    // vocabulary-wide window sort; the identical ranking.
    QueryDef.twin("q_top_terms_per_lang_scalable", topTermsPerLang,
      (s, dir) => TextAnalysis.topTermsPerLangTakeOrdered(Tables.documents(s, dir))),
    QueryDef("q_chunked", (s, dir) => TextAnalysis.chunked(Tables.documents(s, dir)),
      // Chunk starts: every multiple of stride below n_tokens (n >= 1 for
      // any string). Spark's sequence(0, n-1, stride) == DuckDB's
      // range(0, n, stride); 1-based inclusive list slices match Spark's
      // slice(pos, len). Stride/width interpolate the operator's constants.
      {
        val (st, ct) = (TextAnalysis.DefaultStride, TextAnalysis.DefaultChunkTokens)
        s"""WITH t AS (SELECT doc_id,
           |    regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
           |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), $st)) AS start FROM t)
           |SELECT doc_id, CAST(start // $st AS INT) AS chunk_id,
           |  array_to_string(toks[start+1 : start+$ct], ' ') AS chunk_text,
           |  len(toks[start+1 : start+$ct]) AS n_tokens
           |FROM s""".stripMargin
      }),
    QueryDef("q_repetition", (s, dir) => TextAnalysis.repetitionStats(Tables.documents(s, dir)),
      // Repetition signals: trigram-window counts over the capped RAW token
      // axis (mirrors shingles), token histogram over lowercase tokens.
      // Thresholds interpolated from the operator's constants.
      s"""WITH t AS ($tokCte),
         |c AS (SELECT doc_id,
         |  toks[1:${graft.functions.TextFunctions.MaxShingleTokens}] AS toks FROM t),
         |tri AS (SELECT doc_id,
         |    CAST(greatest(len(toks) - 2, 0) AS INTEGER) AS n_trigrams,
         |    CAST(CASE WHEN len(toks) >= 3 THEN len(list_distinct(list_transform(
         |      range(0, len(toks) - 2), i -> array_to_string(toks[i+1:i+3], ' '))))
         |      ELSE 0 END AS INTEGER) AS n_distinct_trigrams
         |  FROM c),
         |tok AS (SELECT doc_id, CAST(max(n) AS INTEGER) AS top_tok_n,
         |    CAST(sum(n) AS INTEGER) AS n_tokens
         |  FROM (SELECT doc_id, tok, count(*) AS n FROM (
         |      SELECT doc_id,
         |        unnest(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+')) AS tok
         |      FROM documents) u GROUP BY doc_id, tok) cnts
         |  GROUP BY doc_id)
         |SELECT tri.doc_id, tok.n_tokens, tri.n_trigrams, tri.n_distinct_trigrams,
         |  CASE WHEN tri.n_trigrams > 0
         |    THEN CAST(tri.n_trigrams - tri.n_distinct_trigrams AS DOUBLE) / tri.n_trigrams
         |    ELSE 0.0 END AS dup_trigram_ratio,
         |  tok.top_tok_n,
         |  CAST(tok.top_tok_n AS DOUBLE) / tok.n_tokens AS top_token_frac,
         |  (CASE WHEN tri.n_trigrams > 0
         |     THEN CAST(tri.n_trigrams - tri.n_distinct_trigrams AS DOUBLE) / tri.n_trigrams
         |     ELSE 0.0 END > ${TextAnalysis.RepetitionDupTrigramMax}
         |   OR CAST(tok.top_tok_n AS DOUBLE) / tok.n_tokens
         |      > ${TextAnalysis.RepetitionTopTokenMax}) AS is_repetitive
         |FROM tri JOIN tok ON tri.doc_id = tok.doc_id""".stripMargin),
    QueryDef("q_bigram_lm", (s, dir) => TextAnalysis.bigramNextTokens(Tables.documents(s, dir)),
      // Bigram LM: Spark arrays are 0-based (ts[i-1], ts[i]); DuckDB lists
      // are 1-based (ts[i], ts[i+1]) — both enumerate pairs 1..len-1.
      s"""WITH ts AS (SELECT regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+') AS ts
         |  FROM documents),
         |bgidx AS (SELECT ts, unnest(range(1, len(ts))) AS i
         |  FROM ts WHERE len(ts) >= 2),
         |bg AS (SELECT ts[i] AS w1, ts[i + 1] AS w2 FROM bgidx),
         |c AS (SELECT w1, w2, count(*) AS n_pair FROM bg GROUP BY w1, w2),
         |t AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_w1 FROM c GROUP BY w1),
         |r AS (SELECT c.w1, c.w2, c.n_pair, t.n_w1,
         |    row_number() OVER (PARTITION BY c.w1
         |      ORDER BY c.n_pair DESC, c.w2 ASC) AS rank
         |  FROM c JOIN t ON c.w1 = t.w1)
         |SELECT w1, w2, n_pair, n_w1,
         |  CAST(n_pair AS DOUBLE) / n_w1 AS p, rank
         |FROM r WHERE rank <= ${TextAnalysis.DefaultBigramK}""".stripMargin),
    // per-lang BPE fertility under the PERSISTED tokenizer (tokenizer QA)
    QueryDef("q_tokenizer_fertility",
      (s, dir) =>
        TextAnalysis.tokenizerFertility(Tables.documents(s, dir), TokenizerStore.rules(s, dir)),
      // Fertility rollup: the encode chain above, joined to per-(lang, word)
      // frequencies, |langs| rows out; fertility in integer thousandths
      (bpeRoundCtes(TextAnalysis.DefaultBpeK) + ",\n" +
        s"""lw AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS freq FROM (
           |    SELECT lang, unnest(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+')) AS word
           |    FROM documents) t
           |  WHERE length(word) >= 1 GROUP BY lang, word),
           |p AS (SELECT word, CAST(len(pieces) AS BIGINT) AS n_pieces
           |  FROM s${TextAnalysis.DefaultBpeK})
           |SELECT lw.lang,
           |  CAST(sum(lw.freq * p.n_pieces) AS BIGINT) AS n_bpe_tokens,
           |  CAST(sum(lw.freq) AS BIGINT) AS n_words,
           |  CAST(sum(lw.freq * length(lw.word)) AS BIGINT) AS n_chars,
           |  CAST(sum(lw.freq * p.n_pieces) AS BIGINT) * 1000
           |    // CAST(sum(lw.freq) AS BIGINT) AS fertility_milli
           |FROM lw JOIN p USING (word)
           |GROUP BY lw.lang""".stripMargin)),
    // per-doc BPE compression ratio under the persisted tokenizer — the
    // cheap gibberish detector, flagged against a corpus-relative floor
    QueryDef("q_doc_compression",
      (s, dir) =>
        TextAnalysis.docCompression(Tables.documents(s, dir), TokenizerStore.rules(s, dir)),
      // Per-doc compression under the same persisted-tokenizer CTEs as
      // fertility; the flag floor is corpus-relative integer milli
      (bpeRoundCtes(TextAnalysis.DefaultBpeK) + ",\n" +
        s"""dw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS freq FROM (
           |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+')) AS word
           |    FROM documents) t
           |  WHERE length(word) >= 1 GROUP BY doc_id, word),
           |p AS (SELECT word, CAST(len(pieces) AS BIGINT) AS n_pieces
           |  FROM s${TextAnalysis.DefaultBpeK}),
           |perdoc AS (SELECT doc_id,
           |    CAST(sum(freq) AS BIGINT) AS n_words,
           |    CAST(sum(freq * length(word)) AS BIGINT) AS n_chars,
           |    CAST(sum(freq * n_pieces) AS BIGINT) AS n_bpe
           |  FROM dw JOIN p USING (word) GROUP BY doc_id),
           |tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS t_chars,
           |    CAST(sum(n_bpe) AS BIGINT) AS t_bpe FROM perdoc)
           |SELECT d.doc_id, coalesce(p.n_words, 0) AS n_words,
           |  coalesce(p.n_chars, 0) AS n_chars, coalesce(p.n_bpe, 0) AS n_bpe,
           |  CASE WHEN coalesce(p.n_bpe, 0) > 0
           |       THEN (coalesce(p.n_chars, 0) * 1000) // p.n_bpe ELSE 0 END
           |    AS compression_milli,
           |  coalesce(p.n_bpe, 0) > 0 AND
           |  (CASE WHEN coalesce(p.n_bpe, 0) > 0
           |        THEN (coalesce(p.n_chars, 0) * 1000) // p.n_bpe ELSE 0 END)
           |    < (t_chars * ${1000 * TextAnalysis.CompressionFloorNum})
           |      // (t_bpe * ${TextAnalysis.CompressionFloorDen}) AS flagged
           |FROM documents d LEFT JOIN perdoc p USING (doc_id) CROSS JOIN tot""".stripMargin)),
    // rare-transition share per doc: the log-free perplexity-filter proxy
    QueryDef("q_rare_bigram_rate",
      (s, dir) => TextAnalysis.rareBigramRate(Tables.documents(s, dir)),
      // Rare-bigram fluency: same bigram axis as q_bigram_lm; rarity and the
      // flag are integer cross-multiplications (n_corpus·RareDen < total;
      // n_rare·100 > pct·n_bigrams) — no floats anywhere
      s"WITH ${rareBigramCtes("")} SELECT * FROM raredoc"),
    // CCNet-style LM quality score: per-doc surprisal under the corpus's
    // add-1 bigram model, every ln the portable fixed-point ln_f
    QueryDef("q_lm_surprisal", (s, dir) => TextAnalysis.lmSurprisal(Tables.documents(s, dir)),
      // CCNet-style surprisal: same bigram axis as q_bigram_lm (add-1
      // smoothing over it); both ln's are the portable fixed-point ln_f
      // chain (FixedPointLn.lnFSql), so nll sums are exact BIGINTs
      s"WITH ${lmSurprisalCtes("")} SELECT * FROM lmdoc"),
    // held-out trigram surprisal with Stupid Backoff: LM trains on the
    // train split, scores the eval split; level counts profile backoff
    // CCNet-style per-LINE surprisal under the same held-out LM: flags
    // outlier lines (above 3/2 of the corpus mean line average) so a
    // gibberish run is excised, not the whole document
    QueryDef("q_line_surprisal", (s, dir) => TextAnalysis.lineSurprisal(Tables.documents(s, dir)),
      // Windowed CCNet-style line surprisal: the SAME LM + scoring CTEs as
      // q_lm_backoff, the eval trigrams windowed per line, the flag the
      // cross-multiplied above-3/2-of-mean test on milli-nat line averages.
      {
        val m = TextAnalysis.EvalHoldoutMod
        val ll = graft.operators.Dedup.LineLen
        val scale = graft.functions.FixedPointLn.Scale
        s"""WITH $backoffLmCtes,
           |wt AS (SELECT doc_id, i AS pos, ts[i * $ll + 1:(i + 1) * $ll] AS wts
           |  FROM (SELECT doc_id, ts, unnest(range(0, (len(ts) - 1) // $ll + 1)) AS i
           |        FROM ts WHERE doc_id % $m = 0) x),
           |ev AS (SELECT doc_id, pos, wts[j] AS w1, wts[j + 1] AS w2, wts[j + 2] AS w3,
           |    CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT doc_id, pos, wts, unnest(range(1, len(wts) - 1)) AS j
           |        FROM wt WHERE len(wts) >= 3) e
           |  GROUP BY doc_id, pos, w1, w2, w3),
           |${backoffScoreCtes("doc_id, pos")},
           |perwin AS (SELECT doc_id, pos, CAST(sum(c) AS BIGINT) AS n_trigrams,
           |    CAST(sum(CASE WHEN level = 0 THEN c ELSE 0 END) AS BIGINT) AS n_l0,
           |    CAST(sum(c * s_f) AS BIGINT) AS nll_f
           |  FROM sc GROUP BY doc_id, pos),
           |pw AS (SELECT *, (nll_f // n_trigrams) * 1000 // $scale AS avg_milli
           |  FROM perwin),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_lines,
           |    CAST(sum(avg_milli) AS BIGINT) AS sum_avg FROM pw)
           |SELECT doc_id, pos, n_trigrams, n_l0, nll_f, avg_milli,
           |  avg_milli * n_lines * ${TextAnalysis.LineNllDen}
           |    > ${TextAnalysis.LineNllNum} * sum_avg AS flagged
           |FROM pw, tot""".stripMargin
      }),
    QueryDef("q_lm_backoff", (s, dir) => TextAnalysis.backoffSurprisal(Tables.documents(s, dir)),
      // Stupid-Backoff trigram surprisal: train-split n-gram tables, eval
      // docs scored; every branch's ln is a NULL-safe ln_f chain (ln_f of a
      // NULL count stays NULL and the level CASE never selects it), the α
      // penalty the interpolated ln_f(5)−ln_f(2) integer
      {
        val m = TextAnalysis.EvalHoldoutMod
        s"""WITH $backoffLmCtes,
           |ev AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2, ts[i + 2] AS w3,
           |    CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM ts
           |        WHERE doc_id % $m = 0 AND len(ts) >= 3) e
           |  GROUP BY doc_id, w1, w2, w3),
           |${backoffScoreCtes("doc_id")},
           |perdoc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
           |    CAST(sum(CASE WHEN level = 3 THEN c ELSE 0 END) AS BIGINT) AS n_l3,
           |    CAST(sum(CASE WHEN level = 2 THEN c ELSE 0 END) AS BIGINT) AS n_l2,
           |    CAST(sum(CASE WHEN level = 1 THEN c ELSE 0 END) AS BIGINT) AS n_l1,
           |    CAST(sum(CASE WHEN level = 0 THEN c ELSE 0 END) AS BIGINT) AS n_l0,
           |    CAST(sum(c * s_f) AS BIGINT) AS nll_f
           |  FROM sc GROUP BY doc_id)
           |SELECT d.doc_id, coalesce(p.n_trigrams, 0) AS n_trigrams,
           |  coalesce(p.n_l3, 0) AS n_l3, coalesce(p.n_l2, 0) AS n_l2,
           |  coalesce(p.n_l1, 0) AS n_l1, coalesce(p.n_l0, 0) AS n_l0,
           |  coalesce(p.nll_f, 0) AS nll_f,
           |  CASE WHEN coalesce(p.n_trigrams, 0) > 0
           |       THEN coalesce(p.nll_f, 0) // p.n_trigrams ELSE 0 END AS avg_nll_f
           |FROM documents d LEFT JOIN perdoc p USING (doc_id)
           |WHERE d.doc_id % $m = 0""".stripMargin
      }),
    // top-p (nucleus) truncation of the bigram LM, integer threshold
    QueryDef("q_bigram_nucleus", (s, dir) => TextAnalysis.bigramNucleus(Tables.documents(s, dir)),
      // Nucleus truncation: cumulative mass in (count DESC, token ASC)
      // order; keep iff preceding mass is under num/den of the prefix total
      // (integer cross-multiplication — no float thresholds).
      s"""WITH ts AS (SELECT regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+') AS ts
         |  FROM documents),
         |bgidx AS (SELECT ts, unnest(range(1, len(ts))) AS i
         |  FROM ts WHERE len(ts) >= 2),
         |c AS (SELECT ts[i] AS w1, ts[i+1] AS w2, count(*) AS n_pair
         |  FROM bgidx GROUP BY 1, 2),
         |t AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_w1 FROM c GROUP BY w1),
         |r AS (SELECT c.w1, c.w2, c.n_pair, t.n_w1,
         |    CAST(sum(c.n_pair) OVER (PARTITION BY c.w1
         |      ORDER BY c.n_pair DESC, c.w2 ASC
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM c JOIN t ON c.w1 = t.w1)
         |SELECT w1, w2, n_pair, n_w1, cum FROM r
         |WHERE (cum - n_pair) * ${TextAnalysis.NucleusDen}
         |      < ${TextAnalysis.NucleusNum} * n_w1""".stripMargin),
    QueryDef("q_pii_scan", (s, dir) => TextAnalysis.piiScan(Tables.documents(s, dir)),
      // PII scan: the pattern strings are interpolated from the operator's
      // constants (Java-regex ∩ RE2 subset), so both engines compile the
      // same bytes. DuckDB regexp_replace needs the explicit 'g' flag to
      // match Spark's replace-all.
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Pattern}')) AS INTEGER) AS n_ipv4,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.UrlPattern}')) AS INTEGER) AS n_urls,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.DigitRunPattern}')) AS INTEGER) AS n_digit_runs,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.Ipv4Pattern}', '<IP>', 'g'),
         |    '${TextAnalysis.DigitRunPattern}', '<NUM>', 'g')) AS redacted_md5,
         |  (len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}')) > 0
         |   OR len(regexp_extract_all(text, '${TextAnalysis.Ipv4Pattern}')) > 0
         |   OR len(regexp_extract_all(text, '${TextAnalysis.DigitRunPattern}')) > 0) AS has_pii
         |FROM documents""".stripMargin),
    // PII redaction as a usable pipeline stage: the redacted text itself
    // (same placeholder chain the scan hashes) + per-category counts.
    QueryDef("q_pii_redacted", (s, dir) => TextAnalysis.piiRedact(Tables.documents(s, dir)),
      // The redaction TRANSFORM: identical replace chain, emitting the
      // redacted text itself (the hash gate then pins the exact bytes).
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Pattern}')) AS INTEGER) AS n_ipv4,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.DigitRunPattern}')) AS INTEGER) AS n_digit_runs,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.Ipv4Pattern}', '<IP>', 'g'),
         |    '${TextAnalysis.DigitRunPattern}', '<NUM>', 'g') AS redacted_text
         |FROM documents""".stripMargin),
    // Phrase search over the positional inverted index.
    QueryDef("q_phrase_search", (s, dir) => TextAnalysis.phraseSearch(Tables.documents(s, dir)),
      // Phrase occurrences on the raw whitespace-split axis: DuckDB's
      // 1-based toks[p] vs the engine's 0-based posexplode positions differ
      // by exactly the emitted `p - 1`; out-of-range list indexes are NULL
      // and fail the equality like the engine's absent posting.
      {
        val conds = graft.operators.TextAnalysis.PhraseTokens.zipWithIndex
          .map { case (w, j) => s"toks[p + $j] = '$w'" }.mkString(" AND ")
        s"""WITH t AS (SELECT doc_id,
           |    regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+') AS toks
           |  FROM documents),
           |i AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS p FROM t)
           |SELECT doc_id, CAST(p - 1 AS INTEGER) AS pos
           |FROM i WHERE $conds""".stripMargin
      }),
    QueryDef("q_decontam", (s, dir) => TextAnalysis.decontaminate(Tables.documents(s, dir)),
      // Decontamination: distinct 13-gram hashes per doc (same capped shingle
      // axis and 60-bit seeded hash as the engine), eval side collapsed to
      // DISTINCT hashes, per-train-doc left-join stats. n/mod interpolated.
      s"""WITH t AS ($tokCte),
         |c AS (SELECT doc_id,
         |  toks[1:${graft.functions.TextFunctions.MaxShingleTokens}] AS toks FROM t),
         |g AS (SELECT doc_id, ${h60(TextAnalysis.DecontamNgram, "g")} AS gh FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(toks) >= ${TextAnalysis.DecontamNgram}
         |    THEN list_distinct(list_transform(
         |      range(0, len(toks) - ${TextAnalysis.DecontamNgram - 1}),
         |      i -> array_to_string(toks[i+1:i+${TextAnalysis.DecontamNgram}], ' ')))
         |    ELSE CAST([] AS VARCHAR[]) END) AS g
         |  FROM c) u),
         |e AS (SELECT DISTINCT gh FROM g WHERE doc_id % ${TextAnalysis.EvalHoldoutMod} = 0),
         |s AS (SELECT g.doc_id, count(*) AS n_grams,
         |    CAST(sum(CASE WHEN e.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |  FROM g LEFT JOIN e ON g.gh = e.gh
         |  WHERE g.doc_id % ${TextAnalysis.EvalHoldoutMod} <> 0
         |  GROUP BY g.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(s.n_grams, 0) AS INTEGER) AS n_grams,
         |  CAST(coalesce(s.n_shared, 0) AS INTEGER) AS n_shared_ngrams,
         |  CASE WHEN s.n_grams IS NOT NULL
         |    THEN CAST(s.n_shared AS DOUBLE) / s.n_grams ELSE 0.0 END
         |    AS contamination_ratio,
         |  coalesce(s.n_shared, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
         |WHERE d.doc_id % ${TextAnalysis.EvalHoldoutMod} <> 0""".stripMargin),
    spanDecontam,
    // The 100 TB shape of the same cut list: eval grams folded into an
    // m-bounded Bloom bitmap, every train window pays one codegen'd
    // scan-stage membership test, only the contaminated sliver reaches
    // the exact semi-join. Pass-through (same oracle) by construction.
    // The Bloom prefilter is pass-through (false positives die in the
    // exact semi-join, false negatives are structurally impossible), so
    // the bloom-prefiltered form answers the same SQL as q_span_decontam.
    QueryDef.twin("q_decontam_bloom", spanDecontam,
      (s, dir) => TextAnalysis.spanDecontaminateBloom(Tables.documents(s, dir))),
    // Zipf-slope fit over the top-1000 terms, all-integer least squares
    QueryDef("q_zipf_fit", (s, dir) => TextAnalysis.zipfFit(Tables.documents(s, dir)),
      // Zipf slope: vocabulary top-k rank window, milli-nat ln_f axes,
      // closed-form integer least squares
      {
        import graft.functions.FixedPointLn.lnFSql
        s"""WITH c AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM (
           |    SELECT unnest(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+')) AS tok
           |    FROM documents) u
           |  WHERE tok <> '' GROUP BY tok),
           |r AS (SELECT freq,
           |    row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank
           |  FROM c ORDER BY freq DESC, tok ASC LIMIT ${TextAnalysis.ZipfTopK}),
           |xy AS (SELECT
           |  ${lnFSql("rank", "lx")},
           |  ${lnFSql("freq", "ly")},
           |  lx // 1000 AS x, ly // 1000 AS y
           |  FROM r),
           |s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
           |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
           |    CAST(sum(x * x) AS BIGINT) AS sxx FROM xy)
           |SELECT n AS n_terms,
           |  CASE WHEN n * sxx - sx * sx <> 0
           |       THEN ((n * sxy - sx * sy) * 1000) // (n * sxx - sx * sx)
           |       ELSE 0 END AS slope_milli
           |FROM s""".stripMargin
      }),
    // N-gram novelty by ingestion bucket: new-vs-seen trigram shares —
    // the corpus-saturation read before paying for more crawl
    QueryDef("q_ngram_novelty", (s, dir) => TextAnalysis.ngramNovelty(Tables.documents(s, dir)),
      // Novelty curve: the bucket/min-bucket aggregation chain replayed
      // verbatim; every count cast to BIGINT and the cumulative window
      // cast back down from DuckDB's HUGEINT
      {
        val b = TextAnalysis.NoveltyBuckets
        s"""WITH sh AS MATERIALIZED ($shCte),
           |mx AS (SELECT max(doc_id) AS m FROM documents),
           |e AS (SELECT (doc_id * $b) // ((SELECT m FROM mx) + 1) AS bucket,
           |    unnest(sh) AS sg FROM sh),
           |bg AS (SELECT bucket, sg, CAST(count(*) AS BIGINT) AS n_inst
           |  FROM e GROUP BY 1, 2),
           |nb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_ngrams,
           |    CAST(sum(n_inst) AS BIGINT) AS n_ngram_rows FROM bg GROUP BY 1),
           |nn AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new FROM (
           |    SELECT sg, min(bucket) AS bucket FROM bg GROUP BY 1) f GROUP BY 1),
           |nd AS (SELECT (doc_id * $b) // ((SELECT m FROM mx) + 1) AS bucket,
           |    CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1)
           |SELECT nd.bucket, nd.n_docs,
           |  coalesce(nb.n_ngrams, 0) AS n_ngrams,
           |  coalesce(nb.n_ngram_rows, 0) AS n_ngram_rows,
           |  coalesce(nn.n_new, 0) AS n_new,
           |  CAST(sum(coalesce(nn.n_new, 0)) OVER (ORDER BY nd.bucket)
           |    AS BIGINT) AS cum_vocab,
           |  CASE WHEN coalesce(nb.n_ngrams, 0) > 0
           |       THEN coalesce(nn.n_new, 0) * 1000 // nb.n_ngrams
           |       ELSE 0 END AS novelty_milli
           |FROM nd LEFT JOIN nb ON nd.bucket = nb.bucket
           |        LEFT JOIN nn ON nd.bucket = nn.bucket""".stripMargin
      }),
    // Heaps-law vocabulary-growth exponent over the novelty curve, same
    // fixed-point ln axes as the Zipf fit
    QueryDef("q_heaps_fit", (s, dir) => TextAnalysis.heapsFit(Tables.documents(s, dir)),
      // Heaps exponent: the novelty chain's cumulative points on milli-nat
      // ln_f axes, the q_zipf_fit least-squares tail
      {
        import graft.functions.FixedPointLn.lnFSql
        val b = TextAnalysis.NoveltyBuckets
        s"""WITH sh AS MATERIALIZED ($shCte),
           |mx AS (SELECT max(doc_id) AS m FROM documents),
           |e AS (SELECT (doc_id * $b) // ((SELECT m FROM mx) + 1) AS bucket,
           |    unnest(sh) AS sg FROM sh),
           |bg AS (SELECT bucket, sg, CAST(count(*) AS BIGINT) AS n_inst
           |  FROM e GROUP BY 1, 2),
           |nb AS (SELECT bucket, CAST(sum(n_inst) AS BIGINT) AS n_ngram_rows
           |  FROM bg GROUP BY 1),
           |nn AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new FROM (
           |    SELECT sg, min(bucket) AS bucket FROM bg GROUP BY 1) f GROUP BY 1),
           |nd AS (SELECT (doc_id * $b) // ((SELECT m FROM mx) + 1) AS bucket
           |  FROM documents GROUP BY 1),
           |pts AS (SELECT
           |    CAST(sum(coalesce(nb.n_ngram_rows, 0)) OVER (ORDER BY nd.bucket)
           |      AS BIGINT) AS cum_rows,
           |    CAST(sum(coalesce(nn.n_new, 0)) OVER (ORDER BY nd.bucket)
           |      AS BIGINT) AS cum_vocab
           |  FROM nd LEFT JOIN nb ON nd.bucket = nb.bucket
           |          LEFT JOIN nn ON nd.bucket = nn.bucket),
           |xy AS (SELECT
           |  ${lnFSql("cum_rows", "lx")},
           |  ${lnFSql("cum_vocab", "ly")},
           |  lx // 1000 AS x, ly // 1000 AS y
           |  FROM pts WHERE cum_rows > 0 AND cum_vocab > 0),
           |s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
           |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
           |    CAST(sum(x * x) AS BIGINT) AS sxx FROM xy)
           |SELECT n AS n_points,
           |  CASE WHEN n * sxx - sx * sx <> 0
           |       THEN ((n * sxy - sx * sy) * 1000) // (n * sxx - sx * sx)
           |       ELSE 0 END AS slope_milli
           |FROM s""".stripMargin
      }),
    // C4-style denylist-phrase impact card: per-source flagged share
    QueryDef("q_phrase_blocklist",
      (s, dir) => TextAnalysis.phraseBlocklist(Tables.documents(s, dir)),
      // Denylist-phrase card: positional bigrams against the literal list
      {
        val phrases =
          TextAnalysis.BlockedPhrases.map(p => s"'$p'").mkString(", ")
        s"""WITH t AS (SELECT source, doc_id,
           |    regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+') AS ts
           |  FROM documents),
           |b AS (SELECT source, doc_id,
           |    unnest(list_transform(range(1, len(ts)),
           |      i -> ts[i] || ' ' || ts[i+1])) AS bg
           |  FROM t WHERE len(ts) >= 2),
           |f AS (SELECT source, CAST(count(*) AS BIGINT) AS n_occurrences,
           |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_flagged
           |  FROM b WHERE bg IN ($phrases) GROUP BY 1),
           |d AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           |  FROM documents GROUP BY 1)
           |SELECT d.source, d.n_docs,
           |  coalesce(f.n_occurrences, 0) AS n_occurrences,
           |  coalesce(f.n_flagged, 0) AS n_flagged,
           |  coalesce(f.n_flagged, 0) * 1000 // d.n_docs AS flagged_milli
           |FROM d LEFT JOIN f ON d.source = f.source""".stripMargin
      }),
    // Denylist EXCISION transform: blocked-bigram token union removed,
    // surviving text hash-checked — all higher-order expressions, no
    // explode, no shuffle.
    QueryDef("q_blocklist_excised",
      (s, dir) => TextAnalysis.blocklistExcise(Tables.documents(s, dir)),
      // Excision transform: the same filter lambda replayed 1-based; the
      // surviving token list re-joined and md5'd both sides
      {
        val blArr =
          TextAnalysis.BlockedPhrases.map(p => s"'$p'").mkString("[", ", ", "]")
        s"""WITH t AS (SELECT doc_id,
           |    regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+') AS ts
           |  FROM documents),
           |k AS (SELECT doc_id, ts,
           |    list_filter(range(1, len(ts) + 1), i ->
           |      NOT ( (i > 1 AND list_contains($blArr,
           |                ts[i-1] || ' ' || ts[i]))
           |         OR (i < len(ts) AND list_contains($blArr,
           |                ts[i] || ' ' || ts[i+1])) )) AS ki
           |  FROM t)
           |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
           |  CAST(len(ts) - len(ki) AS BIGINT) AS n_removed,
           |  md5(array_to_string(list_transform(ki, i -> ts[i]), ' '))
           |    AS kept_md5
           |FROM k""".stripMargin
      }),
    ngramNoveltyIncremental,
    // The same probe as continuous ingestion (stateless per-doc verdicts
    // against the static index inside foreachBatch).
    QueryDef.twin("q_stream_ngram_novelty", ngramNoveltyIncremental,
      (s, dir) => DocumentStreams.ngramNoveltyToBatch(s, dir)),
    // Winnowing fingerprint selection (MOSS): per-window rightmost-min
    // gram hash, deduplicated — one row per selected (pos, hash).
    QueryDef("q_winnow_fingerprints",
      (s, dir) => TextAnalysis.winnowFingerprints(Tables.documents(s, dir)),
      // Winnowing: same 40-bit gram hash and h·2^20+(2^20−1−pos) argmin
      // encoding; the window min replays the slice min, valid starts are
      // 0..max(0, n_grams − w), selections decoded after DISTINCT.
      s"""WITH $winnowSelCtes
         |SELECT doc_id, $WinnowMask - (wcomp % $WinnowScale) AS fp_pos,
         |  wcomp // $WinnowScale AS fp_hash
         |FROM sel""".stripMargin),
    // Gopher quality-rule card: six exact-integer heuristics, one
    // boolean per rule, conjunction as keep.
    QueryDef("q_gopher_rules", (s, dir) => TextAnalysis.gopherRules(Tables.documents(s, dir)),
      // Gopher rules: one token-metric agg + the repetition chain's
      // dropped-token count; every share a floor division, rules replayed
      // with the interpolated thresholds.
      {
        import graft.operators.TextAnalysis._
        val inList = Stopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH tk AS (SELECT doc_id,
           |    unnest(regexp_split_to_array(trim(nfc_normalize(text)), '\\s+')) AS tok
           |  FROM documents),
           |m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |    CAST(sum(length(tok)) AS BIGINT) AS n_tok_chars,
           |    CAST(sum(CASE WHEN regexp_full_match(tok, '[.,!?:;"'']+')
           |        THEN 1 ELSE 0 END) AS BIGINT) AS n_punct,
           |    CAST(sum(CASE WHEN regexp_matches(tok, '[a-z]')
           |        THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
           |    CAST(count(DISTINCT CASE WHEN tok IN ($inList) THEN tok END)
           |      AS BIGINT) AS n_stop_distinct
           |  FROM tk GROUP BY doc_id),
           |$lineCtes,
           |rp AS (SELECT doc_id, lh, min(pos) AS first_pos FROM h
           |  GROUP BY doc_id, lh),
           |dup AS (SELECT h.doc_id,
           |    CAST(sum(CASE WHEN h.pos > rp.first_pos THEN h.n_tok ELSE 0 END)
           |      AS BIGINT) AS n_dup_toks
           |  FROM h JOIN rp ON h.doc_id = rp.doc_id AND h.lh = rp.lh
           |  GROUP BY h.doc_id),
           |c AS (SELECT m.doc_id, m.n_tokens,
           |    n_tok_chars * 1000 // n_tokens AS mean_len_milli,
           |    n_punct * 1000 // n_tokens AS punct_milli,
           |    n_alpha * 1000 // n_tokens AS alpha_milli,
           |    m.n_stop_distinct,
           |    d.n_dup_toks * 1000 // n_tokens AS dup_line_milli
           |  FROM m JOIN dup d ON m.doc_id = d.doc_id)
           |SELECT c.*,
           |  (n_tokens >= $GopherMinTokens AND n_tokens <= $GopherMaxTokens)
           |    AS r_len,
           |  (mean_len_milli >= $GopherMeanLenLoMilli
           |    AND mean_len_milli <= $GopherMeanLenHiMilli) AS r_mean_len,
           |  punct_milli <= $GopherMaxPunctMilli AS r_punct,
           |  alpha_milli >= $GopherMinAlphaMilli AS r_alpha,
           |  n_stop_distinct >= $GopherMinDistinctStopwords AS r_stop,
           |  dup_line_milli <= $GopherMaxDupLineMilli AS r_dup,
           |  ((n_tokens >= $GopherMinTokens AND n_tokens <= $GopherMaxTokens)
           |    AND (mean_len_milli >= $GopherMeanLenLoMilli
           |      AND mean_len_milli <= $GopherMeanLenHiMilli)
           |    AND punct_milli <= $GopherMaxPunctMilli
           |    AND alpha_milli >= $GopherMinAlphaMilli
           |    AND n_stop_distinct >= $GopherMinDistinctStopwords
           |    AND dup_line_milli <= $GopherMaxDupLineMilli) AS keep
           |FROM c""".stripMargin
      }),
    // Per-ingest-batch distribution drift report (fixed histogram + TVD
    // contributions, no ln — bit-portable).
    QueryDef("q_drift_report", (s, dir) => TextAnalysis.tokenDriftReport(Tables.documents(s, dir)),
      // Fixed power-of-two-width histogram (shift), exact counts, fractions
      // as single divisions, TVD contribution without ln.
      {
        import graft.operators.TextAnalysis.{DriftBuckets, DriftBucketShift}
        s"""WITH sp AS (SELECT (max(doc_id) + 1) * 4 // 5 AS split FROM documents),
           |b AS (SELECT doc_id >= sp.split AS is_shard,
           |    least(len(regexp_split_to_array(trim(nfc_normalize(text)), '\\s+')) >> $DriftBucketShift,
           |      ${DriftBuckets - 1}) AS bucket
           |  FROM documents, sp),
           |h AS (SELECT bucket,
           |    CAST(sum(CASE WHEN is_shard THEN 0 ELSE 1 END) AS BIGINT) AS cnt_corpus,
           |    CAST(sum(CASE WHEN is_shard THEN 1 ELSE 0 END) AS BIGINT) AS cnt_shard
           |  FROM b GROUP BY bucket),
           |t AS (SELECT CAST(sum(cnt_corpus) AS BIGINT) AS n_corpus,
           |    CAST(sum(cnt_shard) AS BIGINT) AS n_shard FROM h)
           |SELECT h.bucket, h.cnt_corpus, h.cnt_shard,
           |  CASE WHEN t.n_corpus > 0
           |    THEN CAST(h.cnt_corpus AS DOUBLE) / t.n_corpus ELSE 0.0 END AS frac_corpus,
           |  CASE WHEN t.n_shard > 0
           |    THEN CAST(h.cnt_shard AS DOUBLE) / t.n_shard ELSE 0.0 END AS frac_shard,
           |  abs(CASE WHEN t.n_corpus > 0
           |      THEN CAST(h.cnt_corpus AS DOUBLE) / t.n_corpus ELSE 0.0 END
           |    - CASE WHEN t.n_shard > 0
           |      THEN CAST(h.cnt_shard AS DOUBLE) / t.n_shard ELSE 0.0 END) / 2.0 AS tvd_contrib
           |FROM h, t""".stripMargin
      }),
    // Zipf/hapax frequency-of-frequencies corpus diagnostic
    QueryDef("q_token_spectrum",
      (s, dir) => TextAnalysis.tokenFrequencySpectrum(Tables.documents(s, dir)),
      // Frequency-of-frequencies: two group-bys over the exploded lowercase
      // whitespace tokens; all-integer.
      """WITH tk AS (SELECT unnest(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM tk
        |  WHERE tok <> '' GROUP BY tok)
        |SELECT tf, CAST(count(*) AS BIGINT) AS n_types FROM c GROUP BY tf""".stripMargin),
    // top collocations by all-integer scaled PMI
    QueryDef("q_collocations", (s, dir) => TextAnalysis.topCollocations(Tables.documents(s, dir)),
      // Scaled-PMI collocations: same bigram axis as q_bigram_lm, unigram
      // counts over the full token stream, two floor divisions, LIMIT k
      // under a total (score, w1, w2) order. Constants interpolated.
      s"""WITH ts AS (SELECT regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+') AS ts
         |  FROM documents),
         |bgidx AS (SELECT ts, unnest(range(1, len(ts))) AS i
         |  FROM ts WHERE len(ts) >= 2),
         |bg AS (SELECT ts[i] AS w1, ts[i + 1] AS w2 FROM bgidx),
         |c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair FROM bg
         |  GROUP BY w1, w2 HAVING count(*) >= ${TextAnalysis.CollocationMinCount}),
         |uni AS (SELECT unnest(ts) AS tok FROM ts),
         |u AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_tok FROM uni
         |  WHERE tok <> '' GROUP BY tok)
         |SELECT c.w1, c.w2, c.n_pair, a.n_tok AS n_w1, b.n_tok AS n_w2,
         |  (((c.n_pair * ${TextAnalysis.PmiScale}) // a.n_tok)
         |    * ${TextAnalysis.PmiScale}) // b.n_tok AS pmi_scaled
         |FROM c JOIN u a ON c.w1 = a.tok JOIN u b ON c.w2 = b.tok
         |ORDER BY pmi_scaled DESC, c.w1 ASC, c.w2 ASC
         |LIMIT ${TextAnalysis.CollocationK}""".stripMargin),
    // quality-filter funnel: first-reject attribution per (source, rule)
    QueryDef("q_filter_funnel", (s, dir) => TextAnalysis.filterFunnel(Tables.documents(s, dir)),
      // Per-row list replay of the funnel metrics (the top-token count via
      // list_distinct x list_filter), then the same first-reject CASE order
      // and (source, verdict) rollup as TextAnalysis.filterFunnel.
      {
        import graft.operators.TextAnalysis._
        s"""WITH t AS (SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars,
           |    list_filter(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+'),
           |      x -> x <> '') AS tks
           |  FROM documents),
           |m AS (SELECT doc_id, source, n_chars,
           |    CAST(len(tks) AS BIGINT) AS n_toks,
           |    CAST(len(list_filter(tks,
           |      w -> regexp_full_match(w, '[.,!?:;"'']+'))) AS BIGINT) AS n_punct,
           |    CAST(len(list_filter(tks, w -> list_contains($stopList, w)))
           |      AS BIGINT) AS n_stop,
           |    CAST(coalesce(list_max(list_transform(list_distinct(tks),
           |      d -> len(list_filter(tks, x -> x = d)))), 0) AS BIGINT) AS top_tok
           |  FROM t)
           |SELECT source,
           |  CASE WHEN n_toks < $FunnelMinTokens THEN 'too_short'
           |    WHEN n_chars > $FunnelMaxChars THEN 'too_long'
           |    WHEN n_punct * $FunnelPunctMult > n_toks THEN 'punct_flood'
           |    WHEN n_stop = 0 THEN 'no_stopwords'
           |    WHEN top_tok * $FunnelTopTokMult >= n_toks THEN 'top_token_flood'
           |    ELSE 'kept' END AS verdict,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_toks) AS BIGINT) AS n_tokens
           |FROM m GROUP BY 1, 2""".stripMargin
      }),
    // Stateless ingest-time quality+PII gate: append == batch filter.
    QueryDef("q_stream_quality", (s, dir) => DocumentStreams.qualityFilteredToBatch(s, dir),
      // The stateless gate's full drain equals the batch filter row for row;
      // token/stopword rule mirrors docStats' is_quality, PII patterns are
      // the operator's constants.
      s"""WITH t AS ($tokCte)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN t ON d.doc_id = t.doc_id
         |WHERE len(t.toks) >= 10
         |  AND len(list_filter(t.toks, w -> list_contains($stopList, w))) > 0
         |  AND len(regexp_extract_all(d.text, '${TextAnalysis.EmailPattern}')) = 0
         |  AND len(regexp_extract_all(d.text, '${TextAnalysis.Ipv4Pattern}')) = 0
         |  AND len(regexp_extract_all(d.text, '${TextAnalysis.DigitRunPattern}')) = 0""".stripMargin),
  )

  /** The Stupid-Backoff train-side CTEs (token frame + the three n-gram
    * tables + the 1-row total) shared verbatim by the doc-level
    * (`q_lm_backoff`) and line-level (`q_line_surprisal`) oracles —
    * mirrors `TextAnalysis.backoffLmTables` so both engines consult one
    * LM.
    */
  private def backoffLmCtes: String = {
    val m = graft.operators.TextAnalysis.EvalHoldoutMod
    s"""ts AS (SELECT doc_id, regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+') AS ts
       |  FROM documents),
       |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS n1 FROM (
       |    SELECT unnest(ts) AS w FROM ts WHERE doc_id % $m <> 0) u
       |  WHERE w <> '' GROUP BY w),
       |bi AS (SELECT ts[i] AS w1, ts[i + 1] AS w2, CAST(count(*) AS BIGINT) AS n12
       |  FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM ts
       |        WHERE doc_id % $m <> 0 AND len(ts) >= 2) b
       |  GROUP BY w1, w2),
       |tri AS (SELECT ts[i] AS w1, ts[i + 1] AS w2, ts[i + 2] AS w3,
       |    CAST(count(*) AS BIGINT) AS n123
       |  FROM (SELECT ts, unnest(range(1, len(ts) - 1)) AS i FROM ts
       |        WHERE doc_id % $m <> 0 AND len(ts) >= 3) t
       |  GROUP BY w1, w2, w3),
       |nn AS (SELECT CAST(sum(n1) AS BIGINT) AS n_train FROM uni)""".stripMargin
  }

  /** The five-join + level/surprisal CTEs over an `ev(keys..., w1, w2,
    * w3, c)` frame — mirrors `TextAnalysis.backoffScoreTris`. `keys` are
    * the pass-through grouping columns ("doc_id" or "doc_id, pos").
    */
  private def backoffScoreCtes(keys: String): String = {
    import graft.functions.FixedPointLn.lnFSql
    val pen = graft.operators.TextAnalysis.BackoffPenaltyF
    val evKeys = keys.split(",").map(k => s"ev.${k.trim}").mkString(", ")
    s"""j AS (SELECT $evKeys, ev.c, tri.n123, b1.n12, b2.n12 AS n23,
       |    u2.n1 AS n2, u3.n1 AS n3, nn.n_train
       |  FROM ev LEFT JOIN tri USING (w1, w2, w3)
       |  LEFT JOIN bi b1 ON ev.w1 = b1.w1 AND ev.w2 = b1.w2
       |  LEFT JOIN bi b2 ON ev.w2 = b2.w1 AND ev.w3 = b2.w2
       |  LEFT JOIN uni u2 ON ev.w2 = u2.w
       |  LEFT JOIN uni u3 ON ev.w3 = u3.w
       |  CROSS JOIN nn),
       |sc AS (SELECT $keys, c,
       |  CASE WHEN n123 IS NOT NULL THEN 3 WHEN n23 IS NOT NULL THEN 2
       |       WHEN n3 IS NOT NULL THEN 1 ELSE 0 END AS level,
       |  ${lnFSql("n12", "l12")},
       |  ${lnFSql("n123", "l123")},
       |  ${lnFSql("n2", "l2")},
       |  ${lnFSql("n23", "l23")},
       |  ${lnFSql("n3", "l3")},
       |  ${lnFSql("n_train", "ln_")},
       |  ${lnFSql("n_train + 1", "ln1")},
       |  CASE level WHEN 3 THEN l12 - l123
       |             WHEN 2 THEN l2 - l23 + $pen
       |             WHEN 1 THEN ln_ - l3 + ${2 * pen}
       |             ELSE ln1 + ${2 * pen} END AS s_f
       |  FROM j)""".stripMargin
  }

  private def langHitCols: String =
    graft.operators.TextAnalysis.LangMarkers.map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(toks, w -> list_contains($lst, w))) AS hits_$l"
    }.mkString(",\n  ")

  /** The langId CTE chain ending in `li(doc_id, lang, hits_*, pred_lang)`
    * — shared by the per-doc and confusion-rollup oracles.
    */
  private def langIdCtes: String =
    s"""t AS (SELECT doc_id,
       |  regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+') AS toks FROM documents),
       |h AS (SELECT doc_id, $langHitCols FROM t),
       |li AS (SELECT d.doc_id, d.lang, h.hits_en, h.hits_de, h.hits_es, h.hits_fr,
       |  CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
       |       WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
       |       WHEN hits_es >= hits_fr THEN 'es'
       |       ELSE 'fr' END AS pred_lang
       |  FROM documents d JOIN h ON d.doc_id = h.doc_id)""".stripMargin
}
