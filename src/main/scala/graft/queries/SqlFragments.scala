package graft
package queries

import graft.operators._
import org.apache.spark.sql.DataFrame

/** DuckDB SQL fragments shared by the oracles of several query families. */
object SqlFragments {
  /** DuckDB fragments shared by the text oracles. Tokenization and 3-gram
    * shingling mirror TextFunctions.{tokens,shingles} exactly — including
    * the r14 NFC composition (DuckDB's `nfc_normalize` == the engine's
    * codegen'd [[graft.functions.UnicodeNormalize]]; identity on the
    * ASCII testdata, load-bearing on mixed-normalization crawl text).
    * The 60-bit seeded hash mirrors HashFunctions.md5Long (15 hex chars
    * of md5("<seed>:<x>") parsed as an integer).
    */
  private[queries] val tokCte =
    "SELECT doc_id, regexp_split_to_array(trim(nfc_normalize(text)), '\\s+') AS toks FROM documents"

  // shingling is over the first MaxShingleTokens tokens (the operator's
  // bounded-row-size cap) — DuckDB list slicing clamps like Spark's slice
  private[queries] val shCte =
    s"""SELECT doc_id,
       |  CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
       |    range(0, len(toks) - 2), i -> array_to_string(toks[i+1:i+3], ' ')))
       |  ELSE CAST([] AS VARCHAR[]) END AS sh
       |FROM (SELECT doc_id,
       |  toks[1:${graft.functions.TextFunctions.MaxShingleTokens}] AS toks
       |FROM (""".stripMargin + tokCte + "))"

  private[queries] def h60(seed: Int, x: String): String =
    s"CAST(('0x' || substr(md5('$seed:' || $x), 1, 15)) AS BIGINT)"

  /** The host capture of an absolute URL — the engine's host extraction. */
  private[queries] val HostRe = "'^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)'"

  /** `Html.unescapeHtml` replayed over the SQL expression `x`
    * (structural entities first, &amp; last).
    */
  private def unescSql(x: String): String = "replace(replace(replace(replace(replace(" + x +
    ", '&#39;', CHR(39)), '&quot;', '\"'), '&gt;', '>'), '&lt;', '<')," +
    " '&amp;', '&')"

  /** DuckDB replay of `Domains.hostOf(id, source)` — the
    * `[www.]<source>.d<N>.com` host of page `id` (`id` is any SQL
    * expression over a frame with a `source` column). ONE definition
    * feeds both the URL-grammar oracles and the link-graph oracles'
    * absolute-anchor rebuild, so the two can't drift.
    */
  private[queries] def hostOfSql(id: String): String = {
    import graft.operators.Domains.{DomainBuckets, DomainSeed, SubSeed}
    s"CASE WHEN ${h60(SubSeed, id)} % 2 = 0 THEN '' ELSE 'www.' END || " +
      s"source || '.d' || " +
      s"($DomainBuckets // (${h60(DomainSeed, id)} % $DomainBuckets + 1)) || '.com'"
  }

  /** The t/l/h line-frame CTE chain of the line-dedup oracles — raw
    * single-space tokens chopped into non-overlapping LineLen windows,
    * each with position, token count, and the seeded 60-bit hash
    * (mirrors `Dedup.linesOf`).
    */
  private[queries] def lineCtes: String = {
    val (ll, sd) = (graft.operators.Dedup.LineLen, graft.operators.Dedup.LineSeed)
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |l AS (SELECT doc_id, i AS pos,
       |    array_to_string(toks[i*$ll+1:(i+1)*$ll], ' ') AS line,
       |    least($ll, len(toks) - i*$ll) AS n_tok
       |  FROM (SELECT doc_id, toks,
       |      unnest(range(0, (len(toks) - 1) // $ll + 1)) AS i FROM t) u),
       |h AS (SELECT doc_id, pos, line, n_tok, ${h60(sd, "line")} AS lh FROM l)""".stripMargin
  }

  private[queries] val WinnowScale: Long = 1L << graft.operators.TextAnalysis.WinnowPosBits
  private[queries] val WinnowMask: Long = WinnowScale - 1

  /** The winnowing selection CTE chain ending in `sel(doc_id, wcomp)` —
    * ONE definition shared by the fingerprint and overlap oracles
    * (mirrors `TextAnalysis.winnowFingerprints`): 40-bit gram hashes in
    * the h·2^20+(2^20−1−pos) argmin encoding, per-window min over valid
    * starts 0..max(0, n_grams − w), DISTINCT selections.
    */
  private[queries] def winnowSelCtes: String = {
    import graft.operators.TextAnalysis.{WinnowK, WinnowW, WinnowSeed}
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |g AS (SELECT doc_id, i AS pos, len(ts) - ${WinnowK - 1} AS n_grams,
       |    CAST(('0x' || substr(md5('$WinnowSeed:' ||
       |      array_to_string(ts[i+1:i+$WinnowK], ' ')), 1, 10)) AS BIGINT)
       |      * $WinnowScale + ($WinnowMask - i) AS comp
       |  FROM (SELECT doc_id, ts, unnest(range(0, len(ts) - ${WinnowK - 1})) AS i
       |        FROM t WHERE len(ts) >= $WinnowK) u),
       |wm AS (SELECT doc_id, pos, n_grams,
       |    min(comp) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS wcomp
       |  FROM g),
       |sel AS MATERIALIZED (SELECT DISTINCT doc_id, wcomp FROM wm
       |  WHERE pos <= greatest(0, n_grams - $WinnowW))""".stripMargin
  }

  /** The add-1 bigram-surprisal CTE chain ending in `<p>lmdoc(doc_id,
    * n_bigrams, nll_f, avg_nll_f)` over all documents — shared by the
    * q_lm_surprisal oracle and (prefixed) the quality-agreement oracle.
    */
  private[queries] def lmSurprisalCtes(p: String): String = {
    import graft.functions.FixedPointLn.lnFSql
    s"""${p}ts AS (SELECT doc_id, regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+') AS ts
       |  FROM documents),
       |${p}bg AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
       |        FROM ${p}ts WHERE len(ts) >= 2)),
       |${p}dbc AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS c
       |  FROM ${p}bg GROUP BY doc_id, w1, w2),
       |${p}lm AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS n_pair
       |  FROM ${p}dbc GROUP BY w1, w2),
       |${p}lmt AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_w1
       |  FROM ${p}lm GROUP BY w1),
       |${p}v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
       |  FROM (SELECT unnest(ts) AS w FROM ${p}ts) WHERE w <> ''),
       |${p}sc AS (SELECT doc_id, c,
       |  ${lnFSql("n_w1 + v", "la")},
       |  ${lnFSql("n_pair + 1", "lb")}
       |  FROM ${p}dbc JOIN ${p}lm USING (w1, w2) JOIN ${p}lmt USING (w1)
       |  CROSS JOIN ${p}v),
       |${p}perdoc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
       |    CAST(sum(c * (la - lb)) AS BIGINT) AS nll_f
       |  FROM ${p}sc GROUP BY doc_id),
       |${p}lmdoc AS (SELECT d.doc_id, coalesce(pp.n_bigrams, 0) AS n_bigrams,
       |  coalesce(pp.nll_f, 0) AS nll_f,
       |  CASE WHEN coalesce(pp.n_bigrams, 0) > 0
       |       THEN coalesce(pp.nll_f, 0) // pp.n_bigrams ELSE 0 END AS avg_nll_f
       |  FROM documents d LEFT JOIN ${p}perdoc pp USING (doc_id))""".stripMargin
  }

  /** The rare-bigram CTE chain ending in `<p>raredoc(doc_id, n_bigrams,
    * n_rare, flagged)` — shared like [[lmSurprisalCtes]].
    */
  private[queries] def rareBigramCtes(p: String): String =
    s"""${p}rts AS (SELECT doc_id, regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+') AS ts
       |  FROM documents),
       |${p}rbgidx AS (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
       |  FROM ${p}rts WHERE len(ts) >= 2),
       |${p}rbg AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2 FROM ${p}rbgidx),
       |${p}rc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_corpus
       |  FROM ${p}rbg GROUP BY w1, w2),
       |${p}rtot AS (SELECT CAST(sum(n_corpus) AS BIGINT) AS t FROM ${p}rc),
       |${p}rperdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(count(*) FILTER (WHERE rc.n_corpus * ${TextAnalysis.RareDen} < rtot.t)
       |      AS BIGINT) AS n_rare
       |  FROM ${p}rbg rbg JOIN ${p}rc rc USING (w1, w2)
       |  CROSS JOIN ${p}rtot rtot GROUP BY doc_id),
       |${p}raredoc AS (SELECT d.doc_id, coalesce(pp.n_bigrams, 0) AS n_bigrams,
       |  coalesce(pp.n_rare, 0) AS n_rare,
       |  coalesce(pp.n_rare, 0) * 100 > ${TextAnalysis.RareFlagPct} * coalesce(pp.n_bigrams, 0)
       |    AS flagged
       |  FROM documents d LEFT JOIN ${p}rperdoc pp USING (doc_id))""".stripMargin

  /** Exploded-intersection near-dup pair CTEs — the same pairs and the
    * same inter/uni/jaccard VALUES as the brute-force
    * `sh a JOIN sh b ON a.doc_id < b.doc_id` + `list_intersect` form,
    * but linear in SHARED shingles instead of quadratic doc pairs each
    * allocating intersection/union lists. Equivalence: the sh lists are
    * list_distinct'd, so the shingle equi-join's per-pair match count IS
    * |A∩B|, and |A∪B| = |A|+|B|−|A∩B|; the jaccard division sees the
    * same two exact integers, so the DOUBLE compares and prints
    * bit-identically. Docs with empty sh produce no exploded rows —
    * exactly the original `len(a.sh) > 0 AND len(b.sh) > 0` guard — and
    * only inter ≥ 1 pairs can reach the ≥ 0.5 threshold, so dropping
    * zero-intersection pairs loses nothing.
    *
    * WHY: the r17 oracle gate's DuckDB run OOM'd a contiguous 20-query
    * window; the all-pairs list-op sites were the heaviest allocations
    * in the run (measured sf0.01, pragma-free DuckDB: q_dedup_neardup
    * 9.9 → 0.2 s bit-equal, q_pipeline_trust_funnel peak 2.5 GB). This
    * form keeps every oracle within a plain default-memory process.
    *
    * Emits working CTEs `<pfx>ea/<pfx>na` (+ `eb/nb` when `right` is a
    * different frame) and `<pfx>i`, then `<out>` with columns
    * ($aCol, $bCol, n_a, n_b, inter, uni, jaccard). `left`/`right` name
    * (doc_id, sh) frames; left==right with sym=true is the
    * upper-triangular self-pair set, sym=false the full left×right
    * probe set.
    */
  private[queries] def jaccardPairCtes(
      out: String, left: String, right: String,
      aCol: String = "doc_a", bCol: String = "doc_b",
      sym: Boolean = true, pfx: String = "jp"): String = {
    val sameSide = left == right
    val ea = s"${pfx}ea"
    val eb = if (sameSide) ea else s"${pfx}eb"
    val na = s"${pfx}na"
    val nb = if (sameSide) na else s"${pfx}nb"
    val cond = if (sym) " AND a.doc_id < b.doc_id" else ""
    // MATERIALIZED throughout: DuckDB inlines (re-executes) a plain CTE
    // per reference — and per RECURSION STEP when a recursive CTE's
    // term reaches it. The funnel oracle measured 108.9 → 0.54 s at
    // sf0.01 from materializing this chain + the CTEs it feeds, output
    // bit-equal. Every frame here is bounded (docs × shingles exploded,
    // then pair-bounded), so materialization is a few MB at oracle SFs.
    val rightCtes =
      if (sameSide) ""
      else s"""$eb AS MATERIALIZED (SELECT doc_id, unnest(sh) AS sg FROM $right),
              |$nb AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM $right),
              |""".stripMargin
    s"""$ea AS MATERIALIZED (SELECT doc_id, unnest(sh) AS sg FROM $left),
       |$na AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM $left),
       |$rightCtes${pfx}i AS MATERIALIZED (SELECT a.doc_id AS da, b.doc_id AS db,
       |    CAST(count(*) AS BIGINT) AS inter
       |  FROM $ea a JOIN $eb b ON a.sg = b.sg$cond
       |  GROUP BY 1, 2),
       |$out AS MATERIALIZED (SELECT i.da AS $aCol, i.db AS $bCol,
       |    na.n AS n_a, nb.n AS n_b, i.inter,
       |    na.n + nb.n - i.inter AS uni,
       |    CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter) AS jaccard
       |  FROM ${pfx}i i JOIN $na na ON na.doc_id = i.da
       |    JOIN $nb nb ON nb.doc_id = i.db
       |  WHERE CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter) >= 0.5)""".stripMargin
  }

  /** Near-dup pair CTE (named `pairs`, expects `sh` in scope) — the same
    * banding-vs-brute-force equivalence as `q_dedup_neardup`, shared by
    * the split-leakage and source-overlap oracles so the pair semantics
    * cannot drift between them (now the [[jaccardPairCtes]] exploded
    * form, value-identical to the r17 all-pairs text).
    */
  private[queries] val neardupPairsCte: String =
    jaccardPairCtes(out = "pairs", left = "sh", right = "sh")

  /** Corpus-side / shard-side (doc_id, sh) frames under the shared
    * ⌊4·(max+1)/5⌋ ingest boundary — the common prefix of every
    * incremental-dedup oracle (expects `sh` and defines `sp`).
    */
  private[queries] val ingestSideCtes: String =
    s"""sp AS (SELECT (max(doc_id) + 1) * 4 // 5 AS split FROM documents),
       |shc AS (SELECT s.doc_id, s.sh FROM sh s, sp WHERE s.doc_id < sp.split),
       |shs AS (SELECT s.doc_id, s.sh FROM sh s, sp WHERE s.doc_id >= sp.split)""".stripMargin

  /** The train/val/test CASE over a doc-id expression — interpolates the
    * [[Splits]] constants, mirroring [[Splits.splitOf]] bit for bit.
    */
  private[queries] def splitSql(id: String): String = {
    import graft.operators.Splits._
    s"""CASE WHEN ${h60(SplitSeed, id)} % $SplitBuckets < $TrainMilli THEN 'train'
       |  WHEN ${h60(SplitSeed, id)} % $SplitBuckets < $ValMilli THEN 'val'
       |  ELSE 'test' END""".stripMargin
  }

  /** The q_mixture_schedule oracle body — also the CTE the packed
    * composition (`q_mixture_packed`) wraps, so the two can never drift.
    */
  private[queries] def mixtureScheduleSql: String =
    s"""WITH t AS MATERIALIZED (SELECT doc_id, source,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_toks
       |  FROM documents),
       |s AS MATERIALIZED (SELECT source, CAST(sum(n_toks) AS BIGINT) AS src_tokens
       |  FROM t GROUP BY source),
       |g AS MATERIALIZED (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
       |    CAST(count(*) AS BIGINT) AS n_sources FROM s),
       |r AS MATERIALIZED (SELECT source, src_tokens,
       |    ((total_tokens * (${Sampling.MixShareScale} // n_sources))
       |      // ${Sampling.MixShareScale}) AS want
       |  FROM s, g)
       |SELECT t.doc_id, t.source, t.n_toks,
       |  (r.want // r.src_tokens) +
       |  CASE WHEN ${h60(Sampling.MixtureSeed, "t.doc_id")} % ${Sampling.Buckets}
       |    < (((r.want % r.src_tokens) * ${Sampling.Buckets}) // r.src_tokens)
       |    THEN 1 ELSE 0 END AS n_repeats
       |FROM t JOIN r USING (source)
       |WHERE (r.want // r.src_tokens) +
       |  CASE WHEN ${h60(Sampling.MixtureSeed, "t.doc_id")} % ${Sampling.Buckets}
       |    < (((r.want % r.src_tokens) * ${Sampling.Buckets}) // r.src_tokens)
       |    THEN 1 ELSE 0 END > 0""".stripMargin

  /** The ln→temper→exp fixed-point chain over a (key, src_tokens) frame
    * `$src`, STAGED as three materialized CTEs ending in
    * `w($key, src_tokens, w_f)`. The r17 form was one lateral-alias
    * column chain; DuckDB expands lateral aliases by SUBSTITUTION, so
    * the exp chain's ~40 references to its argument each inlined the
    * whole ln chain — a several-thousand-node expression tree costing
    * ~4 s of OPTIMIZER time per tempered oracle at any SF (measured
    * sf0.01: q_mixture_temperature 6.8 → sub-second once staged). Real
    * column boundaries stop the substitution; the integer arithmetic —
    * and therefore every value — is unchanged.
    */
  private[queries] def temperChainCtes(src: String, key: String): String = {
    val (tNum, tDen) = (graft.operators.Sampling.TempNum,
      graft.operators.Sampling.TempDen)
    s"""wl AS MATERIALIZED (SELECT $key, src_tokens,
       |  ${graft.functions.FixedPointLn.lnFSql("src_tokens", "y")}
       |  FROM $src),
       |wy AS MATERIALIZED (SELECT $key, src_tokens,
       |  (y * $tDen) // $tNum AS y_t FROM wl),
       |w AS MATERIALIZED (SELECT $key, src_tokens,
       |  ${graft.functions.FixedPointExp.expFSql("y_t", "w_f")}
       |  FROM wy)""".stripMargin
  }

  /** The tempered-weight CTE chain `t, s, w, g` (doc tokens → per-source
    * totals → fixed-point n^(1/T) weights → corpus scalars) — ONE
    * definition shared by the temperature-schedule and epoch-allocation
    * oracles (mirrors `Sampling.temperedWeights` at T = tNum/tDen = 2).
    */
  private[queries] def temperedWeightCtes: String =
    s"""t AS MATERIALIZED (SELECT doc_id, source,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_toks
       |  FROM documents),
       |s AS MATERIALIZED (SELECT source, CAST(sum(n_toks) AS BIGINT) AS src_tokens
       |  FROM t GROUP BY source),
       |${temperChainCtes("s", "source")},
       |g AS MATERIALIZED (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
       |    CAST(sum(w_f) AS BIGINT) AS sum_w FROM w)""".stripMargin

  /** The q_mixture_temperature oracle body (T = 2/1) — also the CTE the
    * packed composition (`q_mixture_temperature_packed`) wraps, so the
    * two can never drift (the q_mixture_schedule arrangement).
    */
  private[queries] def temperatureScheduleSql: String = {
    s"""WITH $temperedWeightCtes,
       |r AS MATERIALIZED (SELECT source, src_tokens,
       |    ((total_tokens * ((w_f * ${Sampling.MixShareScale}) // sum_w))
       |      // ${Sampling.MixShareScale}) AS want
       |  FROM w, g)
       |SELECT t.doc_id, t.source, t.n_toks,
       |  (r.want // r.src_tokens) +
       |  CASE WHEN ${h60(Sampling.MixtureSeed, "t.doc_id")} % ${Sampling.Buckets}
       |    < (((r.want % r.src_tokens) * ${Sampling.Buckets}) // r.src_tokens)
       |    THEN 1 ELSE 0 END AS n_repeats
       |FROM t JOIN r USING (source)
       |WHERE (r.want // r.src_tokens) +
       |  CASE WHEN ${h60(Sampling.MixtureSeed, "t.doc_id")} % ${Sampling.Buckets}
       |    < (((r.want % r.src_tokens) * ${Sampling.Buckets}) // r.src_tokens)
       |    THEN 1 ELSE 0 END > 0""".stripMargin
  }

  /** The k-round BPE training replay (see [[bpeChainCtes]] for the
    * one-row-state recursion): merge table `m` (rank, a, b, n), final
    * segmentation `s<k>` — ties (count DESC, a ASC, b ASC), folds
    * bit-equal to the [[graft.functions.BpeSegments]] kernel rule.
    */
  private[queries] def bpeRoundCtes(k: Int): String =
    "WITH RECURSIVE " + bpeChainCtes(k, w = "w", s = "s", m = "m", docWhere = "")

  /** [[htmlCtes]] parameterized for multi-chain oracles (the rank
    * staleness card needs the base crawl AND a drifted one in ONE
    * query): `x` suffixes every CTE name (`hd$x` … `hm$x`); `docs` is
    * the FROM source of the document rows (default the base table; a
    * drifted caller passes a derived-table subquery). The fixture union
    * stays in every chain — fixtures are "stable pages" of any crawl.
    */
  private[queries] def htmlCtesOver(sfx: String = "", docs: String = "documents"): String = {
    import graft.operators.Html
    val p = Html.ParaTokens
    // fixture rows as SQL VALUES (single quotes doubled); pm() emulates
    // Spark's pmod for the fixtures' NEGATIVE doc_ids (DuckDB's % keeps
    // the dividend sign)
    val fixtures = Html.MarkupFixtures.map { case (i, src, t) =>
      s"(CAST($i AS BIGINT), '$src', '${t.replace("'", "''")}')"
    }.mkString(", ")
    def pm(k: Int) = s"CAST(((doc_id % $k) + $k) % $k AS VARCHAR)"
    // Domains.hostOf(doc_id + 1, source): the r15 absolute anchor's host
    val nextHostSql = hostOfSql("(doc_id + 1)")
    val esc = "replace(replace(replace(replace(replace(text," +
      " '&', '&amp;'), '<', '&lt;'), '>', '&gt;')," +
      " '\"', '&quot;'), CHR(39), '&#39;')"
    s"""hd$sfx AS MATERIALIZED (SELECT doc_id, source, text FROM $docs
       |    UNION ALL SELECT * FROM (VALUES $fixtures) fx$sfx(doc_id, source, text)),
       |h$sfx AS MATERIALIZED (SELECT doc_id, source, text,
       |    '<html><head><title>Page ' || CAST(doc_id AS VARCHAR) ||
       |      '</title><style>.ad{display:none}.x{color:#c00}</style></head><body>' ||
       |      '<nav id="n' || ${pm(5)} || '">home | about | ' || source || ' | login</nav>' ||
       |      '<script type="text/javascript">var p=' || CAST(doc_id AS VARCHAR) ||
       |      ';if(p&&p>0){trackPageView("p"+p);}</script>' ||
       |      '<div class="ad" data-cid="' || ${pm(7)} ||
       |      '">SPONSORED: best ' || source || ' deals' ||
       |      '<div class="inner">deal of the day ' || ${pm(3)} || '</div>' ||
       |      '<p>buy ' || source || ' premium today</p>' ||
       |      '<img src="/b' || ${pm(7)} || '.png"></div>' ||
       |      array_to_string(list_transform(
       |           range(0, (len(toks) - 1) // $p + 1),
       |           i -> '<p class="c' || CAST(i AS VARCHAR) || '">' || array_to_string(
       |             toks[i*$p+1 : i*$p+$p], ' ') || '</p>'), '') ||
       |      '<div class="related" data-rel="' || ${pm(5)} ||
       |      '">see also <a href="/p' || CAST(doc_id + 1 AS VARCHAR) ||
       |      '">p' || CAST(doc_id + 1 AS VARCHAR) ||
       |      '</a> <a href="/p' || CAST(doc_id + 2 AS VARCHAR) ||
       |      '">p' || CAST(doc_id + 2 AS VARCHAR) || '</a>' ||
       |      ' <a href="https://' || $nextHostSql || '/p/' ||
       |      CAST(doc_id + 1 AS VARCHAR) || '">next ' ||
       |      array_to_string(toks[1:${Html.AnchorTeaserTokens}], ' ') || '</a>' ||
       |      '<p>related reading for page ' || CAST(doc_id AS VARCHAR) || '</p></div>' ||
       |      '<div class="promo">limited offer ' || ${pm(11)} ||
       |      ' <footer>copyright 2026 ' || source || ' | privacy | terms</footer>' ||
       |      '</body></html>' AS html
       |  FROM (SELECT doc_id, source, text,
       |    regexp_split_to_array(trim($esc), '\\s+') AS toks FROM hd$sfx)),
       |hs$sfx AS (SELECT doc_id, source, text, html,
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
       |      '${Html.ScriptStylePattern}', ' ', 'g'),
       |      '${Html.TextOnlyDivPattern}', ' ', 'g'),
       |      '${Html.TextOnlyDivPattern}', ' ', 'g'),
       |      '${Html.BoilerplatePattern}', ' ', 'g') AS stripped
       |  FROM h$sfx),
       |hm$sfx AS (SELECT doc_id, source, text, html, stripped,
       |    ${unescSql(s"array_to_string(regexp_extract_all(stripped, '${Html.ParagraphPattern}', 1), ' ')")} AS main
       |  FROM hs$sfx)""".stripMargin
  }

  /** Unrolled DuckDB replay of `GraphAnalytics.pageRank` over an
    * edge CTE `$e(src, dst, w)`: per-source integer weight
    * normalization, [[graft.operators.GraphAnalytics.PrIters]] rounds of
    * floored contributions + damped update, every constant interpolated
    * from the operator. The final rank frame is `pr<PrIters>(id, pr)`.
    * ONE definition shared by the word-graph (`q_pagerank_words`) and
    * host-graph (`q_link_rank`/`q_link_authority`) oracles.
    */
  private[queries] def pageRankCtes(e: String, sfx: String = ""): String = {
    import graft.operators.GraphAnalytics.{PrQ, WQ, DampNum, DampDen, PrIters}
    val iterCtes = (0 until PrIters).map { t =>
      s"""c${t + 1}$sfx AS MATERIALIZED (SELECT en$sfx.dst, CAST(sum((p.pr * en$sfx.wq) // $WQ) AS BIGINT) AS c
         |  FROM en$sfx JOIN pr$t$sfx p ON p.id = en$sfx.src GROUP BY en$sfx.dst),
         |pr${t + 1}$sfx AS MATERIALIZED (SELECT nodes$sfx.id,
         |    (${DampDen - DampNum} * $PrQ) // ($DampDen * nn$sfx.n)
         |      + ($DampNum * coalesce(c${t + 1}$sfx.c, 0)) // $DampDen AS pr
         |  FROM nodes$sfx CROSS JOIN nn$sfx
         |  LEFT JOIN c${t + 1}$sfx ON c${t + 1}$sfx.dst = nodes$sfx.id)""".stripMargin
    }.mkString(",\n")
    s"""ws$sfx AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM $e GROUP BY src),
       |en$sfx AS MATERIALIZED (SELECT $e.src, $e.dst, ($e.w * $WQ) // ws$sfx.wsum AS wq
       |  FROM $e JOIN ws$sfx USING (src)),
       |nodes$sfx AS MATERIALIZED (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM $e UNION ALL SELECT dst AS id FROM $e) u$sfx),
       |nn$sfx AS MATERIALIZED (SELECT count(*) AS n FROM nodes$sfx),
       |pr0$sfx AS MATERIALIZED (SELECT id, $PrQ // nn$sfx.n AS pr FROM nodes$sfx CROSS JOIN nn$sfx),
       |$iterCtes""".stripMargin
  }

  /** Personalized variant of [[pageRankCtes]] — DuckDB replay of
    * `GraphAnalytics.personalizedPageRank` over edge CTE `$e(src, dst,
    * w)` with seed CTE `$seeds(id)`: teleport mass and initial mass
    * restricted to the seed ∩ node set, 0 elsewhere. Final frame
    * `pr<PrIters>(id, seed, pr)`.
    */
  private[queries] def personalizedPageRankCtes(
      e: String, seeds: String, sfx: String = ""): String = {
    import graft.operators.GraphAnalytics.{PrQ, WQ, DampNum, DampDen, PrIters}
    val iterCtes = (0 until PrIters).map { t =>
      s"""c${t + 1}$sfx AS MATERIALIZED (SELECT en$sfx.dst, CAST(sum((p.pr * en$sfx.wq) // $WQ) AS BIGINT) AS c
         |  FROM en$sfx JOIN pr$t$sfx p ON p.id = en$sfx.src GROUP BY en$sfx.dst),
         |pr${t + 1}$sfx AS MATERIALIZED (SELECT fl$sfx.id, fl$sfx.seed,
         |    (CASE WHEN fl$sfx.seed
         |       THEN (${DampDen - DampNum} * $PrQ) // ($DampDen * sn$sfx.s)
         |       ELSE 0 END)
         |      + ($DampNum * coalesce(c${t + 1}$sfx.c, 0)) // $DampDen AS pr
         |  FROM fl$sfx CROSS JOIN sn$sfx
         |  LEFT JOIN c${t + 1}$sfx ON c${t + 1}$sfx.dst = fl$sfx.id)""".stripMargin
    }.mkString(",\n")
    s"""ws$sfx AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM $e GROUP BY src),
       |en$sfx AS MATERIALIZED (SELECT $e.src, $e.dst, ($e.w * $WQ) // ws$sfx.wsum AS wq
       |  FROM $e JOIN ws$sfx USING (src)),
       |nodes$sfx AS MATERIALIZED (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM $e UNION ALL SELECT dst AS id FROM $e) u$sfx),
       |fl$sfx AS MATERIALIZED (SELECT nodes$sfx.id, ($seeds.id IS NOT NULL) AS seed
       |  FROM nodes$sfx LEFT JOIN $seeds ON $seeds.id = nodes$sfx.id),
       |sn$sfx AS MATERIALIZED (SELECT count(*) AS s FROM fl$sfx WHERE seed),
       |pr0$sfx AS MATERIALIZED (SELECT id, seed, CASE WHEN seed THEN $PrQ // sn$sfx.s ELSE 0 END AS pr
       |  FROM fl$sfx CROSS JOIN sn$sfx),
       |$iterCtes""".stripMargin
  }

  /** Link-extraction CTE chain (r15) on top of [[htmlCtes]]: anchors
    * parsed back out of the REBUILT pages with the engine's own patterns
    * (interpolated from [[graft.operators.LinkGraph]]), absolute URLs
    * resolved through the same two-regexp host extraction, relative
    * anchors resolved to the page's own [[hostOfSql]] host. `lall` keeps
    * every anchor (frontier card); `le` is the cross-host weighted edge
    * list.
    */
  private[queries] def linkCtes: String = linkCtesOver()

  /** [[linkCtes]] parameterized like [[htmlCtesOver]] (same `sfx`/`docs`
    * contract) — the anchor-ELEMENT extraction (r16): one pass captures
    * whole `<a …>…</a>` elements, from which the href AND the anchor
    * text derive (the engine's `LinkGraph.linksRaw` shape), so `lall`
    * carries `atext` for the anchor-text index oracles.
    */
  private[queries] def linkCtesOver(sfx: String = "", docs: String = "documents"): String = {
    import graft.operators.LinkGraph.{
      AnchorElemPattern, AnyHrefPattern, AnchorTextPattern, AbsPagePattern, RelPagePattern}
    s"""${htmlCtesOver(sfx, docs)},
       |lx$sfx AS (SELECT doc_id,
       |    ${hostOfSql("doc_id")} AS src_host,
       |    unnest(regexp_extract_all(html, '$AnchorElemPattern', 0)) AS el
       |  FROM h$sfx),
       |lu$sfx AS (SELECT doc_id, src_host,
       |    regexp_extract(el, '$AnyHrefPattern', 1) AS u,
       |    ${unescSql(s"regexp_extract(el, '$AnchorTextPattern', 1)")} AS atext
       |  FROM lx$sfx),
       |lall$sfx AS MATERIALIZED (SELECT doc_id, src_host,
       |    CASE WHEN u LIKE 'https://%' THEN regexp_extract(u, $HostRe, 1)
       |      ELSE src_host END AS dst_host,
       |    TRY_CAST(CASE WHEN u LIKE 'https://%'
       |      THEN regexp_extract(u, '$AbsPagePattern', 1)
       |      ELSE regexp_extract(u, '$RelPagePattern', 1) END AS BIGINT)
       |      AS dst_page,
       |    atext
       |  FROM lu$sfx),
       |le$sfx AS MATERIALIZED (SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
       |  FROM lall$sfx WHERE dst_host <> src_host GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB replay of `LinkGraph.anchorContexts` (r17): pages rebuilt by
    * [[htmlCtesOver]], anchor elements re-extracted, the page split at
    * each element's first occurrence (strpos — elements are unique per
    * page under the grammar), both halves script/style- then tag-
    * stripped, entity-unescaped, lowToks'd, and the last / first
    * [[graft.operators.LinkGraph.AnchorContextTokens]] non-empty tokens
    * kept. Ends with frame `acw(doc_id, src_host, dst_host, absolute,
    * atext, atoks, ctx_b, ctx_a)`.
    */
  private[queries] def anchorContextCtes: String = {
    import graft.operators.LinkGraph.{
      AnchorElemPattern, AnyHrefPattern, AnchorTextPattern, AnchorContextTokens}
    import graft.operators.Html.ScriptStylePattern
    def vis(x: String) =
      "list_filter(regexp_split_to_array(trim(lower(nfc_normalize(" +
        unescSql(s"regexp_replace(regexp_replace($x, '$ScriptStylePattern', ' ', 'g')," +
          " '<[^>]*>', ' ', 'g')") +
        "))), '\\s+'), t -> t <> '')"
    s"""${htmlCtesOver()},
       |acx AS (SELECT doc_id, source, html, ${hostOfSql("doc_id")} AS src_host,
       |    unnest(regexp_extract_all(html, '$AnchorElemPattern', 0)) AS el
       |  FROM h),
       |acp AS (SELECT doc_id, src_host,
       |    regexp_extract(el, '$AnyHrefPattern', 1) AS u,
       |    ${unescSql(s"regexp_extract(el, '$AnchorTextPattern', 1)")} AS atext,
       |    ${vis("substr(html, 1, strpos(html, el) - 1)")} AS tb,
       |    ${vis("substr(html, strpos(html, el) + length(el))")} AS ta
       |  FROM acx),
       |acw AS (SELECT doc_id, src_host,
       |    CASE WHEN u LIKE 'https://%' THEN regexp_extract(u, $HostRe, 1)
       |      ELSE src_host END AS dst_host,
       |    (u LIKE 'https://%') AS absolute,
       |    atext,
       |    list_filter(regexp_split_to_array(trim(lower(nfc_normalize(atext))),
       |      '\\s+'), t -> t <> '') AS atoks,
       |    tb[greatest(len(tb) - $AnchorContextTokens + 1, 1):len(tb)] AS ctx_b,
       |    ta[1:$AnchorContextTokens] AS ctx_a
       |  FROM acp)""".stripMargin
  }

  /** The scoring CTEs over [[anchorContextCtes]]'s `acw` frame — the
    * context-extended (host, tok, tf) bag and the anchor BM25 math,
    * ending in `ah2(host, score)` (the top-k host ranking). Shared by
    * the stored-index ranking oracle and the fused-retrieval oracle.
    */
  private[queries] def anchorCtxScoreCtes: String = {
    import graft.operators.TextAnalysis._
    import graft.operators.LinkGraph.AnchorHostK
    val numF = (Bm25K1Num + Bm25K1Den) * Bm25BDen
    val denTf = Bm25K1Den * Bm25BDen
    val denS = Bm25K1Num * (Bm25BDen - Bm25BNum)
    val denDl = Bm25K1Num * Bm25BNum
    val inList = Bm25Query.map(t => s"'$t'").mkString(", ")
    val pivot = Bm25Query
      .map(t => s"COALESCE(max(CASE WHEN tok = '$t' THEN ts END), 0)")
      .mkString(" + ")
    s"""ct AS (SELECT dst_host AS host, unnest(atoks || ctx_b || ctx_a) AS tok
       |  FROM acw WHERE dst_host <> src_host),
       |cdl AS (SELECT host, CAST(count(*) AS BIGINT) AS dl FROM ct GROUP BY host),
       |csc AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS s_tok FROM cdl),
       |ctf AS (SELECT host, tok, CAST(count(*) AS BIGINT) AS tf FROM ct
       |  WHERE tok IN ($inList) GROUP BY host, tok),
       |cdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM ctf GROUP BY tok),
       |cper AS (SELECT t.host, t.tok,
       |    (CAST(t.tf * $numF * sc.s_tok AS DOUBLE)
       |      / CAST(t.tf * $denTf * sc.s_tok + $denS * sc.s_tok
       |             + $denDl * d.dl * sc.n_docs AS DOUBLE))
       |    * (CAST(sc.n_docs AS DOUBLE) / CAST(q.df + 1 AS DOUBLE)) AS ts
       |  FROM ctf t JOIN cdl d USING (host) JOIN cdf q USING (tok) CROSS JOIN csc sc),
       |ah2 AS (SELECT host, $pivot AS score FROM cper GROUP BY host
       |  ORDER BY score DESC, host ASC LIMIT $AnchorHostK)""".stripMargin
  }

  /** The one-row-state SEED alone — the whole weighted vocabulary as a
    * single LIST<STRUCT> row with per-char `pieces` (round 0 of the
    * training recursion; also the apply-side seed for encoding a corpus
    * under rules trained elsewhere, e.g. the byte-fallback card).
    */
  private[queries] def bpeSeedCte(name: String, w: String, docWhere: String): String =
    s"""$name AS (SELECT list({'word': word, 'freq': freq,
       |    'pieces': list_transform(range(1, length(word) + 1),
       |      i -> substr(word, CAST(i AS INTEGER), 1))} ORDER BY word) AS seg
       |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+')) AS word
       |    FROM documents$docWhere) t
       |    WHERE length(word) >= 1 GROUP BY word) $w)""".stripMargin

  /** One named BPE training chain — parameterized so the sample-
    * agreement oracle can run TWO trainings (full corpus vs the
    * deterministic doc sample) side by side without CTE-name collisions.
    *
    * ONE-ROW-STATE RECURSION (the caller's WITH must say RECURSIVE). The
    * r15/r16 gate artifacts lost the agreement card to host-pressure
    * OOMs: the per-round materialized chain held 3 chains × 20 vocab-size
    * CTEs ≈ 300 plan operators, each allocating 32 KB+ buffer blocks per
    * thread — the single heaviest-allocating oracle of the 266. The
    * recursion keeps ONE copy of the round body and one row of state
    * (round, seg LIST, rules LIST), cutting peak RSS ~2× and making plan
    * size independent of k. One-row list state is fine here: the oracle
    * replays at sf0.01 (and the engine now trains bounded-local too —
    * [[graft.operators.TextAnalysis]] trainBpeRules).
    *
    * Defines: `<s>r` (seed: char-segmentation list), `<m>tr` (the
    * recursion), `<m>f` (final state), `<m>` (merge table rank,a,b,n),
    * `<s><k>` (final segmentation rows: word, freq, pieces).
    *
    * Per round: the state row's seg list UNNESTs into rows and the
    * weighted pair counts + argmax (n DESC, a ASC, b ASC) run as a
    * plain GROUP BY + ORDER BY LIMIT 1 scalar subquery — streaming
    * relational operators, no giant pair list, no list_sort, none of
    * the r17 run-length list_reduce whose accumulator copies made the
    * round quadratic in allocations (the r17 verdict's oracle-OOM
    * item). The seg fold stays the kernel's leftmost-first merge
    * (per-word, bounded). Early stop: no pairs left → best NULL →
    * recursion ends with fewer than k rules.
    */
  private[queries] def bpeChainCtes(
      k: Int, w: String, s: String, m: String, docWhere: String): String =
    s"""${bpeSeedCte(s"${s}r", w, docWhere)},
       |${m}tr AS (
       |  SELECT 0 AS round, ${s}r.seg AS seg,
       |    CAST([] AS STRUCT(rank BIGINT, a VARCHAR, b VARCHAR, n BIGINT)[]) AS rules
       |  FROM ${s}r
       |  UNION ALL
       |  SELECT round + 1,
       |    list_transform(seg, s -> {'word': s.word, 'freq': s.freq,
       |      'pieces': list_reduce(list_transform(s.pieces, p -> [p]),
       |        (acc, x) -> CASE WHEN acc[-1] = best.a AND x[1] = best.b
       |          THEN acc[1:len(acc)-1] || [best.a || best.b] ELSE acc || x END)}),
       |    rules || [{'rank': round + 1, 'a': best.a, 'b': best.b, 'n': best.n}]
       |  FROM (
       |    SELECT round, seg, rules,
       |      (SELECT {'a': q1.a, 'b': q1.b, 'n': q1.n} FROM (
       |        SELECT pr.a AS a, pr.b AS b, CAST(sum(pr.f) AS BIGINT) AS n
       |        FROM (SELECT s.freq AS f, pp.a AS a, pp.b AS b
       |              FROM unnest(p0.seg) AS u(s),
       |                   LATERAL unnest(list_transform(range(1, len(s.pieces)),
       |                     j -> {'a': s.pieces[j], 'b': s.pieces[j+1]})) AS lp(pp)) pr
       |        GROUP BY pr.a, pr.b
       |        ORDER BY n DESC, a ASC, b ASC LIMIT 1) q1) AS best
       |    FROM (SELECT round, seg, rules FROM ${m}tr WHERE round < $k) p0
       |  ) q WHERE best IS NOT NULL),
       |${m}f AS (SELECT seg, rules FROM ${m}tr ORDER BY round DESC LIMIT 1),
       |$m AS (SELECT r.rank, r.a, r.b, r.n FROM ${m}f, unnest(${m}f.rules) AS t(r)),
       |$s$k AS (SELECT s.word, s.freq, s.pieces FROM ${m}f, unnest(${m}f.seg) AS t(s))""".stripMargin

  /** Embedding dimensionality of the testdata (all SFs). The
    * engine reads the dim dynamically; the static oracle SQL is generated
    * for this one.
    */
  private[queries] val EmbDim = 64

  /** Fails loudly if the testdata's embedding dim ever drifts from the dim
    * the static ann oracle SQL is generated for — otherwise out-of-range
    * DuckDB list indexes would NULL out every bucket/cosine and surface as
    * a baffling hash mismatch instead of an error. One-row bounded action.
    */
  private[queries] def requireOracleDim(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, size}
    emb.select(size(col("embedding"))).head(1).foreach { r =>
      val dim = r.getInt(0)
      require(dim == EmbDim,
        s"ann_* oracle SQL is generated for dim=$EmbDim but the embeddings " +
          s"table has dim=$dim — regenerate the oracle for the new dim")
    }
    emb
  }

  /** Σ_d a[d]·b[d] as a left-associated double sum — mirrors
    * [[graft.functions.FloatVecDot]]'s left-to-right accumulation
    * bit-for-bit (callers pass DOUBLE[]-cast list expressions, matching the
    * expression's float→double element reads).
    */
  private[queries] def dotSql(a: String, b: String): String =
    (1 to EmbDim).map(d => s"$a[$d]*$b[$d]").mkString("(", " + ", ")")

  private[queries] def selfDotSql(a: String): String = dotSql(a, a)

  /** ±v[d] signed sum for one md5 hyperplane's ±1 pattern (same
    * left-to-right order; x·(±1.0) is an exact sign flip in IEEE double, so
    * +/− mirrors the engine's multiply-accumulate exactly).
    */
  private[queries] def signedSumSql(v: String, hp: Array[Double]): String =
    hp.zipWithIndex.map { case (s, d) =>
      (if (s > 0) "+" else "-") + s"$v[${d + 1}]"
    }.mkString("(", " ", ")")

  /** One LSH table's sign-pattern bucket id — mirrors
    * `Similarity.bucketId` over `Similarity.hyperplanes(table, planes, _)`.
    */
  private[queries] def bucketSql(v: String, table: Int, planes: Int): String = {
    val hps = graft.operators.Similarity.hyperplanes(table, planes, EmbDim)
    (0 until planes).map { p =>
      s"(CASE WHEN ${signedSumSql(v, hps(p))} > 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** DuckDB mirror of `TextAnalysis.bm25TopK` — standalone query AND the
    * lexical side of the hybrid-RRF oracle (ONE definition, so a scoring
    * fix cannot desync the two).
    */
  private[queries] def bm25TopKOracle: String = {
    import graft.operators.TextAnalysis._
    val numF = (Bm25K1Num + Bm25K1Den) * Bm25BDen
    val denTf = Bm25K1Den * Bm25BDen
    val denS = Bm25K1Num * (Bm25BDen - Bm25BNum)
    val denDl = Bm25K1Num * Bm25BNum
    val inList = Bm25Query.map(t => s"'$t'").mkString(", ")
    val pivot = Bm25Query
      .map(t => s"COALESCE(max(CASE WHEN tok = '$t' THEN ts END), 0)")
      .mkString(" + ")
    s"""WITH dl AS (SELECT doc_id,
       |    CAST(len(regexp_split_to_array(trim(nfc_normalize(text)), '\\s+')) AS BIGINT) AS dl
       |  FROM documents),
       |sc AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS s_tok FROM dl),
       |tk AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tk
       |  WHERE tok IN ($inList) GROUP BY doc_id, tok),
       |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
       |per AS (SELECT t.doc_id, t.tok,
       |    (CAST(t.tf * $numF * sc.s_tok AS DOUBLE)
       |      / CAST(t.tf * $denTf * sc.s_tok + $denS * sc.s_tok
       |             + $denDl * d.dl * sc.n_docs AS DOUBLE))
       |    * (CAST(sc.n_docs AS DOUBLE) / CAST(q.df + 1 AS DOUBLE)) AS ts
       |  FROM tf t JOIN dl d USING (doc_id) JOIN dfq q USING (tok) CROSS JOIN sc)
       |SELECT doc_id, $pivot AS score
       |FROM per GROUP BY doc_id
       |ORDER BY score DESC, doc_id ASC LIMIT $Bm25K""".stripMargin
  }

  /** The IVF cell-assignment + probe CTEs: score every vector against
    * `centCte` (a CTE named (i, c[, cn])), rank cells by (cosine DESC,
    * cell-id DESC) like the engine, emit `assigned` (every vector's one
    * cell) and `probes` (each query's nProbe cells) — ONE definition for
    * the first-n, trained, and IVF-PQ oracles, so a tie-rule fix cannot
    * silently apply to only one of them. `cn` is the centroid norm; pass
    * an expression when the CTE doesn't precompute it.
    */
  private[queries] def ivfProbeCtes(centCte: String, cnExpr: String, nQueries: Int = 10,
      pfx: String = "", src: String = "e"): String =
    s"""${pfx}scores AS MATERIALIZED (SELECT e.vec_id, c.i,
       |    ${dotSql("e.v", "c.c")} / (e.nrm * $cnExpr) AS cs
       |  FROM $src e CROSS JOIN $centCte c),
       |${pfx}ranked_cells AS MATERIALIZED (SELECT vec_id, i,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, i DESC) AS rn
       |  FROM ${pfx}scores),
       |${pfx}assigned AS (SELECT vec_id AS neighbor_id, i AS cell FROM ${pfx}ranked_cells WHERE rn = 1),
       |${pfx}probes AS (SELECT vec_id AS query_id, i AS cell FROM ${pfx}ranked_cells
       |  WHERE rn <= 3 AND vec_id < $nQueries)""".stripMargin

  /** The k-means training-loop CTEs against a vector CTE `e`: `cent0` =
    * first-`nLists` seeds, then per round an assignment CTE (same cosine,
    * same (cs DESC, i DESC) tie-break as the engine) and a quantized-mean
    * CTE — yielding `cent<iters>` as the trained centroids. Shared by the
    * trained-IVF and IVF-PQ oracles.
    */
  private[queries] def ivfTrainCtes(nLists: Int, iters: Int, src: String = "e",
      pfx: String = ""): String = {
    val q = graft.operators.Similarity.MeanQuantum
    val sumCols = (1 to EmbDim)
      .map(d => s"sum(CAST(round(e.v[$d]*$q) AS BIGINT)) AS s$d")
      .mkString(",\n    ")
    val meanList = (1 to EmbDim)
      .map(d => s"CAST(CAST(CAST(s$d AS DOUBLE)/n/$q.0 AS FLOAT) AS DOUBLE)")
      .mkString("[", ", ", "]")
    def iterCtes(t: Int): String =
      s"""${pfx}s$t AS MATERIALIZED (SELECT e.vec_id, c.i,
         |    ${dotSql("e.v", "c.c")} / (e.nrm * c.cn) AS cs
         |  FROM $src e CROSS JOIN ${pfx}cent$t c),
         |${pfx}a$t AS MATERIALIZED (SELECT vec_id, i AS cell FROM (
         |    SELECT vec_id, i, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, i DESC) AS rn
         |    FROM ${pfx}s$t) r WHERE rn = 1),
         |${pfx}m$t AS MATERIALIZED (SELECT a.cell, count(*) AS n, $sumCols
         |  FROM ${pfx}a$t a JOIN $src e USING (vec_id) GROUP BY a.cell),
         |${pfx}cent${t + 1} AS MATERIALIZED (SELECT i, c, sqrt(${selfDotSql("c")}) AS cn
         |  FROM (SELECT c0.i, COALESCE(m.c, c0.c) AS c
         |  FROM ${pfx}cent$t c0 LEFT JOIN
         |    (SELECT cell AS i, $meanList AS c FROM ${pfx}m$t) m USING (i)) cc)""".stripMargin
    s"""${pfx}cent0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS i, v AS c,
       |    nrm AS cn
       |  FROM $src ORDER BY vec_id ASC LIMIT $nLists),
       |${(0 until iters).map(iterCtes).mkString(",\n")}""".stripMargin
  }

  private[queries] def stopList: String =
    graft.operators.TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
}
