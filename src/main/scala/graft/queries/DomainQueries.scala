package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._
import graft.streaming.DocumentStreams

/** URL/domain-level curation over the registered-domain key (power-law hosts). */
object DomainQueries {
  // continuous-ingestion twin: frozen per-(domain, bucket) spend grid,
  // arrivals admitted iff corpus mass hashed before them is under budget
  private val domainBudgetIncremental = QueryDef("q_domain_budget_incremental",
    (s, dir) => Domains.incrementalDomainBudget(Tables.documents(s, dir)),
    // An arrival is
    // admitted iff the CORPUS token mass hashed strictly before it
    // (within its domain) is under budget — a correlated sum over the
    // frozen side below the 4/5 ingest split, replaying the probe's
    // (h, doc_id) order rule.
    {
      import graft.operators.Domains.{DomainBudgetSeed, DomainBudgetTokens}
      s"""WITH $domainUrlCtes,
         |t AS (SELECT domain, doc_id, tok,
         |    ${h60(DomainBudgetSeed, "doc_id")} % ${1L << 20} AS h FROM x),
         |sp AS (SELECT (max(doc_id) + 1) * 4 // 5 AS split FROM documents),
         |co AS (SELECT t.* FROM t, sp WHERE t.doc_id < sp.split),
         |sh2 AS (SELECT t.* FROM t, sp WHERE t.doc_id >= sp.split)
         |SELECT s.domain, s.doc_id, s.tok,
         |  (SELECT CAST(coalesce(sum(c.tok), 0) AS BIGINT) FROM co c
         |     WHERE c.domain = s.domain
         |       AND (c.h < s.h OR (c.h = s.h AND c.doc_id < s.doc_id)))
         |    < $DomainBudgetTokens AS admitted
         |FROM sh2 s""".stripMargin
    })

  val all: Seq[QueryDef] = Seq(
    // deterministic synthetic url + host/registered-domain extraction,
    // row-level oracle-checked
    QueryDef("q_domain_urls", (s, dir) => Domains.urlTable(Tables.documents(s, dir)).drop("text"),
      // Domain curation family: every oracle rebuilds the deterministic URL
      // string and RE-PARSES it with the same two regexps the engine uses —
      // extraction is checked end to end, not assumed.
      s"""WITH $domainUrlCtes
         |SELECT doc_id, url, host, domain, tok FROM x""".stripMargin),
    // per-registered-domain rollup: docs, hosts, within-domain dups, tokens
    QueryDef("q_domain_stats", (s, dir) => Domains.domainStats(Tables.documents(s, dir)),
      // per-domain rollup; dup fingerprints counted WITHIN the domain
      s"""WITH $domainUrlCtes,
         |f AS (SELECT domain, host,
         |    md5(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g')) AS fp,
         |    tok
         |  FROM x),
         |c AS (SELECT domain, fp, count(*) AS n_copies
         |  FROM f GROUP BY domain, fp)
         |SELECT f.domain, count(*) AS n_docs,
         |  count(DISTINCT f.host) AS n_hosts,
         |  CAST(sum(CASE WHEN c.n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_docs,
         |  CAST(sum(f.tok) AS BIGINT) AS total_tokens,
         |  CAST(sum(f.tok) AS DOUBLE) / count(*) AS avg_tokens
         |FROM f JOIN c ON f.domain = c.domain AND f.fp = c.fp
         |GROUP BY f.domain""".stripMargin),
    // frequency cap: at most DomainCapDocs per domain, counting-selection
    QueryDef("q_domain_cap", (s, dir) => Domains.domainFrequencyCap(Tables.documents(s, dir)),
      // frequency cap: counting selection collapses to its rank CONTRACT
      {
        import graft.operators.Domains.{DomainCapDocs, DomainCapSeed}
        s"""WITH $domainUrlCtes,
           |h AS (SELECT domain, doc_id,
           |    ${h60(DomainCapSeed, "doc_id")} % ${1L << 20} AS h FROM x),
           |r AS (SELECT domain, doc_id, h,
           |    row_number() OVER (PARTITION BY domain ORDER BY h, doc_id) AS rn
           |  FROM h)
           |SELECT domain, doc_id, h FROM r WHERE rn <= $DomainCapDocs""".stripMargin
      }),
    // token budget per domain: first-crossing kept, hash order
    QueryDef("q_domain_budget", (s, dir) => Domains.domainTokenBudget(Tables.documents(s, dir)),
      // token budget per domain: the q_source_budget contract on the
      // registered-domain key
      {
        import graft.operators.Domains.{DomainBudgetSeed, DomainBudgetTokens}
        s"""WITH $domainUrlCtes,
           |t AS (SELECT domain, doc_id, tok,
           |    ${h60(DomainBudgetSeed, "doc_id")} % ${1L << 20} AS h FROM x),
           |c AS (SELECT domain, doc_id, tok,
           |    CAST(coalesce(sum(tok) OVER (PARTITION BY domain
           |      ORDER BY h, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS cum_before
           |  FROM t)
           |SELECT domain, doc_id, tok FROM c
           |WHERE cum_before < $DomainBudgetTokens""".stripMargin
      }),
    // domain-level temperature: per-domain budget = tempered n^(1/T)
    // share of the corpus; head domains truncated, tail passes whole
    QueryDef("q_domain_budget_tempered",
      (s, dir) => Domains.temperedDomainBudget(Tables.documents(s, dir)),
      // Domain-level temperature: per-domain budget = tempered n^(1/T)
      // share, same fixed-point ln/exp chains as the mixture oracles, then
      // the q_domain_budget window-cumsum contract with per-domain budgets.
      // DuckDB replay of `Domains.temperedDomainBudget`: per-domain token
      // totals through the same fixed-point ln/exp tempering chain as
      // `temperedWeightCtes` (domain-keyed), integer share → budget, then
      // the q_domain_budget window-cumsum contract with per-domain budgets.
      {
        import graft.operators.Domains.DomainBudgetSeed
        import graft.operators.Sampling.{MixShareScale, TempDen, TempNum}
        s"""WITH $domainUrlCtes,
           |t AS MATERIALIZED (SELECT domain, doc_id, tok,
           |    ${h60(DomainBudgetSeed, "doc_id")} % ${1L << 20} AS h FROM x),
           |s AS MATERIALIZED (SELECT domain, CAST(sum(tok) AS BIGINT) AS src_tokens
           |  FROM t GROUP BY domain),
           |${temperChainCtes("s", "domain")},
           |g AS MATERIALIZED (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
           |    CAST(sum(w_f) AS BIGINT) AS sum_w FROM w),
           |r AS MATERIALIZED (SELECT domain,
           |    ((total_tokens * ((w_f * $MixShareScale) // sum_w))
           |      // $MixShareScale) AS budget
           |  FROM w, g),
           |c AS (SELECT t.domain, t.doc_id, t.tok, r.budget,
           |    CAST(coalesce(sum(t.tok) OVER (PARTITION BY t.domain
           |      ORDER BY t.h, t.doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS cum_before
           |  FROM t JOIN r USING (domain))
           |SELECT domain, doc_id, tok, CAST(budget AS BIGINT) AS dom_budget
           |FROM c WHERE cum_before < budget""".stripMargin
      }),
    domainBudgetIncremental,
    // the same probe per micro-batch against the static spend artifacts
    QueryDef.twin("q_stream_domain_budget", domainBudgetIncremental,
      (s, dir) => DocumentStreams.incrementalDomainBudgetToBatch(s, dir)),
    // domain x domain near-dup contamination matrix (who copies whom)
    QueryDef("q_domain_overlap",
      (s, dir) =>
        Domains.domainOverlapMatrix(
          Tables.documents(s, dir),
          Dedup.nearDuplicatePairsFromTable(SignatureStore.table(s, dir))),
      // Domain x domain contamination: the brute-force pair set joined to
      // the rebuilt-and-reparsed domain of each endpoint.
      s"""WITH sh AS MATERIALIZED ($shCte),
         |$neardupPairsCte,
         |$domainUrlCtes
         |SELECT least(da.domain, db.domain) AS dom_a,
         |  greatest(da.domain, db.domain) AS dom_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs p
         |JOIN x da ON da.doc_id = p.doc_a
         |JOIN x db ON db.doc_id = p.doc_b
         |GROUP BY 1, 2""".stripMargin),
    // wholesale domain-level keep decision: classifier + prose majorities
    QueryDef("q_domain_quality", (s, dir) => Domains.domainQualityCard(Tables.documents(s, dir)),
      // Per-domain quality card: same classifier fold as q_classifier_score
      // and a lowercase stopword prose rule, rolled up in exact milli.
      {
        import graft.operators.Domains.DomainKeepMilli
        import graft.operators.TextAnalysis.{ClsSeed, ClsWeightMod, ClsWeightShift}
        s"""WITH $domainUrlCtes,
           |f AS (SELECT domain, tok,
           |    CAST(coalesce(list_sum(list_transform(
           |      list_filter(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+'),
           |        z -> z <> ''),
           |      t2 -> ${h60(ClsSeed, "t2")} % $ClsWeightMod - $ClsWeightShift)), 0)
           |      AS BIGINT) AS score,
           |    len(list_filter(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+'),
           |      z -> list_contains($stopList, z))) AS n_stop
           |  FROM x),
           |a AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(score) AS BIGINT) AS sum_score,
           |    CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           |    CAST(sum(CASE WHEN tok >= 10 AND n_stop > 0 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_quality
           |  FROM f GROUP BY domain)
           |SELECT domain, n_docs, sum_score, n_keep,
           |  n_keep * 1000 // n_docs AS keep_milli,
           |  n_quality, n_quality * 1000 // n_docs AS quality_milli,
           |  (n_keep * 1000 // n_docs >= $DomainKeepMilli
           |    AND n_quality * 1000 // n_docs >= $DomainKeepMilli) AS domain_keep
           |FROM a""".stripMargin
      }),
  )

  /** The `u, x` CTE pair of the domain-curation oracles: DuckDB replay of
    * `Domains.withUrl`'s deterministic URL grammar (same md5 draws, same
    * exact `//` power-law integer div) FOLLOWED by the same two-regexp
    * host / registered-domain extraction the engine runs — the oracle
    * re-parses the string it just built, so the extraction itself is
    * what's being checked, not assumed.
    */
  private def domainUrlCtes: String = {
    s"""u AS (SELECT doc_id, text,
       |    'https://' || ${hostOfSql("doc_id")} || '/p/' || doc_id AS url
       |  FROM documents),
       |x AS (SELECT doc_id, text, url,
       |    regexp_extract(url, $HostRe, 1) AS host,
       |    regexp_extract(regexp_extract(url, $HostRe, 1),
       |      '([^.]+\\.[^.]+)$$', 1) AS domain,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tok
       |  FROM u)""".stripMargin
  }
}
