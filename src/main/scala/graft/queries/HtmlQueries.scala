package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._
import graft.streaming.DocumentStreams

/** HTML main-content extraction (r14): the crawl pipeline's first
  * stage — deterministic page synthesis around each doc's text (the
  * withUrl tradition), then the REAL regex extractor; the oracle
  * rebuilds the page and re-runs the extraction, so the extractor is
  * what's checked. The dedup-lift card is the one-row argument for
  * extracting before dedup: raw pages are chrome-unique, content dups.
  */
object HtmlQueries {
  private val htmlExtract = QueryDef("q_html_extract",
    (s, dir) => Html.extractionReport(Tables.documents(s, dir)),
    // HTML extraction family (r14): the page is REBUILT and RE-PARSED by
    // the same two RE2-safe regexps the engine runs — extractor checked,
    // not assumed.
    s"""WITH $htmlCtes
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(stripped, '${graft.operators.Html.ParagraphPattern}', 1)) AS BIGINT) AS n_paras,
       |  CAST(length(main) AS BIGINT) AS main_chars,
       |  main = array_to_string(
       |    regexp_split_to_array(trim(text), '\\s+'), ' ') AS roundtrip_ok
       |FROM hm""".stripMargin)

  val all: Seq[QueryDef] = Seq(
    htmlExtract,
    // STREAMING extraction: doc-local (no corpus state), so micro-batches
    // union to the batch report (shared oracle) — the position a crawl
    // pipeline actually runs extraction in.
    QueryDef.twin("q_stream_html_extract", htmlExtract,
      (s, dir) => DocumentStreams.htmlExtractToBatch(s, dir)),
    QueryDef("q_html_boilerplate", (s, dir) => Html.boilerplateShare(Tables.documents(s, dir)),
      s"""WITH $htmlCtes
         |SELECT source, CAST(count(*) AS BIGINT) AS pages,
         |  CAST(sum(length(html)) AS BIGINT) AS html_chars,
         |  CAST(sum(length(main)) AS BIGINT) AS main_chars,
         |  (CAST(sum(length(html)) AS BIGINT) - CAST(sum(length(main)) AS BIGINT))
         |    * 1000 // CAST(sum(length(html)) AS BIGINT) AS boilerplate_milli
         |FROM hm GROUP BY source""".stripMargin),
    QueryDef("q_html_dedup_lift", (s, dir) => Html.dedupLift(Tables.documents(s, dir)),
      s"""WITH $htmlCtes,
         |r AS (SELECT md5(lower(html)) AS f, count(*) AS n FROM hm GROUP BY 1),
         |m AS (SELECT md5(lower(main)) AS f, count(*) AS n FROM hm GROUP BY 1)
         |SELECT CAST((SELECT count(*) FROM hm) AS BIGINT) AS n_docs,
         |  CAST(coalesce((SELECT sum(n) FROM r WHERE n > 1), 0) AS BIGINT)
         |    AS raw_dup_docs,
         |  CAST(coalesce((SELECT sum(n) FROM m WHERE n > 1), 0) AS BIGINT)
         |    AS main_dup_docs""".stripMargin),
  )

  /** DuckDB REBUILD of `Html.withHtml`'s page grammar followed by the
    * SAME two-regexp extraction (`Html.mainContent`) — the oracle
    * re-parses the page it just built, so the extractor is what's
    * checked, not assumed (the `q_domain_urls` pattern). DuckDB list
    * slices are inclusive-clamped like Spark's `slice`; `regexp_replace`
    * needs the 'g' flag (Spark's replaces all by default); the
    * boilerplate pattern is RE2-safe by construction.
    */
  private def htmlCtes: String = htmlCtesOver()
}
