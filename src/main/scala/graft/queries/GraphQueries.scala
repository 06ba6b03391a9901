package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._

/** Word co-occurrence graph analytics: triangles, k-core and PageRank. */
object GraphQueries {

  val all: Seq[QueryDef] = Seq(
    // Degree-ordered triangle counting on the word co-occurrence graph
    // (each triangle enumerated once at its (deg, id)-min vertex).
    QueryDef("q_word_triangles", (s, dir) => GraphAnalytics.wordTriangles(Tables.documents(s, dir)),
      // Degree-ordered triangle enumeration replayed: same canonical edges,
      // same (degree, id) orientation rule, same wedge-close join.
      {
        import graft.operators.GraphAnalytics.TriangleK
        s"""WITH ts AS (SELECT regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+') AS ts
           |  FROM documents),
           |bgidx AS (SELECT ts, unnest(range(1, len(ts))) AS i
           |  FROM ts WHERE len(ts) >= 2),
           |edges AS MATERIALIZED (SELECT DISTINCT least(ts[i], ts[i+1]) AS a, greatest(ts[i], ts[i+1]) AS b
           |  FROM bgidx WHERE ts[i] <> ts[i+1]),
           |deg AS (SELECT w, count(*) AS d FROM (
           |    SELECT a AS w FROM edges UNION ALL SELECT b FROM edges) GROUP BY w),
           |orient AS (SELECT
           |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.a ELSE e.b END AS u,
           |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.b ELSE e.a END AS v
           |  FROM edges e JOIN deg da ON da.w = e.a JOIN deg db ON db.w = e.b),
           |tri AS (SELECT x.u, x.v AS vv, y.v AS ww
           |  FROM orient x JOIN orient y ON x.u = y.u AND x.v < y.v
           |  JOIN edges ed ON ed.a = x.v AND ed.b = y.v)
           |SELECT word, count(*) AS n_triangles FROM (
           |  SELECT u AS word FROM tri
           |  UNION ALL SELECT vv FROM tri
           |  UNION ALL SELECT ww FROM tri) t
           |GROUP BY word ORDER BY n_triangles DESC, word ASC LIMIT $TriangleK""".stripMargin
      }),
    // k-core peeling (fixed BSP rounds, loop unrolled in the oracle).
    QueryDef("q_kcore_words", (s, dir) => GraphAnalytics.kCoreWords(Tables.documents(s, dir)),
      // k-core peel replayed round by round: same canonical edges, same
      // simultaneous degree-< k drop per round, degrees of the survivor set.
      {
        import graft.operators.GraphAnalytics.{KCoreK, KCoreRounds}
        val roundCtes = (1 to KCoreRounds).map { r =>
          s"""d$r AS MATERIALIZED (SELECT w, count(*) AS d FROM (
             |    SELECT a AS w FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1}) u
             |  GROUP BY w),
             |k$r AS MATERIALIZED (SELECT w FROM d$r WHERE d >= $KCoreK),
             |e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
             |  WHERE a IN (SELECT w FROM k$r) AND b IN (SELECT w FROM k$r))""".stripMargin
        }.mkString(",\n")
        s"""WITH ts AS (SELECT regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+') AS ts
           |  FROM documents),
           |bgidx AS (SELECT ts, unnest(range(1, len(ts))) AS i
           |  FROM ts WHERE len(ts) >= 2),
           |e0 AS MATERIALIZED (SELECT DISTINCT least(ts[i], ts[i+1]) AS a, greatest(ts[i], ts[i+1]) AS b
           |  FROM bgidx WHERE ts[i] <> ts[i+1]),
           |$roundCtes
           |SELECT w AS word, CAST(count(*) AS BIGINT) AS degree FROM (
           |  SELECT a AS w FROM e$KCoreRounds UNION ALL SELECT b FROM e$KCoreRounds) u
           |GROUP BY w""".stripMargin
      }),
    // TextRank keyword ranking: all-integer PageRank (3 rounds, unrolled
    // in the oracle) over the word-bigram graph.
    QueryDef("q_pagerank_words", (s, dir) => GraphAnalytics.wordPageRank(Tables.documents(s, dir)),
      // All-integer PageRank, 3 rounds unrolled: same bigram edge axis as
      // q_bigram_lm, per-source weights normalized to 1/2^20 units, per-edge
      // contributions floored BEFORE summing (order-independent integers),
      // damped update base + (17·Σ)//20 — every constant interpolated from
      // GraphAnalytics, so both engines compute identical BIGINT scores.
      {
        import graft.operators.GraphAnalytics.{PrIters, WordRankK}
        s"""WITH ts AS (SELECT regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+') AS ts
           |  FROM documents),
           |bgidx AS (SELECT ts, unnest(range(1, len(ts))) AS i
           |  FROM ts WHERE len(ts) >= 2),
           |e AS (SELECT ts[i] AS src, ts[i+1] AS dst, count(*) AS w
           |  FROM bgidx GROUP BY 1, 2),
           |${pageRankCtes("e")}
           |SELECT id AS word, pr FROM pr$PrIters
           |ORDER BY pr DESC, id ASC LIMIT $WordRankK""".stripMargin
      }),
  )
}
