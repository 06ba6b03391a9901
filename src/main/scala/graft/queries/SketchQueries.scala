package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._
import graft.streaming.SketchStreams

/** Mergeable sketches (HLL, count-min, quantiles, KLL, KMV, table digests)
  * and their streaming upkeep.
  */
object SketchQueries {
  // Hand-rolled order-independent sketches: deterministic, fully
  // oracle-replayed (unlike the built-in HLL++/percentile sketches).
  private val hllVocab = QueryDef("q_hll_vocab",
    (s, dir) => Sketches.hllVocabByLang(Tables.documents(s, dir)),
    // From-scratch HLL, replayed register-exactly: same 60-bit seeded
    // hash, same bit-length ranks (Spark bin == DuckDB bin), same exact
    // BIGINT denominator; the estimate is one double division of the
    // interpolated numerator constant by that integer — bit-portable.
    {
      import graft.operators.Sketches._
      s"""WITH t AS (SELECT lang,
         |    unnest(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+')) AS tok
         |  FROM documents),
         |tt AS (SELECT lang, tok FROM t WHERE length(tok) > 0),
         |g AS (SELECT lang, ${h60(HllHashSeed, "tok")} AS gh FROM tt),
         |r AS (SELECT lang, gh % $HllM AS j,
         |    CASE WHEN (gh // $HllM) = 0 THEN 0
         |         ELSE length(bin(gh // $HllM)) END AS bl
         |  FROM g),
         |rb AS (SELECT lang, j, min(bl) AS minb FROM r GROUP BY lang, j),
         |p AS (SELECT lang,
         |    CAST(sum(CAST(1 AS BIGINT) << minb) AS BIGINT) AS denom_present,
         |    count(*) AS n_present
         |  FROM rb GROUP BY lang),
         |e AS (SELECT lang, count(DISTINCT tok) AS exact_distinct
         |  FROM tt GROUP BY lang)
         |SELECT p.lang,
         |  CAST($HllM - p.n_present AS INTEGER) AS n_zero_registers,
         |  CAST(p.denom_present
         |    + ($HllM - p.n_present) * (CAST(1 AS BIGINT) << ${HllW + 1})
         |    AS BIGINT) AS denom,
         |  $HllNumerator / (p.denom_present
         |    + ($HllM - p.n_present) * (CAST(1 AS BIGINT) << ${HllW + 1}))
         |    AS hll_raw_estimate,
         |  e.exact_distinct
         |FROM p JOIN e ON p.lang = e.lang""".stripMargin
    })
  // Mergeable fixed-universe dyadic quantile sketch (typed-Aggregator
  // state, order-independent) — rank + quantile answers hash-replayed.
  private val quantileSketch = QueryDef("q_quantile_sketch",
    (s, dir) => Sketches.quantileSketch(Tables.orders(s, dir)),
    {
      import graft.operators.Sketches._
      val decompVals = QsProbeCents.flatMap(p =>
        prefixNodes(p).map { case (l, b) =>
          s"(CAST($p AS BIGINT), $l, CAST($b AS BIGINT))"
        }).mkString(", ")
      val res = 1L << QsLMin
      s"""WITH cents AS (SELECT greatest(least(CAST(round(o_totalprice * 100) AS BIGINT), $QsMax), 0) AS c
         |  FROM orders),
         |lv AS (SELECT unnest(range($QsLMin, ${QsU + 1})) AS l),
         |nodes AS (SELECT l, c >> l AS b, CAST(count(*) AS BIGINT) AS cnt
         |  FROM cents CROSS JOIN lv GROUP BY l, c >> l),
         |decomp AS (SELECT * FROM (VALUES $decompVals) AS d(key, l, b)),
         |ranks AS (SELECT d.key, CAST(COALESCE(sum(n.cnt), 0) AS BIGINT) AS est
         |  FROM decomp d LEFT JOIN nodes n ON n.l = d.l AND n.b = d.b GROUP BY d.key),
         |exact_ranks AS (SELECT p.key,
         |    CAST(count(*) FILTER (WHERE s.c < p.key) AS BIGINT) AS exact
         |  FROM (SELECT DISTINCT key FROM decomp) p CROSS JOIN cents s GROUP BY p.key),
         |rank_rows AS (SELECT 'rank' AS kind, r.key, r.est, e.exact
         |  FROM ranks r JOIN exact_ranks e USING (key)),
         |nt AS (SELECT cnt AS n FROM nodes WHERE l = $QsU AND b = 0),
         |cum AS (SELECT b, sum(cnt) OVER (ORDER BY b) AS cum FROM nodes WHERE l = $QsLMin),
         |targets AS (SELECT unnest([${QsTargetPct.mkString(", ")}]) AS pct),
         |qb AS (SELECT t.pct,
         |    min(CASE WHEN cu.cum >= (t.pct * nt.n + 99) // 100 THEN cu.b END) AS qb
         |  FROM targets t CROSS JOIN nt CROSS JOIN cum cu GROUP BY t.pct),
         |rc AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM cents),
         |eq AS (SELECT t.pct,
         |    min(CASE WHEN rc.rn = (t.pct * nt.n + 99) // 100 THEN rc.c END) AS exact
         |  FROM targets t CROSS JOIN nt CROSS JOIN rc GROUP BY t.pct),
         |quant_rows AS (SELECT 'quantile' AS kind, CAST(q.pct AS BIGINT) AS key,
         |    CAST(q.qb * $res AS BIGINT) AS est, e.exact FROM qb q JOIN eq e USING (pct))
         |SELECT kind, CAST(key AS BIGINT) AS key, est, exact FROM rank_rows
         |UNION ALL SELECT kind, key, est, exact FROM quant_rows""".stripMargin
    })

  val all: Seq[QueryDef] = Seq(
    // order-independent XOR integrity digest per source
    QueryDef("q_table_digest", (s, dir) => Sketches.tableDigest(Tables.documents(s, dir)),
      // XOR of 60-bit canonical-row hashes: same md5 axis, same '|' join;
      // bit_xor == the engine's XorDigest fold (order-independent both ways).
      s"""SELECT source, bit_xor(h) AS digest, count(*) AS n_rows FROM (
         |  SELECT source,
         |    ${h60(0, "concat_ws('|', doc_id, lang, source, md5(text))")} AS h
         |  FROM documents) t
         |GROUP BY source""".stripMargin),
    hllVocab,
    // Streaming HLL register maintenance (update-mode keyed store, no
    // watermark — structurally bounded state): the register store
    // reconstructs the batch registers exactly (monotone min +
    // latest-batch-wins).
    QueryDef.twin("q_stream_hll_update", hllVocab,
      (s, dir) => SketchStreams.hllVocabViaStore(s, dir)),
    // The same HLL through the typed-Aggregator/udaf surface
    // (ObjectHashAggregate path) — identical frame.
    QueryDef.twin("q_hll_vocab_agg", hllVocab,
      (s, dir) => Sketches.hllVocabByLangUdaf(Tables.documents(s, dir))),
    QueryDef("q_countmin_probe", (s, dir) => Sketches.countMinProbe(Tables.documents(s, dir)),
      // Count-min: counters are exact integer sums per (row, bucket); the
      // point estimate is a min over 4 rows. Per-row seeds mirror
      // md5Long(tok, CmsSeedBase + row).
      {
        import graft.operators.Sketches._
        val probeList = CmsProbes.map(w => s"'$w'").mkString(", ")
        def bucketSql(x: String): String =
          s"CAST(('0x' || substr(md5(CAST($CmsSeedBase + r.i AS VARCHAR) || ':' || $x), 1, 15)) AS BIGINT) % $CmsWidth"
        s"""WITH t AS (SELECT
           |    unnest(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+')) AS tok
           |  FROM documents),
           |tt AS (SELECT tok FROM t WHERE length(tok) > 0),
           |c AS (SELECT r.i AS row, ${bucketSql("tok")} AS bucket, count(*) AS c
           |  FROM tt CROSS JOIN range(0, $CmsDepth) r(i) GROUP BY 1, 2),
           |w AS (SELECT unnest([$probeList]) AS word),
           |pb AS (SELECT w.word, r.i AS row, ${bucketSql("w.word")} AS bucket
           |  FROM w CROSS JOIN range(0, $CmsDepth) r(i)),
           |est AS (SELECT word, min(coalesce(c.c, 0)) AS est_count
           |  FROM pb LEFT JOIN c ON pb.row = c.row AND pb.bucket = c.bucket
           |  GROUP BY word),
           |ex AS (SELECT tok AS word, count(*) AS exact_count FROM tt GROUP BY tok)
           |SELECT est.word, est.est_count,
           |  coalesce(ex.exact_count, 0) AS exact_count
           |FROM est LEFT JOIN ex ON est.word = ex.word""".stripMargin
      }),
    quantileSketch,
    // Streaming maintenance of the dyadic quantile sketch: update-mode
    // node counts upserted into a keyed store (state structurally bounded
    // at <= 8191 rows — no watermark needed), drained to the identical
    // node frame.
    QueryDef.twin("q_stream_quantile_update", quantileSketch,
      (s, dir) => SketchStreams.quantileSketchViaStore(s, dir)),
    // Float-universe quantile sketch: deterministic level-sampling (KLL's
    // weight ladder, content-hashed coin) — multiset-invariant state.
    QueryDef("q_kll_quantile", (s, dir) => Sketches.kllQuantile(Tables.orders(s, dir)),
      // DuckDB mirror of `Sketches.quantileSketch` — the dyadic node build
      // (one (level, bucket) count per kept level), the per-probe canonical
      // prefix decompositions (node lists generated by the same
      // [[graft.operators.Sketches.prefixNodes]] and embedded as literals —
      // the hyperplane pattern), the cumulative-sum quantile extraction with
      // the integer ceil target (pct·n+99)//100, and the exact-rank /
      // exact-value columns. All integers; hash-exact.
      //
      // DuckDB mirror of `Sketches.kllQuantile` — the deterministic
      // level-sampling sketch replayed in CLOSED FORM: the aggregator's
      // invariance contract says the final state is exactly (n, lMin =
      // min{l : count(level ≥ l) ≤ cap}, {rows with level ≥ lMin}), so the
      // oracle computes that characterization directly (same 60-bit md5 row
      // hash via the `conv` mirror, trailing-zero level as a CASE chain,
      // cutoff by level counts, sample probe at ceil(target/2^lMin) clamped
      // to the sample top, exact value at the integer target rank under the
      // same (v, h) total order). A hash match here PROVES the merge-order
      // invariance the engine claims.
      {
        import graft.operators.Sketches.{KllCap, KllMaxLevel, KllPcts}
        val h60 = "CAST(('0x' || substr(md5('0:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)"
        val levelCase = "CASE " +
          (0 until KllMaxLevel).map(l => s"WHEN (h >> $l) % 2 = 1 THEN $l").mkString(" ") +
          s" ELSE $KllMaxLevel END"
        val perPct = KllPcts.map { pct =>
          s"""SELECT CAST($pct AS BIGINT) AS key,
             |  (SELECT s.v FROM samp s, params pr
             |   WHERE s.p = least(((($pct * pr.n + 99) // 100) + pr.w - 1) // pr.w, pr.m)) AS est,
             |  (SELECT e.v FROM exact e, params pr
             |   WHERE e.rn = ($pct * pr.n + 99) // 100) AS exact""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH src AS (SELECT $h60 AS h, o_totalprice AS v FROM orders),
           |lv AS (SELECT h, v, $levelCase AS l FROM src),
           |lm AS (SELECT min(l0) AS lm FROM (
           |    SELECT g.l0 AS l0, count(*) FILTER (WHERE lv.l >= g.l0) AS c
           |    FROM (SELECT unnest(range(0, ${KllMaxLevel + 2})) AS l0) g CROSS JOIN lv
           |    GROUP BY g.l0) t
           |  WHERE c <= $KllCap),
           |samp0 AS (SELECT v, h FROM lv, lm WHERE lv.l >= lm.lm),
           |samp AS (SELECT v, h, row_number() OVER (ORDER BY v, h) AS p FROM samp0),
           |params AS (SELECT (SELECT count(*) FROM src) AS n, lm.lm AS lm,
           |    (CAST(1 AS BIGINT) << lm.lm) AS w,
           |    (SELECT count(*) FROM samp0) AS m FROM lm),
           |exact AS (SELECT v, row_number() OVER (ORDER BY v, h) AS rn FROM src)
           |SELECT key, est, exact FROM (
           |$perPct
           |) q WHERE (SELECT n FROM params) > 0 AND (SELECT m FROM params) > 0""".stripMargin
      }),
    // Per-group sketch states through ONE hash-agg — grouped quantiles
    // with group-partitioned exact ranks (no global sort anywhere).
    QueryDef("q_kll_segment",
      (s, dir) => Sketches.kllQuantileBySegment(Tables.customer(s, dir), Tables.orders(s, dir)),
      // DuckDB mirror of `Sketches.kllQuantileBySegment` — the grouped
      // closed form: every CTE of the `q_kll_quantile` oracle gains the segment
      // key (per-(seg, level) survivor counts, per-seg cutoff/width/total,
      // seg-partitioned sample and exact rank windows), and the probe
      // targets join per segment. Segments with no rows or an empty sample
      // emit nothing, matching the engine.
      {
        import graft.operators.Sketches.{KllCap, KllMaxLevel, KllPcts}
        val h60o = "CAST(('0x' || substr(md5('0:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)"
        val levelCase = "CASE " +
          (0 until KllMaxLevel).map(l => s"WHEN (h >> $l) % 2 = 1 THEN $l").mkString(" ") +
          s" ELSE $KllMaxLevel END"
        val pctValues = KllPcts.map(p => s"($p)").mkString(", ")
        s"""WITH src AS (SELECT c.c_mktsegment AS seg, $h60o AS h, o.o_totalprice AS v
           |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
           |lv AS (SELECT seg, h, v, $levelCase AS l FROM src),
           |lm AS (SELECT seg, min(l0) AS lm FROM (
           |    SELECT lv.seg, g.l0 AS l0, count(*) FILTER (WHERE lv.l >= g.l0) AS c
           |    FROM (SELECT unnest(range(0, ${KllMaxLevel + 2})) AS l0) g CROSS JOIN lv
           |    GROUP BY lv.seg, g.l0) t
           |  WHERE c <= $KllCap GROUP BY seg),
           |samp0 AS (SELECT lv.seg, v, h FROM lv JOIN lm USING (seg) WHERE lv.l >= lm.lm),
           |samp AS (SELECT seg, v, h,
           |    row_number() OVER (PARTITION BY seg ORDER BY v, h) AS p FROM samp0),
           |params AS (SELECT n.seg, n.n, lm.lm, (CAST(1 AS BIGINT) << lm.lm) AS w, m.m
           |  FROM (SELECT seg, count(*) AS n FROM src GROUP BY seg) n
           |  JOIN lm USING (seg)
           |  JOIN (SELECT seg, count(*) AS m FROM samp0 GROUP BY seg) m USING (seg)),
           |tgt AS (SELECT pr.seg, k.pct,
           |    (k.pct * pr.n + 99) // 100 AS target,
           |    least(((k.pct * pr.n + 99) // 100 + pr.w - 1) // pr.w, pr.m) AS p_t
           |  FROM params pr CROSS JOIN (VALUES $pctValues) k(pct)),
           |est AS (SELECT t.seg, t.pct, t.target, s.v AS est
           |  FROM tgt t JOIN samp s ON s.seg = t.seg AND s.p = t.p_t),
           |exact AS (SELECT seg, v,
           |    row_number() OVER (PARTITION BY seg ORDER BY v, h) AS rn FROM src)
           |SELECT e.seg, CAST(e.pct AS BIGINT) AS key, e.est, x.v AS exact
           |FROM est e JOIN exact x ON x.seg = e.seg AND x.rn = e.target""".stripMargin
      }),
    // KMV distinct sketches + pairwise Jaccard estimation between
    // language vocabularies (the set-operation estimator HLL lacks).
    QueryDef("q_kmv_overlap", (s, dir) => Sketches.kmvLangOverlap(Tables.documents(s, dir)),
      // KMV sketches replayed: same 60-bit seeded hash, same per-lang k
      // smallest, same k-smallest-of-union estimator, exact Jaccard beside.
      {
        import graft.operators.Sketches.{KmvK, KmvSeed}
        s"""WITH t AS (SELECT lang,
           |    unnest(regexp_split_to_array(trim(lower(nfc_normalize(text))), '\\s+')) AS tok
           |  FROM documents),
           |lt AS (SELECT DISTINCT lang, tok FROM t WHERE length(tok) > 0),
           |lh AS (SELECT DISTINCT lang, ${h60(KmvSeed, "tok")} AS h FROM lt),
           |sk AS (SELECT lang, h FROM (
           |    SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
           |    FROM lh) r WHERE rn <= $KmvK),
           |langs AS (SELECT DISTINCT lang FROM sk),
           |pairs AS (SELECT a.lang AS la, b.lang AS lb
           |  FROM langs a JOIN langs b ON a.lang < b.lang),
           |sides AS (SELECT la, lb, la AS lang FROM pairs
           |  UNION ALL SELECT la, lb, lb AS lang FROM pairs),
           |u AS (SELECT s.la, s.lb, k.h,
           |    max(CASE WHEN k.lang = s.la THEN 1 ELSE 0 END) AS in_a,
           |    max(CASE WHEN k.lang = s.lb THEN 1 ELSE 0 END) AS in_b
           |  FROM sides s JOIN sk k USING (lang) GROUP BY s.la, s.lb, k.h),
           |uk AS (SELECT * FROM (
           |    SELECT u.*, row_number() OVER (PARTITION BY la, lb ORDER BY h) AS rn
           |    FROM u) r WHERE rn <= $KmvK),
           |est AS (SELECT la, lb,
           |    CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           |    CAST(count(*) AS BIGINT) AS n_union_k
           |  FROM uk GROUP BY la, lb),
           |inter AS (SELECT a.lang AS la, b.lang AS lb,
           |    CAST(count(*) AS BIGINT) AS exact_inter
           |  FROM lt a JOIN lt b ON a.tok = b.tok AND a.lang < b.lang GROUP BY 1, 2),
           |sizes AS (SELECT lang, CAST(count(*) AS BIGINT) AS nv FROM lt GROUP BY lang)
           |SELECT e.la, e.lb, e.n_both, e.n_union_k,
           |  CAST(e.n_both AS DOUBLE) / CAST(e.n_union_k AS DOUBLE) AS est_jaccard,
           |  CAST(COALESCE(i.exact_inter, 0) AS DOUBLE)
           |    / CAST(sa.nv + sb.nv - COALESCE(i.exact_inter, 0) AS DOUBLE) AS exact_jaccard
           |FROM est e
           |LEFT JOIN inter i ON i.la = e.la AND i.lb = e.lb
           |JOIN sizes sa ON sa.lang = e.la
           |JOIN sizes sb ON sb.lang = e.lb""".stripMargin
      }),
    // Bucket-level digest reconciliation: localize the planted change to
    // its doc-id block by exchanging per-bucket XOR digests.
    QueryDef("q_digest_diff",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        Sketches.digestDiffBuckets(d, Sketches.tamperedReplica(d))
      },
      // Per-bucket XOR digests of both sides, null-safe full-join diff.
      {
        import graft.operators.Sketches.{DiffBucket, TamperedDocId}
        val h = h60(0, "concat_ws('|', doc_id, lang, source, md5(text))")
        s"""WITH a AS (SELECT doc_id // $DiffBucket AS bkt, bit_xor($h) AS digest,
           |    count(*) AS n_rows FROM documents GROUP BY 1),
           |rep AS (SELECT doc_id, lang, source,
           |    CASE WHEN doc_id = $TamperedDocId THEN text || ' tampered' ELSE text END AS text
           |  FROM documents),
           |b AS (SELECT doc_id // $DiffBucket AS bkt, bit_xor($h) AS digest,
           |    count(*) AS n_rows FROM rep GROUP BY 1)
           |SELECT COALESCE(a.bkt, b.bkt) AS bkt,
           |  a.digest AS digest_a, a.n_rows AS n_a,
           |  b.digest AS digest_b, b.n_rows AS n_b
           |FROM a FULL JOIN b ON a.bkt = b.bkt
           |WHERE a.digest IS DISTINCT FROM b.digest
           |   OR a.n_rows IS DISTINCT FROM b.n_rows""".stripMargin
      }),
    // Row-level drill-down of the digest diff: classify added / removed /
    // changed keys (demo replica: one edit + one dropped row).
    QueryDef("q_row_diff",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        import org.apache.spark.sql.functions.col
        Sketches.rowDiff(d,
          Sketches.tamperedReplica(d).where(col("doc_id") =!= Sketches.DroppedDocId))
      },
      {
        import graft.operators.Sketches.{TamperedDocId, DroppedDocId}
        val h = h60(0, "concat_ws('|', doc_id, lang, source, md5(text))")
        s"""WITH a AS (SELECT doc_id, $h AS ha FROM documents),
           |rep AS (SELECT doc_id, lang, source,
           |    CASE WHEN doc_id = $TamperedDocId THEN text || ' tampered' ELSE text END AS text
           |  FROM documents WHERE doc_id <> $DroppedDocId),
           |b AS (SELECT doc_id, $h AS hb FROM rep)
           |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           |  CASE WHEN b.hb IS NULL THEN 'removed'
           |       WHEN a.ha IS NULL THEN 'added'
           |       ELSE 'changed' END AS change
           |FROM a FULL JOIN b ON a.doc_id = b.doc_id
           |WHERE a.ha IS DISTINCT FROM b.hb""".stripMargin
      }),
    // Cumulative vocabulary-growth curve via HLL registers — the
    // fixed-state scale twin of q_ngram_novelty's exact cum_vocab.
    QueryDef("q_vocab_growth_hll", (s, dir) => Sketches.hllVocabGrowth(Tables.documents(s, dir)),
      // HLL vocabulary-growth curve: same shingles, same seeded registers;
      // "cumulative at bucket b" replays as a per-register running min over
      // the densified bucket grid (merge = idempotent min), then the same
      // exact-integer denominator and one constant/integer division.
      {
        import graft.operators.Sketches._
        import graft.operators.TextAnalysis.NoveltyBuckets
        s"""WITH sh AS MATERIALIZED ($shCte),
           |mx AS (SELECT max(doc_id) AS m FROM documents),
           |e AS (SELECT (sh.doc_id * $NoveltyBuckets) // (mx.m + 1) AS bucket,
           |    unnest(sh.sh) AS g FROM sh, mx),
           |gg AS (SELECT bucket, ${h60(HllHashSeed, "g")} AS gh FROM e),
           |r AS (SELECT bucket, gh % $HllM AS j,
           |    CASE WHEN (gh // $HllM) = 0 THEN 0
           |         ELSE length(bin(gh // $HllM)) END AS bl
           |  FROM gg),
           |rb AS (SELECT bucket, j, min(bl) AS minb FROM r GROUP BY bucket, j),
           |grid AS (SELECT gb.bucket, gj.j
           |  FROM (SELECT unnest(range(0, $NoveltyBuckets)) AS bucket) gb
           |  CROSS JOIN (SELECT DISTINCT j FROM rb) gj),
           |dense AS (SELECT grid.bucket, grid.j, rb.minb
           |  FROM grid LEFT JOIN rb ON grid.bucket = rb.bucket AND grid.j = rb.j),
           |cum AS (SELECT bucket, j,
           |    min(minb) OVER (PARTITION BY j ORDER BY bucket
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS minb_cum
           |  FROM dense),
           |p AS (SELECT bucket,
           |    CAST(sum(CAST(1 AS BIGINT) << minb_cum) AS BIGINT) AS denom_present,
           |    count(minb_cum) AS n_present
           |  FROM cum GROUP BY bucket)
           |SELECT bucket,
           |  CAST($HllM - n_present AS INTEGER) AS n_zero_registers,
           |  CAST(coalesce(denom_present, 0)
           |    + ($HllM - n_present) * (CAST(1 AS BIGINT) << ${HllW + 1})
           |    AS BIGINT) AS denom,
           |  $HllNumerator / (coalesce(denom_present, 0)
           |    + ($HllM - n_present) * (CAST(1 AS BIGINT) << ${HllW + 1}))
           |    AS hll_vocab_estimate
           |FROM p""".stripMargin
      }),
  )
}
