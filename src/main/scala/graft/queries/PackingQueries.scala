package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._

/** Sequence packing, mixture packing and sharded export manifests. */
object PackingQueries {

  val all: Seq[QueryDef] = Seq(
    // Sequence packing (concat-and-chunk): per-doc global token offsets
    // via a two-level distributed prefix sum, then fixed-length training
    // example spans/rollups. All-integer, fully oracle-replayed.
    QueryDef("q_pack_offsets", (s, dir) => Packing.packedDocSpans(Tables.documents(s, dir)),
      s"""WITH $packCtes
         |SELECT doc_id, n_tok, tok_start, first_chunk, last_chunk FROM spans""".stripMargin),
    QueryDef("q_pack_chunks", (s, dir) => Packing.packedChunkStats(Tables.documents(s, dir)),
      {
        val L = graft.operators.Packing.SeqLen
        s"""WITH $packCtes,
           |ex AS (SELECT doc_id, n_tok, tok_start,
           |    unnest(range(first_chunk, last_chunk + 1)) AS chunk_id FROM spans)
           |SELECT chunk_id, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN tok_start >= chunk_id * $L THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
           |  CAST(sum(least(tok_start + n_tok, (chunk_id + 1) * $L)
           |         - greatest(tok_start, chunk_id * $L)) AS BIGINT) AS n_tokens
           |FROM ex GROUP BY chunk_id""".stripMargin
      }),
    // Temperature schedule composed with the two-level packing prefix sum
    // (the q_mixture_packed composition over the tempered shares).
    QueryDef("q_mixture_temperature_packed",
      (s, dir) =>
        Packing.scheduleOffsets(Sampling.temperatureSchedule(Tables.documents(s, dir))),
      // Temperature schedule composed with the packing prefix sum — the
      // same wrapper q_mixture_packed puts on the default schedule.
      s"""WITH sched AS ($temperatureScheduleSql)
         |SELECT doc_id,
         |  CAST(n_toks * n_repeats AS BIGINT) AS n_tok,
         |  CAST(COALESCE(SUM(n_toks * n_repeats) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS tok_start
         |FROM sched""".stripMargin),
    // mixture ∘ packing: stream offsets for the mixed corpus, repeats as
    // counts (never materialized) through the two-level prefix sum
    QueryDef("q_mixture_packed",
      (s, dir) => Packing.scheduleOffsets(Sampling.mixtureSchedule(Tables.documents(s, dir))),
      // Mixture ∘ packing: exclusive prefix sum of n_toks×n_repeats in
      // doc_id order over the schedule CTE (shared verbatim above).
      s"""WITH sched AS ($mixtureScheduleSql)
         |SELECT doc_id,
         |  CAST(n_toks * n_repeats AS BIGINT) AS n_tok,
         |  CAST(COALESCE(SUM(n_toks * n_repeats) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS tok_start
         |FROM sched""".stripMargin),
    // training-export manifest: hash-sharded deterministic shuffle order,
    // per-shard counts/tokens/XOR digest/order head
    QueryDef("q_shard_manifest", (s, dir) => Packing.shardManifest(Tables.documents(s, dir)),
      {
        import graft.operators.Packing.{ShardCount, ShardSeed}
        s"""WITH d AS (SELECT doc_id,
           |    ${h60(ShardSeed, "doc_id")} AS h,
           |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok,
           |    ${h60(0, "concat_ws('|', doc_id, lang, source, md5(text))")} AS rh
           |  FROM documents),
           |s AS (SELECT h % $ShardCount AS shard, h, doc_id, n_tok, rh FROM d),
           |m AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(n_tok) AS BIGINT) AS n_tokens, bit_xor(rh) AS digest
           |  FROM s GROUP BY shard),
           |hd AS (SELECT shard, doc_id AS first_doc FROM (
           |    SELECT shard, doc_id,
           |      row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS rn
           |    FROM s) t
           |  WHERE rn = 1)
           |SELECT m.shard, m.n_docs, m.n_tokens, m.digest, hd.first_doc
           |FROM m JOIN hd USING (shard)""".stripMargin
      }),
    // padding-waste card: naive per-doc batching vs the packed stream at
    // each candidate context length — the GPU-hours argument for packing
    QueryDef("q_pack_waste", (s, dir) => Packing.packWaste(Tables.documents(s, dir)),
      // Shard manifest: same keyed-hash shard + within-shard (h, doc_id)
      // order, row digests XOR-folded per shard (the q_table_digest idiom)
      // Padding waste: per-L naive padding sum + tail-only packed padding,
      // integer milli shares; Ls interpolated from Packing.PackWasteLens
      // Padding-waste card with the harmonic bestfit column: same per-(L,
      // class) histogram as the engine (class -1 = oversize), ceil(cnt/m)
      // bins per class, lateral aliases for the pad_packed reuse.
      {
        val lensList = graft.operators.Packing.PackWasteLens.mkString(", ")
        s"""WITH d AS (SELECT CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           |    AS n_tok FROM documents),
           |e AS (SELECT seq_len, n_tok,
           |    CASE WHEN n_tok <= seq_len THEN seq_len // n_tok ELSE -1 END AS m,
           |    ((n_tok + seq_len - 1) // seq_len) * seq_len - n_tok AS pad_doc
           |  FROM d, (SELECT unnest(CAST([$lensList] AS BIGINT[])) AS seq_len) ls),
           |c AS (SELECT seq_len, m, CAST(count(*) AS BIGINT) AS cnt,
           |    CAST(sum(n_tok) AS BIGINT) AS toks,
           |    CAST(sum(pad_doc) AS BIGINT) AS pad_naive_cls
           |  FROM e GROUP BY 1, 2),
           |p AS (SELECT seq_len,
           |    CAST(sum(cnt) AS BIGINT) AS n_docs,
           |    CAST(sum(toks) AS BIGINT) AS n_tokens,
           |    CAST(sum(pad_naive_cls) AS BIGINT) AS pad_naive,
           |    CAST(sum(CASE WHEN m >= 1
           |        THEN ((cnt - 1) // m + 1) * seq_len - toks ELSE 0 END)
           |      + sum(CASE WHEN m = -1 THEN pad_naive_cls ELSE 0 END) AS BIGINT)
           |      AS pad_bestfit
           |  FROM c GROUP BY seq_len)
           |SELECT seq_len, n_docs, n_tokens, pad_naive, pad_bestfit,
           |  CASE WHEN n_tokens > 0
           |       THEN ((n_tokens + seq_len - 1) // seq_len) * seq_len - n_tokens
           |       ELSE 0 END AS pad_packed,
           |  CASE WHEN n_tokens + pad_naive > 0
           |       THEN (pad_naive * 1000) // (n_tokens + pad_naive) ELSE 0 END
           |    AS waste_naive_milli,
           |  CASE WHEN n_tokens + pad_bestfit > 0
           |       THEN (pad_bestfit * 1000) // (n_tokens + pad_bestfit) ELSE 0 END
           |    AS waste_bestfit_milli,
           |  CASE WHEN n_tokens + pad_packed > 0
           |       THEN (pad_packed * 1000) // (n_tokens + pad_packed) ELSE 0 END
           |    AS waste_packed_milli
           |FROM p""".stripMargin
      }),
    // No-split harmonic-class packing (Krell et al. shape): every fitting
    // doc lands whole in exactly one bin; oversize docs surface flagged.
    QueryDef("q_pack_bestfit", (s, dir) => Packing.packBestFit(Tables.documents(s, dir)),
      // No-split harmonic packing: same two-level within-class rank (the
      // block decomposition is replayed, not shortcut, so the placement is
      // bit-identical), bounded bin-offset windows, class-cumsum bin bases.
      {
        val (sl, bk) = (graft.operators.Packing.SeqLen,
          graft.operators.Packing.OffsetBucket)
        s"""WITH t AS (SELECT doc_id,
           |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
           |  FROM documents),
           |f AS (SELECT doc_id, n_tok, $sl // n_tok AS m, doc_id // $bk AS bkt
           |  FROM t WHERE n_tok <= $sl),
           |ir AS (SELECT doc_id, n_tok, m, bkt,
           |    CAST(row_number() OVER (PARTITION BY m, bkt ORDER BY doc_id) - 1
           |      AS BIGINT) AS ir
           |  FROM f),
           |bc AS (SELECT m, bkt, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY m, bkt),
           |bo AS (SELECT m, bkt, CAST(coalesce(sum(c) OVER (PARTITION BY m
           |      ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |      0) AS BIGINT) AS c_off
           |  FROM bc),
           |r AS (SELECT ir.doc_id, ir.n_tok, ir.m,
           |    (bo.c_off + ir.ir) // ir.m AS b,
           |    (bo.c_off + ir.ir) % ir.m AS slot
           |  FROM ir JOIN bo ON ir.m = bo.m AND ir.bkt = bo.bkt),
           |o AS (SELECT doc_id, n_tok, m, b, slot,
           |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY m, b ORDER BY slot
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      AS tok_offset
           |  FROM r),
           |cb AS (SELECT m, (CAST(count(*) AS BIGINT) - 1) // m + 1 AS n_bins
           |  FROM f GROUP BY m),
           |co AS (SELECT m, CAST(coalesce(sum(n_bins) OVER (ORDER BY m
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      AS bin_base
           |  FROM cb)
           |SELECT o.doc_id, o.n_tok, TRUE AS fits, o.m AS m_class,
           |  (co.bin_base + o.b) AS bin_id, o.slot AS bin_slot, o.tok_offset
           |FROM o JOIN co ON o.m = co.m
           |UNION ALL
           |SELECT doc_id, n_tok, FALSE AS fits, CAST(NULL AS BIGINT) AS m_class,
           |  CAST(NULL AS BIGINT) AS bin_id, CAST(NULL AS BIGINT) AS bin_slot,
           |  CAST(NULL AS BIGINT) AS tok_offset
           |FROM t WHERE n_tok > $sl""".stripMargin
      }),
  )

  /** Shared CTEs of the sequence-packing oracles — the two-level prefix
    * sum (block cumsum + intra-block cumsum) replayed with the same
    * exclusive ROWS frames, then the span arithmetic. All integers.
    */
  private def packCtes: String = {
    import graft.operators.Packing.{SeqLen, OffsetBucket}
    s"""perdoc AS (SELECT doc_id, doc_id // $OffsetBucket AS bkt,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
       |  FROM documents),
       |bsum AS (SELECT bkt, CAST(sum(n_tok) AS BIGINT) AS b_tok FROM perdoc GROUP BY bkt),
       |boff AS (SELECT bkt, CAST(COALESCE(sum(b_tok) OVER (ORDER BY bkt
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS b_off
       |  FROM bsum),
       |offs AS (SELECT p.doc_id, p.n_tok,
       |    b.b_off + CAST(COALESCE(sum(p.n_tok) OVER (PARTITION BY p.bkt ORDER BY p.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
       |  FROM perdoc p JOIN boff b USING (bkt)),
       |spans AS (SELECT doc_id, n_tok, tok_start,
       |    tok_start // $SeqLen AS first_chunk,
       |    (tok_start + n_tok - 1) // $SeqLen AS last_chunk
       |  FROM offs)""".stripMargin
  }
}
