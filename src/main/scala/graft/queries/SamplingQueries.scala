package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._
import graft.streaming.DocumentStreams

/** Deterministic sampling, curricula and data-mixture schedules. */
object SamplingQueries {
  // EXACT-k weighted sample without replacement (Efraimidis–Spirakis
  // A-ES): bottom-k of −ln(u)/w keys through the portable fixed-point
  // ln; k-bounded TakeOrderedAndProject, never a global sort.
  private val sampleAes = QueryDef("q_sample_aes",
    (s, dir) => Sampling.weightedExactSample(Tables.documents(s, dir)),
    // A-ES keys replayed through the identical integer-ln chain (lateral
    // aliases), bottom-k by (key_f, doc_id).
    {
      import graft.functions.FixedPointLn.{lnFSql, Scale}
      val lnS = graft.functions.FixedPointLn.lnFRef(Scale)
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS weight,
         |    ${h60(Sampling.AesSeed, "doc_id")} % $Scale + 1 AS hp1
         |  FROM documents),
         |l AS (SELECT doc_id, weight,
         |  ${lnFSql("hp1", "lh")}
         |  FROM d WHERE weight > 0)
         |SELECT doc_id, weight, ($lnS - lh) * $Scale // weight AS key_f
         |FROM l ORDER BY key_f, doc_id LIMIT ${Sampling.AesTarget}""".stripMargin
    })

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_sample_stratified", (s, dir) => Sampling.stratifiedSample(Tables.documents(s, dir)),
      // Threshold is integer floor division on both engines (Spark `div`,
      // DuckDB `//`) — the kept set is bit-reproducible.
      s"""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang)
         |SELECT d.doc_id, d.lang,
         |  ${h60(Sampling.DefaultSeed, "d.doc_id")} % ${Sampling.Buckets} AS bucket
         |FROM documents d JOIN c USING (lang)
         |WHERE ${h60(Sampling.DefaultSeed, "d.doc_id")} % ${Sampling.Buckets}
         |  < (${Sampling.DefaultTargetPerStratum * Sampling.Buckets} // c.n_lang)""".stripMargin),
    // EXACT-k per-stratum sampling by smallest content hash — selection by
    // counting (coarse hash histogram + cutoff-bucket rank), never a sort
    QueryDef("q_sample_exact", (s, dir) => Sampling.exactStratifiedSample(Tables.documents(s, dir)),
      // Exact-k stratified: the obvious per-stratum (h, doc_id) rank pins
      // the semantics; the engine computes the same set by counting
      s"""WITH hashed AS (SELECT doc_id, lang,
         |    ${h60(Sampling.ExactSeed, "doc_id")} % 1048576 AS h FROM documents),
         |r AS (SELECT doc_id, lang, h,
         |    row_number() OVER (PARTITION BY lang ORDER BY h ASC, doc_id ASC) AS rn
         |  FROM hashed)
         |SELECT doc_id, lang, h FROM r
         |WHERE rn <= ${Sampling.DefaultTargetPerStratum}""".stripMargin),
    // quality-weighted Bernoulli (keep prob ∝ token count, content-hash draw)
    QueryDef("q_sample_weighted", (s, dir) => Sampling.weightedSample(Tables.documents(s, dir)),
      // Weighted Bernoulli: keep iff md5-draw mod cap < min(weight, cap);
      // seed/cap interpolated from the operator's constants.
      s"""SELECT doc_id, lang, weight, draw FROM (
         |  SELECT doc_id, lang,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS weight,
         |    ${h60(Sampling.WeightedSeed, "doc_id")} % ${Sampling.WeightCap} AS draw
         |  FROM documents) t
         |WHERE draw < least(weight, ${Sampling.WeightCap})""".stripMargin),
    sampleAes,
    // The continuously-maintained twin: per micro-batch, the batch's own
    // bottom-k appended to a log-structured store (bottom-k is a monoid);
    // merge-on-read resolves the running sample. Full drain ≡ batch.
    QueryDef.twin("q_stream_sample_aes", sampleAes,
      (s, dir) => DocumentStreams.aesSampleToBatch(s, dir)),
    // source-mixture schedule: equal token share per source, epochs for
    // small sources, content-hash thinning for big ones
    QueryDef("q_mixture_schedule", (s, dir) => Sampling.mixtureSchedule(Tables.documents(s, dir)),
      // Mixture schedule: all-integer epochs+fraction per source (uniform
      // thousandth-shares, budget = corpus total), md5 Bernoulli on the
      // fractional arm. Every constant interpolated from the operator.
      mixtureScheduleSql),
    // Temperature-scaled mixture (p_s ∝ n_s^(1/T), T = 2): shares derived
    // from source sizes through the portable ln_f/exp_f pair, then the
    // same epoch + content-hash-Bernoulli schedule tail.
    QueryDef("q_mixture_temperature",
      (s, dir) => Sampling.temperatureSchedule(Tables.documents(s, dir)),
      // Temperature mixture: the same CTE skeleton with shares derived from
      // n_s^(1/T) via the ln_f → scale-by-tDen/tNum → exp_f integer chains
      // (lateral aliases replay the engine kernels bit-for-bit), then the
      // identical epoch/Bernoulli tail. T = 2/1 interpolated.
      temperatureScheduleSql),
    // Per-source token-budget cap (the domain cap, budgeted in tokens):
    // content-hash-prefix selection by counting, never a global sort
    QueryDef("q_source_budget", (s, dir) => Sampling.sourceTokenBudget(Tables.documents(s, dir)),
      // Token-budget source cap: the counting selection collapses to its
      // sort-order CONTRACT in SQL — kept iff the token mass hashed
      // strictly before the doc (within its source) is under budget
      {
        import graft.operators.Sampling.{SourceBudgetSeed, SourceBudgetTokens}
        s"""WITH t AS (SELECT source, doc_id,
           |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tok,
           |    ${h60(SourceBudgetSeed, "doc_id")} % ${1L << 20} AS h
           |  FROM documents),
           |c AS (SELECT source, doc_id, tok,
           |    CAST(coalesce(sum(tok) OVER (PARTITION BY source
           |      ORDER BY h, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS cum_before
           |  FROM t)
           |SELECT source, doc_id, tok FROM c
           |WHERE cum_before < $SourceBudgetTokens""".stripMargin
      }),
    // curriculum order: length-banded difficulty buckets, hash-shuffled
    // within bucket; bucket-major + interleaved order keys
    QueryDef("q_curriculum_order", (s, dir) => Sampling.curriculumOrder(Tables.documents(s, dir)),
      // Curriculum order: same shift-banded buckets as the drift histogram,
      // per-bucket (h, doc_id) windows, exclusive bucket-size cumsum
      {
        import graft.operators.Sampling.{CurriculumBuckets, CurriculumShift, CurriculumSeed}
        s"""WITH d AS (SELECT doc_id,
           |    ${h60(CurriculumSeed, "doc_id")} AS h,
           |    CAST(least(len(regexp_split_to_array(trim(text), '\\s+')) >> $CurriculumShift,
           |      ${CurriculumBuckets - 1}) AS INTEGER) AS bucket
           |  FROM documents),
           |r AS (SELECT doc_id, bucket, h,
           |    CAST(row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) - 1
           |      AS BIGINT) AS rank
           |  FROM d),
           |sz AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY bucket),
           |off AS (SELECT bucket, CAST(coalesce(sum(n) OVER (ORDER BY bucket
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS boff
           |  FROM sz)
           |SELECT r.doc_id, r.bucket, r.rank,
           |  o.boff + r.rank AS pos_curriculum,
           |  r.rank * $CurriculumBuckets + r.bucket AS pos_interleaved
           |FROM r JOIN off o USING (bucket)""".stripMargin
      }),
    // Data-constrained epoch allocation: budget waterfilled toward the
    // tempered shares under a per-source repetition cap.
    QueryDef("q_epoch_allocation", (s, dir) => Sampling.epochAllocation(Tables.documents(s, dir)),
      // Waterfilled epoch allocation over the same tempered-weight CTEs.
      // DuckDB replay of `Sampling.epochAllocation`: the shared tempered-
      // weight CTEs, then [[graft.operators.Sampling.EpochRounds]] unrolled
      // waterfilling rounds (each a 1-row aggregate `a<t>` over the previous
      // state + the cap/allocate projection `r<t>`) — identical integer ops,
      // so allocations, epoch ratios, and the leftover are exact on both
      // engines.
      {
        import graft.operators.Sampling._
        val rounds = (1 to EpochRounds).map { i =>
          val prev = s"r${i - 1}"
          s"""a$i AS MATERIALIZED (SELECT
             |    CAST(sum(CASE WHEN capped THEN alloc ELSE 0 END) AS BIGINT)
             |      AS capped_sum,
             |    CAST(sum(CASE WHEN NOT capped THEN sm ELSE 0 END) AS BIGINT)
             |      AS u_sm
             |  FROM $prev),
             |r$i AS MATERIALIZED (SELECT source, src_tokens, sm, budget, cap_tokens,
             |    (capped OR tent >= cap_tokens) AS capped,
             |    CAST(CASE WHEN capped OR tent >= cap_tokens
             |         THEN cap_tokens ELSE tent END AS BIGINT) AS alloc
             |  FROM (SELECT r.*,
             |      CASE WHEN r.capped THEN r.alloc
             |           WHEN a.u_sm > 0
             |             THEN ((r.budget - a.capped_sum) * r.sm) // a.u_sm
             |           ELSE 0 END AS tent
             |    FROM $prev r, a$i a) q$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH $temperedWeightCtes,
           |base AS MATERIALIZED (SELECT source, src_tokens,
           |    (w_f * ${Sampling.MixShareScale}) // sum_w AS sm,
           |    (total_tokens * $EpochBudgetNum) // $EpochBudgetDen AS budget,
           |    src_tokens * $EpochCap AS cap_tokens
           |  FROM w, g),
           |r0 AS MATERIALIZED (SELECT source, src_tokens, sm, budget, cap_tokens,
           |    FALSE AS capped, CAST(0 AS BIGINT) AS alloc FROM base),
           |$rounds,
           |sp AS (SELECT CAST(sum(alloc) AS BIGINT) AS alloc_sum
           |  FROM r$EpochRounds)
           |SELECT source, src_tokens, sm AS share_milli, cap_tokens,
           |  alloc AS alloc_tokens, capped,
           |  alloc * 1000 // src_tokens AS epochs_milli, budget,
           |  budget - sp.alloc_sum AS leftover_tokens
           |FROM r$EpochRounds, sp""".stripMargin
      }),
  )
}
