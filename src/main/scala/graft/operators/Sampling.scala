package graft.operators

import graft.functions.HashFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic sampling for an LLM-training-data pipeline.
  *
  * Spark's own `sample()` is seed-reproducible only for a fixed partitioning
  * (the Bernoulli draw is keyed by partition index), which makes it
  * unreproducible across cluster sizes and inexpressible in an external
  * oracle. These operators sample by CONTENT hash instead — a row is in the
  * sample iff a pure function of its key says so — which is stable under
  * repartitioning, re-runs, and engine changes, and is exactly the property
  * a training-data pipeline needs ("the sample I audited is the sample that
  * trained").
  */
object Sampling {

  /** Hash-bucket resolution: rates are granted in millionths. */
  val Buckets: Long = 1000000L

  /** Defaults shared with the registered query's oracle SQL — the oracle
    * interpolates THESE constants (not literals), so changing a default
    * here cannot silently desync the two engines.
    */
  val DefaultTargetPerStratum: Long = 100L
  val DefaultSeed: Int = 7

  /** Stratified sample of `documents` targeting ~`targetPerStratum` rows
    * per language: each stratum is sampled at rate target/n_lang via a
    * 60-bit md5 of the doc_id reduced to a bucket in [0, Buckets), kept iff
    * `bucket < floor(target·Buckets / n_lang)`. The threshold is computed
    * with INTEGER division on both engines (Spark `div`, DuckDB `//`) so
    * the kept set is bit-reproducible; strata smaller than the target pass
    * entirely (threshold ≥ Buckets).
    *
    * Shape: one hash-agg for the per-stratum counts (|langs| rows,
    * broadcast back), one scan with a per-row md5 + filter. No corpus-scale
    * shuffle — at 100 TB this is scan-speed, and the sample is balanced
    * across strata rather than proportional (rare languages are not
    * drowned by English), which is the allocation a curriculum/eval split
    * actually wants.
    */
  def stratifiedSample(
      documents: DataFrame, targetPerStratum: Long = DefaultTargetPerStratum,
      seed: Int = DefaultSeed): DataFrame = {
    val counts = documents.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    documents
      .select(
        col("doc_id"), col("lang"),
        (HashFunctions.md5Long(col("doc_id").cast("string"), seed) % Buckets).as("bucket"))
      .join(broadcast(counts), "lang")
      .where(col("bucket") < expr(s"${targetPerStratum * Buckets} div n_lang"))
      .select(col("doc_id"), col("lang"), col("bucket"))
  }

  /** Seed for [[exactStratifiedSample]]'s hash order (distinct from the
    * Bernoulli sample's, so the two samples are independent draws).
    */
  val ExactSeed: Int = 13

  /** EXACT-k stratified sample: per language, exactly min(target, n_lang)
    * documents — the smallest-hash `target` rows by (h, doc_id), where h
    * is the 20-bit content draw. [[stratifiedSample]] is the expected-k
    * Bernoulli form (one scan, but binomial stratum sizes); this is the
    * form an eval-split builder needs, where "about 100 per language" is
    * not a contract.
    *
    * Selection-by-counting, not sorting (the [[Pipeline.selectBestPerSource]]
    * idiom on the hash axis): a per-(lang, h>>8) coarse histogram — 4096
    * buckets per stratum, map-side combined — a cumulative window over
    * that tiny frame finds each stratum's cutoff bucket, everything in
    * strictly-smaller buckets is taken whole, and only the one cutoff
    * bucket per stratum is ranked by (h, doc_id) to fill the remainder.
    * The corpus is scanned, hashed, and filtered; it is never sorted.
    */
  def exactStratifiedSample(
      documents: DataFrame, targetPerStratum: Long = DefaultTargetPerStratum,
      seed: Int = ExactSeed): DataFrame = {
    val hashed = documents
      .select(col("doc_id"), col("lang"),
        (HashFunctions.md5Long(col("doc_id").cast("string"), seed)
          % (1L << 20)).as("h"))
      .localCheckpoint()
    smallestKPerKey(hashed, "lang", targetPerStratum)
      .select("doc_id", "lang", "h")
  }

  /** The exact-k counting-selection kernel shared by
    * [[exactStratifiedSample]] (key = lang) and
    * [[Domains.domainFrequencyCap]] (key = registered domain): from a
    * (doc_id, key, h) frame with 20-bit hashes, keep each key's
    * min(target, n) smallest rows by (h, doc_id) — via the coarse
    * per-(key, h>>8) histogram + cumulative-window cutoff, ranking only
    * the single crossing bucket per key. The corpus is scanned and
    * filtered, never sorted; the windows run over the ≤4096-rows-per-key
    * histogram, so a power-law key (the domain case) costs the same as a
    * uniform one.
    */
  private[graft] def smallestKPerKey(
      hashed: DataFrame, key: String, target: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cumW = Window.partitionBy(key).orderBy(col("hb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = hashed
      .select(col(key), shiftright(col("h"), 8).as("hb"))
      .groupBy(key, "hb").agg(count(lit(1)).as("n"))
      .withColumn("cum", sum("n").over(cumW))
      .withColumn("n_key", sum("n").over(Window.partitionBy(key)))
      .withColumn("k", least(lit(target), col("n_key")))
    val cutoff = hist
      .where(col("cum") >= col("k") && col("cum") - col("n") < col("k"))
      .select(col(key), col("hb").as("cut_hb"),
        (col("k") - (col("cum") - col("n"))).as("need"))
      .localCheckpoint() // one row per key
    val below = hashed
      .join(broadcast(cutoff), Seq(key))
      .where(shiftright(col("h"), 8) < col("cut_hb"))
    val tie = hashed
      .join(broadcast(cutoff), Seq(key))
      .where(shiftright(col("h"), 8) === col("cut_hb"))
      .withColumn("tr", row_number().over(
        Window.partitionBy(key).orderBy(col("h").asc, col("doc_id").asc)))
      .where(col("tr") <= col("need"))
      .drop("tr")
    below.unionByName(tie).select(hashed.columns.map(col): _*)
  }

  /** Weight cap for [[weightedSample]]: keep probability saturates at 1
    * once a document reaches this many tokens.
    */
  /** Token budget per source for [[sourceTokenBudget]] and its hash
    * draw's seed. The budget is deliberately small enough to ENGAGE on
    * every driver scale factor (a cap that never fires is untested
    * code).
    */
  val SourceBudgetTokens: Long = 500L
  val SourceBudgetSeed: Int = 17

  /** Per-source TOKEN-BUDGET cap (the Gopher/RefinedWeb "domain cap",
    * budgeted in tokens the way mixture builders actually spend):
    * within each source, documents are taken in content-hash order
    * until the running token total reaches the budget — a document is
    * kept iff the token mass hashed STRICTLY BEFORE it is under budget,
    * so the first crossing doc is included and every later one dropped.
    * Over-represented sources are truncated to ~budget tokens;
    * under-budget sources pass through whole. The hash order makes the
    * kept set a uniform random-looking but fully deterministic subset —
    * stable under repartitioning and incremental re-runs (a new doc
    * displaces only hash-later docs in its own source).
    *
    * Shape: selection by COUNTING, not sorting (the
    * [[exactStratifiedSample]] idiom with token-weighted buckets): a
    * per-(source, h>>8) histogram of token mass, a cumulative window
    * over that ≤4096-rows-per-source frame to find each source's
    * crossing bucket, then only the ONE crossing bucket per source is
    * ranked to place the boundary exactly. The corpus is scanned and
    * filtered; it is never globally sorted.
    */
  def sourceTokenBudget(
      documents: DataFrame, budget: Long = SourceBudgetTokens,
      seed: Int = SourceBudgetSeed): DataFrame = {
    val hashed = documents
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tok"),
        (HashFunctions.md5Long(col("doc_id").cast("string"), seed)
          % (1L << 20)).as("h"))
      .localCheckpoint()
    tokenBudgetByKey(hashed, "source", budget)
      .select("source", "doc_id", "tok")
  }

  /** The first-crossing token-budget kernel shared by
    * [[sourceTokenBudget]] (key = source) and
    * [[Domains.domainTokenBudget]] (key = registered domain): from a
    * (doc_id, key, tok, h) frame, keep each key's docs in (h, doc_id)
    * order while the token mass hashed strictly before a doc is under
    * budget — the first crossing doc included, every later one dropped,
    * under-budget keys passed through whole. Counting-selection like
    * [[smallestKPerKey]], with token-weighted histogram buckets; only
    * the one crossing bucket per key is ranked.
    */
  private[graft] def tokenBudgetByKey(
      hashed: DataFrame, key: String, budget: Long): DataFrame =
    tokenBudgetImpl(hashed, key, _.withColumn("budget", lit(budget)))

  /** [[tokenBudgetByKey]] with a PER-KEY budget frame (key, budget) —
    * the form [[Domains.temperedDomainBudget]] needs, where each key's
    * budget is its tempered share of the corpus. The budget frame is
    * ≤|keys| rows and broadcast onto the histogram; a key with budget 0
    * keeps nothing (its first bucket crosses immediately), a key whose
    * budget exceeds its mass never crosses and passes through whole.
    */
  private[graft] def tokenBudgetPerKey(
      hashed: DataFrame, key: String, budgets: DataFrame): DataFrame =
    tokenBudgetImpl(hashed, key, _.join(broadcast(budgets), Seq(key)))

  private def tokenBudgetImpl(
      hashed: DataFrame, key: String,
      withBudget: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cumW = Window.partitionBy(key).orderBy(col("hb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = withBudget(hashed
      .select(col(key), shiftright(col("h"), 8).as("hb"), col("tok"))
      .groupBy(key, "hb").agg(sum("tok").as("tn"))
      .withColumn("cum", sum("tn").over(cumW)))
    // the crossing bucket: first hb where the running token mass
    // reaches the budget; a key that never crosses has no row here
    // and passes through whole. The lower bound is clamped at 1 so a
    // budget <= 0 still crosses at the key's FIRST bucket (cum-tn = 0):
    // without the clamp, cum-tn >= 0 could never be < a non-positive
    // budget, no cutoff row would exist, and the key would pass through
    // WHOLE — the opposite of "budget 0 keeps nothing" (and of the
    // oracle's cum_before < budget rule). With the first bucket as
    // cutoff, base = 0 and the tie stage's base+before < budget keeps
    // zero rows, so the key is dropped entirely.
    // uniqueness is STRUCTURAL (r15): the first qualifying bucket per
    // key, ranked — not an arithmetic consequence of tn >= 1. With
    // today's call sites (tok >= 1 so every bucket has tn >= 1) the
    // predicate alone already admits exactly one bucket and the rank is
    // a no-op, but a future caller feeding zero-weight rows would
    // otherwise qualify EVERY leading empty bucket under budget <= 0 and
    // fan out the tie-stage join (r14 advisor).
    val qualW = Window.partitionBy(key).orderBy(col("hb").asc)
    val cutoff = hist
      .where(col("cum") >= col("budget") &&
        col("cum") - col("tn") < greatest(col("budget"), lit(1L)))
      .withColumn("qrn", row_number().over(qualW))
      .where(col("qrn") === 1)
      .select(col(key), col("hb").as("cut_hb"),
        (col("cum") - col("tn")).as("base"), col("budget"))
      .localCheckpoint() // exactly one row per crossing key
    val joined = hashed.join(broadcast(cutoff), Seq(key), "left")
    val below = joined.where(
      col("cut_hb").isNull || shiftright(col("h"), 8) < col("cut_hb"))
    val tieW = Window.partitionBy(key)
      .orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tie = joined
      .where(shiftright(col("h"), 8) === col("cut_hb"))
      .withColumn("before", coalesce(sum("tok").over(tieW), lit(0L)))
      .where(col("base") + col("before") < col("budget"))
      .drop("before")
    below.unionByName(tie).select(hashed.columns.map(col): _*)
  }

  val WeightCap: Long = 256L
  val WeightedSeed: Int = 11

  /** Quality-weighted Bernoulli sample: each document is kept with
    * probability `min(n_tokens, cap) / cap` — longer (higher-signal)
    * documents are proportionally more likely to survive, the
    * importance-sampling shape a data-mixing pipeline uses to tilt a
    * corpus toward its quality signal without hard thresholds.
    *
    * Determinism: the draw is `md5₆₀(seed:doc_id) mod cap < weight` — a
    * pure function of the key, so the kept set is identical across
    * partitionings, engines, and re-runs (same contract as
    * [[stratifiedSample]], integer arithmetic end to end). Scan-speed:
    * per-row hash + filter, no shuffle at all.
    */
  def weightedSample(documents: DataFrame, cap: Long = WeightCap,
      seed: Int = WeightedSeed): DataFrame =
    documents
      .select(
        col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("weight"),
        (HashFunctions.md5Long(col("doc_id").cast("string"), seed) % cap).as("draw"))
      .where(col("draw") < least(col("weight"), lit(cap)))

  /** Seed and sample size for [[weightedExactSample]] (distinct seed —
    * independent of the Bernoulli draws).
    */
  val AesSeed: Int = 29
  val AesTarget: Long = 200L

  /** EXACT-k weighted sample WITHOUT replacement — Efraimidis & Spirakis
    * 2006 ("Weighted random sampling with a reservoir", algorithm A-ES)
    * in the exponential-race form: item i draws u_i ∈ (0,1] and the
    * sample is the k SMALLEST keys −ln(u_i)/w_i. [[weightedSample]] is
    * the expected-size Bernoulli tilt; this is the contract form — a
    * pipeline that owes the trainer "exactly k documents, longer docs
    * proportionally likelier" (inclusion probability follows weighted
    * sampling without replacement exactly).
    *
    * Bit-portable end to end: u_i = (h_i+1)/2^20 from the 20-bit content
    * draw, so −ln(u_i) = ln_f(2^20) − ln_f(h_i+1) through the SAME
    * portable integer-ln chain as the DSIR family, and the key is one
    * fixed-point floor division by the token weight (ties broken by
    * doc_id; the oracle replays the identical integer chain, so the
    * selected SET matches hash-for-hash).
    *
    * Scale shape: one scan computing (hash, ln chain, divide) per row —
    * all codegen'd — into a k-bounded `TakeOrderedAndProject` (per-
    * partition top-k heaps merged on the driver, the corpus is NEVER
    * globally sorted; the same reason `q_topk_global` scales). k rows of
    * output regardless of corpus size.
    */
  /** The A-ES key scan shared by the batch sample and its streaming twin:
    * (doc_id, weight, key_f) per document, all codegen'd, no shuffle.
    */
  private[graft] def aesKeys(documents: DataFrame, seed: Int = AesSeed): DataFrame = {
    import graft.functions.FixedPointLn
    val s20 = FixedPointLn.Scale // 2^20
    val lnS = FixedPointLn.lnFRef(s20) // ln(2^20), fixed point
    documents
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("weight"),
        (HashFunctions.md5Long(col("doc_id").cast("string"), seed) % s20).as("h"))
      .where(col("weight") > 0)
      .withColumn("negln_u", lit(lnS) - FixedPointLn.lnF(col("h") + 1))
      .withColumn("key_f", expr(s"negln_u * $s20 DIV weight"))
      .select("doc_id", "weight", "key_f")
  }

  def weightedExactSample(documents: DataFrame, k: Long = AesTarget,
      seed: Int = AesSeed): DataFrame =
    aesKeys(documents, seed)
      .orderBy(col("key_f").asc, col("doc_id").asc)
      .limit(k.toInt)
      .select("doc_id", "weight", "key_f")

  /** Share resolution for [[mixtureSchedule]]: target shares are granted
    * in THOUSANDTHS (0.1% steps). Coarser than the draw buckets on
    * purpose: `budget × share` must stay inside int64, and thousandths
    * keep that product exact up to ~9.2e15 budget tokens (≈ tens of PB of
    * text) where millionth-shares would cap out three decades earlier.
    */
  val MixShareScale: Long = 1000L
  val MixtureSeed: Int = 13

  /** Deterministic source-mixture schedule — the data-mixing step a
    * training pipeline runs before packing: given target token shares per
    * source (thousandths; default = equal share per source) and a token
    * budget (default = the corpus's own total, i.e. re-balance at
    * constant size), emit per-document REPEAT COUNTS realizing the mix:
    *
    *   want_s   = (budget × share_s) div 1000          (target tokens)
    *   epochs_s = want_s div tokens_s                  (full passes)
    *   frac_s   = ((want_s mod tokens_s) × 1e6) div tokens_s
    *   n_repeats(doc) = epochs_s + [md5₆₀(seed:doc_id) mod 1e6 < frac_s]
    *
    * Under-represented sources EPOCH (whole-corpus repeats — the
    * standard up-sampling), over-represented ones thin by the same
    * content-hash Bernoulli as [[weightedSample]]; both arms are one
    * integer formula, reproducible across engines and partitionings.
    * Mixed tokens per source land within one document of
    * `budget × share_s` in expectation. A source absent from an explicit
    * `shares` map gets share 0 and drops out of the schedule.
    *
    * Shape: one |sources|-row aggregate crossed with a 1-row total
    * (broadcast both), then a scan-speed hash + filter — no corpus-scale
    * shuffle, and emitting (doc, n_repeats) instead of materialized
    * repeats keeps the output linear in the corpus. Int64 bounds: the
    * per-source `(want mod tokens_s) × 1e6` term requires
    * tokens_s ≤ 9.2e12 per source (≈ 37 TB of text); shard the schedule
    * per source group beyond that.
    */
  def mixtureSchedule(documents: DataFrame,
      shares: Map[String, Long] = Map.empty,
      budgetTokens: Option[Long] = None,
      seed: Int = MixtureSeed): DataFrame = {
    val toks = srcTokens(documents)
    val bySrc = toks.groupBy("source").agg(sum("n_toks").as("src_tokens"))
    val totals = bySrc.agg(
      sum("src_tokens").cast("long").as("total_tokens"),
      count(lit(1)).as("n_sources"))
    val shareCol: org.apache.spark.sql.Column =
      if (shares.isEmpty) expr(s"$MixShareScale div n_sources")
      else shares.foldLeft(lit(0L)) { case (acc, (s, w)) =>
        when(col("source") === s, lit(w)).otherwise(acc)
      }
    val shared = bySrc.crossJoin(broadcast(totals))
      .withColumn("budget",
        budgetTokens.map(lit(_)).getOrElse(col("total_tokens")))
      .withColumn("share", shareCol)
    scheduleTail(toks, shared, seed)
  }

  /** (doc_id, source, n_toks) — the per-doc token frame both schedule
    * operators start from.
    */
  private def srcTokens(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("source"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_toks"))

  /** The shared want→epochs→frac→draw tail of the schedule operators:
    * `shared` is the ≤|sources|-row frame (source, src_tokens, budget,
    * share in thousandths); the output is the (doc_id, source, n_toks,
    * n_repeats) schedule under the epoch + content-hash-Bernoulli
    * formula of [[mixtureSchedule]]'s docstring.
    */
  private def scheduleTail(
      toks: DataFrame, shared: DataFrame, seed: Int): DataFrame = {
    val rates = shared
      .withColumn("want", expr(s"(budget * share) div $MixShareScale"))
      .withColumn("epochs", expr("want div src_tokens"))
      .withColumn("frac", expr(s"((want % src_tokens) * $Buckets) div src_tokens"))
      .select("source", "epochs", "frac")
    toks.join(broadcast(rates), "source")
      .withColumn("draw",
        HashFunctions.md5Long(col("doc_id").cast("string"), seed) % Buckets)
      .withColumn("n_repeats",
        col("epochs") + when(col("draw") < col("frac"), 1L).otherwise(0L))
      .where(col("n_repeats") > 0)
      .select("doc_id", "source", "n_toks", "n_repeats")
  }

  /** TEMPERATURE-scaled source mixture — the standard multilingual /
    * multi-source upsampling knob (the `p_s ∝ n_s^(1/T)` rule of
    * multilingual BERT / XLM-R sampling): instead of handing
    * [[mixtureSchedule]] fixed target shares, derive them from the
    * corpus's own source sizes raised to an exact rational exponent
    * `1/T`, `T = tNum/tDen ≥ 1`. T = 1 reproduces the natural
    * proportions; T → ∞ flattens to the uniform mixture; in between,
    * minority sources are up-weighted smoothly.
    *
    * Every power is computed through the portable fixed-point pair —
    * `w_s = exp_f((ln_f(src_tokens_s) · tDen) div tNum)`, shares
    * `(w_s · 1000) div Σw` — so the schedule is bit-identical in the
    * DuckDB oracle (float `pow()` would diverge at the hash gate), and
    * the whole share derivation runs on the ≤|sources|-row frame before
    * the same scan-speed epoch/Bernoulli tail as [[mixtureSchedule]].
    * Int64 bounds: w_s < 2^42 always (the exp_f domain guard), so
    * `w_s · 1000` and the Σw sum stay exact for any corpus int64 can
    * count tokens in.
    */
  /** (source, src_tokens, y_f, y_t, w_f = exp_f((ln_f(n)·tDen) div tNum))
    * over a (source, src_tokens) frame. exp_f's octave guard NULLs past
    * n^(1/T) ≥ 2^42 (a >4e12-token source at T = 1); left alone that NULL
    * would sum into sum_w, NULL every share, and the n_repeats > 0 filter
    * would present an EMPTY schedule as a valid answer — the same silent
    * laundering the DSIR empty-target guard exists for. Fail loudly on
    * this ≤|sources|-row frame instead; the caller's fix is a larger T or
    * per-source-group sharding (the documented int64 bound).
    */
  private[graft] def temperedWeights(
      bySrc: DataFrame, tNum: Long, tDen: Long): DataFrame =
    bySrc
      .withColumn("y_f", graft.functions.FixedPointLn.lnF(col("src_tokens")))
      .withColumn("y_t", expr(s"(y_f * ${tDen}L) div ${tNum}L"))
      .withColumn("w_f",
        when(col("y_t").isNotNull
            && graft.functions.FixedPointExp.expF(col("y_t")).isNull,
          raise_error(lit("temperatureSchedule: source token count " +
            "overflows the exp_fixed domain (n^(1/T) >= 2^42) - raise T " +
            "or shard the schedule per source group")).cast("long"))
          .otherwise(graft.functions.FixedPointExp.expF(col("y_t"))))

  /** Default mixture temperature T = [[TempNum]]/[[TempDen]] — a single
    * named pair interpolated into BOTH the registrations and the DuckDB
    * oracles (SqlFragments.temperedWeightCtes), so changing the default
    * here can never silently desync the two.
    */
  val TempNum = 2L
  val TempDen = 1L

  def temperatureSchedule(documents: DataFrame,
      tNum: Long = TempNum, tDen: Long = TempDen,
      budgetTokens: Option[Long] = None,
      seed: Int = MixtureSeed): DataFrame = {
    require(tNum >= tDen && tDen >= 1L,
      s"temperature T = tNum/tDen must be >= 1 (got $tNum/$tDen): T < 1 " +
        "sharpens toward the majority source and its w_f = n^(1/T) > n " +
        "overflows the fixed-point domain")
    val toks = srcTokens(documents)
    val bySrc = toks.groupBy("source").agg(sum("n_toks").as("src_tokens"))
    val w = temperedWeights(bySrc, tNum, tDen)
    val totals = w.agg(
      sum("src_tokens").cast("long").as("total_tokens"),
      sum("w_f").as("sum_w"))
    val shared = w.crossJoin(broadcast(totals))
      .withColumn("budget",
        budgetTokens.map(lit(_)).getOrElse(col("total_tokens")))
      .withColumn("share", expr(s"(w_f * $MixShareScale) div sum_w"))
    scheduleTail(toks, shared, seed)
  }

  /** Waterfilling rounds for [[epochAllocation]]. Each round either caps
    * at least one more source or is the identity (a fixed point), so 8
    * rounds converge exactly whenever at most 8 cap events occur; any
    * residual shows up honestly in `leftover_tokens` rather than being
    * silently smeared.
    */
  val EpochRounds = 8

  /** Default repetition cap (epochs per source) and budget multiple —
    * the Muennighoff et al. data-constrained regime: train for more
    * tokens than the corpus holds (budget = 2× here), but never repeat
    * any one source more than [[EpochCap]] times.
    */
  val EpochCap = 4L
  val EpochBudgetNum = 2L
  val EpochBudgetDen = 1L

  /** EPOCH ALLOCATION under a token budget — the data-constrained-scaling
    * card (Muennighoff et al. 2023): split a total training-token budget
    * across sources toward the TEMPERED target shares
    * ([[temperedWeights]], the same n^(1/T) upsampling knob as
    * `q_mixture_temperature`), but cap every source at `maxEpochs`
    * repetitions of its own size. Because targets and caps are NOT
    * proportional to each other (tempering flattens shares toward
    * uniform, caps stay proportional to size), small sources hit their
    * cap first and their surplus waterfills back onto the uncapped ones
    * — [[EpochRounds]] rounds of: pool = budget − capped allocations,
    * tentative_i = pool·share_i div Σ_uncapped share, cap anyone whose
    * tentative crosses cap_i. All exact integers (shares in
    * [[MixShareScale]]ths; pool·share ≤ 2^55 at 10^13 corpus tokens), so
    * the allocation is bit-portable; flooring dust and any budget the
    * caps make unspendable are reported as `leftover_tokens`, never
    * redistributed invisibly.
    *
    * One row per source: size, tempered share, cap, allocated tokens,
    * capped flag, epochs_milli (= alloc·1000 div size — the "how many
    * times does this source repeat" read), budget and leftover.
    *
    * Scale shape: ONE corpus scan (the per-source token agg); every
    * round operates on the ≤|sources|-row state frame (checkpointed per
    * round so the plan stays linear in rounds) with a 1-row aggregate
    * broadcast back — nothing corpus-sized ever re-enters.
    */
  def epochAllocation(documents: DataFrame,
      tNum: Long = TempNum, tDen: Long = TempDen,
      maxEpochs: Long = EpochCap,
      budgetNum: Long = EpochBudgetNum,
      budgetDen: Long = EpochBudgetDen): DataFrame = {
    val bySrc = srcTokens(documents)
      .groupBy("source").agg(sum("n_toks").as("src_tokens"))
    val w = temperedWeights(bySrc, tNum, tDen)
    val totals = w.agg(
      sum("src_tokens").cast("long").as("total_tokens"),
      sum("w_f").as("sum_w"))
    val base = w.crossJoin(broadcast(totals))
      .select(col("source"), col("src_tokens"),
        expr(s"(w_f * ${MixShareScale}L) div sum_w").as("sm"),
        expr(s"(total_tokens * ${budgetNum}L) div ${budgetDen}L").as("budget"),
        (col("src_tokens") * lit(maxEpochs)).as("cap_tokens"))
      .withColumn("capped", lit(false))
      .withColumn("alloc", lit(0L))
      .localCheckpoint()
    val rounds = (1 to EpochRounds).foldLeft(base) { (st, _) =>
      val agg = st.agg(
        sum(when(col("capped"), col("alloc")).otherwise(0L)).as("capped_sum"),
        sum(when(!col("capped"), col("sm")).otherwise(0L)).as("u_sm"))
      st.crossJoin(broadcast(agg))
        .withColumn("tent",
          when(col("capped"), col("alloc"))
            .otherwise(when(col("u_sm") > 0,
              expr("((budget - capped_sum) * sm) div u_sm"))
              .otherwise(lit(0L))))
        .select(col("source"), col("src_tokens"), col("sm"), col("budget"),
          col("cap_tokens"),
          (col("capped") || col("tent") >= col("cap_tokens")).as("capped"),
          when(col("capped") || col("tent") >= col("cap_tokens"),
            col("cap_tokens")).otherwise(col("tent")).as("alloc"))
        .localCheckpoint()
    }
    val spent = rounds.agg(sum("alloc").cast("long").as("alloc_sum"))
    rounds.crossJoin(broadcast(spent))
      .select(col("source"), col("src_tokens"), col("sm").as("share_milli"),
        col("cap_tokens"), col("alloc").as("alloc_tokens"), col("capped"),
        expr("alloc * 1000 div src_tokens").as("epochs_milli"),
        col("budget"), (col("budget") - col("alloc_sum")).as("leftover_tokens"))
  }

  /** Curriculum difficulty buckets: fixed power-of-two token-count bands
    * (width 2^[[CurriculumShift]], the drift-report idiom — a shift, not a
    * float log), capped at [[CurriculumBuckets]]. Length is the stand-in
    * difficulty signal on this corpus; swap the bucket expression for a
    * model-scored difficulty column and nothing else changes.
    */
  val CurriculumBuckets = 8
  val CurriculumShift = 4
  val CurriculumSeed = 25

  /** Deterministic curriculum training order — the data-ordering step
    * between retention and export: documents are banded into difficulty
    * buckets (short → long here) and SHUFFLED WITHIN each bucket by keyed
    * content hash, then given two order keys:
    *
    *   - `pos_curriculum`: bucket-major dense position (all of bucket 0 in
    *     hash order, then bucket 1, …) — a permutation of 0..n-1; classic
    *     easy-first curriculum.
    *   - `pos_interleaved`: `rank × nBuckets + bucket` — a strided total
    *     order that mixes difficulty levels throughout training (a sort
    *     key, NOT a dense index: gaps appear once short buckets exhaust).
    *
    * All integers, reproducible across engines/partitionings/re-runs (the
    * [[stratifiedSample]] determinism contract). Shape: one scan, ONE
    * window per bucket partition (parallel — never a global sort), an
    * ≤ nBuckets-row size aggregate whose exclusive cumsum is the only
    * ordered step, broadcast back. The export then sorts by the chosen
    * key — at 100 TB that is the one unavoidable global sort, and it
    * ships as `repartitionByRange(pos)` + within-partition sort.
    */
  def curriculumOrder(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = graft.Parallelism.ensure(documents).select(
      col("doc_id"),
      HashFunctions.md5Long(col("doc_id").cast("string"), CurriculumSeed).as("h"),
      least(
        shiftright(size(split(trim(col("text")), "\\s+")), CurriculumShift).cast("long"),
        lit(CurriculumBuckets - 1L)).cast("int").as("bucket"))
    val w = Window.partitionBy("bucket").orderBy("h", "doc_id")
    val ranked = base.withColumn("rank", row_number().over(w).cast("long") - 1L)
    val sizes = ranked.groupBy("bucket").agg(count(lit(1)).as("n_bucket"))
    val wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sizes
      .withColumn("bucket_off", coalesce(sum("n_bucket").over(wb), lit(0L)))
      .select(col("bucket"), col("bucket_off"))
    ranked.join(broadcast(offsets), "bucket")
      .select(col("doc_id"), col("bucket"), col("rank"),
        (col("bucket_off") + col("rank")).as("pos_curriculum"),
        (col("rank") * CurriculumBuckets + col("bucket")).as("pos_interleaved"))
  }
}
