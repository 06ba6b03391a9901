package graft.operators

import graft.functions.HashFunctions
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Hand-rolled, ORDER-INDEPENDENT sketches whose every output bit is
  * deterministic — unlike Spark's built-in `approx_count_distinct` /
  * `approx_percentile` (covered by `sketch_summary` with error-bound
  * specs), these replay exactly in the DuckDB oracle and hash-match.
  *
  * The trick is to keep all sketch state in integers combined only by
  * `sum` / `min` / `max` (associative + commutative, so partition order
  * cannot change the answer) and to defer the single float operation to
  * one final division of exact integers. That is also precisely what
  * makes them scale: each is an explode → hash-agg pipeline with map-side
  * combine whose state is a fixed O(registers) per group regardless of
  * input size — the 100 TB replacement for exact distinct counting.
  */
object Sketches {

  // ---- HyperLogLog ----------------------------------------------------

  /** 2^P registers per group. */
  val HllP = 8
  val HllM: Int = 1 << HllP
  /** Hash-bit budget: md5Long gives 60 bits; P index bits leave W = 52 for
    * the rank, so rho ∈ [1, 53] and the scaled register term 2^(W+1-rho)
    * = 2^minb fits a BIGINT (sum ≤ M·2^53 = 2^61).
    */
  val HllW: Int = 52
  val HllHashSeed = 42
  /** Standard bias constant for m ≥ 128. */
  val HllAlpha: Double = 0.7213 / (1 + 1.079 / HllM)
  /** alpha · m² · 2^(W+1), folded into ONE double literal interpolated
    * into both engines, so the estimate is literally a single division of
    * that constant by the exact integer denominator — bit-portable.
    */
  val HllNumerator: Double = HllAlpha * HllM.toDouble * HllM.toDouble * math.pow(2.0, HllW + 1)

  /** Per-language vocabulary-size estimate over lowercase whitespace
    * tokens: a from-scratch HyperLogLog with the register state exposed
    * (`denom` = Σ_j 2^(W+1−M[j]) as an exact BIGINT, `n_zero_registers`),
    * plus the exact distinct count for error visibility.
    *
    * The output carries the RAW estimator only (`hll_raw_estimate`): the
    * small-range linear-counting correction `m·ln(m/V)` needs `ln`, which
    * is 1-ulp-accurate on the JVM vs correctly-rounded in libm — not
    * hash-portable. Clients apply it from the exposed `n_zero_registers`
    * (exactly what SketchSpec does, and bounds the corrected error); the
    * registered columns stay bit-exact across engines.
    *
    * Shape: explode → (lang, register) hash-agg taking `min` of the
    * bit-length (≡ max of rho), then a per-lang sum of 2^minb — state is
    * 256 ints per language no matter the corpus size; every agg combines
    * map-side. The exact count rides the same exploded scan.
    */
  /** Lowercase whitespace tokenization of the documents frame — shared
    * verbatim by the batch HLL forms (behind the parallelism guard) and
    * the streaming register twin (where `Parallelism.ensure` cannot run:
    * it inspects plan statistics a streaming frame doesn't expose).
    */
  private[graft] def tokenize(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"),
        explode(split(trim(lower(graft.functions.TextFunctions.nfc(col("text")))), "\\s+")).as("tok"))
      .where(length(col("tok")) > 0)

  /** (lang, tok) stream shared by both HLL forms and the exact count. */
  private def langTokens(documents: DataFrame): DataFrame =
    tokenize(graft.Parallelism.ensure(documents))

  /** Pre-aggregation register arithmetic: (lang, register index j,
    * bit-length bl) per token occurrence. Register index = low P bits of
    * the seeded 60-bit hash; remaining W bits feed the rank (rank rho ≡
    * bit-length minb = W + 1 − rho; 0 for b = 0, i.e. rho max). Shared
    * verbatim by the batch build and the streaming keyed-store twin so
    * both maintain bit-identical registers off one oracle.
    */
  private[graft] def hllRegisterRows(langToks: DataFrame): DataFrame =
    langToks.select(col("lang"),
      HashFunctions.md5Long(col("tok"), HllHashSeed).as("gh"))
      .select(col("lang"),
        (col("gh") % lit(HllM.toLong)).as("j"),
        shiftright(col("gh"), HllP).as("b"))
      .select(col("lang"), col("j"),
        when(col("b") === 0, 0).otherwise(length(bin(col("b")))).as("bl"))

  /** The estimate stage over a materialized (lang, j, minb) register frame
    * plus the (lang, tok) stream (exact-side error visibility) — shared by
    * the batch build and the streaming keyed-store twin, so both paths
    * answer identically and share one oracle.
    */
  private[graft] def hllAnswers(regs: DataFrame, toks: DataFrame): DataFrame = {
    val perLang = regs.groupBy("lang")
      .agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), minb)")).as("denom_present"),
        count(lit(1)).as("n_present"))
      .select(col("lang"),
        (lit(HllM.toLong) - col("n_present")).cast("int").as("n_zero_registers"),
        (col("denom_present") +
          (lit(HllM.toLong) - col("n_present")) * lit(1L << (HllW + 1))).as("denom"))
      .withColumn("hll_raw_estimate", lit(HllNumerator) / col("denom"))
    val exact = toks.groupBy("lang")
      .agg(countDistinct(col("tok")).as("exact_distinct"))
    perLang.join(exact, "lang")
      .select("lang", "n_zero_registers", "denom", "hll_raw_estimate", "exact_distinct")
  }

  def hllVocabByLang(documents: DataFrame): DataFrame = {
    val toks = langTokens(documents)
    val regs = hllRegisterRows(toks)
      .groupBy("lang", "j").agg(min(col("bl")).as("minb"))
    hllAnswers(regs, toks)
  }

  /** The SAME HLL through the typed-`Aggregator` UDAF surface
    * ([[graft.functions.Aggregators.HllRegisters]]): identical hash,
    * identical register encoding, identical output columns — so it shares
    * `hllVocabByLang`'s DuckDB oracle verbatim while executing through
    * ObjectHashAggregate (typed buffer + map-side partial merge) instead
    * of the relational explode→min→sum pipeline. SketchSpec asserts the
    * two frames are equal row for row.
    */
  def hllVocabByLangUdaf(documents: DataFrame): DataFrame = {
    val toks = langTokens(documents)
    val hll = udaf(
      new graft.functions.Aggregators.HllRegisters(HllP, HllW, HllHashSeed),
      org.apache.spark.sql.Encoders.STRING)
    val perLang = toks.groupBy("lang").agg(hll(col("tok")).as("st"))
      .select(col("lang"),
        col("st._1").as("n_zero_registers"),
        col("st._2").as("denom"))
      .withColumn("hll_raw_estimate", lit(HllNumerator) / col("denom"))
    val exact = toks.groupBy("lang")
      .agg(countDistinct(col("tok")).as("exact_distinct"))
    perLang.join(exact, "lang")
      .select("lang", "n_zero_registers", "denom", "hll_raw_estimate", "exact_distinct")
  }

  /** CUMULATIVE vocabulary-growth curve by ingestion bucket, estimated by
    * HyperLogLog — the at-scale twin of `TextAnalysis.ngramNovelty`'s
    * `cum_vocab` column. The exact curve needs the corpus-wide DISTINCT
    * (bucket, shingle) table — a vocabulary-sized shuffle and checkpoint
    * that grows with the corpus; this one keeps O(buckets × [[HllM]])
    * integer state total (16×256 rows here), every agg combines map-side,
    * and the answer is the same saturation read ("is new data still
    * adding vocabulary?") within HLL error (σ ≈ 1.04/√m ≈ 6.5%).
    *
    * The cumulative-at-bucket-b state is the register-wise MIN over
    * buckets ≤ b — HLL's merge is idempotent min, so "union of prefixes"
    * is a running min over the ≤buckets×m register frame (densified onto
    * the full bucket grid first: a register hit only in bucket 0 must
    * still count at bucket 5). Output per bucket: zero-register count,
    * the exact-integer denominator Σ 2^(W+1−ρ), and the raw estimate
    * (one double division of interpolated constant by exact int — bit
    * portable; no small-range correction, same contract as
    * [[hllVocabByLang]]).
    */
  def hllVocabGrowth(
      documents: DataFrame,
      buckets: Int = TextAnalysis.NoveltyBuckets): DataFrame = {
    val spark = documents.sparkSession
    val d = graft.Parallelism.ensure(documents)
    val mx = d.agg(max("doc_id").as("m"))
    val regs = Dedup.shingled(d).crossJoin(broadcast(mx))
      .select(expr(s"(doc_id * $buckets) DIV (m + 1)").as("bucket"),
        explode(col("sh")).as("g"))
      .select(col("bucket"),
        HashFunctions.md5Long(col("g"), HllHashSeed).as("gh"))
      .select(col("bucket"),
        (col("gh") % lit(HllM.toLong)).as("j"),
        shiftright(col("gh"), HllP).as("b"))
      .select(col("bucket"), col("j"),
        when(col("b") === 0, 0).otherwise(length(bin(col("b")))).as("bl"))
      .groupBy("bucket", "j").agg(min(col("bl")).as("minb"))
    // densify onto the full bucket grid × observed registers (≤ 16×256
    // rows), running min per register with nulls skipped
    val grid = spark.range(buckets).select(col("id").as("bucket"))
      .crossJoin(regs.select("j").distinct())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("j").orderBy("bucket")
      .rowsBetween(Long.MinValue, 0)
    grid.join(regs, Seq("bucket", "j"), "left")
      .withColumn("minb_cum", min(col("minb")).over(w))
      .groupBy("bucket")
      .agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), minb_cum)")).as("denom_present"),
        count(col("minb_cum")).as("n_present"))
      .select(col("bucket"),
        (lit(HllM.toLong) - col("n_present")).cast("int").as("n_zero_registers"),
        (coalesce(col("denom_present"), lit(0L)) +
          (lit(HllM.toLong) - col("n_present")) * lit(1L << (HllW + 1)))
          .as("denom"))
      .withColumn("hll_vocab_estimate", lit(HllNumerator) / col("denom"))
  }

  // ---- Count-min sketch ----------------------------------------------

  val CmsDepth = 4
  val CmsWidth = 256
  val CmsSeedBase = 101

  /** Probe words for the registered count-min query: the stopword list
    * (guaranteed hits in any English-ish corpus) plus one absent word to
    * exercise the overestimate-only property on a true zero.
    */
  val CmsProbes: Seq[String] = TextAnalysis.Stopwords :+ "absentwordzzz"

  /** Count-min sketch over the corpus token stream: `CmsDepth` rows of
    * `CmsWidth` counters (counter = exact sum of hits in its bucket), and
    * the point-query estimate for each probe word = min over rows of its
    * bucket's counter. CMS guarantees est ≥ exact always, and the exact
    * count (same exploded scan, plain group-by) rides along to show the
    * collision overhead.
    *
    * Shape: the counter build shuffles (row, bucket) — at most
    * depth × width = 1024 groups whatever the corpus size — with map-side
    * combine doing virtually all the work; the probe side is a ≤
    * |probes|·depth-row broadcast join against those 1024 counters.
    */
  def countMinProbe(documents: DataFrame,
      probes: Seq[String] = CmsProbes): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    def buckets(c: Column): Column = array(
      (0 until CmsDepth).map(s =>
        HashFunctions.md5Long(c, CmsSeedBase + s) % CmsWidth): _*)
    val toks = graft.Parallelism.ensure(documents)
      .select(explode(split(trim(lower(graft.functions.TextFunctions.nfc(col("text")))), "\\s+")).as("tok"))
      .where(length(col("tok")) > 0)
    val counters = toks
      .select(posexplode(buckets(col("tok"))).as(Seq("row", "bucket")))
      .groupBy("row", "bucket").agg(count(lit(1)).as("c"))
    val probeDf = probes.toDF("word")
    val est = probeDf
      .select(col("word"), posexplode(buckets(col("word"))).as(Seq("row", "bucket")))
      .join(counters, Seq("row", "bucket"), "left")
      .groupBy("word").agg(min(coalesce(col("c"), lit(0L))).as("est_count"))
    val exact = toks.groupBy(col("tok").as("word"))
      .agg(count(lit(1)).as("exact_count"))
    est.join(exact, Seq("word"), "left")
      .select(col("word"), col("est_count"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"))
  }

  // ---- bucket-level digest diff (table reconciliation) ----------------

  /** Doc-id block width for [[digestDiffBuckets]] and the planted change
    * the registered demo localizes. At 100 TB pick the bucket so each
    * holds ~1 GB of rows: the diff exchange is then |table|/bucket tiny
    * digests, and only differing buckets get re-read.
    */
  val DiffBucket = 64L
  val TamperedDocId = 42L

  /** Bucket-level table reconciliation — the localization step
    * [[tableDigest]]'s whole-table checksum enables: compute per-bucket
    * (doc_id block) XOR digests + row counts for a table and a replica,
    * and report ONLY the buckets whose 16-byte summaries disagree. Two
    * 100 TB copies are compared by exchanging |table|/bucket digests; the
    * differing buckets (and nothing else) are then re-read row by row.
    * The null-safe full outer join also catches buckets present on one
    * side only (dropped/extra blocks, not just changed rows).
    *
    * The registered demo diffs the documents table against a replica with
    * ONE planted change (doc [[TamperedDocId]]'s text amended), so the
    * expected output is exactly that doc's bucket — deterministic and
    * oracle-replayed (DuckDB's bit_xor over the same 60-bit row hashes).
    */
  def digestDiffBuckets(
      documents: DataFrame, replica: DataFrame, bucket: Long = DiffBucket): DataFrame = {
    val canonical = concat_ws("|",
      col("doc_id"), col("lang"), col("source"), md5(col("text")))
    def bucketDigests(df: DataFrame) = {
      val xorAgg = udaf(new graft.functions.Aggregators.XorDigest)
      graft.Parallelism.ensure(df)
        .select(expr(s"doc_id div ${bucket}L").as("bkt"),
          HashFunctions.md5Long(canonical).as("h"))
        .groupBy("bkt")
        .agg(xorAgg(col("h")).as("digest"), count(lit(1)).as("n_rows"))
    }
    bucketDigests(documents)
      .select(col("bkt"), col("digest").as("digest_a"), col("n_rows").as("n_a"))
      .join(
        bucketDigests(replica)
          .select(col("bkt"), col("digest").as("digest_b"), col("n_rows").as("n_b")),
        Seq("bkt"), "full")
      .where(!(col("digest_a") <=> col("digest_b")) ||
        !(col("n_a") <=> col("n_b")))
  }

  /** The registered demo's replica: the same table with one planted edit. */
  def tamperedReplica(documents: DataFrame): DataFrame =
    documents.withColumn("text",
      when(col("doc_id") === TamperedDocId, concat(col("text"), lit(" tampered")))
        .otherwise(col("text")))

  /** Dropped-row dial for the registered row-diff demo. */
  val DroppedDocId = 7L

  /** Row-level table diff — the drill-down [[digestDiffBuckets]] feeds:
    * classify every key as added / removed / changed by comparing the
    * same canonical row hashes through a null-safe full outer join on the
    * key. At 100 TB this runs ONLY on the buckets the digest diff
    * flagged; here the registered demo diffs against a replica with one
    * edit and one dropped row and must output exactly those two keys.
    */
  def rowDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val canonical = concat_ws("|",
      col("doc_id"), col("lang"), col("source"), md5(col("text")))
    def hashed(df: DataFrame, name: String) =
      graft.Parallelism.ensure(df)
        .select(col("doc_id"), HashFunctions.md5Long(canonical).as(name))
    hashed(a, "ha")
      .join(hashed(b, "hb"), Seq("doc_id"), "full")
      .where(!(col("ha") <=> col("hb")))
      .select(col("doc_id"),
        when(col("hb").isNull, "removed")
          .when(col("ha").isNull, "added")
          .otherwise("changed").as("change"))
  }

  // ---- KMV (k-minimum-values) distinct sketch + set overlap -----------

  /** Sketch size: the k smallest 60-bit token hashes per language. */
  val KmvK = 64
  val KmvSeed = 7

  /** Pairwise vocabulary overlap between languages via KMV sketches — the
    * set-OPERATION estimator HLL cannot provide: per language keep the
    * [[KmvK]] smallest md5 token hashes (a uniform sample of the distinct
    * domain; state = k longs per group, merged by "k smallest of the
    * union" — order-independent and fully deterministic, so unlike
    * theta-style sketches with RNG seeds this replays bit-for-bit in
    * DuckDB). For a pair (A, B): take the k smallest of A ∪ B, count how
    * many of those live in BOTH sketches — `n_both / |U_k|` is the
    * standard KMV Jaccard estimator (exact when the union fits in k). The
    * exact Jaccard rides along for error visibility (SketchSpec bounds
    * the estimate); at 100 TB the exact side is dropped and the sketch IS
    * the answer — |langs|·k longs instead of the vocabularies.
    *
    * Shape: one exploded scan → distinct (lang, hash) → per-lang top-k
    * window (groups = |langs|, rows ≤ vocab); everything after runs on
    * ≤ |langs|·k rows. The lang-pair enumeration is a broadcast join over
    * the tiny distinct-lang domain (the dimension-cross class, like the
    * 1-row scalar broadcasts); pair membership re-keys through an
    * equi-join on lang, never an OR-join.
    */
  def kmvLangOverlap(documents: DataFrame, k: Int = KmvK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lt = langTokens(documents).distinct().localCheckpoint()
    val lh = lt
      .select(col("lang"), HashFunctions.md5Long(col("tok"), KmvSeed).as("h"))
      .distinct()
    val sk = lh
      .withColumn("rn", row_number().over(Window.partitionBy("lang").orderBy("h")))
      .where(col("rn") <= k)
      .select("lang", "h")
      .localCheckpoint()
    val langs = sk.select("lang").distinct()
    val pairs = langs.select(col("lang").as("la"))
      .join(broadcast(langs.select(col("lang").as("lb"))), col("la") < col("lb"))
    val sides = pairs.select(col("la"), col("lb"),
      explode(array(col("la"), col("lb"))).as("lang"))
    val u = sides.join(sk, "lang")
      .groupBy("la", "lb", "h")
      .agg(
        max(when(col("lang") === col("la"), 1).otherwise(0)).as("in_a"),
        max(when(col("lang") === col("lb"), 1).otherwise(0)).as("in_b"))
    val uk = u
      .withColumn("rn",
        row_number().over(Window.partitionBy("la", "lb").orderBy("h")))
      .where(col("rn") <= k)
    val est = uk.groupBy("la", "lb")
      .agg(
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
          .as("n_both"),
        count(lit(1)).as("n_union_k"))
    val inter = lt.select(col("lang").as("la"), col("tok"))
      .join(lt.select(col("lang").as("lb"), col("tok")), Seq("tok"))
      .where(col("la") < col("lb"))
      .groupBy("la", "lb")
      .agg(count(lit(1)).as("exact_inter"))
    val sizes = lt.groupBy("lang").agg(count(lit(1)).as("nv"))
    est
      .join(inter, Seq("la", "lb"), "left")
      .join(broadcast(sizes.select(col("lang").as("la"), col("nv").as("nva"))), "la")
      .join(broadcast(sizes.select(col("lang").as("lb"), col("nv").as("nvb"))), "lb")
      .select(
        col("la"), col("lb"), col("n_both"), col("n_union_k"),
        (col("n_both").cast("double") / col("n_union_k").cast("double"))
          .as("est_jaccard"),
        (coalesce(col("exact_inter"), lit(0L)).cast("double") /
          (col("nva") + col("nvb") - coalesce(col("exact_inter"), lit(0L)))
            .cast("double")).as("exact_jaccard"))
  }

  // ---- Dyadic quantile sketch ----------------------------------------

  /** Universe bits: order totalprice in integer cents < 2^26 (~$671k —
    * comfortably above TPC-H's ~$555k max; larger values clamp to the top
    * bucket, mirrored in the oracle).
    */
  val QsU = 26
  /** Per-level bucket budget: 2^B buckets at the finest kept level. */
  val QsB = 12
  /** Finest level kept — value resolution 2^QsLMin cents ($163.84). */
  val QsLMin: Int = QsU - QsB
  val QsMax: Long = (1L << QsU) - 1
  /** Rank probes (cents): $5k, $20k, $50k, $100k, $200k, $400k. */
  val QsProbeCents: Seq[Long] =
    Seq(500000L, 2000000L, 5000000L, 10000000L, 20000000L, 40000000L)
  /** Quantile targets (percent). */
  val QsTargetPct: Seq[Int] = Seq(25, 50, 75, 90, 99)

  /** Canonical dyadic decomposition of the prefix `[0, trunc(x))` (x
    * truncated down to the 2^QsLMin resolution): one node per set bit j of
    * `x >> QsLMin` — level `QsLMin + j`, bucket `2·(x >> QsLMin >> (j+1))`
    * — at most QsB nodes whatever the probe. `private[graft]` so the
    * SketchQueries oracle mirrors the same node lists as SQL literals (the
    * hyperplane pattern).
    */
  private[graft] def prefixNodes(x: Long): Seq[(Int, Long)] = {
    val xx = x >> QsLMin
    (0 until QsB).flatMap { j =>
      if (((xx >> j) & 1L) == 1L) Some((QsLMin + j, 2L * (xx >> (j + 1))))
      else None
    }
  }

  /** Fixed-universe dyadic quantile sketch over order totalprice (integer
    * cents, universe [0, 2^QsU)): counts per (level, bucket) for levels
    * QsLMin..QsU — a truncated complete binary tree whose state is ≤
    * 2^(QsB+1)−1 integer counters REGARDLESS of input size, merged by
    * elementwise addition (the typed [[graft.functions.Aggregators.DyadicHistogram]]
    * UDAF riding ObjectHashAggregate with map-side partial merge). Unlike
    * `percentile_approx` (whose result depends on merge order), every
    * output bit here is order-independent, so the whole query — sketch
    * build, rank answers, quantile answers — hash-matches the DuckDB
    * replay.
    *
    * Output rows (kind, key, est, exact):
    *  - kind='rank': key = probe cents; est = the sketch's rank answer
    *    (Σ counts over the probe's ≤ QsB canonical prefix nodes — the
    *    dyadic decomposition that makes range counts O(log U) lookups at
    *    serving time); exact = true `count(c < probe)` from the same scan.
    *    Contract: est is EXACTLY the rank of the probe truncated to the
    *    2^QsLMin resolution, so 0 ≤ exact − est ≤ population of the
    *    probe's finest bucket (SketchSpec asserts both).
    *  - kind='quantile': key = target percent; est = lower bound (cents)
    *    of the finest-level bucket containing the target rank
    *    ceil(pct·n/100) — cumulative-sum extraction over ≤ 2^QsB buckets;
    *    exact = the true value at that rank. Contract:
    *    est ≤ exact < est + 2^QsLMin.
    *
    * Scale shape: ONE scan builds the sketch (map-side-combined fixed
    * state); the exact columns ride two more scans (a conditional agg and
    * a global-sort window — the error-visibility side, same role as
    * `exact_distinct` in the HLL query, droppable at 100 TB where the
    * sketch IS the answer). The rank probe join broadcasts the ≤ 8191-row
    * node frame; nothing corpus-sized shuffles.
    */
  /** Clamped integer-cents column of the orders table — the sketch input
    * axis, shared with the streaming twin. Clamped at BOTH universe edges:
    * DyadicHistogram's contract says the caller clamps, and without the
    * lower edge a negative amount would index below bucket 0 and throw
    * mid-aggregation instead of registering at the edge (TPC-H prices are
    * positive, so the lower clamp is hash-neutral on the driver data —
    * the oracle mirrors it all the same).
    */
  def quantileCents(orders: DataFrame): DataFrame =
    graft.Parallelism.ensure(orders)
      .select(greatest(least(expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
        lit(QsMax)), lit(0L)).as("c"))

  def quantileSketch(orders: DataFrame, verify: Boolean = true): DataFrame = {
    val cents0 = quantileCents(orders)
    // only the verify rail re-reads the cents column; the sketch-only
    // path is a single pass and needs no checkpoint
    val cents = if (verify) cents0.localCheckpoint() else cents0
    val dy = udaf(new graft.functions.Aggregators.DyadicHistogram(QsLMin, QsU),
      org.apache.spark.sql.Encoders.scalaLong)
    val nodes = cents.agg(dy(col("c")).as("ns"))
      .select(explode(col("ns")).as("n"))
      .select(col("n._1").as("l"), col("n._2").as("b"), col("n._3").as("cnt"))
      .localCheckpoint()
    quantileAnswers(nodes, cents, verify)
  }

  /** The rank/quantile answer stage over a materialized (l, b, cnt) node
    * frame plus the raw cents column (exact-side error visibility) —
    * shared by the batch UDAF build and the streaming keyed-store twin,
    * so both paths answer identically and share one oracle.
    *
    * `verify=false` is the production (100 TB) shape: the `exact` columns
    * — a full-scan conditional agg and a single-partition rank window over
    * the raw cents — are error-visibility rails, not part of the sketch
    * answer; with the flag off, no corpus-sized Sort/Window appears in the
    * plan (PlanSpec asserts this) and the output is (kind, key, est) only.
    */
  def quantileAnswers(nodes: DataFrame, cents: DataFrame,
      verify: Boolean = true): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // rank probes: decomposition nodes are per-probe literals; the ≤
    // 8191-row node frame broadcasts into the equi-join
    val decomp = QsProbeCents
      .flatMap(p => prefixNodes(p).map { case (l, b) => (p, l, b) })
      .toDF("key", "l", "b")
    val ranks = decomp.join(broadcast(nodes), Seq("l", "b"), "left")
      .groupBy("key")
      .agg(sum(coalesce(col("cnt"), lit(0L))).as("est"))
    val rankRows = if (!verify)
      ranks.select(lit("rank").as("kind"), col("key"), col("est"))
    else {
      val exactRanks = cents
        .agg(
          sum(when(col("c") < QsProbeCents.head, 1L).otherwise(0L)).as(s"er_${QsProbeCents.head}"),
          QsProbeCents.tail.map(p =>
            sum(when(col("c") < p, 1L).otherwise(0L)).as(s"er_$p")): _*)
        .select(expr(
          s"stack(${QsProbeCents.size}, " +
            QsProbeCents.map(p => s"CAST($p AS BIGINT), er_$p").mkString(", ") +
            ") AS (key, exact)"))
      ranks.join(exactRanks, "key")
        .select(lit("rank").as("kind"), col("key"), col("est"), col("exact"))
    }
    // quantiles: cumulative counts over the ≤ 2^QsB finest-level buckets;
    // n comes from the root node (level QsU bucket 0 covers the universe)
    val nTotal = nodes.where(col("l") === QsU && col("b") === 0)
      .select(col("cnt").as("n"))
    val cum = nodes.where(col("l") === QsLMin)
      .withColumn("cum", sum("cnt").over(Window.orderBy("b")))
      .crossJoin(broadcast(nTotal))
    val qAgg = cum.agg(
      min(when(col("cum") >= expr(s"(${QsTargetPct.head} * n + 99) div 100"), col("b")))
        .as(s"qb_${QsTargetPct.head}"),
      QsTargetPct.tail.map(pct =>
        min(when(col("cum") >= expr(s"($pct * n + 99) div 100"), col("b")))
          .as(s"qb_$pct")): _*)
      .select(expr(
        s"stack(${QsTargetPct.size}, " +
          QsTargetPct.map(pct =>
            s"CAST($pct AS BIGINT), qb_$pct * CAST(${1L << QsLMin} AS BIGINT)")
            .mkString(", ") +
          ") AS (key, est)"))
    val quantRows = if (!verify)
      qAgg.select(lit("quantile").as("kind"), col("key"), col("est"))
    else {
      // exact quantile values: the global-sort window is the documented
      // error-visibility side (single-partition sort of the cents column)
      val rc = cents.crossJoin(broadcast(nTotal))
        .withColumn("rn", row_number().over(Window.orderBy("c")))
      val eqAgg = rc.agg(
        min(when(col("rn") === expr(s"(${QsTargetPct.head} * n + 99) div 100"), col("c")))
          .as(s"eq_${QsTargetPct.head}"),
        QsTargetPct.tail.map(pct =>
          min(when(col("rn") === expr(s"($pct * n + 99) div 100"), col("c")))
            .as(s"eq_$pct")): _*)
        .select(expr(
          s"stack(${QsTargetPct.size}, " +
            QsTargetPct.map(pct => s"CAST($pct AS BIGINT), eq_$pct").mkString(", ") +
            ") AS (key, exact)"))
      qAgg.join(eqAgg, "key")
        .select(lit("quantile").as("kind"), col("key"), col("est"), col("exact"))
    }
    rankRows.unionByName(quantRows)
  }

  // ---- Float-universe quantile sketch (deterministic level sampling) --

  /** Kept-sample capacity; the cutoff rises one level per overflow. */
  val KllCap = 512
  /** Level cap — far past any real n/cap ratio (2^24 · cap rows). */
  val KllMaxLevel = 24
  /** Quantile targets (percent). */
  val KllPcts: Seq[Int] = Seq(1, 5, 10, 25, 50, 75, 90, 95, 99)

  /** FLOAT-universe quantile sketch — the companion the fixed-universe
    * dyadic sketch ([[quantileSketch]]) can't replace: metrics that don't
    * quantize to integer cents. KLL-style geometric-weight ladder with
    * DETERMINISTIC compaction (the [[graft.functions.Aggregators.LevelSample]]
    * typed Aggregator: survival = trailing-zero bits of a fixed 60-bit
    * md5 row hash, so the state is a pure function of the input multiset —
    * mergeable, partition-invariant, and replayed in closed form by the
    * DuckDB oracle, which random-coin KLL could never be).
    *
    * Output rows (key = target percent, est, exact): est = the sketch's
    * quantile answer — the kept sample sorted by (value, hash) and probed
    * at position ceil(target / 2^lMin) (each kept item represents 2^lMin
    * rows), clamped to the sample top; exact = the true value at rank
    * ceil(pct·n/100) under the same total (value, hash) order — the
    * error-visibility side (a global-sort window, droppable at 100 TB),
    * same role as the dyadic sketch's exact column. `verify=false` IS that
    * drop: output (key, est) only, single pass, no Sort/Window in the plan
    * (PlanSpec asserts it). SketchSpec pins the rank-error envelope
    * O(sqrt(rank · 2^lMin)) and the partition invariance.
    *
    * Scale shape: ONE scan builds the sketch (map-side-combined ≤ cap+1
    * state per partial); the driver collects exactly one ≤ cap-item
    * state — a parameter-bounded collect like the centroid fetches.
    */
  def kllQuantile(orders: DataFrame, verify: Boolean = true): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val src0 = graft.Parallelism.ensure(orders).select(
      graft.functions.HashFunctions.md5Long(col("o_orderkey").cast("string")).as("h"),
      col("o_totalprice").as("v"))
    // only the verify rail re-reads src; sketch-only is a single pass
    val src = if (verify) src0.localCheckpoint() else src0
    val ls = udaf(new graft.functions.Aggregators.LevelSample(KllCap, KllMaxLevel),
      ExpressionEncoder[(Long, Double)]())
    val st = src.agg(ls(col("h"), col("v")).as("s")).select(col("s")).head().getStruct(0)
    val n = st.getLong(0)
    val lMin = st.getInt(1)
    val items = st.getSeq[org.apache.spark.sql.Row](2)
      .map(r => (r.getDouble(0), r.getLong(1)))
    if (n == 0L || items.isEmpty)
      return {
        if (verify) Seq.empty[(Long, Double, Double)].toDF("key", "est", "exact")
        else Seq.empty[(Long, Double)].toDF("key", "est")
      }
    val w = 1L << lMin
    val sorted = items.sortBy { case (v, h) => (v, h) }.toIndexedSeq
    val ests = KllPcts.map { pct =>
      val target = (pct.toLong * n + 99L) / 100L
      val p = ((target + w - 1L) / w).toInt // smallest p with p·w >= target
      (pct.toLong, sorted(math.min(p, sorted.size) - 1)._1)
    }
    // production (100 TB) path: the sketch IS the answer — no global-sort
    // rank window anywhere in the plan (PlanSpec asserts this)
    if (!verify) return ests.toDF("key", "est")
    // exact values at the same integer targets, under the same total
    // (v, h) order — ties broken identically in both engines
    val rc = src.withColumn("rn", row_number().over(Window.orderBy("v", "h")))
    val targets = KllPcts.map(pct => pct.toLong -> (pct.toLong * n + 99L) / 100L)
    val eq = rc.agg(
      min(when(col("rn") === targets.head._2, col("v"))).as(s"eq_${targets.head._1}"),
      targets.tail.map { case (pct, t) =>
        min(when(col("rn") === t, col("v"))).as(s"eq_$pct")
      }: _*)
      .select(expr(
        s"stack(${targets.size}, " +
          targets.map { case (pct, _) => s"CAST($pct AS BIGINT), eq_$pct" }.mkString(", ") +
          ") AS (key, exact)"))
    ests.toDF("key", "est").join(eq, "key")
  }

  /** GROUPED float quantiles — the per-group form of [[kllQuantile]]
    * ("p50/p99 order value per market segment"), which is what the typed
    * Aggregator exists for: ONE hash-agg carries an independent ≤ cap-item
    * level-sampling state PER GROUP (map-side combined like any built-in
    * agg), the driver collects groups × state (parameter-bounded), and the
    * exact side's rank window partitions BY GROUP — no global
    * single-partition sort anywhere, unlike the global twin's
    * error-visibility rail. Per-group cutoffs are independent (a small
    * segment keeps a finer sample than a large one — exactly the adaptive
    * behavior you want), and each group's closed form replays in the
    * oracle independently.
    */
  def kllQuantileBySegment(customer: DataFrame, orders: DataFrame,
      verify: Boolean = true): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val src0 = graft.Parallelism.ensure(orders)
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("seg"),
        graft.functions.HashFunctions.md5Long(col("o_orderkey").cast("string")).as("h"),
        col("o_totalprice").as("v"))
    // only the verify rail re-reads src; sketch-only is a single pass
    val src = if (verify) src0.localCheckpoint() else src0
    val ls = udaf(new graft.functions.Aggregators.LevelSample(KllCap, KllMaxLevel),
      ExpressionEncoder[(Long, Double)]())
    val states = src.groupBy("seg").agg(ls(col("h"), col("v")).as("s")).collect()
    val ests = states.toSeq.flatMap { row =>
      val seg = row.getString(0)
      val st = row.getStruct(1)
      val n = st.getLong(0)
      val lMin = st.getInt(1)
      val items = st.getSeq[org.apache.spark.sql.Row](2)
        .map(r => (r.getDouble(0), r.getLong(1)))
      if (n == 0L || items.isEmpty) Nil
      else {
        val w = 1L << lMin
        val sorted = items.sortBy { case (v, h) => (v, h) }.toIndexedSeq
        KllPcts.map { pct =>
          val target = (pct.toLong * n + 99L) / 100L
          val p = ((target + w - 1L) / w).toInt
          (seg, pct.toLong, sorted(math.min(p, sorted.size) - 1)._1, target)
        }
      }
    }
    if (ests.isEmpty)
      return {
        if (verify) Seq.empty[(String, Long, Double, Double)].toDF("seg", "key", "est", "exact")
        else Seq.empty[(String, Long, Double)].toDF("seg", "key", "est")
      }
    // production (100 TB) path: per-group sketch states are the answer —
    // no rank window, no second scan of src
    if (!verify)
      return ests.map { case (seg, key, est, _) => (seg, key, est) }
        .toDF("seg", "key", "est")
    val targets = ests.toDF("seg", "key", "est", "target")
    val rc = src
      .withColumn("rn", row_number().over(Window.partitionBy("seg").orderBy("v", "h")))
      .select(col("seg").as("rseg"), col("rn"), col("v"))
    targets.join(rc, col("seg") === col("rseg") && col("rn") === col("target"))
      .select(col("seg"), col("key"), col("est"), col("v").as("exact"))
  }

  /** Per-source table digest: an order-independent XOR fold of canonical
    * row hashes plus a row count — the 8-bytes-per-group integrity
    * checksum that lets two copies of a 100 TB table (a migration, a
    * replica, a rerun of this very pipeline) be compared WITHOUT moving
    * or re-sorting either side. Canonical row = '|'-joined business
    * columns with the text collapsed to its md5 (so the digest is
    * insensitive to column-internal storage but sensitive to every value).
    * XOR cannot overflow and commutes, so any partitioning and any row
    * order produce the same BIGINT — the property a sum of hashes loses
    * at the 4th row under ANSI arithmetic.
    */
  def tableDigest(documents: DataFrame): DataFrame = {
    val canonical = concat_ws("|",
      col("doc_id"), col("lang"), col("source"), md5(col("text")))
    val xorAgg = udaf(new graft.functions.Aggregators.XorDigest)
    documents
      .select(col("source"), HashFunctions.md5Long(canonical).as("h"))
      .groupBy("source")
      .agg(xorAgg(col("h")).as("digest"), count(lit(1)).as("n_rows"))
  }
}
