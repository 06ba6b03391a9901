package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`): exact
  * brute-force cosine top-k as the correctness baseline, embedding-cosine
  * near-dup pairs (grid-blocked exact by default, LSH-bucketed as the
  * opt-in path for margin-bearing corpora), and random-hyperplane LSH /
  * IVF ANN as the scale paths.
  *
  * All vector math runs through the codegen'd native dot-product expression
  * ([[graft.functions.FloatVecDot]]) — double accumulation, left-to-right in
  * array order, so results are bit-reproducible across partitionings and
  * engines. No UDFs.
  *
  * Scale design: brute-force top-k broadcasts the (small) query set and
  * scans candidates once — linear in corpus size, no shuffle until the
  * final per-query top-k. The LSH paths bucket both sides on deterministic
  * hyperplane sign patterns, turning the scan into an equi-join; recall is
  * tunable with `planes` (fewer planes → bigger buckets → higher recall)
  * and `tables` (more tables → more chances to collide).
  */
object Similarity {

  /** Default IVF train geometry (k-means cells / Lloyd rounds) — single
    * named pair shared by every IVF-family default parameter AND the
    * DuckDB oracles that replay the training (graft.queries interpolates
    * these, so changing a default here cannot silently desync the
    * registered query from its oracle).
    */
  val IvfLists = 8
  val IvfTrainIters = 2

  /** Σ aᵢbᵢ in double, left-to-right — the codegen'd native expression
    * ([[graft.functions.FloatVecDot]]); bit-identical to the HOF
    * `aggregate(zip_with(...))` form it replaced, ~10× faster.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.vecDot(a, b)

  def norm(a: Column): Column = graft.functions.VectorExpressions.vecNorm(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Near-dup LSH amplification defaults. The driver data's near-dup pairs
    * sit at cosine ≈ 0.45–0.60 with a continuous background right below the
    * 0.45 threshold (measured: min qualifying pair 0.4501, max
    * non-qualifying 0.4497 at sf0.1) — there is no angular margin, so
    * recall-1 amplification must be wide: at cos 0.45 the per-table
    * collision probability is (1 − θ/π)^planes = 0.6486^5 ≈ 0.115, giving a
    * per-pair miss probability of (1 − 0.115)^96 ≈ 8e-6. Measured on the
    * driver data (sf0.001/0.01/0.1): every qualifying pair collides in ≥ 5
    * of the 96 tables — recall 1 with margin. On a real near-dup corpus
    * (thresholds ≥ 0.8, planted duplicates) far fewer tables suffice; these
    * dials are per-call parameters for that reason.
    */
  val NearDupPlanes = 5
  val NearDupTables = 96

  /** Exact top-k neighbors by cosine for each query vector (vec_id <
    * nQueries), excluding self. Query side is broadcast; candidates are
    * scanned once. Output: (query_id, rank, neighbor_id) — ids only, since
    * float similarity values are not oracle-portable across engines.
    *
    * Norms are projected per ROW before the join (the join boundary stops
    * Catalyst from inlining them into the pair expression), so each pair
    * costs one dot product, not dot + two norms — 3× fewer flops on the
    * O(n·q) hot path. The candidate side goes through the parallelism
    * guard: the per-pair dot products run at the probe side's partitioning,
    * which on a single-row-group input would otherwise be one partition.
    */
  /** JL random-projection defaults: 16 components (dim/4 here), sign
    * family seeded by a table id disjoint from the LSH tables' 0..7 so
    * the reducer and the bucketer draw independent hyperplanes.
    */
  val RpPlanes = 16
  val RpTable = 101

  /** Johnson–Lindenstrauss dimensionality REDUCTION of the embedding
    * column: each vector maps to `planes` signed sums against the
    * deterministic md5 ±1 hyperplane family ([[hyperplanes]] — the same
    * family whose sign bit drives LSH bucketing). Dots/distances in the
    * reduced space estimate the originals within the JL bound at
    * `planes/dim` of the bytes — the standard pre-filter in front of an
    * exact rerank when even the IVF/PQ scan is dominated by vector I/O.
    *
    * Output is the EXPLODED (vec_id, k, rp_value) form: one kernel call
    * per row ([[graft.functions.RandomProjection]] — reference-object
    * matrix, no janino recompiles), and the generator boundary stops
    * CollapseProject from inlining the kernel into 16 wide columns (the
    * measured NumHashes×-recompute trap). Pure narrow map at scan speed;
    * reassembling a wide vector downstream is a pivot on (vec_id, k).
    */
  def randomProjections(
      embeddings: DataFrame, planes: Int = RpPlanes,
      table: Int = RpTable): DataFrame =
    graft.Parallelism.ensure(embeddings)
      .select(col("vec_id"),
        posexplode(graft.functions.VectorExpressions
          .randomProjection(col("embedding"), table, planes))
          .as(Seq("k", "rp_value")))

  /** Scalar (int8) quantization of embeddings — the memory side of the ANN
    * story: per-dimension [min, max] ranges over the corpus, each component
    * mapped to floor((v−mn)·255/(mx−mn)) in [0, 255], plus the midpoint
    * reconstruction error. 4× smaller vectors for candidate generation
    * (exact rerank stays on the originals, as in [[ProductQuantization]]).
    *
    * Shape: one posexplode scan, a 64-row per-dimension min/max agg
    * broadcast back, then a narrow map — no corpus-scale shuffle. Every
    * arithmetic step is a single IEEE double op in a pinned order, so the
    * codes AND the error column replay bit-for-bit in the DuckDB oracle.
    */
  def scalarQuantize(embeddings: DataFrame): DataFrame = {
    val comp = graft.Parallelism.ensure(embeddings)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "v")))
      .select(col("vec_id"), col("d"), col("v").cast("double").as("v"))
    val ranges = comp.groupBy("d").agg(min("v").as("mn"), max("v").as("mx"))
    comp.join(broadcast(ranges), "d")
      .withColumn("q",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(
            floor(((col("v") - col("mn")) * lit(255.0)) / (col("mx") - col("mn"))),
            lit(255L))))
      .select(col("vec_id"), col("d"), col("q"),
        abs(col("v") - (col("mn") +
          ((col("q") + lit(0.5)) * (col("mx") - col("mn"))) / lit(255.0)))
          .as("err"))
  }

  /** Per-label mean embedding — class prototypes for the labeled corpus
    * (nearest-class-mean classification, label-drift monitoring, per-class
    * ANN seeding). Means use the same integer-quantization portability
    * trick as the k-means training: per-dimension sums of round(v·2²⁰)
    * (order-independent BIGINTs), one pinned-order division, rounded back
    * to FLOAT — so the DuckDB oracle recomputes identical bits. Exploded
    * (label, d, c) output; one keyed agg, |labels|·dim rows out.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    graft.Parallelism.ensure(embeddings)
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy("label", "d")
      .agg(
        sum(round(col("v").cast("double") * MeanQuantum).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("d"),
        (col("s").cast("double") / col("n") / lit(MeanQuantum.toDouble))
          .cast("float").cast("double").as("c"))

  /** Nearest-centroid confusion matrix: assign every vector to its
    * highest-cosine class prototype (ties broken by smaller label) and
    * count (true label, predicted label) cells — the classification-eval
    * rollup a labeled-embedding pipeline reports. The 10×dim centroid
    * frame broadcasts; assignment is one scan with a |labels|-way fan-out
    * and a per-vector argmax window; cosine goes through the codegen'd
    * [[dot]] kernel so the oracle's left-assoc chains replay it exactly.
    */
  def nearestCentroidConfusion(embeddings: DataFrame): DataFrame = {
    val cents = labelCentroids(embeddings)
      .groupBy(col("label").as("pred_label"))
      .agg(transform(
        array_sort(collect_list(struct(col("d"), col("c")))), x => x("c")).as("cv"))
      .select(col("pred_label"), col("cv"),
        norm(col("cv")).as("cn"))
    val w = Window.partitionBy("vec_id").orderBy(desc("cos"), asc("pred_label"))
    graft.Parallelism.ensure(embeddings)
      .select(col("vec_id"), col("label"), col("embedding"),
        norm(col("embedding")).as("en"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("pred_label"),
        (dot(col("embedding"), col("cv")) / (col("en") * col("cn"))).as("cos"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .groupBy("label", "pred_label")
      .agg(count(lit(1)).as("n"))
  }

  /** [[cellKnnLabel]] seed rule: vec_id ≡ 0 (mod this) keeps its label —
    * the deterministic stand-in for "the 25% a human labeled".
    */
  val LabelSeedMod: Long = 4L

  /** Semi-supervised label ASSIGNMENT via a cell-restricted nearest
    * labeled neighbor — the auto-labeling stage that stretches a small
    * labeled set over a large corpus: vectors with `vec_id % LabelSeedMod
    * == 0` are the labeled seeds; every other vector takes the label of
    * its highest-cosine SEED within its trained-IVF cell (1-NN, ties to
    * the smaller seed id). Unlike [[nearestCentroidConfusion]] (one
    * prototype per class), this is instance-based — it follows the actual
    * local structure — and unlike brute-force kNN it never leaves the
    * cell, which is what makes it scale. Output keeps the held true label
    * per vector, so the rollup over `correct` is a free accuracy estimate
    * of the propagation itself.
    *
    * Scale shape: centroids broadcast by value (the [[trainedCentroids]]
    * artifact), assignment is one scan, and the query×seed match is a
    * cell-keyed equi-join — per-cell work is |cell|·|seeds-in-cell|, never
    * corpus². The argmax is the portable two-agg form (max cosine per
    * query, then min seed id among achievers — bit-reproducible because
    * the cosine chain is the codegen'd [[dot]] kernel the oracle replays
    * exactly); queries whose cell holds no seed drop out (inner join), the
    * honest "cannot label" answer. Zero-norm vectors never pair (excluded
    * before the ANSI-fatal 0/0, the [[semDeDup]] contract).
    */
  def cellKnnLabel(
      embeddings: DataFrame, nLists: Int = IvfLists, trainIters: Int = IvfTrainIters): DataFrame = {
    val cents = trainedCentroids(embeddings, nLists, trainIters)
    if (cents.isEmpty) {
      return embeddings.select(
        col("vec_id"), lit(0).as("cell"), col("label").as("true_label"),
        col("label").as("pred_label"), lit(0.0).as("best_cos"),
        lit(false).as("correct")).limit(0)
    }
    val keyed = graft.Parallelism.ensure(embeddings)
      .where(col("embedding").isNotNull && norm(col("embedding")) > 0.0)
      .select(col("vec_id"), col("label"), col("embedding"),
        norm(col("embedding")).as("nrm"),
        bestCellOf(cents)(col("embedding")).as("cell"))
    // Duplicate-collapse identical seed vectors to their min-id member —
    // the r8 SemDeDup rep idiom, EXACT here: the prediction tie-break is
    // min(nb_id) at equal cosine, identical vectors always tie, and a
    // group's min id is its rep, so collapsing changes nothing. Without
    // this the per-cell queries×seeds join grows quadratically under
    // crawl-shaped duplication (measured 31×/decade at the sf10 uniform
    // replica, where every vector has 100 verbatim copies; linear after).
    val seeds = keyed.where(col("vec_id") % LabelSeedMod === 0)
      .groupBy(col("cell"), col("embedding"))
      .agg(min(struct(col("vec_id"), col("label"))).as("m"),
        max(col("nrm")).as("nb_nrm"))
      .select(col("cell"), col("m.vec_id").as("nb_id"), col("m.label").as("nb_label"),
        col("embedding").as("nb_vec"), col("nb_nrm"))
    val scored = keyed.where(col("vec_id") % LabelSeedMod =!= 0)
      .join(seeds, Seq("cell"))
      .select(col("vec_id"), col("cell"), col("label"), col("nb_id"), col("nb_label"),
        (dot(col("embedding"), col("nb_vec")) / (col("nrm") * col("nb_nrm"))).as("cos"))
    val best = scored.groupBy("vec_id").agg(max("cos").as("best_cos"))
    scored.join(best, "vec_id")
      .where(col("cos") === col("best_cos"))
      .groupBy(col("vec_id"), col("cell"), col("label"), col("best_cos"))
      .agg(min("nb_id").as("nb_id"))
      .join(seeds.select(col("nb_id"), col("nb_label")), "nb_id")
      .select(col("vec_id"), col("cell"), col("label").as("true_label"),
        col("nb_label").as("pred_label"), col("best_cos"),
        (col("nb_label") === col("label")).as("correct"))
  }

  /** A vector is an outlier of its cell below this cosine to the cell's
    * trained centroid. Sits at the testdata's bottom decile of
    * own-centroid cosines (p10 ≈ 0.155, median ≈ 0.25): the report flags
    * the detached tail, not the bulk — on a production corpus this dial
    * is set from the same percentile probe.
    */
  val OutlierCos: Double = 0.15

  /** Embedding-space OUTLIER report: assign every vector to its trained
    * k-means cell (the `ann_ivf_trained` loop verbatim, so the
    * bit-portability argument carries over), compute each vector's cosine
    * to its OWN centroid, and roll up per cell: population, how many sit
    * below [[OutlierCos]], the outlier rate in integer thousandths, and
    * the cell's worst cosine. Low-cosine vectors are the junk a curation
    * pipeline prunes before ANN indexing or SemDeDup (mis-embedded docs,
    * garbage inputs, vectors from a different embedding model) — and a
    * cell whose outlier rate spikes is the drift signal that the frozen
    * centroids no longer fit the incoming corpus (the re-train trigger
    * for [[semDeDupIncremental]]'s frozen-cell contract).
    *
    * Shape: centroids ship as literals (parameter-bounded driver state,
    * same as every IVF path); assignment + own-centroid cosine is ONE
    * map-only scan (the nLists-row centroid frame broadcast-joins on
    * cell id); the rollup is an nLists-row hash-agg with map-side
    * combine. Zero-norm and NULL vectors are excluded (cosine undefined)
    * exactly as in [[cellKnnLabel]].
    */
  def cellOutlierReport(
      embeddings: DataFrame, nLists: Int = IvfLists, trainIters: Int = IvfTrainIters,
      threshold: Double = OutlierCos): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = trainedCentroids(embeddings, nLists, trainIters)
    if (cents.isEmpty) {
      return embeddings.select(
        lit(0).as("cell"), lit(0L).as("n_vecs"), lit(0L).as("n_outliers"),
        lit(0L).as("outlier_rate_milli"), lit(0.0).as("min_cos")).limit(0)
    }
    val centDf = broadcast(cents.toSeq.toDF("cell", "centroid"))
    graft.Parallelism.ensure(embeddings)
      .where(col("embedding").isNotNull && norm(col("embedding")) > 0.0)
      .select(bestCellOf(cents)(col("embedding")).as("cell"), col("embedding"))
      .join(centDf, "cell")
      .select(
        col("cell"),
        (dot(col("embedding"), col("centroid")) /
          (norm(col("embedding")) * norm(col("centroid")))).as("cos"))
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("cos") < threshold, 1L).otherwise(0L)).as("n_outliers"),
        min(col("cos")).as("min_cos"))
      .select(
        col("cell"), col("n_vecs"), col("n_outliers"),
        expr("n_outliers * 1000 DIV n_vecs").as("outlier_rate_milli"),
        col("min_cos"))
  }

  /** Per-dimension INT8 scalar quantization report (FAISS-style SQ8, the
    * simple 4× storage cut before PQ's 32×): corpus min/max per
    * dimension define 256 uniform levels; every value's code, mid-point
    * reconstruction, and absolute error are computed, and the card rolls
    * up per dimension — the read before committing an index or a corpus
    * snapshot to int8 (a heavy-tailed dimension shows up as a max error
    * far above the half-bucket bound that uniform data would give).
    *
    * Portability: codes are floor((x−mn)·256/(mx−mn)) clamped to 255 —
    * exact given identical doubles — and errors are summed as integer
    * 2^20ths (floor before summing), so the rollup hash-matches the
    * oracle with no float-order dependence. Constant dimensions encode
    * as code 0 / zero error rather than dividing by zero.
    *
    * Shape: one posexplode scan → a |dim|-row min/max agg broadcast back
    * → per-value projection → |dim|-row rollup with map-side combine;
    * state never exceeds the dimension count.
    */
  def int8QuantReport(embeddings: DataFrame): DataFrame = {
    val x = graft.Parallelism.ensure(embeddings)
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d0", "xf")))
      .select((col("d0") + 1).as("d"), col("xf").cast("double").as("x"))
    val s = x.groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
    x.join(broadcast(s), "d")
      .select(col("d"), col("mn"), col("mx"), col("x"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(255L),
            floor((col("x") - col("mn")) * 256 / (col("mx") - col("mn")))))
          .as("code"))
      .select(col("d"), col("mn"), col("mx"),
        abs(when(col("mx") === col("mn"), col("mn"))
          .otherwise(col("mn") + (col("code") + lit(0.5))
            * (col("mx") - col("mn")) / 256) - col("x")).as("err"))
      .groupBy("d", "mn", "mx")
      .agg(
        count(lit(1)).as("n_vals"),
        sum(floor(col("err") * 1048576).cast("long")).as("sum_err_q"),
        max(floor(col("err") * 1048576).cast("long")).as("max_err_q"))
  }

  def bruteForceTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val queries = embeddings
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"))
    val cand = graft.Parallelism.ensure(embeddings).select(
      col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    broadcast(queries)
      .join(cand, col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .select(col("query_id"), col("neighbor_id"), row_number().over(w).as("rank"))
      .where(col("rank") <= k)
  }

  /** Label-based RETRIEVAL EVALUATION of the embedding space: for each
    * query vector, rank the corpus by exact cosine and read off the task
    * metrics — reciprocal rank of the first SAME-LABEL neighbor and
    * recall@k of the same-label set — the standard embedding-model QA
    * card (MRR / R@k as in DPR-style evaluations), with the label column
    * as relevance ground truth. Complements `q_ann_recall`, which
    * measures index self-consistency (ANN vs brute force); this measures
    * whether the SPACE itself ranks relevant content first.
    *
    * All metrics are exact integers: rr_milli = 1000 div rank,
    * recall_milli = hits·1000 div min(k, n_relevant) — no floats to
    * drift. Queries or corpus rows with zero/NULL embeddings are outside
    * the eval (cosine undefined); n_relevant counts nonzero same-label
    * corpus rows excluding the query itself; queries with no relevant
    * rows — or no candidates at all (a one-vector corpus) — report zero
    * metrics rather than dropping (the card must show them), via a left
    * join of the query set onto the ranked metrics.
    *
    * Scale shape: [[bruteForceTopK]]'s — broadcast query set, ONE
    * candidate scan, per-query bounded rank — plus a |labels|-row count
    * frame broadcast back. At corpus scales past a scan, swap the
    * candidate generator for the IVF path; the metric tail is unchanged.
    */
  def retrievalEval(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 10): DataFrame = {
    val nz = embeddings
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"), col("embedding"),
        norm(col("embedding")).as("nrm"))
      .where(col("nrm") > 0.0)
    val queries = nz.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("qv"), col("nrm").as("qn"))
    val cand = graft.Parallelism.ensure(nz).select(
      col("vec_id").as("neighbor_id"), col("label").as("nb_label"),
      col("embedding").as("cv"), col("nrm").as("cn"))
    val labelCounts = nz.groupBy("label").agg(count(lit(1)).as("n_label"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    val ranked = broadcast(queries)
      .join(cand, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("q_label"), col("neighbor_id"), col("nb_label"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
    val perQuery = ranked
      .groupBy("query_id", "q_label")
      .agg(
        sum(when(col("nb_label") === col("q_label"), 1L).otherwise(0L)).as("hits"),
        min(when(col("nb_label") === col("q_label"), col("rank"))).as("first_rank"))
    queries.select(col("query_id"), col("q_label"))
      .join(perQuery, Seq("query_id", "q_label"), "left")
      .join(broadcast(labelCounts), col("q_label") === labelCounts("label"))
      .select(
        col("query_id"), col("q_label").as("label"),
        (col("n_label") - 1).as("n_relevant"),
        coalesce(col("first_rank"), lit(0)).cast("long").as("first_rel_rank"),
        when(col("first_rank").isNotNull, expr("1000 DIV first_rank"))
          .otherwise(0L).as("rr_milli"),
        coalesce(col("hits"), lit(0L)).as("hits_at_k"),
        when(col("n_label") > 1,
          expr(s"(coalesce(hits, 0L) * 1000) DIV least(CAST($k AS BIGINT), n_label - 1)"))
          .otherwise(0L).as("recall_milli"))
  }

  /** Hard-negative mining for contrastive training (the DPR/Contriever
    * batch-construction step): for each query vector, the `k` most-similar
    * corpus vectors carrying a DIFFERENT label — close enough to confuse
    * the model, labeled otherwise, which is exactly the gradient-bearing
    * negative set (random negatives are trivially separable and teach
    * nothing). Output keeps both labels so the pair can be audited.
    *
    * Scale shape: identical to [[bruteForceTopK]] — broadcast query set,
    * ONE candidate scan, per-query bounded top-k — with the label
    * inequality riding as a join residual (evaluated before any cosine).
    * When the corpus outgrows a scan, the IVF/LSH candidate generators
    * compose the same way: bucket first, filter labels, rank last.
    */
  def hardNegatives(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val queries = embeddings
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("embedding").as("qv"), norm(col("embedding")).as("qn"))
    val cand = graft.Parallelism.ensure(embeddings).select(
      col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"),
      col("embedding").as("cv"), norm(col("embedding")).as("cn"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    broadcast(queries)
      .join(cand, col("query_label") =!= col("neighbor_label"))
      .select(
        col("query_id"), col("query_label"),
        col("neighbor_id"), col("neighbor_label"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), row_number().over(w).as("rank"))
      .where(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs (vec_a < vec_b), LSH-bucketed —
    * the opt-in scale path for corpora with angular margin: both sides
    * bucket on deterministic hyperplane sign patterns, candidates come from
    * an equi-join on (table, bucket) — never from an all-pairs join — and
    * the exact cosine then verifies every candidate, so false candidates
    * cost work but never wrong answers.
    *
    * RECALL CONTRACT — probabilistic, not exact: a qualifying pair that
    * collides in none of the `tables` tables is silently dropped. The miss
    * probability per pair at angle θ is (1 − (1 − θ/π)^planes)^tables —
    * ~8e-6 at cos 0.45 with the defaults, and measured recall 1 (with ≥
    * 5-table margin) on the driver data at every SF; see [[NearDupPlanes]].
    * Callers needing a hard "every pair with cosine >= threshold" guarantee
    * should use [[cosineNearDupPairsBlocked]] (exact by construction, and
    * the better plan on margin-free data — see cost note below).
    *
    * Honest cost accounting (measured, not guessed): at threshold 0.45 on
    * margin-free data, recall-1 amplification evaluates ≈ tables/2^planes =
    * 3× MORE candidate pairs than the exact grid join — LSH pays off when
    * the threshold/data leave angular margin (real near-dup corpora at
    * cos ≥ 0.8: planes=16, tables=8 prunes ~2^-13 of all pairs).
    * Both are shuffle-partitioned equi-joins that never materialize the
    * pair matrix on one node; bucket sizes under random hyperplanes are
    * ~n/2^planes w.h.p., so no salting is needed (unlike key-skewed joins).
    *
    * Memory footprint: only the slim (vec_id, table, bucket) rows are
    * materialized for the self-join — tables×n ids (~24 bytes each), NOT
    * tables copies of the vectors; embeddings and norms are joined back
    * from the source for the (few) deduped candidate pairs. At 100 TB the
    * materialized set is ~0.1% of the corpus instead of 96× it.
    */
  def cosineNearDupPairs(
      embeddings: DataFrame, threshold: Double = 0.45,
      planes: Int = NearDupPlanes, tables: Int = NearDupTables): DataFrame = {
    // COLLAPSE EXACT-DUPLICATE VECTORS FIRST (r8): cosine is a pure
    // function of the two vectors, so a duplicate group shares one verdict
    // — bucket/pair/score REPRESENTATIVES only, then expand group cross
    // products. Without this, duplicated corpora (the crawl shape: the
    // 10× scale-up gives every vector 10 identical copies) square the
    // bucket-join volume: every group shares every one of its `tables`
    // buckets, and the candidate join went 39× super-linear at 10× data.
    // With it, LSH work scales with DISTINCT vectors; the duplication
    // factor survives only in the (unavoidable) output expansion.
    // the md5 fingerprint exists ONLY to form the groups; every frame on
    // the hot candidate path is keyed by the numeric rep_id (the group's
    // min vec_id) — the band self-join emits millions of candidate rows
    // at the default 96-table/5-plane recall setting, and carrying two
    // 32-char strings per row through that join + distinct measured 7×
    // slower than two longs
    val keyed = graft.Parallelism.ensure(embeddings)
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"),
        md5(col("embedding").cast("string")).as("fp"),
        norm(col("embedding")).as("nrm"))
      .localCheckpoint() // feeds members + reps (grouped) below
    val reps = keyed.groupBy("fp")
      .agg(min("vec_id").as("rep_id"), first("embedding").as("embedding"),
        first("nrm").as("nrm"))
      .localCheckpoint() // bucketed (self-joined) + vector-joined below
    val members = keyed.select(col("fp"), col("vec_id"), col("nrm"))
      .join(reps.select(col("fp"), col("rep_id")), Seq("fp"))
      .select(col("rep_id"), col("vec_id"), col("nrm"))
      .localCheckpoint() // intra pairs + both expansions below
    // intra-group pairs: identical vectors — the engine's cosine of an
    // identical pair is v·v/(‖v‖·‖v‖) ∈ [1−ε, 1+ε], ≥ any practical
    // threshold when the vector is nonzero (zero vectors divide 0/0 →
    // null → dropped, matching the pre-collapse operator exactly)
    val nz = members.where(col("nrm") > 0.0)
    val intra = nz.as("a")
      .join(nz.as("b"),
        col("a.rep_id") === col("b.rep_id") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    // inter-group: LSH over representatives, ONE cosine per rep pair.
    // EXPLICIT round-robin repartition before the self-join: reps is an
    // aggregation output that AQE coalesces to few partitions when
    // distinct vectors are few, and the broadcast self-join's multi-
    // million-row candidate expansion inherits the stream side's
    // partitioning — with one stream partition the expansion runs in ONE
    // task (measured 8.5 s vs ~1 s for the 32-way spread at sf0.1).
    // Parallelism.ensure can't see this: post-checkpoint stats are
    // unknown, so its size heuristic assumes the frame is already wide.
    val sc = embeddings.sparkSession.sparkContext
    val buckets = withTableBuckets(
      reps.select(col("rep_id").as("vec_id"), col("embedding")), tables, planes)
      .select(col("vec_id").as("rep_id"), col("table"), col("bucket"))
      .repartition(sc.defaultParallelism)
      .localCheckpoint()
    // dedup candidate ids BEFORE fetching vectors: the distinct shuffles
    // two longs per candidate, and each unique rep pair costs one dot product
    val candidates = buckets.as("l")
      .join(buckets.as("r"),
        col("l.table") === col("r.table") && col("l.bucket") === col("r.bucket") &&
          col("l.rep_id") < col("r.rep_id"))
      .select(col("l.rep_id").as("rep_a"), col("r.rep_id").as("rep_b"))
      .distinct()
    val withVecs = reps.select(col("rep_id"), col("embedding"), col("nrm"))
    val repPairs = candidates
      .join(withVecs.select(
        col("rep_id").as("rep_a"), col("embedding").as("va"), col("nrm").as("na")), "rep_a")
      .join(withVecs.select(
        col("rep_id").as("rep_b"), col("embedding").as("vb"), col("nrm").as("nb")), "rep_b")
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select(col("rep_a"), col("rep_b"))
    // expand each qualifying rep pair to its groups' member cross product
    val inter = repPairs
      .join(members.select(col("rep_id").as("rep_a"), col("vec_id").as("id_a")), "rep_a")
      .join(members.select(col("rep_id").as("rep_b"), col("vec_id").as("id_b")), "rep_b")
      .select(
        least(col("id_a"), col("id_b")).as("vec_a"),
        greatest(col("id_a"), col("id_b")).as("vec_b"))
    intra.unionByName(inter)
  }

  /** Exact near-duplicate pairs via a grid-blocked self-join: block each
    * vector by `vec_id mod blocks`; the unordered pair {i, j} is evaluated
    * in exactly one grid cell (block(i), block(j)), and cells are the keys
    * of a plain shuffle equi-join. Work is the full n(n−1)/2 dot products —
    * an exact threshold join on margin-free data cannot do less — but the
    * plan is a ShuffledHashJoin/SortMergeJoin over `blocks·(blocks+1)/2`
    * uniformly-loaded cells: no BroadcastNestedLoopJoin, no broadcast-size
    * dependence, no skew, and each row is replicated exactly blocks+1
    * times. On a cluster, size `blocks` so blocks² ≳ total cores and each
    * cell's (n/blocks)² pair block fits one task.
    */
  def cosineNearDupPairsBlocked(
      embeddings: DataFrame, threshold: Double = 0.45, blocks: Int = 16): DataFrame = {
    val base = graft.Parallelism.ensure(embeddings)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val left = base
      .select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"),
        pmod(col("vec_id"), lit(blocks)).cast("int").as("ba"))
      .withColumn("bb", explode(sequence(col("ba"), lit(blocks - 1))))
    val right = base
      .select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"),
        pmod(col("vec_id"), lit(blocks)).cast("int").as("bb"))
      .withColumn("ba", explode(sequence(lit(0), col("bb"))))
    left.join(right, Seq("ba", "bb"))
      // diagonal cells see both orientations of a pair — keep one; off-
      // diagonal cells see each unordered pair exactly once by construction
      .where(col("ba") =!= col("bb") || col("id_a") < col("id_b"))
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select(
        least(col("id_a"), col("id_b")).as("vec_a"),
        greatest(col("id_a"), col("id_b")).as("vec_b"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, then dedup
    * ONLY within each cluster — the cluster assignment bounds the
    * quadratic pair search the way LSH bands do for MinHash, turning
    * all-pairs O(n²) into Σ|cell|². A vector is dropped iff some
    * SMALLER-id vector in the same cell has cosine ≥ `threshold` to it
    * (the deterministic stand-in for the paper's keep-one-per-duplicate-
    * group rule), so the kept set is reproducible across runs, engines,
    * and partitionings.
    *
    * Centroids are [[trainedCentroids]] with the exact parameters of the
    * oracle-pinned `ann_ivf_trained` loop, so the cell assignment reuses
    * that query's bit-portability argument verbatim. Exact-duplicate
    * vectors are collapsed to min-id representatives BEFORE the in-cell
    * pair join (the r8 scale lesson: identical vectors always share a
    * cell, so a crawl-duplicated corpus would otherwise square the cell
    * join; cosine is a pure function of the two vectors, so the rep
    * verdict is the group verdict). Zero vectors never pair (cosine is
    * undefined; they are excluded from the pair join before the division,
    * which ANSI sessions would reject) and are always kept.
    *
    * Scale shape: one training loop (parameter-bounded driver state), one
    * map-only assignment scan, one equi-join keyed by cell over distinct
    * vectors, one hash-agg for neighbor minima, one member expansion. At
    * 100 TB, size `nLists` ∝ corpus so cells stay task-sized — the paper
    * runs k ≈ 0.1‰ of n; fixed small k here only because the oracle
    * replays the training loop in SQL.
    */
  def semDeDup(
      embeddings: DataFrame, threshold: Double = 0.45,
      nLists: Int = IvfLists, trainIters: Int = IvfTrainIters): DataFrame = {
    val cents = trainedCentroids(embeddings, nLists, trainIters)
    if (cents.isEmpty) {
      return embeddings.select(
        col("vec_id"), lit(0).as("cell"), lit(true).as("kept")).limit(0)
    }
    val keyed = graft.Parallelism.ensure(embeddings)
      .where(col("embedding").isNotNull)
      .select(col("vec_id"),
        col("embedding"),
        md5(col("embedding").cast("string")).as("fp"),
        norm(col("embedding")).as("nrm"),
        bestCellOf(cents)(col("embedding")).as("cell"))
      .localCheckpoint() // feeds reps AND the member expansion below
    val reps = keyed.groupBy("fp")
      .agg(min("vec_id").as("rep_id"), first("embedding").as("embedding"),
        first("nrm").as("nrm"), first("cell").as("cell"))
    // qualifying rep pairs inside one cell: identical vectors share a cell
    // (same argmax input), so groups never straddle the join key. Zero
    // vectors are excluded BEFORE the division (ANSI sessions throw on
    // 0/0): they can never reach the threshold, so exclusion == the
    // null-cosine drop contract
    val nzReps = reps.where(col("nrm") > 0.0)
    val l = nzReps.select(col("cell"), col("rep_id").as("rep_a"),
      col("embedding").as("va"), col("nrm").as("na"))
    val r = nzReps.select(col("cell"), col("rep_id").as("rep_b"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    val repPairs = l.join(r, Seq("cell"))
      .where(col("rep_a") < col("rep_b"))
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select(col("rep_a"), col("rep_b"))
    // the smallest id adjacent to each rep, both directions — member a of
    // group A has a smaller-id near-dup in group B iff min(B) < a, so the
    // min over neighbor groups' reps decides every member at once
    val neighborMin = repPairs
      .select(col("rep_a").as("rep_id"), col("rep_b").as("nb"))
      .unionByName(repPairs.select(col("rep_b").as("rep_id"), col("rep_a").as("nb")))
      .groupBy("rep_id").agg(min("nb").as("min_nb"))
    keyed.select(col("fp"), col("vec_id"), col("cell"), col("nrm"))
      .join(reps.select(col("fp"), col("rep_id")), Seq("fp"))
      .join(neighborMin, Seq("rep_id"), "left")
      .select(col("vec_id"), col("cell"),
        (col("nrm") === 0.0 ||
          (col("vec_id") === col("rep_id") &&
            (col("min_nb").isNull || col("min_nb") > col("vec_id")))).as("kept"))
  }

  /** [[cellBalancedSample]] targets n / DiverseSampleDenom vectors. */
  val DiverseSampleDenom = 4L

  /** Seed for the per-vector sampling draw of [[cellBalancedSample]]. */
  val DiverseSampleSeed = 11

  /** Cluster-balanced DIVERSITY sampling card: allocate a global budget of
    * ⌊n/4⌋ across the corpus's k-means cells proportionally to √cell-size
    * — the density-flattening allocation (dense embedding clusters are
    * redundant; √n relatively up-weights sparse regions, the same idea as
    * cluster-balanced pretraining subset selection) — then draw within
    * each cell by the content-keyed 20-bit hash Bernoulli
    * (`h·n_c < budget_c·2^20`, the [[Sampling]] cross-multiplication
    * idiom), so the draw is exact-integer, reproducible across engines and
    * partitionings, and needs NO per-cell sort or rank. Output is the
    * per-cell allocation card (cell, n, isq, budget, n_kept).
    *
    * Centroids are [[trainedCentroids]] with the `ann_ivf_trained`
    * parameters, so the oracle reuses those k-means CTEs verbatim; √ is
    * `floor(sqrt(n))` on a correctly-rounded IEEE sqrt — exact for any
    * n < 2^52, hence engine-portable. NULL embeddings are outside the
    * population (they carry no diversity signal); zero vectors assign to
    * their deterministic argmax cell like every other operator on this
    * axis.
    *
    * Scale shape: one assignment scan (centroids broadcast by value), one
    * map-side-combined cell histogram (≤ nLists rows), a broadcast of the
    * tiny budget frame back onto the scan, and a second ≤ nLists-row agg
    * of kept counts. Nothing shuffles the corpus; the Bernoulli keeps the
    * selection a pure filter.
    */
  def cellBalancedSample(
      embeddings: DataFrame, nLists: Int = IvfLists, trainIters: Int = IvfTrainIters): DataFrame = {
    val cents = trainedCentroids(embeddings, nLists, trainIters)
    val cells = graft.Parallelism.ensure(embeddings)
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), bestCellOf(cents)(col("embedding")).as("cell"))
      .localCheckpoint()
    val sizes = cells.groupBy("cell").agg(count(lit(1)).as("n"))
      .withColumn("isq", floor(sqrt(col("n").cast("double"))).cast("long"))
    val totals = sizes.agg(sum("n").as("n_total"), sum("isq").as("isq_total"))
    val budgets = sizes.crossJoin(broadcast(totals))
      .withColumn("budget",
        expr(s"((n_total DIV $DiverseSampleDenom) * isq) DIV isq_total"))
      .select("cell", "n", "isq", "budget")
    val kept = cells
      .join(broadcast(budgets), Seq("cell"))
      .where(
        (graft.functions.HashFunctions.md5Long(
          col("vec_id").cast("string"), DiverseSampleSeed) % (1L << 20))
          * col("n") < col("budget") * (1L << 20))
      .groupBy("cell").agg(count(lit(1)).as("n_kept"))
    budgets.join(kept, Seq("cell"), "left").na.fill(0L, Seq("n_kept"))
  }

  /** Incremental [[semDeDup]] — the continuous-ingestion shape, the
    * embedding-space twin of `Dedup.incrementalNearDups`: an INCOMING
    * shard (the top fifth of the vec_id range, same ⌊4·(max+1)/5⌋ ingest
    * boundary) is deduplicated against the EXISTING corpus without ever
    * self-joining the corpus again. The corpus's k-means centroids and
    * cell assignments are the persisted artifact (trained once, on corpus
    * vectors only — a batch must not shift the cell structure); the shard
    * pays one assignment scan over ITS rows plus a cell-keyed equi-join
    * against the corpus's duplicate-collapsed representatives, so a batch
    * costs O(shard + matched cells) — never corpus × corpus.
    *
    * A shard vector is dropped iff ANY corpus cell-mate has cosine ≥
    * `threshold` (asymmetric, like the MinHash probe: incoming copies of
    * existing content are what ingestion rejects; shard-internal dups are
    * the next full [[semDeDup]] run's business). Zero vectors on either
    * side never pair (excluded before the ANSI-fatal 0/0) and shard zero
    * vectors are kept.
    */
  def semDeDupIncremental(
      embeddings: DataFrame, threshold: Double = 0.45,
      nLists: Int = IvfLists, trainIters: Int = IvfTrainIters): DataFrame = {
    val mx = embeddings.agg(max(col("vec_id"))).head()
    if (mx.isNullAt(0)) {
      return embeddings.select(
        col("vec_id"), lit(0).as("cell"), lit(true).as("kept")).limit(0)
    }
    val split = (mx.getLong(0) + 1L) * 4L / 5L
    val corpus = embeddings.where(col("vec_id") < split)
    val cents = trainedCentroids(corpus, nLists, trainIters)
    val shard = graft.Parallelism.ensure(embeddings)
      .where(col("vec_id") >= split && col("embedding").isNotNull)
    if (cents.isEmpty) {
      // no corpus yet -> nothing to collide with; first batch all kept
      return shard.select(col("vec_id"), lit(0).as("cell"), lit(true).as("kept"))
    }
    val shardCells = shardCellsOf(shard, cents)
      .localCheckpoint() // probed below AND expanded into the verdict
    probeCellIndex(shardCells, corpusCellIndex(corpus, cents), threshold)
  }

  /** Cosine threshold for [[semanticLeakage]]: higher than SemDeDup's 0.45
    * on purpose — leakage hunting wants near-identical content (a
    * paraphrased eval answer sitting in train), not shared topics.
    */
  val SemanticLeakThreshold = 0.8

  /** SEMANTIC split leakage — the embedding-space twin of the MinHash
    * `q_split_leakage` check: does an eval-split vector have a train-split
    * near-duplicate that string-level decontamination would miss
    * (paraphrase, re-rendering, translation with a multilingual encoder)?
    * Eval docs are `vec_id % evalMod == 0` (the text holdout convention);
    * k-means cells train on the TRAIN side only, so the held-out set can
    * never shift the structure it is checked against. One row per
    * nonzero-embedding eval vector: (vec_id, cell, leaked).
    *
    * Scale shape: the [[semDeDupIncremental]] machinery verbatim — eval
    * assignment scan + cell-keyed equi-join against the train side's
    * duplicate-collapsed representatives; never train × train, never
    * all-pairs.
    */
  def semanticLeakage(
      embeddings: DataFrame, evalMod: Int = 10,
      threshold: Double = SemanticLeakThreshold,
      nLists: Int = IvfLists, trainIters: Int = IvfTrainIters): DataFrame = {
    val train = embeddings.where(col("vec_id") % evalMod =!= 0)
    val evalSide = graft.Parallelism.ensure(embeddings)
      .where(col("vec_id") % evalMod === 0 && col("embedding").isNotNull)
    val cents = trainedCentroids(train, nLists, trainIters)
    if (cents.isEmpty) {
      // no train side -> nothing to leak from
      return evalSide.select(
        col("vec_id"), lit(0).as("cell"), lit(false).as("leaked"))
    }
    val evalCells = shardCellsOf(evalSide, cents).localCheckpoint()
    probeCellIndex(evalCells, corpusCellIndex(train, cents), threshold)
      .select(col("vec_id"), col("cell"), (!col("kept")).as("leaked"))
  }

  /** Embedding-space DRIFT monitor at the ingest boundary: the per-cell
    * occupancy histogram of the incoming fifth vs the existing corpus,
    * under centroids FROZEN on the corpus — the [[graft.operators
    * .TextAnalysis]] drift-histogram idiom lifted to embedding space. A
    * shard whose cell shares diverge is out-of-distribution for the
    * corpus (new topic mass, encoder regression, a junk flood) — the
    * monitor a pipeline reads before admitting a batch. All-integer
    * milli shares; Σ|Δ|/2 over the frame is the total-variation distance.
    *
    * Shape: one assignment scan per side (corpus term is the frozen-cell
    * training + one scan), two ≤ nLists-row histograms, a full-outer join
    * of those tiny frames.
    */
  def embeddingDrift(
      embeddings: DataFrame, nLists: Int = IvfLists, trainIters: Int = IvfTrainIters): DataFrame = {
    val mx = embeddings.agg(max(col("vec_id"))).head()
    if (mx.isNullAt(0)) {
      return embeddings.select(
        col("vec_id").cast("int").as("cell"), lit(0L).as("n_corpus"),
        lit(0L).as("n_shard"), lit(0L).as("corpus_milli"),
        lit(0L).as("shard_milli"), lit(0L).as("delta_milli")).limit(0)
    }
    val split = (mx.getLong(0) + 1L) * 4L / 5L
    val corpus = embeddings
      .where(col("vec_id") < split && col("embedding").isNotNull)
    val cents = trainedCentroids(corpus, nLists, trainIters)
    if (cents.isEmpty) {
      return embeddings.select(
        col("vec_id").cast("int").as("cell"), lit(0L).as("n_corpus"),
        lit(0L).as("n_shard"), lit(0L).as("corpus_milli"),
        lit(0L).as("shard_milli"), lit(0L).as("delta_milli")).limit(0)
    }
    val shard = embeddings
      .where(col("vec_id") >= split && col("embedding").isNotNull)
    driftCardOf(
      cellHistogram(corpus, cents, "n_corpus"),
      cellHistogram(shard, cents, "n_shard"))
  }

  /** One side's per-cell occupancy histogram under fixed centroids. */
  private[graft] def cellHistogram(
      side: DataFrame, cents: Array[(Int, Array[Float])], n: String): DataFrame =
    side.select(bestCellOf(cents)(col("embedding")).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as(n))

  /** The drift card over two cell histograms — shared by the batch
    * operator and the streaming twin (whose shard histogram is the SUM of
    * per-micro-batch counts), so both emit the identical card.
    */
  private[graft] def driftCardOf(c: DataFrame, s: DataFrame): DataFrame = {
    val totals = c.agg(sum("n_corpus").as("t_corpus"))
      .crossJoin(s.agg(sum("n_shard").as("t_shard")))
    c.join(s, Seq("cell"), "full_outer")
      .na.fill(0L, Seq("n_corpus", "n_shard"))
      .crossJoin(broadcast(totals))
      .withColumn("corpus_milli",
        when(col("t_corpus") > 0, expr("(n_corpus * 1000) DIV t_corpus"))
          .otherwise(0L))
      .withColumn("shard_milli",
        when(col("t_shard") > 0, expr("(n_shard * 1000) DIV t_shard"))
          .otherwise(0L))
      .withColumn("delta_milli",
        abs(col("shard_milli") - col("corpus_milli")))
      .select("cell", "n_corpus", "n_shard",
        "corpus_milli", "shard_milli", "delta_milli")
  }

  /** A shard frame's (vec_id, embedding, nrm, cell) rows under fixed
    * centroids — the per-batch assignment scan of the incremental probe,
    * shared by the batch operator and the streaming twin.
    */
  private[graft] def shardCellsOf(
      shard: DataFrame, cents: Array[(Int, Array[Float])]): DataFrame =
    shard.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      bestCellOf(cents)(col("embedding")).as("cell"))

  /** The corpus-side probe index: duplicate-collapsed nonzero
    * representatives per cell — cosine is a pure function of the vectors,
    * so one row per distinct corpus vector decides every incoming
    * comparison against all its copies. Built ONCE per corpus (the
    * persisted artifact); probed by every batch.
    */
  private[graft] def corpusCellIndex(
      corpus: DataFrame, cents: Array[(Int, Array[Float])]): DataFrame =
    corpus
      .where(col("embedding").isNotNull)
      .select(col("embedding"), norm(col("embedding")).as("cn"),
        bestCellOf(cents)(col("embedding")).as("cell"))
      .where(col("cn") > 0.0)
      .dropDuplicates("cell", "embedding")
      .select(col("cell"), col("embedding").as("cv"), col("cn"))

  /** One shard batch probed against the cell index: cell-keyed equi-join,
    * cosine threshold, left-join verdict expansion — shared verbatim by
    * [[semDeDupIncremental]] and the streaming per-micro-batch twin, so
    * both answer with identical semantics.
    */
  private[graft] def probeCellIndex(
      shardCells: DataFrame, corpusReps: DataFrame, threshold: Double): DataFrame = {
    val dropped = shardCells.where(col("nrm") > 0.0)
      .join(corpusReps, Seq("cell"))
      .where(dot(col("embedding"), col("cv")) / (col("nrm") * col("cn")) >= threshold)
      .select(col("vec_id")).distinct()
      .withColumn("dup", lit(true))
    shardCells.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup").isNull.as("kept"))
  }

  /** Deterministic ±1 random hyperplanes from md5 — reproducible across
    * runs and engines, no RNG state. One set per (table, plane).
    * `private[graft]` so [[graft.queries.SqlFragments]] can mirror the
    * same planes into the DuckDB oracle SQL.
    */
  private[graft] def hyperplanes(table: Int, planes: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes, dim) { (p, d) =>
      val h = md.digest(s"$table:$p:$d".getBytes("UTF-8"))
      if ((h(0) & 1) == 1) 1.0 else -1.0
    }
  }

  /** Appends exploded (table, bucket) columns: one output row per input row
    * per table, bucketed by that table's hyperplane sign pattern. All
    * `tables` bucket ids come from ONE codegen'd kernel call per row
    * ([[graft.functions.HyperplaneBuckets]] — the inlined per-plane
    * `vec_dot` form blew janino's 64 KB method limit at 96×5 and fell back
    * to interpreted evaluation), then `posexplode` fans them out.
    */
  private[graft] def withTableBuckets(df: DataFrame, tables: Int, planes: Int): DataFrame =
    df.select(
      col("*"),
      posexplode(graft.functions.VectorExpressions
        .hyperplaneBuckets(col("embedding"), tables, planes)))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")

  /** Fixed-point quantum for the k-means mean step: per-dimension sums
    * accumulate as integers of x·2²⁰. Multiplying a float by 2²⁰ is an
    * exact exponent shift in double, so the quantization is lossless up to
    * the rounding step, and INTEGER sums are order-independent — the same
    * trick as the money oracles' integer cents. The resulting centroids are
    * bit-identical across partitionings, re-runs, and engines, which is
    * what lets a trained index be fully hash-checked by an external oracle.
    */
  private[graft] val MeanQuantum = 1048576L // 2^20

  /** Deterministic k-means seeds: the first `nLists` corpus vectors by id. */
  private[graft] def firstNCentroids(
      embeddings: DataFrame, nLists: Int): Array[(Int, Array[Float])] =
    embeddings
      .orderBy("vec_id").limit(nLists)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray).zipWithIndex.map(_.swap)

  /** Assignment / probe expressions over the [[graft.functions.CentroidProbes]]
    * kernel — one codegen'd call per row whose generated source is
    * IDENTICAL across centroid sets (the matrix rides as a reference
    * object), so k-means rounds don't pay a janino recompile each; the
    * per-centroid literal-array struct form this replaced did. Cell choice
    * is (cosine DESC, cell-id DESC), bit-equal to the oracle.
    */
  private[graft] def bestCellOf(centroids: Array[(Int, Array[Float])])(v: Column): Column =
    element_at(
      graft.functions.VectorExpressions.centroidProbes(v, centroids.map(_._2), 1), 1)
  private[graft] def probeCellsOf(
      centroids: Array[(Int, Array[Float])], nProbe: Int)(v: Column): Column =
    graft.functions.VectorExpressions.centroidProbes(v, centroids.map(_._2), nProbe)

  /** Lloyd's k-means (cosine assignment, arithmetic-mean update) over the
    * corpus, seeded with [[firstNCentroids]]. Each round is ONE map-only
    * scan: per-row argmax-cosine assignment (the same codegen'd expression
    * the query uses), then a hash-agg of integer-quantized per-dimension
    * sums with map-side combine — the shuffle carries nLists×dim partial
    * sums per partition, and the driver collects exactly nLists×dim rows
    * (a parameter-bounded collect, like the centroid fetch itself). Means
    * are rounded back to FLOAT so centroids stay exactly representable in
    * both engines; empty cells keep their previous centroid.
    *
    * First-n seeds on clustered data give degenerate cells (all seeds may
    * fall in one cluster); 2-3 rounds of this loop separate them — see
    * SimilaritySpec's clustered-corpus recall case.
    */
  def trainedCentroids(
      embeddings: DataFrame, nLists: Int = IvfLists, iters: Int = IvfTrainIters): Array[(Int, Array[Float])] = {
    var cents = firstNCentroids(embeddings, nLists)
    var it = 0
    while (it < iters && cents.nonEmpty) {
      // NULL embeddings contribute nothing to any mean (the untrained path
      // likewise leaves them unassigned) — without the filter the null
      // cell group would NPE the driver-side rebuild below
      val sums = graft.Parallelism.ensure(embeddings.where(col("embedding").isNotNull))
        .select(
          bestCellOf(cents)(col("embedding")).as("cell"),
          posexplode(col("embedding")))
        .groupBy("cell", "pos")
        .agg(
          sum(round(col("col").cast("double") * MeanQuantum).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      cents = cents.map { case (i, old) =>
        byCell.get(i) match {
          case Some(rows) =>
            val dims = rows.sortBy(_.getInt(1)).map { r =>
              // pinned order: toDouble, / n, / quantum — the oracle divides
              // in the same order, so the double result is bit-identical
              (r.getLong(2).toDouble / r.getLong(3) / MeanQuantum.toDouble).toFloat
            }
            (i, dims)
          case None => (i, old)
        }
      }
      it += 1
    }
    cents
  }

  /** IVF (inverted-file) ANN: partition the corpus into `nLists` cells by
    * nearest centroid, search only the query's `nProbe` closest cells, then
    * exact-cosine rerank. With `trainIters = 0` centroids are the first
    * `nLists` corpus vectors — deterministic and cheap, fine on shuffled
    * data; with `trainIters > 0` they are k-means-trained
    * ([[trainedCentroids]]) — the production path for clustered corpora,
    * where first-n seeding gives degenerate cells and poor
    * recall-per-probe. Both paths are bit-deterministic and fully
    * oracle-checked (ann_ivf / ann_ivf_trained).
    *
    * Scale notes: centroids ship as literals (broadcast by value, no
    * shuffle); assignment is a linear scan (n·nLists dots, map-only, run at
    * guarded parallelism); candidate generation is an equi-join on cell id,
    * so per-query work is the probed cells' sizes, not the corpus. The
    * recall/cost dials are nLists (cell granularity), nProbe (cells
    * searched), and trainIters (centroid quality).
    */
  def ivfTopK(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      nLists: Int = IvfLists, nProbe: Int = 3, trainIters: Int = 0): DataFrame = {
    val centroids =
      if (trainIters > 0) trainedCentroids(embeddings, nLists, trainIters)
      else firstNCentroids(embeddings, nLists)
    ivfProbe(embeddings, centroids, nQueries, k, nProbe)
  }

  /** The APPLY half of IVF — assignment, probe, rerank — against an
    * already-trained centroid set. [[ivfTopK]] trains then delegates
    * here; [[ivfTopKStored]] reads the centroids from [[CentroidStore]]
    * and delegates here with zero training jobs.
    */
  private[graft] def ivfProbe(
      embeddings: DataFrame, centroids: Array[(Int, Array[Float])],
      nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    if (centroids.isEmpty) {
      // empty corpus → no cells; empty result with the output schema
      return embeddings.select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        lit(1).as("rank")).limit(0)
    }

    val assigned = graft.Parallelism.ensure(embeddings).select(
      col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"), bestCellOf(centroids)(col("embedding")).as("cell"))
    val queries = embeddings
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"),
        explode(probeCellsOf(centroids, nProbe)(col("embedding"))).as("cell"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    broadcast(queries)
      .join(assigned, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .select(col("query_id"), col("neighbor_id"), row_number().over(w).as("rank"))
      .where(col("rank") <= k)
  }

  /** IVF probe against the PERSISTED trained index ([[CentroidStore]]):
    * first invocation per (dir, nLists, iters) trains and stores; every
    * later one reads nLists parquet rows and probes — no k-means jobs on
    * the apply path (CentroidStoreSpec captures the executed plans and
    * proves it). Hash-identical output to
    * `ivfTopK(..., trainIters = iters)`, so `ann_ivf_stored` shares
    * `ann_ivf_trained`'s oracle verbatim.
    */
  def ivfTopKStored(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      nQueries: Int = 10, k: Int = 5, nLists: Int = IvfLists,
      nProbe: Int = 3, iters: Int = IvfTrainIters): DataFrame =
    ivfProbe(
      graft.Tables.embeddings(spark, dir),
      CentroidStore.ivfCentroids(spark, dir, nLists, iters),
      nQueries, k, nProbe)

  /** Retrain verdict: the stored index must lag a fresh retrain by more
    * than this much milli-recall in a region before the card flags it.
    */
  val DriftRetrainMarginMilli = 50L

  /** STORED-INDEX STALENESS card — `q_ann_stale` (r14 verdict item 5):
    * what happens to `ann_ivf_stored`'s PERSISTED centroids
    * ([[CentroidStore]], trained on the corpus as it WAS) when the
    * corpus grows a drifted replica — the question every artifact store
    * defers ("persist forever, keyed by corpus+shape") and a real
    * pipeline must answer with a retrain trigger.
    *
    * The drifted corpus doubles the table: even ids are the original
    * vectors, odd ids their DIMENSION-REVERSED twins — a deterministic
    * stand-in for re-encoded/new-topic mass that both engines rebuild
    * exactly (`reverse` / `list_reverse`), preserving internal geometry
    * (reversal is an isometry, so true neighbor structure transfers)
    * while sitting where the stored centroids never trained. Queries are
    * the first `nQueries` of EACH region, so the card separates base
    * queries (stored index still fine) from drifted ones (where decay
    * lives — measured r15: stored 580 vs fresh 740 milli-recall at
    * sf0.01, 660 vs 860 at sf0.1).
    *
    * One row per region: exact-recall@k of the stored probe vs a
    * fresh-trained probe against brute-force truth on the drifted
    * corpus, the candidate mass each index pays, and the retrain verdict
    * (fresh beats stored by > [[DriftRetrainMarginMilli]]). All-integer
    * metrics; every stage is the proven IVF machinery
    * ([[trainedCentroids]] / [[ivfProbe]] / [[bruteForceTopK]]), so the
    * DuckDB oracle replays the whole card bit-exactly.
    *
    * Scale shape: the drifted table is scanned once per assignment
    * (stored probe, fresh training rounds, fresh probe) plus the one
    * bounded-query brute-force truth scan every recall evaluation pays;
    * all the comparison frames are ≤ 2·nQueries·k rows.
    */
  def annStalenessCard(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      nQueries: Int = 10, k: Int = 5, nLists: Int = IvfLists,
      nProbe: Int = 3, iters: Int = IvfTrainIters): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
      .where(col("embedding").isNotNull)
    // consumed by 2 probes + `iters`+1 training scans + the truth scan —
    // checkpoint so the union/reverse projection runs once
    val drifted = emb
      .select((col("vec_id") * 2).as("vec_id"), col("embedding"))
      .unionAll(emb.select((col("vec_id") * 2 + 1).as("vec_id"),
        reverse(col("embedding")).as("embedding")))
      .localCheckpoint()
    val stored = CentroidStore.ivfCentroids(spark, dir, nLists, iters)
    val fresh = trainedCentroids(drifted, nLists, iters)
    if (stored.isEmpty || fresh.isEmpty) {
      // empty corpus → nothing to probe, nothing to retrain
      return drifted.select(
        lit("base").as("region"), lit(0L).as("n_possible"),
        lit(0L).as("hits_stored"), lit(0L).as("hits_fresh"),
        lit(0L).as("recall_stored_milli"), lit(0L).as("recall_fresh_milli"),
        lit(0L).as("cand_stored"), lit(0L).as("cand_fresh"),
        lit(false).as("retrain")).limit(0)
    }
    val nq = 2 * nQueries

    val region = (pmod(col("query_id"), lit(2L))).cast("int").as("r")
    def hitsOf(topk: DataFrame, truth: DataFrame, name: String) =
      truth.join(topk, Seq("query_id", "neighbor_id"))
        .groupBy(region).agg(count(lit(1)).as(name))
    // candidate mass per region under a centroid set: one assignment
    // scan + the probe explode — the cost half of the staleness story
    def candsOf(cents: Array[(Int, Array[Float])], name: String) = {
      val assigned = drifted.select(
        col("vec_id").as("neighbor_id"),
        bestCellOf(cents)(col("embedding")).as("cell"))
      val probes = drifted.where(col("vec_id") < nq)
        .select(col("vec_id").as("query_id"),
          explode(probeCellsOf(cents, nProbe)(col("embedding"))).as("cell"))
      broadcast(probes).join(assigned, Seq("cell"))
        .where(col("query_id") =!= col("neighbor_id"))
        .groupBy(region).agg(count(lit(1)).as(name))
    }

    val truth = bruteForceTopK(drifted, nq, k).select("query_id", "neighbor_id")
      .localCheckpoint() // joined by both hit counts + the possible count
    val possible = truth.groupBy(region).agg(count(lit(1)).as("n_possible"))
    val card = possible
      .join(hitsOf(ivfProbe(drifted, stored, nq, k, nProbe)
        .select("query_id", "neighbor_id"), truth, "hits_stored"), Seq("r"), "left")
      .join(hitsOf(ivfProbe(drifted, fresh, nq, k, nProbe)
        .select("query_id", "neighbor_id"), truth, "hits_fresh"), Seq("r"), "left")
      .join(candsOf(stored, "cand_stored"), Seq("r"), "left")
      .join(candsOf(fresh, "cand_fresh"), Seq("r"), "left")
      .na.fill(0L, Seq("hits_stored", "hits_fresh", "cand_stored", "cand_fresh"))
    card
      .withColumn("recall_stored_milli", expr("hits_stored * 1000 DIV n_possible"))
      .withColumn("recall_fresh_milli", expr("hits_fresh * 1000 DIV n_possible"))
      .withColumn("retrain",
        col("recall_fresh_milli") - col("recall_stored_milli") >
          DriftRetrainMarginMilli)
      .select(
        when(col("r") === 0, "base").otherwise("drifted").as("region"),
        col("n_possible"), col("hits_stored"), col("hits_fresh"),
        col("recall_stored_milli"), col("recall_fresh_milli"),
        col("cand_stored"), col("cand_fresh"), col("retrain"))
  }

  /** Metadata filter tiers for the filtered-ANN recall card: a candidate
    * passes tier `m` iff its label is CONGRUENT to the query's mod `m` —
    * 10 is the exact label (~1/10 of the 10-label corpus), 5/2 widen the
    * class, 1 is unfiltered. One knob sweeping selectivity 10%→100%.
    */
  val FilterMods: Seq[Int] = Seq(10, 5, 2, 1)

  /** The registered filtered query's tier — the exact label. */
  val FilteredLabelMod = 10

  /** METADATA-FILTERED ANN — `q_ann_filtered` (the RAG-serving shape:
    * "nearest neighbors of q AMONG vectors with my tenant/lang/label"):
    * the stored-index IVF probe ([[CentroidStore]] centroids, zero
    * training jobs) with the label predicate composed INTO the candidate
    * join key — candidates join on (cell, label class), so the filter
    * prunes at the hash join BEFORE any cosine is computed (pre-filter,
    * not post-rerank: a post-filter at the same k returns fewer than k
    * where the filter bites; this returns the true filtered top-k of the
    * probed cells). The price is candidate starvation where probed cells
    * hold few same-class vectors — `q_ann_filtered_recall` measures
    * exactly that against filtered brute force.
    */
  def ivfFilteredTopK(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      nQueries: Int = 10, k: Int = 5, nLists: Int = IvfLists,
      nProbe: Int = 3, iters: Int = IvfTrainIters,
      filterMod: Int = FilteredLabelMod): DataFrame =
    ivfFilteredProbe(
      graft.Tables.embeddings(spark, dir),
      CentroidStore.ivfCentroids(spark, dir, nLists, iters),
      nQueries, k, nProbe, filterMod)

  /** The filtered APPLY half — [[ivfProbe]] with the label-congruence
    * class in the join key.
    */
  private[graft] def ivfFilteredProbe(
      embeddings: DataFrame, centroids: Array[(Int, Array[Float])],
      nQueries: Int, k: Int, nProbe: Int, filterMod: Int): DataFrame = {
    if (centroids.isEmpty) {
      return embeddings.select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        lit(1).as("rank")).limit(0)
    }
    val fl = pmod(col("label"), lit(filterMod.toLong)).as("fl")
    val assigned = graft.Parallelism.ensure(embeddings).select(
      col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"), fl,
      bestCellOf(centroids)(col("embedding")).as("cell"))
    val queries = embeddings
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"), fl,
        explode(probeCellsOf(centroids, nProbe)(col("embedding"))).as("cell"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    broadcast(queries)
      .join(assigned, Seq("cell", "fl"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .select(col("query_id"), col("neighbor_id"), row_number().over(w).as("rank"))
      .where(col("rank") <= k)
  }

  /** RECALL-vs-FILTER-SELECTIVITY card — `q_ann_filtered_recall`: one
    * row per [[FilterMods]] tier comparing the filtered IVF probe to
    * filtered BRUTE-FORCE truth. The starvation effect this prices:
    * the index probes the same `nProbe` cells regardless of the filter,
    * so as the filter narrows, probed cells hold fewer eligible
    * candidates and recall decays — the number that tells a vector-store
    * operator when filtered search needs more probes (or a
    * label-partitioned index).
    *
    * Shape: ONE query×corpus cosine frame with labels (the standard
    * bounded-query evaluation scan, checkpointed — every tier's truth,
    * rerank, and pool count read it) and ONE unfiltered probe pair set
    * (assignment is filter-independent); per tier the work is window
    * ranks over ≤ nQueries·corpus-slice frames and 1-row aggregates.
    * All-integer metrics.
    */
  def annFilteredRecallCard(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      nQueries: Int = 10, k: Int = 5, nLists: Int = IvfLists,
      nProbe: Int = 3, iters: Int = IvfTrainIters): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    val cents = CentroidStore.ivfCentroids(spark, dir, nLists, iters)
    val queries = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("qv"), norm(col("embedding")).as("qn"))
    val cand = graft.Parallelism.ensure(emb).select(
      col("vec_id").as("neighbor_id"), col("label").as("n_label"),
      col("embedding").as("cv"), norm(col("embedding")).as("cn"))
    val cos = broadcast(queries)
      .join(cand, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("q_label"), col("neighbor_id"),
        col("n_label"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .localCheckpoint()
    val assigned = emb.select(col("vec_id").as("neighbor_id"),
      bestCellOf(cents)(col("embedding")).as("cell"))
    val probes = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        explode(probeCellsOf(cents, nProbe)(col("embedding"))).as("cell"))
    val candPairs = broadcast(probes).join(assigned, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    // candidate cosines resolved ONCE (r17): the tiers differ only in
    // the label-congruence predicate, so the candPairs⋈cos join — the
    // only non-trivial join in the tier loop — is hoisted out and each
    // tier filters the checkpointed result (4 joins → 1, same rows)
    val candCos = candPairs.join(cos, Seq("query_id", "neighbor_id"))
      .localCheckpoint()
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    FilterMods.map { m =>
      val ok = pmod(col("q_label"), lit(m.toLong)) ===
        pmod(col("n_label"), lit(m.toLong))
      val pool = cos.where(ok)
      val truth = pool
        .select(col("query_id"), col("neighbor_id"), row_number().over(w).as("rank"))
        .where(col("rank") <= k).select("query_id", "neighbor_id")
      val filtCands = candCos.where(ok)
      val topk = filtCands
        .select(col("query_id"), col("neighbor_id"), row_number().over(w).as("rank"))
        .where(col("rank") <= k).select("query_id", "neighbor_id")
      truth.agg(count(lit(1)).as("n_possible"))
        .crossJoin(truth.join(topk, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits")))
        .crossJoin(pool.agg(count(lit(1)).as("n_pool")))
        .crossJoin(filtCands.agg(count(lit(1)).as("n_cand")))
        .select(lit(m).as("filter_mod"), col("n_pool"), col("n_possible"),
          col("n_hits"),
          when(col("n_possible") > 0L,
            expr("n_hits * 1000 div n_possible")).otherwise(0L)
            .as("recall_milli"),
          col("n_cand"))
    }.reduce(_.unionByName(_))
  }

  /** LSH-bucketed ANN with `tables` independent hash tables of `planes`
    * sign bits each: a candidate is considered if it shares a bucket with
    * the query in ANY table (union), then exact cosine reranks the
    * candidates. For a pair at angle θ the per-table collision prob is
    * (1-θ/π)^planes; tables multiply recall at linear cost — the standard
    * recall/cost dial. Each vector is bucketed `tables` times (a constant),
    * and candidate generation is an equi-join on (table, bucket) — no scan
    * of the full corpus per query, which is the 100 TB point.
    */
  def lshTopK(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      planes: Int = 4, tables: Int = 8): DataFrame = {
    // hyperplane signs span whatever dimension each row carries — the
    // bucket kernel derives them per-dim, so no driver-side dim discovery
    val queries = withTableBuckets(
      embeddings.where(col("vec_id") < nQueries), tables, planes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"), col("table"), col("bucket"))
    val cands = withTableBuckets(graft.Parallelism.ensure(embeddings), tables, planes)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        norm(col("embedding")).as("cn"), col("table"), col("bucket"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    broadcast(queries)
      .join(cands, Seq("table", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      // cosine BEFORE the table-union dedup: cos is identical for every
      // duplicate of a pair, so the dedup shuffle carries one double
      // instead of two float vectors + norms
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .dropDuplicates("query_id", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), row_number().over(w).as("rank"))
      .where(col("rank") <= k)
  }

  /** Recall@k report for the approximate ANN paths against the exact
    * brute-force top-k on the same corpus — the acceptance gate an ANN
    * index ships behind in production (a recall floor per method before a
    * cheaper index replaces a costlier one). One row per method:
    * `n_hits` = |approx ∩ exact| over the brute-force query set,
    * `n_possible` = |exact|, `recall` their single-division ratio. Every
    * input is deterministic (md5 hyperplanes, first-n / quantized-mean
    * training), so unlike typical recall ESTIMATES this report is exact
    * and fully oracle-checkable — the DuckDB replay recomputes all four
    * result sets and the same intersections.
    *
    * Scale shape: the brute-force side is the one corpus×queries scan
    * (bounded query set, the usual recall-evaluation cost everywhere);
    * each method adds its own query cost; the intersections join k·queries
    * rows. At 100 TB the brute side runs over a fixed evaluation sample —
    * exactly what this is, with `nQueries` pinned by `bruteForceTopK`.
    */
  def annRecallReport(embeddings: DataFrame): DataFrame = {
    // one materialization feeds the brute-force pass + all three methods
    val emb = embeddings.localCheckpoint()
    val exact = bruteForceTopK(emb)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint() // joined against by every method
    val methods: Seq[(String, DataFrame)] = Seq(
      ("lsh", lshTopK(emb)),
      ("ivf", ivfTopK(emb)),
      ("ivfpq", ProductQuantization.ivfPqTopK(emb)))
    val possible = exact.agg(count(lit(1)).as("n_possible"))
    methods.map { case (name, approx) =>
      exact
        .join(approx.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(possible))
        .select(
          lit(name).as("method"), col("n_hits"), col("n_possible"),
          when(col("n_possible") > 0L,
            col("n_hits").cast("double") / col("n_possible")).otherwise(0.0)
            .as("recall"))
    }.reduce(_.unionByName(_))
  }
}
