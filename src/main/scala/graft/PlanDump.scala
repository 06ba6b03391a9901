package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev utility: regenerate PLANS.md from the live registered queries, so
  * the committed plan dumps can never drift from the code. Usage:
  *
  *   sbt "runMain graft.PlanDump /root/testdata/sf0.001 PLANS.md"
  *
  * Dumps a curated set of headline queries whose physical plans demonstrate
  * the engine's scale properties (pushdown, pruning, broadcast, partial
  * aggregation, distributed top-k, bucketed pair joins, codegen'd vector
  * kernels).
  */
object PlanDump {

  /** Queries whose plans are the evidence, with what to look for in each. */
  val Headline: Seq[(String, String)] = Seq(
    "q6_forecast_revenue" ->
      "all four predicates in PushedFilters; 4-of-11-column ReadSchema",
    "q3_shipping_priority" ->
      "broadcast dim join; TakeOrderedAndProject top-10",
    "q18_large_volume" ->
      "lineitem aggregated (partial->final) BEFORE the joins; top-100 as TakeOrderedAndProject",
    "wordcount_topk" ->
      "map-side partial HashAggregate before the shuffle; distributed top-k",
    "q_dedup_neardup" ->
      "banded equi-join (no CartesianProduct/BNLJ); map-side-combined signature aggregation",
    "q_embed_neardup" ->
      "grid-cell shuffle equi-join; codegen'd vec_dot in the pair filter",
    "ann_ivf_trained" ->
      "centroid_probes kernel inside WholeStageCodegen; equi-join on cell id",
    "ann_ivfpq" ->
      "IVF-ADC: candidate generation is an equi-join on cell id over the 8-byte code frame — no corpus-scale BNLJ, floats only in the bounded rerank",
    "q_sample_stratified" ->
      "broadcast per-stratum counts; scan-speed content-hash filter",
    "q_tfidf_topterms" ->
      "2-column ReadSchema; broadcast n_docs; no corpus-scale cross join",
    "q_bucketed_join" ->
      "co-located bucketed scan-to-answer: SortMergeJoin + agg with ZERO Exchange nodes",
    "q19_disjunctive" ->
      "OR-of-ANDs distributed: brand/size Or tree in part's PushedFilters, quantity Or in lineitem's",
    "q_bloom_join" ->
      "runtime filter, production shape: ONE scan-stage bloom_positions_set filter over the driver-built OR-merged bitmap (reference object, m-bounded) BEFORE the exact join — no digest joins in the plan",
    "q_embed_neardup_lsh" ->
      "duplicate-collapsed LSH: fingerprint groupBy, long-keyed rep band self-join (explicitly repartitioned, never one task), one cosine per distinct pair, member expansion joins at the end",
    "q_simhash_pairs" ->
      "duplicate-collapsed band join over DISTINCT signatures with the document-weighted bucket cap; hamming once per signature pair, member expansion after",
    "q4_order_priority" ->
      "correlated EXISTS as LeftSemi hash join; date conjunct evaluated inside the join",
    "q21_waiting_supplier" ->
      "EXISTS + NOT EXISTS on the same fact: LeftSemi AND LeftAnti hash joins keyed on l_orderkey with the suppkey inequality as residual — no BNLJ",
    "q15_top_supplier" ->
      "aggregate view consumed twice off ONE localCheckpointed scan; 1-row max broadcast; integer-unit equality",
    "q2_min_cost_supplier" ->
      "correlated MIN decorrelated: per-part min agg joined back on (partkey, cost) with the whole dim chain broadcast",
    "q_merge_upsert" ->
      "CDC log compacted by max_by partial agg before the outer join",
    "q9_product_profit" ->
      "widest star rollup: part/supplier/nation dims all BroadcastHashJoin; the only shuffles are the lineitem-orders fact join and the final small agg",
    "q20_excess_stock" ->
      "correlated agg inside a semi join fully decorrelated: ONE keyed HashAggregate with conditional sums (no per-row subquery), then LeftSemi into the supplier dim — no BNLJ",
    "q_dedup_incremental" ->
      "incremental shard-vs-index probe: banded equi-join on (band, key) with the oversized-bucket anti join — the corpus is never self-joined",
    "q_kll_segment" ->
      "grouped sketch extraction: the exact-rank Window is PARTITIONED by segment (parallel), no global single-partition sort; probe targets ride as a literal broadcast frame",
    "q_pack_chunks" ->
      "two-level distributed prefix sum: tiny block-level cumsum window, intra-block windows PARTITIONED by block (parallel), broadcast block offsets — no corpus-wide single-partition window",
    "q_kll_quantile" ->
      "float-universe sketch: state built by ONE eager ObjectHashAggregate pass (parameter-bounded collect); the dumped plan is the returned frame — driver-built estimates joined to the exact-rank rail, which verify=false drops entirely (PlanSpec asserts the rail-free plans)",
    "q_bpe_trained" ->
      "reads the persisted TokenizerStore artifact: a k-row parquet scan — the k training rounds are paid once per corpus (eager, top-1 collects), never per consumer",
    "q_bpe_encode" ->
      "bpe_segments kernel (rules RELOADED from the tokenizer table, riding as a reference object) inside WholeStageCodegen over the map-side-combined word-frequency agg",
    "q_stream_dedup_incremental" ->
      "AvailableNow drain already ran per-batch probes of the static corpus index; the dumped plan reads the exactly-once per-batch parquet log (batch=N overwrite dirs, recursive lookup, no partition-column leak)",
    "q_stream_hll_update" ->
      "answers computed off the checkpointed keyed register store (latest-batch-wins dedup on batch_id); register maintenance happened inside the micro-batch loop",
    "q_mm_decoded" ->
      "deterministic container round-trip: payload build + production decode as a narrow typed map over the scan — zero Exchange, binary bytes never shuffle",
    "q_ann_recall" ->
      "three bounded intersect-aggregates unioned over the brute-force frame; each ANN side is its own bucketed pipeline — the only BNLJ nodes are the 1-row n_possible scalar broadcasts (the documented crossJoin(broadcast) idiom), never a corpus-scale cross join",
    "q_dedup_substring" ->
      "linear token-window counting (no pairwise term at all): 128-bit window fingerprints, map-side-combined occurrence counts, a semi-join keeping duplicated windows, and the interval merge as a Window PARTITIONED by doc_id — bounded by document length, never corpus size",
    "q_mixture_schedule" ->
      "source-mixture schedule: |sources|-row rate frame (epochs+fraction) built from two tiny aggregates, broadcast onto the token scan — per-doc repeat counts at scan speed, no corpus-scale shuffle anywhere",
    "q_mixture_packed" ->
      "mixture-weighted packing offsets: repeats ride as counts through the two-level prefix sum — tiny block-level cumsum window, intra-block windows PARTITIONED by block, broadcast block offsets; no materialized repeats, no corpus-wide single-partition window",
    "q_token_spectrum" ->
      "frequency-of-frequencies: two map-side-combined HashAggregate pairs back to back — the shuffle carries (token, partial count) then (tf, partial count), never documents",
    "q_dedup_keep_best" ->
      "keep-best retention: clustering output joined to token counts with every shuffle keyed by cluster_id (partitioning computed once, reused by stats agg + join + final argmax agg); no argmax-specific physical operator to trust",
    "q_semdedup" ->
      "SemDeDup: centroid_probes assignment kernel inside WholeStageCodegen, in-cell pair search as an equi-join on cell id over duplicate-collapsed reps (never all-pairs), neighbor minima as one keyed agg, member expansion last",
    "q_rare_bigram_rate" ->
      "rare-transition fluency, rep-collapsed (r14): per-(rep, bigram) counts (pre-aggregated, checkpointed), m-weighted corpus table, 1-row total broadcast, verdicts all-integer per DISTINCT content + one rep-keyed output join",
    "q_shard_manifest" ->
      "export manifest: one scan computing shard/order/row hashes, one 8-row hash-agg (XOR digest + struct-min head) — no corpus-scale shuffle, the within-shard order is declared by the (h, doc_id) key",
    "q_hard_negatives" ->
      "contrastive negatives: broadcast query set joined to ONE candidate scan with the label inequality as the join residual, per-query bounded rank — same shape as the brute-force ANN baseline",
    "q_semdedup_incremental" ->
      "ingestion probe: shard-only assignment scan, cell-keyed equi-join against duplicate-collapsed corpus reps (never corpus x corpus), left-join verdict expansion",
    "q_curriculum_order" ->
      "curriculum order: per-bucket (h, doc_id) rank windows PARTITIONED by bucket (parallel), the only ordered step an <= 8-row bucket-size cumsum broadcast back — no global sort",
    "q_stream_semdedup_incremental" ->
      "AvailableNow drain already ran per-batch assignment + frozen-index probes inside foreachBatch; the dumped plan reads the exactly-once per-batch parquet log (batch=N overwrite dirs, recursive lookup)",
    "q_tokenizer_fertility" ->
      "tokenizer QA: bpe_segments kernel over the vocabulary-bounded word frame (rules from the persisted tokenizer), word-keyed join to per-(lang, word) counts, |langs|-row rollup — never corpus-sized past the first agg",
    "q_ingest_dup_rate" ->
      "ingestion monitor: the banded incremental probe (index side capped, shard-keyed), distinct shard hits, left-join flag, |bands|-row rollup — all-integer rate",
    "q_filter_funnel" ->
      "first-reject funnel: two map-side-combined HashAggregate pairs ((doc, tok) counts, then per-doc metrics), verdict CASE in the projection, |sources|x6-row rollup — no joins, never corpus-sized past the first agg",
    "q_containment" ->
      "containment classification: the banded pair miner unchanged, then two doc_id-keyed slim joins attaching shingle-set SIZES (one int per doc, never the sets); integer-milli ratios + verdict CASE in the final projection",
    "q_dedup_agreement" ->
      "detector agreement: both banded miners unchanged (no all-pairs term), full-outer join keyed by the pair itself, <=3-row rollup",
    "q_select_best" ->
      "best-decile selection WITHOUT sorting the corpus: (source, score) histogram hash-agg, cumulative window over that tiny frame, broadcast cutoff joined back, doc-rank window only inside the cutoff tie group",
    "q_corpus_datasheet" ->
      "one-row datasheet: a single scan, Expand for the two count-distincts, partial->final HashAggregate — no second pass over the data, no join",
    "q_embed_outliers" ->
      "embedding outliers: centroid_probes assignment kernel inside WholeStageCodegen, nLists-row broadcast centroid join, own-centroid cosine per row, nLists-row agg",
    "q_dsir_score" ->
      "DSIR scoring: two map-side-combined hash-aggs (per-doc buckets, B-bounded histograms), the <=4096-row λ frame with four ln_fixed kernels broadcast back onto the count frame, one doc_id-keyed final agg — no corpus-sized shuffle beyond the partial-combined counts",
    "q_dsir_select" ->
      "DSIR resampling without a global sort: ln_fixed Gumbel keys in the projection, 4096-wide coarse histogram hash-agg, cumulative window over that tiny frame, broadcast cutoff, rank window only inside the one cutoff bucket",
    "q_lm_surprisal" ->
      "LM surprisal, rep-collapsed (r14): bigram explode + LM join run over DISTINCT content only (corpus counts = m-weighted sums, bit-identical output), ln_fixed inside WholeStageCodegen, then ONE rep-keyed output join fans per-doc rows — the bigram pipeline is flat across decades, only the output join scales with |docs|",
    "q_sample_diverse" ->
      "diversity sampling: centroid_probes assignment kernel, <=nLists-row histogram + budget frames broadcast back, content-hash Bernoulli as a pure filter — the corpus is never shuffled or ranked",
    "q_dsir_incremental" ->
      "ingestion DSIR: shard-only featurize scan, frozen <=4096-row weight table broadcast-left-joined with the smoothing-floor fallback, doc_id-keyed agg — the corpus term is the checkpointed training read, never re-featurized per batch",
    "q_lm_backoff" ->
      "stupid-backoff scoring: three train-side map-side-combined n-gram aggs, eval per-(doc, trigram) counts checkpointed, five LEFT joins of pre-aggregated frames (AQE on the Zipf keys), level CASE + ln_fixed in the projection, doc_id-keyed final agg",
    "q_span_decontam" ->
      "span decontam: positional window explode -> 60-bit hash (strings never shuffle), eval side DISTINCT before the join, LEFT SEMI keeps hit windows only, per-doc island merge over SPARSE hit rows — the window sort carries contaminated windows, not the corpus",
    "q_decontam_bloom" ->
      "bloom decontam: the q_span_decontam shape with the eval gram set folded to an m-bounded bitmap (BitmapOr partial agg) and the train windows pre-filtered by ONE codegen'd positions_set Filter AT THE SCAN STAGE, before the exact LEFT SEMI — the join's probe side is the contaminated sliver, not the corpus",
    "q_neardup_exact" ->
      "exact prefix join: df hash-agg over rep shingles, per-set array_sort (no global rank structure), prefix explode + repartitioned self equi-join on shingle with cross-multiplied length filter, array_intersect verify — no CartesianProduct/BNLJ, no cap, candidates bounded by rarest-shingle fan-out",
    "q_sample_aes" ->
      "A-ES weighted sample: one scan computing hash + ln_fixed + fixed-point divide (all WholeStageCodegen), straight into a k-bounded TakeOrderedAndProject — per-partition heaps, zero shuffles before the k-row merge",
    "q_nb_train" ->
      "NB trainer: label explode-agg + (tok, class) map-side-combined hash-agg, 1-row totals broadcast via BroadcastNestedLoopJoin, ln_fixed llr in the projection — training IS counting, vocabulary-bounded past the first agg",
    "q_nb_score" ->
      "NB scoring: per-(doc, tok) counts pre-aggregated BEFORE the vocabulary left join (AQE on the Zipf keys), 1-row prior/floor constants broadcast, doc_id-keyed final fold",
    "q_stream_nb_score" ->
      "streaming NB gate: model + constants frozen (localCheckpoint), per micro-batch the SHARED scoring fold against the static model frame, per-batch overwrite dirs for idempotent replay",
    "q_nb_calibration" ->
      "NB calibration: the nbScore plan + one |eval|-row label join + a <=10-band hash-agg — shifted floor division keeps negative-score banding identical to DuckDB's //",
    "q_line_surprisal" ->
      "line surprisal: the q_lm_backoff LM tables reused verbatim (train tokenized once per order), per-(line, trigram) counts pre-aggregated before the five vocabulary joins, (doc, pos)-keyed rollup, 1-row mean broadcast for the flag",
    "q_stream_leakfree_split" ->
      "streaming leak-free split: frozen band index + corpus assignment (localCheckpoint), per micro-batch the probe + the SHARED assignment tail, per-batch overwrite dirs for idempotent replay",
    "q_leakfree_split_incremental" ->
      "incremental leak-free split: frozen corpus assignment (cluster propagation + hash CASE, localCheckpoint), shard probed through the capped band index, min-(cluster, split) struct agg for deterministic inheritance, anti-join fills the fresh singletons",
    "q_leakfree_split" ->
      "leak-free split: the clustersFromPairs label propagation (|pairs|-scale per-round shuffles, corpus scanned once), then ONE codegen'd md5 CASE on the cluster id — split assignment adds zero joins/shuffles on top of clustering",
    "q_doc_compression" ->
      "doc compression: bpe_segments kernel over DISTINCT words (persisted rules), word-keyed join to per-(doc, word) counts, doc_id rollup, 1-row corpus floor broadcast — vocabulary-bounded past the first agg",
    "q_retrieval_eval" ->
      "retrieval eval: broadcast query set, ONE candidate scan, vec_dot kernel in the ranking window (per-query bounded), |labels|-row count frame broadcast back",
    "q_sample_exact" ->
      "exact-k stratified sampling WITHOUT sorting: checkpointed hash scan, (lang, h>>8) coarse histogram hash-agg, cumulative window over that tiny frame, broadcast cutoff, rank only inside each stratum's one tie bucket",
    "q_dsir_report" ->
      "steering report: scores checkpointed once, per-source rollup + the SAME counting selection as q_dsir_select, two |sources|-row aggs joined — no second featurize pass",
    "q_semantic_leakage" ->
      "semantic leakage: eval assignment scan under train-frozen centroids, cell-keyed equi-join against duplicate-collapsed train reps (never train x train), left-join verdict — the semDeDupIncremental machinery at the split-hygiene boundary",
    "q_embed_drift" ->
      "embedding drift: two assignment scans (centroids broadcast by value), two <=nLists-row histograms, full-outer of tiny frames + 1-row totals broadcast — all-integer milli card",
    "q_quality_agreement" ->
      "quality agreement, rep-collapsed end to end (r14): ONE content grouping (text scanned exactly twice — hash pass + distinct-content extraction), all three signals per DISTINCT content, rep-keyed joins, m-weighted LM mean, cells = sum(m) — documents never fan back out (the per-doc form was 8.0x/decade at sf10; this is 1.5x)",
    "q_pack_waste" ->
      "padding waste: one scan exploded over the 3 candidate lengths, one map-side-combined (L, harmonic-class) hash-agg (<= ~2*sqrt(L) classes per L), per-L rollup + pure arithmetic on that tiny frame",
    "q_pack_bestfit" ->
      "no-split harmonic packing: two-level within-class rank (block-bounded row_number windows + (class, block) count cumsum), bin-offset windows over <= m-row partitions, ~45-row class frame cumsum broadcast — NO corpus-scale ordered step",
    "q_zipf_fit" ->
      "zipf fit: vocabulary-bounded hash-agg, bounded top-k (TakeOrderedAndProject), <=1000-row rank window + ln_fixed axes, 1-row least-squares card",
    "q_mixture_temperature" ->
      "temperature mixture: one scan into a |sources|-row hash-agg, ln_fixed/exp_fixed share kernels on that tiny frame, 1-row totals broadcast, then the scan-speed epoch + content-hash-Bernoulli tail — the corpus is never shuffled beyond the per-source agg",
    "q_lsh_curve" ->
      "banding S-curve card: the banded miner unchanged, integer milli-jaccard bucket projection, <=21-row histogram broadcast-left-joined onto the constant grid whose p_band/p_detect folds run as plain projections",
    "q_line_dedup" ->
      "line-level dedup: NON-overlapping token windows (|tokens|/8 rows, 60-bit hashes past the first projection), map-side-combined frequency hash-agg, hash-keyed equi-join verdict (frequent-line set never assumed broadcastable), one doc_id-keyed fold — counting, never pairing",
    "q_line_dedup_incremental" ->
      "ingestion line dedup: corpus-frozen slim frequency index (lines at freq >= minOcc-1 only), shard-side line scan + one equi-join + doc_id fold — the corpus is scanned at index build, never per batch",
    "q_neardup_exact_capped" ->
      "the exact prefix join under the doc-weighted group cap: oversized join keys leave via a broadcast LEFT ANTI before the self-join — r15: registered at ExercisedPrefixCap, which THIS corpus exceeds, so the anti-join genuinely drops keys under the oracle gate (~3x cheaper than the uncapped miner at every scale); the same valve turns the skew replica's 4.4e9-candidate OOM into an 8-second run",
    "q_ngram_novelty" ->
      "first-occurrence novelty: shingle explode -> (bucket, shingle) partial->final hash-agg -> min-bucket agg; the cumulative window runs over the <=16-row rollup, never the corpus",
    "q_heaps_fit" ->
      "the novelty chain fed into milli-nat ln_f axes and a closed-form least-squares agg; the corpus-scale work is the shared shingle aggs",
    "q_phrase_blocklist" ->
      "positional-bigram explode filtered by a literal IN inside WholeStageCodegen; one per-source agg + broadcast doc-totals join — |denylist| never multiplies scans",
    "q_source_budget" ->
      "token-weighted counting selection: histogram agg, broadcast <=1-row-per-source cutoff, scan-speed filter; the only sort is row_number inside the single crossing bucket per source",
    "q_blocklist_excised" ->
      "excision entirely as higher-order expressions (filter/transform lambdas + md5) in ONE WholeStageCodegen projection: no Generate, no Exchange, scan-speed per document",
    "q_ngram_novelty_incremental" ->
      "frozen distinct-shingle vocabulary (one agg, checkpointed) probed by the shard explode through a single LEFT join + per-doc agg — O(shard + vocabulary), the corpus is never rescanned per batch",
    "q_stream_ngram_novelty" ->
      "the same novelProbe inside foreachBatch against the static index; per-doc verdicts are batch-partition independent, so the plan per micro-batch is the incremental plan on a smaller input",
    "q_repetition_excised" ->
      "within-document keep-first: the hash-only line frame, min(pos) window over (doc_id, lh) — widest group = one doc's copies of one line, no corpus-level hot key — then the per-doc report fold; two narrow shuffles, nothing pairwise",
    "q_winnow_fingerprints" ->
      "ZERO-shuffle winnowing: gram hashes, window minima, and selection-dedup are all higher-order array lambdas in ONE WholeStageCodegen projection (integer argmin encodes min-hash/rightmost-pos); the only post-projection op is the explode to fingerprint rows",
    "q_hybrid_rrf" ->
      "rank fusion over two already-top-k lists: BM25's pruned-scan pipeline and the brute-cosine rank feed a 2*poolK-row full-outer join + TakeOrdered — fusion cost is constant in corpus size; swap the dense side for the IVF probe at index scale",
    "q_vocab_growth_hll" ->
      "fixed-state vocabulary curve: shingle explode -> (bucket, register) min hash-agg with map-side combine (state = buckets*256 ints, never vocabulary-sized), then the running-min/rollup runs over a <=4096-row densified grid — the corpus-scale work is ONE combinable agg",
    "q_winnow_overlap" ->
      "fingerprint-keyed pair mining: hot fingerprints (> cap docs) leave via broadcast LEFT ANTI before the self equi-join — the banded miner's bucket-cap discipline in winnow space; join carries (hash, doc) pairs, never text",
    "q_stream_repetition_excised" ->
      "doc-local verdicts need NO frozen artifact: each micro-batch runs the shared batch operator on itself inside foreachBatch; the union over batches is the batch plan's answer row for row",
    "q_epoch_allocation" ->
      "ONE corpus scan (per-source token agg); 8 waterfilling rounds each a 1-row aggregate + projection over the <=|sources|-row checkpointed state with broadcast-back — nothing corpus-sized re-enters after the scan",
    "q_gopher_rules" ->
      "one explode -> per-doc conditional sums (map-side combined) joined to the repetition report's dropped-token count; every metric and rule boolean is a projection off the two aggregates",
    "q_dedup_soft" ->
      "the q_dedup_exact hash-agg + the same fp equi-join back; the keep verdict is one codegen'd hash-mod projection — no new shuffle shape",
    "q_winnow_overlap_incremental" ->
      "frozen capped fingerprint index (checkpointed once) probed by the shard's own selection through ONE equi-join on fp_hash; corpus-hot hashes leave both sides via the same broadcast anti-join",
    "q_stream_winnow_overlap" ->
      "winnowProbe inside foreachBatch against the static artifacts; per-doc verdicts touch only the frozen index, so the per-batch plan is the incremental plan on a smaller input",
    "q_hybrid_rrf_ivf" ->
      "the at-scale hybrid made real: dense candidates from the trained-IVF probe join (never a corpus scan per query), the same 2*poolK-row fusion tail — recall/cost trade priced by q_ann_recall",
    "q_embed_quant" ->
      "one posexplode scan -> |dim|-row min/max agg broadcast back -> per-value codegen projection -> |dim|-row rollup; state never exceeds the dimension count, errors floored to ints before the order-free sum",
    "q_link_rank" ->
      "host authority (r15): anchor parsing is ONE regexp extraction pass inside WholeStageCodegen (both anchor kinds via one alternation + CASE resolution, no UDF — the corpus is scanned and the page synthesized once), the (src_host, dst_host) agg map-side combines into the |hosts|^2-bounded edge frame, and the 3 PageRank supersteps are joins/aggs over THAT frame — pages are scanned, hosts are ranked; the corpus never re-enters after the edge agg",
    "sketch_summary" ->
      "r13 rewrite: exact distinct counts, HLL/quantile sketches, and the sample rank-rail are THREE narrow scans joined broadcast on the 3-row group key — no Expand row ever carries an imperative sketch buffer, and no value-count map exists anywhere (the old exact-percentile rail was the suite's worst cost at 100-266 s); r14: HLL bands ride the exact x approx inner join (sample-independent), and pct_rail_checked makes a vacuous percentile pass visible (oracle recounts the same deterministic sample)",
    "q_domain_urls" ->
      "url synthesis + host/registered-domain extraction are one codegen'd projection (two md5s + two regexps per row); no shuffle at all",
    "q_domain_stats" ->
      "per-domain rollup: (domain, fp) copy-count hash-agg (fp spreads the power-law key across partitions), join back, |domains|-row agg — the standard two-agg dedup-stats plan, linear in the corpus",
    "q_domain_cap" ->
      "counting selection on the power-law domain key: histogram agg + broadcast cutoff + scan-speed filter; only the one crossing bucket per domain is ranked, so d1.com's ~n/2 docs cost what a uniform key does",
    "q_domain_budget" ->
      "the q_source_budget token-weighted counting selection re-keyed to the registered domain; same histogram/cutoff/crossing-bucket shape, cap engages on the power-law head at every SF",
    "q_dedup_substring_exact" ->
      "suffix-array semantics with no suffix array: 50-char window fingerprints (codegen'd kernel over the char array), ONE occurrence hash-agg, semi-join, per-doc interval merge — counting, never pairing, linear in corpus chars",
    "q_substring_gap" ->
      "both span sets + the union merged by the same gaps-and-islands windows (per-doc partitions); token->char offsets computed per MERGED span as two slice-join expressions — no corpus-sized offset explode, no window sort (the explode form OOM'd the 100x replica)",
    "q_domain_budget_tempered" ->
      "domain-level temperature: one |domains|-row fixed-point ln/exp weight chain with a 1-row totals broadcast, budgets riding the broadcast cutoff of the same counting-selection kernel — per-key budgets add zero corpus-scale work",
    "q_domain_budget_incremental" ->
      "frozen dense spend grid (<=4096 buckets x |domains|, broadcast) + ONE single-bucket equi-join against the checkpointed corpus frame — each arrival probes ~n_domain/4096 corpus rows, the corpus is never rescanned per batch",
    "q_stream_domain_budget" ->
      "the same budgetProbe inside foreachBatch against the static spend artifacts; admission depends only on the frozen corpus, so the per-batch plan is the incremental plan on a smaller input (shared oracle proves row equality)",
    "q_domain_overlap" ->
      "the pair set joined twice to the slim (doc_id, domain) projection then a |domains|^2-bounded hash-agg — the sourceOverlapMatrix shape on the power-law key; pairs, not documents, ride the shuffles",
    "q_domain_quality" ->
      "one scan computing the integer classifier fold + stopword count per doc (codegen'd lambdas), one |domains|-row hash-agg with map-side combine; every share is an exact milli division, the decision a pure projection",
    "ann_ivf_stored" ->
      "train-once/apply-everywhere (r14): centroids from the persisted CentroidStore parquet artifact (nLists-row bounded read), then the pure probe — assignment kernel + cell equi-join + bounded rerank; ZERO k-means jobs in the plan (CentroidStoreSpec captures every executed plan and proves it), 3.8x faster than the retrain form at sf10",
    "ann_pq_stored" ->
      "PQ probe under persisted codebooks (MxK-row artifact read): encode + ADC scan + exact rerank only — at 100x the exhaustive compressed scan dominates and the training savings amortize out, exactly the published ADC cost model",
    "q_bpe_sampled" ->
      "bounded-sample BPE training (r14): the identical iterative trainer on a deterministic 1/16 doc sample — word aggregation and every merge round are sample-bounded; the sample is a pure doc_id hash so DuckDB replays the training verbatim",
    "q_bpe_sample_agreement" ->
      "the sampled trainer's acceptance card: both trainings (exact dominates — that is the point), then ONE vocabulary-bounded double-encode scan comparing segmentations; driver traffic is 2k one-row collects + a 1-row agreement scalar",
    "ann_ivfpq_stored" ->
      "the composed production index under persisted artifacts: sample-trained IVF centroids + PQ codebooks from CentroidStore (the joint trainer is bit-identical to the separate loops, so the stored probe shares ann_ivfpq's oracle verbatim) — index build + cell probe + ADC + rerank, zero k-means jobs",
    "q_html_extract" ->
      "HTML main-content extraction (r15 hardened): entity-escaped page synthesis + the multi-pass extractor (script/style strip, innermost-text-div passes, boilerplate strip, <p[^>]*> reassembly, entity unescape) all inside ONE WholeStageCodegen projection — no UDF, no shuffle; the oracle rebuilds the page with the same escape chain and re-runs the same RE2-safe passes, and roundtrip_ok pins the extractor row-by-row incl. the literal-markup fixtures",
    "q_html_dedup_lift" ->
      "why extraction precedes dedup: two md5 hash-aggs over one checkpointed synthesis scan — raw pages are chrome-unique (ids in title/related) so raw dedup finds ~nothing, while the extracted main content recovers every true duplicate at replica scale",
    "q_ann_stale" ->
      "stored-index staleness: the drifted union (checkpointed once), the stored-centroid probe vs a fresh-trained probe (both cell equi-joins, centroids as broadcast literals), brute-force truth over the bounded query set, and a <=2-row per-region fold — no corpus^2 anywhere, the card never retrains the stored artifact",
    "q_nb_score_stored" ->
      "the production quality gate: model + constants read from the persisted ModelStore parquet (vocabulary-bounded), then the shared scoring fold — zero training aggregations on the apply path (ModelStoreSpec captures the plans: no label derivation, no class-count agg), 3.8x faster than the retrain form at sf10",
    "q_link_rank_stale" ->
      "stored-rank staleness (r16): RankStore ranks READ (parquet, zero rank jobs), the grown re-crawl's anchor log checkpointed ONCE (feeds the edge rollup AND the frontier count), host-bounded rank iteration, <=4-row bucket agg with 1-row totals/frontier broadcasts — the card prices the stored shortcut without ever re-ranking the stored side",
    "q_anchor_bm25" ->
      "anchor-text hybrid (r16): anchor TEXT rides the same single-pass element extraction as the edge list (one Generate, href + text derived per element); the anchor log checkpointed once feeds the host-length and tf frames; host BM25 is the text BM25 plan at host granularity (scan-speed tok IN filter, broadcast df/scalars); doc expansion is a TakeOrderedAndProject; fusion is the 2xpoolK-row full-outer + top-k tail",
    "q_pipeline_trust_funnel" ->
      "retention funnel with the spam gate (r16): ONE corpus projection (tokens, quality flag, host, fp — all codegen'd) checkpointed; PR + personalized PR run on the SAME checkpointed host-edge frame; the spam set is host-bounded and broadcast; exact keepers one fp hash-agg; near-dup probes the stored signature table semi-joined to reachers; |sources|x5-row rollup — first-reject attribution adds no corpus-scale step the retained pipeline didn't already pay",
    "q_ann_filtered" ->
      "metadata-filtered ANN (r16): stored centroids (parquet artifact), assignment kernel inside WholeStageCodegen, and the label class IN THE JOIN KEY (cell, fl) — the filter prunes at the hash join build, BEFORE any vec_dot; bounded rerank unchanged",
    "q_ann_filtered_recall" ->
      "filter-selectivity card (r16): ONE labeled query x corpus cosine frame (bounded-query evaluation scan, checkpointed) + ONE unfiltered probe pair set (assignment is filter-independent) feed all four tiers; per tier only window ranks over query-bounded slices and 1-row aggregates — 4 tiers cost one scan, not four",
    "q_anchor_bm25_stored" ->
      "the fused retrieval under the PERSISTED AnchorStore term index (r16): the anchor side is a host x vocab-bounded parquet read — zero page synthesis, zero regexp extraction in the plan; the residual scan is the content-BM25 side both forms pay",
    "q_trust_funnel_incremental" ->
      "continuous-ingestion trust funnel (r17): artifacts frozen on the existing corpus (spam set BROADCAST, keeper-fp hash join, keeper LSH band index), the arriving fifth scored probe-only — banded equi-join candidates then exact-Jaccard verify, no CartesianProduct, no per-batch PageRank on the scoring path",
    "q_anchor_context" ->
      "anchor ±3-token visible-prose windows (r17): scan-shaped — page synthesis + element Generate + per-half strip/unescape/slice all inside one projection pipeline, no shuffle before the output",
    "q_anchor_ctx_bm25_stored" ->
      "anchor-context BM25 under the PERSISTED context index (r17): a host x vocab-bounded parquet read + the shared integer-ratio scoring tail — zero regexp extraction in the plan (the AnchorStore argument, window tokens riding the same schema)",
    "q_anchor_ctx_fused" ->
      "fused retrieval over the context index (r17): content BM25 + the stored context-anchor ranking through the shared integer RRF tail — the anchor side is the bounded artifact read, the residual scan is the content side both retrievers pay",
    "q_trust_funnel_stored" ->
      "the funnel under the PERSISTED FunnelStore bundle (r17): spam/keepers/index are parquet artifact reads (spam BROADCAST, keeper-fp hash join, banded equi-join probe + exact-Jaccard verify) — zero regexp extraction, zero PageRank in the executed plan; the shard pays only its own scan + MinHash")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = args.lift(1).getOrElse("PLANS.md")
    val spark = Sessions.local(cores = 4, appName = "graft-plandump")
    val sb = new StringBuilder
    sb.append(
      s"""# PLANS — formatted physical plans of headline queries (${sfDir.split('/').last})
         |
         |Generated by `graft.PlanDump` (re-run after plan-shaping changes):
         |`sbt "runMain graft.PlanDump $sfDir PLANS.md"`.
         |What to look for: `PushedFilters` + narrow `ReadSchema` at scans,
         |`BroadcastHashJoin` for dims, partial→final `HashAggregate` pairs,
         |`TakeOrderedAndProject` for top-k, `vec_dot`/`centroid_probes` in
         |codegen projections, and NO `CartesianProduct` anywhere.
         |""".stripMargin)
    Headline.foreach { case (name, note) =>
      // the bucketed join's evidence IS the absence of exchanges — at this
      // tiny SF the dim side would broadcast and hide it, so pin the same
      // confs BucketingSpec pins for the plan assertion
      val pinned = name == "q_bucketed_join"
      if (pinned) {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
      }
      val df = SparkEntry.query(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(FormattedMode)
      if (pinned) {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.enabled")
      }
      sb.append(s"\n## $name\n\n_${note}_\n\n```\n$plan```\n")
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote $outPath")
    spark.stop()
  }
}
