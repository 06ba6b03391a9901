"""Membership rule of the query_mix workload.

Written down before any timing and never tuned by speed or by pass/fail:

1. Every registered query belongs to the first family in FAMILIES whose
   pattern matches its name; a name no pattern matches is relational.
2. Within each family, names are ordered by the md5 of the name (a fixed
   pseudo-random order that does not favour any naming convention), and
   the first PER_FAMILY are taken.
3. Of the five heaviest queries at sf0.1 on 4 cores that the repo's
   ROADMAP lists ("State at HEAD"), the execution-bound one is always
   added. The other four are the trust-funnel family and its stream and
   incremental twins, whose operator (`Pipeline.retentionFunnel`) the
   curation workload runs on every chain; as queries they would make one
   pass longer than the run budget allows (see README.md).

`select(names)` applies the rule to the registry's names; the resulting
list is frozen, with each query's expected content hash, in
`expected/query_mix.tsv` (see `run.py --record-mix`).
"""
import hashlib
import re

FAMILIES = [
    ("stream", r"^q_stream_"),
    ("relational", r"^q\d+_"),
    ("events", r"^q_(events_|cohort_|asof_|funnel$|session_paths|window_)"),
    ("dedup", r"dedup|neardup|minhash|simhash|winnow|containment|fingerprint|lsh_curve|repetition|substring"),
    ("similarity", r"^q_(ann_|embed_|knn_|hybrid_|nearest_centroid|label_centroids|hard_negatives|semantic_leakage|retrieval_eval)"),
    ("linkgraph", r"^q_(link_|anchor_|pagerank_|kcore_|word_triangles)"),
    ("pipeline", r"^q_(pipeline_|trust_funnel|filter_funnel|mixture_|pack_|domain_budget|source_budget|curriculum|epoch_allocation|shard_manifest|leakfree|split_)"),
    ("text", r"^q_(bpe_|lm_|nb_|lang|token|tfidf|bm25|bigram|text_stats|zipf|heaps|collocations|phrase|top_terms|ngram|classifier|gopher|pii|html|quality_agreement|doc_compression|line_surprisal|rare_bigram|vocab_growth|hll_vocab|chunked)"),
]

PER_FAMILY = 1

HEAVIEST = [
    "q_neardup_exact",  # 7.2 s, 5.9 s of it execution
]


def family(name):
    for fam, pattern in FAMILIES:
        if re.search(pattern, name):
            return fam
    return "relational"


def select(names):
    """The mix for a registry: [(name, family)], families in FAMILIES order."""
    by_family = {}
    for n in names:
        by_family.setdefault(family(n), []).append(n)
    chosen = []
    for fam, _ in FAMILIES:
        ordered = sorted(by_family.get(fam, []), key=lambda n: hashlib.md5(n.encode()).hexdigest())
        chosen += [(n, fam) for n in ordered[:PER_FAMILY]]
    picked = {n for n, _ in chosen}
    chosen += [(n, family(n)) for n in HEAVIEST if n not in picked]
    return chosen
