"""Seeded input generators. Each writes into a directory of its own and
returns the facts the checks need; the same (seed, size) gives the same
bytes, so a finished directory is reused.
"""
import json
import os
import re

import numpy as np

# --- wordcount ---------------------------------------------------------

K = 5  # graft.Main.K: the reference job's top-k


def normalize_word(tok):
    """graft TextFunctions.normalizeWord on ASCII: lowercase, then trim
    leading and trailing runs of .,!?:;"' characters."""
    return re.sub(r"^[.,!?:;\"']+|[.,!?:;\"']+$", "", tok.lower())


def top_k(counts, k=K):
    """Reference order: descending count, then ascending word."""
    return sorted(counts.items(), key=lambda wc: (-wc[1], wc[0]))[:k]


def _vocabulary(rng, size):
    """`size` distinct lowercase words; the word of rank r has 4 + r % 10
    letters, so the corpus's byte size barely depends on the seed."""
    letters = (rng.integers(0, 26, (size, 13)) + ord("a")).astype(np.uint8)
    words, seen = [], set()
    for r in range(size):
        w = letters[r, :4 + r % 10].tobytes().decode()
        while w in seen:
            w = (rng.integers(0, 26, len(w)) + ord("a")).astype(np.uint8).tobytes().decode()
        seen.add(w)
        words.append(w)
    return words


def wordcount_corpus(out_dir, seed, tokens, files=16, vocab=200_000, zipf_s=1.1):
    """A bounded Zipf corpus of `tokens` word tokens in `files` text files.

    Ranks are drawn from a Zipf law truncated to `vocab` words and
    renormalised, so the tail is spread over real words rather than clipped
    onto one. A token is written lowercase, Capitalised, UPPER, or wrapped
    in punctuation, so normalizeWord has real work; lines carry stray
    all-punctuation tokens and doubled or leading blanks. Rank 6 is topped
    up to rank 5's count, a tie at the k boundary that only the ascending
    word order breaks.
    """
    rng = np.random.default_rng(seed)
    words = _vocabulary(rng, vocab)
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    ranks = rng.choice(vocab, size=tokens, p=p / p.sum())
    counts = np.bincount(ranks, minlength=vocab)
    order = sorted(range(vocab), key=lambda r: (-counts[r], words[r]))
    fifth, sixth = order[K - 1], order[K]
    extra = int(counts[fifth] - counts[sixth])
    ranks = np.concatenate([ranks, np.full(extra, sixth)])
    rng.shuffle(ranks)
    counts[sixth] += extra

    forms = np.array(
        words
        + [w.capitalize() for w in words]
        + [w.upper() for w in words]
        + [f'"{w}",' for w in words]
        + [f"{w}." for w in words],
        dtype=object,
    )
    form = rng.choice(5, size=len(ranks), p=[0.8, 0.1, 0.04, 0.03, 0.03])
    toks = forms[form * vocab + ranks]
    # all-punctuation tokens normalise to "" and are dropped by the job
    noise = rng.integers(0, len(toks), len(toks) // 100)
    toks = np.insert(toks, noise, "...")

    os.makedirs(out_dir, exist_ok=True)
    per_line = 12
    lines = [" ".join(toks[i:i + per_line]) for i in range(0, len(toks), per_line)]
    for i in range(0, len(lines), 50):
        lines[i] = " " + lines[i].replace(" ", "  ", 1)
    chunk = (len(lines) + files - 1) // files
    for f in range(files):
        with open(os.path.join(out_dir, f"part-{f:03d}.txt"), "w") as fh:
            fh.write("\n".join(lines[f * chunk:(f + 1) * chunk]) + "\n")

    expected = top_k({words[r]: int(counts[r]) for r in order[:K + 1]})
    with open(os.path.join(out_dir, "expected-top-k"), "w") as fh:
        fh.write("".join(f"{w}: {c}\n" for w, c in expected))
    facts = {
        "tokens": int(len(ranks)),
        "distinct_words": int(np.count_nonzero(counts)),
        "tie": [words[fifth], words[sixth], int(counts[fifth])],
    }
    return facts


# --- curation ----------------------------------------------------------

# The sf0.1 documents table's vocabulary: 30 near-uniform words, among
# them the stopwords "the" and "a" that the quality gate looks for.
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "zh", "es", "fr", "de"]
SHINGLE_N = 3
THRESHOLD = 0.5  # Dedup.nearDuplicatePairs' default


def shingles(text):
    """graft TextFunctions.shingles(text, 3) on space-separated ASCII."""
    toks = text.strip(" ").split()
    return {" ".join(toks[i:i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def normalized(text):
    """TextAnalysis.normalized on ASCII: lowercase, trim, collapse blanks."""
    return re.sub(r"\s+", " ", text.strip(" ").lower())


def _edit(rng, toks, n_edits):
    toks = list(toks)
    for _ in range(n_edits):
        i = int(rng.integers(0, len(toks)))
        op = rng.integers(0, 3)
        if op == 0:
            toks[i] = DOC_WORDS[rng.integers(0, len(DOC_WORDS))]
        elif op == 1:
            toks.insert(i, DOC_WORDS[rng.integers(0, len(DOC_WORDS))])
        elif len(toks) > 20:
            del toks[i]
    return toks


def curation_corpus(out_dir, seed, docs, exact_share=0.06, near_share=0.12, flood_share=0.04):
    """`docs` documents with the sf0.1 documents schema and planted structure.

    - exact-duplicate groups of 2-4 copies that differ only in blank runs
      (normalised text and shingle sets are identical);
    - near-duplicate families: a base document of 40-100 tokens and 1-3
      variants, each 1-3 token edits away (insert, delete or replace);
    - a boilerplate flood: documents that open with one shared 15-token
      paragraph and end in a distinct 35-60-token tail — far below the
      near-dup threshold, but they crowd the same LSH buckets;
    - every other document distinct random text of 5-100 tokens (a short
      one fails the quality gate).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    words = np.array(DOC_WORDS)

    def random_toks(lo, hi):
        return list(words[rng.integers(0, len(words), int(rng.integers(lo, hi + 1)))])

    texts, exact_groups, near_families = [], [], []
    seen = set()

    def add(text):
        texts.append(text)
        return len(texts) - 1

    def fresh(lo, hi):
        while True:
            t = " ".join(random_toks(lo, hi))
            if normalized(t) not in seen:
                seen.add(normalized(t))
                return t

    while len(texts) < docs * exact_share:
        base = fresh(10, 100).split(" ")
        copies = int(rng.integers(2, 5))
        group = []
        for c in range(copies):
            t = " ".join(base) if c == 0 else "  ".join(base) if c == 1 else " ".join(base) + " "
            group.append(add(t))
        exact_groups.append(group)
    while len(texts) < docs * (exact_share + near_share):
        base = fresh(40, 100).split(" ")
        family = [add(" ".join(base))]
        for _ in range(int(rng.integers(1, 4))):
            v = " ".join(_edit(rng, base, int(rng.integers(1, 4))))
            if normalized(v) not in seen:
                seen.add(normalized(v))
                family.append(add(v))
        near_families.append(family)
    boiler = " ".join(random_toks(15, 15))
    while len(texts) < docs * (exact_share + near_share + flood_share):
        tail = fresh(35, 60)
        seen.add(normalized(boiler + " " + tail))
        add(boiler + " " + tail)
    while len(texts) < docs:
        add(fresh(5, 100))

    # doc ids are a seeded permutation, so planted families are scattered
    ids = rng.permutation(len(texts)).astype(np.int64)
    lang = rng.choice(LANGS, len(texts))
    source = np.array([f"src{int(i) % 10}" for i in ids])
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))

    planted_pairs = []
    for fam in near_families:
        for i, a in enumerate(fam):
            for b in fam[i + 1:]:
                if jaccard(texts[a], texts[b]) >= THRESHOLD:
                    planted_pairs.append(sorted([int(ids[a]), int(ids[b])]))
    return {
        "docs": len(texts),
        "exact_groups": sorted([min(int(ids[i]) for i in g), len(g)] for g in exact_groups),
        "planted_pairs": sorted(planted_pairs),
    }


def cached(root, name, seed, size, make):
    """Runs `make(dir)` once per (name, seed, size); returns its facts."""
    d = os.path.join(root, f"{name}-seed{seed}-size{size}")
    done = os.path.join(d, "facts.json")
    if not os.path.exists(done):
        facts = make(d)
        with open(done + ".tmp", "w") as fh:
            json.dump(facts, fh)
        os.replace(done + ".tmp", done)
    with open(done) as fh:
        return d, json.load(fh)
