"""Output checks, made outside the timed region on the warm-up job's
outputs (the harness checks that every timed job reproduces them)."""
import os

from . import gen


def _curation(raw, facts, inputs):
    import pyarrow.parquet as pq

    out = raw["facts"]
    failures = []
    exact = sorted(map(list, out["exact"]))
    if exact != facts["exact_groups"]:
        failures.append(f"exact groups: {len(exact)} found, {len(facts['exact_groups'])} planted, differ")

    t = pq.read_table(os.path.join(inputs, "documents.parquet"), columns=["doc_id", "text"]).to_pydict()
    text = dict(zip(t["doc_id"], t["text"]))
    bad = [(a, b, j) for a, b, j in out["pairs"]
           if j < gen.THRESHOLD or abs(gen.jaccard(text[a], text[b]) - j) > 1e-9]
    if bad:
        failures.append(f"{len(bad)} near-dup pairs below the threshold or with a wrong Jaccard, e.g. {bad[:3]}")

    total = sum(n for _, _, n in out["funnel"])
    if total != facts["docs"]:
        failures.append(f"funnel verdicts sum to {total}, corpus has {facts['docs']} documents")

    if not out["verify"] or not all(all(row) for row in out["verify"]):
        failures.append(f"verifyShardedExport mismatch: {out['verify']}")
    return 4, failures


def run(workload, raw, facts, inputs):
    """(attempted, failure messages) over the engine calls of the run and
    every output check."""
    jvm = raw["checks"]
    attempted = jvm["attempted"] + len(raw["jobs"])
    failures = list(jvm["failures"])
    if workload == "curation":
        n, f = _curation(raw, facts, inputs)
        attempted += n
        failures += f
    return attempted, failures
