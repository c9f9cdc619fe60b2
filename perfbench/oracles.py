"""Output checks, one per workload. Each returns a list of problems;
an empty list means the operation's output is correct.

The oracles are computed from the generator's own record of the
corpus (word ids and keys) with numpy, never from the
program under test, except ``distance_panel``'s sampled pairs, which
are checked against the in-process ``functions.compare`` kernel.
"""

from __future__ import annotations

import math

import numpy as np

import corpus

#: HLL relative standard error is about 1.04/sqrt(m) (Flajolet et al.)
HLL_RSE = 1.04


def exact_distinct_per_key(c, key_code: np.ndarray, n_keys: int) -> np.ndarray:
    """Exact number of distinct words per key of corpus ``c``."""
    doc_of_tok = np.repeat(np.arange(c.n_docs), np.diff(c.offsets))
    pair = key_code[doc_of_tok].astype(np.int64) * corpus.VOCAB + c.tokens
    uniq = np.unique(pair)
    return np.bincount(uniq // corpus.VOCAB, minlength=n_keys)


def check_sketch_build(rows, exact: dict, p: int, reference=None) -> list[str]:
    """``rows``: (key, sketch blob) pairs from one op. Every estimate
    must lie within 3σ of the exact distinct count, and the blobs must
    equal ``reference`` (the first op's rows) bit for bit."""
    from dashing_spark.functions.serde import sketch_from_bytes

    problems = []
    got = {k: bytes(b) for k, b in rows}
    if set(got) != set(exact):
        problems.append(f"keys differ: {sorted(set(got) ^ set(exact))[:5]}")
    sigma = HLL_RSE / math.sqrt(1 << p)
    for key in sorted(set(got) & set(exact)):
        est = sketch_from_bytes(got[key]).estimate()
        true = exact[key]
        if abs(est - true) > 3 * sigma * true + 1:
            problems.append(f"{key}: estimate {est:.1f} vs exact {true}")
    if reference is not None and got != reference:
        problems.append("sketch blobs differ from the first operation's")
    return problems


def check_distance_panel(n_sketches: int, n_pairs: int, sampled, blobs: dict,
                         measures) -> list[str]:
    """The pair count must be n(n-1)/2 and every sampled row must equal
    ``functions.compare`` run in-process on the same two sketches.

    The pair UDF's whole-batch HLL path estimates with Ertl's improved
    raw estimator, while ``compare``'s default is the MLE (about 1%
    apart at these cardinalities), so the reference names it."""
    from dashing_spark.functions.compare import compare
    from dashing_spark.functions.serde import sketch_from_bytes

    problems = []
    want = n_sketches * (n_sketches - 1) // 2
    if n_pairs != want:
        problems.append(f"pair count {n_pairs} != n(n-1)/2 = {want}")
    if not sampled:
        problems.append("no sampled pairs to check")
    for row in sampled:
        a, b = row["a"], row["b"]
        if not a < b:
            problems.append(f"pair ({a}, {b}) not ordered")
            continue
        sa, sb = sketch_from_bytes(blobs[a]), sketch_from_bytes(blobs[b])
        for m in measures:
            want_v = compare(sa, sb, m, estimator="ertl_improved")
            if not math.isclose(row[m], want_v, rel_tol=1e-9, abs_tol=1e-12):
                problems.append(f"({a}, {b}) {m}: {row[m]!r} != {want_v!r}")
    return problems
