"""Property-based tests (hypothesis): the monoid laws every sketch must
satisfy for distributed correctness — FIXTURES.md §5's associativity/
order-independence requirements under adversarial inputs, not just the
fixed fixtures."""

import numpy as np
from hypothesis import given, settings, strategies as st

from dashing_spark.functions import (
    HLL,
    KLL,
    KMV,
    BBitMinHash,
    BloomFilter,
    CountingBBitMinHash,
    CountingKMV,
    CountMinSketch,
    HyperMinHash,
    SuperMinHash,
    hashing,
    sketch_from_bytes,
)

MONOIDS = [
    lambda: HLL.empty(8),
    lambda: BloomFilter.empty(10, 3),
    lambda: CountMinSketch.empty(6, 3),
    lambda: KMV.empty(16),
    lambda: BBitMinHash.empty(4, 8),
    lambda: CountingKMV.empty(16),
    lambda: HyperMinHash.empty(6, 6),
    lambda: SuperMinHash.empty(16),
    lambda: CountingBBitMinHash.empty(4, 8),
]

items_strategy = st.lists(
    st.integers(min_value=0, max_value=2**40), min_size=0, max_size=300
)


def _hash(items):
    return hashing.hash_int_array(np.asarray(items, dtype=np.int64))


@settings(max_examples=25, deadline=None)
@given(items=items_strategy, split=st.integers(1, 299), data=st.data())
def test_merge_equals_single_pass(items, split, data):
    """sketch(A ∪ B) == merge(sketch(A), sketch(B)) bit-for-bit, for any
    split point and any element multiset."""
    h = _hash(items)
    split = min(split, len(h))
    for make in MONOIDS:
        one = make().update_hashes(h)
        a = make().update_hashes(h[:split])
        b = make().update_hashes(h[split:])
        assert a.merge(b) == one


@settings(max_examples=25, deadline=None)
@given(items=items_strategy)
def test_merge_commutative_and_idempotent(items):
    h = _hash(items)
    mid = len(h) // 2
    for make in MONOIDS:
        if isinstance(make(), (CountMinSketch, CountingKMV, CountingBBitMinHash)):
            # counting sketches are commutative but NOT idempotent
            ab = make().update_hashes(h[:mid]).merge(make().update_hashes(h[mid:]))
            ba = make().update_hashes(h[mid:]).merge(make().update_hashes(h[:mid]))
            assert ab == ba
            continue
        a = make().update_hashes(h[:mid])
        b = make().update_hashes(h[mid:])
        ab = make().update_hashes(h[:mid]).merge(b)
        ba = make().update_hashes(h[mid:]).merge(a)
        assert ab == ba
        # idempotent: merging the same data twice changes nothing
        again = make().update_hashes(h[:mid]).merge(a)
        assert again == a


@settings(max_examples=20, deadline=None)
@given(items=items_strategy)
def test_serde_roundtrip_everything(items):
    h = _hash(items)
    for make in MONOIDS:
        s = make().update_hashes(h)
        assert sketch_from_bytes(s.to_bytes()) == s


@settings(max_examples=15, deadline=None)
@given(
    values=st.lists(
        st.floats(min_value=-1e9, max_value=1e9, allow_nan=False),
        min_size=1,
        max_size=500,
    ),
    k=st.integers(1, 499),
)
def test_kll_rank_sandwich(values, k):
    """KLL quantile answers must be actual data values with plausible
    ranks, for arbitrary float inputs."""
    v = np.asarray(values)
    s = KLL.empty(64).update_batch(v[:k]).merge(KLL.empty(64).update_batch(v[k:]))
    assert s.n == len(v)
    q = s.quantile(0.5)
    assert v.min() <= q <= v.max()
    rank = (v <= q).mean()
    assert 0.0 <= rank <= 1.0


@settings(max_examples=15, deadline=None)
@given(items=items_strategy)
def test_hll_fold_consistency(items):
    """fold(p→p') never disagrees with the direct p' build (identical
    register maxima by construction of high-bit indexing)."""
    h = _hash(items)
    hi = HLL.empty(10).update_hashes(h)
    lo_direct = HLL.empty(7).update_hashes(h)
    folded = hi.fold(7)
    # One-sided guarantee with high-bit indexing: the element that
    # maximizes the direct rank has all dropped index bits zero, so its
    # p=10 rank is exactly 3 smaller ⇒ folded >= direct - (p - p').
    # (The other direction does NOT hold: an element whose first dropped
    # bit is 1 has direct rank 1 but unbounded folded rank — fold is an
    # approximation, statistically validated in test_kernels.)
    assert (folded.regs.astype(int) >= lo_direct.regs.astype(int) - 3).all()
    assert folded.p == 7


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(0, 2**31),
    k=st.sampled_from([8, 32, 128]),
    sizes=st.lists(st.tuples(st.integers(0, 300), st.integers(0, 300),
                             st.integers(0, 200)), min_size=1, max_size=8),
)
def test_kmv_batch_matches_scalar_property(seed, k, sizes):
    """kmv_triple_batch (code-sorted lockstep merge) must agree with the
    scalar kmv_set_triple on arbitrary size mixes, including empty and
    under-filled (n < k) sketches."""
    import numpy as np

    from dashing_spark.functions.compare import (
        kmv_triple_batch,
        set_triple_any,
        _dedupe_blobs,
    )
    from dashing_spark.functions.kmv import KMV
    from dashing_spark.functions.serde import sketch_from_bytes

    rng = np.random.default_rng(seed)
    al, bl = [], []
    pairs = []
    for na, nb, ns in sizes:
        shared = _hash(rng.integers(0, 2**62, size=ns).tolist())
        ha = np.concatenate([shared, _hash(rng.integers(0, 2**62, size=na).tolist())])
        hb = np.concatenate([shared, _hash(rng.integers(0, 2**62, size=nb).tolist())])
        a, b = KMV(k), KMV(k)
        a.update_hashes(ha)
        b.update_hashes(hb)
        pairs.append((a, b))
        al.append(a.to_bytes())
        bl.append(b.to_bytes())
    uniq, ia, ib = _dedupe_blobs(al, bl)
    t0b, t1b, t2b = kmv_triple_batch([sketch_from_bytes(x) for x in uniq], ia, ib)
    for i, (a, b) in enumerate(pairs):
        t0, t1, t2 = set_triple_any(a, b)
        for s, v in ((t0, t0b[i]), (t1, t1b[i]), (t2, t2b[i])):
            assert abs(s - v) <= 1e-9 * max(1.0, abs(s)), (i, s, v)


@settings(max_examples=60, deadline=None)
@given(
    texts=st.lists(st.text(max_size=40), min_size=0, max_size=8),
    n=st.sampled_from([2, 3, 4]),
)
def test_char_gram_kernel_matches_python_grams(texts, n):
    """char_gram_hashes_arrow (codepoint windows, UTF-32 batch decode)
    must emit exactly the per-doc gram counts of Python slicing, and a
    CONSISTENT gram -> hash mapping across docs (same codepoint window
    ⇒ same hash, regardless of the byte widths around it)."""
    import pyarrow as pa

    from dashing_spark.functions.hashing import char_gram_hashes_arrow

    h, counts = char_gram_hashes_arrow(pa.array(texts, type=pa.string()), n=n)
    expect_counts = [max(len(t) - n + 1, 0) for t in texts]
    assert counts.tolist() == expect_counts
    mapping = {}
    i = 0
    for t in texts:
        for j in range(max(len(t) - n + 1, 0)):
            gram = t[j : j + n]
            hv = int(h[i])
            i += 1
            if gram in mapping:
                assert mapping[gram] == hv, (gram, mapping[gram], hv)
            else:
                mapping[gram] = hv
    # distinct grams should not collide on this tiny scale
    assert len(set(mapping.values())) == len(mapping)


@settings(max_examples=60, deadline=None)
@given(texts=st.lists(st.text(max_size=40), min_size=0, max_size=8))
def test_token_hash_kernel_matches_split_semantics(texts):
    """hash_tokens_arrow must emit exactly split(' ')'s token multiset
    per doc — including empty tokens from leading/trailing/double
    spaces and the single empty token of an empty string — with a
    consistent token -> hash mapping across docs."""
    import pyarrow as pa

    from dashing_spark.functions.hashing import hash_tokens_arrow

    h, counts = hash_tokens_arrow(pa.array(texts, type=pa.string()))
    expect = [t.split(" ") for t in texts]
    assert counts.tolist() == [len(e) for e in expect]
    mapping = {}
    i = 0
    for toks in expect:
        for tok in toks:
            hv = int(h[i])
            i += 1
            if tok in mapping:
                assert mapping[tok] == hv, (repr(tok), mapping[tok], hv)
            else:
                mapping[tok] = hv
    assert len(set(mapping.values())) == len(mapping)
