"""Incremental MinHash-LSH dedup over a document stream.

Continuous corpus ingestion needs near-dup detection AT ARRIVAL TIME —
batch `minhash_lsh_dedup` (operators/dedup.py) answers "which pairs in
this corpus", this module answers "which earlier docs does each arriving
doc duplicate" without ever recomparing the accumulated corpus to
itself. The state is a streaming dedup index keyed by DISTINCT ITEM
SET, not by document (r7): Jaccard depends only on the item set, so
every doc with the same set is equivalent for matching — the quadratic
candidate/verify machinery runs once per distinct set and member pairs
are reconstructed by output-bound equi-joins (the same exact-then-near
collapse the batch operator uses, which on boilerplate-heavy corpora
shrinks the pair mass quadratically: measured 104.6e6 member pairs from
274e3 set pairs at 50k docs). Per epoch:

- sets: (sk, signature array<long>, items array<long>,
  nsz, member_ids array<long>) — one row per distinct item set among
  this epoch's NEW docs (sk = :func:`dedup.set_key`, the 16-byte binary
  md5 over the sorted item hashes), with the epoch's member doc ids
  inline. A set with new members in several epochs appears in each,
  carrying THAT epoch's members — so each epoch's sets table is self-contained
  and TTL expiry of whole epochs keeps exact per-DOC window semantics
  (a set stays matchable exactly while some live epoch carries a
  member of it);
- pairs: (a_id, b_id, ji) — pairs found this epoch.

Member rows and band rows are DERIVED (explode / one deterministic
xxhash64 per band per set), never stored: one state write+read per
epoch beside the pairs, and the index scan reads one pre-collapsed
table.

Per micro-batch the work is: signatures/items/sk for the batch docs
(O(batch)), then the set-level core shared with the batch operator —
:func:`dedup.set_pairs` (the batch's distinct-set bands joined against
themselves and against the committed index, exact size-ratio
prefilter, exact item-array verify on SET pairs only) and
:func:`dedup.expand_members` (member expansion joins whose output is
exactly the emitted pair rows). Nothing is ever rewritten — state
grows append-only by one segment per batch, so per-epoch cost
is independent of corpus age (at 100 TB the band index would be a
bucketed table on (band, bhash) so the join prunes to matching
buckets).

Exactness: signatures and band keys are deterministic pure functions of
the document text (counter-based randomness, no RNG state), so a pair
collides across epochs iff it collides in a single-shot batch run. The
union of the pairs tables therefore equals the batch pipeline
signatures → lsh_candidate_pairs → exact_ji_for_pairs ≥ threshold on
the full corpus — asserted bit-identically in tests.

The state is a snapshot-log table (plans/snapshots.py). Each version's
properties carry the layout record (layout version, set key scheme,
n_hashes and bands after banding, threshold, shingle_w, char_n) and the
ordered segment list: a token per segment, ``"7"`` for epoch 7 or
``"c7"`` for a compacted segment (see :func:`compact_index`), with the
data dirs of its sets and pairs tables. An epoch writes both tables,
then commits them in one version; a crash mid-epoch leaves
unreferenced (and deterministically rebuilt) dirs, never a half-counted
pair, and a foreachBatch retry of a committed epoch is a no-op. Every
epoch refuses with ``ValueError`` to resume a state_dir recorded under
another layout, or holding state of an older, pre-log layout: resuming
either would match against keys this run never produces and silently
miss duplicates.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from dashing_spark.operators import dedup
from dashing_spark.plans import snapshots

#: bumped whenever the persisted tables or the set key change shape
_FORMAT_VERSION = 1
#: the tables of each segment
_PREFIXES = ("sets", "pairs")


def _segments(state_dir: str, layout: dict | None = None) -> list[dict]:
    """Committed segments, oldest first: ``{"token", "sets", "pairs"}``
    (see the module docstring), checked against ``layout`` if given."""
    props = snapshots.committed_properties(state_dir, layout)
    return [] if props is None else props["segments"]


def _tokens(state_dir: str) -> list[str]:
    return [s["token"] for s in _segments(state_dir)]


def _token_epoch(token: str) -> int:
    return int(token[1:]) if token.startswith("c") else int(token)


def committed_epochs(state_dir: str) -> list[int]:
    """Max epoch id each segment covers, oldest first (a compacted
    segment contributes the highest epoch it absorbed — the
    retry/restart guard needs only these numbers)."""
    return [_token_epoch(t) for t in _tokens(state_dir)]


def _commit(state_dir: str, segments: list[dict], layout: dict | None = None) -> None:
    """Commit ``segments`` under ``layout`` (default: the committed one)
    as the next version, then reap the dirs no segment names any more
    (absorbed, expired, torn)."""
    if layout is None:
        layout = snapshots.committed_properties(state_dir)["layout"]
    snapshots.commit_paths(
        state_dir,
        [seg[p] for seg in segments for p in _PREFIXES],
        "overwrite",
        {"layout": layout, "segments": segments},
    )
    snapshots.expire_snapshots(state_dir, keep_last=1)


def _epoch_union(
    spark: SparkSession, state_dir: str, prefix: str, segments: Sequence[dict]
) -> DataFrame | None:
    if not segments:
        return None
    return spark.read.parquet(*[os.path.join(state_dir, s[prefix]) for s in segments])


def _members(sets_df: DataFrame) -> DataFrame:
    """(id, set) member rows of a sets table."""
    return sets_df.select(
        F.explode("member_ids").alias("id"), F.col("sk").alias("set")
    )


def apply_dedup_batch(
    batch_df: DataFrame,
    epoch_id: int,
    *,
    id_col: str,
    state_dir: str,
    text_col: str = "text",
    threshold: float = 0.9,
    n_hashes: int = dedup.DEFAULT_LSH_HASH_BUDGET,
    shingle_w: int = 1,
    char_n: int | None = None,
    max_segments: int | None = None,
    ttl_epochs: int | None = None,
) -> None:
    """Index one micro-batch and emit its near-dup pairs — idempotent
    per epoch (see module docstring).

    Maintenance policy (VERDICT r4 #4 — auto-invoked, crash-safe via
    the snapshot log; runs AFTER this epoch commits, serialized with
    the stream because foreachBatch epochs run one at a time):

    * ``max_segments``: when the log holds more segments than this,
      :func:`compact_index` folds the oldest into one segment keeping
      the newest ``max_segments // 2`` live — halving rather than
      compacting every epoch keeps total rewrite work O(index ×
      log-ish), not quadratic in stream age. Semantics-preserving.
    * ``ttl_epochs``: entries whose covered epochs are older than
      ``epoch_id - ttl_epochs`` are expired FIRST — a bounded dedup
      window (old docs stop matching; their emitted pairs are dropped
      with them — read_pairs consumers snapshot before expiry).

    Both knobs compose: with a TTL active, compaction only absorbs raw
    epoch dirs (``absorb_compacted=False``) so segments age out whole
    — per-doc retention stays ≤ 2×ttl_epochs and the segment count
    stays bounded by ~ttl/(max_segments//2) + max_segments.

    A crash between the epoch commit and maintenance only defers the
    maintenance to the next batch."""
    if ttl_epochs is not None and ttl_epochs < 1:
        raise ValueError(f"ttl_epochs must be >= 1, got {ttl_epochs}")
    if max_segments is not None and max_segments < 2:
        raise ValueError(f"max_segments must be >= 2, got {max_segments}")
    # minimal banding (pick_lsh_banding, as the batch operator):
    # deterministic in (n_hashes, threshold), so every epoch of
    # a state_dir bands identically and cross-epoch collisions keep the
    # batch-run equivalence the module docstring pins
    bands_n, n_hashes = dedup.pick_lsh_banding(n_hashes, threshold)
    layout = {
        "version": _FORMAT_VERSION,
        "set_key": "unhex(md5(sorted int64 item hashes))",
        "n_hashes": n_hashes,
        "bands": bands_n,
        "threshold": threshold,
        "shingle_w": shingle_w,
        "char_n": char_n,
    }
    segments = _segments(state_dir, layout)
    if batch_df.isEmpty():
        # an empty epoch still advances the TTL horizon: docs older
        # than the window must stop matching (and their pair files age
        # out) even when nothing new arrives — otherwise a quiet
        # stream's index never shrinks and the next busy batch emits
        # pairs at epoch distances beyond ttl_epochs (r6 review find).
        # Safe on replays: a smaller epoch_id only lowers min_epoch,
        # which expires nothing extra.
        if ttl_epochs is not None:
            expire_epochs(state_dir, min_epoch=epoch_id - ttl_epochs + 1)
        return
    done = [_token_epoch(seg["token"]) for seg in segments]
    if not snapshots.epoch_is_new(state_dir, epoch_id, max(done, default=None)):
        return
    spark = batch_df.sparkSession
    sigs = dedup.minhash_signatures(
        batch_df, id_col, text_col, n_hashes=n_hashes,
        shingle_w=shingle_w, char_n=char_n,
    ).withColumnRenamed(id_col, "id")
    items = dedup.hashed_item_sets(
        batch_df, id_col, text_col=text_col, shingle_w=shingle_w, char_n=char_n
    )
    # empty item sets carry the all-sentinel signature and would collide
    # pairwise in every band — same filter as the batch operator.
    # Identical sets (hence identical signatures: a MinHash is a pure
    # function of the set) collapse to one matching unit by set key
    new_docs = (
        sigs.join(items, "id")
        .filter(F.size("items") > 0)
        .select("id", "signature", "items", dedup.set_key("items").alias("sk"))
        # at-least-once sources can redeliver a document: within the
        # batch keep one row per id, and drop ids the index already
        # holds — re-indexing would emit self-pairs and duplicate rows
        # in every later expansion join
        .dropDuplicates(["id"])
    )
    old_sets = _epoch_union(spark, state_dir, "sets", segments)
    old_members = None if old_sets is None else _members(old_sets)
    if old_members is not None:
        new_docs = new_docs.join(
            old_members.select("id"), "id", "left_anti"
        )
    # one row per distinct set (any member's signature/items — all
    # identical by construction) with the epoch's member ids inline;
    # written EVERY epoch the set gains members, so each epoch dir is
    # self-contained under TTL expiry. ONE state write per epoch.
    new_sets = new_docs.groupBy("sk").agg(
        F.first("signature").alias("signature"),
        F.first("items").alias("items"),
        F.size(F.first("items")).alias("nsz"),
        F.collect_list("id").alias("member_ids"),
    )
    sets_path = snapshots.write_data(state_dir, new_sets, "sets")
    # cut lineage; reuse below
    new_sets = spark.read.parquet(os.path.join(state_dir, sets_path))

    # band rows are DERIVED from the sets tables (one xxhash64 per band
    # per set row), never stored: band keys are deterministic in the
    # signature, so derived band keys collide across epochs exactly
    # like stored ones would. Set candidates: batch sets vs (batch ∪
    # index) sets; the item table is deduplicated by sk so a set
    # re-written by several epochs attaches exactly one items row.
    def _bands_of(sets_df):
        return sets_df.select(
            F.col("sk").alias("id"),
            "nsz",
            F.posexplode(dedup.band_hash_array(n_hashes, bands_n)).alias(
                "band", "bhash"
            ),
        )

    all_sets = (
        new_sets
        if old_sets is None
        else new_sets.unionByName(old_sets).dropDuplicates(["sk"])
    )
    pairs = dedup.set_pairs(
        _bands_of(new_sets),
        None if old_sets is None else _bands_of(old_sets),
        items=all_sets.select(F.col("sk").alias("id"), "items"),
        threshold=threshold,
    )
    emitted = dedup.expand_members(pairs, _members(new_sets), old_members)
    pairs_path = snapshots.write_data(state_dir, emitted, "pairs")
    new_seg = {"token": str(epoch_id), "sets": sets_path, "pairs": pairs_path}
    _commit(state_dir, segments + [new_seg], layout)
    if ttl_epochs is not None:
        expire_epochs(state_dir, min_epoch=epoch_id - ttl_epochs + 1)
    if max_segments is not None and len(_tokens(state_dir)) > max_segments:
        # with a TTL active, never re-absorb existing segments: folding
        # a segment forward re-stamps its docs with a newer max epoch,
        # so it would never age past the horizon (see compact_index)
        compact_index(
            spark,
            state_dir,
            keep_last=max_segments // 2,
            absorb_compacted=ttl_epochs is None,
        )


def incremental_dedup_query(
    stream: DataFrame,
    *,
    id_col: str,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    threshold: float = 0.9,
    n_hashes: int = dedup.DEFAULT_LSH_HASH_BUDGET,
    shingle_w: int = 1,
    char_n: int | None = None,
    trigger_available_now: bool = True,
    max_segments: int | None = None,
    ttl_epochs: int | None = None,
):
    """Start a streaming query maintaining the dedup index; returns the
    StreamingQuery. Late/out-of-order arrival needs no watermark: a doc
    is compared against exactly the docs indexed before it, whatever
    wall-clock order that is. ``max_segments`` / ``ttl_epochs`` enable
    the per-batch index maintenance policy (see
    :func:`apply_dedup_batch`)."""
    # fail fast on bad policy params — deferring to the first non-empty
    # batch would start the query (and create its checkpoint dir) only
    # to kill it with a StreamingQueryException later
    if ttl_epochs is not None and ttl_epochs < 1:
        raise ValueError(f"ttl_epochs must be >= 1, got {ttl_epochs}")
    if max_segments is not None and max_segments < 2:
        raise ValueError(f"max_segments must be >= 2, got {max_segments}")

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        apply_dedup_batch(
            batch_df, epoch_id, id_col=id_col, state_dir=state_dir,
            text_col=text_col, threshold=threshold, n_hashes=n_hashes,
            shingle_w=shingle_w, char_n=char_n,
            max_segments=max_segments, ttl_epochs=ttl_epochs,
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_index(
    spark: SparkSession,
    state_dir: str,
    keep_last: int = 1,
    absorb_compacted: bool = True,
) -> bool:
    """Merge all but the last ``keep_last`` segments into ONE
    compacted segment — the maintenance operation that keeps the
    per-epoch index scan O(segments), not O(corpus age): without it the
    band join reads one directory per historical micro-batch forever
    (BENCH.md q20 measures that growth). Matching semantics are
    UNCHANGED — the segment holds the union of the absorbed epochs'
    docs/bands/pairs, so future batches still compare against every
    indexed doc.

    Run with no CONCURRENT consumer of this state_dir: either offline,
    or auto-invoked from ``apply_dedup_batch``'s ``max_segments``
    policy — safe there because foreachBatch serializes epochs, so
    nothing reads the state while it compacts. Crash-safe by the
    snapshot log: the merged segment is written to fresh data dirs
    first, then the new segment list commits atomically; a crash before
    the commit leaves only unreferenced garbage and the original state,
    so a re-run completes the job. Absorbed dirs are reaped after the
    commit.

    ``absorb_compacted=False`` restricts the merge to RAW epoch
    entries, leaving existing ``c*`` segments in place. This is how
    compaction composes with a TTL (`expire_epochs` drops whole
    entries whose max covered epoch passed the horizon): re-absorbing
    a segment would stamp its docs with an ever-newer max epoch, so a
    segment that keeps getting folded forward NEVER ages out and the
    oldest docs are retained forever. Left alone, a segment's age is
    fixed at creation and the TTL drops it wholesale — per-doc
    retention is bounded by ttl + segment-span ≤ 2×ttl.
    ``apply_dedup_batch`` sets this automatically when both knobs are
    active.

    Returns True if a compaction happened (>= 2 entries merged)."""
    segments = _segments(state_dir)
    if keep_last < 0:
        raise ValueError(f"keep_last must be >= 0, got {keep_last}")
    window = segments[: max(0, len(segments) - keep_last)]
    if absorb_compacted:
        merge = list(window)
        retained_c: list[dict] = []
    else:
        merge = [seg for seg in window if not seg["token"].startswith("c")]
        retained_c = [seg for seg in window if seg["token"].startswith("c")]
    if len(merge) < 2:
        return False
    tokens = [seg["token"] for seg in segments]
    target = f"c{max(_token_epoch(seg['token']) for seg in merge)}"
    if target in tokens:
        raise ValueError(
            f"compacted segment {target} already exists in {tokens}"
        )
    new_seg = {"token": target}
    for prefix in _PREFIXES:
        merged = _epoch_union(spark, state_dir, prefix, merge)
        # a set re-written by several absorbed epochs collapses to one
        # row in the merged segment (the per-epoch redundancy exists
        # for TTL self-containment, which the segment now provides as
        # a unit) — signature/items identical on every copy, member
        # lists concatenated so no membership is lost
        if prefix == "sets":
            merged = merged.groupBy("sk").agg(
                F.first("signature").alias("signature"),
                F.first("items").alias("items"),
                F.first("nsz").alias("nsz"),
                F.flatten(F.collect_list("member_ids")).alias("member_ids"),
            )
        # coalesce to a handful of files: the point is fewer directories
        # AND fewer parquet footers on every future epoch's index scan
        new_seg[prefix] = snapshots.write_data(
            state_dir,
            merged.coalesce(max(1, spark.sparkContext.defaultParallelism // 4)),
            prefix,
        )
    # retained (older) segments keep their position ahead of the new
    # one: every epoch they cover precedes the merge set's
    _commit(state_dir, retained_c + [new_seg] + segments[len(window):])
    return True


def expire_epochs(state_dir: str, min_epoch: int) -> list[str]:
    """TTL policy: drop segments whose covered epochs are all
    older than ``min_epoch`` — docs indexed before the horizon STOP
    matching future arrivals (a bounded dedup window, the documented
    way to cap index size when old duplicates no longer matter; use
    :func:`compact_index` to shrink scan cost WITHOUT changing
    semantics). Pairs already emitted are dropped with their epoch —
    read them first if they must be retained. Run offline. Returns the
    dropped tokens."""
    segments = _segments(state_dir)
    dropped = [seg for seg in segments if _token_epoch(seg["token"]) < min_epoch]
    if not dropped:
        return []
    _commit(state_dir, [seg for seg in segments if seg not in dropped])
    return [seg["token"] for seg in dropped]


def read_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """All near-dup pairs found across committed epochs."""
    out = _epoch_union(spark, state_dir, "pairs", _segments(state_dir))
    if out is None:
        raise FileNotFoundError(f"no committed pairs under {state_dir}")
    return out
