"""Snapshot-log table format (plans/snapshots.py): atomic commits,
crash recovery, time travel, rollback, expiry — the Iceberg-semantics
checkpoint layer the north rule's resumability requirement rides on."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from dashing_spark.functions import HLL
from dashing_spark.plans import snapshots as S
from dashing_spark.plans.pipeline import build_or_resume_sketch_table


def _df(spark, vals):
    return spark.createDataFrame([(int(v),) for v in vals], "x int")


def _xs(df):
    return sorted(r["x"] for r in df.collect())


class TestSnapshotLog:
    def test_commit_read_overwrite_and_time_travel(self, spark, tmp_path):
        t = str(tmp_path / "t")
        v0 = S.commit(t, _df(spark, [1, 2, 3]), op="overwrite")
        v1 = S.commit(t, _df(spark, [7, 8]), op="overwrite")
        assert (v0, v1) == (0, 1)
        assert S.current_version(t) == 1
        assert _xs(S.read_table(spark, t)) == [7, 8]
        # time travel: v0 still intact after the overwrite
        assert _xs(S.read_table(spark, t, version=0)) == [1, 2, 3]

    def test_append_unions_file_sets(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.commit(t, _df(spark, [1]), op="append")
        S.commit(t, _df(spark, [2, 3]), op="append")
        assert _xs(S.read_table(spark, t)) == [1, 2, 3]
        assert _xs(S.read_table(spark, t, version=0)) == [1]

    def test_uncommitted_data_is_invisible_and_retry_succeeds(
        self, spark, tmp_path
    ):
        """Crash between data write and metadata rename: the data dir
        is garbage — reads serve the prior snapshot; the retry reuses
        the version slot after clearing the garbage."""
        t = str(tmp_path / "t")
        S.commit(t, _df(spark, [1]), op="overwrite")
        orphan = os.path.join(t, "data", "000001-overwrite")
        _df(spark, [99]).write.parquet(orphan)  # simulated torn commit
        assert S.current_version(t) == 0
        assert _xs(S.read_table(spark, t)) == [1]
        S.commit(t, _df(spark, [2]), op="overwrite")  # retry
        assert _xs(S.read_table(spark, t)) == [2]

    def test_hint_file_is_not_truth(self, spark, tmp_path):
        """A commit writes no version-hint.text; a stale one left by an
        older writer of the log is never read."""
        t = str(tmp_path / "t")
        S.commit(t, _df(spark, [1]), op="overwrite")
        S.commit(t, _df(spark, [2]), op="overwrite")
        assert sorted(os.listdir(t)) == ["data", "metadata"]
        with open(os.path.join(t, "version-hint.text"), "w") as f:
            f.write("0")
        assert S.current_version(t) == 1
        assert _xs(S.read_table(spark, t)) == [2]

    def test_commit_conflict_raises_and_leaves_winner_intact(
        self, spark, tmp_path, monkeypatch
    ):
        """Two writers race for v1: the loser (who read parent=0 before
        the winner's metadata landed) must raise CommitConflict and
        leave the winner's snapshot untouched."""
        t = str(tmp_path / "t")
        S.commit(t, _df(spark, [1]), op="overwrite")
        real_cv = S.current_version

        def stale(table_dir):
            return 0  # both writers saw parent=0

        monkeypatch.setattr(S, "current_version", stale)
        S.commit(t, _df(spark, [5]), op="overwrite")  # winner takes v1
        with pytest.raises(S.CommitConflict):
            S.commit(t, _df(spark, [2]), op="overwrite")  # loser
        monkeypatch.setattr(S, "current_version", real_cv)
        assert S.current_version(t) == 1
        assert _xs(S.read_table(spark, t, version=1)) == [5]
        # the loser's data dir was cleaned up: only v0's and the
        # winner's dirs remain
        live = {
            p
            for n in (0, 1)
            for p in S._load_meta(t, n)["paths"]
        }
        on_disk = {
            os.path.join("data", d) for d in os.listdir(os.path.join(t, "data"))
        }
        assert on_disk == live

    def test_rollback_is_a_new_version(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.commit(t, _df(spark, [1]), op="overwrite")
        S.commit(t, _df(spark, [2]), op="overwrite")
        v = S.rollback(t, 0)
        assert v == 2
        assert _xs(S.read_table(spark, t)) == [1]
        # history never rewritten: v1 still time-travelable
        assert _xs(S.read_table(spark, t, version=1)) == [2]
        ops = [h["op"] for h in S.history(t)]
        assert ops == ["overwrite", "overwrite", "rollback"]

    def test_expire_keeps_shared_append_dirs(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.commit(t, _df(spark, [1]), op="append")
        S.commit(t, _df(spark, [2]), op="append")
        S.commit(t, _df(spark, [3]), op="append")
        expired = S.expire_snapshots(t, keep_last=2)
        assert expired == [0]
        # v0's data dir is shared by the surviving append chain — kept
        assert _xs(S.read_table(spark, t)) == [1, 2, 3]
        assert _xs(S.read_table(spark, t, version=1)) == [1, 2]
        with pytest.raises(FileNotFoundError):
            S.read_table(spark, t, version=0)

    def test_expire_drops_unreachable_overwrite_data(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.commit(t, _df(spark, [1]), op="overwrite")
        S.commit(t, _df(spark, [2]), op="overwrite")
        S.commit(t, _df(spark, [3]), op="overwrite")
        assert S.expire_snapshots(t, keep_last=1) == [0, 1]
        remaining = os.listdir(os.path.join(t, "data"))
        assert all(d.startswith("000002-") for d in remaining), remaining
        assert _xs(S.read_table(spark, t)) == [3]


class TestPipelineOnSnapshots:
    def test_build_resume_and_crash_safety(self, spark, tmp_path):
        docs = spark.createDataFrame(
            [("en", "a b c"), ("en", "c d"), ("de", "x y")], "lang string, text string"
        )
        ckpt = str(tmp_path / "ckpt")
        sk1, m1 = build_or_resume_sketch_table(
            docs, ["lang"], lambda: HLL.empty(12), ckpt
        )
        assert not m1.resumed
        # a torn NEXT write (data, no metadata) must not break resume
        snap = m1.checkpoint
        orphan = os.path.join(snap, "data", "000001-overwrite")
        os.makedirs(orphan)
        with open(os.path.join(orphan, "junk"), "w") as f:
            f.write("torn")
        sk2, m2 = build_or_resume_sketch_table(
            docs, ["lang"], lambda: HLL.empty(12), ckpt
        )
        assert m2.resumed
        b1 = {r["lang"]: bytes(r["sketch"]) for r in sk1.collect()}
        b2 = {r["lang"]: bytes(r["sketch"]) for r in sk2.collect()}
        assert b1 == b2

    def test_force_rebuild_keeps_prior_snapshot(self, spark, tmp_path):
        docs = spark.createDataFrame([("en", "a b")], "lang string, text string")
        ckpt = str(tmp_path / "ckpt")
        _, m1 = build_or_resume_sketch_table(
            docs, ["lang"], lambda: HLL.empty(12), ckpt
        )
        _, m2 = build_or_resume_sketch_table(
            docs, ["lang"], lambda: HLL.empty(12), ckpt, force=True
        )
        assert not m2.resumed
        assert S.current_version(m1.checkpoint) == 1
        old = S.read_table(spark, m1.checkpoint, version=0)
        assert old.count() == 1

    def test_legacy_bare_parquet_checkpoint_still_resumes(self, spark, tmp_path):
        docs = spark.createDataFrame([("en", "a b")], "lang string, text string")
        ckpt = str(tmp_path / "ckpt")
        _, m1 = build_or_resume_sketch_table(
            docs, ["lang"], lambda: HLL.empty(12), ckpt
        )
        # rewrite the snapshot as the pre-r6 layout: bare parquet dir
        snap = m1.checkpoint
        legacy_df = S.read_table(spark, snap).cache()
        legacy_df.count()
        shutil.rmtree(snap)
        legacy_df.write.parquet(snap)
        _, m2 = build_or_resume_sketch_table(
            docs, ["lang"], lambda: HLL.empty(12), ckpt
        )
        assert m2.resumed


class TestAdviceR7Regressions:
    """r6 ADVICE fixes: create-if-absent commit point, rollback guards,
    snapshot-over-legacy read priority."""

    def test_commit_point_never_replaces_existing_metadata(
        self, spark, tmp_path, monkeypatch
    ):
        """The commit point must be create-if-absent (os.link), not
        rename: POSIX rename silently REPLACES an existing destination,
        so an exists()-then-rename race would let two committers of the
        same version both 'succeed' and one snapshot vanish. Simulate
        the worst-case interleaving: the winner's metadata lands AFTER
        the loser's exists() check would have run (here: it is already
        on disk, and we force both writers to compute the same
        version). The winner's metadata bytes must survive verbatim."""
        t = str(tmp_path / "t")
        S.commit(t, _df(spark, [1]), op="overwrite")
        S.commit(t, _df(spark, [5]), op="overwrite")  # winner owns v1
        winner_meta = open(S._meta_path(t, 1)).read()
        monkeypatch.setattr(S, "current_version", lambda d: 0)
        with pytest.raises(S.CommitConflict):
            S.commit(t, _df(spark, [2]), op="overwrite")
        assert open(S._meta_path(t, 1)).read() == winner_meta
        # no tmp litter from the loser
        assert not [f for f in os.listdir(t) if ".tmp." in f]

    def test_link_failure_leaves_no_garbage_and_names_requirement(
        self, spark, tmp_path, monkeypatch
    ):
        """A filesystem without hard links (os.link raising anything but
        EEXIST): commit and rollback leave no tmp metadata and no new
        data dir, and raise an error naming the local-POSIX need."""
        t = str(tmp_path / "t")
        S.commit(t, _df(spark, [1]), op="overwrite")
        data_before = set(os.listdir(os.path.join(t, "data")))

        def no_link(src, dst):
            raise PermissionError(1, "Operation not permitted")

        monkeypatch.setattr(os, "link", no_link)
        with pytest.raises(OSError, match="local POSIX filesystem with hard links"):
            S.commit(t, _df(spark, [2]), op="overwrite")
        with pytest.raises(OSError, match="local POSIX filesystem with hard links"):
            S.rollback(t, 0)
        monkeypatch.undo()
        assert set(os.listdir(os.path.join(t, "data"))) == data_before
        assert not [f for f in os.listdir(os.path.join(t, "metadata")) if ".tmp." in f]
        assert S.current_version(t) == 0
        assert _xs(S.read_table(spark, t)) == [1]

    def test_rollback_without_commits_raises_cleanly(self, spark, tmp_path):
        t = str(tmp_path / "t_empty")
        os.makedirs(t, exist_ok=True)
        with pytest.raises(FileNotFoundError, match="no committed snapshot"):
            S.rollback(t, 0)

    def test_rollback_conflict_does_not_replace_metadata(
        self, spark, tmp_path, monkeypatch
    ):
        t = str(tmp_path / "t")
        S.commit(t, _df(spark, [1]), op="overwrite")
        S.commit(t, _df(spark, [2]), op="overwrite")
        S.rollback(t, 0)  # v2
        v2_meta = open(S._meta_path(t, 2)).read()
        monkeypatch.setattr(S, "current_version", lambda d: 1)
        with pytest.raises(S.CommitConflict):
            S.rollback(t, 0)  # loser also targets v2
        assert open(S._meta_path(t, 2)).read() == v2_meta

    def test_committed_snapshot_wins_over_legacy_success_marker(
        self, spark, tmp_path
    ):
        """A force=True rebuild over a legacy bare-parquet checkpoint
        leaves the stale part-files + _SUCCESS in place next to the new
        committed snapshot; every later resume must read the SNAPSHOT,
        not the stale legacy files (r6 ADVICE #2)."""
        ckpt = str(tmp_path / "ck")
        docs = spark.createDataFrame(
            [(i, f"tok{i} tok{i+1} tok{i+2}", "en") for i in range(60)],
            ["doc_id", "text", "lang"],
        )
        sk1, m1 = build_or_resume_sketch_table(
            docs, ["lang"], lambda: HLL.empty(10), ckpt
        )
        sk1.count()
        snap_dir = m1.checkpoint
        # fabricate the legacy layout IN the same dir: bare parquet +
        # _SUCCESS at top level (what a pre-r6 build left behind)
        legacy_df = spark.createDataFrame([("STALE",)], "lang string")
        legacy_tmp = str(tmp_path / "legacy_tmp")
        legacy_df.write.mode("overwrite").parquet(legacy_tmp)
        for f in os.listdir(legacy_tmp):
            if f.startswith("part-") or f == "_SUCCESS":
                shutil.copy(
                    os.path.join(legacy_tmp, f), os.path.join(snap_dir, f)
                )
        sk2, m2 = build_or_resume_sketch_table(
            docs, ["lang"], lambda: HLL.empty(10), ckpt
        )
        assert m2.resumed
        assert "STALE" not in {r["lang"] for r in sk2.select("lang").collect()}


class TestFailedWrite:
    def test_failed_write_removes_its_data_dir(self, spark, tmp_path):
        """A commit whose data write raises leaves no data dir behind
        (expire_snapshots could not reap it before some later commit
        reached its version) and commits nothing."""
        t = str(tmp_path / "t")
        S.commit(t, _df(spark, [1]), op="overwrite")
        before = os.listdir(os.path.join(t, "data"))

        @F.udf("int")
        def boom(x):
            raise RuntimeError("injected task failure")

        with pytest.raises(Exception, match="injected task failure"):
            S.commit(t, _df(spark, [2]).select(boom("x").alias("x")))
        assert os.listdir(os.path.join(t, "data")) == before
        assert S.current_version(t) == 0


def _torn_write(after: int):
    """Fault: let ``after`` snapshot data writes through, then make the
    next one tear — its dir appears with a part file, and it raises."""
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet

    def apply(m):
        seen = [0]

        def parquet(self, path, *args, **kwargs):
            if os.path.basename(os.path.dirname(path)) == "data":
                seen[0] += 1
                if seen[0] > after:
                    os.makedirs(path)
                    open(os.path.join(path, "part-00000-torn.parquet"), "w").close()
                    raise OSError("injected write failure")
            return real(self, path, *args, **kwargs)

        m.setattr(DataFrameWriter, "parquet", parquet)

    return apply


def _no_link(m):
    """Fault: the commit point's hard link fails."""

    def link(src, dst):
        raise PermissionError(1, "injected link failure")

    m.setattr(os, "link", link)


class TestCrashMatrix:
    """Every caller of the commit point, failed first at its data write
    and then at its os.link: the state stays at the last commit, the
    re-run is bit-identical to an uninterrupted run, and after
    expire_snapshots no data dir is left that no version names."""

    @staticmethod
    def _crash(monkeypatch, table_dir, fault, run):
        version = S.current_version(table_dir)
        with monkeypatch.context() as m:
            fault(m)
            with pytest.raises(OSError, match="injected"):
                run()
        assert S.current_version(table_dir) == version

    @staticmethod
    def _assert_no_orphans(table_dir):
        S.expire_snapshots(table_dir)
        on_disk = {os.path.join("data", d) for d in os.listdir(os.path.join(table_dir, "data"))}
        assert on_disk <= S._referenced(table_dir)

    def _run_matrix(self, monkeypatch, tmp_path, ops, faults, read):
        """Run ``ops`` uninterrupted on one state dir. Before op k, copy
        that state once per fault in ``faults[k]``; crash op k on the
        copy, re-run it there, and compare with the uninterrupted run."""
        ref = str(tmp_path / "ref")
        for k, op in enumerate(ops):
            copies = []
            for i, fault in enumerate(faults.get(k, ())):
                d = str(tmp_path / f"op{k}_fault{i}")
                shutil.copytree(ref, d)
                self._crash(monkeypatch, d, fault, lambda: op(d))
                copies.append(d)
            op(ref)
            for d in copies:
                op(d)
                assert read(d) == read(ref)
                self._assert_no_orphans(d)

    def test_sketch_pipeline(self, spark, tmp_path, monkeypatch):
        docs = spark.createDataFrame(
            [("en", "a b c"), ("en", "c d"), ("de", "x y")], "lang string, text string"
        )

        def build(ckpt):
            sk, m = build_or_resume_sketch_table(
                docs, ["lang"], lambda: HLL.empty(10), str(tmp_path / ckpt), lineage=False
            )
            return {r["lang"]: bytes(r["sketch"]) for r in sk.collect()}, m

        ref, m_ref = build("ref")
        snap = os.path.basename(m_ref.checkpoint)
        for i, fault in enumerate((_torn_write(0), _no_link)):
            self._crash(
                monkeypatch, str(tmp_path / f"ck{i}" / snap), fault, lambda: build(f"ck{i}")
            )
            out, m = build(f"ck{i}")
            assert out == ref and not m.resumed
            self._assert_no_orphans(m.checkpoint)

    def test_incremental_epoch(self, spark, tmp_path, monkeypatch):
        from dashing_spark.streaming import incremental as inc

        docs = spark.createDataFrame(
            [(i, "en" if i % 3 else "de", f"t{i} t{i % 7} t{i % 11}") for i in range(60)],
            "doc_id long, lang string, text string",
        )
        ops = [
            lambda s, e=e: inc.apply_sketch_batch(
                docs.filter(F.col("doc_id") % 2 == e), e, ["lang"], lambda: HLL.empty(10), s
            )
            for e in range(2)
        ]

        def read(state):
            rows = inc.read_state(spark, state).collect()
            return inc.committed_epoch(state), {r["lang"]: bytes(r["sketch"]) for r in rows}

        self._run_matrix(monkeypatch, tmp_path, ops, {1: (_torn_write(0), _no_link)}, read)

    def test_dedup_epoch_and_compaction(self, spark, tmp_path, monkeypatch):
        from dashing_spark.streaming import dedup_stream as ds

        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta eps{i % 7} zeta{i % 5}") for i in range(60)],
            ["doc_id", "text"],
        )
        ops = [
            lambda s, e=e: ds.apply_dedup_batch(
                docs.filter(F.col("doc_id") % 2 == e), e,
                id_col="doc_id", state_dir=s, threshold=0.9,
            )
            for e in range(2)
        ] + [lambda s: ds.compact_index(spark, s, keep_last=0)]

        def read(state):
            sets = ds._epoch_union(spark, state, "sets", ds._segments(state))
            return (
                ds._tokens(state),
                sorted(tuple(r) for r in ds.read_pairs(spark, state).collect()),
                sorted((bytes(r["sk"]), r["nsz"], sorted(r["member_ids"])) for r in sets.collect()),
            )

        # the torn write is the pairs table's, after the sets table (the
        # epoch's, or the compacted segment's) was written
        faults = (_torn_write(1), _no_link)
        self._run_matrix(monkeypatch, tmp_path, ops, {1: faults, 2: faults}, read)
        assert ds._tokens(str(tmp_path / "ref")) == ["c1"]
        assert ds.read_pairs(spark, str(tmp_path / "ref")).count()  # non-vacuous
