"""CLI parity tests — the reference's own CI is an end-to-end CLI smoke
matrix (`.travis.yml:14-24`: dist, b-bit minhash `-8`, containment with
`-Q`/`-F`, `-p4`, `--countmin`, `--nearest-neighbors 2`); this file
mirrors that matrix over document tables and adds exact-value checks
the reference CI lacks (it only asserts exit 0)."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from dashing_spark.cli import main

# fixture sets with known overlaps:
#   A = t0..t49, B = t25..t74, C = t50..t99
#   JI(A,B) = 25/75, JI(A,C) = 0, JI(B,C) = 25/75
SETS = {
    "setA": list(range(0, 50)),
    "setB": list(range(25, 75)),
    "setC": list(range(50, 100)),
}
JI_EXACT = {("setA", "setB"): 25 / 75, ("setA", "setC"): 0.0, ("setB", "setC"): 25 / 75}


@pytest.fixture(scope="module")
def doc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli_docs")
    for name, toks in SETS.items():
        with open(d / f"{name}.jsonl", "w") as f:
            for i in range(0, len(toks), 10):
                text = " ".join(f"t{t}" for t in toks[i : i + 10])
                f.write(json.dumps({"doc_id": i // 10, "text": text}) + "\n")
    return d


def _paths(doc_dir, names=("setA", "setB", "setC")):
    return [str(doc_dir / f"{n}.jsonl") for n in names]


def _parse_ut_tsv(path):
    """UT-TSV -> {(a,b): value} with a<b."""
    with open(path) as f:
        header = f.readline().rstrip("\n").split("\t")
        assert header[0] == "##Names"
        keys = header[1:]
        out = {}
        for i, line in enumerate(f):
            cells = line.rstrip("\n").split("\t")
            assert cells[0] == keys[i]
            for j in range(i + 1, len(keys)):
                out[(keys[i], keys[j])] = float(cells[1 + j])
    return out


class TestDist:
    def test_default_ji_ut_tsv(self, spark, doc_dir, tmp_path):
        out = str(tmp_path / "dist.tsv")
        rc = main(["dist", "-S", "14", "-O", out, *_paths(doc_dir)], spark=spark)
        assert rc == 0
        got = _parse_ut_tsv(out)
        assert set(got) == set(JI_EXACT)
        for pair, exact in JI_EXACT.items():
            assert abs(got[pair] - exact) < 0.05, (pair, got[pair], exact)

    def test_exact_sets_with_presketched_refuses(self, spark, tmp_path):
        # r6 ADVICE #5: --use-full-khash-sets needs document inputs to
        # rebuild exact sets; with -H it silently served sketch
        # ESTIMATES while the user believed they got ground truth
        with pytest.raises(SystemExit, match="incompatible"):
            main(
                ["dist", "--use-full-khash-sets", "-H", "-O",
                 str(tmp_path / "x.tsv"), str(tmp_path / "nope")],
                spark=spark,
            )

    def test_exact_sets_mode_is_exact(self, spark, doc_dir, tmp_path):
        out = str(tmp_path / "exact.tsv")
        rc = main(
            ["dist", "--use-full-khash-sets", "-O", out, *_paths(doc_dir)],
            spark=spark,
        )
        assert rc == 0
        got = _parse_ut_tsv(out)
        for pair, exact in JI_EXACT.items():
            assert got[pair] == pytest.approx(exact, abs=1e-6)

    def test_mash_dist_phylip(self, spark, doc_dir, tmp_path):
        out = str(tmp_path / "mash.phylip")
        rc = main(
            ["dist", "-M", "-U", "-k", "2", "-S", "14", "-O", out, *_paths(doc_dir)],
            spark=spark,
        )
        assert rc == 0
        with open(out) as f:
            assert f.readline().strip() == "3"
            rows = [ln.rstrip("\n").split("\t") for ln in f]
        assert [r[0] for r in rows] == ["setA", "setB", "setC"]
        # disjoint pair (A,C) has the maximal distance of the three
        vals = {("setA", "setB"): float(rows[0][1]), ("setA", "setC"): float(rows[0][2]),
                ("setB", "setC"): float(rows[1][1])}
        assert vals[("setA", "setC")] > vals[("setA", "setB")]

    def test_binary_emit_printmat_roundtrip(self, spark, doc_dir, tmp_path, capsys):
        binp = str(tmp_path / "mat.bin")
        rc = main(["dist", "-S", "14", "-b", "-O", binp, *_paths(doc_dir)], spark=spark)
        assert rc == 0
        lbl = tmp_path / "labels.txt"
        lbl.write_text("setA\nsetB\nsetC\n")
        rc = main(["printmat", binp, "--labels", str(lbl)])
        assert rc == 0
        lines = capsys.readouterr().out.strip().splitlines()
        assert lines[0].split("\t")[0] == "##Names"
        a_row = lines[1].split("\t")
        assert a_row[0] == "setA"
        assert abs(float(a_row[2]) - JI_EXACT[("setA", "setB")]) < 0.05

    def test_query_reference_mode(self, spark, doc_dir, tmp_path):
        qfile = tmp_path / "queries.txt"
        qfile.write_text(str(doc_dir / "setA.jsonl") + "\n")
        ffile = tmp_path / "refs.txt"
        ffile.write_text(
            "\n".join([str(doc_dir / "setB.jsonl"), str(doc_dir / "setC.jsonl")])
        )
        out = str(tmp_path / "panel.tsv")
        rc = main(
            ["dist", "--containment-index", "-S", "14",
             "-Q", str(qfile), "-F", str(ffile), "-O", out],
            spark=spark,
        )
        assert rc == 0
        with open(out) as f:
            header = f.readline().strip().split("\t")
            rows = [ln.strip().split("\t") for ln in f]
        assert header == ["q_key", "r_key", "containment"]
        assert [(r[0], r[1]) for r in rows] == [("setA", "setB"), ("setA", "setC")]
        # containment(A in B) = 25/50; containment(A in C) = 0
        assert abs(float(rows[0][2]) - 0.5) < 0.08
        assert float(rows[1][2]) < 0.08

    def test_nearest_neighbors(self, spark, doc_dir, tmp_path):
        out = str(tmp_path / "nn.tsv")
        rc = main(
            ["dist", "--nearest-neighbors", "1", "-S", "14", "-O", out,
             *_paths(doc_dir)],
            spark=spark,
        )
        assert rc == 0
        with open(out) as f:
            f.readline()
            rows = [ln.strip().split("\t") for ln in f]
        by_a = {r[0]: r[1] for r in rows}
        assert len(rows) == 3  # one best neighbor per set
        assert by_a["setA"] == "setB" and by_a["setC"] == "setB"

    def test_out_parquet_scale_path(self, spark, doc_dir, tmp_path):
        out = str(tmp_path / "pairs.parquet")
        rc = main(
            ["dist", "-S", "14", "--out-parquet", out, *_paths(doc_dir)],
            spark=spark,
        )
        assert rc == 0
        df = spark.read.parquet(out)
        assert df.count() == 3 and "ji" in df.columns

    def test_sizes_output(self, spark, doc_dir, tmp_path):
        sizes = str(tmp_path / "sizes.tsv")
        dists = str(tmp_path / "d.tsv")
        rc = main(
            ["dist", "-S", "14", "-o", sizes, "-O", dists, *_paths(doc_dir)],
            spark=spark,
        )
        assert rc == 0
        with open(sizes) as f:
            header = f.readline().strip().split("\t")
            got = {r[0]: float(r[1]) for r in (ln.strip().split("\t") for ln in f)}
        assert header == ["key", "cardinality"]
        for k in SETS:
            assert abs(got[k] - 50) / 50 < 0.1


class TestEstimatorFlags:
    @pytest.mark.parametrize(
        "flag, estimator", [("-m", "ertl_mle"), ("-E", "original")]
    )
    def test_hll_pair_values_follow_the_flag(
        self, spark, doc_dir, tmp_path, flag, estimator
    ):
        """dist -m / -E on HLL sketches give, per pair, what in-process
        compare() gives under that estimator: the flag reaches the pair
        stage."""
        from dashing_spark.functions.compare import compare
        from dashing_spark.functions.serde import sketch_from_bytes

        skp = str(tmp_path / "sk.parquet")
        rc = main(["sketch", "-S", "10", "-o", skp, *_paths(doc_dir)], spark=spark)
        assert rc == 0
        out = str(tmp_path / "pairs.parquet")
        rc = main(["dist", "-H", flag, "--out-parquet", out, skp], spark=spark)
        assert rc == 0
        sk = {
            r["key"]: sketch_from_bytes(bytes(r["sketch"]))
            for r in spark.read.parquet(skp).collect()
        }
        got = {
            (r["a_key"], r["b_key"]): r["ji"]
            for r in spark.read.parquet(out).collect()
        }
        assert len(got) == 3
        for (a, b), v in got.items():
            want = compare(sk[a], sk[b], "ji", estimator=estimator)
            assert abs(v - want) <= 1e-6 * want, (flag, a, b, v, want)


    def test_card_joint_flag_gives_the_mle(self, spark, doc_dir, tmp_path):
        """On one sketch the joint model is the §3 Poisson model, so
        card -J estimates what card -m does, per key."""
        got = {}
        for flag in ("-J", "-m"):
            out = str(tmp_path / f"card{flag}.tsv")
            rc = main(["card", flag, "-o", out, *_paths(doc_dir)], spark=spark)
            assert rc == 0
            with open(out) as f:
                f.readline()
                got[flag] = {
                    k: float(v) for k, v in (ln.rstrip("\n").split("\t") for ln in f)
                }
        assert sorted(got["-m"]) == sorted(SETS)
        assert got["-J"] == got["-m"]


class TestSketchUnionFoldView:
    def test_sketch_then_presketched_dist(self, spark, doc_dir, tmp_path):
        skp = str(tmp_path / "sk.parquet")
        rc = main(["sketch", "-S", "14", "-o", skp, *_paths(doc_dir)], spark=spark)
        assert rc == 0
        out = str(tmp_path / "d.tsv")
        rc = main(["dist", "-H", "-O", out, skp], spark=spark)
        assert rc == 0
        got = _parse_ut_tsv(out)
        for pair, exact in JI_EXACT.items():
            assert abs(got[pair] - exact) < 0.05

    def test_union_card_fold_view(self, spark, doc_dir, tmp_path, capsys):
        skp = str(tmp_path / "sk.parquet")
        main(["sketch", "-S", "14", "-o", skp, *_paths(doc_dir)], spark=spark)
        unionp = str(tmp_path / "union.parquet")
        rc = main(["union", "--by-key", "-o", unionp, skp], spark=spark)
        assert rc == 0
        globalp = str(tmp_path / "global.parquet")
        rc = main(["union", "-o", globalp, skp], spark=spark)
        assert rc == 0
        card = str(tmp_path / "card.tsv")
        rc = main(["card", "-H", "-o", card, globalp], spark=spark)
        assert rc == 0
        with open(card) as f:
            f.readline()
            est = float(f.readline().strip().split("\t")[1])
        assert abs(est - 100) / 100 < 0.1  # |A ∪ B ∪ C| = 100
        foldp = str(tmp_path / "fold.parquet")
        rc = main(["fold", "-S", "10", "-o", foldp, globalp], spark=spark)
        assert rc == 0
        card2 = str(tmp_path / "card2.tsv")
        main(["card", "-H", "-o", card2, foldp], spark=spark)
        with open(card2) as f:
            f.readline()
            est2 = float(f.readline().strip().split("\t")[1])
        assert abs(est2 - 100) / 100 < 0.2
        capsys.readouterr()  # drop the path echoes of the earlier commands
        rc = main(["view", foldp], spark=spark)
        assert rc == 0
        out = capsys.readouterr().out.strip().splitlines()
        assert len(out) == 1 and out[0].startswith("union\t")

    def test_cache_sketches_resumes(self, spark, doc_dir, tmp_path):
        cache = str(tmp_path / "cache") + os.sep
        os.makedirs(cache, exist_ok=True)
        out1 = str(tmp_path / "d1.tsv")
        rc = main(
            ["dist", "-W", "-P", cache, "-S", "12", "-O", out1, *_paths(doc_dir)],
            spark=spark,
        )
        assert rc == 0
        snaps = [d for d in os.listdir(cache) if d.startswith("sketches_")]
        assert len(snaps) == 1
        out2 = str(tmp_path / "d2.tsv")
        rc = main(
            ["dist", "-W", "-P", cache, "-S", "12", "-O", out2, *_paths(doc_dir)],
            spark=spark,
        )
        assert rc == 0
        assert open(out1).read() == open(out2).read()
        assert [d for d in os.listdir(cache) if d.startswith("sketches_")] == snaps

    def test_sketch_by_seq(self, spark, doc_dir, tmp_path):
        skp = str(tmp_path / "byseq.parquet")
        rc = main(
            ["sbs", "--key-col", "doc_id", "-S", "10", "-o", skp,
             str(doc_dir / "setA.jsonl")],
            spark=spark,
        )
        assert rc == 0
        df = spark.read.parquet(skp)
        assert df.count() == 5  # 50 tokens / 10 per doc


class TestModesAndSweeps:
    @pytest.mark.parametrize(
        "flags",
        [["-8"], ["--use-range-minhash"], ["-J"], ["-I"], ["-E"]],
        ids=["bbminhash", "rangeminhash", "jointmle", "improved", "original"],
    )
    def test_sketch_type_and_estimator_flags(self, spark, doc_dir, tmp_path, flags):
        out = str(tmp_path / "d.tsv")
        rc = main(["dist", "-S", "12", *flags, "-O", out, *_paths(doc_dir)], spark=spark)
        assert rc == 0
        got = _parse_ut_tsv(out)
        for pair, exact in JI_EXACT.items():
            assert abs(got[pair] - exact) < 0.12, (flags, pair, got[pair])

    def test_min_count_filter(self, spark, doc_dir, tmp_path):
        # duplicate setA twice in one table: every token count >= 2 only
        # in the doubled file
        d = tmp_path / "dup.jsonl"
        with open(d, "w") as f:
            for _ in range(2):
                for i in range(0, 50, 10):
                    text = " ".join(f"t{t}" for t in range(i, i + 10))
                    f.write(json.dumps({"doc_id": i, "text": text}) + "\n")
        card = str(tmp_path / "card.tsv")
        rc = main(
            ["card", "-c", "2", "-S", "14", "-o", card,
             str(d), str(doc_dir / "setB.jsonl")],
            spark=spark,
        )
        assert rc == 0
        with open(card) as f:
            f.readline()
            got = {r[0]: float(r[1]) for r in (ln.strip().split("\t") for ln in f)}
        assert abs(got["dup"] - 50) / 50 < 0.1  # all 50 tokens appear twice
        assert got["setB"] == 0.0  # no token repeats in setB

    def test_wj_weighted_mode(self, spark, doc_dir, tmp_path):
        card = str(tmp_path / "card.tsv")
        rc = main(
            ["card", "--wj", "-S", "14", "-o", card, str(doc_dir / "setA.jsonl")],
            spark=spark,
        )
        assert rc == 0
        with open(card) as f:
            f.readline()
            est = float(f.readline().strip().split("\t")[1])
        assert abs(est - 50) / 50 < 0.1  # multiset size == set size here

    def test_mkdist_and_flatten(self, spark, doc_dir, tmp_path):
        out = str(tmp_path / "mk.tsv")
        rc = main(["mkdist", "--ks", "1,2", "-o", out, *_paths(doc_dir)], spark=spark)
        assert rc == 0
        with open(out) as f:
            header = f.readline().strip().split("\t")
            rows = [ln.strip().split("\t") for ln in f]
        assert "k" in header and len(rows) == 6  # 3 pairs x 2 ks
        flat = str(tmp_path / "flat.tsv")
        rc = main(
            ["flatten", "--ks", "1,2", "--measure", "mash_dist", "-o", flat,
             *_paths(doc_dir)],
            spark=spark,
        )
        assert rc == 0
        with open(flat) as f:
            header = f.readline().strip().split("\t")
        assert header == ["a_key", "b_key", "1", "2"]

    def test_hll_default_precision(self, spark, doc_dir, tmp_path):
        card = str(tmp_path / "card.tsv")
        rc = main(["hll", "-o", card, str(doc_dir / "setA.jsonl")], spark=spark)
        assert rc == 0
        with open(card) as f:
            f.readline()
            est = float(f.readline().strip().split("\t")[1])
        assert abs(est - 50) / 50 < 0.02  # p=24 is near-exact at n=50


class TestTravisMirror:
    """The reference CI matrix, one assert each (exit 0 + sane output) —
    `.travis.yml:14-24` runs dist / -8 / -Q+-F / -p4 / --countmin /
    --nearest-neighbors 2 on bundled genomes."""

    def test_matrix(self, spark, doc_dir, tmp_path):
        paths = _paths(doc_dir)
        ffile = tmp_path / "all.txt"
        ffile.write_text("\n".join(paths))
        qfile = tmp_path / "q.txt"
        qfile.write_text(paths[0])
        runs = [
            ["dist", "-O", str(tmp_path / "t1"), *paths],
            ["dist", "-8", "-O", str(tmp_path / "t2"), *paths],
            ["dist", "--containment-index", "-Q", str(qfile), "-F", str(ffile),
             "-O", str(tmp_path / "t3")],
            ["dist", "-p", "4", "-O", str(tmp_path / "t4"), "-F", str(ffile)],
            ["card", "-c", "1", "-y", "-o", str(tmp_path / "t5"), *paths],
            ["dist", "--nearest-neighbors", "2", "-O", str(tmp_path / "t6"), *paths],
        ]
        for argv in runs:
            assert main(argv, spark=spark) == 0, argv
            outp = argv[argv.index("-O") + 1] if "-O" in argv else argv[argv.index("-o") + 1]
            assert os.path.getsize(outp) > 0, argv


class TestReviewRegressions:
    """Each test pins a reviewed-and-fixed CLI defect."""

    def test_negative_seed_short_spelling(self, spark, doc_dir, tmp_path):
        # '-8' being a flag must not make argparse reject negative VALUES
        out = str(tmp_path / "d.tsv")
        rc = main(["dist", "-R", "-3", "-S", "12", "-O", out, *_paths(doc_dir)],
                  spark=spark)
        assert rc == 0
        assert abs(_parse_ut_tsv(out)[("setA", "setB")] - 25 / 75) < 0.12

    def test_single_input_keeps_its_axis(self, spark, doc_dir, tmp_path):
        out = str(tmp_path / "one.tsv")
        rc = main(["dist", "-S", "12", "-O", out,
                   str(doc_dir / "setA.jsonl")], spark=spark)
        assert rc == 0
        with open(out) as f:
            assert f.readline().strip() == "##Names\tsetA"
            assert f.readline().strip() == "setA\t-"

    def test_binary_labels_sidecar_input_order(self, spark, doc_dir, tmp_path, capsys):
        binp = str(tmp_path / "mat.bin")
        # NON-sorted input order must be preserved on the axes
        rc = main(["dist", "-S", "12", "-b", "-O", binp,
                   str(doc_dir / "setC.jsonl"), str(doc_dir / "setA.jsonl")],
                  spark=spark)
        assert rc == 0
        assert open(binp + ".labels").read() == "setC\nsetA\n"
        rc = main(["printmat", binp])  # sidecar auto-loaded
        assert rc == 0
        lines = capsys.readouterr().out.strip().splitlines()
        assert lines[1].split("\t")[0] == "setC"
        assert float(lines[1].split("\t")[2]) < 0.1  # JI(C, A) = 0

    def test_presketched_query_paths(self, spark, doc_dir, tmp_path):
        ska = str(tmp_path / "ska.parquet")
        skbc = str(tmp_path / "skbc.parquet")
        main(["sketch", "-S", "14", "-o", ska, str(doc_dir / "setA.jsonl")],
             spark=spark)
        main(["sketch", "-S", "14", "-o", skbc, str(doc_dir / "setB.jsonl"),
              str(doc_dir / "setC.jsonl")], spark=spark)
        qfile = tmp_path / "q.txt"
        qfile.write_text(ska + "\n")
        out = str(tmp_path / "panel.tsv")
        rc = main(["dist", "-H", "--containment-index", "-Q", str(qfile),
                   "-O", out, skbc], spark=spark)
        assert rc == 0
        with open(out) as f:
            f.readline()
            rows = {(r[0], r[1]): float(r[2])
                    for r in (ln.strip().split("\t") for ln in f)}
        assert set(rows) == {("setA", "setB"), ("setA", "setC")}
        assert abs(rows[("setA", "setB")] - 0.5) < 0.08

    def test_exact_mode_honors_min_count(self, spark, doc_dir, tmp_path):
        d = tmp_path / "dup.jsonl"
        with open(d, "w") as f:
            for _ in range(2):
                for i in range(0, 50, 10):
                    text = " ".join(f"t{t}" for t in range(i, i + 10))
                    f.write(json.dumps({"doc_id": i, "text": text}) + "\n")
        card = str(tmp_path / "card.tsv")
        rc = main(["card", "--use-full-khash-sets", "-c", "2", "-o", card,
                   str(d), str(doc_dir / "setB.jsonl")], spark=spark)
        assert rc == 0
        with open(card) as f:
            f.readline()
            got = {r[0]: float(r[1]) for r in (ln.strip().split("\t") for ln in f)}
        assert got == {"dup": 50.0, "setB": 0.0}  # filtered-out key kept, at 0

    def test_exact_mode_weighted_jaccard(self, spark, tmp_path):
        da, db = tmp_path / "wa.jsonl", tmp_path / "wb.jsonl"
        da.write_text(json.dumps({"doc_id": 0, "text": "x x y"}) + "\n")
        db.write_text(json.dumps({"doc_id": 0, "text": "x y y"}) + "\n")
        out = str(tmp_path / "wji.tsv")
        rc = main(["dist", "--use-full-khash-sets", "--wj", "-O", out,
                   str(da), str(db)], spark=spark)
        assert rc == 0
        # WJI({x:2,y:1},{x:1,y:2}) = (1+1)/(2+2) = 0.5
        assert _parse_ut_tsv(out)[("wa", "wb")] == pytest.approx(0.5)

    def test_mkdist_honors_shingle_width(self, spark, doc_dir, tmp_path):
        out1 = str(tmp_path / "w1.tsv")
        out2 = str(tmp_path / "w2.tsv")
        for w, out in ((1, out1), (2, out2)):
            rc = main(["mkdist", "-k", str(w), "--ks", "2", "--ji", "-o", out,
                       *_paths(doc_dir)], spark=spark)
            assert rc == 0
        # unigram item sets of A and B overlap; 2-shingle sets are the
        # docs' distinct windows — the measure must CHANGE with -k
        def ji_ab(p):
            with open(p) as f:
                f.readline()
                for ln in f:
                    r = ln.strip().split("\t")
                    if r[0] == "setA" and r[1] == "setB":
                        return float(r[2])  # (a_key, b_key, measure, k)
        assert ji_ab(out1) != ji_ab(out2)

    def test_by_seq_query_paths(self, spark, doc_dir, tmp_path):
        qfile = tmp_path / "q.txt"
        qfile.write_text(str(doc_dir / "setA.jsonl"))
        out = str(tmp_path / "panel.tsv")
        rc = main(["cmp_by_seq", "--key-col", "doc_id", "-S", "12",
                   "-Q", str(qfile), "-O", out, str(doc_dir / "setA.jsonl")],
                  spark=spark)
        assert rc == 0
        with open(out) as f:
            f.readline()
            rows = [ln.strip().split("\t") for ln in f]
        assert len(rows) == 25  # 5 query docs x 5 reference docs

    def test_presketched_requires_paths(self, spark):
        with pytest.raises(SystemExit):
            main(["dist", "-H", "-O", "/tmp/never.tsv"], spark=spark)

    def test_jsonl_directory_input(self, spark, doc_dir, tmp_path):
        # a Spark-written json DATASET DIRECTORY named *.jsonl must not
        # be misread as parquet
        src = spark.read.json(str(doc_dir / "setA.jsonl"))
        dirp = str(tmp_path / "dirA.jsonl")
        src.write.mode("overwrite").json(dirp)
        card = str(tmp_path / "card.tsv")
        rc = main(["card", "-S", "14", "-o", card, dirp], spark=spark)
        assert rc == 0
        with open(card) as f:
            f.readline()
            est = float(f.readline().strip().split("\t")[1])
        assert abs(est - 50) / 50 < 0.1


class TestCurateSubcommand:
    def test_curate_pipeline_end_to_end(self, spark, tmp_path):
        docs = tmp_path / "docs.jsonl"

        def three_sentences(i):
            return (f"Document number {i} has a proper sentence here.\n"
                    f"Another sentence number {i} follows right along!\n"
                    f"A third sentence number {i} closes this out?")

        with open(docs, "w") as f:
            for i in range(6):
                f.write(json.dumps({"doc_id": i, "text": three_sentences(i),
                                    "lang": "en"}) + "\n")
            # byte-identical duplicate of doc 0 under a new id
            f.write(json.dumps({"doc_id": 99, "text": three_sentences(0),
                                "lang": "en"}) + "\n")
        out = str(tmp_path / "curated.parquet")
        rc = main(
            ["curate", "--min-quality", "0", "--c4", "-o", out, str(docs)],
            spark=spark,
        )
        assert rc == 0
        kept = spark.read.parquet(out)
        ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
        assert 99 not in ids  # exact dup dropped (min-id keeper)
        assert kept.count() >= 1
        # C4 rewrite preserved all three qualifying lines verbatim
        t = kept.filter(F.col("doc_id") == 1).first()["text"]
        assert t == three_sentences(1)


class TestDedupSubcommand:
    def test_minhash_pairs_and_clusters(self, spark, tmp_path):
        docs = tmp_path / "docs.jsonl"
        base = " ".join(f"w{i}" for i in range(40))
        with open(docs, "w") as f:
            for i, text in enumerate([base, base + " extra", base + " other",
                                      " ".join(f"z{i}" for i in range(40))]):
                f.write(json.dumps({"doc_id": i, "text": text}) + "\n")
        pairs_out = str(tmp_path / "pairs.parquet")
        rc = main(["dedup", "--threshold", "0.9", "-o", pairs_out, str(docs)],
                  spark=spark)
        assert rc == 0
        pairs = {(r["a_id"], r["b_id"])
                 for r in spark.read.parquet(pairs_out).collect()}
        assert pairs == {(0, 1), (0, 2), (1, 2)}  # the three near-dups
        cl_out = str(tmp_path / "clusters.parquet")
        rc = main(["dedup", "--clusters", "-o", cl_out, str(docs)], spark=spark)
        assert rc == 0
        comp = {r["id"]: r["comp"]
                for r in spark.read.parquet(cl_out).collect()}
        assert comp == {0: 0, 1: 0, 2: 0}  # one cluster, min-id label

    def test_exact_mode(self, spark, tmp_path):
        docs = tmp_path / "docs.jsonl"
        with open(docs, "w") as f:
            for i, t in enumerate(["same text here", "same text here", "unique"]):
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        out = str(tmp_path / "exact.parquet")
        rc = main(["dedup", "--method", "exact", "-o", out, str(docs)],
                  spark=spark)
        assert rc == 0
        rows = {r["keeper_id"]: r["n_docs"]
                for r in spark.read.parquet(out).collect()}
        assert rows == {0: 2, 2: 1}
