"""Seeded, vectorized web-text corpus for the benchmark.

Every document is a run of words drawn from a Zipf vocabulary. A share
of documents are copies of earlier "base" documents: exact copies, and
near copies with a few words replaced. Documents carry
a skewed ``lang`` key (few keys, heavy head) and a skewed ``site`` key
(many keys, long tail).

The whole build is numpy and Arrow compute: no per-document Python, so
generating a corpus is a small part of the benchmark's set-up time.

Only ``docs.parquet`` (id, lang, site, text) reaches the program under
test; the word ids and the knob values stay with the benchmark.

Usage:
    python3 perfbench/corpus.py --seed 7 --docs 5000 --out OUT_DIR
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


# fixed shape of every corpus
VOCAB = 50_000  # distinct words
MIN_LEN, MAX_LEN = 50, 300  # words per document
NEAR_EDIT = 0.02  # share of a near copy's words replaced
LANGS = 16  # distinct lang keys


@dataclasses.dataclass(frozen=True)
class Knobs:
    """What a workload may vary: size, copy rates and skews."""

    docs: int = 5000
    sites: int = 400
    dup_rate: float = 0.04  # share of docs that are exact copies
    near_rate: float = 0.06  # share of docs that are near copies
    vocab_skew: float = 1.1  # Zipf exponent of word frequencies
    lang_skew: float = 1.5  # Zipf exponent of the lang key
    site_skew: float = 1.0  # Zipf exponent of the site key


def settings(knobs: Knobs) -> dict:
    """Every value that shaped a corpus: the knobs and the fixed shape."""
    return {"vocab": VOCAB, "min_len": MIN_LEN, "max_len": MAX_LEN,
            "near_edit": NEAR_EDIT, "langs": LANGS, **dataclasses.asdict(knobs)}


@dataclasses.dataclass
class Corpus:
    """The generated corpus plus what the oracles need about it."""

    knobs: Knobs
    seed: int
    table: pa.Table  # id, lang, site, text — the program's input
    tokens: np.ndarray  # flat word ids of every doc, in doc order
    offsets: np.ndarray  # doc i's words are tokens[offsets[i]:offsets[i+1]]
    lang_code: np.ndarray  # per doc, index into lang_names
    site_code: np.ndarray  # per doc, index into site_names
    lang_names: list
    site_names: list

    @property
    def n_docs(self) -> int:
        return len(self.offsets) - 1

    def doc_tokens(self, i: int) -> np.ndarray:
        return self.tokens[self.offsets[i] : self.offsets[i + 1]]

    def write(self, out_dir: str) -> str:
        """Write ``docs.parquet`` and ``corpus.json`` into ``out_dir``;
        returns the parquet path."""
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, "docs.parquet")
        pq.write_table(self.table, path, row_group_size=1 << 20)
        meta = {"seed": self.seed, "knobs": settings(self.knobs)}
        with open(os.path.join(out_dir, "corpus.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        return path


def _zipf_draw(rng, n_values: int, skew: float, size: int) -> np.ndarray:
    """``size`` ranks in [0, n_values) with P(rank k) ∝ 1/(k+1)^skew."""
    w = 1.0 / np.arange(1, n_values + 1, dtype=np.float64) ** skew
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n_values - 1)


def _words(rng, n: int) -> np.ndarray:
    """``n`` distinct lowercase words of 2–10 letters, in random order."""
    out = np.empty(0, dtype="S10")
    while len(out) < n:
        k = 2 * n
        lens = rng.integers(2, 11, size=k)
        letters = rng.integers(ord("a"), ord("z") + 1, size=(k, 10), dtype=np.uint8)
        letters[np.arange(10)[None, :] >= lens[:, None]] = 0
        cand = letters.view("S10").ravel()
        out = np.unique(np.concatenate([out, cand]))
    return rng.permutation(out)[:n]


def _segment_gather(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Flat indices of the ranges [starts[i], starts[i]+lens[i]) — the
    vectorized form of concatenating those slices."""
    total = int(lens.sum())
    seg_start = np.repeat(np.cumsum(lens) - lens, lens)
    return np.repeat(starts, lens) + (np.arange(total) - seg_start)


def generate(seed: int, knobs: Knobs = Knobs()) -> Corpus:
    """Build the corpus for ``seed``; the same seed and knobs give the
    same corpus, byte for byte."""
    rng = np.random.default_rng(seed)
    n = knobs.docs
    n_dup = int(round(n * knobs.dup_rate))
    n_near = int(round(n * knobs.near_rate))
    n_base = n - n_dup - n_near
    if n_base < 1:
        raise ValueError("dup_rate + near_rate leave no base documents")

    words = _words(rng, VOCAB)
    # base documents: Zipf words, uniform lengths
    base_len = rng.integers(MIN_LEN, MAX_LEN + 1, size=n_base)
    base_tok = _zipf_draw(rng, VOCAB, knobs.vocab_skew, int(base_len.sum()))
    base_off = np.concatenate([[0], np.cumsum(base_len)])
    base_lang = _zipf_draw(rng, LANGS, knobs.lang_skew, n_base)

    # copies: each picks a base from a pool as large as the copy count,
    # so a copied base has about Poisson(1) copies
    n_copy = n_dup + n_near
    pool = rng.choice(n_base, size=max(1, min(n_copy, n_base)), replace=False)
    src = pool[rng.integers(0, len(pool), size=n_copy)]
    copy_len = base_len[src]
    copy_tok = base_tok[_segment_gather(base_off[src], copy_len)]
    # near copies (the last n_near) get 1 + Binomial(len, NEAR_EDIT)
    # word positions replaced by fresh Zipf words
    near_len = copy_len[n_dup:]
    n_edit = np.minimum(1 + rng.binomial(near_len, NEAR_EDIT), near_len)
    copy_off = np.concatenate([[0], np.cumsum(copy_len)])
    pos = np.floor(rng.random(int(n_edit.sum())) * np.repeat(near_len, n_edit))
    edit_at = np.repeat(copy_off[n_dup:-1], n_edit) + pos.astype(np.int64)
    copy_tok[edit_at] = _zipf_draw(rng, VOCAB, knobs.vocab_skew, len(edit_at))

    # all docs, shuffled so copies interleave with their bases
    lens = np.concatenate([base_len, copy_len])
    toks = np.concatenate([base_tok, copy_tok])
    off = np.concatenate([[0], np.cumsum(lens)])
    lang = np.concatenate([base_lang, base_lang[src]])
    order = rng.permutation(n)
    lens = lens[order]
    toks = toks[_segment_gather(off[order], lens)]
    off = np.concatenate([[0], np.cumsum(lens)])
    lang = lang[order]
    site = _zipf_draw(rng, knobs.sites, knobs.site_skew, n)

    word_arr = pa.array(np.char.decode(words, "ascii"), type=pa.string())
    tok_strings = word_arr.take(pa.array(toks))
    lists = pa.ListArray.from_arrays(pa.array(off.astype(np.int32)), tok_strings)
    text = pc.binary_join(lists, " ")
    lang_names = [f"l{i:02d}" for i in range(LANGS)]
    site_names = [f"site{i:04d}.example" for i in range(knobs.sites)]
    table = pa.table(
        {
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "lang": pa.array(lang_names).take(pa.array(lang)),
            "site": pa.array(site_names).take(pa.array(site)),
            "text": text,
        }
    )
    return Corpus(
        knobs=knobs,
        seed=seed,
        table=table,
        tokens=toks,
        offsets=off,
        lang_code=lang,
        site_code=site,
        lang_names=lang_names,
        site_names=site_names,
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory for docs.parquet")
    for f in dataclasses.fields(Knobs):
        ap.add_argument(f"--{f.name.replace('_', '-')}", type=type(f.default),
                        default=f.default)
    args = ap.parse_args(argv)
    knobs = Knobs(**{f.name: getattr(args, f.name) for f in dataclasses.fields(Knobs)})
    path = generate(args.seed, knobs).write(args.out)
    print(path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
