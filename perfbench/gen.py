"""Seeded input generator for the benchmark workloads.

Writes ``documents.parquet`` with the schema the engine's
``load_table(spark, dir, "documents")`` reads (``doc_id``, ``text``,
``lang``, ``source``, ``n_chars``) plus ``truth.json``, the planted
near-duplicate pairs. The program under test only ever receives the
directory; the ground truth is read back by the benchmark's checks.

Parameters: document (pair) count, the words-per-document range, and
the near-duplicate share. The same seed always gives byte-identical
inputs.

Lengths are stratified over the range (one evenly spaced length per
document, shuffled by the seed) so that the total word count, and with
it the work a run does, is the same for every seed; the seed decides
the order, the words and which documents are duplicated.

Run directly: ``python3 perfbench/gen.py OUT_DIR --docs 100 --words 10 100
--dup-share 0.05 --seed 1``.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "de", "es", "fr", "zh")
N_SOURCES = 20
VOCAB_SIZE = 2000
_ONSETS = ("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "w", "br", "ch", "st", "tr", "sh", "pl")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ea", "ou")
_CODAS = ("", "n", "s", "t", "r", "ng", "ck", "ll", "d", "m")


def vocabulary() -> list[str]:
    """A fixed 2,000-word vocabulary of pronounceable tokens (one to
    three syllables), independent of the seed."""
    words: list[str] = []
    seen: set[str] = set()
    rng = np.random.default_rng(20240611)
    while len(words) < VOCAB_SIZE:
        n_syl = int(rng.integers(1, 4))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(n_syl)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def generate(
    out_dir: str,
    seed: int,
    n_docs: int,
    words_lo: int,
    words_hi: int,
    dup_share: float = 0.0,
) -> dict:
    """Write the inputs under ``out_dir`` and return the ground truth
    (also written to ``out_dir/truth.json``)."""
    if n_docs < 1 or not 1 <= words_lo <= words_hi:
        raise ValueError("need n_docs >= 1 and 1 <= words_lo <= words_hi")
    if not 0.0 <= dup_share < 0.5:
        raise ValueError("dup_share must be in [0, 0.5)")
    rng = np.random.default_rng(seed % 2**64)  # any integer seed, negative too
    vocab = np.array(vocabulary())
    # Zipf-like unigram weights: a few frequent words and a long tail,
    # the shape real transcripts have.
    weights = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** 1.05
    weights /= weights.sum()

    lengths = np.rint(np.linspace(words_lo, words_hi, n_docs)).astype(int)
    rng.shuffle(lengths)

    n_dups = int(round(n_docs * dup_share))
    dup_ids = np.sort(rng.choice(np.arange(1, n_docs), size=n_dups, replace=False)) if n_dups else np.array([], dtype=int)
    dup_set = set(int(d) for d in dup_ids)

    # One vectorized draw for every original document's words; the
    # near-duplicates copy their source instead of using their slice.
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    idx = rng.choice(VOCAB_SIZE, size=int(bounds[-1]), p=weights)
    r = rng.random(int(bounds[-1]))
    # Surface forms: mostly bare, sometimes capitalized or followed by
    # punctuation, so the program's normalizers have work to do.
    variants = np.array(
        [[w.capitalize() for w in vocab], [w + "," for w in vocab],
         [w + "." for w in vocab], list(vocab)]
    )
    forms = variants[np.searchsorted([0.06, 0.10, 0.12], r, side="right"), idx].tolist()

    texts: list[str] = []
    planted: list[list[int]] = []
    for doc_id in range(n_docs):
        if doc_id in dup_set:
            # Near-duplicate of an earlier original: the source's text
            # with its last token replaced (and, for documents of 30+
            # words, its first token too), so the 5-word-shingle Jaccard
            # stays at or above (n - 6) / (n - 2) >= 0.67 for n >= 10.
            src = int(rng.integers(0, doc_id))
            while src in dup_set:
                src = int(rng.integers(0, doc_id))
            toks = texts[src].split(" ")
            toks[-1] = str(vocab[rng.integers(VOCAB_SIZE)]) + "x"
            if len(toks) >= 30:
                toks[0] = str(vocab[rng.integers(VOCAB_SIZE)]) + "y"
            texts.append(" ".join(toks))
            planted.append([src, doc_id])
            continue
        texts.append(" ".join(forms[bounds[doc_id]:bounds[doc_id + 1]]))

    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)], pa.string()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, N_SOURCES, n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    truth = {
        "seed": seed,
        "n_docs": n_docs,
        "words": [words_lo, words_hi],
        "dup_share": dup_share,
        "n_words": int(sum(len(t.split(" ")) for t in texts)),
        "planted_pairs": planted,
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--words", type=int, nargs=2, required=True, metavar=("LO", "HI"))
    ap.add_argument("--dup-share", type=float, default=0.0)
    a = ap.parse_args()
    t = generate(a.out_dir, a.seed, a.docs, a.words[0], a.words[1], a.dup_share)
    print(json.dumps({k: v for k, v in t.items() if k != "planted_pairs"}))


if __name__ == "__main__":
    main()
