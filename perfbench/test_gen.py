"""Self-tests for the seeded input generator.

Run: ``python3 -m pytest perfbench/test_gen.py -q``
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import reference  # noqa: E402


def _docs(d):
    return pq.read_table(os.path.join(d, "documents.parquet"))


def test_same_seed_same_input_other_seed_other_words(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, 200, 10, 100, 0.05)
    b = gen.generate(str(tmp_path / "b"), 7, 200, 10, 100, 0.05)
    c = gen.generate(str(tmp_path / "c"), 8, 200, 10, 100, 0.05)
    assert _docs(tmp_path / "a").equals(_docs(tmp_path / "b"))
    assert a == b
    assert not _docs(tmp_path / "a").equals(_docs(tmp_path / "c"))
    # stratified lengths: the originals' word total does not depend on the seed
    assert abs(a["n_words"] - c["n_words"]) < 0.05 * a["n_words"]


def test_schema_and_planted_pairs(tmp_path):
    truth = gen.generate(str(tmp_path), 3, 400, 10, 100, 0.05)
    t = _docs(tmp_path)
    assert t.column_names == ["doc_id", "text", "lang", "source", "n_chars"]
    rows = t.to_pydict()
    assert rows["doc_id"] == list(range(400))
    assert all(n == len(x) for n, x in zip(rows["n_chars"], rows["text"]))
    assert len(truth["planted_pairs"]) == 20
    for src, dup in truth["planted_pairs"]:
        assert src < dup
        assert reference.shingle_jaccard(rows["text"][src], rows["text"][dup]) >= 0.67
