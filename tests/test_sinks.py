"""Sink-layer round-trips (SURVEY §2.2 K1-K8): export to a tmp dir,
read every artifact back, check counts/shapes/content against the
pipeline stages that produced them, and pin every output's bytes."""

from __future__ import annotations

import hashlib
import json
import os
import wave

import pytest

from pyspark.sql import functions as F

from asr_training_data_pipeline_spark.plans.pipeline import full_pipeline
from asr_training_data_pipeline_spark.sinks import export_pipeline_outputs

# sha256 of every output of the sf0.001 export under _pair_filter()
# (see _output_digests): pins fades, seams, retry slices, gate verdicts
# and every tabular sink byte for byte, which counts and shapes do not.
GOLDEN = os.path.join(
    os.path.dirname(__file__), "golden", "sink_export_sf0.001_mod10.json"
)


def _pair_filter():
    return F.col("pair_id") % 10 == 0  # bounded, deterministic subset


def _visible(d):
    return [e for e in sorted(os.listdir(d)) if not e.startswith((".", "_"))]


def _output_digests(out: str, manifest_rows) -> dict[str, str]:
    """name -> sha256 for every logical output: each clip/full file,
    summary.json, each TSV/JSON/CSV sink directory as ONE output (its
    data lines sorted, one header — part-file layout is partitioning,
    not output), and the sorted manifest."""
    digests = {}
    for entry in _visible(out):
        path = os.path.join(out, entry)
        if os.path.isdir(path) and entry.endswith(("_tsv", "_csv", "_json")):
            header, lines = [], []
            for part in _visible(path):
                with open(os.path.join(path, part), "rb") as f:
                    plines = f.read().splitlines(keepends=True)
                if entry.endswith(("_tsv", "_csv")) and plines:
                    header, plines = plines[:1], plines[1:]
                lines += plines
            data = b"".join(header + sorted(lines))
            digests[entry] = hashlib.sha256(data).hexdigest()
        elif os.path.isdir(path):
            for name in _visible(path):
                with open(os.path.join(path, name), "rb") as f:
                    digests[f"{entry}/{name}"] = hashlib.sha256(f.read()).hexdigest()
        else:
            with open(path, "rb") as f:
                digests[entry] = hashlib.sha256(f.read()).hexdigest()
    rows = sorted(tuple(r) for r in manifest_rows)
    digests["manifest"] = hashlib.sha256(repr(rows).encode()).hexdigest()
    return digests


def _manifest_path(out: str, pair_id: int, group_id: int, kind: str) -> str:
    if kind.startswith("full_"):
        return os.path.join(out, f"full_{pair_id:06d}.{kind[5:]}")
    return os.path.join(out, "clips", f"clip_{pair_id:06d}_{group_id:04d}.{kind}")


def _mtimes(out: str) -> dict[str, int]:
    return {
        os.path.join(root, f): os.stat(os.path.join(root, f)).st_mtime_ns
        for root, _, files in os.walk(out)
        for f in files
    }


@pytest.fixture(scope="module")
def exported_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sink_out"))
    manifest = export_pipeline_outputs(
        spark, sf_dir, out, pair_filter=_pair_filter()
    ).toPandas()
    return out, manifest


@pytest.fixture(scope="module")
def small_sf(sf_dir, tmp_path_factory):
    """The first 20 documents of the test scale factor: small enough to
    export unfiltered."""
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("small_sf")
    docs = pq.read_table(f"{sf_dir}/documents.parquet").slice(0, 20)
    pq.write_table(docs, f"{d}/documents.parquet")
    return str(d)


def test_manifest_matches_exported_clips(spark, sf_dir, exported_dir):
    out, manifest = exported_dir
    n_validated = (
        full_pipeline(spark, sf_dir)["exported"].filter(_pair_filter()).count()
    )
    n_wav = (manifest["kind"] == "wav").sum()
    # the export path additionally runs the acoustic gate (reference
    # default-on), so written clips ⊆ validated clips
    assert 0 < n_wav <= n_validated
    assert (manifest["kind"] == "txt").sum() == n_wav
    # summary.json's exported count is the post-gate count
    summary = json.load(open(os.path.join(out, "summary.json")))
    assert summary["exported"] == n_wav
    n_pairs = manifest[manifest["kind"] == "wav"]["pair_id"].nunique()
    assert (manifest["kind"] == "full_wav").sum() == n_pairs


def test_wav_is_valid_and_sized(exported_dir):
    out, manifest = exported_dir
    row = manifest[manifest["kind"] == "wav"].iloc[0]
    path = os.path.join(
        out, "clips", f"clip_{int(row.pair_id):06d}_{int(row.group_id):04d}.wav"
    )
    with wave.open(path, "rb") as w:
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2
        assert w.getframerate() == 16000
        assert w.getnframes() == row.n_frames
    # 44-byte RIFF header + 2 bytes/sample
    assert row.n_bytes == 44 + 2 * row.n_frames


def test_txt_matches_seg_text(spark, sf_dir, exported_dir):
    # The exported transcript is the VALIDATED span's text
    # (keep_words), not the whole group's (claude_research_optimal.py
    # :658, :664).
    out, manifest = exported_dir
    texts = {
        (r.pair_id, r.group_id): r.seg_text
        for r in full_pipeline(spark, sf_dir)["exported"]
        .filter(_pair_filter())
        .select("pair_id", "group_id", "seg_text")
        .collect()
    }
    written = manifest[manifest["kind"] == "txt"].head(5)
    assert len(written) > 0
    for r in written.itertuples(index=False):
        path = os.path.join(
            out, "clips", f"clip_{int(r.pair_id):06d}_{int(r.group_id):04d}.txt"
        )
        assert open(path).read().rstrip("\n") == texts[(r.pair_id, r.group_id)]


def test_full_corpus_concatenation(exported_dir):
    out, manifest = exported_dir
    pair = int(manifest[manifest["kind"] == "wav"]["pair_id"].iloc[0])
    clip_frames = manifest[
        (manifest["pair_id"] == pair) & (manifest["kind"] == "wav")
    ]["n_frames"].sum()
    n_clips = (
        (manifest["pair_id"] == pair) & (manifest["kind"] == "wav")
    ).sum()
    full_frames = int(
        manifest[(manifest["pair_id"] == pair) & (manifest["kind"] == "full_wav")][
            "n_frames"
        ].iloc[0]
    )
    # gap follows EVERY piece, including the last
    # (claude_research_optimal.py:668)
    gap_frames = 500 * 16  # 500 ms at 16 kHz
    assert full_frames == clip_frames + gap_frames * n_clips
    with wave.open(os.path.join(out, f"full_{pair:06d}.wav"), "rb") as w:
        assert w.getnframes() == full_frames


def test_clips_tsv_roundtrip(spark, sf_dir, exported_dir):
    out, manifest = exported_dir
    tsv = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .csv(os.path.join(out, "clips_tsv"))
    )
    assert tsv.count() == (manifest["kind"] == "wav").sum()
    assert tsv.columns == [
        "path", "start", "end", "duration_s2", "words", "pieces",
        "avg_conf", "acoustic_quality",
    ]


def test_summary_and_coverage(spark, sf_dir, exported_dir):
    out, manifest = exported_dir
    summary = json.load(open(os.path.join(out, "summary.json")))
    assert summary["exported"] == (manifest["kind"] == "wav").sum()
    assert "params" in summary and summary["params"]["min_run"] == 4
    cov = spark.read.option("header", True).csv(
        os.path.join(out, "word_coverage_csv")
    )
    assert cov.columns == ["word", "count"]
    assert cov.count() > 0


def test_export_golden_bytes(sf_dir, exported_dir):
    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
        pytest.skip("golden digests are recorded at sf0.001")
    out, manifest = exported_dir
    with open(GOLDEN) as f:
        want = json.load(f)
    got = _output_digests(out, manifest.itertuples(index=False, name=None))
    assert sorted(got) == sorted(want)
    assert [k for k in sorted(want) if got[k] != want[k]] == []


def test_files_written_once_when_export_returns(spark, small_sf, tmp_path):
    """Every file exists when export_pipeline_outputs returns, and
    acting on the returned manifest (twice) reads the held rows instead
    of writing any file again."""
    out = str(tmp_path)
    manifest = export_pipeline_outputs(spark, small_sf, out)
    before = _mtimes(out)  # taken before the manifest is touched
    rows = manifest.collect()
    assert manifest.count() == len(rows) > 0
    for r in rows:
        assert _manifest_path(out, r.pair_id, r.group_id, r.kind) in before
    assert _mtimes(out) == before


def test_pair_filter_exports_same_bytes(spark, small_sf, tmp_path):
    """A filtered export derives audio only for the selected pairs; its
    clip and full-corpus files are byte-identical to an unfiltered
    export's files for those pairs."""
    full_out, sub_out = str(tmp_path / "all"), str(tmp_path / "sub")
    full = export_pipeline_outputs(spark, small_sf, full_out).collect()
    sub = export_pipeline_outputs(spark, small_sf, sub_out, pair_filter=_pair_filter()).collect()
    assert {r.pair_id for r in sub} == {r.pair_id for r in full if r.pair_id % 10 == 0}
    assert sorted(sub) == sorted(r for r in full if r.pair_id % 10 == 0)
    assert any(r.kind == "wav" for r in sub)
    for r in sub:
        with open(_manifest_path(sub_out, r.pair_id, r.group_id, r.kind), "rb") as a, \
                open(_manifest_path(full_out, r.pair_id, r.group_id, r.kind), "rb") as b:
            assert a.read() == b.read()


def test_training_shards_partitioned_and_pruned(spark, sf_dir, tmp_path):
    """Shards land as lang=/shard= partition dirs; a one-shard read
    prunes to that partition (PartitionFilters in the scan, not a
    post-filter over everything); in-file order is the stream order."""
    import os

    from asr_training_data_pipeline_spark.sinks.exports import (
        write_training_shards,
    )

    out = str(tmp_path)
    write_training_shards(spark, sf_dir, out)
    root = f"{out}/training_shards"
    langs = [d for d in os.listdir(root) if d.startswith("lang=")]
    assert len(langs) >= 2
    assert any(d.startswith("shard=") for d in os.listdir(f"{root}/{langs[0]}"))

    df = spark.read.parquet(root)
    one = df.filter("lang = 'en' and shard = 0")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "lang" in plan.split("PartitionFilters", 1)[1][:200]
    rows = one.orderBy("stream_start").collect()
    assert rows and [r.doc_id for r in rows] == [
        r.doc_id for r in sorted(rows, key=lambda r: r.stream_start)
    ]
    # round trip: every doc of that stratum present exactly once
    from asr_training_data_pipeline_spark.operators.curation import pack_sequences

    expect = {
        r.doc_id
        for r in pack_sequences(spark, sf_dir)
        .filter("lang = 'en' and shard = 0")
        .collect()
    }
    assert {r.doc_id for r in rows} == expect


def test_compact_parquet_small_files(spark, tmp_path):
    """Many tiny appended part-files compact into the expected count;
    values round-trip exactly; the swap leaves no leftover dirs."""
    import os

    from pyspark.sql import functions as F

    from asr_training_data_pipeline_spark.sinks.maintenance import compact_parquet

    path = str(tmp_path / "ds")
    for k in range(10):  # 10 appends × 4 partitions = many small files
        spark.range(k * 100, (k + 1) * 100).select(
            F.col("id"), (F.col("id") * 3).alias("v")
        ).repartition(4).write.mode("append").parquet(path)

    before = spark.read.parquet(path).orderBy("id").collect()
    stats = compact_parquet(spark, path, target_rows=250)
    assert stats["rows"] == 1000
    assert stats["files_before"] >= 40
    assert stats["files_after"] == 4  # ceil(1000 / 250)
    after = spark.read.parquet(path).orderBy("id").collect()
    assert after == before
    assert not [d for d in os.listdir(tmp_path) if "__" in d]  # no leftovers
