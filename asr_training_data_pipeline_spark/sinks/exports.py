"""Sinks (SURVEY §2.2 K1-K8) — the reference's complete output
contract, re-expressed as distributed Spark writers.

Reference layout (/root/reference/claude_research_optimal.py:661-694,
batch_processor.py:100-110):

- per-clip ``clip_*.wav`` + ``clip_*.txt``            (K1/K2, :663-664)
- ``clips.tsv`` 8-column metadata                      (K3, :477,666,673)
- per-recording ``full_{pair}.wav`` / ``full_{pair}.txt``
  with silence seams between clips                     (K4+K8, :668-676
  + the batch wrapper's promote-to-parent rename, batch_processor.py:100-110)
- ``summary.json`` / ``rejections.json``               (K5, :679-694)
- ``word_coverage.csv``                                (K6, batch_processor.py:39-45)
- ``batch_summary.json``                               (K7, batch_processor.py:177-179)

Execution model: ONE pass over the audio per recording. Each pair's
exported clips are collected into a small list and broadcast-joined to
the pair's PCM row (the samples never cross an exchange), and one
mapInPandas task per recording (``export_clip_files``) runs the F7
acoustic gate on each clip and writes the kept clip's WAV/TXT and the
recording's full corpus from the piece the gate computed. That pass is
pinned in one cache slot holding only verdict and manifest rows (no
PCM), materialized before ``export_pipeline_outputs`` returns, so every
file is written exactly once; the acoustic log, rejections, clips.tsv,
coverage CSV, summary and batch summary all read the held rows.
Tabular sinks are plain ``df.write`` (distributed part files). The only
driver-side write is ``summary.json`` — a single aggregate row by
construction.

WAV encode is REAL (stdlib ``wave``, 16-bit PCM) — no codec library
needed; fades (C11, claude_research_optimal.py:330-333,600-606) and
silence seams (C12, :337,478,669) are numpy ramps/zeros applied in
the per-recording pass, where the decoded samples live
(operators.dsp.clip_bases / gate_clip).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import hold
from ..operators.dsp import VERDICT_FIELDS, clip_bases, gate_clip, recording_clips
from ..plans.pipeline import P, PipelineParams, full_pipeline
from ..sources import fixtures

MANIFEST_SCHEMA = (
    "pair_id long, group_id long, kind string, n_bytes bigint, n_frames bigint"
)
# The per-recording pass emits manifest rows (verdict fields null) and
# one kind='verdict' row per gated clip (file fields null).
EXPORT_SCHEMA = MANIFEST_SCHEMA + ", " + VERDICT_FIELDS
_EXPORT_COLUMNS = [f.split()[0] for f in EXPORT_SCHEMA.split(", ")]
_NO_VERDICT = (None,) * len(VERDICT_FIELDS.split(", "))

_FRAME_RATE = 16000


def _write_wav(path: str, pcm: np.ndarray, frame_rate: int) -> None:
    """16-bit PCM mono WAV via stdlib wave — the engine's analog of
    pydub's ``piece.export(format='wav')`` (K1)."""
    import wave

    i16 = np.clip(pcm * 32767.0, -32768, 32767).astype("<i2")
    with wave.open(path, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(frame_rate)
        w.writeframes(i16.tobytes())


def _write_pair(
    base: str, pcm: np.ndarray, frame_rate: int, text: str,
    pair_id: int, group_id: int, prefix: str,
) -> list[tuple]:
    """``base``.wav + ``base``.txt and their two manifest rows."""
    _write_wav(base + ".wav", pcm, frame_rate)
    with open(base + ".txt", "w") as f:
        f.write(text + "\n")
    return [
        (pair_id, group_id, prefix + "wav", os.path.getsize(base + ".wav"), len(pcm),
         *_NO_VERDICT),
        (pair_id, group_id, prefix + "txt", os.path.getsize(base + ".txt"), 0,
         *_NO_VERDICT),
    ]


def export_full_corpus(
    pair_id: int, pieces: list[np.ndarray], texts: list[str], out_dir: str,
    frame_rate: int, full_gap_ms: int,
) -> list[tuple]:
    """K4+K8: one recording's concatenated corpus — ``full_{pair}.wav``
    and ``full_{pair}.txt``, each exported piece followed by
    ``full_gap_ms`` of silence INCLUDING the last
    (claude_research_optimal.py:668: ``full_audio += piece +
    silent(full_gap_ms)``), named with the batch wrapper's promoted
    convention (batch_processor.py:100-110). Called by the
    per-recording pass with the pieces it just exported, in group_id
    order. (The reference processes one recording per process, so
    per-pair IS its 'full'.)"""
    gap = np.zeros(full_gap_ms * frame_rate // 1000, dtype=np.float32)
    pcm = np.concatenate([x for piece in pieces for x in (piece, gap)])
    return _write_pair(
        os.path.join(out_dir, f"full_{pair_id:06d}"), pcm, frame_rate,
        "\n".join(texts), pair_id, -1, "full_",
    )


def _export_recording(r, out_dir: str, p: PipelineParams, full_gap_ms: int) -> list[tuple]:
    """Gate, write and concatenate one recording's clips (see
    :func:`export_clip_files`)."""
    pair, sr = int(r.pair_id), int(r.frame_rate)
    min_dur_ms = int(p.min_dur_s * 1000)
    rows: list[tuple] = []
    pieces, texts = [], []
    for c, base in clip_bases(r, p.fade_ms, p.seam_silence_ms):
        group = int(c["group_id"])
        verdict, piece = gate_clip(
            base, int(c["s_ms"]), int(c["e_ms"]), sr, min_dur_ms, p.fade_ms
        )
        rows.append((pair, group, "verdict", None, None, *verdict))
        if piece is None:
            continue
        rows += _write_pair(
            os.path.join(out_dir, "clips", f"clip_{pair:06d}_{group:04d}"),
            piece, sr, c["seg_text"], pair, group, "",
        )
        pieces.append(piece)
        texts.append(c["seg_text"])
    if pieces:
        rows += export_full_corpus(pair, pieces, texts, out_dir, sr, full_gap_ms)
    return rows


def export_clip_files(
    recordings: DataFrame, out_dir: str, p: PipelineParams = P,
    full_gap_ms: int = P.full_gap_ms,
) -> DataFrame:
    """K1+K2+K4+K8 behind F7: ONE pass per recording over
    :func:`operators.dsp.recording_clips` rows. For each clip, in
    group_id order: cut the envelope, assemble the base clip once, run
    the acoustic gate and its retry, and write the kept clip's WAV/TXT
    from the piece the gate computed (faded, or the unfaded retry
    slice of a 'fixed' clip, :633-636); then the recording's full
    corpus (:func:`export_full_corpus`).

    Returns ``EXPORT_SCHEMA`` rows: the file manifest plus one
    ``kind='verdict'`` row per clip. Lazy — files are written when it
    is materialized, so the caller pins it once. At 100 TB ``out_dir``
    is object storage; each task writes only its recordings' files and
    nothing is collected.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        os.makedirs(os.path.join(out_dir, "clips"), exist_ok=True)
        for pdf in batches:
            rows = [
                row
                for r in pdf.itertuples(index=False)
                for row in _export_recording(r, out_dir, p, full_gap_ms)
            ]
            yield pd.DataFrame(rows, columns=_EXPORT_COLUMNS)

    return recordings.mapInPandas(run, EXPORT_SCHEMA)


def write_clips_tsv(clips: DataFrame, out_dir: str) -> None:
    """K3: the 8-column clips.tsv (header claude_research_optimal.py:477,
    row claude_research_optimal.py:666): the exported row is
    (path, 0.000, duration, duration, words, pieces, avg_conf,
    quality) — start is literally 0.000 in the reference (F8)."""
    out = clips.select(
        F.format_string(
            "clips/clip_%06d_%04d.wav", F.col("pair_id"), F.col("group_id")
        ).alias("path"),
        F.lit(0.0).alias("start"),
        F.col("duration_s").alias("end"),
        F.col("duration_s").alias("duration_s2"),
        F.col("n_keep").alias("words"),
        F.col("n_pieces").alias("pieces"),
        F.col("span_avg_conf").alias("avg_conf"),
        # clean / fixed from the acoustic gate (reference default-on,
        # claude_research_optimal.py:411, :614-636); "not_checked"
        # only when the gate was skipped upstream
        (
            F.col("acoustic_quality")
            if "acoustic_quality" in clips.columns
            else F.lit("not_checked")
        ).alias("acoustic_quality"),
    )
    (
        out.write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .csv(os.path.join(out_dir, "clips_tsv"))
    )


def write_json_records(df: DataFrame, out_dir: str, name: str) -> None:
    """K5/K7: JSON-lines sink (rejections.json, acoustic logs, batch
    details) — distributed part files, the 100 TB shape of the
    reference's single json.dump (claude_research_optimal.py:679-682)."""
    df.write.mode("overwrite").json(os.path.join(out_dir, name))


def write_summary_json(summary_row: dict, out_dir: str, params: dict | None = None) -> None:
    """K5: summary.json — ONE aggregate object (claude_research_optimal.py:684-694,
    including the embedded params blob, :693). Driver-side by
    construction: it is a single row regardless of input size."""
    payload = dict(summary_row)
    payload["params"] = params or {}
    with open(os.path.join(out_dir, "summary.json"), "w") as f:
        json.dump(payload, f, indent=2)


def write_word_coverage_csv(clips: DataFrame, out_dir: str) -> None:
    """K6: word,count CSV sorted (count asc, word asc) over the
    exported clip texts (batch_processor.py:17-45)."""
    cov = (
        clips.select(F.explode(F.split(F.lower("seg_text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
        .orderBy("count", "word")
    )
    (
        cov.write.mode("overwrite")
        .option("header", True)
        .csv(os.path.join(out_dir, "word_coverage_csv"))
    )


def export_pipeline_outputs(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    p: PipelineParams = P,
    pair_filter=None,
    full_gap_ms: int = 500,
) -> DataFrame:
    """The complete output contract in one call: run the pipeline and
    write every reference sink under ``out_dir``. Every file exists when
    this returns; the returned file manifest (clip + full corpus files)
    reads the held rows, so acting on it writes nothing again.

    ``pair_filter``: optional Column predicate on pair_id to bound the
    exported subset (tests / smoke runs); applied before any sample is
    derived.
    """
    stages = full_pipeline(spark, sf_dir, p)
    exported = stages["exported"]
    too_short = stages["rejected"]
    audio = fixtures.audio_samples(spark, sf_dir, _FRAME_RATE)
    if pair_filter is not None:
        # a pair_id predicate is pushed below the samples projection
        exported, too_short, audio = (
            df.filter(pair_filter) for df in (exported, too_short, audio)
        )

    # F7 acoustic boundary gate — default-on like the reference
    # (claude_research_optimal.py:411) — and K1/K2/K4/K8 in one pass per
    # recording, materialized here: the verdicts feed the acoustic log,
    # the rejection log, the shortened 'fixed' boundaries and the
    # keep/reject split consistently.
    rows = hold(
        "export_rows",
        export_clip_files(recording_clips(exported, audio), out_dir, p, full_gap_ms),
        eager=True,
    )
    verdicts = rows.filter(F.col("kind") == "verdict")
    manifest = rows.filter(F.col("kind") != "verdict").select(
        "pair_id", "group_id", "kind", "n_bytes", "n_frames"
    )
    write_json_records(
        verdicts.select(
            "pair_id", "group_id", F.col("log_quality").alias("quality"),
            "dbfs", "mfcc_dist", "flux", "votes",
        ),
        out_dir,
        "acoustic_validation_json",
    )
    keep = verdicts.filter(F.col("verdict") == "keep").select(
        "pair_id", "group_id", "e_ms_final",
        F.col("tsv_quality").alias("acoustic_quality"),
    )
    final = (
        exported.join(keep, ["pair_id", "group_id"])
        .withColumn("e_ms", F.col("e_ms_final"))
        .drop("e_ms_final")
        .withColumn(
            "duration_s",
            F.greatest(
                F.least(F.col("e_ms"), F.col("clip_len_ms"))
                - F.least(F.col("s_ms"), F.col("clip_len_ms")),
                F.lit(0).cast("long"),
            ).cast("double")
            / 1000.0,
        )
    )
    gate_rejects = (
        verdicts.filter(F.col("verdict") != "keep")
        .join(
            exported.select("pair_id", "group_id", "span_avg_conf"),
            ["pair_id", "group_id"],
        )
        .select(
            "pair_id",
            "group_id",
            F.col("verdict").alias("reason"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.col("span_avg_conf").alias("confidence"),
        )
    )
    rejected = too_short.select(
        "pair_id", "group_id", "reason", "duration_ms",
        F.lit(None).cast("double").alias("confidence"),
    ).unionByName(gate_rejects)

    write_clips_tsv(final, out_dir)
    write_json_records(rejected, out_dir, "rejections_json")
    write_word_coverage_csv(final, out_dir)

    # one conditional aggregation: every verdict row is one exported
    # clip (keep) or one gate rejection; too-short clips never reach
    # the gate
    counts = (
        verdicts.select("verdict")
        .unionByName(too_short.select(F.col("reason").alias("verdict")))
        .agg(
            F.count_if(F.col("verdict") == "keep").alias("exported"),
            F.count_if(F.col("verdict") != "keep").alias("rejected"),
        )
        .first()
    )
    n_exported, n_rejected = counts["exported"], counts["rejected"]
    rate = (
        round(100.0 * n_rejected / (n_exported + n_rejected), 2)
        if (n_exported + n_rejected)
        else 0.0
    )
    write_summary_json(
        {
            "exported": n_exported,
            "rejected": n_rejected,
            "rejection_rate_pct": rate,
        },
        out_dir,
        params={
            "min_run": p.min_run,
            "max_gap_words": p.max_gap_words,
            "max_gap_time": p.max_gap_time,
            "min_dur": p.min_dur_s,
            "full_gap_ms": full_gap_ms,
        },
    )
    # K7: the batch wrapper's tally (batch_processor.py:142-179) — one
    # status row per pair, distributed.
    details = final.groupBy("pair_id").agg(
        F.count("*").alias("n_clips")
    ).select(
        "pair_id", F.lit("ok").alias("status"), "n_clips"
    )
    write_json_records(details, out_dir, "batch_summary_json")
    return manifest


# ---------------------------------------------------------------------
# Registered query: the sink layer as a driver-checkable manifest
# ---------------------------------------------------------------------

from ..registry import register  # noqa: E402


@register("sink_export_manifest", tags=("sink", "udf"))
def sink_export_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1-K8 end-to-end on a deterministic 2% pair subset: exports
    clip WAV/TXT, full corpus, TSV/JSON/CSV sinks to a fixed scratch
    dir (overwritten per run), returns the file manifest. Rows-only
    check — file sizes and frame counts are deterministic functions of
    the synthetic PCM, pinned further by tests/test_sinks.py."""
    import shutil
    import tempfile

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    out_dir = os.path.join(tempfile.gettempdir(), f"sink_export_{sf_tag}")
    shutil.rmtree(out_dir, ignore_errors=True)
    manifest = export_pipeline_outputs(
        spark, sf_dir, out_dir, pair_filter=F.col("pair_id") % 50 == 0
    )
    return manifest.orderBy("pair_id", "group_id", "kind")


def write_training_shards(spark, sf_dir: str, out_dir: str) -> None:
    """Training-shard writer: the pack_sequences manifest joined back
    to the documents, written as parquet PARTITIONED BY (lang, shard) —
    the on-disk layout a tokenize-and-pack trainer consumes shard by
    shard. Partition directories mean a per-(lang, shard) reader scans
    only its own files (partition pruning, no file listing of the
    rest); within a shard, rows are sorted by stream offset so the
    concat order is the file order.

    Scale: the join is co-keyed on doc_id; sortWithinPartitions avoids
    any global sort. Adding shards (curation._PACK_SHARDS) is the
    scale-out knob — 1000 executors want ≥1000 (lang, shard) cells.
    """
    from ..operators.curation import pack_sequences
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    manifest = pack_sequences(spark, sf_dir)
    (
        manifest.join(docs, "doc_id")
        .repartition("lang", "shard")
        .sortWithinPartitions("stream_start")
        .write.mode("overwrite")
        .partitionBy("lang", "shard")
        .parquet(f"{out_dir}/training_shards")
    )


# The shard stats are a pure aggregation of the pack_sequences
# manifest, so the write→read-back round trip gets an EXACT oracle:
# any loss or duplication in the partitioned write would break the
# per-(lang, shard) doc counts / token totals / stream extents.
_SHARDS_SQL = """
WITH pack AS ({pack_sql})
SELECT lang, cast(shard AS bigint) AS shard,
       cast(count(*) AS bigint) AS n_docs,
       cast(sum(n_tokens) AS bigint) AS n_tokens,
       cast(max(stream_start + n_tokens) AS bigint) AS stream_end,
       cast(max(last_chunk) AS bigint) AS max_chunk
FROM pack
GROUP BY lang, shard
ORDER BY lang, shard
"""


def _shards_oracle() -> str:
    from ..operators.curation import _PACK_SQL

    return _SHARDS_SQL.format(pack_sql=_PACK_SQL)


@register("sink_training_shards", oracle=_shards_oracle(), tags=("sink",))
def sink_training_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 end-to-end: writes the partitioned training shards to a
    fixed scratch dir (overwritten per run), reads them BACK, and
    returns per-(lang, shard) stats — rows, token totals, stream
    extent — so the check covers the write path, the partition layout,
    and the round-trip. Exact oracle: the stats are a pure aggregation
    of the pack_sequences manifest, so DuckDB replays them from the
    documents table directly — a green row proves the partitioned
    write lost and duplicated nothing. Partition columns come back
    from the directory layout (lang string, shard int), hence the
    explicit bigint casts below."""
    import shutil
    import tempfile

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    out_dir = os.path.join(tempfile.gettempdir(), f"shards_{sf_tag}")
    shutil.rmtree(out_dir, ignore_errors=True)
    write_training_shards(spark, sf_dir, out_dir)
    back = spark.read.parquet(f"{out_dir}/training_shards")
    return (
        back.groupBy(
            F.col("lang").cast("string").alias("lang"),
            F.col("shard").cast("bigint").alias("shard"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.max(F.col("stream_start") + F.col("n_tokens"))
            .cast("bigint")
            .alias("stream_end"),
            F.max("last_chunk").cast("bigint").alias("max_chunk"),
        )
        .orderBy("lang", "shard")
    )
