"""The benchmark workloads: input shape, the program call, output
checks, and the layer functions the traced run wraps.

Sizes are set for ``local[4]`` on a 4-core, 15 GB host so that one run
(a fresh session, a cold and a warm execution) takes about a minute;
every workload is bound by per-job overhead at these sizes, so larger
inputs mostly add time, not a different profile.
"""

from __future__ import annotations

import hashlib
import json
import os
import wave
from dataclasses import dataclass, field

import reference


def digest(rows) -> str:
    """Order-sensitive fingerprint of a list of row tuples."""
    h = hashlib.sha256()
    for row in rows:
        h.update(repr(tuple(round(v, 9) if isinstance(v, float) else v for v in row)).encode())
        h.update(b"\n")
    return h.hexdigest()


def cached(work: str, key: str, compute):
    """``compute()``, memoized in the run's work directory: oracle
    results depend only on the seed's input, so they are computed once
    per seed and input shape."""
    path = os.path.join(work, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    with open(path, "w") as f:
        json.dump(value, f)
    return value


@dataclass
class Workload:
    name: str
    docs: int
    words: tuple[int, int]
    dup_share: float = 0.0
    # layer spans whose self time should dominate the traced execution
    dominant: tuple[str, ...] = field(default_factory=tuple)

    # Each workload overrides run / check / verify / install_trace.
    def run(self, spark, in_dir: str, out_dir: str):
        raise NotImplementedError

    def check(self, output, out_dir: str) -> tuple[str, dict]:
        """Per-execution check: (fingerprint, facts). Raises on a
        malformed output."""
        raise NotImplementedError

    def verify(self, spark, in_dir: str, work: str, output, facts: dict) -> dict:
        """Oracle check of one execution's output (untimed, once per
        run). Raises AssertionError when the output is wrong; returns the
        facts worth reporting."""
        raise NotImplementedError

    def install_trace(self, tracer) -> None:
        raise NotImplementedError


# ---------------------------------------------------------------------
# ASR pipeline (shared by asr_longform and asr_export)
# ---------------------------------------------------------------------


def _install_pipeline_trace(tracer) -> None:
    """Spans over the ASR pipeline's layers, with the counters that make
    their ratios."""
    from asr_training_data_pipeline_spark.plans.pipeline import P
    from pyspark.sql import functions as F

    def runs_out(t, df, n):
        t.count("operators.alignment.runs_out", n)

    def groups_out(t, df, n):
        t.defer(lambda: t.count(
            "plans.pipeline.groups_out", df.select("pair_id", "group_id").distinct().count()))

    def consensus(t, df, n):
        t.count("sources.asr_scan.clips_in", n)
        t.defer(lambda: t.count(
            "sources.asr_scan.consensus_clips",
            df.filter(F.col("best_len") >= P.min_valid_words).count()))

    def validated(t, df, n):
        t.count("plans.pipeline.validated", n)

    def exported(t, stages, n):
        t.defer(lambda: t.count("plans.pipeline.exported", stages["exported"].count()))

    tracer.wrap("sources.fixtures", "doc_word_arrays")
    tracer.wrap("operators.alignment", "lcs_runs_fused", after=runs_out)
    tracer.wrap("plans.pipeline", "bridged_groups", after=groups_out)
    tracer.wrap("plans.pipeline", "assemble_clips_arrays")
    tracer.wrap("sources.asr_scan", "validator_consensus_scan", after=consensus)
    tracer.wrap("plans.pipeline", "validated_clips", after=validated)
    tracer.wrap("plans.pipeline", "full_pipeline", after=exported, materialize=False)


class AsrLongform(Workload):
    def run(self, spark, in_dir, out_dir):
        from asr_training_data_pipeline_spark.plans import pipeline

        return [tuple(r) for r in pipeline.asr_pipeline_clips_q(spark, in_dir).collect()]

    def check(self, output, out_dir):
        if not output:
            raise AssertionError("no clips exported")
        return digest(output), {"clips": len(output)}

    def _reference(self, spark, in_dir):
        """[digest, row count] of the difflib reference's clips."""
        from asr_training_data_pipeline_spark.plans.pipeline import P
        from asr_training_data_pipeline_spark.sources import fixtures
        from asr_training_data_pipeline_spark.sources.asr_scan import _stub_model

        # The fixture word streams are the program's derived input (the
        # same arrays the program aligns); everything after them is
        # recomputed here single-threaded. They are read in their array
        # form: the row forms (fixtures.asr_words / book_tokens) take
        # minutes on documents of thousands of words when no cached
        # arrays frame is there to reuse.
        words: dict[int, list[dict]] = {}
        book: dict[int, list[str]] = {}
        for r in fixtures.doc_word_arrays(spark, in_dir).collect():
            words[r.pair_id] = [
                {"pair_id": r.pair_id, "text": t, "norm": n, "start": s, "end": e, "confidence": c}
                for t, n, s, e, c in zip(r.texts, r.norms, r.starts, r.ends, r.confs)
            ]
            book[r.pair_id] = list(r.book_norms)
        model = _stub_model()
        expected = [
            (pair_id, *clip)
            for pair_id in sorted(words)
            for clip in reference.expected_clips(words[pair_id], book[pair_id], model, P)
        ]
        return [digest(expected), len(expected)]

    def verify(self, spark, in_dir, work, output, facts):
        want, n = cached(work, "clips", lambda: self._reference(spark, in_dir))
        if want != digest(output):
            raise AssertionError(f"clips differ from the difflib reference ({len(output)} vs {n} rows)")
        return {"reference_clips": n}

    def install_trace(self, tracer):
        _install_pipeline_trace(tracer)


def export_outputs(out_dir: str) -> dict[str, tuple[int, str]]:
    """The export's logical outputs: name -> (bytes, content digest).

    A tabular sink (``*_tsv``, ``*_csv``, ``*_json`` directory of part
    files) is ONE output: its data lines in sorted order plus, for TSV
    and CSV, one header line. How many part files the writer leaves, and
    which rows land in which, depends on partitioning, not on the output.
    Hidden bookkeeping files (``_SUCCESS``, ``.crc``) are not outputs."""
    outs: dict[str, tuple[int, str]] = {}

    def visible(d):
        return [e for e in sorted(os.listdir(d)) if not e.startswith((".", "_"))]

    for entry in visible(out_dir):
        path = os.path.join(out_dir, entry)
        if os.path.isdir(path) and entry.endswith(("_tsv", "_csv", "_json")):
            header, lines = [], []
            for part in visible(path):
                with open(os.path.join(path, part), "rb") as f:
                    plines = f.read().splitlines(keepends=True)
                if entry.endswith(("_tsv", "_csv")) and plines:
                    header, plines = plines[:1], plines[1:]
                lines += plines
            content = b"".join(header + sorted(lines))
            outs[entry] = (len(content), hashlib.sha256(content).hexdigest())
        elif os.path.isdir(path):
            for f in visible(path):
                with open(os.path.join(path, f), "rb") as fh:
                    data = fh.read()
                outs[f"{entry}/{f}"] = (len(data), hashlib.sha256(data).hexdigest())
        else:
            with open(path, "rb") as fh:
                data = fh.read()
            outs[entry] = (len(data), hashlib.sha256(data).hexdigest())
    return outs


class AsrExport(Workload):
    def run(self, spark, in_dir, out_dir):
        from asr_training_data_pipeline_spark.sinks import exports

        return [tuple(r) for r in exports.export_pipeline_outputs(spark, in_dir, out_dir).collect()]

    def check(self, manifest, out_dir):
        with open(os.path.join(out_dir, "summary.json")) as f:
            summary = json.load(f)
        tsv_rows = 0
        for part in os.listdir(os.path.join(out_dir, "clips_tsv")):
            if not part.startswith((".", "_")):
                with open(os.path.join(out_dir, "clips_tsv", part)) as f:
                    tsv_rows += max(0, sum(1 for _ in f) - 1)  # header per part file
        if summary["exported"] != tsv_rows:
            raise AssertionError(f"summary exported={summary['exported']} but clips.tsv has {tsv_rows} rows")
        n_clip_wavs = 0
        for pair_id, group_id, kind, n_bytes, n_frames in manifest:
            if kind == "wav":
                n_clip_wavs += 1
                path = os.path.join(out_dir, "clips", f"clip_{pair_id:06d}_{group_id:04d}.wav")
            elif kind == "full_wav":
                path = os.path.join(out_dir, f"full_{pair_id:06d}.wav")
            else:
                continue
            with wave.open(path, "rb") as w:
                if w.getnframes() != n_frames or w.getsampwidth() != 2 or w.getnchannels() != 1:
                    raise AssertionError(f"{path}: header disagrees with the manifest")
            if os.path.getsize(path) != n_bytes or n_bytes != 44 + 2 * n_frames:
                raise AssertionError(f"{path}: size {os.path.getsize(path)} != manifest {n_bytes}")
        if n_clip_wavs != summary["exported"]:
            raise AssertionError(f"{n_clip_wavs} clip WAVs for {summary['exported']} exported clips")
        outs = export_outputs(out_dir)
        facts = {"exported": summary["exported"], "rejected": summary["rejected"],
                 "files_written": len(outs), "bytes_written": sum(b for b, _ in outs.values())}
        return digest(sorted(manifest) + sorted(outs.items())), facts

    def verify(self, spark, in_dir, work, output, facts):
        if facts["exported"] < 1:
            raise AssertionError("nothing exported")
        return {}

    def install_trace(self, tracer):
        from pyspark.sql import functions as F

        _install_pipeline_trace(tracer)
        tracer.wrap_audio()

        def gate(t, df, n):
            t.count("operators.dsp.clips_in", n)
            t.defer(lambda: t.count("operators.dsp.kept", df.filter(F.col("verdict") == "keep").count()))

        tracer.wrap("operators.dsp", "acoustic_gate", after=gate)
        for fn in ("export_clip_files", "export_full_corpus", "write_clips_tsv",
                   "write_json_records", "write_word_coverage_csv", "write_summary_json"):
            tracer.wrap("sinks.exports", fn)


# ---------------------------------------------------------------------
# corpus curation
# ---------------------------------------------------------------------

RECALL_FLOOR = 0.9


def _oracle_dir(in_dir: str, work: str) -> str:
    """A copy of the input with empty stand-ins for the engine's other
    tables, which the DuckDB oracle helper declares as views."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from asr_training_data_pipeline_spark.sources.tables import TABLES

    d = os.path.join(work, "oracle_tables")
    os.makedirs(d, exist_ok=True)
    shutil.copyfile(os.path.join(in_dir, "documents.parquet"), os.path.join(d, "documents.parquet"))
    for t in TABLES:
        if t != "documents":
            pq.write_table(pa.table({"_empty": pa.array([], pa.int64())}), os.path.join(d, f"{t}.parquet"))
    return d


class CorpusCuration(Workload):
    def run(self, spark, in_dir, out_dir):
        from asr_training_data_pipeline_spark.operators import curation, dedup

        funnel = [tuple(r) for r in curation.curation_funnel(spark, in_dir).collect()]
        pairs = [tuple(r) for r in dedup.dedup_minhash_lsh(spark, in_dir).collect()]
        return funnel, pairs

    def check(self, output, out_dir):
        funnel, pairs = output
        if len(funnel) != 5:
            raise AssertionError(f"funnel has {len(funnel)} stages, expected 5")
        return digest(funnel) + digest(pairs), {"pairs": len(pairs)}

    def verify(self, spark, in_dir, work, output, facts):
        import pyarrow.parquet as pq
        from asr_training_data_pipeline_spark.registry import REGISTRY
        from asr_training_data_pipeline_spark.testing import run_oracle_arrow

        funnel, pairs = output
        want = cached(work, "funnel", lambda: [
            list(r.values())
            for r in run_oracle_arrow(REGISTRY["curation_funnel"].oracle, _oracle_dir(in_dir, work)).to_pylist()
        ])
        if digest(want) != digest(funnel):
            raise AssertionError(f"curation_funnel differs from its DuckDB oracle: {funnel} vs {want}")

        with open(os.path.join(in_dir, "truth.json")) as f:
            planted = {tuple(p) for p in json.load(f)["planted_pairs"]}
        emitted = {(a, b) for a, b, _est in pairs}
        recall = len(planted & emitted) / len(planted) if planted else 1.0
        if recall < RECALL_FLOOR:
            raise AssertionError(f"MinHash recall over planted pairs {recall:.3f} < {RECALL_FLOOR}")
        texts = dict(zip(*pq.read_table(os.path.join(in_dir, "documents.parquet"),
                                         columns=["doc_id", "text"]).to_pydict().values()))
        from asr_training_data_pipeline_spark.operators.dedup import _EST_THRESHOLD

        good = sum(reference.shingle_jaccard(texts[a], texts[b]) >= _EST_THRESHOLD for a, b in emitted)
        return {"planted_pair_recall": recall,
                "minhash_precision": good / len(emitted) if emitted else 1.0}

    def install_trace(self, tracer):
        def pairs_out(t, df, n):
            t.count("operators.dedup.minhash_pairs_out", n)

        tracer.wrap("operators.curation", "curation_signals_fused")
        tracer.wrap("operators.text_analysis", "unigram_perplexity")
        tracer.wrap("operators.dedup", "dedup_canonical")
        tracer.wrap("operators.curation", "curation_funnel")
        tracer.wrap("operators.dedup", "dedup_minhash_lsh", after=pairs_out)


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        AsrExport(
            "asr_export",
            docs=8, words=(10, 100),
            dominant=("sources.fixtures.audio_samples", "operators.dsp.acoustic_gate",
                      "sinks.exports."),
        ),
        CorpusCuration(
            "corpus_curation",
            docs=1000, words=(10, 100), dup_share=0.05,
            dominant=("operators.dedup.", "operators.curation.", "operators.text_analysis."),
        ),
        AsrLongform(
            "asr_longform",
            docs=8, words=(3000, 4500),
            dominant=("operators.alignment.", "sources.asr_scan.", "sources.fixtures.doc_word_arrays"),
        ),
    )
}
