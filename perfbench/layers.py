"""Per-layer metrics of a traced run, named by engine module.

``_s`` is span self time. Every metric is reported on every workload;
a layer that does not run on a workload reads 0 there.
"""

from __future__ import annotations

import stats

# Tracing must not distort the run it explains: the layer self times of
# the traced execution, summed, must lie within this share of the
# untraced warm wall time.
COVERAGE_TOLERANCE = 0.35

# (metric, unit): the BENCHMARK.json ``per_layer`` list, in order.
PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("sources.fixtures.doc_word_arrays_s", "s"),
    ("sources.fixtures.audio_samples_s", "s"),
    ("sources.fixtures.audio_samples_bytes", "bytes"),
    ("sources.fixtures.audio_derivations", "count"),
    ("operators.alignment.lcs_runs_fused_s", "s"),
    ("operators.alignment.runs_out", "count"),
    ("sources.asr_scan.validator_consensus_scan_s", "s"),
    ("sources.asr_scan.consensus_ratio", "ratio"),
    ("plans.pipeline.bridged_groups_s", "s"),
    ("plans.pipeline.assemble_clips_arrays_s", "s"),
    ("plans.pipeline.validated_clips_s", "s"),
    ("plans.pipeline.groups_out", "count"),
    ("plans.pipeline.kept_ratio", "ratio"),
    ("operators.dsp.acoustic_gate_s", "s"),
    ("operators.dsp.keep_ratio", "ratio"),
    ("sinks.exports.export_clip_files_s", "s"),
    ("sinks.exports.export_full_corpus_s", "s"),
    ("sinks.exports.tabular_writes_s", "s"),
    ("sinks.exports.files_written", "count"),
    ("sinks.exports.bytes_written", "bytes"),
    ("operators.curation.curation_signals_fused_s", "s"),
    ("operators.curation.curation_funnel_s", "s"),
    ("operators.text_analysis.unigram_perplexity_s", "s"),
    ("operators.dedup.dedup_canonical_s", "s"),
    ("operators.dedup.dedup_minhash_lsh_s", "s"),
    ("operators.dedup.minhash_pairs_out", "count"),
    ("operators.dedup.planted_pair_recall", "ratio"),
    ("operators.dedup.minhash_precision", "ratio"),
    ("caching.cached_bytes_peak", "bytes"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.jvm_gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.idle_core_s", "s"),
    ("python.bytes_to_workers", "bytes"),
    ("python.bytes_from_workers", "bytes"),
    ("trace.overhead_s", "s"),
    ("trace.coverage", "ratio"),
    ("trace.dominant_share", "ratio"),
    ("host.probe_ms", "ms"),
)

TABULAR_WRITES = ("write_clips_tsv", "write_json_records", "write_word_coverage_csv", "write_summary_json")
AUDIO_SPAN = "sources.fixtures.audio_samples"


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer_metrics(wl, spans: list[dict], counters: dict, res: dict, cores: int) -> tuple[dict, dict]:
    """(metrics, diagnostics) for one traced run. ``coverage`` is the
    sum of the layer self times (every span but the workload's root)
    over the untraced warm wall time."""
    self_s: dict[str, float] = {}
    for s in spans:
        self_s[s["name"]] = self_s.get(s["name"], 0.0) + s["self_s"]
    root = next(s for s in spans if s["parent"] is None)
    execs = res["executions"]
    warm = [r["wall_s"] for r in execs if r["kind"] == "warm"]
    untraced = stats.median(warm)
    layer_total = sum(s["self_s"] for s in spans if s["parent"] is not None)
    dominant = sum(s["self_s"] for s in spans if s["parent"] is not None and s["name"].startswith(wl.dominant))

    v: dict[str, float] = {f"{name}_s": t for name, t in self_s.items()}
    v["session.get_spark_s"] = res["get_spark_s"]
    v["sinks.exports.tabular_writes_s"] = sum(self_s.get(f"sinks.exports.{f}", 0.0) for f in TABULAR_WRITES)
    v["sources.fixtures.audio_samples_bytes"] = counters.get(f"{AUDIO_SPAN}_bytes", 0.0)
    v["sources.fixtures.audio_derivations"] = sum(
        s["audio_derivations"] for s in spans if s["name"] != AUDIO_SPAN)
    v["operators.alignment.runs_out"] = counters.get("operators.alignment.runs_out", 0.0)
    v["sources.asr_scan.consensus_ratio"] = _ratio(
        counters.get("sources.asr_scan.consensus_clips", 0.0), counters.get("sources.asr_scan.clips_in", 0.0))
    v["plans.pipeline.groups_out"] = counters.get("plans.pipeline.groups_out", 0.0)
    v["plans.pipeline.kept_ratio"] = _ratio(
        counters.get("plans.pipeline.exported", 0.0), counters.get("plans.pipeline.validated", 0.0))
    v["operators.dsp.keep_ratio"] = _ratio(
        counters.get("operators.dsp.kept", 0.0), counters.get("operators.dsp.clips_in", 0.0))
    traced = next(r for r in execs if r["kind"] == "traced")
    if any(s["name"].startswith("sinks.exports.") for s in spans):
        facts = traced.get("facts") or {}
        v["sinks.exports.files_written"] = facts.get("files_written", 0)
        v["sinks.exports.bytes_written"] = facts.get("bytes_written", 0)
    v["operators.dedup.minhash_pairs_out"] = counters.get("operators.dedup.minhash_pairs_out", 0.0)
    verified = res.get("verified") or {}
    v["operators.dedup.planted_pair_recall"] = verified.get("planted_pair_recall", 0.0)
    v["operators.dedup.minhash_precision"] = verified.get("minhash_precision", 0.0)
    v["caching.cached_bytes_peak"] = max(r["cached_bytes"] for r in execs if r["kind"] != "traced")
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        v[f"spark.{key}"] = sum(s[key] for s in spans)
    v["spark.idle_core_s"] = cores * root["wall_s"] - v["spark.executor_run_s"]
    v["python.bytes_to_workers"] = sum(s["python_bytes_to_workers"] for s in spans)
    v["python.bytes_from_workers"] = sum(s["python_bytes_from_workers"] for s in spans)
    v["trace.overhead_s"] = root["wall_s"] - untraced
    v["trace.coverage"] = layer_total / untraced
    v["trace.dominant_share"] = _ratio(dominant, layer_total)
    v["host.probe_ms"] = stats.median([r["probe_ms"] for r in execs])

    metrics = {name: (float(v.get(name, 0.0)), unit) for name, unit in PER_LAYER}
    diag = {
        "coverage_note": (
            f"layer self times sum to {layer_total:.3f} s = {v['trace.coverage']:.2f} x untraced wall_s "
            f"{untraced:.3f} s (tolerance 1 +/- {COVERAGE_TOLERANCE}: "
            f"{'ok' if abs(v['trace.coverage'] - 1) <= COVERAGE_TOLERANCE else 'OUTSIDE'}); "
            f"traced wall {root['wall_s']:.3f} s, overhead {v['trace.overhead_s']:.3f} s"),
        "dominant_note": (
            f"dominant layers {list(wl.dominant)} hold {v['trace.dominant_share']:.1%} of layer self time"),
    }
    return metrics, diag
