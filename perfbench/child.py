"""One fresh Spark session of the benchmark.

Started by ``run.py``; not meant to be run by hand. It times its own
set-up (import the package, ``get_spark``, first trivial action), then
runs the workload: one cold execution (also the
declared warm-up), a settle (JIT queue drained, one GC; see
:func:`settle`), warm executions until ``--seconds`` have elapsed,
and with ``--trace 1`` one more execution with the layer functions
wrapped in spans. Outputs are checked after the timed phase. Results go
to the ``--result`` JSON file; ``PHASE <name>`` lines on stdout tell
the parent when the timed phase ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)


PHASES: dict[str, float] = {}


def phase(name: str) -> None:
    PHASES[name] = time.time()
    print(f"PHASE {name}", flush=True)


def settle(spark, cap_s: float = 10.0, quiet_s: float = 0.5) -> None:
    """Let the JVM finish the work the cold execution left queued: wait
    until the JIT compiler has been idle for ``quiet_s`` (at most
    ``cap_s``), then collect garbage, so the warm executions start from
    a drained compile queue and an empty young generation. The run's
    phase marks show how long it took."""
    jvm = spark._jvm
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    t0 = idle_since = time.perf_counter()
    last = jit.getTotalCompilationTime()
    while time.perf_counter() - t0 < cap_s:
        time.sleep(0.1)
        now = jit.getTotalCompilationTime()
        if now != last:
            last, idle_since = now, time.perf_counter()
        elif time.perf_counter() - idle_since >= quiet_s:
            break
    jvm.java.lang.System.gc()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()

    phase("start")
    t0 = time.perf_counter()
    from asr_training_data_pipeline_spark import session

    t1 = time.perf_counter()
    spark = session.get_spark()
    t2 = time.perf_counter()
    spark.sparkContext.setJobGroup(f"bench:{a.workload}:setup", "setup")
    spark.range(10).count()
    res = {"setup_s": time.perf_counter() - t0, "get_spark_s": t2 - t1}

    import tracing
    from workloads import WORKLOADS

    wl = WORKLOADS[a.workload]
    sc = spark.sparkContext
    out_dir = os.path.join(a.work, "out")
    executions: list[dict] = []
    outputs: list = []

    def execute(kind: str, tracer=None) -> dict:
        shutil.rmtree(out_dir, ignore_errors=True)
        label = f"bench:{wl.name}:{kind}:{len(executions)}"
        sc.setJobGroup(label, label)
        rec = {"kind": kind, "label": label, "error": None, "fingerprint": None}
        output = None
        t = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.span(wl.name):
                    output = wl.run(spark, a.input, out_dir)
            else:
                output = wl.run(spark, a.input, out_dir)
        except Exception as e:  # a failed execution is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:2000]
        finally:
            rec["wall_s"] = time.perf_counter() - t
        # The program's cache slots outlive the execution (they are
        # released by its next invocation), so what is held now is what
        # the execution pinned.
        rec["cached_bytes"] = tracing.cached_bytes(spark)
        # host probe: diagnostic only, never used to select samples
        sc.setJobGroup(f"bench:{wl.name}:probe", "probe")
        tp = time.perf_counter()
        spark.range(10).count()
        rec["probe_ms"] = (time.perf_counter() - tp) * 1e3
        if rec["error"] is None:
            try:
                rec["fingerprint"], rec["facts"] = wl.check(output, out_dir)
            except Exception as e:
                rec["error"] = f"check: {type(e).__name__}: {e}"[:2000]
        executions.append(rec)
        outputs.append(output if rec["error"] is None else None)
        return rec

    phase("cold")
    execute("cold")
    phase("settle")
    settle(spark)
    phase("warm")
    start = time.perf_counter()
    while True:
        execute("warm")
        if time.perf_counter() - start >= a.seconds:
            break

    spans = None
    tracer = None
    if a.trace:
        phase("traced")
        tracer = tracing.Tracer(spark, f"bench:{wl.name}:trace")
        wl.install_trace(tracer)
        try:
            execute("traced", tracer=tracer)
        finally:
            tracer.finish()
        spans = tracer.report(int(os.environ.get("SPARK_GRAFT_CPUS", "4")))

    phase("check")
    sc.setJobGroup(f"bench:{wl.name}:check", "check")
    verified = None
    first_ok = next((i for i, r in enumerate(executions) if r["error"] is None), None)
    if first_ok is not None:
        try:
            verified = wl.verify(spark, a.input, a.work, outputs[first_ok], executions[first_ok]["facts"])
            ref = executions[first_ok]["fingerprint"]
        except AssertionError as e:
            res["verify_error"] = str(e)[:2000]
            ref = None
        for r in executions:
            if r["error"] is None and r["fingerprint"] != ref:
                r["error"] = "output differs from the verified output" if ref else "output failed verification"
    phase("done")
    res.update(executions=executions, verified=verified, spans=spans, phases=PHASES,
               counters=tracer.counters if tracer else None)
    shutil.rmtree(out_dir, ignore_errors=True)
    with open(a.result, "w") as f:
        json.dump(res, f)
    # The parent stops the session's processes (JVM, Python workers).
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
