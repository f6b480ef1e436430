"""CDC engine benchmark: seeded replay workloads, end-to-end metrics
with tracing off, per-layer metrics with tracing on.

    python3 perfbench/run.py --workload cdc_out_churn --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

One workload runs in this process: it prints a report (every metric
with its unit and sample count) and, as its last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics and ``--trace 1`` the per-layer ones. ``all``
runs every workload, untraced and traced, each in its own process, and
adds the tracing overhead per workload. The exit code is nonzero when a
correctness check fails or the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]  # the benchmark, then the engine

import tracing as tr  # noqa: E402
from harness import (  # noqa: E402
    REF_NOMINAL_S,
    ROOT,
    Gate,
    jvm_pid,
    load_spec,
    nearest_rank,
    p50,
    proc_hwm_kb,
    proc_wchar,
    reference_job_s,
    start_spark,
    stop_spark,
    tree_bytes,
)
from workloads import WORKLOADS  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "apply_eps": "1/s",
    "commit_p50_s": "s",
    "commit_tail_s": "s",
    "as_of_p50_s": "s",
    "write_bytes_per_event": "B/event",
    "stored_bytes_per_row": "B/row",
    "peak_rss_mb": "MiB",
}
TAIL_PCT = 90
TRACED_MARK = "  traced end-to-end figures: "
UNSCALED_MARK = "  unscaled end-to-end figures: "
#: reference-job runs right before and right after the timed region
REF_REPS = 2


def layer_unit(name: str) -> str:
    m = name.rsplit(".", 1)[-1]
    if m.endswith("ms"):
        return "ms/window"
    if m.endswith("bytes"):
        return "B/window"
    if name in ("merge.mor_share", "merge.emit_changes.change_rows_per_event"):
        return "ratio"
    if name == "spark.failed_tasks":
        return "count"
    return "count/window"


def layer_names() -> list[str]:
    names = [f"{s}.{m}" for s in tr.SPANS for m in tr.SPAN_METRICS]
    names += [f"{s}.{m}" for s in tr.SPARK_HEAVY for m in tr.HEAVY_METRICS]
    return names + [
        "spark.failed_tasks",
        "merge.mor_share",
        "merge.emit_changes.change_rows_per_event",
    ]


def measure(name: str, seed: int, seconds: int, trace: bool) -> dict:
    """Set up, run the timed region, then the correctness gate. Returns
    the raw observations; stops the JVM and removes the work area."""
    spec = load_spec()
    work = os.path.join(ROOT, ".bench_work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gate = Gate()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work, trace)
        jvm_s = time.perf_counter() - t
        tracer = tr.Tracer(spark.sparkContext) if trace else tr.NullTracer()
        wl = WORKLOADS[name](spark, work, spec["workloads"][name]["sizes"], seed, tracer)
        gen = []
        for _ in range(spec["common"]["setup_reps"]):
            t = time.perf_counter()
            wl.generate()
            gen.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t
        ref_path = os.path.join(work, "reference")
        t = time.perf_counter()
        wl.warmup()
        reference_job_s(spark, ref_path)
        warm_s = time.perf_counter() - t
        wl.reset_counters()

        ref = [reference_job_s(spark, ref_path) for _ in range(REF_REPS)]

        pid = jvm_pid(spark)
        w0 = proc_wchar(pid)
        uninstall = tr.install(tracer) if trace else None
        units, loop_ok = 0, True
        t0, p0 = time.time(), time.perf_counter()
        try:
            while units == 0 or time.perf_counter() - p0 < seconds:
                wl.unit()
                units += 1
                if wl.exhausted:
                    break
        except Exception:  # noqa: BLE001 — a failed window fails the run
            traceback.print_exc()
            loop_ok = False
        finally:
            if uninstall:
                uninstall()
        t1, loop_s = time.time(), time.perf_counter() - p0
        wchar = proc_wchar(pid) - w0
        rss_mb = (proc_hwm_kb(pid) + proc_hwm_kb("self")) / 1024.0
        ref += [reference_job_s(spark, ref_path) for _ in range(REF_REPS)]
        stored = tree_bytes(*wl.artifacts())
        for _ in wl.windows + wl.reads:
            gate.op(True)
        if not loop_ok:
            gate.op(False)
        if trace:
            tracer.harvest()
        t = time.perf_counter()
        if loop_ok:
            wl.verify(gate)
        gate_s = time.perf_counter() - t
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    return {
        "wl": wl, "gate": gate, "tracer": tracer, "units": units, "t0": t0, "t1": t1,
        "setup_s": jvm_s + p50(gen) + build_s + warm_s, "wchar": wchar, "rss_mb": rss_mb,
        "stored": stored, "loop_s": loop_s, "speed": REF_NOMINAL_S / p50(ref),
        "wall": f"jvm {jvm_s:.2f} s, log generation {[round(g, 2) for g in gen]} s, "
        f"build {build_s:.2f} s, warm-up {warm_s:.2f} s, timed {loop_s:.2f} s, "
        f"checks {gate_s:.2f} s, reference job {[round(x, 3) for x in ref]} s",
    }


def e2e_figures(r: dict, scaled: bool = True) -> dict[str, tuple[float, str]]:
    """Every end-to-end metric as (value, sample description). Times of
    the timed region are scaled to the reference speed unless ``scaled``
    is false; set-up time is not (it runs long before the reference job
    does, and is the one figure the bound compares by median only)."""
    wl = r["wl"]
    n = len(wl.windows)
    k = r["speed"] if scaled else 1.0
    tail, beyond = nearest_rank(wl.windows, TAIL_PCT)
    return {
        "setup_s": (r["setup_s"], "JVM + median log generation + build + warm-up, unscaled"),
        "apply_eps": (wl.events / sum(wl.windows) / k, f"n={wl.events} events, {n} windows"),
        "commit_p50_s": (p50(wl.windows) * k, f"n={n} windows"),
        "commit_tail_s": (tail * k, f"p{TAIL_PCT} of n={n} windows, {beyond} beyond"),
        "as_of_p50_s": (p50(wl.reads) * k, f"n={len(wl.reads)} reads"),
        "write_bytes_per_event": (r["wchar"] / wl.events, f"n={wl.events} events"),
        "stored_bytes_per_row": (r["stored"] / max(wl.live_rows, 1), f"n={wl.live_rows} rows"),
        "peak_rss_mb": (r["rss_mb"], "n=1, JVM + driver VmHWM"),
    }


def layer_figures(r: dict) -> tuple[dict[str, float], list[str]]:
    """Every per-layer metric (per window of the timed region), and
    report lines on how the spans cover the timed wall time."""
    wl, tracer = r["wl"], r["tracer"]
    n = len(wl.windows)
    timed = tracer.within(r["t0"], r["t1"])
    per = {k: v / n for k, v in tracer.layer_metrics(timed).items()}
    per["spark.failed_tasks"] = tracer.failed_tasks()
    per["merge.mor_share"] = wl.modes.count("mor") / max(len(wl.modes), 1)
    per["merge.emit_changes.change_rows_per_event"] = wl.change_rows / wl.events
    top = tracer.top_level(r["t0"], r["t1"])
    covered = sum(tracer.spans[i].end - tracer.spans[i].start for i in top)
    self_total = sum(tracer.self_ms(i) for i in timed) / 1000.0
    notes = [
        f"  top-level spans cover {covered:.3f} s of {r['loop_s']:.3f} s timed wall "
        f"({100 * covered / r['loop_s']:.1f}%); self times of all spans sum to {self_total:.3f} s",
    ]
    extra = sorted({tracer.spans[i].name for i in timed} - set(tr.SPANS))
    if extra:
        notes.append(f"  spans outside the per-layer list: {extra}")
    return per, notes


def run_workload(name: str, seed: int, seconds: int, trace: bool) -> int:
    r = measure(name, seed, seconds, trace)
    wl, gate = r["wl"], r["gate"]
    report = [f"workload {name}  seed {seed}  trace {int(trace)}  units {r['units']}"]
    report.append(f"  wall: {r['wall']}")
    if wl.windows and wl.reads:
        unscaled = {k: v for k, (v, _) in e2e_figures(r, scaled=False).items()}
        report.append(f"{UNSCALED_MARK}{json.dumps(unscaled)}")
        report.append(f"  times below are scaled by {r['speed']:.4f} to the reference speed")
    metrics: dict[str, dict] = {}

    def put(key, value, unit, samples):
        metrics[key] = {"value": value, "unit": unit}
        report.append(f"  {key:<48} {value:>16.6g} {unit:<14} {samples}")

    if wl.windows and wl.reads:
        e2e = e2e_figures(r)
        if not trace:
            for k, (v, samples) in e2e.items():
                put(k, v, E2E_UNITS[k], samples)
        else:
            traced = {k: v for k, (v, _) in e2e.items()}
            report.append(f"{TRACED_MARK}{json.dumps(traced)}")
            per, notes = layer_figures(r)
            for k in layer_names():
                put(k, float(per[k]), layer_unit(k), f"n={len(wl.windows)} windows")
            report += notes
            out = os.path.join(ROOT, ".bench_out")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, f"spans-{name}-seed{seed}.json"), "w") as f:
                json.dump(r["tracer"].dump(), f)
    report.append(
        f"  failed_frac {gate.failed}/{gate.attempted} = "
        f"{gate.failed / max(gate.attempted, 1):.4f}"
    )
    report += [f"  check {json.dumps(c, default=str)}" for c in gate.results]
    print("\n".join(report), flush=True)
    result = {
        "correct": gate.correct,
        "attempted": gate.attempted,
        "failed": gate.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0 if gate.correct else 1


def run_all(seed: int, seconds: int) -> int:
    """Every workload untraced then traced, each in a fresh process; the
    tracing overhead is the traced figure minus the untraced one."""
    untraced: dict[str, dict] = {}
    correct, attempted, failed = True, 0, 0
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", name,
                "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
            lines = proc.stdout.strip().splitlines()
            print("\n".join(lines[:-1]), flush=True)
            if proc.returncode or not lines:
                sys.stderr.write(proc.stderr[-4000:])
                correct = False
                continue
            res = json.loads(lines[-1])
            correct &= res["correct"]
            attempted += res["attempted"]
            failed += res["failed"]
            if not trace:
                untraced[name] = {k: v["value"] for k, v in res["metrics"].items()}
                continue
            traced = json.loads(
                next(x for x in lines if x.startswith(TRACED_MARK))[len(TRACED_MARK):]
            )
            if name in untraced:
                print(f"tracing overhead on {name} (traced - untraced):")
                for k, v in traced.items():
                    base = untraced[name][k]
                    pct = 100 * (v - base) / base
                    print(f"  {k:<48} {v - base:>+16.6g} {E2E_UNITS[k]:<8} ({pct:+.1f}%)")
    metrics = {
        f"{name}.{k}": {"value": v, "unit": E2E_UNITS[k]}
        for name, vals in untraced.items()
        for k, v in vals.items()
    }
    merged = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(merged))
    return 0 if correct else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rfb_cnpj_etl_spark")):
        sys.stderr.write(f"perfbench: engine package not found under {ROOT}\n")
        return 2
    names = list(WORKLOADS)
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    if args.workload not in names:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}; one of {names} or all\n")
        return 2
    return run_workload(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
