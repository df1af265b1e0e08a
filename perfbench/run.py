#!/usr/bin/env python3
"""Repo benchmark: seeded workloads on a Spark ``local[<cores>]`` session
sized to the box, driven as a closed loop by one client.

    python3 perfbench/run.py --workload dedup_web --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one report

With ``--trace 0`` the run measures the end-to-end metrics with tracing
off; ``--trace 1`` is a separate traced run that alternates plain and
traced operations and reports per-layer metrics plus the tracing
overhead. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Everything the run
writes stays under ``.perfbench/`` in the checkout. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback
from pathlib import Path


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    start_ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


#: perf_counter reading at process start; set in main()
T0 = 0.0
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_all(args) -> int:
    """Every workload in its own process, sequentially; one merged result."""
    import subprocess

    from workloads import WORKLOADS

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            print(f"{name}: exited {proc.returncode} without a result", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    global T0
    T0 = time.perf_counter() - _process_age_s()
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, str(HERE))
    if args.workload == "all":
        return run_all(args)

    sys.path.insert(0, str(ROOT))
    try:
        import lsh_forest_for_multi_vector_retrieval_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # every scratch path inside the checkout, set before pyspark picks a temp dir
    import tempfile

    work = STATE / "work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    try:
        return measure(args, work)
    finally:
        import shutil

        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: Path) -> int:
    import harness
    import tracing
    from harness import median
    from workloads import WORKLOADS

    cpus = harness.box_cpus()
    drv = harness.driver_memory_for(harness.box_mem_bytes())
    traced = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    tracer = tracing.Tracer(run_id, enabled=traced, clock=time.perf_counter)
    factory = harness.SessionFactory(work, cpus, drv, work / "eventlog" if traced else None)
    if traced:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
    wl = WORKLOADS[args.workload](args.seed, cpus, STATE / "cache", work)

    try:
        # set-up: from process start (imports, JVM launch) through loading
        # the cached input, preparation and the untimed warm-up; input
        # generation and oracles for a new seed are left out
        with tracer.span("session"):
            spark = factory.start()
        phases = {"session": time.perf_counter() - T0}
        build_s = wl.ensure_inputs(spark)
        for name, step in (("load", wl.load), ("prepare", wl.prepare), ("warm-up", wl.warmup)):
            t = time.perf_counter()
            step(spark)
            phases[name] = time.perf_counter() - t
        setup_s = time.perf_counter() - T0 - build_s
        _log(f"set-up {setup_s:.2f}s ("
             + ", ".join(f"{k} {v:.2f}s" for k, v in phases.items())
             + f"; input build {build_s:.2f}s left out)")
        tracer.bind(spark)

        samples, errors, pairs = [], 0, 0
        with harness.RssSampler() as rss, harness.Region() as region:
            deadline = region.t0 + args.seconds
            while True:
                try:
                    # traced runs alternate which of the pair goes first, so
                    # the warm-up slope does not favour one side
                    if traced and pairs % 2:
                        wl.run_unit(spark, tracer)
                    samples += wl.run_unit(spark)
                    if traced and not pairs % 2:
                        wl.run_unit(spark, tracer)
                    pairs += 1
                except Exception:
                    errors += 1
                    _log("operation failed:\n" + traceback.format_exc())
                    if errors >= 2:
                        break
                if time.perf_counter() >= deadline:
                    break
        t = time.perf_counter()
        try:
            wl.check(spark)
            _log(f"checks and oracles {time.perf_counter() - t:.2f}s")
        except Exception:
            _log("check failed:\n" + traceback.format_exc())
            wl.checked.record(False, max(1, len(samples) - wl.checked.attempted))
    finally:
        harness.shutdown_jvm()

    attempted = wl.checked.attempted + errors
    failed = wl.checked.failed + errors
    if not samples:
        print("no operation completed", file=sys.stderr)
        return 1

    walls = [s.wall_s for s in samples]
    lines = [
        f"workload {args.workload} seed {args.seed} trace {args.trace}: local[{cpus}], "
        f"driver {drv}, closed loop, 1 client",
        f"setup_s {setup_s:.4f} s (process start to the end of the warm-up)",
        f"op wall {harness.timing_summary(walls)}: {' '.join(f'{w:.3f}' for w in walls)}",
        f"items {sum(s.items for s in samples)} {wl.item_unit} in {sum(walls):.3f} s of operations",
        f"host over {region.wall_s:.2f} s region: steal {region.steal_s:.2f} s, "
        f"idle {region.idle_s:.2f} s (summed over CPUs); process-tree CPU {region.cpu_s:.2f} s "
        f"+ JIT compiler threads {region.jit_s:.2f} s",
        f"checks: attempted {attempted}, failed {failed}"
        + (f" ({'; '.join(wl.checked.notes)})" if wl.checked.notes else ""),
    ]
    lines += [f"{k} {v}" for k, v in wl.report.items()]

    if not traced:
        values = {
            "setup_s": setup_s,
            "op_p50_s": median(walls),
            "items_per_s": median([s.items / s.wall_s for s in samples]),
            "cpu_s_per_op": median([s.cpu_s for s in samples]),
            "peak_rss_mb": rss.peak / 2**20,
            "quality": median(wl.checked.quality or [0.0]),
        }
        metrics = {k: (values[k], unit) for k, unit in END_TO_END.items()}
    else:
        metrics = per_layer_metrics(wl, tracer, work, walls)
        tracer.write(STATE / "traces" / f"{run_id}.jsonl")
        lines.append(
            f"tracing overhead {metrics['trace.overhead_s'][0]:+.4f} s per operation "
            f"(traced minus untraced median); layer spans cover "
            f"{metrics['trace.coverage'][0]:.3f} of the untraced median"
        )
    for k, (v, u) in metrics.items():
        lines.append(f"  {k} = {v:.6g} {u}")
    print("\n".join(lines))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def per_layer_metrics(wl, tracer, work: Path, untraced_walls) -> dict:
    import tracing
    from harness import median

    spans = tracer.spans
    groups = tracing.read_event_logs(work / "eventlog")
    m = {k: (v, _unit(k)) for k, v in tracing.layer_rollup(spans, groups, "op").items()}
    counts = tracing.counts_median(spans, "op")
    for key, unit in COUNTS.items():
        m[key] = (counts.get(key, 0.0), unit)
    m["incremental.write_amp"] = (
        median(wl.write_amps) if getattr(wl, "write_amps", None) else 0.0, "ratio")
    qps = wl.qps() if hasattr(wl, "qps") else {}
    parts = getattr(wl, "quality_parts", {})
    for key, (src, unit) in RETRIEVAL.items():
        vals = parts.get(src)
        m[key] = (qps.get(src, 0.0) if unit == "1/s" else (median(vals) if vals else 0.0), unit)
    op_walls = [sp.wall_s for sp in spans if sp.name == "op"]
    by_parent = {}
    for sp in spans:
        by_parent.setdefault(sp.parent, []).append(sp)
    layer_sums = [
        sum(c.wall_s for c in by_parent.get(op.id, []) if c.name in tracing.LAYERS)
        for op in spans if op.name == "op"
    ]
    base = median(untraced_walls)
    m["trace.overhead_s"] = (median(op_walls) - base if op_walls else 0.0, "s")
    m["trace.coverage"] = (median(layer_sums) / base if layer_sums else 0.0, "ratio")
    return m


def _unit(key: str) -> str:
    return LAYER_UNITS.get(key.split(".", 1)[1], "s")


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    import tracing

    names = {f"{layer}.{f}": _unit(f"{layer}.{f}") for layer in tracing.LAYERS
             for f in tracing.LAYER_FIELDS}
    names.update(COUNTS)
    names["incremental.write_amp"] = "ratio"
    names.update({k: unit for k, (_, unit) in RETRIEVAL.items()})
    names.update(TRACE)
    return names


#: end-to-end metrics of an untraced run, with units
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
    "quality": "ratio",
}

LAYER_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
               "shuffle_write_bytes": "B", "spill_bytes": "B"}

TRACE = {"trace.overhead_s": "s", "trace.coverage": "ratio"}

COUNTS = {
    "bands.rows": "count",
    "bands.max_bucket": "count",
    "pairs.candidates": "count",
    "pairs.dropped_docs": "count",
    "pairs.star_skipped": "count",
    "verify.verified": "count",
    "verify.yield": "ratio",
    "components.edges": "count",
    "components.driver_path": "count",
    "components.rounds": "count",
    "incremental.history_rows": "count",
    "incremental.bytes_written": "B",
    "incremental.files_written": "count",
    "incremental.pairs_appended": "count",
}

#: retrieval per-operator figures: metric -> (source key, unit)
RETRIEVAL = {
    "plaid.qps": ("plaid", "1/s"),
    "plaid.mrr10": ("plaid_mrr10", "ratio"),
    "ann.ivf_qps": ("ivf", "1/s"),
    "ann.ivf_recall10": ("ivf_recall10", "ratio"),
    "ann.lsh_qps": ("lsh", "1/s"),
    "ann.lsh_recall10": ("lsh_recall10", "ratio"),
    "forest_vote.qps": ("forest_vote", "1/s"),
    "forest_vote.hit5": ("fv_hit5", "ratio"),
}


if __name__ == "__main__":
    sys.exit(main())
