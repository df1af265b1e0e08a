"""Paired interleaved scaling measurement (north-rule evidence harness).

The sandbox VM's available throughput swings by multiples over multi-minute
windows, so independent best-of-N legs at each parallelism level can land
in different load regimes and produce nonsense ratios (observed: the same
local[32] job in 39 s and 280 s within one hour). This harness holds BOTH
SparkSessions resident (one per parallelism level — idle JVMs cost no
CPU) and alternates single flagship passes big,small,big,small,... so
adjacent samples see near-identical background load. It reports:

  * per-level minima (quiet-window throughput at each level),
  * efficiency from the per-level minima: (T_small/T_big)/(big/small),
  * per-pass pairwise efficiencies and a throttled-pair classification
    (a pair where BOTH legs run far above their level minimum is a
    VM-throttle window: the hypervisor caps total deliverable CPU, both
    levels run at the cap, and the ratio collapses toward 1 regardless
    of the job — such pairs carry no scaling information).

Robustness (round-3): worker stderr goes to a log file (not DEVNULL), a
dead worker is detected on empty readline and reported with its exit code
and log tail, both workers are terminated in a finally block, and the
sampling loop is wall-clock budgeted (SPARK_GRAFT_SCALING_BUDGET seconds,
default 2400) so a throttled window degrades the artifact instead of
aborting the round: the loop keeps sampling until it has `passes` pairs
or the budget runs out, with whatever completed recorded honestly.

Workers are subprocesses driven over a stdin/stdout line protocol; the
measured job is bench.py's flagship (minhash_dedup end-to-end) on the
shared deterministic corpus, shuffle partitions fixed at 64 across levels
(a real cluster sizes partitions for the data, not the executor count).

Usage: python tools/scaling_paired.py [passes_per_level] [n_docs] [small] [big]
(small/big = the two local[N] parallelism levels, default 2 and 8 — the
substrate's linear region per BASELINE.md; 8v32 is substrate-saturated).
Writes BENCH_SCALING.json and BENCH_SCALING_{small}v{big}.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LOG_DIR = Path("/tmp/spark_graft_scaling")

WORKER_CODE = r"""
import sys, time
sys.path.insert(0, {root!r})
from lsh_forest_for_multi_vector_retrieval_spark import get_spark
from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import minhash_dedup

cpus = int(sys.argv[1])
corpus = sys.argv[2]
spark = get_spark(master=f"local[{{cpus}}]", shuffle_partitions=64,
                  driver_memory="40g",
                  extra_conf={{
                      "spark.ui.showConsoleProgress": "false",
                      # CPU-pinned narrow levels saturate their only core
                      # for minutes; local mode runs driver+executor in one
                      # JVM, so a starved heartbeat thread would otherwise
                      # trip the 120 s default and kill the executor (a
                      # real cluster hosts the driver elsewhere)
                      "spark.executor.heartbeatInterval": "60s",
                      "spark.network.timeout": "1200s",
                      # the generated corpus lands as 64 small files that
                      # default 128 MB packing collapses into ~4 splits —
                      # the CPU-heavy signature scan then runs one task
                      # per core with no wave balancing and its cache
                      # inherits the coarse layout. 16 MB splits give the
                      # narrow legs ~6 waves/core (32 MB yielded 13 splits
                      # = 3 full waves + a lone straggler task idling 3 of
                      # 4 cores for a quarter of the stage — measured 0.91
                      # stage utilization); a real cluster sizes this for
                      # its own scan:core ratio.
                      "spark.sql.files.maxPartitionBytes": "16777216",
                  }})
docs = spark.read.parquet(corpus)
n = docs.count()

def flagship():
    res = minhash_dedup(docs, DedupConfig())
    nc = res.clusters.select("cluster_id").distinct().count()
    npairs = res.verified.count()
    res.unpersist()
    return nc, npairs

flagship()  # warm-up: JVM JIT, python workers, shuffle dirs
print(f"READY {{n}}", flush=True)
for line in sys.stdin:
    if line.strip() != "RUN":
        break
    t0 = time.perf_counter()
    nc, npairs = flagship()
    print(f"DONE {{time.perf_counter() - t0:.3f}} {{nc}} {{npairs}}", flush=True)
spark.stop()
"""


def _spin(reps: int) -> float:
    t0 = time.perf_counter()
    x = 1.0
    for _ in range(reps):
        x = (x * 1.000001) % 97.0
    return time.perf_counter() - t0


def _pin_to(cpu_set):
    if cpu_set:
        try:
            os.sched_setaffinity(0, cpu_set)
        except OSError:
            pass


def _spin_pinned(args):
    reps, cpu_set = args
    _pin_to(cpu_set)
    return _spin(reps)


def _cpu_probe(n_procs: int, reps: int = 30_000_000, cpu_set=None) -> float:
    """Deliverable-CPU probe: run ``n_procs`` CPU-bound pure-Python
    processes (GIL-free via multiprocessing), one fixed work quantum each
    (~1.4 s), and return effective parallel cores as the SUM of delivered
    compute: sum(t_single / t_i). On a healthy VM this reads ~n; under a
    hypervisor cap it reads the cores actually deliverable RIGHT NOW — an
    independent throttle detector recorded next to each measured leg.

    Round-4 fidelity fixes (diagnosed on an idle host):
    * quantum lengthened 0.3 s -> 1.4 s — the short quantum was dominated
      by fork/scheduler ramp skew and read 2.8-3.7/4 on a host whose
      per-core times were all within 10% of single-core;
    * sum-of-delivery replaces max-of-delivery — the hypervisor
      intermittently shaves ~25% off ONE core for sub-second bursts; a
      max-based probe charges the whole leg for it, but the measured job
      runs 64 work-stealing shuffle partitions per stage, so one slow core
      simply takes fewer tasks and throughput tracks SUMMED delivery;
    * ``cpu_set`` pins both the baseline and the workers to EXACTLY the
      cores the leg's taskset-pinned JVM will use (core 0 reads ~0.78
      even idle — kernel interrupt traffic — so host-wide spares are not
      representative); the single-core baseline is min-of-2 (a slow
      baseline would inflate the reading)."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    base = [min(cpu_set)] if cpu_set else None
    with ctx.Pool(1) as pool:
        single = min(pool.map(_spin_pinned, [(reps, base)] * 2))
    with ctx.Pool(n_procs) as pool:
        times = pool.map(_spin_pinned, [(reps, cpu_set)] * n_procs)
    return round(sum(single / t for t in times if t > 0), 2)


def _wait_for_quiet(cpus: int, cpu_set, gate: float, patience_s: float) -> float:
    """Round-4 scheduling engineering (acceptance rule unchanged): delay a
    leg until its pinned-core probe clears the validity gate, instead of
    burning a multi-minute pass in a window the rule will void anyway.
    Returns the probe that triggered the run (>= gate, or the last probe
    once patience expires — the pass then proceeds and is voided by the
    pre-declared rule as before)."""
    deadline = time.monotonic() + patience_s
    while True:
        p = _cpu_probe(cpus, cpu_set=cpu_set)
        if p >= gate or time.monotonic() >= deadline:
            return p
        time.sleep(15.0)


def _log_tail(cpus: int, lines: int = 15) -> str:
    p = LOG_DIR / f"worker_{cpus}.log"
    if not p.exists():
        return "(no log)"
    return "\n".join(p.read_text(errors="replace").splitlines()[-lines:])


def _read_line(w: subprocess.Popen, cpus: int) -> str:
    """Blocking readline with dead-worker detection (ADVICE round-2)."""
    line = w.stdout.readline()
    if line:
        return line
    rc = w.poll()
    raise RuntimeError(
        f"worker local[{cpus}] died (exit={rc}); stderr tail:\n{_log_tail(cpus)}"
    )


def main() -> int:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 80_000
    small = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    big = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    budget = float(os.environ.get("SPARK_GRAFT_SCALING_BUDGET", "2400"))
    quiet_patience = float(os.environ.get("SPARK_GRAFT_QUIET_PATIENCE", "480"))

    # corpus via bench.py helpers (deterministic, seed 42)
    os.environ["SPARK_GRAFT_BENCH_DOCS"] = str(n_docs)
    sys.path.insert(0, str(ROOT))
    import bench

    # skip the ~25 s JVM boot when the fingerprinted corpus is cached
    # (round-5 review)
    if (Path(bench.BENCH_CORPUS) / "_SUCCESS").exists():
        corpus = bench.BENCH_CORPUS
    else:
        spark = bench._spark(16)
        corpus = bench._ensure_bench_corpus(spark)
        spark.stop()

    LOG_DIR.mkdir(exist_ok=True)
    code = WORKER_CODE.format(root=str(ROOT))
    workers: dict[int, subprocess.Popen] = {}
    logs: dict[int, object] = {}
    samples: dict[int, list[float]] = {small: [], big: []}
    results: set[tuple[int, int]] = set()
    n = None
    t_start = time.monotonic()
    # CPU-pin each worker JVM to exactly N cpus (disjoint sets): a bare
    # local[N] JVM freeloads spare host cores for GC / shuffle-IO / Python
    # UDF workers, overstating the NARROW level's throughput (an executor
    # on a real cluster is cgroup-capped to its core budget, overhead
    # threads included). Pinning makes the "N executors" stand-in faithful
    # and isolates the two resident workers from each other.
    # Pin away from core 0 (kernel interrupt traffic depresses its
    # delivery — observed 0.78/1 on core 0 vs ~0.95 elsewhere on an idle
    # host) and away from low cores where unpinned foreground work lands.
    pin0 = int(os.environ.get("SPARK_GRAFT_SCALING_PIN_BASE", "24"))
    pin_base = {small: pin0, big: pin0 + small}
    import shutil

    # shutil.which, not a `which` subprocess: slim images without a
    # which binary crashed with FileNotFoundError instead of falling
    # back to unpinned mode (round-5 review)
    use_taskset = (
        os.environ.get("SPARK_GRAFT_SCALING_PIN", "1") == "1"
        and shutil.which("taskset") is not None
    )
    try:
        for cpus in (small, big):
            logs[cpus] = open(LOG_DIR / f"worker_{cpus}.log", "w")
            prefix = (
                ["taskset", "-c", f"{pin_base[cpus]}-{pin_base[cpus] + cpus - 1}"]
                if use_taskset
                else []
            )
            workers[cpus] = subprocess.Popen(
                prefix + [sys.executable, "-u", "-c", code, str(cpus), corpus],
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                stderr=logs[cpus],
                text=True,
            )
        for cpus, w in workers.items():
            while True:
                line = _read_line(w, cpus)
                if line.startswith("READY"):
                    n = int(line.split()[1])
                    break
            print(f"worker local[{cpus}] ready, n={n}", flush=True)

        i = 0
        n_valid = 0
        probes: dict[int, list[float]] = {small: [], big: []}
        post_probes: dict[int, list[float]] = {small: [], big: []}
        # round-4 pre-declared rule (BASELINE.md): keep sampling until
        # `passes` VALID pairs exist (both legs' probes >= 95% of their
        # core count) or the budget runs out; voided pairs are recorded
        # but carry no scaling signal
        max_passes = max(passes * 6, 12)
        while n_valid < passes and i < max_passes:
            if i >= 1 and time.monotonic() - t_start > budget:
                print(f"budget exhausted after {i} passes", flush=True)
                break
            # alternate in-pair order: under a PARTIAL cap the wide level
            # suffers more, and multi-minute cap windows would otherwise
            # correlate with whichever level always runs first
            order = (big, small) if i % 2 == 0 else (small, big)
            for cpus in order:  # adjacent passes share the load window
                cpu_set = (
                    set(range(pin_base[cpus], pin_base[cpus] + cpus))
                    if use_taskset
                    else None
                )
                eff_cores = _wait_for_quiet(
                    cpus, cpu_set, gate=0.95 * cpus, patience_s=quiet_patience
                )
                probes[cpus].append(eff_cores)
                w = workers[cpus]
                w.stdin.write("RUN\n")
                w.stdin.flush()
                line = _read_line(w, cpus)
                try:
                    _, sec, nc, npairs = line.split()
                except ValueError:
                    raise RuntimeError(
                        f"bad worker line from local[{cpus}]: {line!r}; "
                        f"stderr tail:\n{_log_tail(cpus)}"
                    )
                samples[cpus].append(float(sec))
                results.add((int(nc), int(npairs)))
                # post-leg probe (round-5): a
                # pre-leg probe cannot certify a multi-minute leg — round-4
                # committed 1-core legs with clean pre-probes that ran
                # 1.8-2.4x the pinned quiet minimum (mid-leg throttle).
                # Post-leg delivery = MAX of two probes ~12 s and ~27 s
                # after the leg returns. A single instant probe reads the
                # worker JVM's own asynchronous wind-down (unpersist block
                # eviction + ContextCleaner shuffle deletion on the same
                # pinned cores) — at 320k docs that outlives the original
                # 8 s settle and was voiding pairs whose LEGS ran at their
                # quiet minima (canonical-run passes 2-5: legs 62-70 s /
                # 195-199 s, post-probes 0.66-0.94 and 3.2-3.7). A real
                # substrate cap persists across both samples; wind-down
                # recovers by the second. The acceptance rule itself
                # (pre+post >= 0.95x cores) is unchanged. bench.py's
                # headline gate is a deliberate sibling with different
                # constants (0.90 gate, 10 s settle — see its
                # _wait_for_quiet docstring); calibrate both when
                # changing either.
                time.sleep(12.0)
                post = _cpu_probe(cpus, cpu_set=cpu_set)
                if post < 0.95 * cpus:
                    time.sleep(15.0)
                    post = max(post, _cpu_probe(cpus, cpu_set=cpu_set))
                post_probes[cpus].append(post)
                print(
                    f"pass {i} local[{cpus}]: {sec}s "
                    f"(probes: pre {eff_cores}/{cpus}, post {post}/{cpus} "
                    f"deliverable cores)",
                    flush=True,
                )
            pe = (samples[small][-1] / samples[big][-1]) / (big / small)
            pair_valid = (
                probes[small][-1] >= 0.95 * small
                and probes[big][-1] >= 0.95 * big
                and post_probes[small][-1] >= 0.95 * small
                and post_probes[big][-1] >= 0.95 * big
            )
            n_valid += pair_valid
            print(
                f"pass {i} pairwise efficiency: {pe:.3f} "
                f"({'VALID' if pair_valid else 'substrate-voided'}; "
                f"{n_valid}/{passes} valid pairs)",
                flush=True,
            )
            i += 1
        for w in workers.values():
            w.stdin.close()
        for w in workers.values():
            # a slow 40g-heap spark.stop() must not discard the run:
            # TimeoutExpired here used to propagate BEFORE the artifact
            # write, losing every collected pair (round-5 review)
            try:
                w.wait(timeout=120)
            except subprocess.TimeoutExpired:
                print("worker slow to stop — terminating", flush=True)
                w.terminate()
    finally:
        for w in workers.values():
            if w.poll() is None:
                w.terminate()
        for f in logs.values():
            f.close()

    if not samples[small] or not samples[big]:
        print("no complete pairs collected — no artifact written", flush=True)
        return 1
    assert len(results) == 1, f"nondeterminism across levels/passes: {results}"
    t_small, t_big = min(samples[small]), min(samples[big])
    eff = (t_small / t_big) / (big / small)
    # throttle classification: a pair where both legs ran >2x their level
    # minimum is a capped-VM window and carries no scaling signal
    n_pairs_done = min(len(samples[small]), len(samples[big]))
    pair_eff = [
        round((samples[small][j] / samples[big][j]) / (big / small), 3)
        for j in range(n_pairs_done)
    ]
    throttled = [
        samples[small][j] > 2 * t_small and samples[big][j] > 2 * t_big
        for j in range(n_pairs_done)
    ]
    # round-4 pre-declared acceptance rule (BASELINE.md): headline =
    # min-based efficiency over VALID pairs only (both probes >= 95% of
    # the leg's cores); >= `passes` valid pairs required for canonical
    valid_idx = [
        j
        for j in range(n_pairs_done)
        if probes[small][j] >= 0.95 * small
        and probes[big][j] >= 0.95 * big
        and post_probes[small][j] >= 0.95 * small
        and post_probes[big][j] >= 0.95 * big
    ]
    # round-5 amended acceptance rule (BASELINE.md, declared before the
    # canonical run): the headline is the MEDIAN of the valid pairs'
    # WITHIN-PAIR efficiencies. A within-pair ratio compares two adjacent
    # legs certified by four probes in one load window — the comparison
    # the harness was built to make. The old min-based statistic paired
    # minima from DIFFERENT passes (a turbo small-leg window against an
    # unrelated quiet big-leg window), i.e. exactly the cross-regime
    # ratio this harness exists to avoid; it both inflated round 4
    # (1.041) and deflated round 5 (0.704 vs pairwise [0.955 0.888
    # 0.631]). Min-based is retained as a secondary field.
    gated_min_eff = None
    if valid_idx:
        g_small = min(samples[small][j] for j in valid_idx)
        g_big = min(samples[big][j] for j in valid_idx)
        gated_min_eff = round((g_small / g_big) / (big / small), 3)
    pair_eff_valid = sorted(
        (samples[small][j] / samples[big][j]) / (big / small)
        for j in valid_idx
    )
    median_eff = None
    if pair_eff_valid:
        m = len(pair_eff_valid)
        median_eff = round(
            pair_eff_valid[m // 2]
            if m % 2
            else (pair_eff_valid[m // 2 - 1] + pair_eff_valid[m // 2]) / 2,
            3,
        )
    nc, npairs = next(iter(results))
    out = {
        "metric": f"scaling_efficiency_{small}_to_{big}_cores",
        # no probe-valid pair -> null headline, NOT the ungated min-based
        # ratio over throttle-voided pairs (round-5 review); the ungated
        # number stays available as min_based_efficiency_ungated
        "value": median_eff,
        "unit": "efficiency",
        "probe_gated": {
            "rule": "valid pair = both legs' deliverable-CPU probes >= "
            "0.95x the leg's core count, measured immediately before AND "
            "after each leg (round-5: post-leg probe added — a pre-leg "
            "probe cannot certify a multi-minute leg); headline = MEDIAN "
            "of the valid pairs' within-pair efficiencies "
            "(T_small/T_big)/(big/small) (round-5 amendment, declared in "
            "BASELINE.md before the canonical run: within-pair ratios "
            "compare legs from one certified load window; cross-pass "
            "minima mix windows — the cross-regime ratio this harness "
            "exists to avoid)",
            "threshold": 0.95,
            "valid_pair_indices": valid_idx,
            "n_valid": len(valid_idx),
            "n_required": passes,
            "rule_met": len(valid_idx) >= passes,
            "value": median_eff,
            "value_min_based_valid": gated_min_eff,
            "pairwise_efficiency_valid": [
                round(
                    (samples[small][j] / samples[big][j]) / (big / small), 3
                )
                for j in valid_idx
            ],
        },
        "value_min_based_all_pairs": round(eff, 3),
        "runs": {
            str(c): {
                "cpus": c,
                "n_docs": n,
                "wall_sec": min(samples[c]),
                "docs_per_sec": round(n / min(samples[c]), 1),
                "n_clusters": nc,
                "n_pairs": npairs,
            }
            for c in (small, big)
        },
        "all_samples": {str(c): s for c, s in samples.items()},
        "pairwise_efficiency": pair_eff,
        "throttled_pairs": throttled,
        "cpu_probe_effective_cores": {str(c): p for c, p in probes.items()},
        "cpu_probe_post_leg": {str(c): p for c, p in post_probes.items()},
        "cpu_pinned": use_taskset,
        "note": f"sandbox stand-in for N->4N executors (north_rule): same "
        f"flagship dedup job, same input, two RESIDENT JVMs (local[{small}], "
        f"local[{big}]) alternating single passes so adjacent samples share "
        "the VM's bursty background load; per-level minimum = quiet-window "
        f"throughput; efficiency=(T{small}/T{big})/{big / small:g}; pairs "
        "where both legs ran >2x their level minimum are flagged throttled "
        "(VM caps total deliverable CPU -> ratio collapses, no signal)",
    }
    text = json.dumps(out, indent=2)
    # SPARK_GRAFT_SCALING_OUT redirects the artifact (confirmation runs at
    # other corpus sizes must not clobber the canonical BENCH_SCALING.json).
    out_override = os.environ.get("SPARK_GRAFT_SCALING_OUT")
    if out_override:
        Path(ROOT / out_override).write_text(text)
    else:
        Path(ROOT / "BENCH_SCALING.json").write_text(text)
        Path(ROOT / f"BENCH_SCALING_{small}v{big}.json").write_text(text)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
