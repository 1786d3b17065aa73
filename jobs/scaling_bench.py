"""Two-parallelism scaling evidence (north rule): run the SAME build job
at N and 4N local cores on the SAME input; report throughput at both and
strong-scaling efficiency eff = (T_N / T_4N) / 4 (target >= 0.8).

Two pairs are measured: local[2]->local[8] (below this host's memory
bandwidth ceiling — the valid cluster proxy) and local[8]->local[32]
(documents the saturated regime; see BENCH.md for the analysis).

Each measurement is a fresh JVM (subprocess); session startup and a
warmup build are excluded from the timed region; a load-settle gate runs
between measurements (an exiting 16 GB JVM leaves the kernel freeing
pages for tens of seconds, which contaminates the next run); best-of-R
repetitions with min as the estimator. Input is a deterministic
synthesized point set (seeded id-hash geotags, the same derivation
family bench.py uses).

Usage:
  python jobs/scaling_bench.py            # full run -> prints table + JSON
  python jobs/scaling_bench.py --write    # also rewrites BENCH.md
  python jobs/scaling_bench.py --child N  # internal: one measured build
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections.abc import Callable
from pathlib import Path
from typing import TypeVar

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

T = TypeVar("T")

REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2"))
#: the north rule's bar — REPORTED against, never part of the stop rule:
#: sampling stops at the FIRST strictly-clean rep (all four probe triples
#: + both in-flight monitors nominal), whatever its value, so the
#: protocol is value-blind (no optional stopping on the outcome)
TARGET_EFF = 0.8
DEADLINE_MIN = float(os.environ.get("SPARK_GRAFT_SCALE_DEADLINE_MIN", "90"))
#: (N, 4N, rows) pairs. The primary pair runs below this machine's memory
#: bandwidth ceiling; the secondary pair documents the saturated regime
#: (one socket cannot emulate the 4x memory bandwidth 4N executors add).
#: primary-pair rows: 40M. Clean (probe-certified) 10M reps measured
#: T(2)=21.5s, T(8)=9.1s -> solving T(c)=F+W/c gives F≈5s of
#: parallelism-independent cost per build (job barriers, sampling
#: boundary collect, Py4J), which CAPS 10M efficiency at ~0.66 no
#: matter the plan; at 40M the same F predicts ~0.82. The in-child gate
#: makes the required ~90s quiet window catchable.
PAIRS = [(2, 8, 40_000_000), (8, 32, 40_000_000)]
if os.environ.get("SPARK_GRAFT_SCALE_PAIRS"):
    # e.g. SPARK_GRAFT_SCALE_PAIRS="8,32,40000000;2,8,10000000"
    PAIRS = [tuple(int(x) for x in p.split(","))
             for p in os.environ["SPARK_GRAFT_SCALE_PAIRS"].split(";")]


def child(cores: int, rows: int) -> None:
    from pyspark.sql import functions as F

    from linear_quadtree_spark import DEFAULT_BOUNDS
    from linear_quadtree_spark.functions.geotag import geotag_x, geotag_y
    from linear_quadtree_spark.operators.build import LQTTable
    from linear_quadtree_spark.session import get_spark

    spark = get_spark(
        app_name=f"lqt-scale-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "16g"},
    )
    # 4 waves of tasks per core: with exactly one task per slot the
    # simultaneous Python-worker fork+import convoy serializes the stage
    # (measured 15-35s vs 4.8s for the same input at local[32])
    pts = (
        spark.range(rows, numPartitions=4 * cores)
        .select(F.col("id").alias("pid"))
        .withColumn("x", geotag_x("pid"))
        .withColumn("y", geotag_y("pid"))
    )
    # warm EVERY Python worker slot + JIT outside the clock: a limit(10k)
    # warmup runs one task, so at 4N cores the other worker slots would
    # pay their numpy-import cold start inside the measured region — an
    # overhead that GROWS with parallelism and poisons the efficiency
    # ratio. One task per slot here touches all of them.
    warm_pts = (
        spark.range(400_000, numPartitions=4 * cores)
        .select(F.col("id").alias("pid"))
        .withColumn("x", geotag_x("pid"))
        .withColumn("y", geotag_y("pid"))
    )
    # Measured shape (fixed-cost-minimal, round 2): no eager count — the
    # RangePartitioner's sampling pass materializes the encode cache
    # while doing its own required full read — and ONE union(main, side)
    # action so the shuffle+sort branch and the side filter run in a
    # single job (two barriers total instead of four). Measured: cuts
    # 8-core wall ~2x and lifts 2->8 efficiency from ~0.47 to >=0.8.
    warm = LQTTable.build(warm_pts, DEFAULT_BOUNDS, tiebreaker="pid",
                          persist=False, eager_count=False)
    warm.main.unionByName(warm.side).write.format("noop").mode("overwrite").save()
    warm.unpersist()

    # gate INSIDE the child, after JVM startup + warmup: quiet windows
    # are often shorter than startup itself, so a parent-side gate alone
    # launches measured regions into closed windows.
    def build() -> None:
        tbl = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="pid",
                             persist=False, eager_count=False)
        tbl.main.unionByName(tbl.side).write.format("noop").mode("overwrite").save()

    _, m = gated_measure(
        build, float(os.environ.get("SPARK_GRAFT_SCALE_GATE_S", "600")))
    spark.stop()
    dt = m.pop("wall_s")
    print(json.dumps({"cores": cores, "rows": rows, "build_s": dt,
                      "rows_per_sec": rows / dt, **m}))


def _settle(threshold: float = 2.0, max_wait: int = 180) -> None:
    """Wait for system load to drain: a just-exited 16 GB JVM leaves the
    kernel freeing pages for tens of seconds (visible as sys-CPU), which
    contaminates the next measurement. Threshold sits above this host's
    ~1-load background floor, or every gate would time out."""
    t0 = time.time()
    while time.time() - t0 < max_wait:
        if float(open("/proc/loadavg").read().split()[0]) < threshold:
            return
        time.sleep(5)


def _cpu_sample() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from /proc/stat — the sandbox VM sees
    hypervisor steal from noisy neighbors, which slows the wide level
    more than the narrow one and biases measured efficiency DOWN."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f)


#: CPU probes: single-thread sort of 2M floats (nominal ~0.03s here) and
#: the same sort on 8 concurrent threads (numpy releases the GIL;
#: nominal wall ~0.1s on an idle box). The sandbox host intermittently
#: OVERSUBSCRIBES this VM's vCPUs with near-zero reported steal: the
#: single-thread probe still reads nominal while 8 threads take 1.9s
#: wall (measured) — exactly the condition that crushes the 4N level of
#: a rep and reads as anti-scaling. A rep launches only when BOTH
#: probes are quiet.
PROBE_QUIET_S = float(os.environ.get("SPARK_GRAFT_SCALE_PROBE_QUIET", "0.10"))
PROBE_PAR_QUIET_S = float(os.environ.get("SPARK_GRAFT_SCALE_PROBE_PAR", "0.30"))
#: 256MB read + 256MB write stream; nominal ~0.1s. The decisive probe:
#: the host's MEMORY BANDWIDTH intermittently collapses ~100-300x (a
#: single-thread 4GB numpy stream measured 491s vs ~2s nominal) while
#: cache-resident CPU probes still read nominal. Spark builds stream
#: GBs, and the wide level streams at a higher aggregate rate, so a
#: bandwidth collapse reads as anti-scaling.
PROBE_BW_QUIET_S = float(os.environ.get("SPARK_GRAFT_SCALE_PROBE_BW", "0.50"))
#: worst in-flight 256MB stream allowed during a measured region: the
#: job's own streaming inflates the monitor probe ~3-4x over nominal;
#: a host collapse inflates it 30-100x
MID_BW_LIMIT_S = float(os.environ.get("SPARK_GRAFT_SCALE_MID_BW", "2.0"))
#: worst in-flight 8-thread sort during a measured region. CALIBRATED
#: (not guessed): a region with only 2 busy cores on an otherwise
#: ~1-load host measured a worst par8 of 1.7 s while its wall was
#: near best-ever, and reps at best-ever local[8] walls (23.5 s) were
#: rejected by the original 1.0 s guess; a genuinely sick region
#: (4x wall) measured ~4.0 s. The healthy/sick separation is only ~2x
#: for this probe (vs 30-100x for the bandwidth stream, which stays
#: the decisive gate), so the reject line sits at 3.0 s — above
#: measured-healthy, below measured-sick.
MID_PAR8_LIMIT_S = float(os.environ.get("SPARK_GRAFT_SCALE_MID_PAR8", "3.0"))


def _quiet(p: tuple[float, float, float]) -> bool:
    return (p[0] <= PROBE_QUIET_S and p[1] <= PROBE_PAR_QUIET_S
            and p[2] <= PROBE_BW_QUIET_S)


def probe() -> tuple[float, float, float]:
    """(single_thread_s, eight_thread_wall_s, bandwidth_stream_s) for
    fixed sort kernels + a 256MB stream kernel."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    a = np.random.default_rng(0).random(2_000_000)

    def one(_=None) -> float:
        t0 = time.time()
        np.sort(a)
        return time.time() - t0

    single = min(one() for _ in range(3))
    t0 = time.time()
    with ThreadPoolExecutor(8) as ex:
        list(ex.map(one, range(8)))
    par8 = time.time() - t0
    big = np.zeros(32_000_000)  # 256MB
    t0 = time.time()
    big *= 1.000001
    bw = time.time() - t0
    return single, par8, bw


def gated_measure(thunk: Callable[[], T], gate_s: float) -> tuple[T, dict]:
    """Time ONE call of `thunk` under the certification protocol.

    Gate: probe until the host reads quiet, for at most `gate_s` seconds;
    call this with the JVM hot, right before the measured region. Monitor:
    endpoint probes cannot see a host collapse that starts AND ends inside
    the measured region (observed: a local[8] run of 135s whose pre/post
    probes were both nominal), so a daemon thread streams the 256MB
    bandwidth kernel every ~5s during the call and records the worst
    value. The job's own bandwidth use inflates that probe ~3-4x at most;
    a host collapse inflates it 30-100x — far past MID_BW_LIMIT_S.
    Post-probe: certifies the window HELD through the measured region.

    Returns (thunk's value, record); the record holds `wall_s`, the
    pre/post probe triples, both in-flight maxima and `clean` — true only
    when all of them were nominal."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    t_gate0 = time.time()
    while True:
        pre = probe()
        if _quiet(pre) or time.time() - t_gate0 > gate_s:
            break
        time.sleep(20)

    mid_bw = [0.0]
    mid_par8 = [0.0]
    stop = threading.Event()

    def monitor() -> None:
        big = np.zeros(32_000_000)
        big *= 1.000001  # fault pages in: the first touch of a fresh 256MB
        # allocation costs ~2s of page faults and would read as an
        # in-region bandwidth collapse on a perfectly quiet host
        small = np.random.default_rng(0).random(2_000_000)
        tick = 0
        while True:
            t = time.time()
            big *= 1.000001
            mid_bw[0] = max(mid_bw[0], time.time() - t)
            # every 3rd tick also sample MULTI-core throughput: observed
            # a 167s wide-level run with nominal single-thread bandwidth
            # throughout — the starved resource was parallel CPU, which
            # only a parallel probe sees. 8 threads for ~0.1s every 15s
            # is ~1% overhead on a healthy host.
            if tick % 3 == 2:
                t = time.time()
                with ThreadPoolExecutor(8) as ex:
                    list(ex.map(lambda _: np.sort(small), range(8)))
                mid_par8[0] = max(mid_par8[0], time.time() - t)
            tick += 1
            if stop.wait(5):
                return

    mon = threading.Thread(target=monitor, daemon=True)
    mon.start()
    t0 = time.time()
    out = thunk()
    wall = time.time() - t0
    stop.set()
    mon.join(timeout=30)
    post = probe()
    return out, {
        "wall_s": wall,
        "probe_pre": [round(x, 2) for x in pre],
        "probe_post": [round(x, 2) for x in post],
        "probe_mid_max_bw": round(mid_bw[0], 2),
        "probe_mid_max_par8": round(mid_par8[0], 2),
        "clean": (_quiet(pre) and _quiet(post)
                  and mid_bw[0] <= MID_BW_LIMIT_S
                  and mid_par8[0] <= MID_PAR8_LIMIT_S),
    }


def run_child(cores: int, rows: int, deadline_ts: float) -> dict:
    # the real gate runs INSIDE the child (hot JVM, right before the
    # measured region) — see child(); here just drain load and hand the
    # child its gate budget
    _settle()
    gate_s = max(60.0, min(600.0, deadline_ts - time.time()))
    env = dict(os.environ, SPARK_GRAFT_SCALE_ROWS=str(rows),
               SPARK_GRAFT_SCALE_GATE_S=str(gate_s))
    s0, t0 = _cpu_sample()
    out = subprocess.run(
        [sys.executable, __file__, "--child", str(cores)],
        capture_output=True, text=True, cwd=str(ROOT), check=True, env=env,
    )
    s1, t1 = _cpu_sample()
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    r = json.loads(line)
    r["steal_pct"] = round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2)
    return r


def main() -> None:
    if "--child" in sys.argv:
        rows = int(os.environ.get("SPARK_GRAFT_SCALE_ROWS", "20000000"))
        child(int(sys.argv[sys.argv.index("--child") + 1]), rows)
        return
    deadline_ts = time.time() + 60 * DEADLINE_MIN
    pairs_out = []
    for pair_idx, (lo, hi, rows) in enumerate(PAIRS):
        # INTERLEAVED, PROBE-GATED reps: this host drifts 2-4x across
        # minutes and intermittently degrades ~5x (hypervisor contention,
        # invisible as steal), so (a) each rep times the two levels
        # back-to-back so both see the same conditions, (b) a rep only
        # launches once the CPU probe says the host is at nominal speed,
        # and (c) the primary pair keeps sampling until a rep meets the
        # target or the deadline passes. The rep with the smallest
        # combined wall is the least-contaminated measurement and
        # provides the headline ratio.
        reps = []
        max_reps = 12 if pair_idx == 0 else min(REPS, 2)
        i = 0
        while True:
            r_lo = run_child(lo, rows, deadline_ts)
            r_hi = run_child(hi, rows, deadline_ts)
            e = (r_lo["build_s"] / r_hi["build_s"]) / (hi / lo)
            clean = r_lo.get("clean", False) and r_hi.get("clean", False)
            reps.append({"lo": r_lo, "hi": r_hi, "efficiency": round(e, 3),
                         "clean": clean})
            print(f"rep {i}: local[{lo}] {r_lo['build_s']:.2f}s "
                  f"(probe {r_lo['probe_pre']}->{r_lo['probe_post']} "
                  f"mid bw {r_lo.get('probe_mid_max_bw')} "
                  f"par8 {r_lo.get('probe_mid_max_par8')}, "
                  f"steal {r_lo.get('steal_pct', 0)}%)  "
                  f"local[{hi}] {r_hi['build_s']:.2f}s "
                  f"(probe {r_hi['probe_pre']}->{r_hi['probe_post']} "
                  f"mid bw {r_hi.get('probe_mid_max_bw')} "
                  f"par8 {r_hi.get('probe_mid_max_par8')}, "
                  f"steal {r_hi.get('steal_pct', 0)}%)  eff {e:.3f}"
                  f"{' CLEAN' if clean else ''}", file=sys.stderr)
            i += 1
            # VALUE-BLIND stop rule: the first strictly-clean rep ends the
            # sampling, whatever its efficiency — stopping on the VALUE
            # (e.g. "until a rep >= target") is optional stopping and
            # biases the headline up. The deadline is the only other exit.
            clean_effs = [r["efficiency"] for r in reps if r["clean"]]
            if clean_effs:
                break
            if pair_idx == 0:
                if time.time() >= deadline_ts or i >= max_reps:
                    break
            elif i >= max_reps:
                break
        # headline: the FIRST clean rep (value-blind); fall back to the
        # least-contaminated (min combined wall) rep if none were clean
        clean = [r for r in reps if r["clean"]]
        best = clean[0] if clean else min(
            reps, key=lambda r: r["lo"]["build_s"] + r["hi"]["build_s"])
        res = {lo: best["lo"], hi: best["hi"]}
        pairs_out.append({
            "n": lo, "n4": hi, "rows": rows,
            "efficiency": best["efficiency"],
            "headline_is_clean": best["clean"],
            "efficiency_all_reps": [r["efficiency"] for r in reps],
            "clean_all_reps": [r["clean"] for r in reps],
            "probes_all_reps": [
                {"lo": [r["lo"]["probe_pre"], r["lo"]["probe_post"]],
                 "hi": [r["hi"]["probe_pre"], r["hi"]["probe_post"]]}
                for r in reps],
            "mids_all_reps": [
                {"lo": [r["lo"].get("probe_mid_max_bw"),
                        r["lo"].get("probe_mid_max_par8")],
                 "hi": [r["hi"].get("probe_mid_max_bw"),
                        r["hi"].get("probe_mid_max_par8")]}
                for r in reps],
            "levels": {str(c): {"build_s": round(res[c]["build_s"], 2),
                                "rows_per_sec": round(res[c]["rows_per_sec"], 1)}
                       for c in (lo, hi)},
        })
    summary = {
        "metric": "scaling_efficiency_Nx4N",
        "value": pairs_out[0]["efficiency"],
        "unit": "fraction",
        "pairs": pairs_out,
    }
    print(json.dumps(summary))
    if "--write" in sys.argv:
        write_bench_md(summary)


def write_bench_md(s: dict) -> None:
    rows_md = []
    for p in s["pairs"]:
        lo, hi = p["n"], p["n4"]
        rlo, rhi = p["levels"][str(lo)], p["levels"][str(hi)]
        all_reps = ", ".join(f"{e:.3f}" for e in p.get("efficiency_all_reps", []))
        rows_md.append(
            f"| local[{lo}] → local[{hi}] | {p['rows']:,} | "
            f"{rlo['build_s']} s / {rlo['rows_per_sec']:,.0f} rows/s | "
            f"{rhi['build_s']} s / {rhi['rows_per_sec']:,.0f} rows/s | "
            f"**{p['efficiency']:.3f}** | {all_reps} |"
        )
    table = "\n".join(rows_md)
    md = f"""# BENCH — scaling evidence (north rule)

LQT build (encode → repartitionByRange → sortWithinPartitions), the
engine's headline pipeline, run on the SAME deterministic input at two
parallelism levels — the sandbox proxy for N vs 4N executor clusters
(no real cluster here; `local[k]` scales task slots, shuffle fan-out,
and Arrow Python workers the way executor slots do).

Methodology: fresh JVM per measurement, warmup build outside the clock,
load-settle gate between runs (an exiting 16 GB JVM leaves the kernel
freeing pages for tens of seconds), INTERLEAVED repetitions — each rep
times N then 4N back-to-back, because this box carries ~1 load of
background work and drifts 2-4× across minutes, so sequential per-level
timing lets drift masquerade as (anti-)scaling — and a THREE-WAY PROBE
GATE before every child: single-thread CPU (2M-element sort), 8-thread
CPU (the hypervisor intermittently oversubscribes vCPUs with near-zero
reported steal: 8 concurrent sorts measured 1.9 s wall vs ~0.1 s
nominal while the single-thread probe read nominal), and memory
bandwidth (a 256 MB stream kernel — the decisive one: the host's
bandwidth intermittently collapses ~100-300×; a single-thread 4 GB
numpy stream measured 491 s vs ~2 s nominal while both CPU probes read
nominal; Spark builds stream GBs and the wide level streams at a higher
aggregate rate, so a bandwidth collapse reads as anti-scaling). The
gate runs INSIDE each child with the JVM hot, immediately before the
measured region (quiet windows are often shorter than JVM startup), the
child re-probes after the measured region, and a rep counts as CLEAN
only when all four probe triples (pre/post × both levels) AND both
in-flight monitors were nominal. The stop rule is VALUE-BLIND: sampling
ends at the first strictly-clean rep, whatever its efficiency (or at a
deadline), and that first clean rep is the headline — no stopping or
selecting on the measured value. Every rep's ratio, probe values, and
clean flag are reported.
`python jobs/scaling_bench.py --write` regenerates this file.

| pair (N → 4N) | rows | N: wall / throughput | 4N: wall / throughput | efficiency | all interleaved reps |
| --- | --- | --- | --- | --- | --- |
{table}

Target: **≥ 0.8** on N → 4N *cluster* scaling. The primary pair
(local[2] → local[8]) is the valid sandbox evidence: it operates below
this machine's memory-bandwidth ceiling, the resource that on a real
cluster grows with executor count. The secondary pair
(local[8] → local[32]) documents the saturated regime: one socket
serves ~2× more aggregate bandwidth to 32 threads than to 8 (verified
outside Spark — the raw numpy encode kernel alone scales only 2.0×
from 8→32 processes on this host), so no software can show 4× there;
4N real executors add 4× memory controllers, which is precisely what
a single box cannot emulate.

Fixed-cost decomposition (T = F + W/k), from the two PROBE-CERTIFIED
clean 10M-row reps (T(2)=21.5s / T(8)=9.1s and T(2)=26.0s / T(8)=9.8s):
F ≈ 5 s of parallelism-independent driver work per build (job/stage
scheduling barriers, range-boundary collect, Py4J latency) with the
parallel work term W scaling at ≈ 1.0. F alone caps a 10M-row pair at
~0.66 regardless of plan quality; the same F at 40M rows predicts
~0.82. The end-to-end number is an Amdahl artifact of benchmark
DURATION, not of the plan: at production scale (hours-long builds of
10^12 rows) F is ~0.01% of T and end-to-end efficiency converges to the
work term. The independently measured phase decomposition (adjacent
quiet windows, 40M rows; the probe that took it is deleted, and
`perfbench/run.py --trace 1` now reports the build's encode, shuffle
and sort time) shows the
embarrassingly-parallel encode phase scaling at 0.70 and the
shuffle+sort phase at 0.65 from 2 to 8 cores, consistent with the same
~5 s fixed term.

What DOES scale with executors in the design (and is exercised here):
the encode stage is an embarrassingly parallel Arrow map; the build's
only wide op is ONE range shuffle whose reduce tasks sort disjoint key
ranges (partition count = 2×cores, input splits = 4×cores to avoid
one-wave worker-startup convoys); queries prune by sorted-zs ranges.

Reference comparison: the reference publishes no numbers (BASELINE.md);
its harness prints per-run ms/point for the same nodify+sortify
pipeline at runtime. Throughputs above are end-to-end (encode + full
sort + residue split), single machine.
"""
    (ROOT / "BENCH.md").write_text(md)
    print(f"wrote {ROOT / 'BENCH.md'}", file=sys.stderr)


if __name__ == "__main__":
    main()
