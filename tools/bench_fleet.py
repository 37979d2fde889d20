"""Fleet-mode scaling evidence: N executors vs 4N as 4 INDEPENDENT
8-core-pinned Spark processes on disjoint core sets.

Why this exists: an interleaved local[8]→local[32] campaign conflates three things on this host — engine
scaling, local-mode's single shared JVM feeding 32 Python workers, and
a host personality that burst-serves narrow pinned runs ~2× beyond
what the CPU/memory probes predict while crushing wide runs.  A real
4N-executor cluster shares NONE of local-mode's JVM state, so the
faithful sandbox analogue of "4× the executors" is 4 separate
single-JVM processes, each pinned to its own disjoint 8-core set, each
running the identical end-to-end pipeline on its own (equal-size)
input.  Efficiency = sum(fleet per-process docs/s) / (4 × solo
docs/s).  Whatever this measures is pure host capacity + the engine —
there is no cross-process Spark state left to bottleneck, so a crushed
fleet ratio is attributable to the box (and carries per-process
steal% from bench.py to prove it), while a clean one is the north
rule's number with the local-mode tax removed.

Levels are interleaved (solo, fleet, solo, fleet, ...) because
adjacent-in-time samples are the only fair comparison on a drifting
host.

Usage: python tools/bench_fleet.py [n_pages_per_process] [trials]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORES_PER_PROC = 8
FLEET = 4


def _env(tmp_suffix: str, n_pages: int) -> dict:
    tmpdir = f"/dev/shm/fleet_{tmp_suffix}"
    os.makedirs(tmpdir, exist_ok=True)
    return dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(CORES_PER_PROC),
        SPARK_GRAFT_PAGES=str(n_pages),
        SPARK_GRAFT_BENCH_QUERIES="0",
        TMPDIR=tmpdir,
        SPARK_LOCAL_DIRS=tmpdir,
    )


def _parse(stdout: str) -> dict:
    line = [ln for ln in stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def run_solo(n_pages: int) -> dict | None:
    out = subprocess.run(
        ["taskset", "-c", f"0-{CORES_PER_PROC - 1}", sys.executable,
         os.path.join(REPO, "bench.py")],
        env=_env("solo", n_pages), capture_output=True, text=True,
    )
    if out.returncode != 0:
        print(f"# solo failed:\n{out.stderr[-1500:]}", file=sys.stderr)
        return None
    return _parse(out.stdout)


def run_fleet(n_pages: int) -> list[dict] | None:
    procs = []
    t0 = time.time()
    for i in range(FLEET):
        lo = i * CORES_PER_PROC
        cpu_list = f"{lo}-{lo + CORES_PER_PROC - 1}"
        procs.append(subprocess.Popen(
            ["taskset", "-c", cpu_list, sys.executable,
             os.path.join(REPO, "bench.py")],
            env=_env(f"p{i}", n_pages),
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        ))
    results = []
    for i, p in enumerate(procs):
        stdout, stderr = p.communicate()
        if p.returncode != 0:
            print(f"# fleet proc {i} failed:\n{stderr[-1500:]}",
                  file=sys.stderr)
            return None
        results.append(_parse(stdout))
    print(f"# fleet wall {time.time() - t0:.1f}s", file=sys.stderr)
    return results


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 1_500_000
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    pairs = []
    for t in range(trials):
        solo = run_solo(n_pages)
        fleet = run_fleet(n_pages)
        if not solo or not fleet:
            continue
        fleet_sum = sum(r["value"] for r in fleet)
        eff = (fleet_sum / solo["value"]) / FLEET
        rec = {
            "solo_docs_per_sec": solo["value"],
            "solo_steal_pct": solo.get("steal_pct", {}).get(
                "pipeline_e2e", -1.0),
            "fleet_docs_per_sec_each": [r["value"] for r in fleet],
            "fleet_docs_per_sec_sum": round(fleet_sum, 1),
            "fleet_steal_pct_each": [
                r.get("steal_pct", {}).get("pipeline_e2e", -1.0)
                for r in fleet
            ],
            "efficiency": round(eff, 3),
        }
        pairs.append(rec)
        print(f"# pair {t}: {json.dumps(rec)}", file=sys.stderr)
    if not pairs:
        sys.exit("no successful trial pairs")
    print(json.dumps({
        "metric": "fleet_scaling_efficiency_N_to_4N",
        "shape": f"1x{CORES_PER_PROC} solo vs {FLEET}x{CORES_PER_PROC} "
                 "independent pinned processes (disjoint cores)",
        "n_pages_per_process": n_pages,
        "trial_pairs": len(pairs),
        "pairs": pairs,
        "median_efficiency": round(
            statistics.median(p["efficiency"] for p in pairs), 3),
        "pass_median": statistics.median(
            p["efficiency"] for p in pairs) >= 0.8,
    }))


if __name__ == "__main__":
    main()
