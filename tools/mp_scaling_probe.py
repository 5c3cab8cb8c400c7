"""Pure-Python scaling probe for the fused scoring kernel — NO Spark.

Answers one question: does the worker-side kernel itself (pyarrow take
+ Arrow/numpy sims + memo caches) scale from 2 to 8 pinned cores on
THIS host? Spawns P subprocesses, pins EACH to its own single core
(taskset), gives each an equal slice of the materialized pair batches,
and reports aggregate pairs/sec at each P. Because the processes share
nothing but the page cache and the memory bus, any sublinearity here
is host contention (memory bandwidth / SMT / steal), not Spark
plumbing — and conversely, if this scales but the Spark leg doesn't,
the defect is in the leg shape.

Usage:
  python tools/mp_scaling_probe.py [n=50000] [levels=2,8] [reps=2]
  python tools/mp_scaling_probe.py --worker <n> <slice_idx> <n_slices>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
INPUT_DIR = os.environ.get("SCALING_INPUT_DIR", "/tmp/pp_scaling_input")


def worker(n: int, slice_idx: int, n_slices: int) -> None:
    import pyarrow.dataset as ds

    from pseudopeople_spark.linkage import scoring

    rec_tbl = ds.dataset(os.path.join(INPUT_DIR, f"records_int_{n}")).to_table(
        columns=["record_id", *scoring.LOOKUP_FIELDS]
    )
    pair_tbl = ds.dataset(os.path.join(INPUT_DIR, f"pairs_{n}")).to_table(
        columns=["id_l", "id_r"]
    )
    lookup = scoring.ArrowIpcLookup(rec_tbl)
    families = scoring._nickname_families()
    batches = pair_tbl.combine_chunks().to_batches(max_chunksize=20_000)
    mine = batches[slice_idx::n_slices]
    n_pairs = sum(b.num_rows for b in mine)
    t0 = time.time()
    # decisions as resolve() makes them (ResolveConfig defaults:
    # threshold 0.92, unique_within_dataset True) — the ceiling must
    # measure the SAME per-pair work as the Spark scoring stage it bounds
    for _ in scoring.match_batches(iter(mine), lookup, families, 0.92, True):
        pass
    wall = time.time() - t0
    print(json.dumps({"slice": slice_idx, "pairs": n_pairs, "wall": round(wall, 2)}))


def run_level(n: int, p: int) -> dict:
    procs = []
    t0 = time.time()
    for i in range(p):
        procs.append(
            subprocess.Popen(
                ["taskset", "-c", str(i), sys.executable, __file__,
                 "--worker", str(n), str(i), str(p)],
                stdout=subprocess.PIPE, text=True, cwd=REPO,
            )
        )
    total_pairs = 0
    max_wall = 0.0
    for pr in procs:
        out, _ = pr.communicate()
        line = [l for l in out.splitlines() if l.startswith("{")][-1]
        r = json.loads(line)
        total_pairs += r["pairs"]
        max_wall = max(max_wall, r["wall"])
    wall = time.time() - t0
    return {
        "p": p, "pairs": total_pairs, "wall": round(wall, 2),
        "max_worker_wall": max_wall,
        "pairs_per_sec": round(total_pairs / max_wall, 1),
    }


def main() -> None:
    if sys.argv[1:2] == ["--worker"]:
        worker(int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    levels = [int(x) for x in (sys.argv[2] if len(sys.argv) > 2 else "2,8").split(",")]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    best: "dict[int, dict]" = {}
    for _ in range(reps):
        for p in levels:
            r = run_level(n, p)
            sys.stderr.write(f"[probe] {r}\n")
            if p not in best or r["pairs_per_sec"] > best[p]["pairs_per_sec"]:
                best[p] = r
    lo, hi = min(levels), max(levels)
    eff = best[lo]["max_worker_wall"] / ((hi / lo) * best[hi]["max_worker_wall"])
    out = {"n": n, "levels": {str(p): best[p] for p in levels},
           "lo": lo, "hi": hi,
           "kernel_scaling_efficiency": round(eff, 3)}
    print(json.dumps(out))
    if os.environ.get("PROBE_WRITE", "") == "1" or "--write" in sys.argv:
        # the workload-matched hardware ceiling: the scoring kernel with
        # zero framework — any sublinearity here bounds what ANY engine
        # can show for this workload on this host (bench_scaling reads it)
        with open(os.path.join(REPO, "BENCH", "KERNEL_CEILING.json"), "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
