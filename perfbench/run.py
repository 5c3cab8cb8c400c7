"""Benchmark runner: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload noise_census_100k --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line on stdout is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are BENCHMARK.json's ``end_to_end`` list, with ``--trace 1``
its ``per_layer`` list, each as ``{"value", "unit"}``. Progress and
Spark's logs go to stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
# per process, so two runs in one checkout never share scratch space
WORK = os.path.join(HERE, ".work", str(os.getpid()))
WATCHDOG_S = 170


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def host_env() -> "dict[str, str]":
    """Size Spark from this host: one task thread per usable core, and
    a driver heap of 40% of MemTotal capped at 6 GiB (the JVM, the
    Python workers and the page cache share the rest)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(6 * 1024, int(mem_kb * 0.4 / 1024)))
    tmp = os.path.join(WORK, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        # the Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # get_spark's toy warm-up job would cost ~6 s of every run; the
        # timed calls are a fresh job's first calls and pay that warm-up
        "SPARK_GRAFT_NO_WARMUP": "1",
        # keep every scratch file inside the checkout
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark"),
    }


def start_spark(env: "dict[str, str]"):
    from pseudopeople_spark.session import get_spark

    tmp = env["TMPDIR"]
    return get_spark(
        "perfbench",
        master=f"local[{env['SPARK_GRAFT_CPUS']}]",
        extra_conf={
            # progress bars write \r lines that break line parsing
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    from perfbench import procfs

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while True:
        left = [p for p in procfs.tree() if p != os.getpid()]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def _kill_tree_and_exit() -> None:
    from perfbench import procfs

    log(f"run exceeded {WATCHDOG_S} s; stopping")
    for p in procfs.tree():
        if p != os.getpid():
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    os._exit(3)


def result_metrics(spec: dict, trace: bool, workload, values: "dict[str, float]") -> "dict[str, dict]":
    """Every metric BENCHMARK.json lists for this mode, with its unit.
    Per-layer metrics of a layer the workload does not run read 0; any
    other missing metric is an error."""
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        if name in values:
            v = values[name]
        elif trace and name.startswith(workload.not_run):
            v = 0
        else:
            raise KeyError(f"workload produced no value for metric {name}")
        out[name] = {"value": v, "unit": m["unit"]}
    return out


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "pseudopeople_spark", "__init__.py")) or not os.path.isfile(spec_path):
        log("run from the repository root: pseudopeople_spark/ or BENCHMARK.json is missing")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    # import perfbench as a package of the checkout, never its modules
    # as top-level names (perfbench/trace.py would shadow stdlib trace)
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    from perfbench import procfs, workloads

    registry = {
        "noise_census_100k": (workloads.noise_census, {"seconds": args.seconds}),
        "resolve_10k_ckpt": (workloads.resolve_ckpt, {"work_dir": WORK}),
    }
    if args.workload not in registry:
        log(f"unknown workload {args.workload!r}; choose from {sorted(registry)}")
        return 2
    fn, kwargs = registry[args.workload]
    exp_path = os.path.join(HERE, "expected.json")
    expected = None
    if os.path.isfile(exp_path):
        with open(exp_path) as f:
            expected = json.load(f).get(args.workload, {}).get(str(args.seed))

    env = host_env()
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.environ.update(env)
    watchdog = threading.Timer(WATCHDOG_S, _kill_tree_and_exit)
    watchdog.daemon = True
    watchdog.start()
    # peak_rss_mb is per-layer: sample only in traced runs, so the
    # untraced timed calls carry no sampling thread
    rss = procfs.PeakRss().start() if args.trace else None
    steal0 = procfs.host_steal_s()
    t_start = time.perf_counter()
    spark = None
    try:
        spark = start_spark(env)
        log(f"session up in {time.perf_counter() - t_start:.1f} s ({env['SPARK_GRAFT_CPUS']} cores, "
            f"heap {env['SPARK_GRAFT_DRIVER_MEM']}); workload {args.workload} seed {args.seed}")
        out = fn(spark, args.seed, bool(args.trace), expected, **kwargs)
        values = dict(out.metrics)
        values["setup_s"] = values.pop("_setup_done") - t_start
        if rss is not None:
            rss.stop()
            values["peak_rss_mb"] = rss.peak / 2**20
        metrics = result_metrics(spec, bool(args.trace), fn, values)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if rss is not None:
            rss.stop()
        if spark is not None:
            stop_spark(spark)
        watchdog.cancel()
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:  # another run still uses it
            pass
    for p in out.problems:
        log(f"check failed: {p}")
    with open("/proc/loadavg") as f:
        load = f.read().split()[0]
    log(f"{out.attempted} calls, {out.failed} failed; host steal {procfs.host_steal_s() - steal0:.1f} s "
        f"over {time.perf_counter() - t_start:.0f} s, loadavg {load}")
    result = {
        "correct": out.attempted >= 1 and out.failed == 0 and not out.problems,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
