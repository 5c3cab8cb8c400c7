"""The benchmark's workloads.

A workload builds its inputs from the seed (set-up), runs its timed
calls, and checks the outputs of every call. ``trace=False`` returns
the end-to-end metrics; ``trace=True`` also runs traced calls and
returns the per-layer metrics. The metric ``_setup_done`` marks the
end of set-up for the runner.

Per-layer metric prefixes a workload does not exercise are listed in
its ``not_run`` tuple; the runner reports them as 0.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import procfs, trace as tr


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    attempted: int = 0
    failed: int = 0
    problems: "list[str]" = field(default_factory=list)
    metrics: "dict[str, float]" = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        if not ok and what not in self.problems:
            self.problems.append(what)
        return ok

    def attempt(self, fn) -> "tuple[float, bool]":
        """Time ``fn() -> bool`` (True when its outputs passed their
        checks); an exception counts as a failed call."""
        self.attempted += 1
        steal0 = procfs.host_steal_s()
        t0 = time.perf_counter()
        try:
            ok = fn()
        except Exception as exc:
            ok = self.check(False, f"{type(exc).__name__}: {exc}"[:300])
        wall = time.perf_counter() - t0
        self.failed += 0 if ok else 1
        log(f"call {self.attempted}: {wall:.3f} s, host steal {procfs.host_steal_s() - steal0:.1f} s"
            f"{'' if ok else ' FAILED'}")
        return wall, ok


def _median(xs) -> float:
    return float(statistics.median(xs))


# --------------------------------------------------------------- noising

NOISE_ROWS = 100_000
NOISE_MIN_CALLS = 3
NOISE_TRACE_REPS = 2
# token-kernel noise types (operators.kernels); every other column
# noise type is a JVM column expression (operators.column_noise)
KERNEL_TYPES = ("make_phonetic_errors", "make_ocr_errors", "make_typos")


def _checksum(df) -> "tuple[int, str]":
    """Row count and an xxhash64 sum over every output column: forces
    every noised column (a bare count() would let Catalyst prune them)."""
    n, s = df.agg(F.count("*"), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()
    return int(n), str(s)


def _noise_variants(ds: str) -> "dict[str, dict | None]":
    """Config overrides that switch the noise layers on one at a time:
    nothing, row noise only, row + JVM column noise, everything."""
    from pseudopeople_spark import config

    cols = config.NO_NOISE[ds]["column_noise"]
    no_kernel = {
        col: {nt: {"cell_probability": 0.0} for nt in nts if nt in KERNEL_TYPES}
        for col, nts in cols.items()
    }
    return {
        "none": config.NO_NOISE,
        "row_only": {ds: {"column_noise": cols}},
        "no_kernel": {ds: {"column_noise": {c: v for c, v in no_kernel.items() if v}}},
        "full": None,
    }


def noise_census(spark, seed: int, trace: bool, expected: "dict | None", seconds: float) -> Outcome:
    """Warm census noising: noise_dataset(DECENNIAL_CENSUS) over
    pre-materialized rows. Set-up runs the plan twice, untimed: the
    first call is the cold one a one-shot job pays (plan building, code
    generation, JIT warm-up) and is checked against the reference; the
    second lets HotSpot finish compiling. The timed calls rerun the same
    plan for ``seconds``, at least NOISE_MIN_CALLS times, and ``wall_s``
    is their median."""
    from pseudopeople_spark import config, datasets as D, noise, synth

    out = Outcome()
    pop = synth.simulants(spark, NOISE_ROWS, seed=seed)
    census = synth.census_records(pop, 2020).localCheckpoint()
    rows_in = census.count()
    noised = noise.noise_dataset(census, D.DECENNIAL_CENSUS, config.get_config(), seed=seed + 1)
    t0 = time.perf_counter()
    first = _checksum(noised)
    log(f"cold call: {time.perf_counter() - t0:.3f} s; {rows_in} rows in, {first[0]} out, checksum {first[1]}")
    out.check(expected is None or list(first) == expected["checksum"], "checksum differs from the reference")
    out.check(_checksum(noised) == first, "checksum differs between calls")
    out.metrics["_setup_done"] = time.perf_counter()

    def call() -> bool:
        return out.check(_checksum(noised) == first, "checksum differs between calls")

    if not trace:
        walls: "list[float]" = []
        end = time.perf_counter() + seconds
        while len(walls) < NOISE_MIN_CALLS or time.perf_counter() + _median(walls) <= end:
            walls.append(out.attempt(call)[0])
        wall = _median(walls)
        out.metrics.update(wall_s=wall, rows_per_s=rows_in / wall)
        return out

    # traced: each noise layer's wall is the difference between config
    # variants that switch the layers on one at a time, each compiled by
    # an untimed call and then timed warm
    tracer = tr.Tracer(spark.sparkContext)
    for name, overrides in _noise_variants(D.DECENNIAL_CENSUS.name).items():
        df = noised if overrides is None else noise.noise_dataset(
            census, D.DECENNIAL_CENSUS, config.get_config(overrides), seed=seed + 1
        )
        res = _checksum(df)

        def traced_call() -> bool:
            with tracer.span(f"noise.{name}"):
                again = _checksum(df)
            return out.check(again == res, f"checksum of the {name} variant differs between calls")

        for _ in range(NOISE_TRACE_REPS):
            out.attempt(traced_call)
    out.check(res == first, "traced checksum differs from the untraced one")
    spans = tracer.collect()

    def wall_of(name: str) -> float:
        return _median([s.wall_s for s in spans if s.name == f"noise.{name}"])

    full = [s for s in spans if s.name == "noise.full"]
    m = out.metrics
    m["operators.row_noise.wall_s"] = wall_of("row_only") - wall_of("none")
    m["operators.column_noise.wall_s"] = wall_of("no_kernel") - wall_of("row_only")
    m["operators.kernels.wall_s"] = wall_of("full") - wall_of("no_kernel")
    m["operators.kernels.py_cpu_s"] = _median([s.py_cpu_s for s in full])
    m["noise.jvm_cpu_s"] = full[-1].cpu_s
    m["noise.jobs"] = full[-1].jobs
    m["noise.tasks"] = full[-1].tasks
    m["noise.shuffle_bytes"] = full[-1].shuffle_bytes
    m["noise.spill_bytes"] = full[-1].spill_bytes
    m["noise.rows_out"] = first[0]
    m["trace.overhead_s"] = tracer.overhead_s / len(spans)  # one span per traced call
    return out


noise_census.not_run = ("linkage.", "resolve.", "checkpoint.")


# ------------------------------------------------------------- resolving

RESOLVE_SIMULANTS = 10_000
STAGES = ("normalize", "blocking", "pairs", "scoring", "clustering")
MIN_F1 = 0.99


def _resolve_inputs(spark, n: int, seed: int):
    """Noised W2/1099 + SSA extracts for ``n`` simulants, normalized into
    one canonical records frame, plus the (record_id, simulant_id) truth."""
    from pseudopeople_spark import config, datasets as D, noise, synth
    from pseudopeople_spark.linkage.pipeline import normalize_records

    pop = synth.simulants(spark, n, seed=seed)
    cfg = config.get_config()
    # each extract is materialized once: the records and the truth read it
    w2 = noise.noise_dataset(synth.w2_records(pop, 2020), D.TAXES_W2_AND_1099, cfg, seed=seed + 1).localCheckpoint()
    ssa = noise.noise_dataset(synth.ssa_records(pop), D.SOCIAL_SECURITY, cfg, seed=seed + 2).localCheckpoint()
    nw = normalize_records(
        w2, "w2", "MM/dd/yyyy",
        column_map={"zipcode": "mailing_address_zipcode", "city": "mailing_address_city",
                    "state": "mailing_address_state"},
        ref_year=2020,
    )
    ns = normalize_records(ssa, "ssa", "yyyyMMdd", dob_fallback="event_date", period_col="event_type")
    records = nw.unionByName(ns).localCheckpoint()
    truth = w2.select("record_id", "simulant_id").unionByName(ssa.select("record_id", "simulant_id"))
    return records, truth


def _output_counts(res, cfg) -> "dict[str, float]":
    """Block, edge and cluster counts of one resolve() result."""
    sizes = res["blocks"].groupBy("block_key").count()
    rows, biggest, oversized = sizes.agg(
        F.sum("count"), F.max("count"), F.sum((F.col("count") > cfg.max_block_size).cast("long"))
    ).first()
    clusters, max_cluster = (
        res["assignments"].groupBy("cluster_id").count().agg(F.count("*"), F.max("count")).first()
    )
    return {
        "linkage.blocking.block_rows": rows,
        "linkage.blocking.max_block": biggest,
        "linkage.blocking.oversized_blocks": oversized,
        "linkage.scoring.matched_edges": res["scored"].count(),
        "linkage.clustering.clusters": clusters,
        "linkage.clustering.max_cluster": max_cluster,
    }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _sub, files in os.walk(path) for f in files)


class _Resolver:
    """resolve() calls over one input, each into a fresh durable
    checkpoint directory (StageCheckpointer resumes on the stage name
    alone, so a reused one would time a re-read) that is checked and
    removed after the call."""

    def __init__(self, spark, records, truth, work_dir: str, out: Outcome, expected: "dict | None"):
        self.spark, self.records, self.truth = spark, records, truth
        self.work_dir, self.out, self.expected = work_dir, out, expected
        self.n_records = records.count()
        self.pairs: "int | None" = None
        self.f1 = 0.0
        self.ckpt_bytes = 0
        self.counts: "dict[str, float]" = {}
        self.wall = 0.0

    def call(self, tracer: "tr.Tracer | None" = None) -> bool:
        """One resolve() call, timed into ``self.wall``; with a tracer
        the call is traced and the output counts the per-layer metrics
        need are taken, off the clock, before its checkpoints go."""
        from pseudopeople_spark.linkage.pipeline import ResolveConfig, resolve

        ckpt = os.path.join(self.work_dir, f"ckpt_{uuid.uuid4().hex}")
        cfg = ResolveConfig(checkpoint_dir=ckpt)
        try:
            t0 = time.perf_counter()
            if tracer is None:
                res = resolve(self.spark, self.records, cfg)
            else:
                with tr.resolve_hooks(tracer), tracer.span("resolve"):
                    res = resolve(self.spark, self.records, cfg)
            self.wall = time.perf_counter() - t0
            ok = self._check(res, ckpt)
            if tracer is not None:
                self.counts = _output_counts(res, cfg)
            return ok
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

    def _check(self, res, ckpt: str) -> bool:
        from pseudopeople_spark.linkage.metrics import pairwise_f1_on_candidates

        out, exp = self.out, self.expected
        ok = True
        for stage in STAGES[1:]:
            ok &= out.check(
                os.path.exists(os.path.join(ckpt, stage, "_SUCCESS_STAGE")),
                f"stage {stage} wrote no manifest",
            )
        self.ckpt_bytes = _dir_bytes(ckpt)
        pairs = res["pairs"].count()
        if self.pairs is None:
            self.pairs = pairs
        ok &= out.check(pairs == self.pairs, "candidate pairs differ between calls")
        ok &= out.check(exp is None or pairs == exp["candidate_pairs"], "candidate pairs differ from the reference")
        n, nd, nc = res["assignments"].agg(
            F.count("*"), F.count_distinct("record_id"), F.count("cluster_id")
        ).first()
        ok &= out.check(n == nd == nc == self.n_records, "not every record was assigned a cluster")
        mapping = res["id_mapping"]
        truth_rid = self.truth.join(mapping, "record_id").select(F.col("rid").alias("record_id"), "simulant_id")
        asg_rid = res["assignments"].join(mapping, "record_id").select(F.col("rid").alias("record_id"), "cluster_id")
        self.f1 = pairwise_f1_on_candidates(res["pairs"], asg_rid, truth_rid)["f1"]
        ok &= out.check(self.f1 >= MIN_F1, f"F1 {self.f1:.5f} below {MIN_F1}")
        ok &= out.check(exp is None or abs(self.f1 - exp["f1"]) < 1e-9, "F1 differs from the reference")
        log(f"{pairs} candidate pairs, F1 {self.f1:.9f}, checkpoints {self.ckpt_bytes} B")
        return ok


def resolve_ckpt(spark, seed: int, trace: bool, expected: "dict | None", work_dir: str) -> Outcome:
    """One resolve() job as a batch submission runs it: the timed call
    is the first resolve() of the session, so it pays plan compilation
    and JIT warm-up as every fresh job does. Traced, that call is traced."""
    out = Outcome()
    records, truth = _resolve_inputs(spark, RESOLVE_SIMULANTS, seed)
    r = _Resolver(spark, records, truth, work_dir, out, expected)
    log(f"inputs ready: {r.n_records} records")
    out.metrics["_setup_done"] = time.perf_counter()
    if not trace:
        out.attempt(r.call)
        out.metrics.update(wall_s=r.wall, rows_per_s=r.n_records / r.wall)
        return out

    tracer = tr.Tracer(spark.sparkContext)
    out.attempt(lambda: r.call(tracer))
    tracer.collect()
    m = out.metrics
    stage_wall = 0.0
    for s in STAGES:
        t = tracer.totals(f"linkage.{s}")
        stage_wall += t["wall_s"]
        for k in ("wall_s", "jobs", "tasks", "cpu_s", "shuffle_bytes", "spill_bytes"):
            m[f"linkage.{s}.{k}"] = t[k]
    m["linkage.scoring.py_cpu_s"] = tracer.totals("linkage.scoring")["py_cpu_s"]
    m["resolve.jobs"] = sum(m[f"linkage.{s}.jobs"] for s in STAGES) + tracer.totals("resolve")["jobs"]
    m["resolve.attributed_frac"] = stage_wall / r.wall
    m["trace.overhead_s"] = tracer.overhead_s  # one traced call
    m["linkage.scoring.ipc_lookup"] = tracer.flags["ipc_lookup"]
    m["linkage.clustering.local_path"] = tracer.flags["local_path"]
    m["checkpoint.bytes_written"] = r.ckpt_bytes
    m["linkage.f1"] = r.f1
    m["linkage.pairs.candidate_pairs"] = r.pairs
    m.update(r.counts)
    m["linkage.scoring.match_rate"] = r.counts["linkage.scoring.matched_edges"] / r.pairs
    return out


resolve_ckpt.not_run = ("operators.", "noise.")
