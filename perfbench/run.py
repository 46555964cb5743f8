"""Layered benchmark for the extraction pipeline and the operator suite.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One driver process builds a Spark session on
``local[nproc]``, generates the workload's inputs from ``--seed`` (cached
under ``.perfbench_work/``), times repetitions for ``--seconds`` seconds,
checks every output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones (see perfbench/README.md), measured in a run
that alternates untraced and traced repetitions so it can report its own
tracing overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [HERE, ROOT]

from gen import (OPS_DIR, ensure_transcripts, ensure_warmup,  # noqa: E402
                 ops_fingerprint)
from status import (StatusStore, boundary_overhead_s,  # noqa: E402
                    jobs_in_groups, parse_time, python_totals,
                    span_coverage, stage_totals, stage_wall_s)
from spans import RssSampler, Tracer  # noqa: E402

WORKLOADS = ("pipeline_unique", "ops_suite")
# the ops_suite repetition: the two loop-driven queries whose cost is
# driver-side rounds, per-job scheduling and small shuffles.  A full
# 32-query pass takes 40-65 s on 4 cores even on the sf0.001 tables,
# which one run cannot afford, so the traced run sweeps all 32 once, before
# its timed window, for the ops.<query> metrics.
OPS_TIMED = ("bpe_merges", "link_pagerank")
# untimed repetitions before timing, so the JVM's JIT has compiled the
# job's hot paths.  Counted, not timed: the JIT compiles by invocation
# counts, so a time budget leaves a slow host's timed repetitions less
# compiled and widens the run-to-run spread.  On 4 cores an ops_suite pass
# fell 12.4 -> 5.4 -> 4.8 -> 4.5 -> 4.1 -> 3.8 s over its first six runs
# and ~3.2 s after twenty; a run_pipeline call 6.8 -> 4.2 -> 3.1 s, then
# ~2.8 s from the fourth on.  Warming further would not fit the run's time
# budget on a slow host.
WARM_REPS = {"pipeline_unique": 3, "ops_suite": 4}
CHECK_SAMPLE = 24          # turns compared with the plain function per run
CORE_SAMPLE = 128          # distinct payloads timed in-process (traced run)
UDF_BATCH = 64             # rows per extract_udf batch, as in build_session
DEADLINE_S = 170           # hard stop, so a hung run still exits non-zero
MIB = float(1 << 20)

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "turns_per_s": "1/s",
             "worker_peak_rss_mb": "MiB"}


def layer_units(ops_queries) -> dict[str, str]:
    units = {
        "core.parse_ms": "ms", "core.extract_from_doc_ms": "ms",
        "udfs.batch_ms": "ms",
        "boundary.python_run_s": "s", "boundary.overhead_s": "s",
        "boundary.python_init_s": "s", "boundary.sent_mb": "MiB",
        "boundary.returned_mb": "MiB", "boundary.rows": "count",
        "spark.jobs": "count", "spark.stages": "count",
        "spark.tasks": "count", "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s", "spark.gc_s": "s",
        "spark.shuffle_write_mb": "MiB", "spark.shuffle_read_mb": "MiB",
        "spark.spill_mb": "MiB", "spark.input_mb": "MiB",
        "spark.output_mb": "MiB", "spark.extract_stage_s": "s",
        "trace.overhead_s": "s", "trace.span_coverage": "ratio",
    }
    for q in ops_queries:
        units[f"ops.{q}.wall_s"] = "s"
        units[f"ops.{q}.jobs"] = "count"
    return units


def pipeline_failures(n_turns: int, reps: list[tuple[int, int]],
                      mismatches: int) -> tuple[int, int]:
    """(attempted, failed) turn extractions over ``reps`` of
    (output rows, rows whose error starts with ``exception:``); a missing
    or surplus row, a fatal error and a sampled-row mismatch each fail."""
    attempted = n_turns * len(reps)
    failed = sum(abs(n_turns - rows) + exc for rows, exc in reps) + mismatches
    return attempted, min(failed, attempted)


def ops_failures(passes: list[dict],
                 sweep: dict | None = None) -> tuple[int, int]:
    """(attempted, failed) query runs.  ``passes`` are the timed passes, of
    {query: forced hash, or None if it raised}: a query fails when it
    raises or when its hash differs from the first hash recorded for it.
    ``sweep`` runs each suite query once, so a sweep query is checked only
    for raising, and for the timed queries against their timed hash."""
    attempted = failed = 0
    first: dict = {}
    for p in passes:
        for q, h in p.items():
            attempted += 1
            if h is None:
                failed += 1
            elif first.setdefault(q, h) != h:
                failed += 1
    for q, h in (sweep or {}).items():
        attempted += 1
        failed += h is None or first.get(q, h) != h
    return attempted, failed


def abba_overhead(seq: list[tuple[bool, float]]) -> float:
    """Tracing overhead from whole ABBA blocks of (traced, wall): the median
    over blocks of (B1 + B2 - A0 - A3) / 2, which cancels a drift that is
    linear within a block."""
    diffs = []
    for k in range(0, len(seq) - 3, 4):
        block = seq[k:k + 4]
        if [t for t, _ in block] != [False, True, True, False]:
            raise ValueError(f"not an ABBA block: {block}")
        (_, a0), (_, b1), (_, b2), (_, a3) = block
        diffs.append((b1 + b2 - a0 - a3) / 2)
    return statistics.median(diffs)


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], units: dict[str, str]) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in units}})


# --- environment -----------------------------------------------------------

def prepare_env(run_dir: str) -> None:
    """Keep every file the run, Spark and the JVM write inside the
    checkout, and let the Python workers import the repository."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # no progress bar: it interleaves carriage returns into the logs
    os.environ["PYSPARK_SUBMIT_ARGS"] = \
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    java = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"{java} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()


class Bench:
    def __init__(self, args, nproc: int):
        self.args = args
        self.nproc = nproc
        self.tracer = Tracer(bool(args.trace))
        self.run_dir = os.path.join(
            WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.store = None
        self.exec_offset = 0
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Accumulate wall time per run phase (reported in the summary)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + \
                time.perf_counter() - t0

    # --- session -------------------------------------------------------------

    def setup(self, warm_path: str) -> float:
        """build_session + a 64-turn extract_udf job that spawns and imports
        one Python worker per core; returns the set-up wall time."""
        from pyspark.sql import functions as F
        from readability_spark.pipeline import build_session
        from readability_spark.udfs import extract_udf

        t0 = time.perf_counter()
        with self.tracer.span("build_session"):
            self.spark = build_session(
                "perfbench", master=f"local[{self.nproc}]",
                shuffle_partitions=max(self.nproc, 8))
            self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("warmup"):
            # force through the UDF's output: count() would prune the UDF
            (self.spark.read.parquet(warm_path).repartition(self.nproc)
             .select(extract_udf("text").alias("x"))
             .agg(F.sum(F.length("x.extracted_text"))).first())
        setup_s = time.perf_counter() - t0
        sc = self.spark.sparkContext
        if self.tracer.enabled:
            self.store = StatusStore(sc.uiWebUrl, sc.applicationId)
            self.drain()
            self.exec_offset = len(self.store.executions())
        return setup_s

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def shutdown(self) -> None:
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)
        self.spark = None

    def drain(self) -> None:
        """Wait until Spark's listener bus has delivered every event, so the
        status store holds the finished jobs, stages and executions."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    def collect_layers(self, groups: set[str], parent: dict) -> dict:
        """Status-store totals for the jobs of ``groups``; adds job and
        stage spans under ``parent``."""
        self.drain()
        jobs = jobs_in_groups(self.store.jobs(), groups)
        stages = self.store.stages()
        execs = self.store.executions(self.exec_offset)
        self.exec_offset += len(execs)
        totals = stage_totals(jobs, stages)
        job_ids = {j["jobId"] for j in jobs}
        py = python_totals(execs, job_ids)
        totals["extract_stage_s"] = stage_wall_s(stages, py.pop("stage_ids"))
        totals.update({f"py.{k}": v for k, v in py.items()})
        by_stage = {s["stageId"]: s for s in stages
                    if s.get("status") == "COMPLETE"}
        intervals = []
        for j in jobs:
            a, b = parse_time(j.get("submissionTime")), \
                parse_time(j.get("completionTime"))
            if a is None or b is None:
                continue
            intervals.append((a, b))
            jid = self.tracer.add("spark.job", a, b, parent["id"],
                                  job_id=j["jobId"], group=j.get("jobGroup"))
            for sid in j.get("stageIds", []):
                s = by_stage.get(sid)
                if s is None:
                    continue
                sa, sb = parse_time(s.get("submissionTime")), \
                    parse_time(s.get("completionTime"))
                if sa is not None and sb is not None:
                    self.tracer.add("spark.stage", sa, sb, jid, stage_id=sid)
        totals["coverage"] = span_coverage(
            (parent["start"], parent["end"]), intervals)
        return totals

    # --- repetitions ---------------------------------------------------------

    def warm(self, rep_once, reps: int) -> None:
        """``reps`` untimed repetitions."""
        with self.phase("warm"), self.tracer.span("warmup.reps"):
            for _ in range(reps):
                rep_once()

    def timed(self, rep_fn) -> tuple[list[tuple[bool, float]], list[dict],
                                      float]:
        """Run ``rep_fn(i, traced)`` until ``--seconds`` of repetitions have
        been measured.  Untraced runs trace nothing; traced runs alternate
        untraced and traced repetitions in ABBA blocks and stop only after
        a whole block.  Returns every repetition's (traced, wall) in order,
        the traced layer totals and the peak worker RSS."""
        seq: list[tuple[bool, float]] = []
        layers: list[dict] = []
        measured = 0.0
        i = 0
        with RssSampler(self.jvm_pid()) as rss:
            while (measured < self.args.seconds
                   or (self.tracer.enabled and i % 4)):
                traced = self.tracer.enabled and i % 4 in (1, 2)
                wall, totals = rep_fn(i, traced)
                measured += wall
                seq.append((traced, wall))
                if traced:
                    layers.append(totals)
                i += 1
        return seq, layers, rss.peak_bytes / MIB

    def traced_rep(self, i: int, traced: bool, name: str, groups: list[str],
                   body) -> tuple[float, dict]:
        """Time ``body(group_of)`` as one repetition; when traced, tag its
        jobs with per-rep groups and read their layer totals afterwards."""
        if not traced:
            t0 = time.perf_counter()
            body(lambda g: None)
            return time.perf_counter() - t0, {}
        with self.tracer.span(name, rep=i) as sp:
            t0 = time.perf_counter()
            body(self.set_group)
            wall = time.perf_counter() - t0
        self.set_group(None)
        totals = self.collect_layers(set(groups), sp)
        totals["wall"] = wall
        return wall, totals


# --- pipeline workload -----------------------------------------------------

def check_sample(spark, out_path: str, rows: list[tuple], seed: int,
                 tracer: Tracer) -> int:
    """Compare a fixed sample of output rows with the plain function
    ``readability_core.extract(html, build_aria=False)``, field by field;
    returns the number of sampled turns that differ or are missing."""
    from pyspark.sql import functions as F
    from readability_core import extract
    from readability_spark.schema import EXTRACT_SCHEMA

    rng = random.Random(seed + 99)
    idx = rng.sample(range(len(rows)), min(CHECK_SAMPLE, len(rows)))
    keys = {f"{rows[i][0]}#{rows[i][1]}": i for i in idx}
    got = (spark.read.parquet(out_path)
           .filter(F.concat_ws("#", "conv_id", "turn_idx").isin(list(keys)))
           .collect())
    by_key: dict[str, list] = {}
    for r in got:
        by_key.setdefault(f"{r['conv_id']}#{r['turn_idx']}", []).append(r)
    fields = [f.name for f in EXTRACT_SCHEMA.fields]
    bad = 0
    for key, i in sorted(keys.items()):
        with tracer.span("core.extract", turn=key):
            rec = extract(rows[i][3], build_aria=False)
        rec["link_hrefs"] = [link["href"] for link in rec["links"]]
        rec["link_texts"] = [link["text"] for link in rec["links"]]
        out = by_key.get(key, [])
        if len(out) != 1 or any(out[0][f] != rec[f] for f in fields):
            bad += 1
            print(f"perfbench: sample mismatch at {key}", file=sys.stderr)
    return bad


def run_pipeline_workload(b: Bench, rows: list[tuple],
                          in_path: str) -> tuple[dict, tuple[int, int]]:
    from pyspark.sql import functions as F
    from readability_spark.pipeline import run_pipeline

    spark = b.spark
    out = os.path.join(b.run_dir, "out")
    met = os.path.join(b.run_dir, "metrics")
    n_turns = len(rows)
    rep_checks: list[tuple[int, int]] = []
    b.warm(lambda: run_pipeline(spark, in_path, out, met, resume=False),
           WARM_REPS["pipeline_unique"])

    def rep(i: int, traced: bool):
        res = {}
        group = f"rep-{i}"

        def body(set_group):
            set_group(group)
            res.update(run_pipeline(spark, in_path, out, met, resume=False))
        wall, totals = b.traced_rep(i, traced, "run_pipeline", [group], body)
        exc = spark.read.parquet(met).agg(F.sum("n_errors")).first()[0]
        rep_checks.append((res["rows"], int(exc or 0)))
        return wall, totals

    with b.phase("timed"):
        seq, layers, rss_mb = b.timed(rep)
    with b.phase("check"):
        mismatches = check_sample(spark, out, rows, b.args.seed, b.tracer)
    failures = pipeline_failures(n_turns, rep_checks, mismatches)
    return {"seq": seq, "layers": layers, "rss_mb": rss_mb,
            "items": n_turns}, failures


# --- operator suite --------------------------------------------------------

def force(df) -> int:
    """Evaluate through every output column (bench.py's forcing)."""
    from pyspark.sql import functions as F

    return (df.select(F.xxhash64(F.struct("*")).alias("h"))
            .agg(F.expr("bit_xor(h)")).first()[0])


def run_ops_pass(b: Bench, qs: dict, names, sf_dir: str,
                 set_group) -> tuple[dict, dict]:
    hashes, walls = {}, {}
    for q in names:
        set_group(f"q-{q}")
        with b.tracer.span("query", query=q):
            t0 = time.perf_counter()
            try:
                hashes[q] = force(qs[q](b.spark, sf_dir))
            except Exception:
                traceback.print_exc()
                hashes[q] = None
            walls[q] = time.perf_counter() - t0
        b.spark.catalog.clearCache()
    set_group(None)
    return hashes, walls


def run_ops_workload(b: Bench, sf_dir: str, ops_queries) -> tuple[dict, tuple]:
    import __spark_entry__

    qs = __spark_entry__.queries()
    passes: list[dict] = []
    sweep, sweep_hashes = {}, {}
    if b.tracer.enabled:
        # every suite query once, each in its own job group: the JVM's first
        # run of each.  It stands in for all but one of the warm-up
        # repetitions, which a traced run has no time left for
        with b.phase("sweep"), b.tracer.span("ops.sweep") as sp:
            sweep_hashes, qwalls = run_ops_pass(
                b, qs, ops_queries, sf_dir,
                lambda g: b.set_group(None if g is None else f"sweep-{g}"))
        b.drain()
        jobs = b.store.jobs()
        for q in ops_queries:
            sweep[q] = {"wall_s": qwalls[q],
                        "jobs": sum(j.get("jobGroup") == f"sweep-q-{q}"
                                    for j in jobs)}
        sp["queries"] = len(ops_queries)
    b.warm(lambda: run_ops_pass(b, qs, OPS_TIMED, sf_dir, lambda g: None),
           1 if b.tracer.enabled else WARM_REPS["ops_suite"])

    def rep(i: int, traced: bool):
        groups = [f"p{i}-q-{q}" for q in OPS_TIMED]

        def body(set_group):
            grouped = (lambda g: set_group(None if g is None else
                                           f"p{i}-{g}"))
            passes.append(run_ops_pass(b, qs, OPS_TIMED, sf_dir, grouped)[0])
        return b.traced_rep(i, traced, "ops_pass", groups, body)

    with b.phase("timed"):
        seq, layers, rss_mb = b.timed(rep)
    # the sweep runs each query once: the others are checked for raising only
    checks = {"hash_stable": sorted(OPS_TIMED),
              "raise_only": sorted(set(sweep_hashes) - set(OPS_TIMED))}
    return {"seq": seq, "layers": layers, "rss_mb": rss_mb,
            "items": len(OPS_TIMED), "sweep": sweep, "checks": checks}, \
        ops_failures(passes, sweep_hashes)


# --- in-process layer probes -----------------------------------------------

def core_probe(payloads: list[str], tracer: Tracer) -> dict:
    """ms per turn in parse_guarded / extract_from_doc, and ms per 64-row
    extract_udf batch, single-process while Spark is idle."""
    import pandas as pd
    from readability_core.extract import extract_from_doc, parse_guarded
    from readability_spark.udfs import extract_udf

    parse_s = doc_s = 0.0
    for html in payloads:
        with tracer.span("core.parse_guarded"):
            t0 = time.perf_counter()
            doc, err = parse_guarded(html)
            parse_s += time.perf_counter() - t0
        with tracer.span("core.extract_from_doc"):
            t0 = time.perf_counter()
            extract_from_doc(doc, err, build_aria=False)
            doc_s += time.perf_counter() - t0
    batches = [payloads[i:i + UDF_BATCH]
               for i in range(0, len(payloads) - UDF_BATCH + 1, UDF_BATCH)]
    batch_ms = []
    for batch in batches:
        series = pd.Series(batch)
        with tracer.span("udfs.extract_udf", rows=len(batch)):
            t0 = time.perf_counter()
            extract_udf.func(series)
            batch_ms.append((time.perf_counter() - t0) * 1e3)
    n = len(payloads)
    return {"core.parse_ms": parse_s * 1e3 / n,
            "core.extract_from_doc_ms": doc_s * 1e3 / n,
            "udfs.batch_ms": statistics.median(batch_ms)}


def core_payloads(texts: list[str]) -> list[str]:
    """Fixed sample of distinct payloads, ordered by content hash so the
    sample does not depend on row order."""
    import hashlib

    distinct = {t for t in texts if t is not None}
    ranked = sorted(distinct,
                    key=lambda t: hashlib.sha256(t.encode()).hexdigest())
    return ranked[:CORE_SAMPLE]


def layer_values(res: dict, core: dict, units: dict) -> dict:
    layers = res["layers"]

    def med(key: str) -> float:
        return statistics.median(t[key] for t in layers)

    v = {k: 0.0 for k in units}
    v.update(core)
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
              "input_mb", "output_mb", "extract_stage_s"):
        v[f"spark.{k}"] = med(k)
    for k in ("python_run_s", "python_init_s", "sent_mb", "returned_mb",
              "rows"):
        v[f"boundary.{k}"] = med(f"py.{k}")
    v["boundary.overhead_s"] = boundary_overhead_s(
        v["boundary.python_run_s"], v["boundary.rows"],
        core.get("udfs.batch_ms", 0.0) / UDF_BATCH)
    v["trace.overhead_s"] = abba_overhead(res["seq"])
    v["trace.span_coverage"] = med("coverage")
    for q, s in res.get("sweep", {}).items():
        v[f"ops.{q}.wall_s"] = s["wall_s"]
        v[f"ops.{q}.jobs"] = s["jobs"]
    return v


# --- main ------------------------------------------------------------------

def _deadline(signum, frame):
    raise TimeoutError(f"perfbench: run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test; a checkout without it fails here, before any
    # input is generated or any result printed
    import bench
    import pyspark
    import readability_core  # noqa: F401
    import readability_spark  # noqa: F401

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    nproc = len(os.sched_getaffinity(0))
    b = Bench(args, nproc)
    prepare_env(b.run_dir)
    t_inputs = time.perf_counter()
    inputs = os.path.join(WORK, "inputs")
    warm_path = ensure_warmup(inputs, args.seed)
    if args.workload == "ops_suite":
        fp = ops_fingerprint()
    else:
        in_path, fp, rows = ensure_transcripts(inputs, args.seed,
                                               parts=nproc)
    b.phases["inputs"] = time.perf_counter() - t_inputs
    print(json.dumps({"fingerprint": fp}), flush=True)

    try:
        with b.phase("setup"):
            setup_s = b.setup(warm_path)
        core = {}
        if args.workload == "ops_suite":
            res, (attempted, failed) = run_ops_workload(
                b, OPS_DIR, bench.OPS_QUERIES)
        else:
            res, (attempted, failed) = run_pipeline_workload(
                b, rows, in_path)
            if args.trace:
                # no Python UDF runs in ops_suite: core.* and udfs.* read 0
                with b.phase("probe"):
                    core = core_probe(core_payloads([r[3] for r in rows]),
                                      b.tracer)
        spark_version = b.spark.version
    finally:
        with b.phase("shutdown"):
            b.shutdown()
    signal.alarm(0)

    walls = [w for traced, w in res["seq"] if not traced]
    wall_s = statistics.median(walls)
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "master": f"local[{nproc}]",
        "spark": spark_version, "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "reps": len(walls), "wall_s_reps": [round(w, 4) for w in walls],
        "wall_s_max": max(walls), "failed_frac": failed / attempted,
        "checks": res.get("checks"),
        "phases_s": {k: round(v, 3) for k, v in b.phases.items()},
    }
    if args.trace:
        units = layer_units(bench.OPS_QUERIES)
        values = layer_values(res, core, units)
        summary["span_coverage_reps"] = [t["coverage"]
                                         for t in res["layers"]]
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(
            trace_dir, f"{args.workload}-seed{args.seed}.json")
        b.tracer.write(trace_path)
        summary["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        units = E2E_UNITS
        values = {"setup_s": setup_s, "wall_s": wall_s,
                  "turns_per_s": res["items"] / wall_s,
                  "worker_peak_rss_mb": res["rss_mb"]}
    shutil.rmtree(b.run_dir, ignore_errors=True)
    print(json.dumps({"summary": summary}), flush=True)
    print(result_line(failed == 0, attempted, failed, values, units),
          flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
