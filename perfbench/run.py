"""Benchmark entry point.

    python3 perfbench/run.py --workload legend_serve --seed 1 --seconds 6 --trace 0

Run from the repository root.  Workloads: ``legend_serve`` and
``curation`` (see ``workloads.py``).  With ``--trace 0`` the last line
of standard output is one JSON object with the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced phase, run in
a session of its own after the untraced one.  The traced phase of
``legend_serve`` also runs one ``dq_ingest`` pipeline, the probe of the
write-path layers.
The line before it holds the details: sample counts, workload properties,
check results and load averages.  Everything the run writes goes under
``.bench_work/`` in the repository root and is removed at exit, except the
span files of traced runs (``.bench_work/spans/``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:  # run as a script: the package lives in the root
    sys.path.insert(0, ROOT)

from perfbench.trace import (GROUP_PREFIX, SPARK_FIELDS,  # noqa: E402
                             NullTracer, Tracer, event_files, parse_event_log,
                             totals)
from perfbench.workloads import (CURATION_QUERIES, PROBES, WORKLOADS,  # noqa: E402
                                 median)

# set-up rounds; the first also starts the JVM, so their median is the
# set-up of a session in a running JVM (the first round is in the detail)
SETUP_ROUNDS = 5

# name -> unit, in the order BENCHMARK.json lists them
# unit_s is the median unit of work: for legend_serve, where a unit is one
# request, also the median request latency; op_p90_ms is the tail of the
# operations (requests; curation queries)
END_TO_END = {"setup_s": "s", "unit_s": "s", "op_p90_ms": "ms"}
_QUERY_LAYERS = {f"operators.{q}.{k}": u
                 for q in CURATION_QUERIES
                 for k, u in (("build_s", "s"), ("execute_s", "s"),
                              ("jobs_build", "count"), ("jobs_total", "count"))}
PER_LAYER = {
    "model.load_ms": "ms", "plans.compile_ms": "ms",
    "catalyst.analyze_ms": "ms", "catalyst.plan_ms": "ms",
    "execute.collect_ms": "ms", "spark.jobs_per_request": "count",
    "spark.tasks_per_request": "count",
    "schema.compile_ms": "ms", "expectations.compile_ms": "ms",
    "dataframe.validate_build_ms": "ms",
    "sources.versioned.append_ms": "ms",
    "sources.versioned.latest_version_ms": "ms",
    "sources.versioned.merge_ms": "ms", "sources.versioned.read_ms": "ms",
    "dq.report_ms": "ms",
    "sources.versioned.bytes_written": "B",
    "sources.versioned.files_written": "count",
    "sources.versioned.bytes_per_input_byte": "ratio",
    **_QUERY_LAYERS,
    "spark.persisted_rdds_after_pass": "count",
    "spark.storage_bytes_after_pass": "B",
    "spark.executor_run_s": "s/unit", "spark.scheduler_delay_s": "s/unit",
    "spark.shuffle_read_bytes": "B/unit", "spark.shuffle_write_bytes": "B/unit",
    "spark.spill_bytes": "B/unit", "spark.gc_s": "s/unit",
    "spark.python_runner_s": "s/unit", "spark.failed_tasks": "count",
    "trace.overhead_pct": "%",
}


def session_conf(work: str, event_dir: str | None) -> dict[str, str]:
    """The one session preset: all cores of this machine, a quarter of
    its memory (at most 4 GiB) for the JVM heap, and every file Spark
    writes kept under *work*."""
    cores = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{max(1, min(4, int(ram_gib // 4)))}g",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.default.parallelism": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData",
        "spark.eventLog.enabled": "false",
    }
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return conf


def start_session(conf: dict[str, str]):
    from pyspark.sql import SparkSession
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then end its JVM and wait for it, so that the
    next session starts a JVM of its own."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    # close the Python side first, so objects collected later do not
    # call into a JVM that is gone
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def percentile(values: list[float], q: float) -> float:
    """Percentile by linear interpolation between closest ranks, or 0.0
    when every operation failed."""
    ordered = sorted(values)
    if not ordered:
        return 0.0
    pos = q * (len(ordered) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def end_to_end(setup: list[float], m) -> tuple[dict, dict]:
    values = {
        "setup_s": median(setup),
        "unit_s": median(m.units),
        "op_p90_ms": percentile(m.ops, 0.90) * 1000,
    }
    samples = {"setup_s": len(setup), "unit_s": len(m.units),
               "op_p90_ms": len(m.ops)}
    return values, samples


def per_layer(workload, tracer, traced, baseline: list[float], groups) -> dict:
    """The traced workload's layers; the ``spark.*`` totals count only
    the jobs of its own operations, not those of the idle group or of a
    probe run after it."""
    values = {name: 0.0 for name in PER_LAYER}
    values.update(workload.layers(tracer, traced, groups))
    own = {GROUP_PREFIX + s["op"] for s in tracer.spans
           if s["parent"] is None and s["op"]}
    spark = totals(groups, exclude=tuple(g for g in groups if g not in own))
    units = max(1, len(traced.units))
    for k in SPARK_FIELDS:
        values[f"spark.{k}"] = spark[k] if k == "failed_tasks" else spark[k] / units
    if traced.units and baseline:
        values["trace.overhead_pct"] = 100 * (median(traced.units) / median(baseline) - 1)
    return values


def run(args, work: str) -> tuple[dict, dict, int, int, bool]:
    load_start = os.getloadavg()[:2]
    t0 = time.perf_counter()
    workload = WORKLOADS[args.workload](args.seed, os.path.join(work, "data"), work)
    gen_s = time.perf_counter() - t0

    conf = session_conf(work, None)
    spark, setup, probe_detail = None, [], None
    try:
        for _ in range(SETUP_ROUNDS):
            if spark is not None:
                spark.stop()  # the JVM stays up: only the first round starts it
            t0 = time.perf_counter()
            spark = start_session(conf)
            workload.prepare(spark)
            setup.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        workload.warmup(spark)
        warmup_s = time.perf_counter() - t0
        m = workload.measure(spark, args.seconds, NullTracer())
        t0 = time.perf_counter()
        checks = workload.check(m)
        check_s = time.perf_counter() - t0
        values, samples = end_to_end(setup, m)
        units = dict(END_TO_END)
        attempted, failed, errors = m.attempted, m.failed, list(m.errors)
        if args.trace:
            # the traced phase runs in a JVM and session of its own, the
            # event log on, prepared and warmed up like the untraced one;
            # the untraced phase is the baseline of trace.overhead_pct, so
            # the overhead includes the event log's cost
            shutdown(spark)
            spark = None
            event_dir = os.path.join(work, "events")
            os.makedirs(event_dir)
            spark = start_session(session_conf(work, event_dir))
            workload.prepare(spark)
            workload.warmup(spark)
            tracer = Tracer(spark)
            traced = workload.measure(spark, args.seconds, tracer)
            tracer.resolve_jobs()
            probe = None
            if args.workload in PROBES:
                # one pipeline, prepared and warmed up in this session
                probe = PROBES[args.workload](
                    args.seed, os.path.join(work, "probe-data"), work)
                probe.prepare(spark)
                probe.warmup(spark)
                probe_tracer = Tracer(spark)
                probed = probe.measure(spark, 0, probe_tracer)
                probe_detail = {"workload": probe.name,
                                "properties": _props(probe),
                                "checks": probe.check(probed),
                                "measured": probed.detail}
            shutdown(spark)  # flushes the event log
            spark = None
            groups = parse_event_log(event_files(event_dir))
            values = per_layer(workload, tracer, traced, m.units, groups)
            samples = {"baseline_units": len(m.units),
                       "traced_units": len(traced.units),
                       "traced_ops": len(traced.ops)}
            units = dict(PER_LAYER)
            attempted += traced.attempted
            failed += traced.failed
            errors += traced.errors
            if probe is not None:
                values.update(probe.layers(probe_tracer, probed, groups))
                samples["probe_ops"] = len(probed.ops)
                attempted += probed.attempted
                failed += probed.failed
                errors += probed.errors
            spans_dir = os.path.join(ROOT, ".bench_work", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.write(os.path.join(spans_dir, f"{args.workload}-s{args.seed}.json"))
            if probe is not None:
                probe_tracer.write(os.path.join(
                    spans_dir, f"{args.workload}-s{args.seed}-{probe.name}.json"))
    finally:
        shutdown(spark)

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "samples": samples, "properties": _props(workload), "checks": checks,
        "measured": m.detail, "errors": errors,
        "setup_rounds_s": setup, "generate_s": gen_s, "warmup_s": warmup_s,
        "check_s": check_s,
        "loadavg_1m_5m": {"start": load_start, "end": os.getloadavg()[:2]},
    }
    if probe_detail is not None:
        detail["probe"] = probe_detail
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    return detail, metrics, attempted, failed, failed == 0


def _props(workload) -> dict:
    """The workload's recorded input properties, without file lists."""
    return {k: v for k, v in workload.props.items()
            if k not in ("batches", "corrections", "planted_pairs")}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the JVM, its Python workers and tempfile all inherit these
    os.environ.update({"TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                       # the launcher JVM that spark-submit starts first
                       "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                       "PYSPARK_PYTHON": sys.executable})
    tempfile.tempdir = None
    cwd = os.getcwd()
    os.chdir(work)  # spark-warehouse/, metastore_db/ and derby.log land here
    try:
        detail, metrics, attempted, failed, correct = run(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
