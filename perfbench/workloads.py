"""The workloads, each one kind of user of the library.

Every workload has the same life cycle, driven by ``run.py``:

* ``__init__`` writes its seeded inputs (benchmark work, not timed);
* ``prepare`` is the program-side set-up timed as ``setup_s``;
* ``warmup`` runs the workload untimed, so the timed part is warm
  (legend_serve for ``WARMUP_S``; dq_ingest once over its small
  corrections file; curation has none: it measures the first pass of a
  fresh session);
* ``measure`` runs for the given seconds and returns a :class:`Measurement`;
* ``check`` compares the outputs with DuckDB twins, outside the timed part;
* ``layers`` turns a traced measurement into per-layer metrics.

An *operation* is the unit the latency metrics count: one request, one
ingest batch, one curation query.  A *unit of work* is what a user waits
for: one request, one ingest pipeline (batches, merge and report), one
curation pass.

:data:`WORKLOADS` are the benchmark's workloads.  ``dq_ingest`` is not one
of them, to keep the benchmark's runs within their time budget; it is a
*probe* (:data:`PROBES`): one pipeline runs in the traced run of
``legend_serve``, after its traced requests, so the write-path layers
(``schema``, ``expectations``, ``dataframe``, ``sources.versioned``) are
still measured.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from legend_community_delta_spark import demo
from legend_community_delta_spark.dataframe import (dq_metrics, legend_transform,
                                                    legend_validate)
from legend_community_delta_spark.sources import (VersionedTable, read_with_schema,
                                                  table_changes)

from . import check, gen
from .trace import GROUP_PREFIX, NullTracer

MIN_REQUESTS = 50  # p90 keeps five samples above it
# the JIT keeps making requests faster for about this long after the
# first pass over the pool; a shorter warm-up times that slope
WARMUP_S = 10.0


@dataclass
class Measurement:
    ops: list[float] = field(default_factory=list)    # seconds per operation
    units: list[float] = field(default_factory=list)  # seconds per unit of work
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)

    def fail(self, op: str, exc: BaseException) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(f"{op}: {type(exc).__name__}: {exc}"[:300])


def median(values) -> float:
    """Median, or 0.0 when every operation failed."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def p50_ms(values: list[float]) -> float:
    return median(values) * 1000


# ---------------------------------------------------------------------------
# legend_serve
# ---------------------------------------------------------------------------

class LegendServe:
    """Closed loop, one client: each request is a stored service or an
    ad-hoc PURE lambda, compiled and run through ``Legend`` and collected."""

    name = "legend_serve"

    def __init__(self, seed: int, data_dir: str, work_dir: str):
        self.data_dir = data_dir
        self.props = gen.write_tpch(seed, data_dir)
        self.pool = gen.serve_requests(seed)
        self.sequence = gen.request_sequence(seed, self.pool, 100_000)
        self.model_load: list[float] = []
        self.results: dict[str, tuple] = {}
        self.unstable: set[str] = set()
        self.issued: dict[str, int] = {}

    def prepare(self, spark) -> None:
        self.spark = spark
        demo.ensure_views(spark, self.data_dir)
        t0 = time.perf_counter()
        self.legend = demo.build_legend(spark)
        self.model_load.append(time.perf_counter() - t0)

    def _query(self, req: gen.Request):
        if req.kind == "service":
            return self.legend.query(req.target)
        return self.legend.query_pure(req.lambda_text, req.target)

    def _traced(self, req: gen.Request, tracer):
        with tracer.span("plans.compile"):
            sql = (self.legend.generate_sql(req.target) if req.kind == "service"
                   else self.legend.generate_sql_pure(req.lambda_text, req.target))
        with tracer.span("catalyst.analyze"):
            df = self.spark.sql(sql)
        with tracer.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("execute.collect"):
            return df.columns, df.collect()

    def warmup(self, spark) -> None:
        """Every distinct request at least once, for ``WARMUP_S``."""
        start = time.perf_counter()
        for i, idx in enumerate(self.sequence):
            if i >= len(self.pool) and time.perf_counter() - start >= WARMUP_S:
                break
            self._query(self.pool[idx]).collect()

    def measure(self, spark, seconds: float, tracer) -> Measurement:
        m = Measurement()
        start = time.perf_counter()
        for i, idx in enumerate(self.sequence):
            if time.perf_counter() - start >= seconds and i >= MIN_REQUESTS:
                break
            req = self.pool[idx]
            m.attempted += 1
            self.issued[req.name] = self.issued.get(req.name, 0) + 1
            t0 = time.perf_counter()
            try:
                if tracer.enabled:
                    with tracer.operation(f"req{i}"):
                        cols, rows = self._traced(req, tracer)
                else:
                    df = self._query(req)
                    rows = df.collect()
                    cols = df.columns
            except Exception as exc:  # a failed request is counted, not fatal
                m.fail(req.name, exc)
                continue
            elapsed = time.perf_counter() - t0
            m.ops.append(elapsed)
            m.units.append(elapsed)
            got = check.spark_rows(cols, rows)
            first = self.results.setdefault(req.name, got)
            if got != first:
                self.unstable.add(req.name)
        m.detail["requests"] = len(m.ops)
        m.detail["qps"] = len(m.ops) / sum(m.ops) if m.ops else 0.0
        return m

    def check(self, m: Measurement) -> dict:
        con = check.connect(self.data_dir, ["orders", "lineitem", "part"])
        bad = set(self.unstable)
        for req in self.pool:
            if req.name not in self.results:
                continue
            sql = demo.ORACLES[gen.SERVICES[req.target]] if req.kind == "service" \
                else req.twin_sql
            if check.duck_rows(con, sql) != self.results[req.name]:
                bad.add(req.name)
        con.close()
        m.failed += sum(self.issued.get(name, 0) for name in bad)
        return {"distinct_checked": len(self.results), "mismatched": sorted(bad),
                "request_mix": dict(self.issued)}

    def layers(self, tracer, m: Measurement, groups: dict) -> dict:
        ops = [s["op"] for s in tracer.spans if s["parent"] is None and s["op"]]
        jobs = [len(tracer.jobs(op)) for op in ops]
        tasks = [groups.get(GROUP_PREFIX + op, {}).get("tasks", 0) for op in ops]
        return {
            "model.load_ms": p50_ms(self.model_load),
            "plans.compile_ms": p50_ms(tracer.durations("plans.compile")),
            "catalyst.analyze_ms": p50_ms(tracer.durations("catalyst.analyze")),
            "catalyst.plan_ms": p50_ms(tracer.durations("catalyst.plan")),
            "execute.collect_ms": p50_ms(tracer.durations("execute.collect")),
            "spark.jobs_per_request": statistics.mean(jobs) if jobs else 0.0,
            "spark.tasks_per_request": statistics.mean(tasks) if tasks else 0.0,
        }


# ---------------------------------------------------------------------------
# dq_ingest
# ---------------------------------------------------------------------------

ENTITY = "tpch::entity::lineitem"
MAPPING = "tpch::mapping::lineitem_delta"
KEYS = ["l_orderkey", "l_linenumber"]

# DuckDB twin of each rule, over the raw camelCase columns; a rule is
# violated when its predicate is not true (false or null)
_RULE_TWINS = {
    **{f"[{p}] is mandatory": f"{p} IS NOT NULL" for p in (
        "orderKey", "partKey", "suppKey", "lineNumber", "quantity",
        "extendedPrice", "discount", "tax", "returnFlag", "lineStatus",
        "shipDate")},
    "[returnFlag] not allowed value": "returnFlag IS NULL OR returnFlag IN ('A', 'N', 'R')",
    "[discount] should be positive": "discount > 0",
    "[tax] below cap": "tax < 0.05",
}
_RAW_COLUMNS = ("{orderKey: 'BIGINT', partKey: 'BIGINT', suppKey: 'BIGINT', "
                "lineNumber: 'INTEGER', quantity: 'DOUBLE', extendedPrice: 'DOUBLE', "
                "discount: 'DOUBLE', tax: 'DOUBLE', returnFlag: 'VARCHAR', "
                "lineStatus: 'VARCHAR', shipDate: 'TIMESTAMP'}")


class DqIngest:
    """Raw JSON batches through schema-on-read, rename, validation and a
    versioned append; then one merge of corrections and a DQ report."""

    name = "dq_ingest"

    def __init__(self, seed: int, data_dir: str, work_dir: str):
        self.props = gen.write_ingest(seed, data_dir)
        self.tables_dir = os.path.join(work_dir, "tables")
        self.model_load: list[float] = []
        self.reports: list[dict] = []
        self._n = 0

    def prepare(self, spark) -> None:
        self.spark = spark
        t0 = time.perf_counter()
        self.legend = demo.build_legend(spark)
        self.model_load.append(time.perf_counter() - t0)

    def _frame(self, path: str, tracer):
        with tracer.span("schema.compile"):
            schema = self.legend.get_schema(ENTITY)
        with tracer.span("expectations.compile"):
            renames = self.legend.get_transformations(MAPPING)
            expectations = self.legend.get_expectations(MAPPING)
        with tracer.span("dataframe.validate_build"):
            df = read_with_schema(self.spark, path, schema)
            df = legend_validate(legend_transform(df, renames), expectations)
        return df, expectations

    def _pipeline(self, batches: list[str], tracer, m: Measurement) -> dict:
        """One unit of work into a fresh table; returns the report."""
        self._n += 1
        path = os.path.join(self.tables_dir, f"t{self._n}")
        table = VersionedTable(self.spark, path)
        rep = f"p{self._n}"
        unit0 = time.perf_counter()
        for b, batch in enumerate(batches):
            m.attempted += 1
            t0 = time.perf_counter()
            with tracer.operation(f"{rep}:b{b}"):
                df, _ = self._frame(batch, tracer)
                with tracer.span("sources.versioned.append"):
                    table.append(df)
            m.ops.append(time.perf_counter() - t0)
        m.attempted += 1
        t0 = time.perf_counter()
        with tracer.operation(f"{rep}:merge"):
            with tracer.span("sources.versioned.latest_version"):
                before = table.latest_version()
            df, expectations = self._frame(self.props["corrections"], tracer)
            with tracer.span("sources.versioned.merge"):
                after = table.merge(df, KEYS)
        merge_s = time.perf_counter() - t0
        m.attempted += 1
        t0 = time.perf_counter()
        with tracer.operation(f"{rep}:report"):
            with tracer.span("sources.versioned.read"):
                latest = table.read()
            with tracer.span("dq.report"):
                rows = latest.count()
                violations = {r["rule"]: r["violations"]
                              for r in dq_metrics(latest, expectations).collect()}
                changes = {r["_change_type"]: r["count"] for r in
                           table_changes(table, before, after, KEYS)
                           .groupBy("_change_type").count().collect()}
        report_s = time.perf_counter() - t0
        m.units.append(time.perf_counter() - unit0)
        return {"rows": rows, "violations": violations, "changes": changes,
                "versions": after + 1, "merge_s": merge_s, "report_s": report_s,
                "path": path}

    def warmup(self, spark) -> None:
        """The whole pipeline once, over the small corrections file only."""
        report = self._pipeline([self.props["corrections"]], NullTracer(), Measurement())
        shutil.rmtree(report["path"], ignore_errors=True)

    def measure(self, spark, seconds: float, tracer) -> Measurement:
        m = Measurement()
        self.reports = []
        start = time.perf_counter()
        while time.perf_counter() - start < seconds or not (m.units or m.failed):
            try:
                report = self._pipeline(self.props["batches"], tracer, m)
            except Exception as exc:  # a failed pipeline is counted, not fatal
                m.fail("pipeline", exc)
                continue
            self.reports.append(report)
            m.detail["bytes_written"], m.detail["files_written"] = _data_size(
                report["path"])
            shutil.rmtree(report["path"], ignore_errors=True)
        batch_rows = self.props["batch_rows"]
        m.detail.update({
            "rows_per_s": batch_rows * len(m.ops) / sum(m.ops) if m.ops else 0.0,
            "merge_s": median(r["merge_s"] for r in self.reports),
            "dq_report_s": median(r["report_s"] for r in self.reports),
            "pipelines": len(self.reports)})
        return m

    def expected(self) -> dict:
        con = check.connect()
        files = ", ".join(f"'{p}'" for p in self.props["batches"])
        con.execute(f"CREATE TABLE raw AS SELECT * FROM read_json([{files}], "
                    f"columns={_RAW_COLUMNS}, format='newline_delimited')")
        con.execute(f"CREATE TABLE fix AS SELECT * FROM read_json("
                    f"'{self.props['corrections']}', columns={_RAW_COLUMNS}, "
                    "format='newline_delimited')")
        con.execute("CREATE VIEW final AS SELECT * FROM raw WHERE NOT EXISTS ("
                    "SELECT 1 FROM fix WHERE fix.orderKey = raw.orderKey "
                    "AND fix.lineNumber = raw.lineNumber) UNION ALL SELECT * FROM fix")
        rows = con.execute("SELECT count(*) FROM final").fetchone()[0]
        counts = con.execute("SELECT " + ", ".join(
            f"count(*) FILTER (WHERE NOT coalesce({sql}, false))"
            for sql in _RULE_TWINS.values()) + " FROM final").fetchone()
        updates = con.execute("SELECT count(*) FROM fix JOIN raw USING "
                              "(orderKey, lineNumber)").fetchone()[0]
        total_fix = con.execute("SELECT count(*) FROM fix").fetchone()[0]
        con.close()
        changes = {"update_preimage": updates, "update_postimage": updates,
                   "insert": total_fix - updates}
        return {"rows": rows,
                "violations": {r: n for r, n in zip(_RULE_TWINS, counts) if n},
                "changes": {k: v for k, v in changes.items() if v},
                "versions": self.props["n_batches"] + 1}

    def check(self, m: Measurement) -> dict:
        want = self.expected()
        bad = 0
        for report in self.reports:
            got = {k: report[k] for k in want}
            if got != want:
                bad += 1
                mismatch = got
        # a wrong report fails the merge and the report of that pipeline
        m.failed += 2 * bad
        out = {"expected": want, "pipelines_mismatched": bad,
               "violation_rate": self.props["violation_rate"],
               "n_batches": self.props["n_batches"],
               "batch_rows": self.props["batch_rows"]}
        if bad:
            out["got"] = mismatch
        return out

    def layers(self, tracer, m: Measurement, groups: dict) -> dict:
        written = m.detail.get("bytes_written", 0)
        return {
            "model.load_ms": p50_ms(self.model_load),
            "schema.compile_ms": p50_ms(tracer.durations("schema.compile")),
            "expectations.compile_ms": p50_ms(tracer.durations("expectations.compile")),
            "dataframe.validate_build_ms": p50_ms(
                tracer.durations("dataframe.validate_build")),
            "sources.versioned.append_ms": p50_ms(
                tracer.durations("sources.versioned.append")),
            "sources.versioned.latest_version_ms": p50_ms(
                tracer.durations("sources.versioned.latest_version")),
            "sources.versioned.merge_ms": p50_ms(
                tracer.durations("sources.versioned.merge")),
            "sources.versioned.read_ms": p50_ms(
                tracer.durations("sources.versioned.read")),
            "dq.report_ms": p50_ms(tracer.durations("dq.report")),
            "sources.versioned.bytes_written": written,
            "sources.versioned.files_written": m.detail.get("files_written", 0),
            "sources.versioned.bytes_per_input_byte": written / self.props["raw_bytes"],
        }


def _data_size(path: str) -> tuple[int, int]:
    """Bytes and count of the parquet data files under *path*."""
    size = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, name))
                files += 1
    return size, files


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------

CURATION_QUERIES = ["minhash_pairs", "verified_near_dup_clusters",
                    "max_dup_spans", "unigram_token_stats",
                    "exact_contamination_docs"]
EXACT_ORACLES = {"minhash_pairs", "max_dup_spans", "exact_contamination_docs"}


class Curation:
    """One pass of the job-loop-heavy curation operators through
    ``demo.QUERIES``, each forced with the noop sink.  The first pass of
    a fresh session is the unit of work, as in a batch curation job; the
    query plans are compiled inside it."""

    name = "curation"

    def __init__(self, seed: int, data_dir: str, work_dir: str):
        self.data_dir = data_dir
        self.props = gen.write_corpus(seed, data_dir)
        self.frames: dict = {}

    def prepare(self, spark) -> None:
        self.spark = spark
        demo.ensure_views(spark, self.data_dir)

    def warmup(self, spark) -> None:
        """None: a warm-up would compile the plans the pass measures."""

    def measure(self, spark, seconds: float, tracer) -> Measurement:
        """One pass, however long *seconds* is: a second pass would be a
        warm one, a different unit of work."""
        m = Measurement()
        m.detail["per_query_s"] = {}
        unit0 = time.perf_counter()
        for q in CURATION_QUERIES:
            m.attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.operation(f"{q}:build"):
                    df = demo.QUERIES[q](spark, self.data_dir)
                with tracer.operation(f"{q}:execute"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed query is counted, not fatal
                m.fail(q, exc)
                continue
            m.ops.append(time.perf_counter() - t0)
            m.detail["per_query_s"][q] = m.ops[-1]
            self.frames[q] = df
        m.units.append(time.perf_counter() - unit0)
        m.detail["storage_after_pass"] = _storage(spark)
        return m

    def check(self, m: Measurement) -> dict:
        con = check.connect(self.data_dir, ["documents"])
        out: dict = {"near_dup_share": self.props["near_dup_share"],
                     "near_dup_copies": self.props["near_dup_copies"],
                     "exact_copies": self.props["exact_copies"]}
        bad = []
        for q in CURATION_QUERIES:
            if q not in self.frames:
                continue  # already counted as failed
            # the pass's frame, executed again: the jobs its query
            # function ran are not repeated, only the final plan runs
            cols, rows = self.frames[q].columns, self.frames[q].collect()
            if q in EXACT_ORACLES:
                ok = check.duck_rows(con, demo.ORACLES[q]) == check.spark_rows(cols, rows)
            elif q == "verified_near_dup_clusters":
                ok, recall = self._cluster_check(con, rows)
                out["cluster_recall"] = recall
            else:  # unigram_token_stats: rows-only, one row per document
                ok = len(rows) == self.props["docs"]
            if not ok:
                bad.append(q)
        con.close()
        m.failed += len(bad)
        out["mismatched"] = bad
        return out

    def _cluster_check(self, con, rows) -> tuple[bool, dict]:
        """LSH may miss a pair, so the verified clusters must refine the
        exact oracle's clusters; recall is recorded as counts."""
        exact = dict(con.execute(demo.ORACLES["verified_near_dup_clusters"]).fetchall())
        got = {r["doc_id"]: r["component"] for r in rows}
        members: dict[int, set] = {}
        for doc, comp in got.items():
            members.setdefault(comp, set()).add(doc)
        refines = all(doc in exact for doc in got) and all(
            len({exact[d] for d in docs}) == 1 for docs in members.values())
        planted = [(a, b) for a, b in self.props["planted_pairs"]
                   if a in exact and exact.get(a) == exact.get(b)]
        found = sum(1 for a, b in planted
                    if a in got and got.get(a) == got.get(b))
        return refines, {"docs_clustered": len(got), "docs_exact": len(exact),
                         "planted_pairs": len(planted), "planted_found": found}

    def layers(self, tracer, m: Measurement, groups: dict) -> dict:
        out = {}
        for q in CURATION_QUERIES:
            build = [s for s in tracer.spans
                     if s["parent"] is None and s["name"] == f"{q}:build"]
            execute = [s for s in tracer.spans
                       if s["parent"] is None and s["name"] == f"{q}:execute"]
            jobs_build = [len(tracer.jobs(s["name"])) for s in build]
            jobs_exec = [len(tracer.jobs(s["name"])) for s in execute]
            out[f"operators.{q}.build_s"] = median(s["end"] - s["start"] for s in build)
            out[f"operators.{q}.execute_s"] = median(s["end"] - s["start"] for s in execute)
            out[f"operators.{q}.jobs_build"] = median(jobs_build)
            out[f"operators.{q}.jobs_total"] = median(
                b + e for b, e in zip(jobs_build, jobs_exec))
        rdds, size = m.detail["storage_after_pass"]
        out["spark.persisted_rdds_after_pass"] = rdds
        out["spark.storage_bytes_after_pass"] = size
        return out


def _storage(spark) -> tuple[int, int]:
    """Persisted RDDs and the bytes they hold, memory plus disk."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    size = sum(i.memSize() + i.diskSize() for i in infos)
    return jsc.getPersistentRDDs().size(), size


WORKLOADS = {w.name: w for w in (LegendServe, Curation)}
# workload -> the probe whose layers its traced run also measures
PROBES = {LegendServe.name: DqIngest}
