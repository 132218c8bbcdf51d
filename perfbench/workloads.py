"""The closed-loop workloads. One client runs one job at a time on
``local[$(nproc)]``; run.py drives set-up, the timed loop and the checks.

Each workload implements:

* ``prepare(input_dir)`` -- generate and write the seeded inputs;
* ``iterate(spark, k, traced)`` -- one timed job;
* ``check(spark)`` -- compare every kept output with its oracle;
* ``before_stop(spark)`` and ``traced_layers(session, log, iters)`` -- the
  per-layer metrics of a traced run, before and after the session's event
  log is closed (``session(cores)`` builds a new session).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from . import checks, gen, trace

REPLAY_DOCS = 400
SCALING_DAYS = 4  # days of the base crawl that kernels_spark.scaling_eff runs over


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _files_under(path: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


class Workload:
    name = ""
    PREFIXES: tuple[str, ...] = ()
    WARMUP_JOBS = 1  # untimed jobs in set-up

    def __init__(self, seed: int, work: str, pool):
        self.seed = seed
        self.work = work
        self.pool = pool
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}
        self.spans = 0.0  # Python-side span seconds inside traced jobs

    def record(self, problems: list[str]) -> None:
        """Count one operation; it failed if it has problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    @staticmethod
    def label(spark, op: str, k: int, traced: bool) -> None:
        spark.sparkContext.setJobDescription(f"perfbench:{op}:{k}" if traced else None)

    def install_spans(self):
        """Wrap layer entry points for a traced loop; returns the undo."""
        return lambda: None

    def before_stop(self, spark) -> None:
        pass


class JobIncremental(Workload):
    """``pipeline.run_extraction_job`` into a fresh output directory, then
    one more day of pages and a ``resume=True`` run."""

    name = "job_incremental"
    PREFIXES = ("perfbench:job_",)

    def prepare(self, input_dir: str) -> None:
        base, extra, self.stats = gen.make_job_incremental(self.seed, self.pool)
        self.pages = base + extra
        self.base_dir, self.extra_dir = gen.write_job_incremental(base, extra, input_dir)
        self.cells = {(p.warc_ts.date().isoformat(), gen.url_bucket(p.url)) for p in self.pages}
        self.outputs: list[tuple[str, dict, dict]] = []
        self.timings: dict[str, list[float]] = {"full": [], "resume": []}

    def _round(self, spark, out: str, k: int, traced: bool, base: list[str]):
        from sbb_ocr_postcorrection_spark.pipeline import run_extraction_job

        shutil.rmtree(out, ignore_errors=True)
        self.label(spark, "job_full", k, traced)
        t0 = time.perf_counter()
        full = run_extraction_job(spark, spark.read.parquet(*base), out)
        t1 = time.perf_counter()
        self.label(spark, "job_resume", k, traced)
        resume = run_extraction_job(
            spark, spark.read.parquet(*base, self.extra_dir), out, resume=True
        )
        return full, resume, t1 - t0, time.perf_counter() - t1

    def iterate(self, spark, k: int, traced: bool) -> None:
        out = os.path.join(self.work, f"out{len(self.outputs)}")
        full, resume, t_full, t_resume = self._round(spark, out, k, traced, [self.base_dir])
        self.outputs.append((out, full, resume))
        if traced:
            self.timings["full"].append(t_full)
            self.timings["resume"].append(t_resume)
            files = _files_under(os.path.join(out, "extractions"))
            self.layers["sources.files_written"] = len(files)
            self.layers["sources.bytes_written_per_input_byte"] = (
                sum(os.path.getsize(f) for f in files) / self.stats["html_bytes"]
            )
            self.layers["pipeline.partitions_done"] = full["partitions_done"] + resume["partitions_done"]
            self.layers["pipeline.partitions_skipped"] = resume["partitions_skipped"]

    def check(self, spark) -> None:
        import pyarrow.parquet as pq

        from sbb_ocr_postcorrection_spark import snapshots

        want = checks.oracle_texts(self.pages, self.pool)
        for out, full, resume in self.outputs:
            problems = checks.check_resume(
                full, resume, self.stats["partitions"], self.stats["extra_partitions"]
            )
            snaps = snapshots.list_snapshots(out)
            problems += checks.check_snapshot_log(
                [s["snapshot_id"] for s in snaps],
                snapshots.snapshot_partition_set(snaps[-1] if snaps else None),
                self.cells,
            )
            manifest = pq.read_table(os.path.join(out, "_manifest"), columns=["dt", "bkt"])
            problems += checks.check_manifest(
                [(r["dt"].isoformat(), r["bkt"]) for r in manifest.to_pylist()], self.cells
            )
            got = snapshots.read_extractions(spark, out).select("url", "extracted_text").toArrow()
            problems += checks.compare_texts(
                dict(zip(got["url"].to_pylist(), got["extracted_text"].to_pylist())), want
            )
            self.record(problems)
            shutil.rmtree(out, ignore_errors=True)
        self.outputs = []

    def install_spans(self):
        """Time ``snapshots.current_snapshot``, ``pipeline.load_manifest``
        and the two commit calls from outside the package."""
        from sbb_ocr_postcorrection_spark import pipeline, snapshots

        self.pending_py = 0.0
        self.commit_py = 0.0
        span_of = {
            (snapshots, "current_snapshot"): "pending_py",
            (pipeline, "load_manifest"): "pending_py",
            (snapshots, "begin_commit"): "commit_py",
            (snapshots, "commit_snapshot"): "commit_py",
        }
        originals = {key: getattr(*key) for key in span_of}

        def wrap(fn, attr):
            def timed(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    dt = time.perf_counter() - t0
                    setattr(self, attr, getattr(self, attr) + dt)
                    self.spans += dt
            return timed

        for (mod, name), attr in span_of.items():
            setattr(mod, name, wrap(originals[mod, name], attr))

        def undo():
            for (mod, name), fn in originals.items():
                setattr(mod, name, fn)
        return undo

    def traced_layers(self, session, log: trace.EventLog, iters: int) -> None:
        self.layers.update(trace.replay_kernel([p.html for p in self.pages[:REPLAY_DOCS]]))
        for key in trace.PY_METRICS.values():
            self.layers[f"kernels_spark.{key}"] = log.python_total("perfbench:job_", key) / iters
        walls = {"pending_scan_s": self.pending_py, "write_s": 0.0, "manifest_s": 0.0}
        for lbl in log.labels("perfbench:job_"):
            for wall, plan in log.executions.get(lbl, []):
                if "InsertIntoHadoopFsRelationCommand" in plan:
                    walls["manifest_s" if "_manifest" in plan else "write_s"] += wall
                elif "extractions" in plan:
                    walls["manifest_s"] += wall  # the per-partition metric rows
                else:
                    walls["pending_scan_s"] += wall
        for key, wall in walls.items():
            self.layers[f"pipeline.{key}"] = wall / iters
        self.layers["snapshots.commit_s"] = self.commit_py / iters
        self.layers["pipeline.job_full_s"] = _median(self.timings["full"])
        self.layers["pipeline.job_resume_s"] = _median(self.timings["resume"])
        self.layers["spark.jobs_per_run"] = log.total(log.jobs, "perfbench:job_") / iters
        self.layers["kernels_spark.scaling_eff"] = self._scaling(session)

    def _scaling(self, session) -> float:
        """The kernel alone over the first days of the base crawl (noop
        sink) at ``local[nproc]`` and at ``local[1]``: rate_n / (nproc *
        rate_1)."""
        from sbb_ocr_postcorrection_spark.kernels_spark import extract_pages

        days = sorted(_files_under(self.base_dir))[:SCALING_DAYS]

        def rate(cores: int | None) -> tuple[float, int]:
            s = session(cores)
            try:
                job = extract_pages(s.read.parquet(*days)).write.format("noop").mode("overwrite")
                job.save()  # start this session's Python workers
                t0 = time.perf_counter()
                job.save()
                return 1 / (time.perf_counter() - t0), s.sparkContext.defaultParallelism
            finally:
                s.stop()

        rate_n, cores = rate(None)
        rate_1, _ = rate(1)
        return rate_n / (cores * rate_1)


class CurateDedup(Workload):
    """``dedup_corpus_keep``, ``line_dedup`` and ``winnow_matches`` from the
    query registry, each through ``collect()``."""

    name = "curate_dedup"
    WARMUP_JOBS = 2  # the second pass is still JIT-compiling
    QUERIES = (("dedup", "dedup_corpus_keep"), ("lines", "line_dedup"), ("winnow", "winnow_matches"))
    PREFIXES = tuple(f"perfbench:{op}:" for op, _ in QUERIES)

    def prepare(self, input_dir: str) -> None:
        cols, self.stats = gen.make_curate_dedup(self.seed)
        gen.write_documents(cols, input_dir)
        self.input = input_dir
        self.results: list[tuple[str, list, list]] = []
        self.per_op = {op: {"wall_s": [], "plan_s": [], "exchanges": []} for op, _ in self.QUERIES}

    @staticmethod
    def _registry():
        import __spark_entry__

        return __spark_entry__.queries()

    def iterate(self, spark, k: int, traced: bool) -> None:
        qs = self._registry()
        for op, q in self.QUERIES:
            self.label(spark, op, k, traced)
            t0 = time.perf_counter()
            df = qs[q](spark, self.input)
            if traced:
                # plan_s: optimizer + physical planning, forced before collect
                qe = df._jdf.queryExecution()
                tp = time.perf_counter()
                qe.executedPlan()
                plan_s = time.perf_counter() - tp
            rows = df.collect()
            if traced:
                self.per_op[op]["wall_s"].append(time.perf_counter() - t0)
                self.per_op[op]["plan_s"].append(plan_s)
                self.per_op[op]["exchanges"].append(
                    trace.count_exchanges(qe.executedPlan().toString())
                )
                self.spans += plan_s
            self.results.append((q, rows, df.columns))

    def check(self, spark) -> None:
        import duckdb

        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        want = {}
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(self.input, 'documents.parquet')}'"
            )
            for _, q in self.QUERIES:
                res = con.execute(oracles[q])
                cols = [d[0] for d in res.description]
                want[q] = (cols, checks.canon_rows(res.fetchall(), cols))
        finally:
            con.close()
        for q, rows, cols in self.results:
            self.record(checks.compare_query(rows, cols, *want[q]))
        self.near_dups = sum(
            1 for q, rows, _ in self.results[:1] for r in rows if r["drop_reason"] == "near_dup"
        )
        self.results = []

    def before_stop(self, spark) -> None:
        """LSH candidate pairs, against which verification is measured."""
        self.label(spark, "lsh", 0, True)
        self.lsh_candidates = self._registry()["dedup_minhash_lsh"](spark, self.input).count()

    def traced_layers(self, session, log: trace.EventLog, iters: int) -> None:
        for op, _ in self.QUERIES:
            pre, lbl = f"operators.{op}", f"perfbench:{op}:"
            for key, values in self.per_op[op].items():
                self.layers[f"{pre}.{key}"] = _median(values)
            self.layers[f"{pre}.shuffle_bytes"] = log.total(log.shuffle_bytes, lbl) / iters
            self.layers[f"{pre}.shuffle_s"] = log.total(log.shuffle_s, lbl) / iters
            self.layers[f"{pre}.spill_bytes"] = log.total(log.spill_bytes, lbl) / iters
            self.layers[f"{pre}.peak_exec_mem_bytes"] = max(
                [log.peak_mem.get(x, 0) for x in log.labels(lbl)] or [0]
            )
            self.layers[f"{pre}.task_skew"] = max(
                [log.task_skew.get(x, 0.0) for x in log.labels(lbl)] or [0.0]
            )
        cands = self.lsh_candidates
        self.layers["operators.dedup.lsh_candidates"] = cands
        self.layers["operators.dedup.verified_ratio"] = self.near_dups / cands if cands else 0.0


WORKLOADS = {w.name: w for w in (JobIncremental, CurateDedup)}
