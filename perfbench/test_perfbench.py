"""The benchmark's own tests: seeded inputs are reproducible, the
incremental workload's vocabulary overflows the token caches, and every
output check fails on an injected corruption. No Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import subprocess
import sys

import pytest

from perfbench import checks, gen, run, workloads
from sbb_ocr_postcorrection_spark import datagen, pipeline

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def job_input():
    with multiprocessing.get_context("spawn").Pool(2) as pool:
        return gen.make_job_incremental(11, pool)


def _written(tmp_path, name, write, *data) -> str:
    """Writes ``data`` under ``tmp_path/name``; sha256 over every file
    written (names and bytes)."""
    path = str(tmp_path / name)
    write(*data, path)
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            full = os.path.join(root, f)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_same_seed_gives_identical_inputs(tmp_path, job_input):
    d1, s1 = gen.make_curate_dedup(7)
    d2, s2 = gen.make_curate_dedup(7)
    d3, _ = gen.make_curate_dedup(8)
    digest = _written(tmp_path, "d1", gen.write_documents, d1)
    assert digest == _written(tmp_path, "d2", gen.write_documents, d2)
    assert digest != _written(tmp_path, "d3", gen.write_documents, d3)
    assert s1 == s2

    # serial generation gives the bytes the pool gave
    base, extra, stats = gen.make_job_incremental(11)
    assert _written(tmp_path, "j1", gen.write_job_incremental, base, extra) == _written(
        tmp_path, "j2", gen.write_job_incremental, *job_input[:2]
    )
    assert stats == job_input[2]


def test_job_layout_fills_every_partition(job_input):
    base, extra, stats = job_input
    base_cells = {(p.warc_ts.date(), gen.url_bucket(p.url)) for p in base}
    extra_cells = {(p.warc_ts.date(), gen.url_bucket(p.url)) for p in extra}
    assert len(base_cells) == stats["partitions"] == gen.JOB_DAYS * gen.N_URL_BUCKETS
    assert len(extra_cells) == stats["extra_partitions"] == gen.N_URL_BUCKETS
    assert not base_cells & extra_cells


def test_job_vocabulary_exceeds_token_caches(job_input):
    base, extra, _ = job_input
    assert gen.distinct_content_tokens(base + extra) > gen.CACHE_SIZE


def test_xxhash64_matches_spark():
    # reference values from Spark's xxhash64(col) (seed 42), as unsigned
    spark_values = {
        "a": 9864288744972464332,
        "abcd": 11635998197418446335,
        "abcdefgh": 2470326616177429180,
        "x" * 31: 16730281937987387870,
        "y" * 32: 5202031258905353636,
        "z" * 65: 7219905183777194353,
    }
    for text, want in spark_values.items():
        assert gen.xxhash64(text.encode()) == want
    assert gen.N_URL_BUCKETS == pipeline.N_URL_BUCKETS


def test_text_check_fails_on_one_flipped_byte():
    want = checks.oracle_texts(datagen.generate_pages(40, seed=3))
    assert checks.compare_texts(dict(want), want) == []
    url = sorted(want)[7]
    raw = bytearray(want[url].encode())
    raw[len(raw) // 2] ^= 0x01
    assert checks.compare_texts(dict(want, **{url: raw.decode("utf-8", errors="replace")}), want)
    missing = dict(want)
    del missing[url]
    assert checks.compare_texts(missing, want)


def test_manifest_check_fails_on_one_dropped_row():
    cells = {(f"2024-01-{d:02d}", b) for d in range(1, 9) for b in range(16)}
    rows = sorted(cells)
    assert checks.check_manifest(rows, cells) == []
    assert checks.check_manifest(rows[1:], cells)
    assert checks.check_manifest(rows + rows[:1], cells)


def test_resume_and_snapshot_checks():
    full = {"partitions_done": 112, "partitions_skipped": 0}
    resume = {"partitions_done": 16, "partitions_skipped": 112}
    assert checks.check_resume(full, resume, 112, 16) == []
    assert checks.check_resume(full, dict(resume, partitions_skipped=111), 112, 16)
    cells = {("2024-01-01", b) for b in range(16)}
    assert checks.check_snapshot_log([1, 2], cells, cells) == []
    assert checks.check_snapshot_log([1], cells, cells)
    assert checks.check_snapshot_log([1, 2], set(list(cells)[1:]), cells)


def test_query_check_fails_on_one_flipped_byte():
    cols = ["doc_id", "cleaned_text"]
    rows = [(1, "alpha beta"), (2, "gamma"), (3, None)]
    want = checks.canon_rows(rows, cols)
    assert checks.compare_query(rows, cols, cols, want) == []
    assert checks.compare_query([(1, "alpha bets"), *rows[1:]], cols, cols, want)
    assert checks.compare_query(rows[:2], cols, cols, want)


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def _execution(eid: int, description: str, t0: int, t1: int) -> list[dict]:
    start = {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
             "executionId": eid, "description": description, "time": t0,
             "physicalPlanDescription": "extractions"}
    end = {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
           "executionId": eid, "time": t1}
    return [start, end]


def test_unlabelled_execution_is_not_a_jobs_own():
    from perfbench import trace

    log = trace.EventLog(_execution(1, "perfbench:job_full:0", 0, 2000) + _execution(2, "", 2000, 9000))
    assert log.labels("perfbench:job_") == ["perfbench:job_full:0"]
    assert log.sql_wall("perfbench:job_") == 2.0


def test_timed_loop_clears_the_job_label():
    class Context:
        description = None

        def setJobDescription(self, value):
            self.description = value

    class Spark:
        sparkContext = Context()

    class Flaky(workloads.Workload):
        def iterate(self, spark, k, traced):
            self.label(spark, "job_full", k, traced)
            raise RuntimeError("boom")

    spark, wl = Spark(), Flaky(0, "", None)
    assert run.timed_loop(wl, spark, 60.0, True) == []  # gives up after 3 failures
    assert spark.sparkContext.description is None
    assert (wl.attempted, wl.failed) == (3, 3)


def test_reap_children_waits_for_orphaned_grandchildren():
    """A grandchild whose parent has exited (as the JVM's Python workers
    outlive the JVM) and multiprocessing's resource tracker are both gone
    once ``reap_children`` returns."""
    script = (
        "import multiprocessing, os, subprocess, sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from perfbench import run, trace\n"
        "run.adopt_orphans()\n"
        "multiprocessing.get_context('spawn').Lock()\n"  # starts the tracker
        "subprocess.run(['sh', '-c', 'sleep 2 &'], check=True)\n"
        "assert trace.children_map().get(os.getpid())\n"
        "run.reap_children()\n"
        "print(trace.children_map().get(os.getpid(), []))\n"
    )
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"
