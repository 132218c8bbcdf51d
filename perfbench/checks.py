"""Output checks. Each returns a list of problems; empty means the output
is correct. They take plain Python data, so the benchmark's tests can
inject a corruption and watch the check fail."""

from __future__ import annotations

import os
import sys

_SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


def oracle_texts(pages, pool=None) -> dict[str, str]:
    """url -> ``kernel.oracle_extract(html)``, the byte-identity reference."""
    from sbb_ocr_postcorrection_spark.kernel import oracle_extract

    htmls = [p.html for p in pages]
    texts = pool.map(oracle_extract, htmls, chunksize=64) if pool else map(oracle_extract, htmls)
    return dict(zip((p.url for p in pages), texts))


def compare_texts(got: dict[str, str], want: dict[str, str]) -> list[str]:
    """Per-url byte-for-byte comparison of extracted text."""
    problems = []
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    if missing:
        problems.append(f"{len(missing)} urls missing, e.g. {min(missing)}")
    if extra:
        problems.append(f"{len(extra)} unexpected urls, e.g. {min(extra)}")
    bad = sorted(
        u for u in want.keys() & got.keys()
        if got[u] is None or got[u].encode("utf-8") != want[u].encode("utf-8")
    )
    if bad:
        problems.append(f"{len(bad)} urls differ from the oracle, e.g. {bad[0]}")
    return problems


def check_resume(full: dict, resume: dict, cells: int, new_cells: int) -> list[str]:
    """The two ``run_extraction_job`` summaries of one incremental round."""
    problems = []
    if full.get("partitions_done") != cells or full.get("partitions_skipped") != 0:
        problems.append(f"full run did not process all {cells} partitions: {full}")
    if resume.get("partitions_skipped") != cells or resume.get("partitions_done") != new_cells:
        problems.append(
            f"resume run must skip {cells} and process {new_cells} partitions: {resume}"
        )
    return problems


def check_snapshot_log(snapshot_ids: list[int], last_partitions: set, cells: set) -> list[str]:
    problems = []
    if snapshot_ids != [1, 2]:
        problems.append(f"snapshot log holds ids {snapshot_ids}, expected [1, 2]")
    if last_partitions != cells:
        problems.append(
            f"current snapshot lists {len(last_partitions)} partitions, expected {len(cells)}"
        )
    return problems


def check_manifest(rows: list[tuple[str, int]], cells: set) -> list[str]:
    """The manifest holds exactly one row per ``(dt, bkt)`` partition."""
    problems = []
    if len(rows) != len(set(rows)):
        problems.append(f"manifest has {len(rows) - len(set(rows))} duplicate partition rows")
    if set(rows) != cells:
        problems.append(
            f"manifest covers {len(set(rows) & cells)} of {len(cells)} partitions "
            f"and {len(set(rows) - cells)} unknown ones"
        )
    return problems


def canon_rows(rows, cols) -> list:
    """Rows canonicalised exactly as scripts/check_oracle.py does."""
    if _SCRIPTS not in sys.path:
        sys.path.insert(0, _SCRIPTS)
    from check_oracle import canon

    return canon([tuple(r) for r in rows], list(cols))


def compare_query(rows, cols, want_cols, want_canon) -> list[str]:
    """A Spark result against its DuckDB oracle (column names, row count,
    canonicalised values)."""
    if sorted(cols) != sorted(want_cols):
        return [f"columns {sorted(cols)} != oracle {sorted(want_cols)}"]
    if len(rows) != len(want_canon):
        return [f"rowcount {len(rows)} != oracle {len(want_canon)}"]
    got = canon_rows(rows, cols)
    if got != want_canon:
        diff = next(i for i, (a, b) in enumerate(zip(got, want_canon)) if a != b)
        return [f"value mismatch at sorted row {diff}: {got[diff]} != {want_canon[diff]}"]
    return []
