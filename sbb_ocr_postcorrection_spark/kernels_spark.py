"""Arrow-batched Spark kernel wrapping the pure per-document kernel.

Extraction is one ``mapInPandas`` iterator kernel (SURVEY.md §2.9 M1-M8
mapping): Spark feeds Arrow batches, we run the *same* pure function the
oracle uses (kernel.run_document), so Spark output is byte-identical to the
oracle by construction — the per-row invariant of BASELINE.json input_hint.

Scale notes:
* html is BinaryType and KB-MB per row — callers must cap
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (pipeline.py does); the
  kernel consumes html and never emits it;
* the kernel is a per-document pure function: no cross-row state, no
  shuffle, safe under task retries and speculative execution;
* correction routes internally on the detector's flags (the reference's
  detector→translator routing, mt/cli_correct.py:1160-1186) — flagged spans
  only; no split/join of the DataFrame, so the whole extract is a single
  narrow stage.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from .kernel import run_document

# output schema — spans is a typed struct array (FIXTURES.md §1
# companion-table contract), not a JSON string
EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, host string, lang string, "
    "extracted_text string, "
    "spans array<struct<start:int, end:int, flagged:boolean>>, "
    "n_blocks int, n_content_blocks int, n_spans int, n_flagged int, "
    "chars_in long, chars_out long"
)


def _host_of(url: str) -> str:
    rest = url.split("://", 1)[-1]
    return rest.split("/", 1)[0]


def fused_extract_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Fused detect→correct kernel: both stages inside ONE Python worker
    pass (the reference's in-kernel detector→translator routing,
    mt/cli_correct.py:1160-1186). Fusing matters operationally: chaining two
    mapInPandas operators runs TWO Python workers per task (2× CPU
    oversubscription at full parallelism) and ships the bulky intermediate
    detections through the JVM — measured 6× slower at 32-way than fused."""
    for pdf in batches:
        # columnar build: list-of-row-dicts + dict-per-span was ~26% of
        # stage wall time (measured offline, 5000 docs: 0.42 s on a 1.17 s
        # kernel) — pandas re-scans every dict's keys and each span dict is
        # an allocation. Arrow converts tuple structs directly (and ~40%
        # faster than dict structs), so r.spans passes through untouched.
        hosts, texts, spans = [], [], []
        n_blocks, n_content, n_spans, n_flagged = [], [], [], []
        chars_in, chars_out = [], []
        for url, html in zip(pdf["url"], pdf["html"]):
            # null html = fetch failure row: emit an empty extraction, never
            # crash the partition (a task retry would just re-crash)
            r = run_document(bytes(html) if html is not None else b"")
            hosts.append(_host_of(url))
            texts.append(r.extracted_text)
            spans.append(r.spans)
            n_blocks.append(r.n_blocks)
            n_content.append(r.n_content_blocks)
            n_spans.append(r.n_spans)
            n_flagged.append(r.n_flagged)
            chars_in.append(r.chars_in)
            chars_out.append(r.chars_out)
        # pass-through columns as numpy (positional — a Series would align
        # on the incoming batch index and silently misplace rows)
        yield pd.DataFrame(
            {
                "url": pdf["url"].to_numpy(),
                "warc_ts": pdf["warc_ts"].to_numpy(),
                "host": hosts,
                "lang": pdf["lang"].to_numpy(),
                "extracted_text": texts,
                "spans": spans,
                "n_blocks": n_blocks,
                "n_content_blocks": n_content,
                "n_spans": n_spans,
                "n_flagged": n_flagged,
                "chars_in": chars_in,
                "chars_out": chars_out,
            }
        )


def extract_pages(pages_df):
    """DataFrame-level extraction: pages → extraction table.

    ``pages_df`` needs columns (url, warc_ts, html, lang); extra columns are
    pruned before the kernel, and html does not leave it.
    """
    src = pages_df.select("url", "warc_ts", "html", "lang")
    return src.mapInPandas(fused_extract_stage, schema=EXTRACT_SCHEMA)
