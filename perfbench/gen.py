"""Seeded input generators for the benchmark workloads.

Every input is a pure function of the workload seed: the same seed gives
byte-identical parquet files. Generation fans out over a process pool by
index range; each range is itself a pure function of (seed, range), so the
pool size never changes the bytes.

* ``job_incremental`` -- ``datagen.make_rich_page`` pages at noise 0.4 with
  long-tail tokens (noised compounds of two or three dictionary words)
  inserted into the paragraphs, laid out so that every one of the 7 days x 16 url
  buckets holds pages, plus one more day of pages for the resume step.
* ``curate_dedup``  -- a ``documents`` table of clean datagen text with
  exact duplicates, near-duplicates, one hot document, empty and NULL texts.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import random
import re
from datetime import timedelta

from sbb_ocr_postcorrection_spark import datagen
from sbb_ocr_postcorrection_spark.wordlists import DICTIONARY, NOISE_SUBS

CACHE_SIZE = 65536  # maxsize of detect.is_noisy_token / correct.best_correction
# pipeline.N_URL_BUCKETS; not imported, so pool workers never load pyspark
N_URL_BUCKETS = 16

JOB_DAYS = 7
JOB_PAGES_PER_CELL = 6  # pages per (day, bucket) partition, at least
JOB_NOISE = 0.4
JOB_LONG_TAIL = 1.0  # long-tail tokens inserted per paragraph word

CURATE_DOCS = 2000
CURATE_EXACT = 0.08
CURATE_NEAR = 0.08
CURATE_HOT = 0.05
CURATE_EMPTY = 0.01
CURATE_NULL = 0.01

_WORDS = sorted(DICTIONARY)
_P_RE = re.compile(rb"<p>(.*?)</p>")
_CHUNK = 250


def _rng(*key) -> random.Random:
    digest = hashlib.sha256(":".join(map(str, key)).encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


# ---------------------------------------------------------------- xxhash64
# Spark's xxhash64(url) (seed 42) in pure Python, so the generator knows
# which url bucket pipeline.with_partition_cols assigns before Spark runs.
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit integer."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def url_bucket(url: str) -> int:
    """``pmod(xxhash64(url), N_URL_BUCKETS)`` exactly as Spark computes it."""
    return xxhash64(url.encode("utf-8")) % N_URL_BUCKETS


# -------------------------------------------------------- job_incremental
def _long_tail_token(rng: random.Random) -> str:
    """A noised compound of two or three dictionary words. Digit confusions are
    preferred, so most of these tokens are flagged by the detector and sent
    to the corrector, and almost none of them repeat."""
    word = "".join(rng.choice(_WORDS) for _ in range(rng.randrange(2, 4)))
    subs = [(c, n) for c, n in NOISE_SUBS if c in word]
    digit = [(c, n) for c, n in subs if n.isdigit()]
    for _ in range(rng.randrange(1, 3)):
        pool = digit or subs
        if not pool:
            break
        clean, noisy = pool[rng.randrange(len(pool))]
        hits = [m.start() for m in re.finditer(re.escape(clean), word)]
        k = hits[rng.randrange(len(hits))]
        word = word[:k] + noisy + word[k + len(clean):]
        subs = [(c, n) for c, n in NOISE_SUBS if c in word]
        digit = [(c, n) for c, n in subs if n.isdigit()]
    return word.capitalize() if rng.random() < 0.1 else word


def _inject_long_tail(seed: int, i: int, html: bytes) -> bytes:
    rng = _rng("long-tail", seed, i)

    def para(m: re.Match) -> bytes:
        out = []
        for word in m.group(1).decode("utf-8").split(" "):
            out.append(word)
            if rng.random() < JOB_LONG_TAIL:
                out.append(_long_tail_token(rng))
        return b"<p>" + " ".join(out).encode("utf-8") + b"</p>"

    return _P_RE.sub(para, html)


def _rich_range(seed: int, lo: int, hi: int) -> list[datagen.Page]:
    out = []
    for i in range(lo, hi):
        p = datagen.make_rich_page(seed, i, JOB_NOISE)
        out.append(dataclasses.replace(p, html=_inject_long_tail(seed, i, p.html)))
    return out


def _on_day(p: datagen.Page, day: int) -> datagen.Page:
    """Move a page's fetch time to ``day`` (keeping its time of day)."""
    secs = int((p.warc_ts - datagen._EPOCH).total_seconds()) % 86400
    return dataclasses.replace(
        p, warc_ts=datagen._EPOCH + timedelta(days=day, seconds=secs)
    )


def job_layout(pages: list[datagen.Page], per_cell: int, days: int):
    """Split candidate pages (in index order) into the base crawl, which
    fills every (day, bucket) cell of ``days`` days with ``per_cell``
    pages, and the next day, which fills each bucket of day ``days`` with
    ``per_cell`` pages. Returns ``(base, extra, used)``; ``None`` in place
    of the lists when the candidates run out."""
    counts = [0] * N_URL_BUCKETS
    base: list[datagen.Page] = []
    extra: list[datagen.Page] = []
    base_target = per_cell * days
    for used, p in enumerate(pages, 1):
        b = url_bucket(p.url)
        c = counts[b]
        counts[b] += 1
        if c < base_target:
            base.append(_on_day(p, c % days))
        elif c < base_target + per_cell:
            extra.append(_on_day(p, days))
        if min(counts) >= base_target + per_cell:
            return base, extra, used
    return None, None, len(pages)


# ----------------------------------------------------------- curate_dedup
def _documents(seed: int, n: int) -> dict[str, list]:
    """Rows 0 and 1 are originals; every other row gets one role, in exact
    counts (the shares times ``n - 2``) and a seeded order."""
    rng = _rng("documents", seed)
    shares = (("hot", CURATE_HOT), ("exact", CURATE_EXACT), ("near", CURATE_NEAR),
              ("empty", CURATE_EMPTY), ("null", CURATE_NULL))
    roles = [r for r, share in shares for _ in range(round(share * (n - 2)))]
    roles += ["original"] * (n - 2 - len(roles))
    rng.shuffle(roles)
    texts: list[str | None] = []
    langs: list[str] = []
    for i in range(n):
        p = datagen.make_page(seed, i)
        text = p.text.split("\n")[0]
        role = roles[i - 2] if i >= 2 else "original"
        if role == "hot":
            text = texts[0]
        elif role == "exact":
            text = texts[rng.randrange(1, i)]
        elif role == "near":
            src = texts[rng.randrange(1, i)] or p.text
            words = src.split(" ")
            words[rng.randrange(len(words))] = rng.choice(_WORDS)
            text = " ".join(words)
        elif role == "empty":
            text = ""
        elif role == "null":
            text = None
        texts.append(text)
        langs.append(p.lang)
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [None if t is None else len(t) for t in texts],
    }


# ----------------------------------------------------------------- writers
def _map(pool, fn, seed: int, n: int, start: int = 0) -> list:
    ranges = [(seed, lo, min(lo + _CHUNK, n)) for lo in range(start, n, _CHUNK)]
    out: list = []
    for part in (pool.starmap(fn, ranges) if pool else [fn(*r) for r in ranges]):
        out.extend(part)
    return out


def _write_pages(pages: list[datagen.Page], path: str, n_files: int = 1) -> None:
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-len(pages) // n_files)
    for k in range(n_files):
        pq.write_table(
            datagen.pages_to_arrow(pages[k * step:(k + 1) * step]),
            os.path.join(path, f"part-{k:03d}.parquet"),
        )


def distinct_content_tokens(pages: list[datagen.Page]) -> int:
    """Distinct whitespace tokens of the content blocks: the keys the
    detector's token cache sees."""
    from sbb_ocr_postcorrection_spark.extract import extract_blocks

    seen: set[str] = set()
    for p in pages:
        for b in extract_blocks(p.html):
            if b.is_content:
                seen.update(b.text.split())
    return len(seen)


def make_job_incremental(seed: int, pool=None):
    """Returns ``(base, extra, stats)``."""
    want = N_URL_BUCKETS * JOB_PAGES_PER_CELL * (JOB_DAYS + 1)
    cands: list[datagen.Page] = []
    n = want + want // 2
    while True:
        cands += _map(pool, _rich_range, seed, n, start=len(cands))
        base, extra, used = job_layout(cands, JOB_PAGES_PER_CELL, JOB_DAYS)
        if base is not None:
            break
        n += want // 4
    stats = dict(
        docs=len(base) + len(extra),
        html_bytes=sum(len(p.html) for p in base + extra),
        distinct_tokens=distinct_content_tokens(base + extra),
        token_cache_size=CACHE_SIZE,
        base_docs=len(base),
        extra_docs=len(extra),
        partitions=JOB_DAYS * N_URL_BUCKETS,
        extra_partitions=N_URL_BUCKETS,
        candidates_used=used,
    )
    return base, extra, stats


def make_curate_dedup(seed: int) -> tuple[dict[str, list], dict]:
    cols = _documents(seed, CURATE_DOCS)
    texts = cols["text"]
    n = len(texts)
    seen: set[str] = set()
    dup = 0
    for t in texts:
        if t is not None:
            dup += t in seen
            seen.add(t)
    stats = {
        "docs": n,
        "text_bytes": sum(len(t.encode()) for t in texts if t),
        "exact_dup_share": round(dup / n, 4),
        "hot_key_share": round(sum(1 for t in texts if t == texts[0]) / n, 4),
        "empty_share": round(sum(1 for t in texts if t == "") / n, 4),
        "null_share": round(sum(1 for t in texts if t is None) / n, 4),
    }
    return cols, stats


def write_documents(cols: dict[str, list], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(cols["doc_id"], pa.int64()),
                "text": pa.array(cols["text"], pa.string()),
                "lang": pa.array(cols["lang"], pa.string()),
                "source": pa.array(cols["source"], pa.string()),
                "n_chars": pa.array(cols["n_chars"], pa.int64()),
            }
        ),
        os.path.join(path, "documents.parquet"),
    )


def write_job_incremental(base, extra, path: str) -> tuple[str, str]:
    """Writes the base crawl, one file per day in day order, and the next
    day to a second directory."""
    base_dir, extra_dir = os.path.join(path, "base"), os.path.join(path, "next_day")
    _write_pages(sorted(base, key=lambda p: p.warc_ts.date()), base_dir, JOB_DAYS)
    _write_pages(extra, extra_dir)
    return base_dir, extra_dir
