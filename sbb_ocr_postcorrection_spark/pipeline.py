"""End-to-end extraction job: partition layout, skew salting, resumable
checkpoints, per-partition lineage + metrics.

Iceberg note: the sandbox image has no Iceberg jars, so the Iceberg-layout
contract (days(warc_ts) × bucket(url) partitioning, idempotent
overwrite-by-partition, manifest-based resume) is implemented on plain
parquet with Spark's dynamic partition overwrite + an explicit manifest
table. The code paths are written so swapping the writer for
``df.writeTo(...).overwritePartitions()`` is a one-line change per sink.

Resume contract (north_rule): a killed job restarts, anti-joins the pending
partition list against the manifest of completed partitions, and processes
only the remainder; partition writes are idempotent overwrites, never blind
appends (contrast the reference's append=True default,
preprocessing/database.py:14-15).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .kernels_spark import extract_pages

N_URL_BUCKETS = 16
N_SALTS = 8  # host-aggregation salting fan-out


def host_session_defaults() -> tuple[int, str]:
    """``(cores, driver_memory)`` for a local session on this host:
    ``SPARK_GRAFT_CPUS``, else the CPUs this process may run on; and
    ``SPARK_GRAFT_DRIVER_MEM``, else half of physical memory capped at
    16g (a fixed 16g heap can exceed a small host's memory)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    cores = int(cpus) if cpus else len(os.sched_getaffinity(0))
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        mem = f"{min(phys // 2 // 2**20, 16 * 1024)}m"
    return cores, mem


def build_session(
    app: str = "sbb-extract",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 256,
) -> SparkSession:
    """Tuned local session, sized by ``host_session_defaults`` unless
    ``cores`` is given. ``arrow_batch`` caps Arrow batch row count so
    html-binary batches stay memory-bounded (SURVEY.md §7.3 binary-heavy
    rows)."""
    default_cores, driver_mem = host_session_defaults()
    cores = cores or default_cores
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # ship this package to Python workers regardless of the driver's cwd —
    # the local-mode analog of `spark-submit --py-files pkg.zip`
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in py_path.split(os.pathsep):
        py_path = f"{pkg_root}{os.pathsep}{py_path}" if py_path else pkg_root
        os.environ["PYTHONPATH"] = py_path
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.executorEnv.PYTHONPATH", py_path)
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def with_partition_cols(pages: DataFrame) -> DataFrame:
    """Add the Iceberg-style partition columns: dt = days(warc_ts),
    bkt = bucket(url). Partition pruning on dt and co-location on bkt.

    Null warc_ts maps to the 1970-01-01 sentinel partition — a null dt would
    silently drop rows at the resume semi-join (null keys never match)."""
    return pages.withColumn(
        "dt", F.coalesce(F.to_date("warc_ts"), F.lit("1970-01-01").cast("date"))
    ).withColumn(
        "bkt", F.pmod(F.xxhash64("url"), F.lit(N_URL_BUCKETS)).cast("int")
    )


def salted_host_agg(
    df: DataFrame, *aggs, host_col: str = "host", salt_col: str = "url"
) -> DataFrame:
    """Two-phase skew-safe aggregation by host (north_rule: salt skewed
    hosts before any shuffle). Phase 1 partial-aggregates by (host, salt) —
    heavy hosts spread over N_SALTS reducers — phase 2 combines per host.

    ``aggs`` are (colname, 'sum'|'count'|'max') specs; counts pass through a
    sum in phase 2 (alias ``n_docs`` for the first count, ``n_<col>`` after).
    ``salt_col`` must be a fine-grained column (row id / url) — salting on a
    coarse column would put a whole hot host in one salt bucket."""
    if salt_col not in df.columns:
        raise ValueError(
            f"salt_col {salt_col!r} not in DataFrame columns {df.columns}; "
            "pass a fine-grained column to spread hot hosts"
        )
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_col), F.lit(N_SALTS)).cast("int")
    )
    phase1_exprs = []
    phase2_exprs = []
    first_count = True
    for col, how in aggs:
        partial = f"_{how}_{col}"
        if how == "count":
            phase1_exprs.append(F.count(F.lit(1)).alias(partial))
            alias = "n_docs" if first_count else f"n_{col}"
            first_count = False
        elif how == "sum":
            phase1_exprs.append(F.sum(col).alias(partial))
            alias = f"sum_{col}"
        elif how == "max":
            phase1_exprs.append(F.max(col).alias(partial))
            alias = f"max_{col}"
        else:
            raise ValueError(how)
        final_fn = F.max if how == "max" else F.sum
        phase2_exprs.append(final_fn(partial).alias(alias))
    return (
        salted.groupBy(host_col, "_salt")
        .agg(*phase1_exprs)
        .groupBy(host_col)
        .agg(*phase2_exprs)
    )


def _manifest_path(output_dir: str) -> str:
    return os.path.join(output_dir, "_manifest")


def _manifest_missing(output_dir: str) -> bool:
    """True only when the manifest path provably does not exist (the
    output directory is a local path, as for the snapshot log). Any other
    stat failure answers False, so the caller goes through load_manifest,
    which re-raises it."""
    try:
        os.stat(_manifest_path(output_dir))
    except FileNotFoundError:
        return True
    except OSError:
        pass
    return False


def load_manifest(spark: SparkSession, output_dir: str) -> DataFrame:
    """Completed-partition manifest (dt, bkt, metrics...). Empty if absent.

    Only a MISSING path means "fresh job". Any other read failure (corrupt
    footer, permissions, transient FS error) re-raises: swallowing it would
    make a resume=True run silently reprocess every partition and APPEND
    duplicate (dt, bkt) rows to job_metrics (ADVICE r1 #2)."""
    from pyspark.errors import AnalysisException

    path = _manifest_path(output_dir)
    try:
        m = spark.read.parquet(path)
    except AnalysisException as exc:
        msg = str(exc)
        if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
            raise
        return spark.createDataFrame(
            [],
            "dt date, bkt int, n_docs long, chars_in long, chars_out long, "
            "n_flagged long, n_spans long, completed_at_epoch long, "
            "snapshot_id long",
        )
    if "snapshot_id" not in m.columns:
        # pre-snapshot-log manifest (legacy layout): nothing to dedupe
        # against, every row predates snapshot 1
        m = m.withColumn("snapshot_id", F.lit(0).cast("long"))
    # a partition re-extracted after a rollback (or a kill between the
    # manifest append and the snapshot commit) appends a second row for
    # the same (dt, bkt): keep only the LATEST attempt per partition —
    # highest snapshot_id, then completed_at_epoch (the kernel is
    # deterministic, so same-id ties carry identical metric values)
    from pyspark.sql import Window

    w = Window.partitionBy("dt", "bkt").orderBy(
        F.desc("snapshot_id"), F.desc("completed_at_epoch")
    )
    return (
        m.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    output_dir: str,
    lang_filter: str | None = None,
    resume: bool = True,
    reclaim_stale: bool = False,
) -> dict:
    """The flagship job: pages table → extracted table, partitioned by
    (dt, bkt), resumable at partition granularity.

    Every completing run commits one snapshot to the append-only log
    (snapshots.py): the done-set is derived from the CURRENT snapshot
    when a log exists (so a rollback makes the next run re-extract what
    it hid) and from the legacy manifest otherwise; the commit intent is
    claimed BEFORE any data is written, so a second writer racing on the
    same table loses cleanly with ConcurrentWriteError. reclaim_stale
    force-reclaims an intent left by a writer that died on ANOTHER host
    (a same-host dead pid is reclaimed automatically).

    Returns a summary dict (docs processed, partitions done/skipped, secs).
    """
    from . import snapshots

    t0 = time.time()
    if lang_filter:
        pages = pages.filter(F.col("lang") == lang_filter)  # P5 analog
    pages = with_partition_cols(pages)

    # pending partitions = all partitions − done-set (driver-side set math;
    # the partition list is tiny even at 10^12 docs: days × buckets)
    all_rows = pages.select("dt", "bkt").distinct().collect()
    snap = snapshots.current_snapshot(output_dir)
    if snap is not None:
        done_set = snapshots.snapshot_partition_set(snap)
    elif _manifest_missing(output_dir):
        # fresh table: nothing is done, and no Spark job is needed to say so
        done_set = set()
    else:
        done_set = {
            (r["dt"].isoformat(), r["bkt"])
            for r in load_manifest(spark, output_dir)
            .select("dt", "bkt")
            .collect()
        }
    pending_rows = [
        r
        for r in all_rows
        if not resume or (r["dt"].isoformat(), r["bkt"]) not in done_set
    ]
    n_skipped = len(all_rows) - len(pending_rows)
    if not pending_rows:
        return {
            "docs": 0, "partitions_done": 0, "partitions_skipped": n_skipped,
            "seconds": time.time() - t0,
        }
    # claim the table BEFORE writing a byte — the losing writer of a
    # same-table race aborts here with nothing to clean up
    ticket = snapshots.begin_commit(output_dir, reclaim_stale=reclaim_stale)
    try:
        return _run_claimed(
            spark, pages, output_dir, resume, ticket, pending_rows,
            n_skipped, done_set, t0,
        )
    except Exception:
        snapshots.abort_commit(output_dir, ticket)
        raise


def _run_claimed(
    spark, pages, output_dir, resume, ticket, pending_rows, n_skipped,
    done_set, t0,
) -> dict:
    """The claimed section of run_extraction_job: everything between
    intent and snapshot commit (any failure here releases the intent)."""
    from . import snapshots

    pending = spark.createDataFrame(pending_rows, "dt date, bkt int")

    # process only pending partitions; broadcast the (small) pending list.
    # dt/bkt are pure functions of (url, warc_ts), so they are recomputed
    # after the kernel rather than joined back — zero shuffles end to end.
    pages_pending = pages.join(F.broadcast(pending), ["dt", "bkt"], "left_semi")
    # repartition on the layout key before the kernel: parallelizes the
    # CPU-heavy stage regardless of input split count and co-locates each
    # output partition's rows with its writer task (one file per (dt,bkt))
    n_tasks = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    pages_pending = pages_pending.repartition(n_tasks, "dt", "bkt")
    extracted = with_partition_cols(extract_pages(pages_pending))

    out_path = os.path.join(output_dir, "extractions")
    (
        extracted.write.mode("overwrite")
        # per-write option so correctness does NOT depend on the session
        # being built by build_session: in static mode this overwrite
        # would silently delete every previously completed partition
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("dt", "bkt")
        .parquet(out_path)
    )

    # per-partition lineage + metrics (A10), appended to the manifest
    # BEFORE the snapshot commit — a partition is "done" only once its
    # data landed AND the snapshot naming it committed (idempotent
    # restart: a kill between manifest and snapshot re-extracts, and
    # load_manifest keeps only the latest attempt per partition).
    # Collected ONCE; the manifest is written from the collected rows
    # (avoids a second full scan+agg of the job output).
    metric_rows = (
        spark.read.parquet(out_path)
        .join(F.broadcast(pending), ["dt", "bkt"], "left_semi")
        .groupBy("dt", "bkt")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("chars_in").alias("chars_in"),
            F.sum("chars_out").alias("chars_out"),
            F.sum("n_flagged").alias("n_flagged"),
            F.sum("n_spans").alias("n_spans"),
        )
        .withColumn("completed_at_epoch", F.lit(int(time.time())))
        .withColumn("snapshot_id", F.lit(ticket["next_id"]))
        .collect()
    )
    manifest_df = spark.createDataFrame(
        metric_rows,
        "dt date, bkt int, n_docs long, chars_in long, chars_out long, "
        "n_flagged long, n_spans long, completed_at_epoch long, "
        "snapshot_id long",
    )
    # resume=False reprocesses everything: supersede the manifest
    # instead of appending duplicate (dt, bkt) rows
    manifest_mode = "append" if resume else "overwrite"
    manifest_df.write.mode(manifest_mode).parquet(
        _manifest_path(output_dir)
    )

    n_docs = sum(r["n_docs"] for r in metric_rows)
    pending_iso = {(r["dt"].isoformat(), r["bkt"]) for r in pending_rows}
    visible = sorted(done_set | pending_iso) if resume else sorted(pending_iso)
    snapshots.commit_snapshot(
        output_dir,
        ticket,
        visible,
        op="append" if resume else "overwrite",
        extra={"n_docs": int(n_docs)},
    )
    return {
        "docs": int(n_docs),
        "partitions_done": len(pending_rows),
        "partitions_skipped": int(n_skipped),
        "seconds": time.time() - t0,
        "snapshot_id": ticket["next_id"],
    }


def export_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    output_dir: str,
    max_records_per_file: int = 50_000,
) -> dict:
    """The pipeline's end product: run the composite curation verdict and
    materialize the KEPT documents as sharded JSONL (the interchange
    format training stacks ingest) plus an audit manifest.

    Shape: verdict ⋈ documents is an equality join on doc_id; the writer
    bounds shard size with maxRecordsPerFile (a shard maps to one loader
    work item downstream). The manifest accounts for every input document
    — the per-reason histogram means dropped docs are auditable, never
    silently gone — and records the export so a resumed/downstream job
    can verify counts without rescanning the corpus.

    Returns the manifest dict: {n_input, n_exported, reasons, output}.
    """
    import json as _json

    from .functions.exprs import tokens_expr
    from .operators.curation import curate_corpus
    from .operators.relational import load

    # persist: the verdict feeds BOTH the kept-docs write and the reason
    # histogram — without it the whole curation DAG (dedup, verification,
    # decontamination, the seven-way join) would execute twice. finally:
    # a failed write must not leave the verdict cached for the session
    # lifetime (the orphaned-cache hazard persist_slot exists to bound)
    v = curate_corpus(spark, sf_dir).persist()
    try:
        d = load(spark, sf_dir, "documents")
        kept = (
            v.filter(F.col("keep") == 1)
            .select("doc_id", "source", "lang")
            .join(d.select("doc_id", "text"), "doc_id")
            .withColumn("n_tokens", F.size(tokens_expr(F.col("text"))))
        )
        out = os.path.join(output_dir, "corpus")
        (
            kept.write.mode("overwrite")
            .option("maxRecordsPerFile", max_records_per_file)
            .json(out)
        )
        hist = {
            r["reason"]: r["n"]
            for r in v.groupBy("reason")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    finally:
        v.unpersist()
    manifest = {
        "n_input": int(sum(hist.values())),
        "n_exported": int(hist.get("kept", 0)),
        "reasons": hist,
        "output": out,
    }
    with open(os.path.join(output_dir, "export_manifest.json"), "w") as fh:
        _json.dump(manifest, fh, indent=2, sort_keys=True)
    return manifest


def job_metrics(spark: SparkSession, output_dir: str) -> DataFrame:
    """Aggregate job metrics from the manifest: chars in/out, detector hit
    rate (A10 analog of the reference's corpus-level stats)."""
    m = load_manifest(spark, output_dir)
    return m.agg(
        F.sum("n_docs").alias("docs"),
        F.sum("chars_in").alias("chars_in"),
        F.sum("chars_out").alias("chars_out"),
        (F.sum("n_flagged") / F.sum("n_spans")).alias("detector_hit_rate"),
    )
