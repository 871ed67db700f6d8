"""Exactly-once batch-incremental processing over manifest tables.

The training-pipeline shape this serves: a 100 TB corpus table grows
by appends (crawl waves, streaming sinks); a derived table (scored /
deduped / tokenized) must keep up WITHOUT rescanning what it already
processed. :func:`process_increment` composes two primitives the
manifest layer already guarantees:

- :func:`~prql_spark.sources.manifest.snapshot_changes` plans exactly
  the files ADDED since a version (and refuses to cross a rewrite,
  where "added files" would stop meaning "added rows");
- the per-stream high-water map in every manifest (the streaming
  sink's exactly-once ledger, vacuum- and restore-proof) records the
  last SOURCE version folded into the DESTINATION — in the SAME
  atomic commit as the data, so there is no window where the data
  landed but the bookmark didn't (or vice versa).

Crash semantics: a run that dies before its commit left nothing (the
staged files are unreferenced until vacuumed); the retry re-reads the
same increment. A run that dies after its commit advanced the high
water; the retry is a no-op. Either way each source row is processed
exactly once into the destination.

Reference parity: prql/prql has no incremental layer (it compiles SQL
text); this belongs to the training-data-pipeline surface of the
brief, mirroring what Delta's CDF + checkpoints or an Airflow
watermark table provide.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from prql_spark.sources import manifest as mf


def process_increment(
    spark: SparkSession,
    source_path: str,
    dest_path: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    source_name: str | None = None,
    stats_cols: tuple | None = None,
) -> dict:
    """Apply ``transform`` to the rows of the manifest table at
    ``source_path`` added since the last processed version and append
    the result to the manifest table at ``dest_path`` — exactly once.

    The first run (no destination, or no bookmark for this source)
    processes the FULL current source version and creates/overwrites
    the destination. Later runs read only the increment. Returns
    ``{"processed", "source_version", "since_version", "n_rows_out"}``
    (``processed=False`` when the source has nothing new;
    ``n_rows_out`` is the destination rows this run committed, read
    from the commit's manifest — exact when ``stats_cols`` is given,
    which records write-time per-file counts, else ``None``).

    The increment read is PINNED to the source version captured
    here (``end_version``): a live appender landing a new source
    version between this function's listing and the read would
    otherwise be processed under a bookmark that doesn't cover it —
    the next run would silently duplicate those rows. Pinning makes
    the raced append simply the next run's increment.

    ``source_name`` keys the bookmark (default: derived from
    ``source_path``) — one destination can track several sources.
    ``stats_cols`` forwards to the destination commit (derived
    tables want file-skipping stats too). A source OVERWRITE/
    compaction/merge between runs surfaces as ``snapshot_changes``'s
    refusal (process the full version or re-derive the destination);
    it is never silently misread.
    """
    _, _, src_base, _, latest, _ = mf._open(
        spark, source_path, "process_increment"
    )
    sname = source_name or f"incr:{src_base}"

    dfs, djvm = mf._fs(spark, dest_path)
    dst_base = dest_path.rstrip("/")
    dest_exists = bool(mf._versions(dfs, djvm, dst_base))
    done = (
        mf.stream_high_water(spark, dest_path, sname)
        if dest_exists
        else -1
    )
    if latest <= done:
        return {
            "processed": False,
            "source_version": latest,
            "since_version": done,
            "n_rows_out": 0,
        }
    if done == -1:
        inc = mf.snapshot_read(spark, source_path, latest)
    else:
        # raises if a rewrite landed in (done, latest] — never
        # misreads; end_version pins the read to the version the
        # bookmark below records (exactly-once vs a racing appender)
        inc = mf.snapshot_changes(
            spark, source_path, since_version=done, end_version=latest
        )
    out = transform(inc) if transform is not None else inc
    res = mf.snapshot_write(
        out,
        dest_path,
        mode="append" if dest_exists else "overwrite",
        stats_cols=stats_cols,
        # the bookmark rides the SAME commit as the data (atomic);
        # source versions are monotonic, so the high-water replay
        # check gives exactly-once across crashes and retries
        extra={"stream_id": sname, "epoch": latest},
    )
    return {
        "processed": True,
        "source_version": latest,
        "since_version": done,
        "n_rows_out": _commit_rows(spark, dst_base, res["version"]),
    }


def _commit_rows(spark: SparkSession, base: str, version: int):
    """Rows ADDED by ``version``'s commit, from the manifest's
    write-time per-file counts — zero Spark jobs, ``None`` when any
    added file lacks a count (no ``stats_cols`` on the write)."""
    fs, jvm, _, seen, _, m = mf._open(
        spark, base, "process_increment", version
    )
    before = [v for v in seen if v < version]
    prev = (
        {f["path"] for f in mf._load_manifest(fs, jvm, base,
                                              before[-1])["files"]}
        if before
        else set()
    )
    added = [f for f in m["files"] if f["path"] not in prev]
    counts = [f.get("n_rows") for f in added]
    if any(c is None for c in counts):
        return None
    return int(sum(counts))
