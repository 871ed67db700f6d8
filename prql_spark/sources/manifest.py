"""Manifest-committed versioned parquet datasets (mini table format).

The missing layer between "a directory of parquet files" and a real
lakehouse table, built with nothing but parquet + a JSON manifest per
commit — the same core idea as Iceberg/Delta (public designs), sized
to this engine:

* **Atomic commits.** A writer stages parquet files into a fresh
  ``data/<commit>/`` directory, then publishes ONE manifest file via
  an atomic rename. Readers either see the whole commit or none of
  it; a writer that dies mid-job leaves only unreferenced files.
* **Time travel.** Every version's manifest is retained; reading
  version N plans from its file list — reproducible training runs
  pin the exact bytes they trained on.
* **O(1) read planning.** ``snapshot_read`` never lists the data
  tree: the manifest IS the file index. At 100 TB / 400k files an
  S3 recursive listing is minutes of driver time per query; a
  manifest read is one small GET.
* **Zero-deletion-window compaction.** ``compact_snapshot`` writes
  the repacked files and commits a manifest pointing at them; the
  old version stays fully readable. Space is reclaimed later by an
  explicit ``vacuum_snapshot`` — data files are deleted ONLY when no
  retained manifest references them, so a reader never sees a table
  with files missing mid-rewrite.
* **Optimistic concurrency.** The version number is claimed by the
  manifest rename; a loser's rename fails (file exists) and retries
  on top of the winner's commit.

Layout::

    <path>/data/<commit-id>/part-*.parquet   immutable once published
    <path>/data/<commit-id>/<col>=<v>/part-*.parquet  (partitioned)
    <path>/_manifests/v{N:010d}.json         one per version
    <path>/_manifests/.v{N}.json.tmp         stage, renamed into place

Partition specs (``snapshot_write(partition_by=...)``): files land in
hive-style ``col=value`` directories INSIDE the commit dir, and each
file's partition values are recorded in the manifest — both as a
``partition`` dict (powers :func:`snapshot_partitions`, the
SHOW PARTITIONS that never lists directories) and as degenerate
``[v, v]`` entries in the file's ``stats`` map, so every existing
pruning consumer (:func:`snapshot_scan`, :func:`snapshot_pruned_read`,
the PRQL predicate pushdown) prunes on partition columns with zero
extra machinery. Partition stats are parsed from the staged paths
driver-side (typed via the writer's schema) — no extra Spark job per
commit. Reads restore partition columns per commit directory
(``basePath`` + the manifest's ordered schema, so types match the
writer exactly and never depend on path inference).

All filesystem access goes through Hadoop's FileSystem API, so
READS (planning, time travel, history, fsck) behave identically on
file:// , hdfs:// and s3a://. The COMMIT point is exists-check +
rename, which is a true atomic claim only on filesystems whose
rename is atomic and refuses an existing destination — HDFS. On the
local filesystem Hadoop's ``RawLocalFileSystem.rename`` also refuses
an existing destination (pinned in tests), leaving only the tiny
check-then-rename window; on S3A rename is copy+delete and two
racing writers CAN both believe they committed the same version —
single-writer (or externally locked) operation is required there.
The seam to replace for object stores is :class:`CommitProtocol`
(install with :func:`set_commit_protocol`): the default
:class:`RenameCommitProtocol` relies on atomic rename-refuses-
existing (HDFS/local); :class:`LockFileCommitProtocol` serializes
publishers through an exclusive-create lock file with TTL crash
recovery (non-atomic-rename stores); a conditional-put protocol
(like Delta's LogStore or an Iceberg catalog) plugs into the same
three-line interface.
Manifests carry RELATIVE file paths — a dataset can be cloned or
mounted elsewhere.

Each table rule is written once, in a private helper every public
function goes through: :func:`_open` is the only version lookup (and
the only "no versions" / "version N not in" error), :func:`_publish`
the only commit loop (list the head, build on it, carry the
per-stream high-water map forward, retry a lost race),
:func:`_sql_bounds` the only predicate-to-bounds rule (the PRQL
pushdown hands it the filter's compiled SQL, ``delete_snapshot`` the
user's predicate), :func:`_overlaps_bounds` the only rule for
skipping a file, and :func:`_rewrite_scoped` the one plan → stage →
commit loop of the scoped maintenance rewrites (compact, optimize).

Single-manifest simplification (documented trade-off vs Iceberg's
manifest lists): each commit's manifest holds the FULL file list.
At 400k files × ~60 bytes that is a ~25 MB driver-side JSON per
commit — acceptable; beyond that, shard the manifest the way
Iceberg does.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from urllib.parse import unquote

from py4j.java_gateway import JavaClass
from pyspark.errors import AnalysisException, SparkRuntimeException
from pyspark.sql import DataFrame, SparkSession

from prql_spark.plans.physical import materialize

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _hidden(name: str) -> bool:
    """Spark's hidden-path rule for data trees: underscore/dot
    prefixes are writer metadata (_SUCCESS, .crc, staged tmp dirs) —
    EXCEPT the hive NULL-partition directory, which is real data."""
    return name.startswith(("_", ".")) and name != _HIVE_NULL


def _hidden_rel(rel: str) -> bool:
    return any(_hidden(c) for c in rel.split("/"))


def _norm_ts_path(s: str) -> str:
    """Hive-dir timestamp value → the exact string ``_stats_enc``
    produces for the same instant. Two mismatches to normalize:
    the separator (hive uses a space, isoformat a ``T``) and the
    fractional seconds (Spark TRIMS trailing fraction zeros in hive
    dirs — ``.123`` — while ``datetime.isoformat()`` always emits 6
    digits when microsecond != 0 — ``.123000``). Without the pad, a
    lexicographic equality compare against the query literal wrongly
    prunes the file (e.g. ``'...00:00:00.123' != '...00:00:00.123000'``),
    violating the "pruning is conservative, never wrong" contract."""
    s = s.replace(" ", "T")
    if "." in s:
        head, _, frac = s.partition(".")
        frac = (frac + "000000")[:6]
        if frac == "000000":
            return head  # isoformat omits an all-zero fraction
        return f"{head}.{frac}"
    return s


# partition-path value parsers by Spark simpleString type. Types not
# listed get NO stats entry (display-only partition value) — pruning
# on them is simply skipped, never wrong.
_PART_PARSERS = {
    "tinyint": int,
    "smallint": int,
    "int": int,
    "bigint": int,
    "float": float,
    "double": float,
    "boolean": lambda s: s.lower() == "true",
    "string": lambda s: s,
    "date": lambda s: s,  # hive path is ISO, same as _stats_enc
    # hive path uses a space separator and trims fraction zeros;
    # stats compare isoformat — normalize to isoformat's exact form
    "timestamp": _norm_ts_path,
    "timestamp_ntz": _norm_ts_path,
}


def _parse_partition(
    rel_inside_commit: str, types: dict
) -> tuple[dict, set]:
    """``a=1/b=x%3Ay/part-0.parquet`` → ``({"a": ..., "b": ...},
    stats_ok)`` with values typed via the writer's schema
    (``types``: col → simpleString). Hive-escaped chars are
    unquoted; the hive NULL dir maps to None. ``stats_ok`` names the
    columns whose value is safe to use as a pruning bound — typed by
    a known parser (a raw-string fallback for an unlisted type like
    decimal is display-only: lexicographic bounds on it could prune
    wrongly)."""
    out: dict = {}
    stats_ok: set = set()
    for seg in rel_inside_commit.split("/")[:-1]:
        if "=" not in seg:
            continue
        k, _, raw = seg.partition("=")
        k = unquote(k)
        if raw == _HIVE_NULL:
            out[k] = None
            continue
        v = unquote(raw)
        parser = _PART_PARSERS.get(types.get(k, ""))
        if parser is not None:
            try:
                out[k] = parser(v)
                stats_ok.add(k)
                continue
            except ValueError:
                pass
        out[k] = v
    return out, stats_ok


def _jclass(jvm, fqn: str):
    """The Py4J handle of JVM class ``fqn``, built without asking the
    JVM: spelling it ``jvm.org.apache.hadoop.fs.Path`` resolves each
    dotted segment with its own round trip (five for ``Path``)."""
    return JavaClass(fqn, jvm._gateway_client)


def _hpath(jvm):
    """Hadoop's ``org.apache.hadoop.fs.Path`` class."""
    return _jclass(jvm, "org.apache.hadoop.fs.Path")


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = _hpath(jvm)(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


class CommitProtocol:
    """The pluggable manifest-publish seam. ``publish`` must put
    ``text`` at ``dir_path/name`` such that concurrent publishers of
    the SAME name see exactly one winner (return True) and everyone
    else False — the losers re-list versions and retry on the next
    number. Swap the protocol for stores whose rename lacks
    conditional semantics (S3 without a catalog): the same seam
    Delta fills with a LogStore and Iceberg with a catalog."""

    def publish(self, fs, jvm, dir_path: str, name: str, text: str) -> bool:
        raise NotImplementedError


class RenameCommitProtocol(CommitProtocol):
    """Default: stage under a dotted tmp name, then rename to
    ``name`` — the rename is the commit point.

    Atomicity is the filesystem's: HDFS rename atomically refuses an
    existing destination, so the loser of a race always sees False.
    Hadoop's local ``RawLocalFileSystem.rename`` also returns False
    on an existing destination (behavior pinned in
    tests/test_manifest.py), leaving only the narrow window between
    the exists() probe and the rename. S3A rename is copy+delete
    with no conditional semantics — use
    :class:`LockFileCommitProtocol` (or a conditional-put protocol)
    there instead."""

    def publish(self, fs, jvm, dir_path: str, name: str, text: str) -> bool:
        Path = _hpath(jvm)
        tmp = Path(f"{dir_path}/.{name}.{uuid.uuid4().hex[:8]}.tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        dst = Path(f"{dir_path}/{name}")
        if fs.exists(dst) or not fs.rename(tmp, dst):
            fs.delete(tmp, False)
            return False
        return True


class LockFileCommitProtocol(CommitProtocol):
    """Mutual exclusion via an exclusive-create lock file — for
    stores whose rename is not atomic. ``fs.create(path,
    overwrite=False)`` refuses an existing path on HDFS/local (and
    on S3 maps to a conditional PUT with If-None-Match under recent
    S3A); while the lock is held, the existence check, full staging
    of the manifest under a hidden tmp name, and the rename that
    publishes it cannot race — and a crash at any point leaves
    either no head or the previous head, never a truncated one. A
    writer that dies holding the lock
    is healed by ``lock_ttl_s``: a lock older than the TTL is broken
    by the next publisher (crash recovery, same posture as Delta's
    S3 LogStore recovery). Contenders return False and re-enter the
    caller's list-and-retry loop."""

    def __init__(self, lock_ttl_s: float = 300.0):
        self.lock_ttl_s = lock_ttl_s

    def publish(self, fs, jvm, dir_path: str, name: str, text: str) -> bool:
        import time

        Path = _hpath(jvm)
        lock = Path(f"{dir_path}/.commit.lock")
        try:
            out = fs.create(lock, False)  # exclusive create
        except Exception:
            # lock held: break it only when provably stale
            try:
                age_ms = time.time() * 1000.0 - fs.getFileStatus(
                    lock
                ).getModificationTime()
                if age_ms > self.lock_ttl_s * 1000.0:
                    fs.delete(lock, False)
            except Exception:
                pass  # lock vanished between probe and stat: fine
            time.sleep(0.02)  # backoff: the caller retries immediately
            return False
        try:
            out.write(bytearray(uuid.uuid4().hex.encode("utf-8")))
            out.close()
            dst = Path(f"{dir_path}/{name}")
            if fs.exists(dst):
                return False  # someone published this version earlier
            # stage the FULL content under a dotted tmp name first —
            # a writer crashing mid-write leaves only a hidden tmp
            # (readers ignore dotted names), never a truncated head
            # that _versions would list as committed. The rename
            # under the lock is then the commit point: an atomic
            # metadata op on HDFS/local, and a single server-side
            # atomic PUT on S3A's copy — the head appears fully
            # formed or not at all.
            tmp = Path(f"{dir_path}/.{name}.{uuid.uuid4().hex[:8]}.tmp")
            o2 = fs.create(tmp, True)
            staged = False
            try:
                o2.write(bytearray(text.encode("utf-8")))
                staged = True
            finally:
                o2.close()
                if not staged:
                    fs.delete(tmp, False)
            if not fs.rename(tmp, dst):
                # double-slip defense for stores whose lock create is
                # exists+create rather than O_EXCL (Hadoop local FS):
                # rename refuses an existing destination there, so if
                # two publishers both passed the lock, exactly one
                # wins and the other sees False. (On S3 the lock
                # create IS a conditional PUT, so a double-slip
                # cannot happen in the first place.)
                fs.delete(tmp, False)
                return False
            return True
        finally:
            fs.delete(lock, False)


_COMMIT_PROTOCOL: CommitProtocol = RenameCommitProtocol()


def set_commit_protocol(protocol: CommitProtocol) -> None:
    """Install the manifest-publish protocol for this process (e.g.
    ``set_commit_protocol(LockFileCommitProtocol())`` before writing
    manifest tables on an object store)."""
    global _COMMIT_PROTOCOL
    _COMMIT_PROTOCOL = protocol


def get_commit_protocol() -> CommitProtocol:
    return _COMMIT_PROTOCOL


def _write_text_atomic(fs, jvm, dir_path: str, name: str, text: str) -> bool:
    """Publish via the installed :class:`CommitProtocol` (default:
    rename-based). Every commit point in this module funnels here."""
    return _COMMIT_PROTOCOL.publish(fs, jvm, dir_path, name, text)


def _read_text(fs, jvm, path: str) -> str:
    stream = fs.open(_hpath(jvm)(path))
    try:
        return _jclass(jvm, "org.apache.commons.io.IOUtils").toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _versions(fs, jvm, base: str) -> list[int]:
    Path = _hpath(jvm)
    mdir = Path(f"{base}/{_MANIFEST_DIR}")
    if not fs.exists(mdir):
        return []
    out = []
    for st in fs.listStatus(mdir):
        name = st.getPath().getName()
        # tmp stages are dot-prefixed; published manifests only
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _load_manifest(fs, jvm, base: str, version: int) -> dict:
    return json.loads(
        _read_text(fs, jvm, f"{base}/{_MANIFEST_DIR}/v{version:010d}.json")
    )


def _open(spark, path: str, op: str, version: int | None = None):
    """The one version lookup: ``(fs, jvm, base, versions, version,
    manifest)`` for ``version`` (default: the head) of the table at
    ``path``. Raises ``ValueError`` when the table has no versions or
    ``version`` is not one of them."""
    fs, jvm = _fs(spark, path)
    base = path.rstrip("/")
    seen = _versions(fs, jvm, base)
    if not seen:
        raise ValueError(f"{op}: no versions at {path!r}")
    v = seen[-1] if version is None else version
    if v not in seen:
        raise ValueError(f"{op}: version {v} not in {seen} at {path!r}")
    return fs, jvm, base, seen, v, _load_manifest(fs, jvm, base, v)


_COMMIT_ATTEMPTS = 20


def _publish(fs, jvm, base: str, op: str, build) -> dict:
    """The one commit loop: list the head, let ``build(head,
    head_manifest)`` (both None on an empty table) return the next
    manifest, stamp it ``version``/``parent``, carry the per-stream
    high-water map forward (max per stream, so a commit can never
    lower a stream's bookmark) and publish it as the next version.
    A lost race re-lists and rebuilds on the new head, up to
    ``_COMMIT_ATTEMPTS`` times. ``build`` raises to refuse a head it
    cannot commit on top of. Returns the published manifest."""
    for _ in range(_COMMIT_ATTEMPTS):
        seen = _versions(fs, jvm, base)
        head = seen[-1] if seen else None
        hm = None
        if head is None:
            fs.mkdirs(_hpath(jvm)(f"{base}/{_MANIFEST_DIR}"))
        else:
            hm = _load_manifest(fs, jvm, base, head)
        manifest = {**build(head, hm), "version": (head or 0) + 1,
                    "parent": head}
        streams = dict((hm or {}).get("streams") or {})
        for sid, ep in (manifest.get("streams") or {}).items():
            streams[sid] = max(int(ep), streams.get(sid, -1))
        manifest["streams"] = streams
        if _write_text_atomic(
            fs, jvm, f"{base}/{_MANIFEST_DIR}",
            f"v{manifest['version']:010d}.json", json.dumps(manifest),
        ):
            return manifest
    raise RuntimeError(
        f"{op}: lost {_COMMIT_ATTEMPTS} commit races at {base!r}"
    )


_STATS_MAX_CHARS = 32


def _trunc_lo(s: str, n: int = _STATS_MAX_CHARS) -> str:
    """Safe LOWER bound for a long string stat: a prefix sorts <=
    every string it prefixes, so truncation alone is valid."""
    return s if len(s) <= n else s[:n]


def _trunc_hi(s: str, n: int = _STATS_MAX_CHARS) -> str | None:
    """Safe UPPER bound for a long string stat: truncate, then
    increment the last code point (skipping the surrogate gap) so
    the result sorts >= every string sharing the prefix — the same
    scheme Iceberg uses for bounded metadata. Returns None when no
    safe bound exists (every prefix char is at the code-point
    ceiling) — the caller must then drop the bound entirely
    (conservative: the file is always read)."""
    if len(s) <= n:
        return s
    p = s[:n]
    for i in range(len(p) - 1, -1, -1):
        c = ord(p[i])
        if c >= 0x10FFFF:
            continue
        nc = c + 1
        if 0xD800 <= nc <= 0xDFFF:
            nc = 0xE000
        return p[:i] + chr(nc)
    return None


def _bound_stat(lo, hi):
    """Bound one [lo, hi] stats pair for the manifest: long strings
    truncate (manifests must stay small — a text column's raw
    min/max would embed whole documents, megabytes per file entry at
    100 TB); everything else passes through. Returns None when no
    safe bounded form exists."""
    if isinstance(lo, str) and isinstance(hi, str):
        hi_b = _trunc_hi(hi)
        if hi_b is None:
            return None
        return [_trunc_lo(lo), hi_b]
    return [lo, hi]


def _stats_enc(v):
    """JSON-encode a stats value or query bound the way
    :func:`_overlaps_bounds` compares them (timestamps/dates → naive
    ISO strings, bytes → utf-8).

    Returns None for a tz-AWARE datetime (e.g. a TIMESTAMP_MICROS/
    MILLIS footer with isAdjustedToUTC): every stats producer and
    consumer compares NAIVE isoformat strings, and a '+00:00' suffix
    sorts GREATER than any naive bound with the same prefix — a file
    whose min equals the query hi bound would be wrongly pruned, and
    a non-UTC session timezone shifts the wall-clock value itself.
    Converting correctly needs the Spark session timezone, which
    driver-side code does not know, so the value is "no usable
    stats": the file is always read (or the exact distributed scan
    provides naive stats)."""
    if hasattr(v, "isoformat"):
        if getattr(v, "tzinfo", None) is not None:
            return None
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", "replace")
    return v


def _staged_stats(
    spark, data_dir: str, staged: list, cols: tuple, schema=None
) -> int:
    """Exact per-file [min, max] for ``cols`` over the just-staged
    files, attached into ``staged`` in place; returns the number of
    files that got stats.

    One COLUMN-PRUNED distributed scan of the NEW files only
    (``groupBy(input_file_name())``) — runs executor-side on any
    filesystem (where :func:`attach_stats`'s driver-side pyarrow
    footer reads cannot, i.e. object stores), and the ranges are
    exact-from-data, so there is no "footer lacks statistics" miss
    case. The ``collect()`` is bounded at one row per staged file.
    Cost: re-reading only ``cols`` of the files this very commit just
    wrote (typically still in page cache) — proportional to the
    commit, never the table."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in cols:
        aggs.append(F.min(F.col(c)).alias(f"mn_{c}"))
        aggs.append(F.max(F.col(c)).alias(f"mx_{c}"))
    reader = spark.read
    if schema is not None:
        # partitioned commit dir: basePath + the writer's exact
        # schema restore the partition columns with the writer's
        # types (never path inference)
        reader = reader.schema(schema).option("basePath", data_dir)
    rows = (
        reader.parquet(data_dir)
        .groupBy(F.input_file_name().alias("f"))
        .agg(*aggs)
        .collect()
    )
    # key on the path RELATIVE to the commit dir, not the basename:
    # a partitioned write reuses part-file names across partition
    # directories (one task, many partitions), so basenames collide
    marker = "/" + data_dir.rstrip("/").rsplit("/", 1)[1] + "/"
    by_rel: dict[str, dict] = {}
    n_by_rel: dict[str, int] = {}
    for r in rows:
        st = {}
        for c in cols:
            lo = _stats_enc(r[f"mn_{c}"])
            hi = _stats_enc(r[f"mx_{c}"])
            # an all-NULL file has no usable range for c; scans then
            # always read it (safe), same as a stats-less footer
            if lo is not None and hi is not None:
                rng = _bound_stat(lo, hi)
                if rng is not None:
                    st[c] = rng
        rel = unquote(r["f"].split(marker, 1)[1])
        n_by_rel[rel] = r["__n_rows"]
        if st:
            by_rel[rel] = st
    rels = {f["path"].split("/", 2)[2] for f in staged}
    # a 0-row file has no group in the scan: once every group has
    # matched a staged file, a staged file without one is empty (a
    # group that matched none means the path forms disagree, and
    # nothing is inferred from absence)
    empty = 0 if n_by_rel.keys() <= rels else None
    n_ok = 0
    for f in staged:
        rel = f["path"].split("/", 2)[2]  # after data/<commit>/
        # per-file row count rides the same scan for free — powers
        # metadata-only counts (snapshot_count) and history rows
        n = n_by_rel.get(rel, empty)
        if n is not None:
            f["n_rows"] = int(n)
        st = by_rel.get(rel)
        if st:
            f["stats"] = {**f.get("stats", {}), **st}
            n_ok += 1
    return n_ok


def _footer_local_dir(data_dir: str) -> str | None:
    """The local-filesystem directory for ``data_dir`` when its
    scheme allows DRIVER-side footer reads, else None (object-store
    paths take the executor-side footer job). Separated out so tests
    can force the executor path on a local directory."""
    from urllib.parse import urlparse

    u = urlparse(data_dir)
    if u.scheme not in ("", "file"):
        return None
    return u.path if u.scheme == "file" else data_dir


def _staged_stats_footers(
    data_dir: str, staged: list, cols: tuple, partition_by: tuple,
    max_files: int = 256, spark=None,
) -> bool:
    """Write-time stats fast path (round 11): the files this commit
    just wrote already carry exact per-column min/max and row counts
    in their parquet FOOTERS, so the stats can be read metadata-only
    (no data pages) instead of re-scanning the staged files. On a
    local filesystem the footers are read driver-side (zero Spark
    jobs); on any other scheme (round 12) they are read
    EXECUTOR-side — one tiny task per staged file resolving the
    directory through ``pyarrow.fs.FileSystem.from_uri`` — so object
    stores keep the no-data-pages win instead of falling back to the
    full stats re-scan. Returns True when every staged file yielded
    usable stats for every requested data column (rows + stats
    attached in place) — the caller then skips
    :func:`_staged_stats`; False falls back to the distributed scan
    unchanged (a footer lacking min/max, a filesystem pyarrow cannot
    resolve, or a commit wider than ``max_files``, where one
    distributed scan beats per-file task scheduling).
    Partition columns never live in footers — their exact [v, v]
    stats are already parsed from the staged paths. Footer values
    feed the same :func:`_bound_stat` encoding `attach_stats` uses,
    so pruning semantics are identical."""
    if len(staged) > max_files:
        return False
    try:
        import pyarrow.parquet as pq  # noqa: F401
    except ImportError:
        return False
    data_cols = tuple(c for c in cols if c not in partition_by)
    rels = [f["path"].split("/", 2)[2] for f in staged]  # data/<c>/
    local_dir = _footer_local_dir(data_dir)
    if local_dir is not None:
        per_file = [
            _footer_rows_and_stats(os.path.join(local_dir, rel),
                                   data_cols)
            for rel in rels
        ]
    else:
        if spark is None:
            return False
        per_file = _footer_rows_and_stats_exec(
            spark, data_dir, rels, data_cols
        )
    results = []
    for f, (n_rows, st) in zip(staged, per_file):
        if n_rows is None or st is None:
            return False  # unreadable / footer lacks min/max
        results.append((f, n_rows, st))
    for f, n_rows, st in results:
        f["n_rows"] = int(n_rows)
        if st:
            f["stats"] = {**f.get("stats", {}), **st}
    return True


def _footer_rows_and_stats(
    path_or_file, data_cols: tuple
) -> tuple[int | None, dict | None]:
    """(n_rows, bounded stats) for one parquet footer; (None, None)
    when unreadable, (n, None) when a requested column lacks usable
    min/max. Empty/no-column files report ``{}`` (usable, no
    ranges). Runs driver-side or inside an executor task."""
    import pyarrow.parquet as pq

    try:
        meta = pq.read_metadata(path_or_file)
    except Exception:
        return None, None
    n_rows = meta.num_rows
    st: dict | None = {}
    if data_cols and n_rows > 0:
        st = _stats_from_footer_meta(meta, data_cols)
    return n_rows, st


def _footer_rows_and_stats_exec(
    spark, data_dir: str, rels: list, data_cols: tuple
) -> list:
    """Executor-side footer reads: one task per staged file, each
    opening only the parquet FOOTER through the pyarrow filesystem
    for ``data_dir``'s scheme (s3/abfs/gcs/hdfs where pyarrow has a
    binding). The per-task payload is a path string; the result rows
    are JSON-safe (stats already encoded/bounded), so the collect is
    bounded at one slim row per staged file. Any resolution or read
    failure yields (None, None) for that file — the caller then
    falls back to the distributed stats scan, preserving the
    every-file-or-fallback contract."""
    root = data_dir if "://" in data_dir else "file://" + data_dir

    def one(rel: str):
        from pyarrow import fs as pafs

        try:
            fsys, base = pafs.FileSystem.from_uri(root)
            with fsys.open_input_file(f"{base}/{rel}") as f:
                return _footer_rows_and_stats(f, data_cols)
        except Exception:
            return None, None

    indexed = (
        spark.sparkContext.parallelize(
            list(enumerate(rels)), max(len(rels), 1)
        )
        .map(lambda ir: (ir[0], one(ir[1])))
        .collect()
    )
    return [rs for _, rs in sorted(indexed)]


def _stage_commit(
    df: DataFrame,
    base: str,
    fs,
    jvm,
    partition_by: tuple,
    col_types: dict,
    stats_cols: tuple | None,
) -> tuple[str, list]:
    """Write ``df``'s files into a fresh ``data/<commit>/`` dir and
    return ``(commit_id, staged file entries)`` — relative paths,
    sizes, partition values (parsed from the hive paths, typed via
    the writer's schema) and optional write-time column stats. The
    commit is INVISIBLE until a manifest referencing it is published;
    a writer that dies here leaves only unreferenced files (vacuum
    reclaims them after the grace window)."""
    spark = df.sparkSession
    commit_id = uuid.uuid4().hex[:16]
    data_dir = f"{base}/{_DATA_DIR}/{commit_id}"
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_dir)

    # relative paths of the freshly staged files (partitioned writes
    # nest them under col=value dirs — keep the FULL relative path)
    Path = _hpath(jvm)
    data_prefix = Path(data_dir).toUri().getPath()
    staged = []
    it = fs.listFiles(Path(data_dir), True)
    while it.hasNext():
        st = it.next()
        rel = st.getPath().toUri().getPath()[len(data_prefix):]
        rel = rel.lstrip("/")
        if _hidden_rel(rel):
            continue
        entry = {
            "path": f"{_DATA_DIR}/{commit_id}/{rel}",
            "bytes": st.getLen(),
        }
        if partition_by:
            values, ok = _parse_partition(rel, col_types)
            entry["partition"] = {
                c: values.get(c) for c in partition_by
            }
            stats = {}
            for c in partition_by:
                if c in ok and values.get(c) is not None:
                    rng = _bound_stat(values[c], values[c])
                    if rng is not None:
                        stats[c] = rng
            if stats:
                entry["stats"] = stats
        staged.append(entry)

    if stats_cols and not _staged_stats_footers(
        data_dir, staged, tuple(stats_cols), partition_by, spark=spark
    ):
        _staged_stats(
            spark,
            data_dir,
            staged,
            tuple(stats_cols),
            schema=df.schema if partition_by else None,
        )
    # a writer task with no rows can still leave a 0-row file: every
    # file recorded empty is deleted and left out of the commit
    for f in [f for f in staged if f.get("n_rows") == 0]:
        fs.delete(Path(f"{base}/{f['path']}"), False)
    return commit_id, [f for f in staged if f.get("n_rows") != 0]


def snapshot_write(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    extra: dict | None = None,
    allow_new_columns: bool = False,
    stats_cols: tuple | None = None,
    partition_by: tuple | None = None,
) -> dict:
    """Commit ``df`` as a new version of the dataset at ``path``.

    ``mode="overwrite"`` makes the new version's content exactly
    ``df``; ``mode="append"`` adds ``df``'s files to the parent
    version's list (the parent's files are REFERENCED, never
    rewritten — an append of 1 GB to a 100 TB table moves 1 GB) and
    raises on a schema mismatch vs the parent (a mixed-schema
    version would fail or silently null-fill at read). Schema
    EVOLUTION is opt-in: ``allow_new_columns=True`` accepts an
    append whose schema is a SUPERSET of the parent's (add a
    column; never drop or retype one) — the version is flagged so
    reads merge schemas and old files null-fill the new columns.
    ``extra`` merges caller metadata into the manifest (e.g. the
    streaming sink's ``stream_id``/``epoch`` idempotence keys); a
    ``stream_id``/``epoch`` pair is ALSO folded into the manifest's
    per-stream high-water map (``streams``), which every commit
    carries forward from its parent — so the exactly-once replay
    check survives :func:`vacuum_snapshot` trimming old manifests
    (the latest manifest alone knows every stream's high water).
    ``stats_cols`` collects exact per-file [min, max] for those
    columns AT WRITE TIME and embeds them in the manifest, powering
    :func:`snapshot_scan` file skipping with no separate stats
    commit. The new files' parquet footers are read first (metadata
    only: driver-side on a local filesystem, one tiny executor task
    per file elsewhere); a footer lacking min/max, an unreadable
    footer or a commit wider than 256 files falls back to one
    column-pruned distributed scan of the new files. Both work on
    any filesystem, unlike the driver-side footer reads of
    :func:`attach_stats`.
    ``partition_by`` lays the commit out hive-style
    (``col=value`` dirs inside the commit dir) and records each
    file's partition values in the manifest — as a ``partition``
    dict AND as exact ``[v, v]`` stats, so file skipping and PRQL
    pushdown prune on partition columns for free (no scan: values
    are parsed from the staged paths driver-side, typed via the
    writer's schema). Appends must keep the parent's partitioning;
    an overwrite may change it.
    Returns ``{"version", "n_files", "operation"}``.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"snapshot_write: unknown mode {mode!r}")
    partition_by = tuple(partition_by or ())
    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise ValueError(
            f"snapshot_write: partition_by columns {missing} not in "
            f"dataframe columns {df.columns}"
        )
    # a partition column named `_x`/`.x` writes hive dirs `_x=v` that
    # BOTH this layer's _hidden_rel and Spark's own FileIndex classify
    # as writer metadata: staging would record zero files and publish
    # an empty manifest while the real data sits unreferenced until
    # vacuum deletes it — refuse loudly instead of losing data
    bad = [c for c in partition_by if c.startswith(("_", "."))]
    if bad:
        raise ValueError(
            f"snapshot_write: partition_by columns {bad} start with "
            "'_' or '.' — hive directories named after them are "
            "treated as hidden writer metadata (by Spark's FileIndex "
            "and by this manifest layer) and the staged files would "
            "be silently dropped; rename the columns"
        )
    spark = df.sparkSession
    fs, jvm = _fs(spark, path)
    base = path.rstrip("/")
    # (name, type) pairs — nullability differences are benign
    schema_sig = sorted(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    )
    # ordered (name, type): reconstructs the writer's exact schema at
    # read time (partitioned reads pass it explicitly so partition
    # column types never depend on path inference)
    schema_ddl = [
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    ]
    col_types = dict(schema_ddl)
    commit_id, staged = _stage_commit(
        df, base, fs, jvm, partition_by, col_types, stats_cols
    )

    def build(parent, pm):
        files = list(staged)
        merge_schema = False
        if mode == "append" and parent is not None:
            ppart = tuple(pm.get("partition_by") or ())
            if ppart != partition_by:
                raise ValueError(
                    "snapshot_write: append partitioning mismatch vs "
                    f"version {parent}: {ppart} != {partition_by} — "
                    "a version mixing layouts cannot be planned with "
                    "one partition scheme; overwrite to re-partition"
                )
            psig = [tuple(p) for p in pm.get("schema", [])]
            if psig and psig != schema_sig:
                superset = allow_new_columns and set(psig) < set(
                    schema_sig
                )
                if not superset:
                    raise ValueError(
                        "snapshot_write: append schema mismatch vs "
                        f"version {parent}: {psig} != {schema_sig} — "
                        "a mixed-schema version would fail (or "
                        "silently null-fill) at read; adding columns "
                        "needs allow_new_columns=True"
                    )
                merge_schema = True
            merge_schema = merge_schema or bool(pm.get("merge_schema"))
            files = pm["files"] + files
        streams: dict = {}
        if extra and "stream_id" in extra and "epoch" in extra:
            streams[str(extra["stream_id"])] = int(extra["epoch"])
        return {
            "operation": mode,
            "commit": commit_id,
            "schema": schema_sig,
            "schema_ddl": schema_ddl,
            "partition_by": list(partition_by),
            "merge_schema": merge_schema,
            # the per-stream high-water map rides EVERY commit (incl.
            # overwrites), so it survives vacuum trimming manifests
            "streams": streams,
            "files": files,
            **(extra or {}),
        }

    m = _publish(fs, jvm, base, "snapshot_write", build)
    return {
        "version": m["version"],
        "n_files": len(m["files"]),
        "operation": mode,
    }


def _manifest_ddl(m: dict) -> str | None:
    """The writer's exact schema as a DDL string (ordered), or None
    for manifests written before ``schema_ddl`` existed."""
    sd = m.get("schema_ddl")
    if not sd:
        return None
    return ", ".join(f"`{n}` {t}" for n, t in sd)


def _input_files(spark, df: DataFrame) -> list:
    """``df.inputFiles()`` — the files Spark's own index listed when
    ``df`` was planned — in two Py4J round trips. pyspark copies the
    Java array element by element, two round trips per file; Hadoop's
    ``StringUtils.join`` hands it over as one string (URIs
    percent-encode newlines)."""
    uris = _jclass(spark._jvm, "org.apache.hadoop.util.StringUtils").join(
        "\n", df._jdf.inputFiles()
    )
    return uris.split("\n") if uris else []


def _stale_dirs(uris: list, groups: dict) -> set:
    """The commit dirs of ``groups`` (dir → referenced manifest paths)
    whose files in a Spark listing of them (``uris``) are not exactly
    the referenced ones: a stray, a superseded or a missing file.

    A file belongs to the dir after the table's OWN ``/data/``, the
    one the fewest ``/data/`` splits of any listed URI reach. Every
    file sits under ``<base>/data/<commit>/``, so a stray inside a
    nested ``data/`` dir still counts against the commit dir that
    holds it, never against the one its deeper path names."""
    marker = f"/{_DATA_DIR}/"
    split = [u.split(marker) for u in uris]
    k = min((len(parts) for parts in split), default=1) - 1
    listed: dict[str, list] = {d: [] for d in groups}
    for parts in split:
        rel = f"{_DATA_DIR}/" + unquote(marker.join(parts[k:]))
        d = "/".join(rel.split("/", 2)[:2])
        if d not in listed:
            return set(groups)
        listed[d].append(rel)
    return {
        d for d, rels in listed.items() if sorted(rels) != sorted(groups[d])
    }


def _plan_read(spark, base: str, m: dict, files=None) -> DataFrame:
    """Plan a scan of ``files`` (manifest file dicts; default: all of
    ``m``'s). Plans per COMMIT DIRECTORY, not per file: passing N
    explicit paths costs Spark one driver-side stat each (~2 ms/file
    locally, a remote call each on object stores). Planning is
    O(#commits), not O(#files).

    Each commit dir is planned as one path, so Spark lists it once,
    inside the JVM. That listing (``inputFiles``) is then compared
    with the files the manifest references there; a dir whose
    listing differs — a hand-planted stray, a file a later rewrite
    superseded, a referenced file gone from disk — is re-planned by
    its exact file paths, so a stray is never read and a missing file
    raises at planning. Spark receives the same paths either way; a
    dir whose one-path plan Spark refuses (partition discovery over a
    stray ``col=value`` dir) is read by its exact paths too.

    Unpartitioned versions read with the manifest's recorded schema
    (no inference job); manifests without ``schema_ddl`` and
    schema-evolved (``merge_schema``) versions let Spark infer, so
    their listing comes from a schema-only plan: inference would read
    a stray file's footer before the comparison could exclude it.

    Partitioned tables read per commit dir with ``basePath`` (so the
    ``col=value`` dirs surface as columns) and the manifest's exact
    ordered schema (types never depend on path inference; with
    schema evolution, old files null-fill newer columns), then the
    commits union — plan-level only, no shuffle."""
    if files is None:
        files = m["files"]
    # commit dir -> the manifest paths (data/<commit>/...) under it
    groups: dict[str, set] = {}
    for f in files:
        d, cid, _ = f["path"].split("/", 2)
        groups.setdefault(f"{d}/{cid}", set()).add(f["path"])

    def scan(reader, dirs: list, stale=frozenset()) -> DataFrame:
        return reader.parquet(*[
            p
            for d in dirs
            for p in (
                [f"{base}/{r}" for r in sorted(groups[d])]
                if d in stale else [f"{base}/{d}"]
            )
        ])

    def plan(reader, dirs: list, lister=None) -> DataFrame:
        # ``lister``: a schema-only reader to take the listing from
        # when ``reader`` infers
        try:
            probe = scan(lister or reader, dirs)
        except (AnalysisException, SparkRuntimeException):
            # partition discovery refused a stray dir, or a commit dir
            # is gone: exact paths read the first, raise on the second
            return scan(reader, dirs, set(dirs))
        stale = _stale_dirs(
            _input_files(spark, probe), {d: groups[d] for d in dirs}
        )
        if not stale and lister is None:
            return probe
        return scan(reader, dirs, stale)

    ddl = _manifest_ddl(m)
    if not m.get("partition_by"):
        if ddl is not None and not m.get("merge_schema"):
            # every file carries the recorded schema: plan the scan
            # from it, with no footer-inference job
            return plan(spark.read.schema(ddl), list(groups))
        reader = spark.read
        if m.get("merge_schema"):
            # schema-evolved version: files span schemas; merge so
            # old files null-fill columns added later
            reader = reader.option("mergeSchema", "true")
        return plan(
            reader, list(groups), spark.read.schema(ddl or "x int")
        )

    order = [n for n, _t in m["schema_ddl"]]
    out = None
    for d in groups:
        # Spark surfaces partition columns LAST regardless of the
        # user schema's order — restore the writer's order (a
        # plan-level projection, free)
        part_df = plan(
            spark.read.schema(ddl).option("basePath", f"{base}/{d}"), [d]
        ).select(*order)
        out = part_df if out is None else out.unionByName(part_df)
    return out


def snapshot_read(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the dataset at ``path`` as of ``version`` (default: the
    latest). Plans from the manifest's file list: Spark lists each
    referenced commit directory once while planning it (see
    :func:`_plan_read`), never the whole data tree. A version with
    no files (an empty write, or a delete of every row) reads as an
    empty frame with the recorded schema; only a manifest too old to
    record one raises."""
    _, _, base, _, v, m = _open(spark, path, "snapshot_read", version)
    if not m["files"]:
        ddl = _manifest_ddl(m)
        if ddl is None:
            raise ValueError(
                f"snapshot_read: version {v} is empty at {path!r}"
            )
        return spark.createDataFrame([], ddl)
    return _plan_read(spark, base, m)


def snapshot_history(spark: SparkSession, path: str) -> DataFrame:
    """One row per committed version: version, parent, operation,
    n_files, total_bytes, n_rows (NULL when any of the version's
    files lacks a recorded row count — see :func:`snapshot_count`)."""
    fs, jvm = _fs(spark, path)
    base = path.rstrip("/")
    rows = []
    for v in _versions(fs, jvm, base):
        m = _load_manifest(fs, jvm, base, v)
        counts = [f.get("n_rows") for f in m["files"]]
        rows.append(
            (
                m["version"],
                m["parent"],
                m["operation"],
                len(m["files"]),
                sum(f["bytes"] for f in m["files"]),
                sum(counts) if all(c is not None for c in counts)
                else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "version INT, parent INT, operation STRING, n_files INT,"
        " total_bytes LONG, n_rows LONG",
    )


def snapshot_count(
    spark: SparkSession, path: str, version: int | None = None
) -> int:
    """Row count of the given version (default latest) answered from
    the MANIFEST when every referenced file carries a recorded
    ``n_rows`` (written for free by the ``stats_cols=`` scan and by
    :func:`attach_stats` footer reads) — zero tasks, zero file
    opens; the 100 TB ``SELECT count(*)`` that doesn't scan 100 TB.
    Falls back to one real ``count()`` job when any file lacks a
    recorded count (plain writes without stats)."""
    _, _, _, _, v, m = _open(spark, path, "snapshot_count", version)
    counts = [f.get("n_rows") for f in m["files"]]
    if counts and all(c is not None for c in counts):
        return int(sum(counts))
    if not m["files"]:
        return 0
    return snapshot_read(spark, path, v).count()


def snapshot_partitions(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """One row per partition of the given version (default latest):
    the partition columns (as strings; NULL for the hive default
    partition) plus ``n_files`` and ``total_bytes`` — read from the
    MANIFEST alone. The SHOW PARTITIONS that never lists a
    directory: at 100 TB / 10k partitions this is one small JSON
    read, not 10k object-store LISTs. Raises on an unpartitioned
    table."""
    _, _, _, _, v, m = _open(spark, path, "snapshot_partitions", version)
    pby = list(m.get("partition_by") or ())
    if not pby:
        raise ValueError(
            f"snapshot_partitions: version {v} at {path!r} is not "
            "partitioned"
        )
    agg: dict[tuple, list] = {}
    for f in m["files"]:
        pv = f.get("partition") or {}
        key = tuple(
            None if pv.get(c) is None else str(pv.get(c)) for c in pby
        )
        slot = agg.setdefault(key, [0, 0])
        slot[0] += 1
        slot[1] += f["bytes"]
    rows = [
        (*key, n, b) for key, (n, b) in sorted(
            agg.items(), key=lambda kv: tuple(x or "" for x in kv[0])
        )
    ]
    ddl = ", ".join(f"`{c}` STRING" for c in pby)
    return spark.createDataFrame(
        rows, f"{ddl}, n_files INT, total_bytes LONG"
    )


def _maintenance_subset(
    spark, m: dict, where: str | None, op: str
) -> tuple[list, list]:
    """Split a manifest's files into (subset to rewrite, rest kept
    verbatim) for a partition-scoped maintenance op. ``where`` must
    PROVABLY depend only on partition columns (same machinery as the
    metadata-only delete) — at 100 TB nobody rewrites the whole
    table; maintenance runs per partition range."""
    if where is None:
        return m["files"], []
    verdicts = _pure_partition_verdicts(spark, m, where)
    if verdicts is None:
        raise ValueError(
            f"{op}: where={where!r} must provably depend only on "
            "partition columns (resolvable against them alone, "
            "deterministic, cast-faithful recorded values) — "
            "row-level scoping of a rewrite is not meaningful"
        )
    subset = [f for i, f in enumerate(m["files"]) if verdicts.get(i)]
    rest = [f for i, f in enumerate(m["files"]) if not verdicts.get(i)]
    return subset, rest


def _rewrite_scoped(
    spark, path: str, op: str, where: str | None, max_replan: int, layout
) -> tuple[dict, list, dict | None]:
    """The one scoped-rewrite loop under :func:`compact_snapshot` and
    :func:`optimize_snapshot`: open the head, take the ``where``
    subset, ask ``layout(m, subset)`` for ``(lay, stats_cols)`` (or
    None: nothing to do), plan the subset, stage ``lay(df)`` with
    stats and publish through :func:`_commit_replacing` with the
    out-of-scope files kept. A conflict re-plans against the new head
    up to ``max_replan`` times, then raises. Returns ``(manifest,
    subset, commit result)``; the result is None for a no-op."""
    name = f"{op}_snapshot"
    for attempt in range(max_replan + 1):
        fs, jvm, base, _, _, m = _open(spark, path, name)
        subset, rest = _maintenance_subset(spark, m, where, name)
        plan = layout(m, subset)
        if plan is None:
            return m, subset, None
        lay, stats_cols = plan
        pby = tuple(m.get("partition_by") or ())
        # plan from the exact manifest the commit will validate
        # against (not "latest again" — a racing append between the
        # two reads must surface as a conflict, not silently join
        # the rewrite)
        df = lay(_plan_read(spark, base, m, subset))
        commit_id, staged = _stage_commit(
            df, base, fs, jvm, pby, dict(m.get("schema_ddl") or []),
            stats_cols=stats_cols,
        )
        try:
            res = _commit_replacing(
                spark, path, m, {f["path"] for f in rest}, staged, op,
                commit_id=commit_id,
            )
        except RuntimeError:
            if attempt >= max_replan:
                raise
            continue  # conflict: re-plan against the new head
        return m, subset, res


def compact_snapshot(
    spark: SparkSession,
    path: str,
    target_mb: int = 256,
    max_replan: int = 0,
    where: str | None = None,
) -> dict:
    """Commit a compacted version: the latest version's rows repacked
    into ``ceil(total_bytes / target_mb)`` files. Rows are untouched;
    the previous version remains readable (time travel) — there is NO
    deletion window at all. No-op when already at the target count.
    The repack is a narrow ``coalesce`` of a manifest-planned scan.

    A partitioned table keeps its partitioning: rows shuffle once on
    the partition columns (so each hive dir is written by one task —
    one file per partition value) and the floor on achievable file
    count is the partition count, which the no-op check honors.

    The commit is CONFLICT-VALIDATED (:func:`_commit_replacing`): a
    concurrent append landing between this function's read of the
    head and its manifest publish raises instead of being silently
    dropped from the compacted version — the same lost-update guard
    merge/delete have (a plain ``snapshot_write(mode="overwrite")``
    would rebase the version NUMBER and re-publish only the
    compactor's own content). A stats-only commit racing in is
    harmless and rebases. ``max_replan`` opts a maintenance job into
    automatic re-planning: on a conflict the compaction re-reads the
    new head and retries up to that many times (each retry compacts
    the CURRENT content, racing appends included); the default 0
    keeps the raise-and-let-the-caller-decide contract.

    ``where`` SCOPES the compaction to the files of matching
    partitions (predicate provably over partition columns only, like
    the metadata-only delete); everything else is referenced
    verbatim — the way maintenance actually runs at 100 TB: compact
    yesterday's partition, not the table.
    """
    import math

    def layout(m, subset):
        total = sum(f["bytes"] for f in subset)
        want = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
        pby = tuple(m.get("partition_by") or ())
        if pby:
            n_parts = len(
                {
                    tuple(sorted((f.get("partition") or {}).items()))
                    for f in subset
                }
            )
            want = max(want, n_parts)
        if len(subset) <= want:
            return None
        # stats coverage is re-collected so file skipping never
        # degrades across a compaction
        stats = _table_stats_cols(m, pby)
        if pby:
            return (lambda df: df.repartition(want, *pby)), stats
        return (lambda df: df.coalesce(want)), stats

    m, subset, res = _rewrite_scoped(
        spark, path, "compact", where, max_replan, layout
    )
    if res is None:
        return {"compacted": False, "n_files": len(m["files"])}
    return {
        "compacted": True,
        "version": res["version"],
        "n_files_before": len(subset),
        "n_files_after": res["n_files_new"],
        "n_files_kept": res["n_files_kept"],
    }


def optimize_snapshot(
    spark: SparkSession,
    path: str,
    zorder_by: tuple,
    target_mb: int = 256,
    stats_cols: tuple | None = None,
    target_files: int | None = None,
    max_replan: int = 0,
    where: str | None = None,
) -> dict:
    """OPTIMIZE for manifest tables: rewrite the latest version
    CLUSTERED by z-order over ``zorder_by`` (multi-column layout —
    per-file [min, max] stays narrow on EVERY participating column),
    re-collect write-time stats for those columns, and commit it all
    as ONE new version (operation ``optimize``). The previous
    version stays readable (time travel; vacuum reclaims later), so
    there is no deletion window — the same pattern as
    :func:`compact_snapshot`, plus clustering, plus stats.

    This is the scan-side 100 TB lever assembled end to end: after
    one optimize, a sargable predicate on ANY z column — through
    :func:`snapshot_scan`, :func:`snapshot_pruned_read`, or the PRQL
    pushdown — plans in O(matching files). Partitioned tables keep
    their partition spec; rows range-partition on
    ``(partition cols, z)`` so each hive directory's files cover
    contiguous z-ranges.

    Cost: one stats pass (``approxQuantile`` over the z columns) +
    one range shuffle + the write — the same stage count as a plain
    compaction rewrite.

    The commit is conflict-validated like :func:`compact_snapshot`'s:
    a concurrent data commit between plan and publish raises (re-run
    on the new head) rather than being silently dropped; ``max_replan``
    opts into automatic re-planning against the new head and
    ``where`` scopes the rewrite to matching partitions' files, both
    exactly as in :func:`compact_snapshot`."""
    import math

    from prql_spark.sources.layout import zorder_expr
    from pyspark.sql import functions as F

    def layout(m, subset):
        if not subset:
            raise ValueError(
                f"optimize_snapshot: nothing to optimize at {path!r}"
                + (f" under where={where!r}" if where else "")
            )
        total = sum(f["bytes"] for f in subset)
        # target_files pins the output file count directly (small
        # tables, tests); otherwise size to target_mb
        want = target_files or max(
            1, math.ceil(total / (target_mb * 1024 * 1024))
        )
        pby = tuple(m.get("partition_by") or ())

        def lay(df):
            missing = [c for c in zorder_by if c not in df.columns]
            if missing:
                raise ValueError(
                    f"optimize_snapshot: zorder_by columns {missing} "
                    f"not in table columns {df.columns}"
                )
            z = zorder_expr(df, list(zorder_by))
            keyed = df.withColumn("__z", F.expr(z))
            range_key = [*pby, "__z"]
            return (
                keyed.repartitionByRange(want, *range_key)
                .sortWithinPartitions(*range_key)
                .drop("__z")
            )

        return lay, tuple(stats_cols or zorder_by)

    _, subset, res = _rewrite_scoped(
        spark, path, "optimize", where, max_replan, layout
    )
    return {
        "version": res["version"],
        "operation": "optimize",
        "zorder_by": list(zorder_by),
        "n_files_before": len(subset),
        "n_files_after": res["n_files_new"],
        "n_files_kept": res["n_files_kept"],
    }


def vacuum_snapshot(
    spark: SparkSession,
    path: str,
    keep_versions: int = 2,
    min_age_s: float = 3600.0,
    dry_run: bool = False,
) -> dict:
    """Reclaim space: drop all but the newest ``keep_versions``
    manifests, then delete every data file no retained manifest
    references AND whose modification time is at least ``min_age_s``
    seconds old.

    The age threshold closes a real race: a concurrent
    ``snapshot_write`` STAGES its files before publishing the
    manifest that references them, so "unreferenced" alone also
    describes a commit in flight — deleting those files would let
    the writer publish a manifest pointing at nothing (the same race
    Iceberg's remove-orphan-files guards with an age threshold).
    With the default one-hour grace, vacuum is safe to run alongside
    writers whose stage→commit gap is shorter than the grace window;
    ``min_age_s=0`` restores pure unreferenced-set semantics for
    quiesced tables (and tests). Old behavior otherwise unchanged:
    only files no retained manifest references are ever deleted.
    ``dry_run=True`` deletes NOTHING and reports what a real run
    would reclaim (including the relative paths) — run it before
    the first vacuum of a table you didn't create."""
    import time

    if keep_versions < 1:
        raise ValueError("vacuum_snapshot: keep_versions must be >= 1")
    fs, jvm = _fs(spark, path)
    base = path.rstrip("/")
    Path = _hpath(jvm)
    seen = _versions(fs, jvm, base)
    keep = seen[-keep_versions:]
    referenced: set[str] = set()
    for v in keep:
        m = _load_manifest(fs, jvm, base, v)
        referenced.update(f["path"] for f in m["files"])
    dropped_files = 0
    skipped_young = 0
    cutoff_ms = (time.time() - min_age_s) * 1000.0
    data_root = Path(f"{base}/{_DATA_DIR}")
    if fs.exists(data_root):
        it = fs.listFiles(data_root, True)
        doomed = []
        while it.hasNext():
            st = it.next()
            full = st.getPath().toUri().getPath()
            rel = full[len(
                Path(base).toUri().getPath()
            ):].lstrip("/")
            # hidden entries (_SUCCESS, .crc) are writer metadata,
            # not data — leave them to their commit directory. The
            # hive NULL-partition dir is NOT hidden (real data).
            if _hidden_rel(rel):
                continue
            if rel not in referenced:
                if st.getModificationTime() > cutoff_ms:
                    skipped_young += 1  # possibly a commit in flight
                    continue
                doomed.append(st.getPath())
        if dry_run:
            return {
                "dry_run": True,
                "dropped_files": len(doomed),
                "skipped_young_files": skipped_young,
                "dropped_manifests": len(
                    [v for v in seen if v not in keep]
                ),
                "kept_versions": keep,
                "would_delete": sorted(
                    p.toUri().getPath()[
                        len(Path(base).toUri().getPath()):
                    ].lstrip("/")
                    for p in doomed
                ),
            }
        for p in doomed:
            fs.delete(p, False)
            dropped_files += 1
        # sweep commit directories holding no data files anymore
        # (only writer metadata like _SUCCESS/.crc — or, for
        # partitioned commits, emptied col=value dirs — remains)
        for st in fs.listStatus(data_root):
            if not st.isDirectory():
                continue
            dir_prefix = st.getPath().toUri().getPath()
            it2 = fs.listFiles(st.getPath(), True)
            empty = True
            while it2.hasNext():
                rel2 = (
                    it2.next().getPath().toUri().getPath()
                )[len(dir_prefix):].lstrip("/")
                if not _hidden_rel(rel2):
                    empty = False
                    break
            if empty:
                fs.delete(st.getPath(), True)
    elif dry_run:
        return {
            "dry_run": True,
            "dropped_files": 0,
            "skipped_young_files": 0,
            "dropped_manifests": len([v for v in seen if v not in keep]),
            "kept_versions": keep,
            "would_delete": [],
        }
    dropped_manifests = 0
    for v in seen:
        if v not in keep:
            fs.delete(
                Path(f"{base}/{_MANIFEST_DIR}/v{v:010d}.json"), False
            )
            dropped_manifests += 1
    return {
        "dropped_files": dropped_files,
        "skipped_young_files": skipped_young,
        "dropped_manifests": dropped_manifests,
        "kept_versions": keep,
    }


def committed_epochs(
    spark: SparkSession, path: str, stream_id: str
) -> set:
    """Epoch ids a streaming sink has already committed to the table
    at ``path`` under ``stream_id``, read from the RETAINED
    manifests. NOTE: after a vacuum trims manifests this set is
    incomplete — :func:`stream_high_water` (which every commit
    carries forward) is the vacuum-safe check the streaming sink
    actually uses; this remains for inspection/debugging."""
    fs, jvm = _fs(spark, path)
    base = path.rstrip("/")
    out = set()
    for v in _versions(fs, jvm, base):
        m = _load_manifest(fs, jvm, base, v)
        if m.get("stream_id") == stream_id and "epoch" in m:
            out.add(m["epoch"])
    return out


def stream_high_water(
    spark: SparkSession, path: str, stream_id: str
) -> int:
    """Highest epoch any commit recorded for ``stream_id`` at
    ``path``, or -1 when none. This is the exactly-once replay check
    that SURVIVES :func:`vacuum_snapshot`: every commit folds its
    parent's per-stream high-water map into its own manifest, so the
    latest manifest alone knows every stream's high water even after
    older manifests (the per-epoch ledger rows) are vacuumed away.
    foreachBatch epochs are monotonic per checkpoint and commit in
    order, so ``epoch <= high_water`` ⇔ already committed. Retained
    per-manifest ``(stream_id, epoch)`` rows are ALSO scanned, which
    covers tables written before the ``streams`` map existed."""
    fs, jvm = _fs(spark, path)
    base = path.rstrip("/")
    hw = -1
    for v in _versions(fs, jvm, base):
        m = _load_manifest(fs, jvm, base, v)
        if m.get("stream_id") == stream_id and "epoch" in m:
            hw = max(hw, int(m["epoch"]))
        s = m.get("streams") or {}
        if stream_id in s:
            hw = max(hw, int(s[stream_id]))
    return hw


def snapshot_changes(
    spark: SparkSession, path: str, since_version: int,
    end_version: int | None = None,
) -> DataFrame:
    """Incremental read: the rows ADDED after ``since_version`` —
    exactly the files referenced by ``end_version``'s manifest
    (default: the latest version AT CALL TIME) but not by
    ``since_version``'s. The training-pipeline primitive for
    incremental processing: score/dedup/decontaminate ONLY the new
    slice (e.g. feed ``dedup.dedup_against`` with the reference
    corpus), never rescanning the 100 TB already processed.

    Callers that BOOKMARK their progress must pass the version they
    will record as ``end_version``: with a live appender on the
    source, "latest" can advance between the caller's own version
    listing and this one, and an unpinned read would include rows
    the bookmark doesn't cover — the next run would process them
    twice (see :func:`~prql_spark.sources.incremental
    .process_increment`, which pins it).

    Only valid across append-only history: if any version in
    ``(since_version, end_version]`` was an overwrite (or a
    compaction, which rewrites files), "added files" no longer means
    "added rows" and this raises instead of silently returning
    rewritten data.
    """
    fs, jvm, base, _, _, sm = _open(
        spark, path, "snapshot_changes", since_version
    )
    _, _, _, seen, end_version, em = _open(
        spark, path, "snapshot_changes", end_version
    )
    if end_version < since_version:
        raise ValueError(
            f"snapshot_changes: end version {end_version} < since "
            f"version {since_version}"
        )
    for v in seen:
        if since_version < v <= end_version:
            op = _load_manifest(fs, jvm, base, v).get("operation")
            # "stats" commits change no files — safe to cross
            if op not in ("append", "stats"):
                raise ValueError(
                    f"snapshot_changes: version {v} is {op!r}, not "
                    "append — added files no longer mean added rows; "
                    "read the full version instead"
                )
    old = {f["path"] for f in sm["files"]}
    new_files = [f for f in em["files"] if f["path"] not in old]
    if not new_files:
        return snapshot_read(spark, path, end_version).limit(0)
    return _plan_read(spark, base, em, new_files)


def _rel_from_uri(uri: str) -> str:
    """``input_file_name()`` URI → manifest-relative path
    (``data/<commit>/...``). The URI percent-encodes raw bytes (a
    literal ``%`` in a hive-escaped dir name arrives as ``%25``), so
    one unquote restores the on-disk name the manifest recorded.
    rsplit: the TABLE's data dir is the last ``/data/`` segment (a
    base path like ``/mnt/data/tbl`` must not split first; nothing
    under the commit dir can contain a raw ``/data/`` — commit ids
    are hex and hive escapes slashes in partition values)."""
    return _DATA_DIR + "/" + unquote(uri.rsplit(f"/{_DATA_DIR}/", 1)[1])


def _table_stats_cols(m: dict, partition_by: tuple) -> tuple | None:
    """The data columns the table's manifest already carries stats
    for — merge/delete re-collect these on the files they rewrite,
    so file-skipping coverage never degrades across row-level
    commits. (Partition columns are excluded: their [v, v] stats are
    re-derived from the staged paths for free.)"""
    cols = sorted(
        {c for f in m["files"] for c in (f.get("stats") or {})}
        - set(partition_by)
    )
    return tuple(cols) or None


_DT_SHAPE = re.compile(r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}")
_DATE_SHAPE = re.compile(r"\d{4}-\d{2}-\d{2}")
# the canonical spellings: a DATE's or TIMESTAMP's stats text
_CANON_DT = re.compile(
    r"\d{4}-\d{2}-\d{2}(?:[ T]\d{2}:\d{2}(?::\d{2}(?:\.\d{1,9})?)?)?"
)
# a superset of what Spark's string -> DATE/TIMESTAMP casts
# (DateTimeUtils.stringToDate, stringToTimestamp) accept after
# trimming blanks and ISO controls: [+-]yyyy*, [+-]yyyy*-[m]m,
# [+-]yyyy*-[m]m-[d]d followed by anything (' '/'T' then a time of
# [h]h:[m]m:[s]s.[fraction][zone]), or a bare time [T][h]h:[m]m...
_SPARK_DT_CAST = re.compile(
    r"[\x00-\x20\x7f]*(?:[+-]?\d{4,7}(?:-\d{1,2}(?:-\d{1,2}.*)?)?"
    r"|T?\d{1,2}:.*)[\x00-\x20\x7f]*",
    re.S,
)


def _lt_for_prune(a, b) -> bool:
    """``a < b`` strictly enough to justify PRUNING. Where either
    string is datetime-shaped the ordering depends on the column's
    type, which the extractor cannot see: TIMESTAMP stats are
    isoformat (``T``, fraction as :func:`_norm_ts_path` writes it),
    a literal is often space-separated (``'T' > ' '``), and a STRING
    column compares raw, so both orderings must agree. A bare date
    against a datetime compares by the day: Spark reads a DATE as
    its midnight, and only an earlier day lies below on every
    ordering. A canonical date or datetime against a string Spark's
    cast reads in another spelling (``2024-1-2``, ``2024-01``,
    ``2024-1-2 3:04``, leading blanks) has no text order at all:
    Spark compares the cast value. Disagreement keeps the file
    (never wrong)."""
    if isinstance(a, str) and isinstance(b, str):
        ca, cb = _CANON_DT.fullmatch(a), _CANON_DT.fullmatch(b)
        if (ca and not cb and _SPARK_DT_CAST.fullmatch(b)) or (
            cb and not ca and _SPARK_DT_CAST.fullmatch(a)
        ):
            return False
        if (_DATE_SHAPE.fullmatch(a) and _DT_SHAPE.match(b)) or (
            _DT_SHAPE.match(a) and _DATE_SHAPE.fullmatch(b)
        ):
            return a[:10] < b[:10]
        if _DT_SHAPE.match(a) or _DT_SHAPE.match(b):
            return a < b and _norm_ts_path(a) < _norm_ts_path(b)
    return a < b


def _overlaps_bounds(f: dict, bounds: dict) -> bool:
    """The one file-skip rule: can file entry ``f`` contain a row
    satisfying every bound in ``bounds`` (``{col: (lo, hi)}`` or
    ``{col: [(lo, hi), ...]}``, an interval UNION per column, as
    :func:`_sql_bounds` builds them)? Each interval is tested against
    THIS file's stats, end by end, so an inverted interval (an AND
    whose ends cross) skips a file only by that file's own stats —
    emptiness is never decided apart from them. Conservative:
    files lacking stats for a bounded column are kept, incomparable
    types keep the file. Exact skip: a hive NULL partition on a
    bounded column (a range or equality bound is never TRUE on
    NULL)."""
    st = f.get("stats") or {}
    pv = f.get("partition") or {}
    for col, ivs in bounds.items():
        if isinstance(ivs, tuple):
            ivs = [ivs]
        if col in pv and pv[col] is None:
            return False
        rng = st.get(col)
        if rng is None:
            continue  # no stats for this col: keep (safe)
        fmin, fmax = rng

        def hits(lo, hi) -> bool:
            try:
                if lo is not None and _lt_for_prune(fmax, _stats_enc(lo)):
                    return False
                if hi is not None and _lt_for_prune(_stats_enc(hi), fmin):
                    return False
            except TypeError:
                return True  # incomparable: keep (safe)
            return True

        if not any(hits(lo, hi) for lo, hi in ivs):
            return False
    return True


_SQL_TOKEN = re.compile(
    r"(?P<stop>--|/\*)"
    r"|'(?P<str>(?:[^'\\]|\\.|'')*)'"
    r"|(?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
    r"|(?P<op><=|>=|==|!=|<>|=|<|>)"
    r"|(?P<arith>[-+*/%])"
    r"|(?P<lp>\()|(?P<rp>\))|(?P<comma>,)"
    r"|`(?P<col>[^`]+)`"
    r"|(?P<word>[A-Za-z_][A-Za-z0-9_.]*)",
    re.S,
)
# a string literal body whose value the extractor can state; Spark
# also decodes \n, \t, \uXXXX, octal ..., which stop extraction
_SQL_STR_PLAIN = re.compile(r"(?:[^'\\]|\\['\\]|'')*", re.S)
_SQL_UNESC = re.compile(r"\\(['\\])|'(')")


def _sql_bounds(predicate: str) -> dict | None:
    """The one predicate-to-bounds rule: conservative per-column
    pruning bounds from a Spark SQL boolean ``predicate`` string, in
    :func:`_overlaps_bounds` shape (a ``(lo, hi)`` tuple for one
    interval, a list for an ``IN`` or a same-column ``OR``), or None
    when nothing sargable was found. ``delete_snapshot`` hands it the
    user's predicate; the PRQL pushdown (``Catalog.load_pruned``)
    hands it the filter's compiled SQL.

    Soundness posture (the caller ALWAYS re-applies the exact
    predicate, so pruning only needs a SUPERSET of matching files):

    * atoms are ``col <op> literal``, ``literal <op> col``, ``col
      BETWEEN a AND b`` and ``col IN (...)``; any other conjunct
      (IS NULL, NOT, ``!=``, functions, arithmetic, CASE) is
      skipped — skipping keeps more files, never fewer;
    * AND intersects the intervals per column, keeping the tighter
      end where the two compare and either end where they do not
      (each alone is a valid bound). It never decides that an
      intersection is empty: implicit casts make that unsound, so an
      inverted interval goes to :func:`_overlaps_bounds`, which tests
      it per file against that file's stats;
    * OR contributes only when every arm bounds the same single
      column, as the union of the arms' intervals;
    * strict bounds widen to inclusive; DATE/TIMESTAMP literals take
      the isoformat the stats use; a comment (``--``, ``/*``), an
      unknown character or a string escape other than ``\\'``,
      ``\\\\`` and ``''`` stops extraction."""
    toks = _tok_sql(predicate)
    return (_bounds_walk(toks) or None) if toks else None


def _tok_sql(s: str) -> list | None:
    toks: list = []
    i, n = 0, len(s)
    while i < n:
        if s[i].isspace():
            i += 1
            continue
        m = _SQL_TOKEN.match(s, i)
        if not m or m.group("stop"):
            return None  # unknown character or a comment: no pruning
        i = m.end()
        kind = m.lastgroup
        v = m.group(kind)
        if kind == "str":
            if not _SQL_STR_PLAIN.fullmatch(v):
                return None
            kind, v = "lit", _SQL_UNESC.sub(r"\1\2", v)
        elif kind == "num":
            num = float if "." in v or "e" in v.lower() else int
            kind, v = "lit", num(v)
        toks.append((kind, v))
    return toks


def _kw(t) -> str | None:
    return t[1].upper() if t[0] == "word" else None


def _split(toks: list, kw: str) -> list:
    """``toks`` split at each top-level ``kw`` (AND / OR): outside
    parentheses and CASE ... END, and not the AND of a BETWEEN."""
    parts, depth, start, between = [], 0, 0, False
    for idx, t in enumerate(toks):
        k = _kw(t)
        if t[0] == "lp" or k == "CASE":
            depth += 1
        elif t[0] == "rp" or k == "END":
            depth -= 1
        elif depth == 0 and k == "BETWEEN":
            between = True
        elif depth == 0 and k == kw:
            if kw == "AND" and between:
                between = False
            else:
                parts.append(toks[start:idx])
                start = idx + 1
    parts.append(toks[start:])
    return parts


def _bounds_walk(toks: list) -> dict:
    """{col: bound} implied by a token group ({} when nothing is)."""
    arms = _split(toks, "OR")
    if len(arms) > 1:
        got = [_bounds_walk(a) for a in arms]
        cols = {c for g in got for c in g}
        if len(cols) != 1 or not all(got):
            return {}
        (col,) = cols
        return {col: [iv for g in got for iv in _ivs(g[col])]}
    out: dict = {}
    for seg in _split(toks, "AND"):
        got = _bounds_walk(seg[1:-1]) if _wrapped(seg) else _bounds_atom(seg)
        for col, b in got.items():
            out[col] = _meet(out[col], b) if col in out else b
    return out


def _ivs(b) -> list:
    return [b] if isinstance(b, tuple) else b


def _meet(a, b):
    """Both bounds of one column hold. Two intervals stay a tuple;
    a list meets pairwise, and past 1024 pairs one side is kept."""
    if isinstance(a, tuple) and isinstance(b, tuple):
        return (_tighter(a[0], b[0], max), _tighter(a[1], b[1], min))
    xs, ys = _ivs(a), _ivs(b)
    if len(xs) * len(ys) > 1024:
        return a
    return [_meet(x, y) for x in xs for y in ys]


def _tighter(x, y, pick):
    if x is None or y is None:
        return y if x is None else x
    try:
        return pick(x, y)
    except TypeError:
        return x  # incomparable: either end alone is a valid bound


def _wrapped(seg: list) -> bool:
    if not seg or seg[0][0] != "lp":
        return False
    depth = 0
    for idx, t in enumerate(seg):
        if t[0] == "lp":
            depth += 1
        elif t[0] == "rp":
            depth -= 1
            if depth == 0:
                return idx == len(seg) - 1
    return False


def _dt_bound(kind: str, text: str) -> str | None:
    """A DATE/TIMESTAMP literal's text → the isoformat its stats hold
    (``_stats_enc``), or None: a zoned or unparseable literal gives no
    bound."""
    from datetime import date, datetime

    try:
        v = (date if kind == "DATE" else datetime).fromisoformat(text)
    except ValueError:
        return None
    return None if getattr(v, "tzinfo", None) is not None else v.isoformat()


def _bounds_lit(seg: list, i: int):
    """Literal at position ``i`` → (value, next_i) or None: a number
    (negated or parenthesized too), a string, or a DATE/TIMESTAMP
    literal. (No booleans: a cast between BOOLEAN and a numeric
    column's stats could prune a matching row.)"""
    kind, v = seg[i] if i < len(seg) else (None, None)
    if kind == "lit":
        return v, i + 1
    if kind == "arith" and v == "-":
        got = _bounds_lit(seg, i + 1)
        if got and type(got[0]) in (int, float):
            return -got[0], got[1]
        return None
    if kind == "lp":
        got = _bounds_lit(seg, i + 1)
        if got and got[1] < len(seg) and seg[got[1]][0] == "rp":
            return got[0], got[1] + 1
        return None
    k = _kw(seg[i]) if kind else None
    if (
        k in ("DATE", "TIMESTAMP")
        and i + 1 < len(seg)
        and seg[i + 1][0] == "lit"
        and isinstance(seg[i + 1][1], str)
    ):
        v = _dt_bound(k, seg[i + 1][1])
        return None if v is None else (v, i + 2)
    return None


_REV_OP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "=", "==": "=="}


def _cmp_bound(col: str, op: str, v) -> dict:
    if op in ("=", "=="):
        return {col: (v, v)}
    if op in ("<", "<="):
        return {col: (None, v)}  # strict widens to inclusive (safe)
    if op in (">", ">="):
        return {col: (v, None)}
    return {}  # != / <> prove nothing for interval pruning


def _bounds_atom(seg: list) -> dict:
    """One conjunct → {col: bound}, or {} for an unknown shape."""
    n = len(seg)
    if n >= 3 and seg[0][0] in ("word", "col"):
        col, (kind, v) = seg[0][1], seg[1]
        if kind == "op":
            lit = _bounds_lit(seg, 2)
            return _cmp_bound(col, v, lit[0]) if lit and lit[1] == n else {}
        if _kw(seg[1]) == "BETWEEN":
            lo = _bounds_lit(seg, 2)
            if lo and lo[1] < n and _kw(seg[lo[1]]) == "AND":
                hi = _bounds_lit(seg, lo[1] + 1)
                if hi and hi[1] == n:
                    return {col: (lo[0], hi[0])}
            return {}
        if _kw(seg[1]) == "IN" and seg[2][0] == "lp" and seg[-1][0] == "rp":
            vals, j = [], 3
            while (lit := _bounds_lit(seg, j)) is not None:
                vals.append(lit[0])
                j = lit[1]
                if j >= n or seg[j][0] != "comma":
                    break
                j += 1
            return {col: [(v, v) for v in vals]} if vals and j == n - 1 else {}
    lit = _bounds_lit(seg, 0)  # literal <op> col
    if lit and lit[1] == n - 2 and seg[-2][0] == "op":
        if seg[-1][0] in ("word", "col"):
            op = _REV_OP.get(seg[-2][1], "")
            return _cmp_bound(seg[-1][1], op, lit[0])
    return {}


def _commit_replacing(
    spark,
    path: str,
    planned: dict,
    keep_paths: set,
    staged: list,
    operation: str,
    commit_id: str | None = None,
    schema_sig: list | None = None,
    schema_ddl: list | None = None,
    merge_schema: bool | None = None,
) -> dict:
    """Publish a manifest whose file list is ``planned``'s files
    minus the replaced ones (``keep_paths`` survivors) plus
    ``staged`` — the conflict-validated commit primitive under every
    rewrite: :func:`merge_snapshot` / :func:`delete_snapshot`
    (copy-on-write) and :func:`compact_snapshot` /
    :func:`optimize_snapshot` (full rewrite, ``keep_paths`` empty).
    If another writer committed since ``planned`` was read, the
    commit retries ONLY when the head still references exactly the
    same data files (e.g. a ``stats`` commit landed — kept entries
    are then taken from the head so fresher stats survive); any real
    data change raises, because the rewrite was planned against
    files that are no longer the table — the caller must re-run on
    the new head (same validation posture as Iceberg's conflict
    detection). A concurrent APPEND therefore can never be silently
    dropped by a maintenance rewrite.

    The manifest is rebuilt from the head's STRUCTURAL keys only
    (schema, partitioning, merge flag, stream high-water map) —
    never a blind spread — so ``commit`` identifies the directory
    this version's new files actually live in (``commit_id`` from
    :func:`_stage_commit`) and a parent's one-shot extras (e.g. a
    streaming append's ``stream_id``/``epoch``) don't leak into an
    unrelated rewrite's manifest."""
    fs, jvm = _fs(spark, path)
    planned_paths = [f["path"] for f in planned["files"]]

    def build(head, hm):
        if [f["path"] for f in hm["files"]] != planned_paths:
            raise RuntimeError(
                f"{operation}_snapshot: concurrent commit changed "
                f"{path!r} (planned against v{planned['version']}, "
                f"head v{head} references different files) — re-run "
                "against the new head"
            )
        return {
            "operation": operation,
            "commit": commit_id or hm.get("commit"),
            # schema overrides serve merge's opt-in evolution: the
            # published version's schema is the SOURCE's superset and
            # reads merge-fill the untouched files' missing columns
            "schema": schema_sig if schema_sig is not None
            else hm.get("schema"),
            "schema_ddl": schema_ddl if schema_ddl is not None
            else hm.get("schema_ddl"),
            "partition_by": hm.get("partition_by") or [],
            "merge_schema": bool(hm.get("merge_schema"))
            if merge_schema is None else bool(merge_schema),
            "files": [f for f in hm["files"] if f["path"] in keep_paths]
            + staged,
        }

    m = _publish(
        fs, jvm, path.rstrip("/"), f"{operation}_snapshot", build
    )
    return {
        "version": m["version"],
        "operation": operation,
        "n_files_rewritten": len(planned_paths) - len(keep_paths),
        "n_files_kept": len(m["files"]) - len(staged),
        "n_files_new": len(staged),
    }


def merge_snapshot(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: tuple,
    broadcast_key_limit: int = 2_000_000,
    allow_new_columns: bool = False,
) -> dict:
    """Row-level UPSERT into a manifest table, copy-on-write: rows of
    ``source`` REPLACE target rows with the same ``on`` key; source
    rows with no match insert. Only the files that actually contain a
    matched key are rewritten — untouched files are referenced
    verbatim in the new manifest, so merging 1 GB of updates into a
    100 TB table moves (touched files + 1 GB), never the table.

    Touched-file discovery is two-stage, both scale levers explicit:

    1. **Stats prune (no data read).** The source keys' [min, max]
       (one tiny agg) are compared against each file's manifest
       stats — on a table written with ``stats_cols=`` (or
       partitioned by) the key columns, only overlapping files go to
       stage 2. Files without key stats are always candidates (safe).
    2. **Exact probe (candidates only).** One semi-join of the
       candidate files against the distinct source keys, grouped by
       ``input_file_name`` — returns at most one row per file.

    Whole-row replace semantics: the source schema must equal the
    table schema; duplicate keys WITHIN the source all land (the
    matched target row is removed once). Schema EVOLUTION is opt-in
    like append's: ``allow_new_columns=True`` accepts a source whose
    schema is a SUPERSET of the table's (add columns; never drop or
    retype) — the new version's schema becomes the source's,
    survivors and untouched files null-fill the added columns at
    read (the version is flagged ``merge_schema``). Time travel
    keeps the pre-merge version readable; ``snapshot_changes``
    refuses to cross a merge (rewritten files ≠ added rows). A
    concurrent data commit between plan and publish raises (see
    :func:`_commit_replacing`); re-run on the new head.

    The distinct source keys are computed once and stored with
    :func:`~prql_spark.plans.physical.materialize`: the bounds agg,
    the probe and the survivor anti-join all scan the stored blocks.
    Under AQE those blocks hold the exchange's COALESCED output (one
    partition for a small update), so each consumer runs a handful of
    tasks, not one per shuffle partition. The trade-off is
    materialize's: the blocks live only on the executors that wrote
    them, so a lost executor fails the merge before it publishes, and
    no version is written — the failure mode of every other
    materialize site, whose storage policy changes in that one
    helper.

    The keys are broadcast to both probe joins only while they stay
    under ``broadcast_key_limit`` (default 2M keys — comfortably
    driver-safe); a bulk backfill with more distinct keys drops the
    hint and lets Spark/AQE pick the join strategy instead of OOMing
    a forced broadcast."""
    from pyspark.sql import functions as F

    on = tuple(on)
    fs, jvm, base, _, _, m = _open(spark, path, "merge_snapshot")
    src_sig = sorted(
        (f.name, f.dataType.simpleString()) for f in source.schema.fields
    )
    tbl_sig = [tuple(p) for p in m.get("schema", [])]
    evolve = False
    if tbl_sig and src_sig != tbl_sig:
        superset = allow_new_columns and set(tbl_sig) < set(src_sig)
        if not superset:
            raise ValueError(
                f"merge_snapshot: source schema {src_sig} != table "
                f"schema {tbl_sig} — merge is whole-row replace; "
                "align the source first (adding columns needs "
                "allow_new_columns=True)"
            )
        evolve = True
    missing = [c for c in on if c not in source.columns]
    if missing:
        raise ValueError(
            f"merge_snapshot: key columns {missing} not in source"
        )

    # stage 1: prune candidates by manifest stats vs source key range.
    # The bounds agg, the key-count (broadcast gate) and the two probe
    # joins all consume the same distinct key set, so it is computed
    # ONCE here: one job returns min/max/count over the materialized
    # keys (min/max over distinct keys == min/max over the source —
    # one fewer full source scan than a separate source-side agg).
    keys = materialize(source.select(*on).dropDuplicates())
    krow = keys.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.min(c).alias(f"mn_{c}") for c in on],
        *[F.max(c).alias(f"mx_{c}") for c in on],
    ).collect()[0]
    n_keys = krow["__n"]
    # NULL keys never equi-join, so a hive NULL partition on a key
    # column cannot hold a matchable row: _overlaps_bounds skips it
    bounds = {
        c: (krow[f"mn_{c}"], krow[f"mx_{c}"])
        for c in on
        if krow[f"mn_{c}"] is not None
    }
    candidates = [f for f in m["files"] if _overlaps_bounds(f, bounds)]

    # stage 2: exact touched set — semi-join candidates vs keys,
    # one output row per file. Broadcast the keys only when they are
    # actually small: the designed shape is "1 GB of updates into
    # 100 TB", but a bulk backfill (10^8+ distinct keys) would OOM a
    # forced broadcast — above the cap, drop the hint and let
    # Spark/AQE pick the join strategy (shuffle join degrades
    # gracefully; the semantics are identical)
    hint = F.broadcast if n_keys <= broadcast_key_limit else (lambda d: d)
    touched: set = set()
    if candidates:
        probe = (
            _plan_read(spark, base, m, candidates)
            .withColumn("__file", F.input_file_name())
            .join(hint(keys), list(on), "left_semi")
            .select("__file")
            .distinct()
            .collect()
        )
        touched = {_rel_from_uri(r["__file"]) for r in probe}

    partition_by = tuple(m.get("partition_by") or ())
    src_ddl = [
        (f.name, f.dataType.simpleString()) for f in source.schema.fields
    ]
    col_types = dict(src_ddl if evolve else (m.get("schema_ddl") or []))
    if touched:
        touched_entries = [f for f in m["files"] if f["path"] in touched]
        survivors = _plan_read(spark, base, m, touched_entries).join(
            hint(keys), list(on), "left_anti"
        )
        if evolve:
            # survivors (old schema) null-fill the source's added
            # columns; the rewritten files carry the full new schema
            new_data = survivors.unionByName(
                source, allowMissingColumns=True
            ).select(*source.columns)
        else:
            new_data = survivors.unionByName(
                source.select(*survivors.columns)
            )
    else:
        new_data = source
    commit_id, staged = _stage_commit(
        new_data, base, fs, jvm, partition_by, col_types,
        stats_cols=_table_stats_cols(m, partition_by),
    )
    keep = {f["path"] for f in m["files"]} - touched
    return _commit_replacing(
        spark, path, m, keep, staged, "merge", commit_id=commit_id,
        schema_sig=src_sig if evolve else None,
        schema_ddl=src_ddl if evolve else None,
        merge_schema=True if evolve else None,
    )


def _pure_partition_verdicts(
    spark, m: dict, predicate: str
) -> dict | None:
    """Per-file True/False verdict of ``predicate`` evaluated on the
    file's PARTITION VALUES alone — or None whenever the fast path
    cannot be PROVEN sound: unpartitioned table, predicate resolves
    without referencing any real column (literal/rand()-only —
    row-level semantics must hold), predicate references data
    columns, predicate is non-deterministic, a file lacks recorded
    partition values, or a stored partition value fails to cast back
    to the column's type (the verdict would silently become NULL).
    When a dict IS returned, each file's rows ALL share its partition
    values, so the verdict decides every row of the file at once."""
    from pyspark.sql import functions as F

    pby = tuple(m.get("partition_by") or ())
    if not pby:
        return None
    col_types = dict(m.get("schema_ddl") or [])
    try:
        # resolves against a decoy schema ⇒ references no real column
        spark.createDataFrame([(1,)], "`__prql_decoy` INT").select(
            F.expr(predicate)
        )
        return None
    except Exception:
        pass  # good: the predicate references actual columns
    # one verdict per DISTINCT partition tuple (≤ #files), evaluated
    # over a VALUES inline table — a LocalRelation, so the collect
    # launches ZERO jobs (createDataFrame would parallelize an RDD
    # and cost one)
    by_tuple: dict = {}
    file_tuple: list = []
    for f in m["files"]:
        pv = f.get("partition")
        if pv is None or set(pv) < set(pby):
            return None  # no recorded values: cannot prove anything
        key = tuple(pv.get(c) for c in pby)
        by_tuple.setdefault(key, len(by_tuple))
        file_tuple.append(key)
    if not by_tuple:
        return {}

    def lit(v):
        if v is None:
            return "CAST(NULL AS STRING)"
        return "'" + str(v).replace("'", "''") + "'"

    values = ",".join(
        f"({j},{','.join(lit(v) for v in key)})"
        for key, j in by_tuple.items()
    )
    names = ", ".join(f"`{c}`" for c in pby)
    casts = ", ".join(
        f"CAST(`{c}` AS {col_types.get(c, 'string')}) AS `{c}`"
        for c in pby
    )
    nulls = ", ".join(
        f"(`{c}` IS NULL) AS `__n_{c}`" for c in pby
    )
    q = (
        f"SELECT `__j`, ({predicate}) AS `__m`, {nulls} FROM ("
        f"SELECT `__j`, {casts} FROM VALUES {values} "
        f"AS t(`__j`, {names}))"
    )
    try:
        evald = spark.sql(q)
        exprs = evald._jdf.queryExecution().analyzed().expressions()
        for j in range(exprs.size()):
            if not exprs.apply(j).deterministic():
                return None  # rand()-style: each row must decide
        got = evald.collect()
    except Exception:
        return None  # references data columns / malformed: row-level
    raw_by_j = {j: key for key, j in by_tuple.items()}
    verdict_by_j: dict = {}
    for r in got:
        key = raw_by_j[r["__j"]]
        for ci, c in enumerate(pby):
            # a non-NULL stored value that casts to NULL would turn
            # the verdict into a silent "keep" — bail to row-level
            if r[f"__n_{c}"] and key[ci] is not None:
                return None
        verdict_by_j[r["__j"]] = r["__m"] is True
    return {
        i: verdict_by_j[by_tuple[key]]
        for i, key in enumerate(file_tuple)
    }


def delete_snapshot(
    spark: SparkSession, path: str, predicate: str
) -> dict:
    """Row-level DELETE from a manifest table, copy-on-write: files
    containing at least one row matching ``predicate`` (a Spark SQL
    boolean expression) are rewritten without those rows; every
    other file is referenced verbatim in the new manifest.

    **Partition fast path (transactional DROP PARTITION):** when the
    predicate provably depends ONLY on partition columns (it
    resolves against a frame holding just those columns, is
    deterministic, and every file carries cast-faithful partition
    values — :func:`_pure_partition_verdicts`), each file's verdict
    is constant across its rows, so matching files are DROPPED from
    the manifest and the rest referenced verbatim — ZERO Spark
    tasks, no data file opened, one manifest write. The 100 TB
    retention delete (``ds < '2024-01-01'``) is pure metadata.
    Anything not provable falls through to the row-level path:

    Touched discovery is two-stage, like :func:`merge_snapshot`'s:

    1. **Stats prune (no data read).** When the predicate is
       sargable (:func:`_sql_bounds`, the rule the PRQL pushdown
       shares — ``col <op> literal`` / BETWEEN / IN atoms under AND,
       and same-column ORs), its bounds are compared
       against the manifest's per-file stats and partition values —
       on a stats-covered table a delete of one key range plans
       tasks over the overlapping files only, not all of them. Files
       without stats, and non-sargable predicates, keep every file
       as a candidate (safe — the exact predicate decides below).
    2. **Exact probe (candidates only).** One filtered scan grouped
       by ``input_file_name`` (parquet row-group stats make the
       non-matching candidates cheap).

    Time travel keeps the pre-delete version readable — GDPR-style
    erasure is complete only after :func:`vacuum_snapshot` reclaims
    the old files."""
    from pyspark.sql import functions as F

    fs, jvm, base, _, _, m = _open(spark, path, "delete_snapshot")
    verdicts = _pure_partition_verdicts(spark, m, predicate)
    if verdicts is not None:
        doomed = {
            f["path"]
            for i, f in enumerate(m["files"])
            if verdicts.get(i)
        }
        if not doomed:
            return {
                "version": m["version"],
                "operation": "delete",
                "n_files_rewritten": 0,
                "n_files_kept": len(m["files"]),
                "n_files_new": 0,
                "n_candidates": 0,
                "partition_only": True,
                "noop": True,
            }
        keep = {f["path"] for f in m["files"]} - doomed
        res = _commit_replacing(spark, path, m, keep, [], "delete")
        res["n_candidates"] = 0
        res["partition_only"] = True
        return res
    bounds = _sql_bounds(predicate)
    candidates = (
        [f for f in m["files"] if _overlaps_bounds(f, bounds)]
        if bounds
        else m["files"]
    )
    touched: set = set()
    if candidates:
        probe = (
            _plan_read(spark, base, m, candidates)
            .where(predicate)
            .select(F.input_file_name().alias("__file"))
            .distinct()
            .collect()
        )
        touched = {_rel_from_uri(r["__file"]) for r in probe}
    if not touched:
        return {
            "version": m["version"],
            "operation": "delete",
            "n_files_rewritten": 0,
            "n_files_kept": len(m["files"]),
            "n_files_new": 0,
            "n_candidates": len(candidates),
            "noop": True,
        }
    partition_by = tuple(m.get("partition_by") or ())
    col_types = dict(m.get("schema_ddl") or [])
    touched_entries = [f for f in m["files"] if f["path"] in touched]
    survivors = _plan_read(spark, base, m, touched_entries).where(
        f"NOT ({predicate}) OR ({predicate}) IS NULL"
    )
    commit_id, staged = _stage_commit(
        survivors, base, fs, jvm, partition_by, col_types,
        stats_cols=_table_stats_cols(m, partition_by),
    )
    keep = {f["path"] for f in m["files"]} - touched
    res = _commit_replacing(
        spark, path, m, keep, staged, "delete", commit_id=commit_id
    )
    res["n_candidates"] = len(candidates)
    return res


def _stats_from_footer_meta(meta, cols: tuple) -> dict | None:
    """Bounded per-column [min, max] from a pyarrow FileMetaData —
    the shared core of every footer reader
    (:func:`_footer_rows_and_stats`, driver- or executor-side).
    None when any requested column lacks usable statistics."""
    out: dict = {}
    want = set(cols)
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if name not in want:
                continue
            st = c.statistics
            if st is None or not st.has_min_max:
                return None  # stats unusable for pruning this file
            lo, hi = st.min, st.max
            if name in out:
                lo = min(lo, out[name][0])
                hi = max(hi, out[name][1])
            out[name] = [lo, hi]
    if set(out) != want:
        return None
    bounded = {}
    for k, (lo, hi) in out.items():
        lo_e, hi_e = _stats_enc(lo), _stats_enc(hi)
        if lo_e is None or hi_e is None:
            return None  # tz-aware bound: stats unusable for pruning
        rng = _bound_stat(lo_e, hi_e)
        if rng is not None:
            bounded[k] = rng
    return bounded or None


def attach_stats(
    spark: SparkSession, path: str, cols: tuple, version: int | None = None
) -> dict:
    """Collect per-file [min, max] footer stats for ``cols`` on the
    given version's files and commit them as a new manifest version
    (operation ``stats``). The commit always REBASES onto the
    current head: its file list is the head's file list (stats
    merged in by path), so `snapshot_changes` crosses it safely,
    time travel still reads identical content, and a commit that
    raced in between is never rolled back — its files stay in the
    table (they just carry no stats until re-attached).

    Stats power :func:`snapshot_scan`'s driver-side file skipping.
    Collection is footer-only (no data pages); local-filesystem
    paths are read directly via pyarrow — on remote stores use
    ``snapshot_write(stats_cols=...)`` instead, which collects exact
    stats executor-side at write time on any filesystem. Combine
    with the z-order writer: clustered layout → tight per-file
    ranges → most files skip.
    """
    fs, jvm, base, _, _, m = _open(spark, path, "attach_stats", version)
    uri = _hpath(jvm)(base).toUri()
    scheme = uri.getScheme()
    if scheme not in (None, "file"):
        raise ValueError(
            f"attach_stats: footer reads need a local path, got "
            f"scheme {scheme!r} — collect stats from a staging copy"
        )
    local_base = uri.getPath()
    stats_by_path: dict[str, dict] = {}
    nrows_by_path: dict[str, int] = {}
    for f in m["files"]:
        n_rows, st = _footer_rows_and_stats(
            f"{local_base}/{f['path']}", tuple(cols)
        )
        if st:
            stats_by_path[f["path"]] = st
        if n_rows is not None:
            nrows_by_path[f["path"]] = n_rows
    # Publish on top of the CURRENT head, never on version v's file
    # list: a concurrent commit (or an explicit older ``version=``)
    # means v's list is stale, and re-publishing it would silently
    # drop the newer commit's files from the table head (an
    # unintended rollback). Stats are keyed by file path, so they
    # attach to whatever subset of v's files the head still
    # references; files the head added since v simply carry no
    # stats (scans read them — safe).
    def build(head, hm):
        files = []
        for f in hm["files"]:
            nf = dict(f)
            st = stats_by_path.get(f["path"])
            if st is not None:
                nf["stats"] = {**nf.get("stats", {}), **st}
            nr = nrows_by_path.get(f["path"])
            if nr is not None:
                nf["n_rows"] = nr
            files.append(nf)
        return {**hm, "files": files, "operation": "stats"}

    out = _publish(fs, jvm, base, "attach_stats", build)
    return {
        "version": out["version"],
        "files_with_stats": sum(
            f["path"] in stats_by_path for f in out["files"]
        ),
        "n_files": len(out["files"]),
    }


def snapshot_scan(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Read ``col BETWEEN lo AND hi`` (either bound optional) off a
    manifest table, SKIPPING every file whose manifest [min, max]
    range cannot overlap — the driver never opens skipped files'
    footers, let alone their data. Files without stats are always
    read (safe), and the real predicate is still applied, so the
    result is exact regardless of stats coverage.

    This is the scan-side 100 TB lever for snapshot tables: after a
    z-ordered (or sorted) write + :func:`attach_stats`, a selective
    range predicate plans in O(#files-matching) instead of scanning
    the table — the same file-skipping contract Iceberg/Delta get
    from their manifest stats.
    """
    from pyspark.sql import functions as F

    if lo is None and hi is None:
        raise ValueError("snapshot_scan: need lo and/or hi")
    df, _, _ = snapshot_pruned_read(spark, path, {col: (lo, hi)}, version)
    c = F.col(col)
    if lo is not None:
        df = df.where(c >= F.lit(lo))
    if hi is not None:
        df = df.where(c <= F.lit(hi))
    return df


def snapshot_pruned_read(
    spark: SparkSession,
    path: str,
    bounds: dict,
    version: int | None = None,
):
    """File-skipping read for PREDICATE PUSHDOWN callers (the PRQL
    catalog): keep only files whose manifest [min, max] ranges can
    overlap EVERY bound in ``bounds`` — ``{col: (lo, hi)}`` or
    ``{col: [(lo, hi), ...]}`` (a UNION of intervals, e.g. the
    multi-partition ``ds == a or ds == b`` query; a file survives a
    column's bound when it overlaps ANY of its intervals). Unlike :func:`snapshot_scan` the predicate
    is NOT applied here — the caller re-applies its exact original
    filter on top, so pruning only has to be CONSERVATIVE: files
    lacking stats for a bounded column are kept, and any comparison
    that fails (type mismatch between a literal and the stored
    stats) keeps the file. Returns ``(df, n_kept, n_total)`` so the
    caller can decide whether pruning was worth re-planning."""
    _, _, base, _, v, m = _open(spark, path, "snapshot_pruned_read", version)
    keep = [f for f in m["files"] if _overlaps_bounds(f, bounds)]
    n_total = len(m["files"])
    if not keep:
        return snapshot_read(spark, path, v).limit(0), 0, n_total
    return _plan_read(spark, base, m, keep), len(keep), n_total


def snapshot_restore(
    spark: SparkSession, path: str, version: int
) -> dict:
    """Roll the table back: commit ``version``'s exact file list as
    the NEW latest version (operation ``restore``). Nothing is
    copied or deleted — one manifest write undoes a bad commit, and
    the bad version stays inspectable until vacuumed. The
    manifest-table answer to "the 3 am backfill wrote garbage"."""
    fs, jvm, base, _, _, m = _open(spark, path, "snapshot_restore", version)
    # restore rolls back DATA, never the exactly-once ledger:
    # _publish merges the head's per-stream high-water map forward
    # (max per stream), else a replayed epoch would re-append
    # post-restore
    out = _publish(
        fs, jvm, base, "snapshot_restore",
        lambda head, hm: {
            **m, "operation": "restore", "restored_from": version
        },
    )
    return {
        "version": out["version"],
        "restored_from": version,
        "n_files": len(m["files"]),
    }


def snapshot_describe(
    spark: SparkSession, path: str, version: int | None = None
) -> dict:
    """Metadata-only table summary (the DESCRIBE EXTENDED of
    manifest tables — one JSON read, zero Spark jobs): version,
    operation, schema, partitioning, file/byte/row totals, the
    per-stream exactly-once high-water map, and per-column STATS
    COVERAGE — how many files carry [min, max] for each column plus
    the global bounds — so an operator can see at a glance whether a
    predicate on a column will actually skip files before relying on
    it at 100 TB."""
    _, _, _, seen, v, m = _open(spark, path, "snapshot_describe", version)
    counts = [f.get("n_rows") for f in m["files"]]
    cov: dict = {}
    for f in m["files"]:
        for c, (lo, hi) in (f.get("stats") or {}).items():
            slot = cov.setdefault(
                c, {"files_with_stats": 0, "min": lo, "max": hi}
            )
            slot["files_with_stats"] += 1
            try:
                if lo < slot["min"]:
                    slot["min"] = lo
                if hi > slot["max"]:
                    slot["max"] = hi
            except TypeError:
                pass  # mixed types across files: keep first-seen bounds
    return {
        "version": v,
        "versions_retained": seen,
        "operation": m.get("operation"),
        "parent": m.get("parent"),
        "schema": [list(p) for p in (m.get("schema_ddl") or [])],
        "partition_by": list(m.get("partition_by") or ()),
        "merge_schema": bool(m.get("merge_schema")),
        "n_files": len(m["files"]),
        "total_bytes": sum(f["bytes"] for f in m["files"]),
        "n_rows": sum(counts)
        if counts and all(c is not None for c in counts)
        else None,
        "streams": dict(m.get("streams") or {}),
        "stats_coverage": cov,
    }


def validate_snapshot(spark: SparkSession, path: str) -> dict:
    """Integrity check (fsck) for a manifest table: every file the
    LATEST manifest references must exist with its recorded size,
    the version chain must be gapless back to the oldest retained
    manifest, and every parent pointer must match. Returns a report
    dict with ``ok`` plus the specific violations — run it before
    trusting a table handed over from another system, after a
    manual copy/restore, or on a vacuum schedule. Driver-side
    metadata only; no Spark job."""
    fs, jvm = _fs(spark, path)
    base = path.rstrip("/")
    Path = _hpath(jvm)
    seen = _versions(fs, jvm, base)
    report: dict = {
        "ok": True,
        "versions": seen,
        "missing_files": [],
        "size_mismatches": [],
        "version_gaps": [],
        "bad_parents": [],
    }
    if not seen:
        report["ok"] = False
        report["version_gaps"] = ["no versions"]
        return report
    for a, b in zip(seen, seen[1:]):
        if b != a + 1:
            report["version_gaps"].append(f"{a} -> {b}")
    prev = None
    for v in seen:
        m = _load_manifest(fs, jvm, base, v)
        if prev is not None and m.get("parent") not in (prev, None):
            # a parent pointing below the retained range is fine
            # only when that version was vacuumed away
            if m.get("parent") > prev:
                report["bad_parents"].append(
                    f"v{v} parent {m.get('parent')} != {prev}"
                )
        prev = v
    latest = _load_manifest(fs, jvm, base, seen[-1])
    for f in latest["files"]:
        p = Path(f"{base}/{f['path']}")
        if not fs.exists(p):
            report["missing_files"].append(f["path"])
        elif fs.getFileStatus(p).getLen() != f["bytes"]:
            report["size_mismatches"].append(f["path"])
    report["ok"] = not (
        report["missing_files"]
        or report["size_mismatches"]
        or report["version_gaps"]
        or report["bad_parents"]
    )
    return report
