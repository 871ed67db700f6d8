"""Table catalog: name → lazily-planned Spark DataFrame.

Scale posture: tables resolve to format readers (parquet by default)
so Catalyst sees the scan directly — filters/projections push down to
the file source. Tiny fixed-cardinality dims (region: 5 rows,
nation: 25) are marked for broadcast so joins against them never
shuffle the fact side.

Relation cache: ``Catalog.load`` resolves each file table once per
session. The resolved DataFrame (after ``_fix_nanos``) sits in a
process-wide cache shared by every ``Catalog``, and a hit returns that
same object: no Spark resolution, no job. The key is

- the owning SparkSession, so another session (``newSession()``, or a
  new one after ``stop()``) never gets this session's frame;
- the absolute path, the format and the reader options;
- name, size, ``st_mtime_ns``, ``st_ctime_ns`` and inode of every file
  under the path (directory datasets are walked, hidden files
  included);
- the session conf values that change inference (``_INFERENCE_CONFS``).

Rewriting, adding, removing or renaming a file, or flipping one of
those confs, therefore changes the key, and the next load resolves
again; a stale entry is never read. The cache holds at most
``_RELATION_CACHE_MAX`` entries and evicts the least recently used.

A miss on a single parquet file read with no reader options takes its
schema from the file footer on the driver, through Spark's own footer
reader and type conversion (``ParquetFileFormat.readSchema``, the code
Spark's inference job runs on an executor), and passes it to the reader
with ``.schema(...)``: the first load starts no job either. Directories,
csv/json, reader options, an empty footer result and any error take
Spark's inferring read.

Two loads of one table in one plan share expression ids; Spark's
analyzer re-instances the second side of such a self-join, and every
join the compiler builds refers to columns by name. Manifest-committed
tables and registered frames bypass the cache: manifest reads are
planned from the schema the manifest records.
"""

from __future__ import annotations

import json
import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Dims that stay tiny at ANY scale factor (fixed cardinality in the
# TPC-H-ish generator) — always broadcast-joinable. customer/part/
# supplier GROW with SF, so they are left to AQE + the
# autoBroadcastJoinThreshold rather than force-broadcast.
ALWAYS_BROADCAST = frozenset({"region", "nation"})

# session confs whose value changes the schema Spark infers for a file
# source: nanos-as-long, binary-as-string, INT96, NTZ and UNKNOWN-type
# mapping for parquet; the inferred timestamp type for csv/json
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.timestampType",
)
_RELATION_CACHE_MAX = 512
_relations: OrderedDict = OrderedDict()
_relations_lock = threading.Lock()


def _cache_get(key):
    with _relations_lock:
        value = _relations.get(key)
        if value is not None:
            _relations.move_to_end(key)
        return value


def _cache_put(key, value) -> None:
    with _relations_lock:
        _relations[key] = value
        _relations.move_to_end(key)
        while len(_relations) > _RELATION_CACHE_MAX:
            _relations.popitem(last=False)


def _file_signature(path: str) -> tuple:
    """(relative name, size, mtime_ns, ctime_ns, inode) of every file
    under ``path`` (``path`` itself when it is a file), sorted."""
    def sig(full, rel):
        st = os.stat(full)
        return (rel, st.st_size, st.st_mtime_ns, st.st_ctime_ns, st.st_ino)

    if not os.path.isdir(path):
        return (sig(path, ""),)
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            out.append(sig(full, os.path.relpath(full, path)))
    return tuple(sorted(out))


def _footer_schema(spark, path: str):
    """The schema Spark infers for the one parquet file ``path``, read
    from its footer on the driver with Spark's own footer reader and
    type conversion (the code of the inference job, without the job);
    None when the footer yields no schema."""
    jvm = spark._jvm
    jspark = spark._jsparkSession
    conf = jspark.sessionState().newHadoopConf()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    status = jpath.getFileSystem(conf).getFileStatus(jpath)
    fmt = getattr(
        getattr(jvm.org.apache.spark.sql.execution.datasources.parquet,
                "ParquetFileFormat$"),
        "MODULE$",
    )
    footers = fmt.readParquetFootersInParallel(
        conf,
        jvm.org.apache.spark.api.python.PythonUtils.toSeq(
            jvm.java.util.Collections.singletonList(status)),
        False,
    )
    schema = fmt.readSchema(footers, jspark)
    if schema.isEmpty():
        return None
    return StructType.fromJson(json.loads(schema.get().json()))


def _relation_key(spark, path: str, fmt: str, options: dict) -> tuple:
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    return (
        spark,
        os.path.abspath(path),
        fmt,
        tuple(sorted(options.items())),
        confs,
        _file_signature(path),
    )


class Catalog:
    def __init__(
        self,
        spark: SparkSession,
        data_dir: str | None = None,
        fmt: str = "parquet",
        broadcast: frozenset = ALWAYS_BROADCAST,
        options: dict | None = None,
    ):
        self.spark = spark
        # the events table carries TIMESTAMP(NANOS) parquet columns,
        # which Spark rejects unless read as int64 nanos (converted
        # back in _fix_nanos). Set here so ANY session — including a
        # driver-provided one — can read the test tables.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        self.data_dir = data_dir
        self.fmt = fmt
        if options is None:
            # csv needs these to be usable as a relational source
            options = (
                {"header": "true", "inferSchema": "true"}
                if fmt == "csv"
                else {}
            )
        self.options = options
        self.broadcast_names = set(broadcast)
        self._registered: dict[str, DataFrame] = {}
        # manifest tables seen by load() — the PRQL compiler asks for
        # these to route sargable filters through file-skipping reads
        self._manifest_paths: dict[str, str] = {}

    def register(self, name: str, df: DataFrame, broadcast: bool = False):
        self._registered[name] = df
        if broadcast:
            self.broadcast_names.add(name)

    def load(self, name: str, version: int | None = None) -> DataFrame:
        if name in self._registered:
            if version is not None:
                raise ValueError(
                    f"table {name!r}: version= only applies to "
                    "manifest-committed tables, not registered frames"
                )
            return self._registered[name]
        if self.data_dir is None:
            raise KeyError(f"table {name!r} not registered and no data_dir set")
        path = os.path.join(self.data_dir, f"{name}.{self.fmt}")
        if not os.path.exists(path):
            # allow directory-style datasets (partitioned writes) and
            # manifest-committed versioned tables (PRQL `from tbl`
            # reads the latest committed version; Python callers pass
            # version= for time travel)
            alt = os.path.join(self.data_dir, name)
            if os.path.isdir(os.path.join(alt, "_manifests")):
                from prql_spark.sources.manifest import snapshot_read

                self._manifest_paths[name] = alt
                return snapshot_read(self.spark, alt, version)
            if os.path.exists(alt):
                path = alt
            else:
                raise KeyError(f"table {name!r}: no file at {path}")
        if version is not None:
            raise ValueError(
                f"table {name!r}: version= only applies to "
                "manifest-committed tables"
            )
        key = _relation_key(self.spark, path, self.fmt, self.options)
        df = _cache_get(key)
        if df is None:
            df = self._resolve(path)
            _cache_put(key, df)
        return df

    def _resolve(self, path: str) -> DataFrame:
        """The format reader over ``path``: with the footer schema for
        a single parquet file and no reader options, else (or when
        that fails) Spark's inferring read (see the module
        docstring)."""
        def reader():
            return self.spark.read.format(self.fmt).options(**self.options)

        df = None
        if self.fmt == "parquet" and not self.options and os.path.isfile(path):
            try:
                schema = _footer_schema(self.spark, path)
                if schema is not None:
                    df = reader().schema(schema).load(path)
            except Exception:
                # an unreadable footer or a changed Spark internal:
                # the inferring read below decides, and raises its
                # own error if the file cannot be read at all
                pass
        if df is None:
            df = reader().load(path)
        if self.fmt == "parquet":
            df = self._fix_nanos(df, path)
        return df

    def _fix_nanos(self, df: DataFrame, path: str):
        """Spark rejects parquet TIMESTAMP(NANOS); with
        ``spark.sql.legacy.parquet.nanosAsLong`` they surface as int64
        nanos — convert those columns back to real timestamps (footer
        inspection is driver-side metadata only, no data read)."""
        try:
            import pyarrow.parquet as pq

            if os.path.isdir(path):
                files = [
                    os.path.join(path, f)
                    for f in os.listdir(path)
                    if f.endswith(".parquet")
                ]
                if not files:
                    return df
                schema = pq.read_schema(files[0])
            else:
                schema = pq.read_schema(path)
        except Exception:
            return df
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        for field in schema:
            if str(field.type) != "timestamp[ns]":
                continue
            # Spark-written INT96 timestamps also read as
            # timestamp[ns] in pyarrow but load as real TIMESTAMPs in
            # Spark — only convert when Spark actually surfaced int64
            # nanos (the nanosAsLong case).
            spark_field = next(
                (f for f in df.schema.fields if f.name == field.name), None
            )
            if spark_field is None or not isinstance(
                spark_field.dataType, LongType
            ):
                continue
            # integer DIV, not float division: double's 53-bit
            # mantissa loses sub-microsecond exactness for epoch-range
            # nanos, giving occasional off-by-1µs vs an exact reader
            df = df.withColumn(
                field.name,
                F.expr(
                    f"timestamp_micros(CAST(`{field.name}` DIV 1000 "
                    f"AS LONG))"
                ),
            )
        return df

    def is_broadcast(self, name: str) -> bool:
        return name in self.broadcast_names

    def load_pruned(self, name: str, predicate: str):
        """Manifest-table FILE-SKIPPING load for predicate pushdown:
        re-plan ``name``'s latest version keeping only files whose
        manifest [min, max] stats can overlap the bounds
        ``manifest._sql_bounds`` reads from the Spark SQL
        ``predicate``. Returns the pruned DataFrame, or None when
        ``name`` is not a manifest table or nothing was actually
        pruned (caller keeps its original plan). The caller MUST
        still apply its exact predicate — pruning is conservative,
        not exact."""
        path = self._manifest_paths.get(name)
        if path is None:
            return None
        from prql_spark.sources.manifest import (
            _sql_bounds,
            snapshot_pruned_read,
        )

        bounds = _sql_bounds(predicate)
        if not bounds:
            return None
        df, n_kept, n_total = snapshot_pruned_read(
            self.spark, path, bounds
        )
        return df if n_kept < n_total else None

    def metadata_count(self, name: str) -> int | None:
        """Row count of a manifest table's latest version for the
        PRQL count fast path, or None when ``name`` isn't a manifest
        table. Answered from the manifest alone (ZERO Spark tasks)
        when every file carries a write-time/footer row count;
        otherwise snapshot_count falls back to one real count() job
        — same result either way, so the compiler may always route
        through here."""
        path = self._manifest_paths.get(name)
        if path is None:
            return None
        from prql_spark.sources.manifest import snapshot_count

        return snapshot_count(self.spark, path)
