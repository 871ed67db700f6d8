"""Source/sink helpers (SURVEY §2 #24).

Readers return lazy scans so Catalyst pushes filters/projections into
the source. Writers expose partitionBy (directory pruning for
predicate-aligned reads); the bucketed writer, whose pre-shuffled
layout lets later joins/aggs on the bucket key skip their exchange,
is ``sources/bucketing.write_bucketed``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    infer_schema: bool = True,
    schema=None,
    **options,
) -> DataFrame:
    r = spark.read.options(header=header, **options)
    if schema is not None:
        r = r.schema(schema)  # explicit schema: no inference scan
    elif infer_schema:
        r = r.option("inferSchema", True)
    return r.csv(path)


def read_json(
    spark: SparkSession, path: str, schema=None, **options
) -> DataFrame:
    """JSON / JSONL reader (Spark's json source is line-delimited by
    default; pass multiLine=True for document-per-file)."""
    r = spark.read.options(**options)
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "zstd",
):
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    partition_by: list[str] | None = None,
):
    w = df.write.mode(mode).option("header", header)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.csv(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (vectorized + filter pushdown, like parquet)."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "zstd",
):
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str | None = None,
):
    """JSONL sink (Spark's json source IS line-delimited) — the
    interchange format training pipelines consume. Optional zstd/gzip
    per-file compression."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-file ingestion for multimodal corpora: Spark's built-in
    ``binaryFile`` source yields (path, modificationTime, length,
    content binary) — the schema
    :mod:`prql_spark.operators.multimodal` consumes. Files are read
    ON THE EXECUTORS (the driver only lists paths), so a 100 TB image
    dump parallelizes by file; ``glob`` filters server-side via
    pathGlobFilter (never listed, never opened) and ``max_bytes``
    prunes oversized payloads by the LENGTH metadata column — before
    any content is read when the source can push it down.
    """
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    df = r.load(path)
    if max_bytes is not None:
        df = df.where(f"length <= {int(max_bytes)}")
    return df


def read_text_files(
    spark: SparkSession,
    path: str,
    whole_file: bool = False,
    line_sep: str | None = None,
) -> DataFrame:
    """Raw-text ingestion: one row per line (default) or per file
    (``whole_file`` — document-per-file corpora). Adds ``doc_path``
    via the metadata column so downstream ops get a stable doc key
    without a second listing."""
    from pyspark.sql import functions as F

    r = spark.read
    if line_sep:
        r = r.option("lineSep", line_sep)
    df = r.text(path, wholetext=whole_file)
    return df.select(
        F.col("_metadata.file_path").alias("doc_path"),
        F.col("value").alias("text"),
    )


WARC_SCHEMA = (
    "file_path string, record_offset long, warc_type string, "
    "target_uri string, warc_date string, content_type string, "
    "payload binary"
)


def _split_warc_records(blob: bytes):
    """Yield (offset, header_dict, payload_bytes) per WARC record.

    Parses the WARC/1.0|1.1 framing: header block terminated by
    CRLFCRLF, payload of Content-Length bytes, records separated by
    two CRLFs. Tolerates bare-LF writers. Malformed tails stop the
    scan (partial records are dropped, never mis-sliced)."""
    pos, n = 0, len(blob)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and blob[pos : pos + 2] in (b"\r\n", b"\n\n"):
            pos += 2 if blob[pos : pos + 2] == b"\r\n" else 1
        while pos < n and blob[pos : pos + 1] == b"\n":
            pos += 1
        if not blob[pos : pos + 5] == b"WARC/":
            return
        hdr_end = blob.find(b"\r\n\r\n", pos)
        sep = 4
        lf_end = blob.find(b"\n\n", pos)
        if hdr_end < 0 or (0 <= lf_end < hdr_end):
            hdr_end, sep = lf_end, 2
        if hdr_end < 0:
            return
        headers = {}
        for line in blob[pos:hdr_end].split(b"\n")[1:]:
            line = line.strip(b"\r")
            if b":" in line:
                k, _, v = line.partition(b":")
                headers[k.strip().lower().decode("latin-1")] = (
                    v.strip().decode("latin-1", "replace")
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        body_start = hdr_end + sep
        if body_start + length > n:
            return
        yield pos, headers, blob[body_start : body_start + length]
        pos = body_start + length


def read_warc(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    record_types: tuple[str, ...] = ("response", "conversion"),
) -> DataFrame:
    """WARC ingestion — the web-crawl interchange format every
    large-scale text corpus starts from (Common Crawl ships WARC/WET;
    WET files are WARC framing with ``conversion`` records).

    Files are read on the EXECUTORS via the ``binaryFile`` source
    (one task per file — exactly how WARC shards parallelize: they
    are not splittable mid-record), whole-file gzip members are
    inflated with the stdlib (record-level gzip concatenation, the
    Common Crawl layout, decodes the same way — gzip members
    concatenate), and the record framing is parsed in an
    Arrow-batched mapInPandas. One output row per record of a kept
    ``record_type``; ``payload`` stays raw bytes for the caller's
    decode step (html→text, charset detection).
    """
    files = read_binary_files(spark, path, glob=glob)
    return files.select("path", "content").mapInPandas(
        _warc_parser(record_types), WARC_SCHEMA
    )


def _warc_parser(record_types: tuple[str, ...]):
    """The shard → records Arrow-batch parser shared by the batch and
    streaming WARC readers (identical framing, gzip, and
    truncated-shard semantics by construction)."""
    import gzip

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in (
                "file_path", "record_offset", "warc_type", "target_uri",
                "warc_date", "content_type", "payload",
            )}
            for fp, blob in zip(pdf["path"], pdf["content"]):
                data = bytes(blob)
                if data[:2] == b"\x1f\x8b":
                    try:
                        data = gzip.decompress(data)
                    except (OSError, EOFError):
                        # EOFError: truncated gzip stream (not an
                        # OSError subclass) — skip the shard like the
                        # truncated plain-WARC case
                        continue
                for off, hdr, payload in _split_warc_records(data):
                    wtype = hdr.get("warc-type", "")
                    if record_types and wtype not in record_types:
                        continue
                    rows["file_path"].append(fp)
                    rows["record_offset"].append(off)
                    rows["warc_type"].append(wtype)
                    rows["target_uri"].append(
                        hdr.get("warc-target-uri")
                    )
                    rows["warc_date"].append(hdr.get("warc-date"))
                    rows["content_type"].append(hdr.get("content-type"))
                    rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    return parse


def read_warc_stream(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    record_types: tuple[str, ...] = ("response", "conversion"),
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Streaming twin of :func:`read_warc`: a ``binaryFile`` file
    stream over a crawl landing directory — each micro-batch picks up
    at most ``max_files_per_trigger`` newly-landed shards (bounded
    per-trigger work at any backlog), runs the SAME Arrow-batched
    record parser, and emits the same record schema. Compose with
    :func:`warc_to_documents` (pure column expressions — streams
    unchanged) and the keyed manifest-table sink
    (:func:`prql_spark.streaming.pipeline.stream_merge_snapshot`)
    for the continuous crawl → corpus-lake loop; doc_id =
    file#offset keys make replayed batches idempotent."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType([
        StructField("path", StringType()),
        StructField("modificationTime", TimestampType()),
        StructField("length", LongType()),
        StructField("content", BinaryType()),
    ])
    r = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if glob:
        r = r.option("pathGlobFilter", glob)
    files = r.load(path)
    return files.select("path", "content").mapInPandas(
        _warc_parser(record_types), WARC_SCHEMA
    )


def warc_to_documents(warc: DataFrame) -> DataFrame:
    """Bridge parsed WARC records into the ``documents`` shape:
    (doc_id, url, text). JVM-side only — charset-aware decode
    (Content-Type's declared charset picks the decoder for the
    common legacy encodings, utf-8 with replacement otherwise) and,
    for ``response`` records whose payload is a full HTTP message,
    the header block stripped at the first blank line. doc_id =
    file_path#offset, the standard stable WARC record key. Feed the
    result to strip_boilerplate / quality_score / dedup — i.e.
    ``prepare_training_corpus`` starts from here on a raw crawl."""
    from pyspark.sql import functions as F

    # per-row charset dispatch: decode() needs a literal charset, so
    # the declared ones branch in a CASE (latin-1 / windows-1252
    # cover the bulk of non-utf-8 web text; everything else falls to
    # utf-8 with U+FFFD replacement)
    ct = "lower(coalesce(content_type, ''))"
    dec = (
        f"CASE WHEN {ct} LIKE '%charset=iso-8859-1%' "
        f"THEN decode(payload, 'ISO-8859-1') "
        f"WHEN {ct} LIKE '%charset=windows-1252%' "
        f"THEN decode(payload, 'WINDOWS-1252') "
        f"WHEN {ct} LIKE '%charset=us-ascii%' "
        f"THEN decode(payload, 'US-ASCII') "
        f"ELSE decode(payload, 'UTF-8') END"
    )
    return (
        warc.withColumn("__t", F.expr(dec))
        .withColumn(
            "__p",
            F.expr(
                "CASE WHEN warc_type = 'response' AND __t LIKE 'HTTP/%' "
                "THEN locate('\\r\\n\\r\\n', __t) ELSE 0 END"
            ),
        )
        # bare-LF fallback: an HTTP message with \n-only line endings
        # is tolerated by the record parser, so the header strip must
        # tolerate it too (otherwise headers pollute `text`)
        .withColumn(
            "__q",
            F.expr(
                "CASE WHEN warc_type = 'response' AND __t LIKE 'HTTP/%' "
                "AND __p = 0 THEN locate('\\n\\n', __t) ELSE 0 END"
            ),
        )
        .select(
            F.expr("concat(file_path, '#', record_offset)").alias("doc_id"),
            F.col("target_uri").alias("url"),
            F.expr(
                "CASE WHEN __p > 0 THEN substring(__t, __p + 4) "
                "WHEN __q > 0 THEN substring(__t, __q + 2) "
                "ELSE __t END"
            ).alias("text"),
        )
    )
