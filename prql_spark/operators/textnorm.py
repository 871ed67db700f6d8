"""Crawl-text normalization and large-blocklist URL filtering.

Two pre-dedup pipeline stages the text family did not yet cover:

* :func:`normalize_text` — the cleanup pass every crawl pipeline
  runs BEFORE any hashing or filtering (C4 normalizes before its
  dedup rule; ftfy repairs mojibake first, since ``â€™`` and the
  real apostrophe must dedup together). JVM-expressible subset:
  mojibake repair, typography folding, zero-width/control strip,
  whitespace tidy.
* :func:`url_blocklist` — blocklist matching against a REAL-sized
  domain table (100k-1M rows, e.g. C4's badwords list), the
  broadcast-join sibling of ``url_features``'s inline
  ``block_domains`` constants.

Both emit their logic from shared tables so the Spark plan and the
DuckDB oracle replay the IDENTICAL chain (see ``_normalize_expr``).
Reference parity: the reference compiler has no text operators —
this family is the brief's training-data-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from prql_spark.operators.text import URL_HOST_RE, _esc
from prql_spark.plans.physical import materialize

# UTF-8 bytes decoded as cp1252/latin-1 (the classic double-encoding
# mojibake). Ordered LONGEST/most-specific FIRST: the three-byte
# punctuation sequences share the "â€" prefix and the
# two-byte accents share "Ã", so a shorter rule firing first
# would corrupt the longer sequence. Curated top sequences — the
# full ftfy state machine is not JVM-expressible; this covers the
# bulk of real crawl mojibake (quotes/dashes + Western accents).
MOJIBAKE_PAIRS: tuple[tuple[str, str], ...] = (
    ("â€™", "'"),  # right single quote
    ("â€˜", "'"),  # left single quote
    ("â€œ", '"'),  # left double quote
    ("â€", '"'),  # right double quote
    ("â€“", "-"),  # en dash
    ("â€”", "-"),  # em dash
    ("â€¦", "..."),  # ellipsis
    ("Ã©", "é"),  # é
    ("Ã¨", "è"),  # è
    ("Ã¡", "á"),  # á
    ("Ã¤", "ä"),  # ä
    ("Ã¶", "ö"),  # ö
    ("Ã¼", "ü"),  # ü
    ("Ã±", "ñ"),  # ñ
    ("Ã§", "ç"),  # ç
)

# single-char typography -> ASCII in ONE translate() pass (both
# engines ship translate with identical 1:1 semantics): curly
# quotes, dashes, NBSP/narrow-NBSP/thin-space -> plain equivalents
_PUNCT_FROM = (
    "\u2018\u2019\u201a\u201c\u201d\u201e"  # curly quotes
    "\u2013\u2014\u2012\u2015"  # en/em/figure/horizontal-bar dashes
    "\u00a0\u202f\u2009"  # NBSP, narrow NBSP, thin space
)
_PUNCT_TO = "'''\"\"\"----   "

# zero-width + BOM + C0/C1 controls (keep \t and \n; \r folds to \n
# first so Windows endings normalize instead of vanishing)
_STRIP_RE = (
    # written with \x{..} escapes (valid in BOTH Java regex and
    # RE2), never literal control chars: a raw NUL inside a SQL
    # string literal breaks both parsers
    "[\\x{200b}\\x{200c}\\x{200d}\\x{feff}"  # zero-widths + BOM
    "\\x{00}-\\x{08}\\x{0b}\\x{0c}\\x{0e}-\\x{1f}\\x{7f}"  # C0 + DEL
    "\\x{80}-\\x{9f}]"  # C1: latin-1 debris the mojibake pass left
)


def _q(s: str, dialect: str) -> str:
    """Dialect-correct string literal: DuckDB follows the SQL
    standard (backslash is literal, \'\' doubles a quote); Spark\'s
    parser treats backslash as an escape (compiler._esc_str). The
    normalization tables contain quotes, so the shared-emitter
    design only holds with per-dialect quoting."""
    if dialect == "duckdb":
        # standard literal: backslash passes through verbatim —
        # exactly what the \\x{..} regex classes want
        return "'" + s.replace("'", "''") + "'"
    return _esc(s)


def _normalize_expr(col: str, dialect: str) -> str:
    """The normalization chain as a SQL expression string — ONE
    code path emits both the Spark plan fragment and the DuckDB
    oracle, so the two can never drift. Order matters: mojibake
    repair first (its outputs feed the typography pass), then CRLF
    fold, the translate pass, control strip, then whitespace tidy
    (horizontal runs -> one space; 3+ newlines -> 2; trim)."""
    def q(s: str) -> str:
        return _q(s, dialect)

    e = col
    for find, repl in MOJIBAKE_PAIRS:
        e = f"replace({e}, {q(find)}, {q(repl)})"
    e = f"replace({e}, {q(chr(13) + chr(10))}, {q(chr(10))})"
    e = f"replace({e}, {q(chr(13))}, {q(chr(10))})"
    e = f"translate({e}, {q(_PUNCT_FROM)}, {q(_PUNCT_TO)})"
    g = ", 'g'" if dialect == "duckdb" else ""
    e = f"regexp_replace({e}, {q(_STRIP_RE)}, ''{g})"
    e = f"regexp_replace({e}, {q('[ ' + chr(9) + ']{2,}')}, ' '{g})"
    nl = chr(10)
    e = (
        f"regexp_replace({e}, {q(nl + '{3,}')}, "
        f"{q(nl + nl)}{g})"
    )
    return f"trim({e})"


def normalize_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalize crawl text in place: repair common
    UTF-8-as-cp1252 mojibake, fold typographic quotes/dashes/spaces
    to ASCII, normalize line endings, strip zero-width + control
    characters, collapse horizontal whitespace runs, bound
    blank-line runs at one, trim. Adds ``text_was_dirty`` (anything
    changed) and REPLACES ``text_col`` so downstream operators
    compose unchanged.

    Entirely JVM-side (replace/translate/regexp_replace — one
    narrow map inside whole-stage codegen, no shuffle, no Python):
    at 100 TB this runs at scan speed and is free next to the dedup
    exchanges that follow it. The identical chain is emitted for
    the DuckDB oracle by the shared :func:`_normalize_expr`, so
    every rule is value-verified, not pattern-tested.
    """
    clean = _normalize_expr(text_col, "spark")
    return df.withColumn("__clean", F.expr(clean)).select(
        *[c for c in df.columns if c != text_col],
        F.col("__clean").alias(text_col),
        # coalesce: NULL input text must flag False, not NULL — a
        # downstream boolean filter on the flag would silently drop
        # NULL-text rows otherwise
        F.coalesce(
            F.col("__clean") != F.col(text_col), F.lit(False)
        ).alias("text_was_dirty"),
    )


def url_blocklist(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    max_labels: int = 6,
    validate: bool = True,
) -> DataFrame:
    """Blocklist URL filtering at corpus scale — the big-list
    sibling of ``url_features``'s ``block_domains`` (which inlines
    a handful of domains as plan constants; real pipelines carry
    100k-1M domains in a table). A URL is blocked when its host
    EQUALS a blocklist ``domain`` or is a SUBDOMAIN of one. Adds
    ``url_host``, ``blocked_domain`` (the most-specific matching
    entry, NULL when clean) and ``url_blocked``.

    Scale design — the corpus NEVER shuffles: the host's suffix
    chain (``a.b.example.com`` -> ``b.example.com`` ->
    ``example.com``) is materialized as ``max_labels - 1``
    candidate columns (2..``max_labels`` labels), and each joins
    the broadcast blocklist with a plain equality — K broadcast
    hash joins against ONE reused broadcast relation, all map-side:
    no explode, no regroup. The alternative shapes are all worse at
    100 TB: explode + groupBy re-shuffles the corpus on doc id;
    ``array_contains`` in the join condition degenerates to a
    BroadcastNestedLoopJoin (corpus x blocklist comparisons per
    partition).

    ``validate=True`` runs one bounded aggregate on the (small)
    blocklist and raises if any entry has fewer than 2 or more than
    ``max_labels`` labels — entries outside the candidate range
    would silently never match.
    """
    if validate:
        bad = blocklist.selectExpr(
            "size(split(domain, '[.]')) AS n"
        ).where(f"n < 2 OR n > {max_labels}").count()
        if bad:
            raise ValueError(
                f"url_blocklist: {bad} blocklist entries have < 2 or > "
                f"{max_labels} labels; raise max_labels or fix the list"
            )
    host = f"lower(regexp_extract({url_col}, '{URL_HOST_RE}', 2))"
    out = df.withColumn("url_host", F.expr(host)).withColumn(
        "__hl", F.expr("split(url_host, '[.]')")
    )
    # distinct is load-bearing (a duplicated blocklist entry would
    # duplicate corpus rows through the left joins); materialize the
    # deduped list ONCE — the five per-join broadcasts each read the
    # stored blocks instead of re-running the distinct (column
    # renames above the exchange defeat Spark's structural
    # ReusedExchange detection here)
    bl = materialize(
        blocklist.select(F.lower("domain").alias("domain")).distinct()
    )
    # candidates from MOST specific (max_labels labels) down to 2 so
    # the coalesce below prefers the most-specific match
    ks = list(range(max_labels, 1, -1))
    for k in ks:
        out = out.withColumn(
            f"__cand{k}",
            F.expr(
                f"IF(size(__hl) >= {k}, "
                f"concat_ws('.', slice(__hl, size(__hl) - {k - 1}, {k})),"
                " NULL)"
            ),
        )
    for k in ks:
        out = out.join(
            F.broadcast(bl.select(F.col("domain").alias(f"__m{k}"))),
            F.col(f"__cand{k}") == F.col(f"__m{k}"),
            "left",
        )
    out = out.withColumn(
        "blocked_domain", F.coalesce(*[F.col(f"__m{k}") for k in ks])
    ).withColumn("url_blocked", F.col("blocked_domain").isNotNull())
    return out.drop(
        "__hl",
        *[f"__cand{k}" for k in ks],
        *[f"__m{k}" for k in ks],
    )
