"""Corpus-level boilerplate-line removal (C4 / RefinedWeb style).

Web corpora carry lines repeated across thousands of pages (nav menus,
cookie banners, footers). The standard curation step drops every line
whose document frequency exceeds a threshold, keeping the rest of each
document intact and in order.

Scale shape (the part that matters at 100 TB):
- lines explode map-side with their position (``posexplode``);
- document frequency aggregates on the line key with map-side partials
  (count_distinct(doc) ≈ count per (line, doc) pair pre-grouped);
- the blocklist — lines with df > threshold — is SMALL by construction
  (only boilerplate crosses the threshold), so the removal join is a
  **broadcast anti-join**, not a corpus-wide shuffle;
- reassembly is one keyed agg per doc: collect (pos, line), sort, join.

So: two keyed shuffles (line-df agg, doc reassembly) + one broadcast.
Never a global window, never all-pairs.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _lines(df: DataFrame, text_col: str, id_col: str, sep: str):
    # re.escape: F.split takes a REGEX while the DuckDB oracle's
    # string_split is literal — an unescaped '.' or '|' separator would
    # silently split on everything in Spark only.
    return (df.select(F.col(id_col),
                      F.posexplode(F.split(F.col(text_col), re.escape(sep)))
                      .alias("pos", "line")))


def common_lines(df: DataFrame, max_doc_freq: int,
                 text_col: str = "text", id_col: str = "doc_id",
                 sep: str = "\n") -> DataFrame:
    """The blocklist: (line, doc_freq) for lines appearing in more than
    ``max_doc_freq`` distinct documents. Small output by construction.

    Per-document line dedup happens MAP-SIDE (``array_distinct`` on the
    split array — ``id_col`` is one row per document by corpus contract,
    so per-row distinct == per-document distinct): the naive
    ``.distinct()`` shuffled every (doc, line) occurrence pair across
    the cluster just to dedupe what each row already holds; here only
    map-side-aggregated (line, partial_count) rows reach the exchange.
    """
    if max_doc_freq < 1:
        raise ValueError(f"max_doc_freq must be >= 1: {max_doc_freq}")
    return (df.select(F.explode(F.array_distinct(
                F.split(F.col(text_col), re.escape(sep)))).alias("line"))
            .groupBy("line")
            .agg(F.count(F.lit(1)).alias("doc_freq"))
            .filter(F.col("doc_freq") > max_doc_freq))


def remove_common_lines(df: DataFrame, max_doc_freq: int,
                        text_col: str = "text", id_col: str = "doc_id",
                        sep: str = "\n") -> DataFrame:
    """Rewrite each document with its over-frequent lines removed
    (original order preserved; documents whose every line is boilerplate
    come back with empty text, mirroring the C4 rule).

    Corpus contract: ONE ROW PER DOCUMENT. ``common_lines`` dedupes a
    document's lines map-side per ROW (``array_distinct`` on the split
    array), so a corpus with several rows sharing an ``id_col`` counts
    each ROW toward a line's doc_freq — i.e. frequencies are per row,
    not per distinct id (pinned by
    ``test_linedup.test_duplicated_doc_id_counts_per_row``).

    Returns (id_col, text, n_lines_kept, n_lines_dropped).
    """
    lines = _lines(df, text_col, id_col, sep)
    block = common_lines(df, max_doc_freq, text_col, id_col, sep) \
        .select("line")
    kept = lines.join(F.broadcast(block), "line", "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                       F.transform(
                           F.array_sort(F.collect_list(
                               F.struct("pos", "line"))),
                           lambda s: s["line"]),
                       sep).alias("text"),
                    F.count(F.lit(1)).cast("long").alias("n_lines_kept")))
    # per-doc line totals need no explode/shuffle — map-only size(split)
    totals = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), re.escape(sep)))
        .cast("long").alias("n_lines"))
    return (totals.join(rebuilt, id_col, "left")
            .select(id_col,
                    F.coalesce("text", F.lit("")).alias("text"),
                    F.coalesce("n_lines_kept", F.lit(0)).cast("long")
                    .alias("n_lines_kept"),
                    (F.col("n_lines") - F.coalesce("n_lines_kept",
                                                   F.lit(0)))
                    .cast("long").alias("n_lines_dropped")))


def remove_common_lines_oracle_sql(max_doc_freq: int, table: str = "docs",
                                   sep: str = "\n") -> str:
    """DuckDB mirror over a (doc_id, text) table."""
    sep_lit = "'" + sep.replace("'", "''") + "'"
    return f"""
WITH ls AS (
  SELECT doc_id, string_split(text, {sep_lit}) AS parts FROM {table}),
l AS (
  SELECT doc_id, i AS pos, parts[i] AS line
  FROM ls, unnest(generate_series(1, len(parts))) AS t(i)),
b AS (
  SELECT line FROM (SELECT DISTINCT doc_id, line FROM l)
  GROUP BY line HAVING count(*) > {max_doc_freq}),
k AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM b)),
r AS (
  SELECT doc_id,
         string_agg(line, {sep_lit} ORDER BY pos) AS text,
         count(*) AS n_lines_kept
  FROM k GROUP BY doc_id),
t AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id)
SELECT t.doc_id,
       coalesce(r.text, '') AS text,
       CAST(coalesce(r.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
       CAST(t.n_lines - coalesce(r.n_lines_kept, 0) AS BIGINT)
         AS n_lines_dropped
FROM t LEFT JOIN r USING (doc_id)
"""
