"""Boilerplate-line removal (operators/linedup.py) — oracle-checked
in-test (DuckDB); pytest-verified only (driver registry capped at 50)."""

import duckdb
import pandas as pd
import pytest

from nci_seronet_proc_data_validator_spark.operators.linedup import (
    common_lines,
    remove_common_lines,
    remove_common_lines_oracle_sql,
)

ROWS = [
    (1, "COOKIE BANNER\nreal content one\nFOOTER"),
    (2, "COOKIE BANNER\nreal content two\nFOOTER"),
    (3, "COOKIE BANNER\nunique line here\nanother unique"),
    (4, "COOKIE BANNER\nFOOTER"),              # all boilerplate -> empty
    (5, "totally original document"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def test_blocklist_is_just_boilerplate(docs):
    block = {r["line"]: r["doc_freq"]
             for r in common_lines(docs, max_doc_freq=2).collect()}
    assert block == {"COOKIE BANNER": 4, "FOOTER": 3}


def test_removal_preserves_order_and_counts(docs):
    got = {r["doc_id"]: r for r in
           remove_common_lines(docs, max_doc_freq=2).collect()}
    assert got[1]["text"] == "real content one"
    assert got[3]["text"] == "unique line here\nanother unique"
    assert got[4]["text"] == "" and got[4]["n_lines_dropped"] == 2
    assert got[5]["text"] == "totally original document"
    assert got[1]["n_lines_kept"] == 1 and got[1]["n_lines_dropped"] == 2
    assert len(got) == len(ROWS)


def test_matches_duckdb_oracle(spark, docs):
    got = (remove_common_lines(docs, max_doc_freq=2)
           .orderBy("doc_id").toPandas())
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(ROWS, columns=["doc_id", "text"]))
    want = (con.execute(remove_common_lines_oracle_sql(2))
            .fetchdf().sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_plan_broadcasts_blocklist(docs):
    plan = (remove_common_lines(docs, max_doc_freq=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "Window" not in plan


def test_arg_validation(docs):
    with pytest.raises(ValueError):
        remove_common_lines(docs, max_doc_freq=0)


def test_duplicated_doc_id_counts_per_row(spark):
    """The declared one-row-per-document contract (r14): a corpus with
    several rows sharing a doc_id counts each ROW toward doc_freq —
    array_distinct dedupes lines within a row, never across rows of the
    same id. Two rows with id 1 each carrying 'DUP' push DUP's doc_freq
    to 3 (> 2) even though only two distinct ids carry it."""
    rows = [(1, "DUP\nalpha"), (1, "DUP\nbeta"), (2, "DUP\ngamma"),
            (3, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    block = {r["line"]: r["doc_freq"]
             for r in common_lines(df, max_doc_freq=2).collect()}
    assert block == {"DUP": 3}
