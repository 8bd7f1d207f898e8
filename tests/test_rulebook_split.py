"""Equivalence guards for the round-8 rulebook plan restructuring.

Three claims the restructured ``q_rulebook_full`` rests on:

1. the split dedup (shuffle-free per-row findings of key-unique sheets +
   keyed dedup of everything else) returns exactly the rows of the single
   global ``dedup_findings`` over the whole union — checked at sf0.01,
   where the aliquot sheet's colliding row_index actually produces
   duplicate keys (11,785 duplicate (l_orderkey, l_linenumber) pairs);
2. ``presence_spine_sql`` (UNION ALL → one GROUP BY) collapses a
   source's duplicate keys into one spine row and carries a column as
   its per-key min (its outer-join equivalence is oracle-checked by the
   ``j3_presence_patterns`` and ``j4_bio_spine`` queries);
3. the chunked one-statement SQL assembly produced by
   ``sheet_findings_sql`` returns exactly what the unchunked
   ``compile_sheet_findings`` projection returns, and
   ``dup_id_findings_sql`` flags exactly the IDs a plain DataFrame
   ``groupBy`` counts more than once.
"""

from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.errors import dedup_findings
from nci_seronet_proc_data_validator_spark.operators.joins import (
    presence_spine_sql,
)

SF_001 = "/root/testdata/sf0.001"
SF_01 = "/root/testdata/sf0.01"


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_split_dedup_equals_global_dedup(spark):
    from nci_seronet_proc_data_validator_spark.driver_queries import QUERIES
    split = QUERIES["rulebook_full"][0](spark, SF_01)
    assert _rows(split) == _rows(dedup_findings(split)), \
        "split-dedup result must already be duplicate-key-free globally"


def test_aliquot_key_collisions_exist(spark):
    """The guard above is only meaningful if the aliquot sheet really has
    colliding row_index values at sf0.01 — pin the data property."""
    li = spark.read.parquet(f"{SF_01}/lineitem.parquet")
    dupes = (li.groupBy((F.col("l_orderkey") * 8 + F.col("l_linenumber"))
                        .alias("k"))
             .count().filter("count > 1").count())
    assert dupes > 0


def test_presence_spine_collapses_duplicate_keys_with_min_carry(spark):
    dup = spark.createDataFrame(
        [(1, "PBMC"), (1, "Serum"), (2, "Serum")], ["k", "t"])
    other = spark.createDataFrame([(2,), (3,)], ["k"])
    dup.createOrReplaceTempView("__t_spine_bio")
    other.createOrReplaceTempView("__t_spine_ali")
    out = spark.sql(presence_spine_sql(
        {"bio": "__t_spine_bio", "ali": "__t_spine_ali"}, ["k"],
        carry={"bio": ["t"]}))
    got = {r["k"]: (r["__in_bio"], r["__in_ali"], r["t"])
           for r in out.collect()}
    assert got == {1: (True, False, "PBMC"),   # min of PBMC/Serum
                   2: (True, True, "Serum"),
                   3: (False, True, None)}


def test_sheet_findings_sql_matches_dataframe_compile(spark):
    from nci_seronet_proc_data_validator_spark.operators.joins import (
        icd10_flag_join,
    )
    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        fixture_sheet_df,
        icd10_dict_df,
    )
    from nci_seronet_proc_data_validator_spark.plans.rules import (
        compile_sheet_findings,
        dup_id_findings_sql,
        sheet_findings_sql,
    )
    from nci_seronet_proc_data_validator_spark.plans.sql_oracle import (
        rulebook_bound_sheets,
    )
    spec, bound = next((s, b) for s, b in rulebook_bound_sheets()
                       if s.sheet == "demographic.csv")
    df = fixture_sheet_df(spark, SF_001, spec)
    icd = icd10_dict_df(spark, SF_001)
    for col in bound.icd10_columns:
        df = icd10_flag_join(df, col, icd, col + "__icd10_valid")
    df.createOrReplaceTempView("__t_rb_split")
    legs = sheet_findings_sql("__t_rb_split", spec.sheet,
                              bound.column_rules, codegen_chunk=9)
    assert len(legs) > 1, "chunking should produce several legs"
    via_sql = spark.sql(" UNION ALL ".join(legs))
    via_df = compile_sheet_findings(df, spec.sheet, bound.column_rules)
    assert _rows(via_sql) == _rows(via_df)
    col = bound.dup_id_columns[0]
    dups = {r[col]: r["count"]
            for r in df.groupBy(col).count().filter("count > 1").collect()}
    assert dups, "the fixture should repeat some IDs"
    got = spark.sql(dup_id_findings_sql("__t_rb_split", spec.sheet, col))
    assert _rows(got) == sorted(
        ("Error", spec.sheet, "-3", col, str(v),
         f"Id is repeated {n} times, Multiple repeats are not allowed")
        for v, n in dups.items())


def test_bind_cache_identity_and_render_parity():
    """r11: bind_sheet_rules_cached shares one BoundSheet per
    (sheet, schema, cbc, date) key and the memoized SQL render is
    byte-identical to the direct render with the real view name."""
    import datetime

    from nci_seronet_proc_data_validator_spark.plans.rulebook import (
        bind_sheet_rules, bind_sheet_rules_cached)
    from nci_seronet_proc_data_validator_spark.plans.rules import (
        sheet_findings_sql, sheet_findings_sql_cached)
    cols = ["Research_Participant_ID", "Age", "Race"]
    today = datetime.date(2026, 1, 1)
    a = bind_sheet_rules_cached("demographic.csv", cols, "14", today=today)
    b = bind_sheet_rules_cached("demographic.csv", cols, "14", today=today)
    assert a is b                          # submission 2..N share the bind
    c = bind_sheet_rules_cached("demographic.csv", cols, "41", today=today)
    assert c is not a                      # cbc is part of the key
    d = bind_sheet_rules_cached("demographic.csv", cols, "14",
                                today=datetime.date(2026, 1, 2))
    assert d is not a                      # date rollover refreshes cutoffs

    direct = sheet_findings_sql("__v1", "demographic.csv",
                                bind_sheet_rules("demographic.csv", cols,
                                                 "14", today=today)
                                .column_rules)
    cached1 = sheet_findings_sql_cached("__v1", "demographic.csv", a)
    cached2 = sheet_findings_sql_cached("__v2", "demographic.csv", a)
    assert cached1 == direct               # same text, real view name
    assert [t.replace("__v2", "__v1") for t in cached2] == direct
