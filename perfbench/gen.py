"""Seeded input generator for the benchmark (no Spark).

    python3 perfbench/gen.py WORKLOAD --seed N --out DIR [--size smoke]

The benchmark's inputs are SeroNet submissions derived from five small
base tables (``customer``, ``orders``, ``lineitem``, ``supplier``,
``part``) that this module draws from the seed. Sheet cells come from the
package's fixture column expressions (``plans/fixture.py``), evaluated
here with DuckDB — the engine the oracle already uses — so every column
holds values from its valid domain with violations planted on about
1/m of the keys for each of its 2–4 planted classes (m between 5 and
113: roughly 3–10 % of cells per column). Catalog columns the fixture
lacks are filled from a sibling column's expression on a shifted key.

The keys are drawn so that IDs agree across sheets: every participant
owns biospecimens, every biospecimen's aliquots, equipment, reagents and
consumables name it, and only the planted ID violations (and the
consumables and assay IDs of the second participant of each pair) miss.

Outputs:

- ``rulebook``: the five base tables as parquet files, the input of the
  registered query ``rulebook_full``;
- ``burst``: N submission directories, each ``submission.csv`` +
  ``demographic.csv`` + ``biospecimen.csv`` with seeded row counts, and
  the ICD-10 code file (``icd10.csv``) the watcher checks against.
"""

from __future__ import annotations

import argparse
import csv
import os
import random
import sys

LAB_NAME = "SeronetLab"
CBC_MAP = {LAB_NAME: "14"}
ICD10_FILE = "icd10.csv"

# catalog column -> (fixture column it copies, key shift), or (SQL with
# the sheet's key as ``{k}``, 0)
_EXTRA_COLUMNS = {
    "prior_clinical_test.csv": {
        "HepB_sAg_Test_Result": ("CMV_Test_Result", 1),
        "HepB_sAg_Test_Result_Provenance": ("CMV_Test_Result_Provenance", 1),
        "Date_of_HepB_sAg_Test": ("Date_of_CMV_Test", 1),
        "EBV_Test_Result": ("CMV_Test_Result", 2),
        "EBV_Test_Result_Provenance": ("CMV_Test_Result_Provenance", 2),
        "Date_of_EBV_Test": ("Date_of_CMV_Test", 2),
        "Seasonal_Coronavirus_Molecular_Result": (
            "Seasonal_Coronavirus_Serology_Result", 3),
    },
    "demographic.csv": {
        c: ("Diabetes_Mellitus", i + 3) for i, c in enumerate([
            "Chronic_Lung_Disease", "Chronic_Liver_Disease",
            "Chronic_Renal_Disease", "Cardiovascular_Disease",
            "Severe_Obesity", "Immunosuppressive_conditions",
            "Inflammatory_Disease"])
    },
    "aliquot.csv": {
        "Aliquot_Tube_Type": ("Aliquot_Concentration", 2),
        "Aliquot_Tube_Type_Lot_Number": (
            "CASE WHEN ({k}) % 43 = 0 THEN '2021-05-05' WHEN ({k}) % 61 = 0"
            " THEN '' ELSE 'LOT-' || CAST(({k}) % 40 AS STRING) END", 0),
        "Aliquot_Tube_Type_Expiration_Date": (
            "CASE WHEN ({k}) % 47 = 0 THEN 'junk' WHEN ({k}) % 83 = 0"
            " THEN '' ELSE '2027-03-04' END", 0),
    },
    "reagent.csv": {"Reagent_Catalog_Number": ("Reagent_Lot_Number", 1)},
    "consumable.csv": {
        "Consumable_Lot_Number": ("Consumable_Catalog_Number", 1)},
}
_KEY_COLUMNS = ("c_custkey", "o_orderkey", "l_orderkey", "s_suppkey",
                "p_partkey")

# Sizes per workload. ``anchors``: participant pairs per submission.
SIZES = {
    "full": {"rulebook": {"anchors": 400}, "burst": {"submissions": 24}},
    "smoke": {"rulebook": {"anchors": 20}, "burst": {"submissions": 4}},
}


def base_tables(rng: random.Random, anchors: int,
                first_key: int = 1) -> dict[str, dict[str, list[int]]]:
    """Draw the five base tables for ``anchors`` participant pairs.

    Participant keys come in pairs ``a`` and ``a + 2``. Each participant
    owns two or three biospecimens (``orders``); the first carries the
    residue ``c % 1000`` that the equipment, reagent and assay sheets
    derive their IDs from, the second ``(c - 2) % 1000`` for the
    consumables. Each biospecimen has 1–4 aliquots (``lineitem``) whose
    supplier/part columns rebuild its ID.
    """
    picks = rng.sample(range(first_key, first_key + 40 * anchors), anchors)
    anchor_keys = sorted(4 * p for p in picks)
    cust = sorted(k for a in anchor_keys for k in (a, a + 2))
    order_blocks = rng.sample(range(1, 1000 * anchors), 3 * len(cust))
    orders: dict[str, list[int]] = {"o_orderkey": [], "o_custkey": []}
    line: dict[str, list[int]] = {"l_orderkey": [], "l_linenumber": [],
                                  "l_suppkey": [], "l_partkey": []}
    for i, c in enumerate(cust):
        residues = [c % 1000, (c - 2) % 1000]
        if rng.random() < 0.3:
            residues.append(rng.randrange(1000))
        for j, r in enumerate(residues):
            o = order_blocks[3 * i + j] * 1000 + r
            orders["o_orderkey"].append(o)
            orders["o_custkey"].append(c)
            for ln in range(1, rng.randint(1, 4) + 1):
                line["l_orderkey"].append(o)
                line["l_linenumber"].append(ln)
                line["l_suppkey"].append(c)
                line["l_partkey"].append(1000 * rng.randrange(50) + r)
    return {
        "customer": {"c_custkey": cust},
        "orders": orders,
        "lineitem": line,
        "supplier": {"s_suppkey": list(anchor_keys)},
        "part": {"p_partkey": list(anchor_keys)},
    }


def write_parquet_tables(tables: dict, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(
            pa.table({c: pa.array(v, pa.int64()) for c, v in cols.items()}),
            os.path.join(out_dir, f"{name}.parquet"))


def _shift(expr: str, by: int) -> str:
    for k in _KEY_COLUMNS:
        expr = expr.replace(k, f"({k} + {by})")
    return expr


def sheet_columns() -> dict[str, tuple[str, list[tuple[str, str]]]]:
    """Sheet -> (base table, [(catalog column, SQL expression)])."""
    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        FIXTURE_SHEETS,
    )
    from nci_seronet_proc_data_validator_spark.sources.catalog import (
        static_expected_columns,
    )
    catalog = static_expected_columns()
    out = {}
    for spec in FIXTURE_SHEETS:
        extra = _EXTRA_COLUMNS.get(spec.sheet, {})
        cols = []
        for c in catalog[spec.sheet]:
            if c in spec.columns:
                cols.append((c, spec.columns[c]))
            else:
                src, by = extra[c]
                cols.append((c, _shift(spec.columns[src], by)
                             if src in spec.columns
                             else src.format(k=spec.key)))
        out[spec.sheet] = (spec.base, cols, spec.key)
    return out


def _write_csv(path: str, header: list[str], rows) -> int:
    n = 0
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])
            n += 1
    return n


def write_submissions(subs: list[dict], out_dir: str, sheets: list[str],
                      rng: random.Random, mismatch_rate: float) -> dict:
    """One directory per entry of ``subs`` (base tables of one
    submission): ``sheets`` plus submission.csv. All submissions are
    evaluated in one DuckDB query per sheet. With probability
    ``mismatch_rate`` a submission declares one participant too many, so
    the count reconciliation fires. Returns rows written per sheet."""
    import duckdb
    import pyarrow as pa

    spec = sheet_columns()
    con = duckdb.connect()
    try:
        for name in subs[0]:
            cols = {c: [] for c in subs[0][name]}
            sub_col: list[int] = []
            for i, tables in enumerate(subs):
                for c, v in tables[name].items():
                    cols[c].extend(v)
                sub_col.extend([i] * len(next(iter(tables[name].values()))))
            con.register(name, pa.table(
                {"__sub": pa.array(sub_col, pa.int64()),
                 **{c: pa.array(v, pa.int64()) for c, v in cols.items()}}))
        by_sheet = {}
        for sheet in sheets:
            base, cols, key = spec[sheet]
            sel = ", ".join(f"CAST({e} AS VARCHAR)" for _, e in cols)
            by_sheet[sheet] = ([c for c, _ in cols], con.execute(
                f"SELECT __sub, {sel} FROM {base} ORDER BY __sub, {key}"
            ).fetchall())
    finally:
        con.close()
    counts = {s: 0 for s in sheets}
    for i, tables in enumerate(subs):
        d = os.path.join(out_dir, f"sub{i:03d}")
        os.makedirs(d, exist_ok=True)
        for sheet, (header, rows) in by_sheet.items():
            counts[sheet] += _write_csv(os.path.join(d, sheet), header,
                                        (r[1:] for r in rows if r[0] == i))
        participants = len(tables["customer"]["c_custkey"])
        if rng.random() < mismatch_rate:
            participants += 1
        _write_csv(os.path.join(d, "submission.csv"),
                   ["Submission", LAB_NAME],
                   [["Submission_Date", "2026-01-01"],
                    ["Number_of_Research_Participants", participants],
                    ["Number_of_Biospecimens",
                     len(tables["orders"]["o_orderkey"])]])
    return counts


def write_icd10(path: str) -> None:
    """The code dictionary the demographic sheet's comorbidity column is
    checked against: A000–A099 (its valid domain) plus a few others."""
    _write_csv(path, ["code"],
               [[f"A{i:03d}"] for i in range(100)]
               + [["E11.9"], ["I10"], ["U07.1"]])


BURST_SHEETS = ["demographic.csv", "biospecimen.csv"]


def generate(workload: str, seed: int, out: str,
             size: str = "full") -> dict:
    """Write ``workload``'s inputs under ``out``; returns their sizes."""
    rng = random.Random(f"{workload}:{seed}")
    sz = SIZES[size][workload]
    os.makedirs(out, exist_ok=True)
    if workload == "rulebook":
        tables = base_tables(rng, sz["anchors"])
        write_parquet_tables(tables, out)
        return {t: len(next(iter(c.values()))) for t, c in tables.items()}
    if workload != "burst":
        raise ValueError(f"unknown workload {workload!r}")
    write_icd10(os.path.join(out, ICD10_FILE))
    n = sz["submissions"]
    # 1–3 participant pairs per submission, in seeded order; the total is
    # the same for every seed
    anchors = [1 + i % 3 for i in range(n)]
    rng.shuffle(anchors)
    subs = [base_tables(rng, a, first_key=1 + 200 * i)
            for i, a in enumerate(anchors)]
    rows = write_submissions(subs, os.path.join(out, "landing"),
                             BURST_SHEETS, rng, mismatch_rate=0.1)
    return {"submissions": n, "rows": rows}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", choices=["rulebook", "burst"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)
    print(generate(args.workload, args.seed, args.out, args.size))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    raise SystemExit(main())
