"""Package surface guard: every public top-level function and class of the
package is referenced from code outside the tests — the package itself,
the top-level scripts (``bench.py``, ``__spark_entry__.py``), ``tools/``
or ``perfbench/`` — so surface that only tests call cannot grow back.
Every private top-level function and class is referenced from that code
or from the tests, so dead helpers cannot pile up either.

A reference is an AST ``Name``, ``Attribute`` or ``import`` node, or a
string literal equal to the name (``perfbench/run.py`` wraps functions by
attribute string). Docstrings, comments, ``__all__`` and ``__init__.py``
re-exports do not count, nor does a name's use inside its own body.

Also pins the driver-contract registry (``driver_queries.QUERIES``) and
that ``bench.py`` times registered queries only."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "nci_seronet_proc_data_validator_spark"

# Public names with no caller outside the tests, each with its reason.
ALLOWED = {
    # reference I/O surfaces: a deployment wires them to its MySQL; the
    # tests drive them against embedded databases
    "read_merged_table": "S5: DB fallback Merged_Tables",
    "read_pending_submissions": "J7: the jobs-table pending query",
    "write_job_status_jdbc": "S11: job-status upsert over JDBC",
    "read_cbc_map": "the reference's CBC lookup "
                    "(File_Submission_Object.py:82-87)",
    "read_expected_columns": "S7: expected-columns query "
                             "(INFORMATION_SCHEMA is MySQL-only)",
    # references and checks the tests hold production paths against
    "profile_table": "reference for fused_quality_pass",
    "verify_constraints": "reference for fused_quality_pass",
    "profile_drift": "reference for fused_quality_pass",
    "brute_force_topk": "reference for the quantized ANN",
    "pq_fit": "reference for pq_fit_fused (per-slice fits)",
    "kmeans_oracle_sql": "DuckDB check for the k-means trainer",
    "repetition_features": "reference for bigram_profile",
    "familiarity_features": "reference for bigram_profile",
    "advise_plan": "the registry's scale-hazard check",
}

# driver_queries.QUERIES, in registration order: only the first 50
# entries are oracle-checked, so the contract is exactly these.
REGISTRY = [
    "a2_crosstab", "j4_bio_spine", "j1_enrich_revenue",
    "j3_presence_patterns", "dedup_normalized", "text_stats", "sessionize",
    "topk_per_group", "rollup_revenue", "minhash_lsh_pairs",
    "embedding_near_dup", "bm25_topk", "stratified_sample", "pii_scan",
    "contamination", "dedup_keep_canonical", "pack_sequences",
    "corpus_funnel", "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q18",
    "c1_c4_checks", "cross_dedup", "multimodal_decode", "c5_c8_checks",
    "pq_ann", "c9_c12_checks", "events_windows", "skew_salted",
    "chunk_and_split", "quality_profile", "substr_dup_pairs", "doc_scoring",
    "boilerplate_removal", "vocab_pipeline", "embedding_ann", "semdedup",
    "bpe_train", "sketch_profile", "temporal_joins", "fuzzy_join",
    "merge_upsert", "graph_metrics", "neardup_pairs", "data_profile",
    "submission_misc", "streaming_parity", "jdbc_roundtrip", "rulebook_full",
]


def _docstrings(tree: ast.Module) -> set[int]:
    """ids of the docstring nodes of a module and its defs."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                out.add(id(body[0].value))
    return out


def _references(path: pathlib.Path) -> list[tuple[str, int]]:
    """(name, line) for each code reference in one file."""
    tree = ast.parse(path.read_text())
    skip = _docstrings(tree)
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__"
                for t in node.targets):
            skip.update(id(n) for n in ast.walk(node.value))
        if path.name == "__init__.py" and isinstance(node, ast.ImportFrom):
            skip.update(id(a) for a in node.names)
    out = []
    for node in ast.walk(tree):
        if id(node) in skip:
            continue
        if isinstance(node, ast.Name):
            out.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, node.lineno))
        elif isinstance(node, ast.alias):
            out.append((node.name.rsplit(".", 1)[-1], node.lineno))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out.append((node.value, node.lineno))
    return out


def _unreferenced(public: bool) -> dict[str, str]:
    """name -> defining file, for each public (or private) top-level def
    or class with no code reference outside its own body. A public name
    needs a reference outside the tests; a private one may have it in
    the tests too."""
    dirs = [PKG, ROOT / "tools", ROOT / "perfbench"]
    if not public:
        dirs.append(ROOT / "tests")
    files = [*ROOT.glob("*.py"), *(p for d in dirs for p in d.rglob("*.py"))]
    refs: dict[str, list[tuple[pathlib.Path, int]]] = {}
    for p in files:
        for name, line in _references(p):
            refs.setdefault(name, []).append((p, line))
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if (not isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    or node.name.startswith("_") == public):
                continue
            if not any(not (p == path
                            and node.lineno <= i <= node.end_lineno)
                       for p, i in refs.get(node.name, ())):
                out[node.name] = str(path.relative_to(ROOT))
    return out


def test_public_package_names_have_a_caller_outside_tests():
    unused = _unreferenced(public=True)
    extra = {n: f for n, f in unused.items() if n not in ALLOWED}
    assert not extra, (
        f"public names only tests use (delete them with their tests, or "
        f"give them a caller): {extra}")
    # an allowed surface that gained a caller leaves the list
    assert set(unused) == set(ALLOWED)


def test_private_package_names_are_referenced():
    unused = _unreferenced(public=False)
    assert not unused, f"private names nothing references: {unused}"


def test_registry_is_the_pinned_contract():
    from nci_seronet_proc_data_validator_spark.driver_queries import QUERIES
    assert list(QUERIES) == REGISTRY
    for name, (fn, sql) in QUERIES.items():
        assert callable(fn), name
        assert isinstance(sql, str) and sql.strip(), name


def test_bench_times_registered_queries_only():
    from bench import BENCH_QUERIES
    assert BENCH_QUERIES and set(BENCH_QUERIES) <= set(REGISTRY)
    assert len(set(BENCH_QUERIES)) == len(BENCH_QUERIES)
