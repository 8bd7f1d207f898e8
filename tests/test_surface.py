"""Package surface guard: every public top-level function and class of the
package is used outside the tests — by the package itself, the top-level
scripts (``bench.py``, ``__spark_entry__.py``), ``tools/`` or
``perfbench/`` — so surface that only tests call cannot grow back."""

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "nci_seronet_proc_data_validator_spark"

# Reference I/O surfaces with no in-repo caller yet: a deployment wires
# them to its MySQL; the tests drive them against embedded databases.
ALLOWED = {
    "read_merged_table",         # S5: DB fallback Merged_Tables
    "read_pending_submissions",  # J7: the jobs-table pending query
    "write_job_status_jdbc",     # S11: job-status upsert over JDBC
}


def _unreferenced() -> dict[str, str]:
    """name -> defining file, for each public top-level def or class
    whose name appears nowhere in non-test code outside its own body."""
    files = [*ROOT.glob("*.py"), *PKG.rglob("*.py"),
             *(ROOT / "tools").rglob("*.py"),
             *(ROOT / "perfbench").rglob("*.py")]
    lines = {p: p.read_text().splitlines() for p in files}
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if (not isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    or node.name.startswith("_")):
                continue
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            if not any(word.search(line)
                       for p, ls in lines.items()
                       for i, line in enumerate(ls, 1)
                       if not (p == path
                               and node.lineno <= i <= node.end_lineno)):
                out[node.name] = str(path.relative_to(ROOT))
    return out


def test_public_package_names_have_a_caller_outside_tests():
    unused = _unreferenced()
    extra = {n: f for n, f in unused.items() if n not in ALLOWED}
    assert not extra, (
        f"public names only tests use (delete them with their tests, or "
        f"give them a caller): {extra}")
    # an allowed surface that gained a caller leaves the list
    assert set(unused) == ALLOWED
