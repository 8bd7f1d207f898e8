"""Session factory defaults (``session.get_spark``)."""

import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_default_parallelism_is_the_usable_cores():
    """With no ``cpus`` argument and no ``$SPARK_GRAFT_CPUS``, a fresh
    session runs ``local[N]`` with N shuffle partitions, N = the cores
    this process may run on — not a fixed width whatever the box."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    code = ("from nci_seronet_proc_data_validator_spark.session import "
            "get_spark\n"
            "s = get_spark('default_cores')\n"
            "print(s.sparkContext.master,"
            " s.conf.get('spark.sql.shuffle.partitions'))\n"
            "s.stop()\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=300,
                         check=True).stdout
    n = len(os.sched_getaffinity(0))
    assert out.split()[-2:] == [f"local[{n}]", str(n)], out
