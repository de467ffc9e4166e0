"""The scripts/ tools: each one finds its checkout from its own file, a
`get_spark` session's Python workers import the package from any working
directory, and the closure harness's restatements equal the registered
oracles."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

from conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))

# Load a script as a module (its `__main__` block does not run), then
# report where the package came from.  Run from an unrelated directory
# with no PYTHONPATH, the only way to the package is the script's own.
_PROBE = """
import importlib.util, sys
spec = importlib.util.spec_from_file_location("script_under_test", sys.argv[1])
spec.loader.exec_module(importlib.util.module_from_spec(spec))
import fanstats_producer_spark
print(fanstats_producer_spark.__file__)
"""


@pytest.mark.parametrize("script", SCRIPTS, ids=os.path.basename)
def test_script_imports_its_own_checkout(script, tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", _PROBE, script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stderr
    pkg = os.path.realpath(r.stdout.splitlines()[-1])
    root = os.path.realpath(ROOT)
    assert os.path.commonpath([pkg, root]) == root, pkg


# A driver that found the package through its own sys.path runs a pandas
# UDF defined in the package; its workers have only what get_spark gives.
_UDF_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
from fanstats_producer_spark.operators.dedup import simhash_udf
from fanstats_producer_spark.session import get_spark
spark = get_spark("foreign-cwd")
print(spark.sql("SELECT 'a b c' AS t").select(simhash_udf("t")).first()[0])
"""


def test_workers_import_package_from_foreign_cwd(tmp_path):
    from fanstats_producer_spark.operators.dedup import _simhash64

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", _UDF_PROBE, ROOT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert int(r.stdout.splitlines()[-1]) == _simhash64(["a", "b", "c"])


def test_closure_restatements_equal_registered_oracles():
    from scripts import scale_closure_check as scc

    arms = (
        [("staged", k) for k in scc.CLOSURE_KEYS]
        + [("deep-staged", k) for k in scc.DEEP_STAGED]
        + [("staged-plain", k) for k in scc.STAGED_PLAIN]
    )
    got = scc.pin(SF_DIR, arms)
    assert [a for a in arms if not got[a][0]] == []
    # an empty result would pass the comparison vacuously
    assert all(rows > 0 for _, rows in got.values())
