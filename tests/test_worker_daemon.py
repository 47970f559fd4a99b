"""The warm worker daemon's setup: zip archives present when it starts keep
their parsed directory across importlib.invalidate_caches() (PySpark calls
it at the start of every task), later archives are re-read as before, and
the daemon's heap is frozen before it forks."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import uuid
import zipfile
from pathlib import Path

import pandas as pd

ROOT = Path(__file__).resolve().parents[1]

# Runs in a fresh interpreter: prepare() patches zipimport and freezes the
# heap process-wide, which must not leak into the test session.
_PROBE = r"""
import gc, importlib, json, sys, zipfile

old_zip, new_zip = sys.argv[1], sys.argv[2]
import scs_probe_old
from spacetime_crawler_spark import worker_daemon

worker_daemon.prepare()

with zipfile.ZipFile(new_zip, "w") as z:
    z.writestr("scs_probe_new.py", "VALUE = 2\n")
sys.path.insert(0, new_zip)
import scs_probe_new

old_imp = sys.path_importer_cache[old_zip]
new_imp = sys.path_importer_cache[new_zip]
old_files, new_files = old_imp._files, new_imp._files
importlib.invalidate_caches()
print(json.dumps({
    "old_kept": old_imp._files is old_files,
    "new_reread": new_imp._files is not new_files,
    "values": [scs_probe_old.VALUE, scs_probe_new.VALUE],
    "frozen": gc.get_freeze_count(),
}))
"""


def test_prepare_keeps_startup_archives_and_freezes_heap(tmp_path):
    old_zip = tmp_path / "old.zip"
    with zipfile.ZipFile(old_zip, "w") as z:
        z.writestr("scs_probe_old.py", "VALUE = 1\n")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(old_zip), str(ROOT), env.get("PYTHONPATH", "")]
    )
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(old_zip), str(tmp_path / "new.zip")],
        env=env, capture_output=True, text=True, check=True, timeout=120,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["values"] == [1, 2]
    assert got["old_kept"], got
    assert got["new_reread"], got
    assert got["frozen"] > 0, got


def test_add_py_file_module_imports_inside_pandas_udf(spark, tmp_path):
    """A zip shipped with addPyFile after the workers started is importable
    in a UDF: the daemon leaves later archives to the stock invalidation."""
    from pyspark.sql import functions as F

    name = f"scs_pyfile_{uuid.uuid4().hex[:12]}"
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", "OFFSET = 41\n")

    @F.pandas_udf("long")
    def same(ids: pd.Series) -> pd.Series:
        return ids

    # Python workers are running before the file is added
    assert spark.range(4).select(F.sum(same("id"))).first()[0] == 6
    spark.sparkContext.addPyFile(str(path))

    @F.pandas_udf("long")
    def plus_offset(ids: pd.Series) -> pd.Series:
        import importlib

        return ids + importlib.import_module(name).OFFSET

    got = sorted(r[0] for r in spark.range(4).select(plus_offset("id")).collect())
    assert got == [41, 42, 43, 44]
