"""Real ``spark-submit --py-files`` deployment-shape gate.

The north rule (BASELINE.json) says the pipeline is "run via spark-submit
--py-files on a multi-executor cluster" and is "resumable from checkpoint".
`tests/test_local_cluster.py` proves the engine on real executor JVMs via
the in-process `local-cluster` master; this test proves the actual
deployment vehicle: the real ``spark-submit`` binary, the package shipped
to executors as a ``--py-files`` zip (PYTHONPATH is STRIPPED from the
environment, so executor python workers can only import
``newscrawler_spark`` from the shipped zip), a multi-executor
``local-cluster[2,2,*]`` master, and a second submit that resumes the
drain from the first run's checkpoint.

Marked ``slow`` (two JVM cold-starts, ~2-3 min); run with
``pytest -m slow tests/test_spark_submit.py``. The dated result of a run
is recorded in BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"

pytestmark = pytest.mark.slow


def _build_pyfiles_zip(tmp: str) -> str:
    """Zip the package exactly as docs/deploy.md instructs."""
    zpath = os.path.join(tmp, "newscrawler_spark.zip")
    pkg = os.path.join(REPO, "newscrawler_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".pyc"):
                    continue
                full = os.path.join(dirpath, f)
                z.write(full, os.path.relpath(full, REPO))
    return zpath


def _submit(zpath: str, root: str, epochs: int) -> list[dict]:
    env = dict(os.environ)
    # Strip the checkout from the executor workers' import path: with
    # PYTHONPATH unset, the pickled UDF closures that reference
    # newscrawler_spark modules can only resolve on executors via the
    # --py-files zip — which is the claim under test.
    env.pop("PYTHONPATH", None)
    cmd = [
        SPARK_SUBMIT,
        "--master", "local-cluster[2,2,3072]",
        "--conf", "spark.executor.memory=2g",
        "--conf", "spark.driver.memory=2g",
        "--conf", "spark.sql.shuffle.partitions=16",
        "--py-files", zpath,
        os.path.join(REPO, "scripts", "submit_drain.py"),
        "--root", root,
        "--seeds", "300",
        "--hosts", "20",
        "--payload", "200",
        "--epochs", str(epochs),
        "--batch-size", "50",
        "--buckets", "32",
    ]
    out = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=900)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert lines, (
        f"no JSON output from spark-submit (rc={out.returncode}); "
        f"stderr tail: {out.stderr[-3000:]}"
    )
    return [json.loads(l) for l in lines]


def test_spark_submit_py_files_drain_and_resume(tmp_path):
    if not os.path.exists(SPARK_SUBMIT):
        pytest.skip("spark-submit binary not found")
    tmp = str(tmp_path)  # pytest-managed: the zip + catalogs get cleaned up
    zpath = _build_pyfiles_zip(tmp)
    root = os.path.join(tmp, "catalog")

    # Cold deploy: fresh catalog, 2 epochs.
    recs = _submit(zpath, root, epochs=2)
    summary = recs[-1]
    assert summary["resumed_from_epoch"] == 0
    assert summary["fetched"] > 20
    epoch_stats = [r for r in recs if "fetched" in r and "epoch" in r]
    assert len(epoch_stats) == 2

    # Second submit against the same catalog: must resume at epoch 2 —
    # the frontier, seen-set, and politeness clocks come back from the
    # checkpointed tables, not from a rerun of the first epochs.
    recs2 = _submit(zpath, root, epochs=1)
    summary2 = recs2[-1]
    assert summary2["resumed_from_epoch"] == 2
    assert summary2["fetched"] > 0
