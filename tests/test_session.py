"""Session factory (session.py)."""

from __future__ import annotations

import os
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_udf_imports_package_outside_repo_root(tmp_path):
    # a script run from another directory puts the repo on its own
    # sys.path only; the Python workers must still import the package
    code = (
        "import sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from pyspark.sql import functions as F\n"
        "from linz_bde_uploader_spark.session import get_spark\n"
        "def probe(x):\n"
        "    import linz_bde_uploader_spark\n"
        "    return linz_bde_uploader_spark.__version__\n"
        "spark = get_spark('outside-root')\n"
        "print('UDF', spark.range(1).select(F.udf(probe)('id')).first()[0])\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # a second JVM runs beside the suite's own: keep it small
    env["SPARK_GRAFT_CPUS"] = "1"
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    # own process group, so a timeout also kills the child's JVM
    proc = subprocess.Popen(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        stdout, stderr = proc.communicate(timeout=300)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
    assert proc.returncode == 0, stderr[-2000:]
    assert "UDF 0.1.0" in stdout


def test_driver_memory_default_is_capped_by_physical_memory(monkeypatch):
    from linz_bde_uploader_spark.session import _driver_memory

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    page = 4096
    for gib, want in ((16, "12288m"), (64, "24g")):
        sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": gib * 2**30 // page}
        monkeypatch.setattr(os, "sysconf", sizes.__getitem__)
        assert _driver_memory() == want

    def unknown(name):
        raise ValueError(f"unrecognized configuration name {name}")

    monkeypatch.setattr(os, "sysconf", unknown)
    assert _driver_memory() == "24g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert _driver_memory() == "2g"


def test_session_settings(spark):
    # AQE may coalesce a persisted frame's partitions (the staged write
    # reads the persisted action set), and no Python call site is
    # captured per Column call
    conf = spark.conf.get
    assert conf("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true"
    assert conf("spark.python.sql.dataFrameDebugging.enabled") == "false"
