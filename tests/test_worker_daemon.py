"""The engine's pyspark daemon: zip archives re-read only on change, and
every kind of Python task forked from it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

from oeem_etl_spark import worker_daemon

ROOT = Path(__file__).resolve().parents[1]


def _write_zip(path: Path, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["zd_mod_a"])
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    for name in ("zd_mod_a", "zd_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import zd_mod_a

    assert zd_mod_a.NAME == "zd_mod_a"
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p))

    importlib.invalidate_caches()  # first call per importer re-reads
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, ["zd_mod_a", "zd_mod_b"])
    importlib.invalidate_caches()
    assert str(archive) in reads
    import zd_mod_b

    assert zd_mod_b.NAME == "zd_mod_b"


def test_python_tasks_run_under_the_engine_daemon(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "oeem_etl_spark.worker_daemon"
    )

    def wrapper_module(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    import pandas as pd

    arrow = spark.range(0, 1, 1, 1).mapInPandas(
        lambda it: (pd.DataFrame({"m": [m]}) for m in wrapper_module(it)), "m string"
    ).collect()
    rdd = spark.sparkContext.parallelize([0], 1).mapPartitions(wrapper_module).collect()
    assert [r.m for r in arrow] == ["oeem_etl_spark.worker_daemon"]
    assert rdd == ["oeem_etl_spark.worker_daemon"]


def test_daemon_importable_from_any_directory(tmp_path):
    """A Spark application started outside the checkout, with no
    PYTHONPATH, still runs Python tasks: its workers find the daemon
    through the session's executorEnv.PYTHONPATH."""
    script = tmp_path / "one_task.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from oeem_etl_spark.session import get_session

        def double(it):
            for pdf in it:
                yield pdf * 2

        spark = get_session("daemon-cwd-test", cpus=1)
        print(spark.range(3).mapInPandas(double, "id long").collect())
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    out = subprocess.run(
        [sys.executable, str(script)], cwd="/tmp", env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "Row(id=0), Row(id=2), Row(id=4)" in out.stdout, out.stdout
