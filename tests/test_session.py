"""Session construction (session.py): the JVM-memory knob and the
Python-worker daemon selection (worker_daemon.py)."""

from __future__ import annotations

import os
import zipfile

import pytest

from distributed_query_engine_spark import session as S
from distributed_query_engine_spark import worker_daemon
from tests.conftest import REPO

DAEMON_KEY = "spark.python.daemon.module"


@pytest.mark.parametrize("bad", ["8 GB", "not-a-size", "8gb", "0g", "-1g", ""])
def test_driver_mem_knob_rejects_malformed_size(monkeypatch, bad):
    # get_spark parses the knob before it touches the JVM: a bad value
    # names the knob instead of failing later as a gateway-launch error
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        S.get_spark()


@pytest.mark.parametrize("good", ["8g", "512m", "16G", "1t", "1048576k", "2048"])
def test_driver_mem_knob_accepts_sizes(monkeypatch, good):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", good)
    assert S.memory_env("SPARK_GRAFT_DRIVER_MEM", "8g") == good
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert S.memory_env("SPARK_GRAFT_DRIVER_MEM", "8g") == "8g"


def _fake_spark_home(root, zipped: str, unzipped: str | None):
    py = root / "python"
    (py / "lib").mkdir(parents=True)
    with zipfile.ZipFile(py / "lib" / "pyspark.zip", "w") as z:
        z.writestr("pyspark/version.py", zipped)
    if unzipped is not None:
        (py / "pyspark").mkdir()
        (py / "pyspark" / "version.py").write_text(unzipped)
    return root


@pytest.mark.parametrize(
    "unzipped, selected",
    [("__version__ = '4.1.2'\n", True), ("__version__ = '4.0.0'\n", False), (None, False)],
    ids=["same-version", "other-version", "no-tree"],
)
def test_daemon_selected_only_for_matching_unzipped_tree(
    tmp_path, monkeypatch, unzipped, selected
):
    home = _fake_spark_home(tmp_path, "__version__ = '4.1.2'\n", unzipped)
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.chdir(REPO)
    want = {DAEMON_KEY: worker_daemon.__name__} if selected else {}
    assert S.python_daemon_conf() == want


def test_daemon_not_selected_when_workers_cannot_import_it(tmp_path, monkeypatch):
    # workers start in the JVM's cwd with this process's PYTHONPATH: from
    # anywhere else the package is not on their path
    home = _fake_spark_home(tmp_path / "home", "v = 1\n", "v = 1\n")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert S.python_daemon_conf() == {}
    monkeypatch.setenv("PYTHONPATH", str(REPO))
    assert S.python_daemon_conf() == {DAEMON_KEY: worker_daemon.__name__}
    monkeypatch.delenv("SPARK_HOME")
    assert S.python_daemon_conf() == {}


def test_swap_zip_replaces_only_the_pyspark_zip_entry():
    path = os.pathsep.join(
        ["/s/python/lib/pyspark.zip", "/s/python/lib/py4j-0.10.9.9-src.zip", "/x"]
    )
    assert worker_daemon.swap_zip(path).split(os.pathsep) == [
        "/s/python", "/s/python/lib/py4j-0.10.9.9-src.zip", "/x",
    ]


def test_workers_import_pyspark_from_the_unzipped_tree(spark):
    """A mapInPandas worker holds no zipimporter for pyspark.zip, imports
    pyspark from the unzipped tree, and its parent (the daemon) still
    names ``pyspark.daemon`` on its command line; rows are unchanged."""
    home = os.environ.get("SPARK_HOME")
    if not home or worker_daemon.unzipped_pyspark(home) is None:
        pytest.skip("no unzipped pyspark tree matching pyspark.zip here")
    assert spark.sparkContext.getConf().get(DAEMON_KEY) == worker_daemon.__name__

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyspark

        zips = sum(
            isinstance(v, zipimport.zipimporter) and "pyspark.zip" in k
            for k, v in sys.path_importer_cache.items()
        )
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            daemon = b"pyspark.daemon" in f.read()
        for b in batches:
            yield b.assign(zips=zips, daemon=daemon, origin=pyspark.__file__)

    rows = (
        spark.range(0, 200, 1, 4)
        .mapInPandas(probe, "id long, zips long, daemon boolean, origin string")
        .collect()
    )
    assert sorted(r.id for r in rows) == list(range(200))
    assert {r.zips for r in rows} == {0}
    assert {r.daemon for r in rows} == {True}
    tree = worker_daemon.unzipped_pyspark(home)
    assert all(r.origin.startswith(tree + "/") for r in rows), {r.origin for r in rows}
