"""get_spark: a running session keeps its conf; a new one under
spark-submit keeps the launch's --conf and fills only what it left unset."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import textwrap
import threading

import pytest

from ncpi_whistler_spark import cli, session
from ncpi_whistler_spark.session import ENGINE_CONF, get_spark

WIDTH = "spark.sql.shuffle.partitions"
COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"
BROADCAST = "spark.sql.autoBroadcastJoinThreshold"


def test_get_spark_leaves_running_session_conf(spark):
    prev = {k: spark.conf.get(k) for k in (WIDTH, COALESCE, BROADCAST)}
    assert ENGINE_CONF[COALESCE] == "true"
    spark.conf.set(COALESCE, "false")
    try:
        assert get_spark() is spark
        assert cli._spark(argparse.Namespace(cmd="play", master=None)) is spark
        # a session made on another thread is found too
        seen = []
        t = threading.Thread(target=lambda: seen.append(get_spark()))
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
        assert seen == [spark]
        assert spark.conf.get(WIDTH) == prev[WIDTH]
        assert spark.conf.get(COALESCE) == "false"

        # what the caller passes explicitly still applies
        assert get_spark(shuffle_partitions=3) is spark
        assert spark.conf.get(WIDTH) == "3"
        assert get_spark(extra_conf={BROADCAST: "1234"}) is spark
        assert spark.conf.get(BROADCAST) == "1234"
        assert spark.conf.get(WIDTH) == "3"
        assert spark.conf.get(COALESCE) == "false"
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


_PROBE = """
import json
from ncpi_whistler_spark.session import get_spark

spark = get_spark()
keys = {keys!r}
print("PROBE " + json.dumps({{k: spark.conf.get(k) for k in keys}}))
spark.stop()
"""


needs_spark_submit = pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="needs spark-submit on PATH"
)


def _submit(tmp_path, keys: list[str], *launch: str) -> dict:
    """Run get_spark() in a spark-submit child; the conf values it sees."""
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(_PROBE).format(keys=keys))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            p for p in (repo, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # a local default that differs from every --master used below
        SPARK_GRAFT_CPUS="3",
    )
    proc = subprocess.run(
        ["spark-submit", "--driver-memory", "1g", *launch, str(script)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("PROBE ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    return json.loads(lines[-1][len("PROBE "):])


@needs_spark_submit
def test_get_spark_keeps_spark_submit_conf(tmp_path):
    aqe = "spark.sql.adaptive.enabled"
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    got = _submit(
        tmp_path,
        [WIDTH, aqe, BROADCAST, nanos],
        "--master", "local[2]",
        "--conf", f"{WIDTH}=3",
        "--conf", f"{aqe}=false",
    )
    # the launch's --conf wins over the engine defaults
    assert got[WIDTH] == "3"
    assert got[aqe] == "false"
    # keys the launch left unset still get them
    assert got[BROADCAST] == ENGINE_CONF[BROADCAST]
    assert got[nanos] == ENGINE_CONF[nanos]


@needs_spark_submit
def test_get_spark_keeps_spark_submit_master(tmp_path):
    # get_spark(master=None) must not replace the launch's --master with
    # the local[$SPARK_GRAFT_CPUS] default
    got = _submit(tmp_path, ["spark.master"], "--master", "local[2]")
    assert got["spark.master"] == "local[2]"


def _host_with(monkeypatch, gib: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)


def test_local_driver_heap_is_half_the_host_up_to_32g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _host_with(monkeypatch, 16)
    assert session._local_driver_memory() == "8192m"
    _host_with(monkeypatch, 15)
    assert session._local_driver_memory() == "7680m"
    _host_with(monkeypatch, 256)
    assert session._local_driver_memory() == "32768m"


def test_local_driver_heap_env_override_wins(monkeypatch):
    _host_with(monkeypatch, 16)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "48g")
    assert session._local_driver_memory() == "48g"
