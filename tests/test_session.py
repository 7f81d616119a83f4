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

from ncpi_whistler_spark import cli
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


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="needs spark-submit on PATH"
)
def test_get_spark_keeps_spark_submit_conf(tmp_path):
    aqe = "spark.sql.adaptive.enabled"
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    script = tmp_path / "probe.py"
    script.write_text(
        textwrap.dedent(_PROBE).format(keys=[WIDTH, aqe, BROADCAST, nanos])
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            p for p in (repo, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--driver-memory", "1g",
            "--conf", f"{WIDTH}=3",
            "--conf", f"{aqe}=false",
            str(script),
        ],
        env=env, capture_output=True, text=True, timeout=300,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("PROBE ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    got = json.loads(lines[-1][len("PROBE "):])
    # the launch's --conf wins over the engine defaults
    assert got[WIDTH] == "3"
    assert got[aqe] == "false"
    # keys the launch left unset still get them
    assert got[BROADCAST] == ENGINE_CONF[BROADCAST]
    assert got[nanos] == ENGINE_CONF[nanos]
