"""What importing the package and building a session do to the process:
the streaming package import must leave the environment alone, the
driver-memory default must fit the host it runs on, and checkpoint files
go through the checkpoint manager the session names.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from kafka_streams_one_to_many_join_spark import session

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)

_PROBE = """
import json, os, sys
import kafka_streams_one_to_many_join_spark.streaming
print(json.dumps({
    "pythonpath": os.environ.get("PYTHONPATH"),
    "version_check_knob": os.environ.get(
        "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"),
    "protobuf_modules": sorted(
        m for m in sys.modules if m.startswith("google.protobuf")),
}))
"""


def test_streaming_import_has_no_environment_side_effects(tmp_path):
    """Importing the streaming package in a fresh interpreter leaves
    PYTHONPATH as it was, sets no protobuf version-check knob and loads
    no protobuf runtime: every streaming operator runs on
    applyInPandasWithState, which needs none of them."""
    env = dict(os.environ, PYTHONPATH=_REPO_ROOT)
    env.pop("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", None)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=tmp_path, env=env, capture_output=True, text=True, check=True,
    ).stdout
    seen = json.loads(out.strip().splitlines()[-1])
    assert seen == {
        "pythonpath": _REPO_ROOT,
        "version_check_knob": None,
        "protobuf_modules": [],
    }


def _fake_sysconf(ram_bytes: int):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_bytes // 4096}
    return lambda name: pages[name]


def test_driver_memory_default_fits_the_host(monkeypatch):
    """The default is ¾ of physical RAM, capped at 16g; without
    sysconf it falls back to the 16g cap."""
    monkeypatch.setattr(session.os, "sysconf", _fake_sysconf(16 * 2**30))
    assert session._default_driver_memory() == "12288m"
    monkeypatch.setattr(session.os, "sysconf", _fake_sysconf(128 * 2**30))
    assert session._default_driver_memory() == "16384m"

    def _no_sysconf(name):
        raise ValueError(name)

    monkeypatch.setattr(session.os, "sysconf", _no_sysconf)
    assert session._default_driver_memory() == "16g"


def test_checkpoint_manager_reaches_the_streaming_hadoop_conf(spark):
    """Checkpoint logs and state changelogs are written through the
    FileSystem-based manager (no ``readlink`` fork per rename; see the
    ``session`` docstring).  Spark's checkpoint-manager factory reads the
    class from the session's Hadoop conf, so that is where it is pinned."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    assert hadoop_conf.get(key) == session.CHECKPOINT_FILE_MANAGER
    assert spark._jvm.java.lang.Class.forName(session.CHECKPOINT_FILE_MANAGER)
