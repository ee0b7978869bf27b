from __future__ import annotations

import sys
import tempfile
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from dle.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session", autouse=True)
def session_tempdir(tmp_path_factory):
    """Keep the engine's temp-dir state (checkpoint roots keyed by the
    input's fingerprint) inside this session: a root left by an earlier
    run against the same data would make the resume gates resume pass 1
    too and never compute."""
    prev = tempfile.tempdir
    tempfile.tempdir = str(tmp_path_factory.mktemp("tempdir"))
    yield
    tempfile.tempdir = prev


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dle-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
