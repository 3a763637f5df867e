from __future__ import annotations

import os
import sys

import pytest


sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# Make the transformWithState parity test runnable without a
# pip-installed protobuf. Runs at conftest import — BEFORE the
# session-scoped SparkSession starts its JVM — so the PYTHONPATH export
# is inherited by the tws state-server worker processes. Full rationale
# (namespace-package shim, version-check escape hatch, graceful no-op)
# lives with the shared implementation in tools/pb_shim.py.
from tools.pb_shim import enable_bundled_protobuf  # noqa: E402

enable_bundled_protobuf()

from vector_database_watermarking_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001
