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

pytest_plugins = ["pytester"]


def _jvm_gone(exc: BaseException | None) -> bool:
    """True when ``exc`` (or an exception it was raised from) says the
    JVM behind py4j is unreachable: a ``Py4JNetworkError``, or a
    ``ConnectionRefusedError`` raised inside py4j's own socket code."""
    from py4j.protocol import Py4JNetworkError

    seen = set()
    while exc is not None and id(exc) not in seen:
        seen.add(id(exc))
        if isinstance(exc, Py4JNetworkError):
            return True
        if isinstance(exc, ConnectionRefusedError):
            tb = exc.__traceback__
            while tb is not None:
                if "py4j" in tb.tb_frame.f_code.co_filename:
                    return True
                tb = tb.tb_next
        exc = exc.__cause__ or exc.__context__
    return False


def pytest_exception_interact(node, call, report):
    """Once the JVM is gone every later Spark test fails the same way;
    stop the run at the first such failure with one message instead."""
    if call.excinfo is not None and _jvm_gone(call.excinfo.value):
        pytest.exit(
            f"the Spark JVM is unreachable (first seen in {node.nodeid}); "
            "stopping the run instead of failing every later Spark test",
            returncode=pytest.ExitCode.TESTS_FAILED,
        )


SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s
    try:
        s.stop()
    except Exception as exc:  # a dead JVM was already reported once
        if not _jvm_gone(exc):
            raise


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001
