"""The vendored pure-Python protobuf runtime must actually speak the
pb2 dialect PySpark's transform-with-state machinery generates: the
gencode declares runtime 6.x while the SDK vendors 4.x, and the shim
bets that the serialized-descriptor format is compatible. These tests
pin that bet: pb2 load, message round-trip, and single module
identity (no duplicate descriptor pools)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from streamz_postgres_spark.protobuf_shim import available, install


pytestmark = pytest.mark.skipif(
    not available(), reason="no protobuf runtime on this machine"
)


def test_install_and_pb2_roundtrip():
    assert install()
    import pyspark.sql.streaming.proto.StateMessage_pb2 as SM

    m = SM.StateRequest(version=7)
    m2 = SM.StateRequest()
    m2.ParseFromString(m.SerializeToString())
    assert m2.version == 7


def test_single_module_identity():
    assert install()
    import google.protobuf.descriptor_pool as dp

    # the alias must NOT create a second copy of the runtime: both
    # import names resolve to the same module object, hence the same
    # Default() descriptor-pool singleton
    real = sys.modules.get("cloudsdk.google.protobuf.descriptor_pool")
    if real is not None:
        assert dp is real


def test_plain_pythonpath_import():
    """Workers get only PYTHONPATH (no installer running first): a
    fresh interpreter with the vendor dir on PYTHONPATH must import
    google.protobuf cold — this is exactly how the TWS schema-check
    worker sees the runtime."""
    from streamz_postgres_spark.protobuf_shim import VENDOR_DIR

    code = textwrap.dedent(
        """
        from google.protobuf import descriptor_pool, symbol_database
        print("ok")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        env={"PYTHONPATH": VENDOR_DIR, "PATH": "/usr/bin:/bin"},
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_worker_pythonpath_vendor_only_where_aliased(monkeypatch):
    """Workers get the vendor dir only where ``install()`` aliased the
    vendored runtime in this process. Where a real protobuf is
    importable, ``install()`` leaves ``sys.path`` alone and the worker
    path holds the library dir alone, so the vendor copy cannot hide
    the real one."""
    from streamz_postgres_spark import protobuf_shim
    from streamz_postgres_spark.protobuf_shim import VENDOR_DIR, worker_pythonpath

    assert install()
    aliased = VENDOR_DIR in sys.path
    assert (worker_pythonpath("x").split(os.pathsep)[0] == VENDOR_DIR) == aliased
    monkeypatch.setattr(sys, "path", [p for p in sys.path if p != VENDOR_DIR])
    monkeypatch.setattr(protobuf_shim, "_real_runtime_importable", lambda: True)
    assert install()
    assert VENDOR_DIR not in sys.path
    parts = worker_pythonpath("x").split(os.pathsep)
    assert VENDOR_DIR not in parts
    assert parts[-1] == "x"
