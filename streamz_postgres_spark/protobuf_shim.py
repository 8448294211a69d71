"""Driver-side entry points for the vendored protobuf runtime.

``transformWithStateInPandas`` (Spark 4's typed arbitrary-state API,
SURVEY §2.5) speaks protobuf between Python processes and the JVM
state server. This container has no installable protobuf, but the
(public) Google Cloud SDK on the image vendors a pure-Python runtime;
``_vendor/google/protobuf/__init__.py`` aliases it to the standard
import names. This module decides availability and wires the vendor
dir into driver ``sys.path`` and worker ``PYTHONPATH``.

Worker delivery: ``sc.environment`` is captured into every Python
function's env vars at UDF-creation time and applied when Spark
spawns worker processes — including the one-shot TWS schema-check
worker, which imports ``StateMessage_pb2`` before any user code runs
(so installing from inside the stateful processor would be too late).
``catalog.ship_package`` therefore runs ``install()`` and then
prepends ``worker_pythonpath`` to ``sc.environment["PYTHONPATH"]``
once per application, before any engine query is built. On a real
cluster, ship the repo (or just ``_vendor/``) to executors and add it
to ``spark.executorEnv.PYTHONPATH`` — or simply ``pip install
protobuf`` there. A real install wins on the driver and the workers:
``install()`` no-ops when ``google.protobuf`` is already importable,
and ``worker_pythonpath`` adds the vendor dir only where ``install()``
put it on this process's ``sys.path``.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys

VENDOR_DIR = os.path.join(os.path.dirname(__file__), "_vendor")
_SDK_THIRD_PARTY = "/usr/lib/google-cloud-sdk/lib/third_party"


def _real_runtime_importable() -> bool:
    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except (ImportError, ModuleNotFoundError):
        return False


def available() -> bool:
    """True iff a protobuf runtime is importable or alias-able."""
    if _real_runtime_importable():
        return True
    return os.path.isdir(os.path.join(_SDK_THIRD_PARTY, "cloudsdk"))


def install() -> bool:
    """Idempotently make ``google.protobuf`` importable in THIS
    process; return success."""
    if _real_runtime_importable():
        return True
    if not os.path.isdir(os.path.join(_SDK_THIRD_PARTY, "cloudsdk")):
        return False
    if VENDOR_DIR not in sys.path:
        sys.path.insert(0, VENDOR_DIR)
    try:
        importlib.import_module("google.protobuf")
    except (ImportError, ModuleNotFoundError):
        sys.path.remove(VENDOR_DIR)
        return False
    return True


def worker_pythonpath(existing: str | None = None) -> str:
    """PYTHONPATH value that makes workers resolve this library and,
    where ``install()`` aliased the vendored runtime in this process,
    the vendor package too (prepended so they win over partial
    installs). The vendor dir is left out where a real protobuf is
    importable: a vendor copy ahead of it would hide it. The library
    dir matters for the TWS driver-side schema-check runner: it
    unpickles the stateful processor (whose methods pickle by
    reference to this module) BEFORE any addPyFile-shipped archive
    lands on its sys.path, so only PYTHONPATH can make the import
    resolve — cwd-dependence here broke the query whenever the
    driver ran outside the repo root."""
    head = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if VENDOR_DIR in sys.path:
        head = VENDOR_DIR + os.pathsep + head
    return head + (os.pathsep + existing if existing else "")
