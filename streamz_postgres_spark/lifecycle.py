"""Invocation-scoped lifetime for what an operator hands out lazily:
persisted frames, localCheckpoint frames, scratch dirs and the
catalog tables over them.

An operator returns a LAZY DataFrame — the caller collects later —
so it cannot release on exit what that plan still reads (a cached
frame, checkpoint blocks, the staged files behind a file scan). The
one policy, for every kind of scratch, is "the NEXT invocation
releases the previous invocation's scratch":

- **Thread-scoped slots.** A slot is keyed by (operator key, thread
  id) and holds release callables, so invocation N+1 on thread A
  releases only thread A's previous scratch — a concurrent
  evaluation on thread B is never touched (a shared module-global
  list let B's call delete the staged files A's un-collected plan
  was about to scan).
- **A lock around slot mutation**, so the pop/acquire/store sequence
  is atomic under concurrent calls.
- **Release, then acquire** (see :func:`_release_slot`).

The last scratch per (operator, thread) stays held until that
thread's next invocation; ``release_all()`` lets tests and
long-lived hosts drop everything deterministically, and every
scoped dir still held is removed at interpreter exit. Scratch that
lives only within one call is a ``tempfile.TemporaryDirectory``
at the call site, not a slot.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame

_SLOTS: dict[tuple[str, int], list[Callable[[], None]]] = {}
_LOCK = threading.Lock()
#: scoped dirs not yet removed (the interpreter-exit sweep's list)
_HELD: set[str] = set()


def _run(releases: list[Callable[[], None]]) -> None:
    # newest first: a catalog table is dropped before its dir goes
    for release in reversed(releases):
        release()


def _release_slot(key: str, fresh: bool) -> None:
    """Run (and drop) the slot's previous releases if ``fresh``.

    Must run BEFORE the new frames are persisted: Spark's CacheManager
    keys entries by canonicalized plan, so when invocation N+1 builds
    a plan identical to invocation N (the common repeated-call case),
    persisting the new frame first would be a no-op on the already
    cached entry and the subsequent unpersist of the "previous" frame
    would evict that shared entry — silently voiding the caching this
    helper exists to provide (round-6 advisor finding)."""
    if not fresh:
        return
    slot = (key, threading.get_ident())
    with _LOCK:
        prev = _SLOTS.pop(slot, [])
    _run(prev)


def _store(key: str, releases: list[Callable[[], None]], fresh: bool) -> None:
    slot = (key, threading.get_ident())
    with _LOCK:
        if fresh:
            _SLOTS[slot] = releases
        else:
            _SLOTS.setdefault(slot, []).extend(releases)


def free(frame: DataFrame) -> None:
    """Unpersist ``frame`` and, when it is a localCheckpoint result
    (its analyzed plan is the ``LogicalRDD`` over the checkpointed
    RDD), that RDD's blocks too: ``DataFrame.unpersist`` only drops
    CacheManager entries and leaves checkpoint blocks in executor
    storage. Reading the frame afterwards fails loudly
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), the checkpoint's contract."""
    frame.unpersist()
    plan = frame._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def _remove(path: str) -> None:
    _HELD.discard(path)
    shutil.rmtree(path, ignore_errors=True)


def persist_scoped(key: str, *frames: DataFrame, fresh: bool = True) -> None:
    """Persist ``frames`` under the (key, current-thread) slot.
    ``fresh=True`` (one call per operator invocation) first releases
    whatever the same slot held from a previous invocation;
    ``fresh=False`` appends to the slot (multi-stage operators that
    pin several frames across one logical invocation, e.g. zip_seq's
    inner with_seq calls). Release happens before persist — see
    :func:`_release_slot` for why the order is load-bearing."""
    _release_slot(key, fresh)
    for f in frames:
        f.persist()
    _store(key, [f.unpersist for f in frames], fresh)


def track_scoped(key: str, *frames: DataFrame, fresh: bool = True) -> None:
    """Track already-materialized frames (e.g. localCheckpoint
    results, whose blocks must also outlive the returned lazy plan)
    for release on the slot's next fresh store — without calling
    ``persist`` on them. Release frees checkpoint blocks (:func:`free`)."""
    _release_slot(key, fresh)
    _store(key, [partial(free, f) for f in frames], fresh)


def scoped_dir(key: str, prefix: str) -> str:
    """A fresh scratch dir under the (key, current-thread) slot, for
    files the returned lazy plan reads. The slot's previous scratch
    is released first; this dir goes at the thread's next invocation
    of ``key``, at ``release_all()`` or at interpreter exit."""
    _release_slot(key, True)
    path = tempfile.mkdtemp(prefix=prefix)
    _HELD.add(path)
    _store(key, [partial(_remove, path)], False)
    return path


def defer(key: str, release: Callable[[], None]) -> None:
    """Add ``release`` to the (key, current-thread) slot: it runs,
    before anything the slot held earlier, at the slot's next release
    (e.g. dropping the catalog tables over a :func:`scoped_dir`)."""
    _store(key, [release], False)


def release_scoped(key: str) -> None:
    """Release the (key, current-thread) slot now — for operators
    that pin several frames via ``fresh=False`` appends and need one
    explicit drain point up front (e.g. zip_seq)."""
    _release_slot(key, fresh=True)


def release_all() -> None:
    """Release everything every slot holds (tests, shutdown)."""
    with _LOCK:
        held = [r for releases in _SLOTS.values() for r in releases]
        _SLOTS.clear()
    _run(held)


@atexit.register
def _remove_held_dirs() -> None:
    # only dirs: frames and catalog tables die with the JVM anyway
    for path in list(_HELD):
        _remove(path)
