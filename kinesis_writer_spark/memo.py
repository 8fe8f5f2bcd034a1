"""Central registry of cross-query memo caches.

Several operators memoize expensive shared intermediates per
(application, dataset) — the SimHash duplicate graph that q96/q144/q148/
q239/q243/q255 all consume, the trained IVF/PQ codebooks, the perceptron
model weights. That sharing is the *production* shape (a real pipeline
computes the duplicate graph once), but it muddies per-query benchmark
attribution: the first consumer pays, every later one reads the memo in
milliseconds, and a regression in the shared computation becomes invisible
in any later consumer's number (r5 verdict "What's wrong #1": q96 recorded
0.076 s memo-warm vs 5.5 s cold).

Cache-owning modules call :func:`register` at definition time;
``bench.py`` calls :func:`clear_all` before each measured query so every
per-query figure reflects that query's own full cost (memo-cold), while
the memo path stays on for production and tests.
"""

from __future__ import annotations

import logging
from typing import MutableMapping

_log = logging.getLogger(__name__)

#: concurrency (r13 singleton audit): register() appends only at module
#: import (serialized by the import lock); clear_all() runs from the bench
#: harness / tests on one thread while cache-OWNING modules may insert from
#: other driver threads. Safe without a lock because every step is
#: GIL-atomic or snapshot-based: list iteration sees a stable prefix,
#: ``list(c.values())`` snapshots before release, and ``c.clear()`` is one
#: atomic op. Worst interleaving: an entry inserted mid-clear is either
#: cleared with the rest or survives into the next cycle — cache semantics
#: either way, never corruption. Per-cache check-then-insert races are the
#: OWNER's contract (see _IVF_CACHE_LOCK, _NEARDUP_CACHE_LOCK,
#: _SINK_LIMITERS_LOCK, and the no-lock notes on _PCT_CACHE/_PREFIXES).
_CACHES: list[MutableMapping] = []

#: warn-once flag: the localCheckpoint block release below reaches through
#: private py4j plan internals; if a PySpark upgrade changes the plan shape
#: the broad except would silently no-op the release and reintroduce the
#: executor-memory leak it fixes (r7 ADVICE finding #2) — log the first
#: failure so the regression is visible (tests/test_caches.py pins the
#: actual block-release behavior per supported Spark version).
_jvm_release_warned = False

#: warn-once flag for a memo value whose own ``unpersist()`` raises: the
#: clear goes on (every cache still empties), but the first failure is
#: logged so a leaking release is visible rather than swallowed.
_unpersist_warned = False


def register(cache: MutableMapping) -> MutableMapping:
    """Record a module-level memo cache; returns it for inline use."""
    _CACHES.append(cache)
    return cache


def clear_all() -> int:
    """Empty every registered memo cache; returns how many held entries.

    DataFrame-valued entries may hold localCheckpointed blocks; unpersist
    them best-effort before dropping the reference, so the memo-cold bench
    pass does not accumulate orphaned checkpoint blocks (executor memory
    pressure mid-measurement) while waiting for driver GC.
    """
    global _jvm_release_warned, _unpersist_warned
    n = sum(1 for c in _CACHES if c)
    for c in _CACHES:
        for v in list(c.values()):
            unpersist = getattr(v, "unpersist", None)
            if callable(unpersist):
                try:
                    unpersist()
                except Exception as exc:
                    if not _unpersist_warned:
                        _unpersist_warned = True
                        _log.warning(
                            "memo entry unpersist() failed (%r); its blocks "
                            "are left to driver GC",
                            exc,
                        )
            # DataFrame.unpersist() only reaches CacheManager blocks; a
            # localCheckpointed DataFrame keeps its blocks in an internal
            # RDD the CacheManager cannot see (its plan is a LogicalRDD),
            # and a checkpoint_clean-produced frame keeps them one step
            # further away, on its hidden ``_stats_clean_origin``
            # checkpoint (the re-bound LogicalRDD's rdd() is a scan
            # wrapper whose unpersist is a no-op — r8 ADVICE finding #1).
            # operators._util.release_checkpoint handles both shapes.
            # An entry that is NEITHER (plain lineage plan, no origin
            # attr) holds blocks this release cannot see — warn once, so
            # cache-owning modules learn to checkpoint what they memoize.
            jdf = getattr(v, "_jdf", None)
            if jdf is None:
                continue  # non-DataFrame memo value (weights dict, tuple)
            from .operators._util import release_checkpoint

            # release_checkpoint reports the outcome (and logs its own
            # private-API failures once) — no second JVM probe here
            status = release_checkpoint(v)
            if status.startswith("skipped") and not _jvm_release_warned:
                _jvm_release_warned = True
                _log.warning(
                    "memo entry is not a (checkpoint_clean-ed) "
                    "localCheckpoint (%s); its blocks are left to "
                    "driver GC — cache a checkpointed frame",
                    status,
                )
        c.clear()
    return n
