"""One registry for the session-scoped shared-stage memos.

Several query families build a stage once per Spark session and let
every later consumer ride it: the curve and events diff banks, the
tokenized corpus and its derived streams, quality signals, trained
codebooks and tokenizers, staged input fixtures, ranked eval sets.
All of them go through this module:

* ``memo(name, key, build)`` looks ``key`` up in the dict registered
  under ``name`` (created the first time the name is used); on a miss
  it calls ``build()``, stamps the build in ``MEMO_BUILDS`` and stores
  the value.
* ``@memoized(name)`` is the common case: the wrapped function's bound
  arguments, defaults applied, are the key — so ``f(s, d)`` and
  ``f(s, d, cap=<default>)`` share one entry.

Keys start with the live SparkSession (or something derived from it),
so a new session never rides another session's checkpoints. The
registry knows nothing about DataFrames: build bodies do their own
``localCheckpoint()`` and side effects (staged files, catalog tables).

A long-lived session that processes many datasets accumulates
checkpoint blocks; ``clear_stage_caches()`` drops every entry of every
registered memo — call it between datasets in a long-running service.
"""

from __future__ import annotations

import functools
import inspect
import time
from typing import Any, Callable, Hashable

# Build-time telemetry: one {"name", "sec", "payer"} entry per memo
# build.  The bench sets ``CURRENT_CONSUMER`` to the query paying for
# the build, so amortized numbers decompose into build vs ride from the
# artifact alone.  Builds nest (a memo whose build rides another memo's
# build), so a parent's ``sec`` includes its children's.  The list is
# trimmed in place to the newest ``MEMO_BUILDS_MAX`` entries — enough
# for every pass of a full bench run — so a long-lived session does not
# grow it forever.
MEMO_BUILDS: list[dict] = []
MEMO_BUILDS_MAX = 10_000
CURRENT_CONSUMER: str | None = None

# memo name -> {key: value}
_MEMOS: dict[str, dict] = {}


def memo(name: str, key: Hashable, build: Callable[[], Any]) -> Any:
    """The value stored under ``key`` in memo ``name``; built by
    ``build()`` (and the build stamped in ``MEMO_BUILDS``) on a miss."""
    entries = _MEMOS.setdefault(name, {})
    if key in entries:
        return entries[key]
    t0 = time.perf_counter()
    value = build()
    MEMO_BUILDS.append(
        {
            "name": name,
            "sec": round(time.perf_counter() - t0, 3),
            "payer": CURRENT_CONSUMER,
        }
    )
    if len(MEMO_BUILDS) > MEMO_BUILDS_MAX:
        del MEMO_BUILDS[: len(MEMO_BUILDS) - MEMO_BUILDS_MAX]
    entries[key] = value
    return value


def memoized(name: str):
    """Decorator: memoize the function in memo ``name``, keyed on its
    bound arguments with defaults applied (all must be hashable)."""

    def wrap(fn):
        sig = inspect.signature(fn)
        _MEMOS.setdefault(name, {})  # listed by stage_cache_stats from import on

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            bound = sig.bind(*args, **kwargs)
            bound.apply_defaults()
            key = tuple(bound.arguments.values())
            return memo(name, key, lambda: fn(*args, **kwargs))

        return inner

    return wrap


def clear_stage_caches(spark=None) -> int:
    """Drop every memoized shared stage; returns the number of entries
    cleared. Safe at any time — the next consumer simply rebuilds.

    The memos hold ``localCheckpoint``-ed DataFrames whose executor
    blocks are NOT freed by clearing the dicts — they linger until
    Python GC and the py4j finalizer queue get around to them, which
    under a long benchmark session shows up as storage-memory pressure
    and GC pauses. Pass the ``spark`` session to also unpersist every
    persistent RDD immediately (safe here: after the dicts are cleared
    nothing references the checkpoint blocks; per-query transient
    checkpoints are rebuilt by the next query anyway)."""
    n = 0
    for entries in _MEMOS.values():
        n += len(entries)
        entries.clear()
    if spark is not None:
        # py4j exposes the JavaSparkContext's map as a dict-like view
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)
    return n


def stage_cache_stats() -> dict[str, int]:
    """Entry count per registered memo (for diagnostics/monitoring)."""
    return {name: len(entries) for name, entries in _MEMOS.items()}
