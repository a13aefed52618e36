"""The one store for state derived from a session's files.

Everything a session memoizes across calls lives here, keyed by
``(session, key)``:

* per-corpus model frames — dedup pair sets, SimHash signatures, the
  LSH index (queries/llm.py), DSIR weights, BPE merges
  (queries/curation.py) and the co-purchase graph's order-part, edge,
  oriented and adjacency frames (queries/advanced.py);
* the anchor rows of the anchored SemDeDup cells
  (operators/similarity.py) and the literal bucket boundaries of the
  global rank operators (operators/ranking.py), keyed by the analyzed
  plan's semantic hash.

The store sits below ``sources``, ``operators`` and ``queries`` so all
of them can use it:

* ``memo(spark, key, build)`` returns the ``(spark, key)`` entry,
  calling ``build()`` once on a miss; ``key`` is any hashable. A
  session's entries always belong to the views it has bound now:
  ``sources.io.register_views`` evicts them whenever it rebinds them
  (another dir, or any change to the files of the bound one), so an
  entry keyed by a plan hash over a view follows the files too.
  Entries are dropped LEAST-RECENTLY-USED (a hit refreshes its entry)
  past ``_CAP``. A capacity drop DROPS references only: callers may
  still hold lazy plans over a dropped checkpoint (a query's
  unexecuted frame over the edges, say), so its blocks stay alive
  until Python GC (releasing here would fail those deferred actions
  with unrecoverable truncated lineage);
* ``evict(spark)`` is EXPLICIT invalidation (``register_views`` on a
  rebind): the data is wrong anyway, so it releases every frame of the
  session's entries eagerly via ``release_checkpoint``. Bare
  ``evict()`` releases every entry;
* ``release_checkpoint`` frees a local checkpoint's blocks through the
  analyzed plan's ``LogicalRDD`` — ``DataFrame.unpersist()`` only clears
  CacheManager entries and does nothing for checkpoints. A stopped or
  torn-down SparkContext degrades to a no-op (the blocks died with it).
"""

from __future__ import annotations

__all__ = ["release_checkpoint", "memo", "evict"]

#: Entries kept before the least-recently-used one is dropped. Running
#: every registry query at sf0.001 in one session peaks at 19 entries
#: (9 model frames, 9 boundary lists, 1 anchor list), so three sessions'
#: whole working sets fit.
_CAP = 64

# (spark, key) -> value; dict order is the LRU order
_ENTRIES: dict = {}


def release_checkpoint(df) -> None:
    """Best-effort eager release of a localCheckpoint frame's RDD blocks
    (verified against pyspark 4.1: persistent-RDD count drops to zero).
    Tolerates dead contexts and non-checkpoint frames — eviction must
    never fail a query. But (ADVICE r11) a failure on a frame whose
    SparkContext is still LIVE means the private plan surface this walks
    (queryExecution/analyzed/rdd) moved under us, silently degrading
    eager release back to GC-timed release — warn once so the drift is
    visible beyond the pinned-CI pyspark version."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        try:
            from pyspark import SparkContext
            from pyspark.sql import DataFrame

            sc = SparkContext._active_spark_context
            ctx_live = (
                isinstance(df, DataFrame)  # lists/None fail by design
                and sc is not None
                and not sc._jsc.sc().isStopped()
            )
        except Exception:
            ctx_live = False
        if ctx_live and not release_checkpoint._warned:
            release_checkpoint._warned = True
            import warnings

            warnings.warn(
                "release_checkpoint failed on a live SparkContext — "
                "eager checkpoint-block release degraded to GC-timed "
                "release (pyspark private plan API drift?)",
                RuntimeWarning,
                stacklevel=2,
            )


release_checkpoint._warned = False


def memo(spark, key, build):
    """Return ``spark``'s ``key`` entry, calling ``build()`` once on a
    miss. ``build`` may itself call ``memo`` for another key."""
    entry = (spark, key)
    if entry in _ENTRIES:
        _ENTRIES[entry] = _ENTRIES.pop(entry)
        return _ENTRIES[entry]
    value = build()
    while len(_ENTRIES) >= _CAP:
        _ENTRIES.pop(next(iter(_ENTRIES)))  # reference only, see above
    _ENTRIES[entry] = value
    return value


def evict(spark=None) -> None:
    """Release-and-drop ``spark``'s entries, or every entry when called
    bare."""
    for entry in [e for e in _ENTRIES if spark is None or e[0] is spark]:
        release_checkpoint(_ENTRIES.pop(entry))
