"""LRU + release contract of engine/store.py (ADVICE r10).

The Spark-side block-release behavior is pinned in
tests/test_edge_cache.py (persistent-RDD count drops on evict); these
tests pin the store's behavior with stand-in sessions and frames: build
counts, LRU order (a hit refreshes its entry), capacity drops that never
release, explicit eviction that does, and release tolerance for
non-DataFrame values (the BPE memo stores collected row lists).
"""

from __future__ import annotations

import pytest

from pandas_td_spark.engine import store
from pandas_td_spark.engine.store import evict, memo, release_checkpoint


class _Session:
    """Stand-in session: hashable and weak-referenceable, like SparkSession."""


class _FakeFrame:
    """Records release attempts via the same attribute path the real
    release helper walks."""

    def __init__(self, log, name):
        self._log = log
        self._name = name

    @property
    def _jdf(self):
        self._log.append(self._name)
        raise RuntimeError("stop here — release attempt recorded")


@pytest.fixture(autouse=True)
def _private_store(monkeypatch):
    monkeypatch.setattr(store, "_ENTRIES", {})


def _get(session, i, log, builds):
    def build():
        builds.append(i)
        return _FakeFrame(log, i)

    return memo(session, ("k", i), build)


def test_lru_eviction_order_and_touch():
    log, builds = [], []
    s = _Session()
    for i in range(store._CAP):
        _get(s, i, log, builds)
    _get(s, 0, log, builds)  # a hit: 0 becomes most-recently-used
    assert builds == list(range(store._CAP))
    _get(s, store._CAP, log, builds)  # drops LRU = 1, not 0
    builds.clear()
    _get(s, 0, log, builds)
    assert builds == [], "the touched entry must survive the overflow"
    _get(s, 1, log, builds)
    assert builds == [1], "the least-recently-used entry is the one dropped"
    # capacity drops must NOT release storage: a caller may still hold
    # a lazy plan over the dropped checkpoint (r11 review — releasing
    # here would fail its deferred action with truncated lineage); GC
    # reclaims
    assert log == []


def test_cap_drops_down_not_clear():
    log, builds = [], []
    sessions = [_Session() for _ in range(store._CAP + 1)]
    for i, s in enumerate(sessions):
        _get(s, i, log, builds)
    builds.clear()
    # one entry freed — the other live entries, of any session, survive
    # (the old clear()-on-overflow dropped entries of other live fixtures)
    for i in range(1, store._CAP + 1):
        _get(sessions[i], i, log, builds)
    assert builds == []
    assert log == [], "capacity drop must not release (see above)"


def test_more_than_cap_keys_leave_at_most_cap_entries():
    log, builds = [], []
    s = _Session()
    for i in range(3 * store._CAP):
        _get(s, i, log, builds)
    assert len(store._ENTRIES) == store._CAP
    assert builds == list(range(3 * store._CAP))
    assert log == []


def test_evict_one_and_all_release():
    log = []
    a, b = _Session(), _Session()
    memo(a, "x", lambda: _FakeFrame(log, "a.x"))
    memo(a, ("y", 1), lambda: _FakeFrame(log, "a.y"))
    memo(b, "x", lambda: _FakeFrame(log, "b.x"))
    evict(a)
    assert log == ["a.x", "a.y"]
    evict(_Session())  # no-op
    evict()
    assert log == ["a.x", "a.y", "b.x"]
    assert store._ENTRIES == {}
    builds = []
    memo(a, "x", lambda: builds.append("a.x") or _FakeFrame(log, "a.x"))
    assert builds == ["a.x"], "an evicted entry rebuilds on the next call"


def test_release_tolerates_non_frames():
    release_checkpoint([("rank", "l", "r")])  # BPE stores row lists
    release_checkpoint(None)
    release_checkpoint(object())
    s = _Session()
    rows = memo(s, "bpe_merges", lambda: [("rank", "l", "r")])
    evict(s)
    assert rows == [("rank", "l", "r")]


def test_memo_builds_once_per_kind_and_view_dir():
    """A session's entries are its own: each key is built once for the
    views bound now, and the eviction a rebind of the views makes
    (register_views on another dir or on changed files) starts them
    over."""
    builds = []
    s = _Session()

    def base():
        builds.append("base")
        return "base"

    def derived():  # a build may memo another key of its own session
        builds.append("derived")
        return memo(s, "base", base) + "+derived"

    assert memo(s, "derived", derived) == "base+derived"
    assert memo(s, "base", base) == "base"
    assert memo(s, "derived", derived) == "base+derived"
    assert builds == ["derived", "base"]
    assert memo(_Session(), "base", base) == "base"  # its own entry
    assert builds == ["derived", "base", "base"]
    evict(s)  # what register_views does when it rebinds s's views
    assert memo(s, "base", base) == "base"
    assert builds == ["derived", "base", "base", "base"]
