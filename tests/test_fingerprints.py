"""Mechanical stale-change detection (VERDICT r7 #2).

A query with a driver row is stale when its current
``source_fingerprint`` differs from the FINGERPRINTS.json record of the
code that row certified, so an edit — to the query or to any helper it
reaches — needs no hand-kept list to be re-certified. These tests pin:

* ``test_fingerprint_covers_shared_helpers`` — the fingerprint includes
  transitively-referenced package helpers (the q92/q110 failure mode was
  a SHARED-helper rewrite, not an edit to the query functions);
* ``test_refresh_records_only_the_newest_artifact`` — the rule by which
  ``tools/update_fingerprints.py`` records a sha.
"""

from __future__ import annotations

from dataclasses import dataclass

from pandas_td_spark.queries.registry import (
    all_queries,
    certified_fingerprints,
    source_fingerprint,
)


def test_fingerprints_file_present_and_fresh():
    fps = certified_fingerprints()
    assert fps, "FINGERPRINTS.json missing/empty — run tools/update_fingerprints.py"


def test_refresh_records_only_the_newest_artifact():
    """A sha is recorded only for a query whose latest driver row comes
    from the newest artifact and is newer than its record; every other
    record stays as it is."""
    from tools.update_fingerprints import refreshed

    prev = {
        "q_old": {"sha": "a0", "round": 9},
        "q_same": {"sha": "b0", "round": 16},
        "q_gone": {"sha": "c0", "round": 3},
        "q_behind": {"sha": "d0", "round": 12},
    }
    latest = {
        "q_old": (16, "green"),
        "q_same": (16, "green"),
        "q_new": (16, "red"),
        "q_behind": (14, "green"),
    }
    current = {n: n + "-now" for n in ("q_old", "q_same", "q_new", "q_behind", "q_none")}
    out = refreshed(prev, latest, 16, current)
    assert out == {
        "q_old": {"sha": "q_old-now", "round": 16},
        "q_same": {"sha": "b0", "round": 16},
        "q_gone": {"sha": "c0", "round": 3},
        "q_behind": {"sha": "d0", "round": 12},
        "q_new": {"sha": "q_new-now", "round": 16},
    }
    assert prev["q_old"] == {"sha": "a0", "round": 9}, "prev must not be mutated"


def test_fingerprint_covers_shared_helpers():
    """q85 calls curation helpers (_words/_ngrams); its fingerprint must
    change if any of those helper sources change. We can't edit sources in
    a test, so pin the mechanism: the helper sources are part of the
    hashed blob (fingerprint differs from hashing the bare function)."""
    import hashlib
    import inspect

    q = all_queries()["q85_repetition_stats"]
    bare = hashlib.sha256(inspect.getsource(q.fn).encode()).hexdigest()[:16]
    full = source_fingerprint(q.fn)
    assert full != bare, "fingerprint did not include any helper sources"


def test_fingerprint_covers_function_local_imports():
    """q156 pulls with_global_ntile via a FUNCTION-LOCAL ``from ... import``
    (never visible in __globals__); before round 11 a rank-helper rewrite
    would not have moved q156's fingerprint — the exact silent-drift class
    the system exists to catch. Pin that the bytecode import scan covers
    it, transitively into the helper's own callees."""
    from pandas_td_spark.queries.registry import fingerprint_sources

    srcs = fingerprint_sources(all_queries()["q156_rfm_segments"].fn)
    assert "pandas_td_spark.operators.ranking.with_global_ntile" in srcs
    # transitive: the helper's internal callees are covered too
    assert "pandas_td_spark.operators.ranking._boundary_buckets" in srcs


def test_all_modules_import_without_session():
    """The fingerprint walker's import scan SILENTLY skips modules that
    fail to import, so an import-time SparkContext dependency (the r11
    _geomean DDL-string bug) makes fingerprint coverage vary with
    session state. Structurally prevent the class: every package module
    must import in a bare subprocess with no Spark session."""
    import subprocess
    import sys

    code = (
        "import importlib, pkgutil, pandas_td_spark\n"
        "bad = []\n"
        "for m in pkgutil.walk_packages(pandas_td_spark.__path__,"
        " 'pandas_td_spark.'):\n"
        "    try:\n"
        "        importlib.import_module(m.name)\n"
        "    except Exception as e:\n"
        "        bad.append(f'{m.name}: {e}')\n"
        "assert not bad, bad\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, (
        f"modules need a live session to import:\n{proc.stderr[-2000:]}"
    )


@dataclass(frozen=True)
class _Decorated:
    """A decorated class: ``inspect`` starts its source at the decorator."""

    x: int = 0


def test_class_source_matches_inspect():
    """The walk looks a class's start line up in one parse per file;
    every class it reaches from the registered queries, a function-local
    class and a decorated class must get exactly the source string
    ``inspect.getsource`` returns."""
    import inspect

    from pandas_td_spark.queries import registry

    registry.current_fingerprints()
    reached = [
        f
        for f, node in registry._SCANNED.values()
        if node is not None and inspect.isclass(f)
    ]
    assert reached, "the walk reached no class"

    def outer():
        class Nested:
            y = 1

        return Nested

    for cls in [*reached, outer(), _Decorated]:
        assert registry._class_source(cls) == inspect.getsource(cls), (
            cls.__qualname__
        )


def test_fingerprint_deterministic():
    q = all_queries()["q01_pricing_summary"]
    assert source_fingerprint(q.fn) == source_fingerprint(q.fn)
