#!/usr/bin/env python
"""Record in FINGERPRINTS.json what the newest driver artifact certified.

Usage: ``python tools/update_fingerprints.py`` from a checkout whose
``pandas_td_spark/`` is the tree the driver tested, i.e. unchanged since
the commit that added the newest ``CORRECTNESS_r*.json``.

For each query whose latest driver row comes from that artifact and is
newer than its record, the query's current ``source_fingerprint`` is
recorded with the artifact's round. Every other record is kept as it is.
A query whose fingerprint later moves away from its record is stale, and
the driver order re-certifies it (``registry._is_stale``).

The tool exits 1 without writing when ``pandas_td_spark/`` differs from
the commit that added the newest artifact: recording the current code
then would mark changes the driver never ran as certified.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pandas_td_spark.queries.registry import (  # noqa: E402
    _driver_artifacts,
    _latest_driver_round,
    certified_fingerprints,
    current_fingerprints,
)


def refreshed(
    prev: dict,
    latest: dict[str, tuple[int, str]],
    newest: int,
    current: dict[str, str],
) -> dict:
    """``prev`` with a ``{"sha", "round": newest}`` record for each query
    in ``current`` whose latest driver row is from round ``newest`` and
    newer than its record in ``prev`` (or that has none)."""
    out = dict(prev)
    for name, sha in current.items():
        row = latest.get(name)
        rec = prev.get(name)
        if row is None or row[0] != newest:
            continue
        if isinstance(rec, dict) and rec.get("round", 0) >= newest:
            continue
        out[name] = {"sha": sha, "round": newest}
    return out


def _tree_is_tested(artifact: str) -> bool:
    """True when ``pandas_td_spark/`` equals the commit that added
    ``artifact`` (the tree the driver ran)."""
    added = subprocess.run(
        ["git", "log", "--diff-filter=A", "--format=%H", "-1", "--",
         os.path.basename(artifact)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip()
    if not added:
        print(f"{os.path.basename(artifact)} is not committed", file=sys.stderr)
        return False
    diff = subprocess.run(
        ["git", "diff", "--quiet", added, "--", "pandas_td_spark"], cwd=ROOT
    )
    if diff.returncode != 0:
        print(
            f"pandas_td_spark/ differs from {added[:12]}, which added "
            f"{os.path.basename(artifact)}: refusing to record untested code",
            file=sys.stderr,
        )
        return False
    return True


def main() -> int:
    artifacts = _driver_artifacts()
    if not artifacts:
        print("no CORRECTNESS_r*.json artifact", file=sys.stderr)
        return 1
    newest, artifact = artifacts[-1]
    if not _tree_is_tested(artifact):
        return 1
    prev = certified_fingerprints()
    out = refreshed(prev, _latest_driver_round(), newest, current_fingerprints())
    with open(os.path.join(ROOT, "FINGERPRINTS.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    moved = sum(out[n] != prev.get(n) for n in out)
    print(f"FINGERPRINTS.json: {moved} recorded at round {newest}, "
          f"{len(out) - moved} kept")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
