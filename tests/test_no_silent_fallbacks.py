"""No silent fallbacks on the served path: a bare ``except`` or an
``except Exception: pass`` there turns an error into a silently different
answer. Handlers must re-raise, log, or narrow the exception type."""

from __future__ import annotations

import ast
import glob
import os
import textwrap

import pandas_td_spark

_PKG = os.path.dirname(pandas_td_spark.__file__)
_GUARDED = (
    "compat.py",
    "sources/io.py",
    "engine/*.py",
    "functions/*.py",
    "streaming/jobs.py",
    "operators/ranking.py",
    "operators/similarity.py",
)


def _silent_handler_lines(src: str) -> list[int]:
    """Line numbers of bare ``except`` handlers and of ``except
    Exception`` handlers whose body is only ``pass``."""
    lines = []
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.ExceptHandler):
            continue
        swallowed = (
            isinstance(node.type, ast.Name)
            and node.type.id == "Exception"
            and all(isinstance(s, ast.Pass) for s in node.body)
        )
        if node.type is None or swallowed:
            lines.append(node.lineno)
    return lines


def test_guarded_files_have_no_silent_fallbacks():
    paths = sorted(
        p for pat in _GUARDED for p in glob.glob(os.path.join(_PKG, pat))
    )
    assert len(paths) >= len(_GUARDED), "a guarded file moved: update the list"
    offenders = []
    for path in paths:
        with open(path) as f:
            for line in _silent_handler_lines(f.read()):
                offenders.append(f"{os.path.relpath(path, _PKG)}:{line}")
    assert not offenders, f"bare or swallowed except handlers: {offenders}"


def test_detector_flags_bare_and_swallowed_only():
    src = textwrap.dedent(
        """\
        try:
            f()
        except:
            g()
        try:
            f()
        except Exception:
            pass
        try:
            f()
        except Exception as exc:
            log(exc)
        try:
            f()
        except ValueError:
            pass
        """
    )
    assert _silent_handler_lines(src) == [3, 7]
