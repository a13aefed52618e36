"""Magic arg-parsing / substitution tests (reference test_ipython.py
spirit — SURVEY §5) plus S7 format round-trips; no notebook required."""

from __future__ import annotations

import tempfile

import pytest

from pandas_td_spark.ipython import parse_magic_args, substitute_vars


def test_parse_magic_args():
    a = parse_magic_args("-o result -n presto:mydb")
    assert (a.out, a.dry_run, a.engine_url) == ("result", True, "presto:mydb")
    a = parse_magic_args("")
    assert (a.out, a.dry_run, a.quiet, a.engine_url) == (
        None,
        False,
        False,
        None,
    )
    a = parse_magic_args("--quiet -c con2")
    assert a.quiet and a.connection == "con2"


def test_substitute_vars():
    assert (
        substitute_vars("SELECT * FROM t WHERE x > {lo}", {"lo": 5})
        == "SELECT * FROM t WHERE x > 5"
    )
    # unknown tokens pass through untouched (SQL braces stay valid)
    assert substitute_vars("SELECT '{not_a_var}'", {}) == "SELECT '{not_a_var}'"


def test_magics_under_live_ipython_kernel(spark, tmp_path):
    """M4 end-to-end: register the magics on a REAL InteractiveShell and
    drive the full reference surface — %td_databases/%td_tables/%td_use/
    %td_jobs line magics and the %%td_presto cell magic with {var}
    substitution, -o binding, -n dry-run and -c connection selection."""
    ipython = pytest.importorskip("IPython")
    from IPython.core.interactiveshell import InteractiveShell

    import pandas as pd

    import pandas_td_spark as td

    shell = InteractiveShell.instance()
    try:
        shell.run_line_magic("load_ext", "pandas_td_spark.ipython")

        con = td.connect(warehouse=str(tmp_path), spark=spark)
        td.to_td(
            pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]}),
            "mydb.t1",
            con,
            index=False,
            time_value=0,
        )
        shell.user_ns["mycon"] = con
        shell.user_ns["lo"] = 2

        # line magics against the isolated connection's warehouse
        dbs = shell.run_line_magic("td_databases", "")
        assert isinstance(dbs, pd.DataFrame)  # default warehouse may differ

        # cell magic: -c picks the namespace connection, {lo} substitutes,
        # -o binds the pandas result
        out = shell.run_cell_magic(
            "td_presto", "-c mycon -o res presto:mydb",
            "SELECT x, y FROM t1 WHERE x >= {lo} ORDER BY x",
        )
        assert out is not None
        res = shell.user_ns["res"]
        assert list(res.x) == [2, 3] and list(res.y) == ["b", "c"]

        # -q suppresses the return value but still binds -o
        quiet = shell.run_cell_magic(
            "td_sql", "-q -c mycon -o res2 presto:mydb",
            "SELECT COUNT(*) AS n FROM t1",
        )
        assert quiet is None
        assert int(shell.user_ns["res2"].n.iloc[0]) == 3

        # dry-run prints the substituted SQL, executes nothing
        dry = shell.run_cell_magic(
            "td_hive", "-n -c mycon presto:mydb",
            "SELECT * FROM t1 WHERE x > {lo}",
        )
        assert dry is None

        # %td_jobs sees the two executed queries
        jobs = shell.run_line_magic("td_jobs", "")
        assert isinstance(jobs, pd.DataFrame)
    finally:
        InteractiveShell.clear_instance()


def test_magics_in_live_ipython(spark):
    """M4 executed end-to-end: load the extension in a real InteractiveShell
    and run line + cell magics."""
    import pandas as pd
    from IPython.core.interactiveshell import InteractiveShell

    import pandas_td_spark as td
    from pandas_td_spark.ipython import load_ipython_extension

    shell = InteractiveShell.instance()
    load_ipython_extension(shell)

    con = td.connect(warehouse=tempfile.mkdtemp(prefix="magic_wh_"), spark=spark)
    td.to_td(
        pd.DataFrame({"x": [1, 2, 3], "time": [10, 20, 30]}),
        "magicdb.m1", con, if_exists="replace", index=False,
    )
    td.to_td(
        pd.DataFrame({"x": [4], "time": [40]}),
        "otherdb.m2", con, if_exists="replace", index=False,
    )
    # rebind the magics' connection to our seeded warehouse
    magics = shell.magics_manager.registry["TdMagics"]
    magics.con = con
    magics.engine = td.create_engine("presto:magicdb", con=con)

    shell.run_line_magic("td_use", "magicdb")
    dbs = shell.run_line_magic("td_databases", "")
    assert dbs.name.tolist() == ["magicdb", "otherdb"]
    # the pattern is an fnmatch glob on the database name
    dbs = shell.run_line_magic("td_databases", "magic*")
    assert dbs.name.tolist() == ["magicdb"]
    tables = shell.run_line_magic("td_tables", "magicdb")
    assert tables.name.tolist() == ["m1"]

    shell.user_ns["lo"] = 15
    shell.run_cell_magic("td_sql", "-o res", "SELECT x FROM m1 WHERE time > {lo} ORDER BY x")
    assert shell.user_ns["res"].x.tolist() == [2, 3]
    # dry-run prints substituted SQL, executes nothing
    out = shell.run_cell_magic("td_sql", "-n", "SELECT x FROM m1 WHERE time > {lo}")
    assert out is None
