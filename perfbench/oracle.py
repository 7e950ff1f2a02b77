"""Output check against DuckDB, done by the repository's own oracle tool.

Main keeps every query's warm-up result, and the oracled queries' SQL as
oracle_sql.json, under <out>/check: the layout tools/check_oracle.py reads.
Its `main` replays each SparkEntry.oracleSql in DuckDB over the same
generated tables, compares values (columns sorted by name, floats rounded,
rows sorted) and physical types, and prints one line per query. A FAIL or
TYPE-FAIL line is a failed check."""
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))


def check(data_dir, check_dir, tmp_dir):
    """Returns (the tool's report lines, [failure lines])."""
    import check_oracle  # the program's own tool, imported once it is needed
    connect = check_oracle.connect_views

    def connect_in_run(sf_dir):
        con = connect(sf_dir)
        # spill inside the run's directory, not to the tool's shared default
        con.execute(f"SET temp_directory='{tmp_dir}'")
        return con

    report = io.StringIO()
    check_oracle.connect_views = connect_in_run
    try:
        with contextlib.redirect_stdout(report):
            code = check_oracle.main(data_dir, check_dir)
    finally:
        check_oracle.connect_views = connect
    lines = report.getvalue().splitlines()
    failed = [line for line in lines if line.startswith(("FAIL", "TYPE-FAIL"))]
    if code and not failed:
        failed.append(f"tools/check_oracle.py exited with {code}")
    return lines, failed
