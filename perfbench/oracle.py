"""Answer check of the olap workloads: each query's collected rows (dumped
to parquet by the harness) against the DuckDB oracle's answer over the
same generated tables, with the comparison rules of `tools/check.py`
(its arrow compare, then its pandas compare)."""
import os
import sys

import duckdb

import datagen

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
import check  # noqa: E402


def check_answers(answers_dir, data_dir, registry, tmp):
    """Query name -> reason, for every dumped answer that differs from
    its oracle (empty when all agree). DuckDB spills, if at all, to `tmp`."""
    if not os.path.isdir(answers_dir):
        return {}
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in datagen.SCHEMAS:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    wrong = {}
    for q in sorted(os.listdir(answers_dir)):
        answer = os.path.join(answers_dir, q)
        err = check.compare(q, answer, con, registry[q])
        if err is None:
            err = check.compare_pandas(q, answer, con, registry[q])
        if err:
            wrong[q] = err
    con.close()
    return wrong
