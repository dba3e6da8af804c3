"""Expected outputs for the perfbench workloads, and the compare.

The compare is the repo's own, ``scripts/selfcheck.py``, imported as it
stands: columns sorted by name, timestamps to ns, integer widths to
int64, then the same column names, row count, dtypes and exactly equal
values in order.

  * ``gates``: ``selfcheck.main`` runs each gate's DuckDB oracle SQL
    (``SparkEntry.oracleSql``, dumped by the harness next to the
    outputs) over the generated tables and compares.
    A gate without oracle SQL only has to repeat its output exactly.
  * ``etl``: the expected per-key counts are the generator's own record
    of the rows it wrote (``expected.json``), compared with
    ``selfcheck.canon`` and the same sequence of checks. The streaming
    call counts the well-formed rows only, keyed (event_type, month).
"""
import contextlib
import importlib.util
import io
import json
import os
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
SELFCHECK = os.path.join(os.path.dirname(HERE), "scripts", "selfcheck.py")

# verdicts that pass
OK, NO_ORACLE = "OK", "NO_ORACLE"
# the etl call that streams the well-formed rows (Etl.StreamCall)
ETL_STREAM_CALL = "q70_stream_month_count"


def _selfcheck():
    spec = importlib.util.spec_from_file_location("selfcheck", SELFCHECK)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _gates(data_dir, out_dir, calls):
    selfcheck = _selfcheck()
    buf = io.StringIO()
    argv = sys.argv
    sys.argv = [SELFCHECK, data_dir, out_dir, *calls]
    try:
        with contextlib.redirect_stdout(buf):
            selfcheck.main()
    except SystemExit:
        pass  # exits 1 when a gate fails; the verdicts below say which
    finally:
        sys.argv = argv
    verdict = {}
    for line in buf.getvalue().splitlines():
        status, _, rest = line.partition(" ")
        name, sep, reason = rest.strip().partition(" : ")
        if status not in ("PASS", "FAIL") or not sep:
            continue
        if reason.startswith("OK("):
            verdict[name] = OK
        elif reason.startswith("ROWS_ONLY("):
            verdict[name] = NO_ORACLE
        else:
            verdict[name] = reason
    return {c: verdict.get(c, "NO_OUTPUT") for c in calls}


def _etl(data_dir, out_dir, calls):
    canon = _selfcheck().canon
    with open(os.path.join(data_dir, "expected.json")) as f:
        counts = pd.DataFrame(json.load(f), columns=["variant", "month", "n"])
    well_formed = counts[counts["month"] != "-"].rename(columns={"variant": "event_type"})
    con = duckdb.connect()
    verdict = {}
    for c in calls:
        exp = canon(well_formed if c == ETL_STREAM_CALL else counts)
        path = os.path.join(out_dir, c)
        if not os.path.isdir(path):
            verdict[c] = "NO_OUTPUT"
            continue
        got = canon(con.execute(
            f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf())
        if list(got.columns) != list(exp.columns):
            verdict[c] = f"SCHEMA_MISMATCH got={list(got.columns)} exp={list(exp.columns)}"
        elif len(got) != len(exp):
            verdict[c] = f"ROWCOUNT got={len(got)} exp={len(exp)}"
        elif [str(t) for t in got.dtypes] != [str(t) for t in exp.dtypes]:
            verdict[c] = f"DTYPE_MISMATCH got={list(got.dtypes)} exp={list(exp.dtypes)}"
        else:
            try:
                pd.testing.assert_frame_equal(got, exp, check_dtype=True, check_exact=True)
                verdict[c] = OK
            except AssertionError as e:
                verdict[c] = "VALUES_MISMATCH: " + " | ".join(str(e).splitlines()[:6])[:400]
    return verdict


def check(workload, data_dir, out_dir, calls):
    """Maps each call to OK, NO_ORACLE or the reason its output is wrong."""
    if workload == "etl":
        return _etl(data_dir, out_dir, calls)
    return _gates(data_dir, out_dir, calls)
