"""Output checks of one run, made after the JVM has exited (outside every
timed region). Each returns how many operations were attempted and how many
of them failed; a wrong output is a failed operation."""
import glob
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
# the repository's own oracle rules: columns sorted by name, rows sorted,
# float rtol 1e-6, array cells refused
from oracle_check import compare, load_spark  # noqa: E402


def board(rec, data):
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    oracle = rec["oracle"]
    failures = {}
    for q in rec["queries"]:
        key = f"{q['name']}@{q['pass']}"
        if q["error"]:
            failures[key] = q["error"][:200]
            continue
        got = load_spark(os.path.dirname(q["out"]), q["name"])
        if q["name"] not in oracle:
            if got is None or len(got) == 0:
                failures[key] = "no rows"
            continue
        try:
            want = con.sql(oracle[q["name"]]).df()
        except Exception as e:  # an oracle that cannot run is a failure
            failures[key] = f"oracle error {e}"[:200]
            continue
        try:
            why = compare(q["name"], got, want)
        except TypeError as e:
            why = f"unsortable column {e}"
        if why:
            failures[key] = why
    return len(rec["queries"]), failures


def keyed(rec):
    """Every wrong TableView key or window-count discrepancy is a failed
    operation, and so is a run outside the generator's validity limits."""
    failures, failed, attempted = {}, 0, 0
    for name, s in rec["subs"].items():
        attempted += s["catchup_rows"] + s["offered_rows"]
        failed += s["wrong"]
        if s["wrong"]:
            failures[name] = f"{s['wrong']} wrong outputs"
        if s["lag_max_s"] > rec["lag_limit_s"]:
            failures[f"{name}.lag"] = f"generator {s['lag_max_s']:.3f}s late"
            failed += 1
        if s["backlog_end_rows"] > rec["backlog_limit_rows"]:
            failures[f"{name}.backlog"] = f"{s['backlog_end_rows']} rows unread"
            failed += 1
    return attempted, failed, failures


def check(workload, rec, data):
    """`correct` is about outputs only; a run outside the generator limits
    has correct outputs and failed operations."""
    if workload == "board":
        attempted, failures = board(rec, data)
        failed, correct = len(failures), not failures
    else:
        attempted, failed, failures = keyed(rec)
        correct = not any(s["wrong"] for s in rec["subs"].values())
    return {"correct": correct, "attempted": attempted,
            "failed": failed, "detail": failures}
