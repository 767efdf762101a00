"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Checks that
1. every metric named in BENCHMARK.json is printed with its unit, on
   every listed workload, untraced and traced;
2. the traced run writes spans, and child spans link to parents that
   exist in the same file;
3. each correctness check reports a mismatch when it is handed a wrong
   expected answer.
Exits 0 when all checks pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SF = "0.001"
SECONDS = "3"


def run_bench(workload: str, trace: int) -> tuple[dict, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", SECONDS, "--trace", str(trace), "--sf", SF],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(lines[-1]), lines


def check_result(workload: str, trace: int, spec: dict) -> list[str]:
    res, lines = run_bench(workload, trace)
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(res)}")
    if not res["correct"] or res["failed"]:
        errs.append(f"run not correct: {lines[-2][:500]}")
    wanted = spec["per_layer" if trace else "end_to_end"]
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None:
            errs.append(f"missing metric {m['name']}")
        elif got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
            errs.append(f"metric {m['name']} printed as {got}, expected unit {m['unit']}")
    if trace:
        summary = json.loads(lines[-2].removeprefix("perfbench summary "))
        errs.extend(check_spans(os.path.join(ROOT, summary["spans_file"])))
    return [f"{workload} trace={trace}: {e}" for e in errs]


def check_spans(path: str) -> list[str]:
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    ids = {s["id"] for s in spans}
    children = [s for s in spans if s["parent"]]
    errs = []
    if not spans:
        errs.append("no spans written")
    elif not children:
        errs.append("no span has a parent")
    dangling = [s for s in children if s["parent"] not in ids]
    if dangling:
        errs.append(f"{len(dangling)} spans link to a parent missing from the file")
    if any(s["end"] < s["start"] for s in spans):
        errs.append("span ends before it starts")
    return errs


def check_wrong_answers() -> list[str]:
    """Each check must pass on the true answer and fail on a wrong one."""
    import checks
    import datagen

    errs = []
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_selftest_") as tmp:
        datagen.generate(3, float(SF), tmp)
        con = checks.connect(tmp)
        account = con.execute("SELECT user_id FROM events GROUP BY 1 ORDER BY count(*) DESC LIMIT 1").fetchone()[0]
        exp = checks.expect_actions(con, account)
        body = {
            "total": {"value": exp["total"], "relation": "eq"},
            "actions": [{"event_id": i, "value": v} for i, v in exp["rows"]],
        }
        cases = [
            ("get_actions", checks.check_actions(body, exp), checks.check_actions(body, {**exp, "total": exp["total"] + 1})),
        ]
        trx = checks.expect_transaction(con, 0)
        tbody = {
            "executed": trx["executed"],
            "status": trx["status"],
            "actions": [dict(zip(("l_linenumber", "l_partkey", "l_quantity", "l_extendedprice"), r)) for r in trx["rows"]],
        }
        wrong_trx = {**trx, "status": "X"}
        cases.append(("get_transaction", checks.check_transaction(tbody, trx), checks.check_transaction(tbody, wrong_trx)))
        state = checks.expect_table_state(con, 500)
        sbody = {"rows": [dict(zip(("user_id", "event_type", "event_id", "value"), r)) for r in state]}
        wrong_state = [state[0][:3] + (state[0][3] + 1.0,)] + state[1:]
        cases.append(("get_table_state", checks.check_table_state(sbody, state), checks.check_table_state(sbody, wrong_state)))
        feed = [os.path.join(tmp, "events.parquet")]
        ing = checks.expect_ingest(feed)
        wrong_ing = {**ing, "rows": ing["rows"] + 1, "latest": ing["latest"][1:]}
        ok_log, ok_state = checks.check_ingest(ing, ing)
        bad_log, bad_state = checks.check_ingest(ing, wrong_ing)
        cases.append(("ingest_log", ok_log, bad_log))
        cases.append(("user_state", ok_state, bad_state))

        import headline
        import pandas as pd

        frame = pd.DataFrame({"a": [1, 2], "b": [0.5, 1.5]})
        wrong = pd.DataFrame({"a": [1, 2], "b": [0.5, 2.5]})
        cases.append(("headline_oracle", headline.compare(frame, frame.copy()), headline.compare(frame, wrong)))
        con.close()
    for name, on_true, on_wrong in cases:
        if on_true:
            errs.append(f"{name}: check failed on the true answer: {on_true}")
        if not on_wrong:
            errs.append(f"{name}: check passed a wrong expected answer")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errs = check_wrong_answers()
    for w in spec["workloads"]:
        for trace in (0, 1):
            errs.extend(check_result(w["name"], trace, spec))
    for e in errs:
        print("FAIL", e)
    print("selftest:", "ok" if not errs else f"{len(errs)} failures")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
