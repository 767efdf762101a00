"""Expected answers computed with DuckDB over the same parquet the
engine reads, and the comparisons that turn a mismatch into a failed
operation. Every ``check_*`` returns a list of mismatch descriptions;
an empty list means the output is correct."""

from __future__ import annotations

import math
import os

import duckdb

from mix import PAGE, STATE_PAGE


def connect(sf_dir: str, threads: int = 2) -> duckdb.DuckDBPyConnection:
    con = duckdb_connect(threads)
    for name in ("events", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, name)}.parquet')"
        )
    return con


def duckdb_connect(threads: int = 2) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB that spills, if ever, under the run's TMPDIR."""
    import tempfile

    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute(f"SET temp_directory='{tempfile.gettempdir()}'")
    return con


def _close(a: float | None, b: float | None) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-4)


# -- API responses ---------------------------------------------------------


def expect_actions(con, account: int) -> dict:
    rows = con.execute(
        "SELECT event_id, value FROM events WHERE user_id = ? "
        "ORDER BY event_id DESC LIMIT ?",
        [account, PAGE],
    ).fetchall()
    total = con.execute("SELECT count(*) FROM events WHERE user_id = ?", [account]).fetchone()[0]
    return {"rows": rows, "total": total}


def check_actions(body: dict, exp: dict) -> list[str]:
    got = [(a["event_id"], a["value"]) for a in body.get("actions", [])]
    errs = []
    if body.get("total", {}).get("value") != exp["total"]:
        errs.append(f"total {body.get('total')} != {exp['total']}")
    if [g[0] for g in got] != [e[0] for e in exp["rows"]]:
        errs.append(f"page ids {[g[0] for g in got][:5]}... != {[e[0] for e in exp['rows']][:5]}...")
    elif not all(_close(g[1], e[1]) for g, e in zip(got, exp["rows"])):
        errs.append("page values differ")
    return errs


def expect_transaction(con, trx: int) -> dict:
    head = con.execute(
        "SELECT o_orderstatus FROM orders WHERE o_orderkey = ?", [trx]
    ).fetchone()
    rows = con.execute(
        "SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice FROM lineitem "
        "WHERE l_orderkey = ? ORDER BY ALL",
        [trx],
    ).fetchall()
    return {"executed": head is not None, "status": head[0] if head else None, "rows": rows}


def check_transaction(body: dict, exp: dict) -> list[str]:
    errs = []
    if bool(body.get("executed")) != exp["executed"]:
        errs.append(f"executed {body.get('executed')} != {exp['executed']}")
    if body.get("status") != exp["status"]:
        errs.append(f"status {body.get('status')} != {exp['status']}")
    got = sorted(
        (a["l_linenumber"], a["l_partkey"], a["l_quantity"], a["l_extendedprice"])
        for a in body.get("actions", [])
    )
    if len(got) != len(exp["rows"]) or not all(
        g[:2] == e[:2] and _close(g[2], e[2]) and _close(g[3], e[3])
        for g, e in zip(got, exp["rows"])
    ):
        errs.append(f"traces differ: {len(got)} rows vs {len(exp['rows'])}")
    return errs


def expect_table_state(con, block: int) -> list[tuple]:
    return con.execute(
        """
        SELECT user_id, event_type, event_id, round(value, 4)
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
          FROM events WHERE event_id <= ?)
        WHERE rn = 1
        ORDER BY concat_ws('-', user_id, event_type)
        LIMIT ?
        """,
        [block, STATE_PAGE],
    ).fetchall()


def check_table_state(body: dict, exp: list[tuple]) -> list[str]:
    got = [(r["user_id"], r["event_type"], r["event_id"], r["value"]) for r in body.get("rows", [])]
    if len(got) != len(exp) or not all(
        g[:3] == e[:3] and _close(g[3], e[3]) for g, e in zip(got, exp)
    ):
        return [f"state page differs: first {got[:1]} vs {exp[:1]}"]
    return []


def check_response(con, kind: str, params: dict, body: dict) -> list[str]:
    """Dispatch one recorded response to its DuckDB twin."""
    if kind == "get_actions":
        return check_actions(body, expect_actions(con, int(params["account"])))
    if kind == "get_transaction":
        return check_transaction(body, expect_transaction(con, int(params["id"])))
    if kind == "get_table_state":
        return check_table_state(body, expect_table_state(con, int(params["block"])))
    raise KeyError(kind)


CHECKED_KINDS = ("get_actions", "get_transaction", "get_table_state")


# -- ingest outputs ----------------------------------------------------------


def expect_ingest(feed_files: list[str]) -> dict:
    con = duckdb_connect()
    files = ", ".join(f"'{f}'" for f in feed_files)
    src = f"read_parquet([{files}])"
    n, n_ids, id_sum = con.execute(
        f"SELECT count(*), count(DISTINCT event_id), sum(event_id) FROM {src}"
    ).fetchone()
    latest = con.execute(
        f"""
        SELECT user_id, event_id, round(value, 4) FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
          FROM {src}) WHERE rn = 1 ORDER BY user_id
        """
    ).fetchall()
    return {"rows": n, "distinct": n_ids, "id_sum": int(id_sum), "latest": latest}


def observe_ingest(log_dir: str, state_df_rows: list[tuple]) -> dict:
    con = duckdb_connect()
    n, n_ids, id_sum = con.execute(
        "SELECT count(*), count(DISTINCT event_id), sum(event_id) FROM "
        f"read_parquet('{log_dir}/**/*.parquet', hive_partitioning = false)"
    ).fetchone()
    return {"rows": n, "distinct": n_ids, "id_sum": int(id_sum or 0), "latest": sorted(state_df_rows)}


def check_ingest(got: dict, exp: dict) -> tuple[list[str], list[str]]:
    """(log errors, state errors)."""
    log_errs = [
        f"log {k} {got[k]} != fed {exp[k]}"
        for k in ("rows", "distinct", "id_sum")
        if got[k] != exp[k]
    ]
    state_errs = []
    if len(got["latest"]) != len(exp["latest"]):
        state_errs.append(f"state rows {len(got['latest'])} != {len(exp['latest'])}")
    else:
        bad = [
            (g, e)
            for g, e in zip(got["latest"], exp["latest"])
            if g[:2] != e[:2] or not _close(g[2], e[2])
        ]
        if bad:
            state_errs.append(f"{len(bad)} users differ, first {bad[0]}")
    return log_errs, state_errs
