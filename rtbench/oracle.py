"""DuckDB oracles, run after the timed phases on the engine's outputs.

Each oracle returns ``{"failed": n, "extra_attempted": m, "details": {...}}``
where ``failed`` counts wrong outcomes: a record missing from its sink, a
record written twice or with a wrong value, a valid line in dead-letter, a
malformed line not in dead-letter, a wrong UV group, a wrong dimension row
or a refresh query whose result differs from its ``oracle_sql()`` twin.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

from rtbench import gen

# A record (stream workloads) or query (dws_refresh) whose result shows up
# later than this after it was due counts as failed.
LATENCY_LIMIT_S = 30.0

def _sink(path: str) -> str:
    files = glob.glob(os.path.join(path, "*.parquet"))
    return f"read_parquet({files!r})" if files else None


def _diff(con, a: str, b: str) -> int:
    """Rows of ``a`` not in ``b`` plus rows of ``b`` not in ``a`` (bags)."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))) + "
        f"(SELECT count(*) FROM (({b}) EXCEPT ALL ({a})))"
    ).fetchone()[0]


def check_logs(work: str, data: gen.LogData) -> dict:
    ev = data.events
    con = duckdb.connect()
    con.register("ev", pd.DataFrame({
        "event_id": ev["event_id"], "mid": ev["mid"], "user_id": ev["user_id"],
        "etype": ev["etype"], "dt": ev["dt"], "is_new": ev["is_new"], "dropped": ev["dropped"],
    }))
    # visitor repair (BaseLogApp.java:76-106): a mid's first day is decided
    # by its earliest event; "1" survives only on that day.
    con.execute(f"""
        CREATE TEMP TABLE want AS
        WITH first AS (
            SELECT mid, min(dt) AS d0 FROM ev GROUP BY mid),
        flag AS (
            SELECT ev.mid, CASE WHEN max(is_new) = '1' THEN any_value(d0)
                                ELSE '{gen.EPOCH_DAY}' END AS first_dt
            FROM ev JOIN first ON ev.mid = first.mid AND ev.dt = first.d0
            GROUP BY ev.mid)
        SELECT event_id, etype,
               CASE WHEN is_new = '1' AND dt = first_dt THEN '1' ELSE '0' END AS is_new
        FROM ev JOIN flag USING (mid)""")
    details, failed = {}, 0
    for br in gen.BRANCHES:
        src = _sink(os.path.join(work, "dwd", f"dwd_{br}"))
        want = f"SELECT event_id, is_new FROM want WHERE etype = '{br}'"
        got = f"SELECT event_id, is_new FROM {src}" if src else want + " AND false"
        n = _diff(con, want, got)
        details[f"branch.{br}"] = n
        details["dwd_rows"] = details.get("dwd_rows", 0) + (
            con.execute(f"SELECT count(*) FROM {src}").fetchone()[0] if src else 0)
        failed += n

    con.register("bad", pd.DataFrame({"raw": data.malformed}))
    src = _sink(os.path.join(work, "dwd", "dead_letter"))
    got = f"SELECT raw FROM {src}" if src else "SELECT raw FROM bad WHERE false"
    details["dead_letter"] = _diff(con, "SELECT raw FROM bad", got)
    details["dead_letter_rows"] = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
    failed += details["dead_letter"]

    # Daily UV (Dws02 uv leg): one count per (user, type, day) among the
    # events the watermark keeps; the flush file's day never closes.
    last_day = max(ev["dt"])
    want_uv = (f"SELECT dt, etype AS event_type, count(DISTINCT user_id) AS uv FROM ev "
               f"WHERE NOT dropped AND dt < '{last_day}' GROUP BY 1, 2")
    n_groups = con.execute(f"SELECT count(*) FROM ({want_uv})").fetchone()[0]
    src = _sink(os.path.join(work, "dws_uv"))
    got_uv = (f"SELECT substr(stt, 1, 10) AS dt, event_type, sum(uv_ct) AS uv FROM {src} "
              "GROUP BY 1, 2") if src else want_uv + " HAVING false"
    details["uv_groups"] = _diff(con, want_uv, got_uv)
    failed += details["uv_groups"]
    details["dropped_events"] = data.n_dropped
    return {"failed": failed, "extra_attempted": n_groups, "details": details}


def check_dims(work: str, data: gen.CdcData) -> dict:
    """Final dimension tables == pre-load + last upsert-type change per key
    (deletes and bootstrap markers are dropped by the P3 filter)."""
    con = duckdb.connect()
    cols = ", ".join(gen.DIM_COLUMNS)
    details, failed = {}, 0
    for table, (sink, _, pk) in gen.DIM_TABLES.items():
        mine = [(seq, row) for seq, t, row in data.changes if t == table]
        chg = {c: pa.array([row.get(c) for _, row in mine], pa.string()) for c in gen.DIM_COLUMNS}
        con.register("chg", pa.table({"seq": [seq for seq, _ in mine], **chg}))
        con.register("pre", data.preload[sink])
        keys = ", ".join(pk)
        same_key = " AND ".join(f"chg.{k} = pre.{k}" for k in pk)
        want = f"""
            SELECT {cols} FROM pre WHERE NOT EXISTS (SELECT 1 FROM chg WHERE {same_key})
            UNION ALL
            SELECT {cols} FROM (SELECT *, row_number() OVER (PARTITION BY {keys}
                                ORDER BY seq DESC) AS rn FROM chg) WHERE rn = 1"""
        src = _sink(os.path.join(work, "dim", sink))
        got = f"SELECT {cols} FROM {src}" if src else f"SELECT {cols} FROM pre WHERE false"
        details[sink] = _diff(con, want, got)
        details[f"{sink}.rows"] = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
        failed += details[sink]
        con.unregister("chg")
        con.unregister("pre")
    return {"failed": failed, "extra_attempted": 0, "details": details}


def check_refresh(sf_dir: str, out_dir: str, names: list[str], oracles: dict) -> dict:
    """Each refresh query's result, written to parquet by the engine,
    against its DuckDB twin; columns are matched by name."""
    con = duckdb.connect()
    for path in glob.glob(os.path.join(sf_dir, "*.parquet")):
        t = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    details, failed = {}, 0
    for name in names:
        src = _sink(os.path.join(out_dir, name))
        want_cols = [d[0] for d in con.execute(f"SELECT * FROM ({oracles[name]}) LIMIT 0").description]
        order = ", ".join(f'"{c}"' for c in sorted(want_cols))
        if src is None:
            n = con.execute(f"SELECT count(*) FROM ({oracles[name]})").fetchone()[0]
            details[name] = n
            failed += n > 0
            continue
        got_cols = [d[0] for d in con.execute(f"SELECT * FROM {src} LIMIT 0").description]
        if sorted(got_cols) != sorted(want_cols):
            details[name] = f"columns {sorted(got_cols)} != {sorted(want_cols)}"
            failed += 1
            continue
        n = _diff(con, f"SELECT {order} FROM ({oracles[name]})", f"SELECT {order} FROM {src}")
        details[name] = n
        failed += n > 0
    return {"failed": int(failed), "extra_attempted": 0, "details": details}


def percentile(values_weights: list[tuple[float, int]], q: float) -> float:
    """Weighted nearest-rank percentile: every record of a file shares the
    file's latency, so each value counts once per record."""
    v = np.array([x for x, _ in values_weights], dtype=float)
    w = np.array([n for _, n in values_weights], dtype=float)
    order = np.argsort(v)
    v, cw = v[order], np.cumsum(w[order])
    return float(v[np.searchsorted(cw, q * cw[-1], side="left")])
