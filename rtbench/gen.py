"""Seeded input generators for the three benchmark workloads.

Everything the engine sees is produced here from one integer seed, so the
same seed gives byte-identical files. The generators also return the facts
the oracles need (which lines are malformed, which events fall behind the
watermark), so no oracle has to re-derive them from the engine's output.

Generated properties and why they matter:

- log lines: Zipf-skewed ``mid`` keys (Python keyed state sees hot keys),
  about 1 % malformed lines (dead-letter path), a few out-of-order events
  inside the 2 s watermark and a few far behind it (the UV query drops those),
  and one hour of event time per file so day-scoped state turns over
  several times per run.
- Maxwell changes: Zipf-skewed updates to pre-loaded dimension keys, some
  inserts, and deletes / bootstrap markers / unrouted tables that the
  routing must ignore.
- sf tables: the TPC-H-style star schema plus ``events`` and ``documents``
  in the column domains the refresh queries filter on.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 86_400_000
T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
BRANCHES = ("error", "signup", "view", "click", "purchase")
BRANCH_P = (0.08, 0.04, 0.5, 0.28, 0.1)
PAGES = ("home", "good_detail", "good_list", "login", "search", "cart")
WATERMARK_MS = 2_000  # dws_uv_window_stream's default watermark
EPOCH_DAY = "1970-01-01"

LOG_SCHEMA = (
    "event_id BIGINT, mid STRING, user_id BIGINT, event_type STRING, "
    "ts TIMESTAMP, is_new STRING, page_id STRING, during_time BIGINT"
)


def _zipf_sampler(rng: np.random.Generator, n: int, s: float):
    """Bounded Zipf over ``0..n-1`` (rank 0 hottest), by inverse CDF."""
    cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
    cdf /= cdf[-1]

    def draw(size: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(size)), n - 1)

    return draw


def _iso_ms(ts_ms: np.ndarray) -> np.ndarray:
    return np.datetime_as_string(ts_ms.astype("datetime64[ms]"), unit="ms")


# ---------------------------------------------------------------------------
# log_ingest
# ---------------------------------------------------------------------------
@dataclass
class LogSpec:
    n_files: int
    lines_per_file: int
    files_per_trigger: int
    n_mids: int = 20_000
    n_users: int = 8_000
    zipf_s: float = 1.1
    file_span_ms: int = 4 * 3_600_000  # four hours of event time per file
    malformed_frac: float = 0.01
    inside_frac: float = 0.01  # out of order, still inside the watermark
    beyond_frac: float = 0.004  # behind the watermark of an earlier batch
    old_mid_frac: float = 0.3  # devices that predate the job (is_new "0")
    reclaim_p: float = 0.2  # buggy clients re-claiming is_new on later days


@dataclass
class LogData:
    files: list = field(default_factory=list)  # [(name, bytes)]
    lines_per_file: list = field(default_factory=list)
    events: dict = field(default_factory=dict)  # column -> np.ndarray
    malformed: list = field(default_factory=list)  # raw lines, verbatim
    n_dropped: int = 0  # events behind the watermark


def gen_logs(seed: int, spec: LogSpec) -> LogData:
    """Log files ``log-00000.jsonl`` ... plus a final flush file whose event
    lies a day past everything else, so every UV window of the real data
    closes once the flush is read.

    Out-of-order events reuse the ``mid`` of an earlier event of the same
    day, so each ``mid``'s first day is always decided by the first file it
    appears in, whatever the micro-batch boundaries: this keeps visitor
    repair's output a function of the input alone.
    """
    rng = np.random.default_rng([seed, 1])
    n, k = spec.lines_per_file, spec.files_per_trigger
    draw_mid = _zipf_sampler(rng, spec.n_mids, spec.zipf_s)
    mid_user = rng.integers(0, spec.n_users, spec.n_mids)
    mid_old = rng.random(spec.n_mids) < spec.old_mid_frac
    n_files = spec.n_files + 1  # + flush file

    # Normal events: strictly later event time in every later file.
    per_file = []
    for j in range(n_files):
        m = n if j < spec.n_files else 1
        base = T0_MS + j * spec.file_span_ms
        if j == spec.n_files:
            base += DAY_MS
        ts = base + np.sort(rng.integers(0, spec.file_span_ms - 5_000, m))
        per_file.append(
            {"file": np.full(m, j), "ts": ts, "mid": draw_mid(m),
             "etype": rng.choice(len(BRANCHES), m, p=BRANCH_P)}
        )
    file_max = np.array([f["ts"].max() for f in per_file])

    # Injected events, built from earlier normal events of the same day.
    for j in range(2, spec.n_files):
        src_prev = per_file[j - 1]
        wm_now = file_max[:j].max()
        n_in = int(round(n * spec.inside_frac))
        ts_in = np.maximum(
            wm_now - rng.integers(0, WATERMARK_MS - 500, n_in),
            (wm_now // DAY_MS) * DAY_MS,
        )
        same_day = np.flatnonzero(src_prev["ts"] // DAY_MS == wm_now // DAY_MS)
        pick = rng.choice(same_day, n_in)
        inj = [(ts_in, src_prev["mid"][pick])]
        if j >= 2 * k + 2:
            # Behind the watermark of every batch that can hold file j. Late
            # rows are filtered with the previous batch's watermark, and a
            # batch holds at most k files, so files <= j-2k were committed
            # two batches before file j's.
            n_be = int(round(n * spec.beyond_frac))
            pool = np.concatenate([per_file[i]["ts"] for i in range(j - 2 * k - 1)])
            pool_mid = np.concatenate(
                [per_file[i]["mid"] for i in range(j - 2 * k - 1)]
            )
            pick = rng.integers(0, len(pool), n_be)
            ts_be = pool[pick] + rng.integers(0, 1_000, n_be)
            ts_be = np.where(ts_be // DAY_MS == pool[pick] // DAY_MS, ts_be, pool[pick])
            inj.append((ts_be, pool_mid[pick]))
        f = per_file[j]
        for ts_x, mid_x in inj:
            f["ts"] = np.concatenate([f["ts"], ts_x])
            f["mid"] = np.concatenate([f["mid"], mid_x])
            f["etype"] = np.concatenate(
                [f["etype"], rng.choice(len(BRANCHES), len(ts_x), p=BRANCH_P)]
            )
            f["file"] = np.concatenate([f["file"], np.full(len(ts_x), j)])
        order = rng.permutation(len(f["ts"]))  # shuffled inside the file
        for c in f:
            f[c] = f[c][order]

    ev = {c: np.concatenate([f[c] for f in per_file]) for c in per_file[0]}
    total = len(ev["ts"])
    day = ev["ts"] // DAY_MS
    # First day per mid, over every event (all later events are same-day
    # copies or later in event time, so this is also its first file's day).
    first_day = np.full(spec.n_mids, np.iinfo(np.int64).max)
    np.minimum.at(first_day, ev["mid"], day)
    on_first = day == first_day[ev["mid"]]
    reclaim = rng.random(total) < spec.reclaim_p
    is_new = np.where(mid_old[ev["mid"]], "0",
                      np.where(on_first | reclaim, "1", "0"))

    ev.update(
        event_id=np.arange(total, dtype=np.int64),
        user_id=mid_user[ev["mid"]],
        is_new=is_new,
        page_id=rng.choice(len(PAGES), total),
        during_time=rng.integers(100, 60_000, total),
    )
    # Watermark drops: the UV query keeps an event only when its time is not
    # behind (max event time of earlier files) - 2 s; the generator avoids
    # the ambiguous zone, so "earlier files" equals "earlier batches".
    prev_max = np.concatenate([[0], np.maximum.accumulate(file_max)[:-1]])
    ev["dropped"] = ev["ts"] < prev_max[ev["file"]] - WATERMARK_MS

    iso = _iso_ms(ev["ts"])
    data = LogData(events=ev, n_dropped=int(ev["dropped"].sum()))
    starts = np.searchsorted(ev["file"], np.arange(n_files + 1))
    bad_id = 0
    for j in range(n_files):
        lines = [
            '{"event_id":%d,"mid":"mid_%05d","user_id":%d,"event_type":"%s",'
            '"ts":"%s","is_new":"%s","page_id":"%s","during_time":%d}'
            % (ev["event_id"][i], ev["mid"][i], ev["user_id"][i],
               BRANCHES[ev["etype"][i]], iso[i], ev["is_new"][i],
               PAGES[ev["page_id"][i]], ev["during_time"][i])
            for i in range(starts[j], starts[j + 1])
        ]
        if j < spec.n_files:
            n_bad = max(1, int(round(len(lines) * spec.malformed_frac)))
            for pos in np.sort(rng.integers(0, len(lines) + 1, n_bad))[::-1]:
                bad = _malformed_line(bad_id, rng)
                bad_id += 1
                data.malformed.append(bad)
                lines.insert(int(pos), bad)
        data.files.append((f"log-{j:05d}.jsonl", ("\n".join(lines) + "\n").encode()))
        data.lines_per_file.append(len(lines))
    ev["etype"] = np.asarray(BRANCHES)[ev["etype"]]
    ev["mid"] = np.char.add("mid_", np.char.zfill(ev["mid"].astype(str), 5))
    ev["dt"] = np.datetime_as_string(ev["ts"].astype("datetime64[ms]"), unit="D")
    return data


def _malformed_line(i: int, rng: np.random.Generator) -> str:
    kind = i % 3
    if kind == 0:  # truncated JSON
        return '{"event_id":%d,"mid":"mid_%05d","event_ty' % (10**9 + i, rng.integers(0, 99999))
    if kind == 1:  # not JSON at all
        return "GET /track?seq=%d&sid=%d HTTP/1.1" % (i, rng.integers(0, 10**6))
    # valid JSON, wrong field type
    return '{"event_id":"bad-%d","mid":"mid_00001","ts":"2024-01-01T00:00:00.000"}' % i


# ---------------------------------------------------------------------------
# dim_cdc_upsert
# ---------------------------------------------------------------------------
DIM_TABLES = {
    # source table -> (sink table, configured columns, primary key)
    "user_info": ("dim_user_info", ("id", "login_name", "user_level", "gender"), ("id",)),
    "sku_info": ("dim_sku_info", ("sku_id", "spu_id", "price", "sku_name", "tm_id"), ("sku_id",)),
    "base_province": ("dim_base_province", ("region_id", "area_code", "name", "iso_code"),
                      ("region_id", "area_code")),
}
UNROUTED_TABLE = "order_info"
# Every column the routed batch carries, in the order the routing writes them.
DIM_COLUMNS = ("event_type", "id", "login_name", "user_level", "gender", "sku_id",
               "spu_id", "price", "sku_name", "tm_id", "region_id", "area_code",
               "name", "iso_code")
UPSERT_TYPES = ("insert", "update", "bootstrap-insert")


@dataclass
class CdcSpec:
    n_files: int
    changes_per_file: int
    files_per_trigger: int
    preload: dict  # source table -> rows pre-loaded into its dimension table
    zipf_s: float = 1.05
    mix: dict = field(default_factory=lambda: {
        "update": 0.74, "insert": 0.08, "bootstrap-insert": 0.02,
        "delete": 0.08, "bootstrap-start": 0.01, "unrouted": 0.07})


@dataclass
class CdcData:
    files: list = field(default_factory=list)  # [(name, bytes)]
    lines_per_file: list = field(default_factory=list)
    preload: dict = field(default_factory=dict)  # sink table -> pa.Table
    changes: list = field(default_factory=list)  # (seq, table, type, data)


def _row(table: str, key: tuple, version: int, rng: np.random.Generator) -> dict:
    if table == "user_info":
        return {"id": str(key[0]), "login_name": f"u{key[0]}v{version}",
                "user_level": str(rng.integers(1, 6)), "gender": "MF"[rng.integers(0, 2)],
                "birthday": "1990-01-01"}
    if table == "sku_info":
        return {"sku_id": str(key[0]), "spu_id": str(key[0] // 7),
                "price": f"{rng.integers(100, 99999) / 100:.2f}",
                "sku_name": f"sku{key[0]}v{version}", "tm_id": str(rng.integers(1, 50))}
    return {"region_id": str(key[0]), "area_code": str(key[1]),
            "name": f"p{key[0]}-{key[1]}v{version}", "iso_code": f"CN-{version % 97}"}


def _key(table: str, i: int) -> tuple:
    return (i // 100, i % 100) if table == "base_province" else (i,)


def _preload_table(table: str, n: int) -> pa.Table:
    import pyarrow.compute as pc

    def txt(a):
        return pc.cast(pa.array(a), pa.string())

    def cat(prefix, a, suffix=""):
        return pc.binary_join_element_wise(prefix, txt(a), suffix, "")

    i = np.arange(n)
    if table == "user_info":
        vals = {"id": txt(i), "login_name": cat("u", i), "user_level": txt(i % 5 + 1),
                "gender": pa.array(np.where(i % 2 == 0, "M", "F"))}
    elif table == "sku_info":
        vals = {"sku_id": txt(i), "spu_id": txt(i // 7), "price": cat("", i % 999 + 1, ".00"),
                "sku_name": cat("sku", i), "tm_id": txt(i % 49 + 1)}
    else:
        vals = {"region_id": txt(i // 100), "area_code": txt(i % 100), "name": cat("p", i),
                "iso_code": pa.array(np.full(n, "CN-0"))}
    return pa.table({c: vals[c].cast(pa.string()) if c in vals else pa.nulls(n, pa.string())
                     for c in DIM_COLUMNS})


def gen_cdc(seed: int, spec: CdcSpec) -> CdcData:
    """Maxwell change files ``cdc-00000.jsonl`` ... and the pre-loaded
    dimension tables.

    Updates and deletes pick their key from a Zipf draw over the pre-loaded
    rows, so hot keys change many times inside one micro-batch. The oracle
    wants the last change per key; ``run_dim_routing`` merges without an
    ordering column, so its result for such keys is whichever row its
    within-batch dedup keeps.
    """
    rng = np.random.default_rng([seed, 2])
    tables = list(DIM_TABLES)
    size = dict(spec.preload)
    draw = {t: _zipf_sampler(rng, size[t], spec.zipf_s) for t in tables}
    kinds = list(spec.mix)
    p = np.array([spec.mix[x] for x in kinds])
    data = CdcData(preload={DIM_TABLES[t][0]: _preload_table(t, spec.preload[t]) for t in tables})
    seq, version = 0, 0
    for j in range(spec.n_files):
        lines = []
        kind_ix = rng.choice(len(kinds), spec.changes_per_file, p=p / p.sum())
        tbl_ix = rng.integers(0, len(tables), spec.changes_per_file)
        for kind, t in zip(kind_ix, tbl_ix):
            kind, table = kinds[kind], tables[t]
            ts = 1_704_067_200 + seq
            version += 1
            if kind == "unrouted":
                env = {"database": "gmall", "table": UNROUTED_TABLE, "type": "insert", "ts": ts,
                       "data": {"id": str(seq), "total_amount": "1.00"}}
            elif kind == "bootstrap-start":
                env = {"database": "gmall", "table": table, "type": "bootstrap-start",
                       "ts": ts, "data": None}
            else:
                if kind in ("insert", "bootstrap-insert"):
                    i = size[table]
                    size[table] += 1
                else:
                    i = int(draw[table](1)[0])
                row = _row(table, _key(table, i), version, rng)
                env = {"database": "gmall", "table": table, "type": kind, "ts": ts, "data": row}
                if kind == "update":
                    env["old"] = {"user_level" if table == "user_info" else "tm_id": "0"}
                if kind in UPSERT_TYPES:
                    data.changes.append((seq, table, row))
            lines.append(json.dumps(env, separators=(",", ":")))
            seq += 1
        data.files.append((f"cdc-{j:05d}.jsonl", ("\n".join(lines) + "\n").encode()))
        data.lines_per_file.append(len(lines))
    return data


# ---------------------------------------------------------------------------
# dws_refresh: sf-scaled star schema + events + documents
# ---------------------------------------------------------------------------
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _money(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _dates(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi, n) * 86_400_000_000).astype("datetime64[us]")


def gen_tables(seed: int, sf: float, out_dir: str) -> dict:
    """Write ``<name>.parquet`` for every table the refresh set reads.
    Returns {table: rows}."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev, n_doc = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    n_users = max(10, int(15_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5), i32),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25), i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(seg[rng.integers(0, 5, n_cust)], s)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    adj = np.array(["small", "red", "blue", "green", "large", "shiny"])
    noun = np.array(["ring", "widget", "bolt", "gear", "pipe", "valve"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                                       noun[rng.integers(0, 6, n_part)]), s),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)), s),
        "p_type": pa.array(np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
            rng.integers(0, 6, n_part)], s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0, f64)})
    odate = _dates(rng, "1995-01-01", "2001-08-01", n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], s),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord), f64),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"])[rng.integers(0, 5, n_ord)], s)})
    lok = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, 900, 2100, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)], s),
        "l_shipdate": pa.array(odate[lok] + (rng.integers(1, 122, n_li) * 86_400_000_000).astype(
            "timedelta64[us]"))})
    ets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ets.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(np.array(BRANCHES)[rng.integers(0, 5, n_ev)], s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"), s)})
    n_words = rng.integers(8, 100, n_doc)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(n_words.sum()))]
    cuts = np.concatenate([[0], np.cumsum(n_words)])
    text = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n_doc)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64), "text": pa.array(text, s),
        "lang": pa.array(np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)], s),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n_doc).astype(str)), s),
        "n_chars": pa.array([len(x) for x in text], i64)})
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
