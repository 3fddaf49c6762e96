"""``dws_refresh``: one closed-loop client re-running the serving queries.

The client runs the refresh set (DWS rollups, DWD joins, routing, the batch
twins of the streaming operators and five TPC-H shapes) pass after pass over
generated sf tables, each query to a noop sink. As in ``bench.py``'s r10
protocol, every timed execution rebuilds its query after ``clearCache``, so
nothing computed by one execution is reused by the next. One untimed pass
first writes every result to parquet, which the oracle reads after the timed
passes; it also warms codegen.
"""

from __future__ import annotations

import os
import statistics
import time

import __spark_entry__ as entry

from rtbench import gen, oracle
from rtbench.procfs import reset_peak_rss

QUERIES = [
    "dws02_traffic_page_view_window", "dws03_home_detail_uv_window",
    "dws04_user_login_window", "dws05_user_register_window",
    "dws06_cart_add_uu_window", "dws09_trade_sku_order_window",
    "dwd_trade_order_detail", "dwd_cart_add", "dim_config_routing",
    "baselog_stream_split", "keyword_page_view", "visitor_repair_batch",
    "cdc_changelog_snapshot", "sessionize_events", "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority", "tpch_q5_local_supplier", "tpch_q9_product_profit",
    "tpch_q18_large_orders",
]
SF = 0.01
MIN_PASSES = 3


class DwsRefresh:
    sf = SF
    queries = QUERIES

    def __init__(self, seed: int, seconds: int, work: str):
        self.seed, self.seconds, self.work = seed, seconds, work
        self.tracer = None

    def start_queries(self, spark, path: str) -> None:
        pass  # a query client has nothing running between requests

    def warm_up(self, spark, path: str) -> None:
        pass  # the untimed oracle pass warms codegen

    def measure(self, spark, probe) -> dict:
        t = time.perf_counter()
        sf_dir = os.path.join(self.work, "sf")
        rows = gen.gen_tables(self.seed, self.sf, sf_dir)
        self.phases = {"gen": time.perf_counter() - t}
        in_bytes = sum(os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir))
        reset_peak_rss()
        qs = entry.queries()
        out = os.path.join(self.work, "results")
        for name in self.queries:
            spark.catalog.clearCache()
            qs[name](spark, sf_dir).write.mode("overwrite").parquet(os.path.join(out, name))
        self.phases["untimed_pass"] = time.perf_counter() - t - self.phases["gen"]

        p0 = probe()
        passes, lat, per_query = [], [], {n: [] for n in self.queries}
        deadline = time.perf_counter() + self.seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            tp = time.perf_counter()
            for name in self.queries:
                t0 = time.perf_counter()
                spark.catalog.clearCache()
                df = qs[name](spark, sf_dir)
                t1 = time.perf_counter()
                if self.tracer is not None:
                    self.tracer.plan_exec(spark, name, df, t0, t1)
                else:
                    df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
                per_query[name].append(t2 - t1)
                lat.append((t2 - t0, 1))
            passes.append(time.perf_counter() - tp)
        p1 = probe()
        self.phases["timed"] = sum(passes)
        refresh = statistics.median(passes)
        return {
            # input rows the refresh set reads per second: table rows / pass time
            "drain_eps": sum(rows.values()) / refresh,
            "latency": lat,
            "refresh_s": refresh,
            "wchar": p1["wchar"] - p0["wchar"],
            "gc_ms": p1["gc_ms"] - p0["gc_ms"],
            "in_bytes": in_bytes * len(passes),
            "input_rows": sum(rows.values()) * len(passes),
            "per_query": per_query,
            "passes": passes,
        }

    def verify(self, res: dict) -> None:
        """Check the untimed pass's results against the ``oracle_sql()``
        twins and add the verdict to ``res``."""
        t = time.perf_counter()
        verdict = oracle.check_refresh(os.path.join(self.work, "sf"),
                                       os.path.join(self.work, "results"),
                                       self.queries, entry.oracle_sql())
        self.phases["oracle"] = time.perf_counter() - t
        n_late = sum(1 for v, _ in res["latency"] if v > oracle.LATENCY_LIMIT_S)
        res.update(attempted=len(res["latency"]) + len(self.queries),
                   failed=verdict["failed"] + n_late,
                   correct=verdict["failed"] == 0, verdict=verdict)
