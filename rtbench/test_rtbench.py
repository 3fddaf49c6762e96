"""Self-tests of the benchmark:

    python3 -m pytest rtbench/test_rtbench.py -q -p no:cacheprovider

- the same seed produces byte-identical inputs;
- engine and oracle agree on a tiny input of every workload (``dim_cdc_upsert``
  is expected to fail until the routing passes an ordering column);
- the printed metrics are exactly those of BENCHMARK.json, with its units;
- span self-time arithmetic.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from rtbench import gen, layers, oracle, run, streams  # noqa: E402
from rtbench.refresh import DwsRefresh  # noqa: E402
from rtbench.trace import Span, covered, self_time  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


# -- inputs -----------------------------------------------------------------
def test_same_seed_same_bytes(tmp_path):
    spec = gen.LogSpec(12, 200, 2)
    assert gen.gen_logs(7, spec).files == gen.gen_logs(7, spec).files
    assert gen.gen_logs(7, spec).files != gen.gen_logs(8, spec).files
    cspec = gen.CdcSpec(6, 50, 2, {t: 300 for t in gen.DIM_TABLES})
    a, b = gen.gen_cdc(7, cspec), gen.gen_cdc(7, cspec)
    assert a.files == b.files and all(a.preload[t].equals(b.preload[t]) for t in a.preload)
    gen.gen_tables(7, 0.001, str(tmp_path / "a"))
    gen.gen_tables(7, 0.001, str(tmp_path / "b"))
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


def test_log_generator_injects_what_it_reports():
    data = gen.gen_logs(3, gen.LogSpec(12, 200, 2))
    lines = [ln for _, body in data.files for ln in body.decode().splitlines()]
    assert set(data.malformed) <= set(lines)
    assert len(lines) == len(data.events["event_id"]) + len(data.malformed)
    assert data.n_dropped > 0  # some events fall behind the watermark


def test_cdc_generator_repeats_hot_keys_inside_a_batch():
    k = streams.DimCdcUpsert.files_per_trigger
    spec = gen.CdcSpec(2 * k, streams.DimCdcUpsert.changes_per_file, k,
                       {t: 5_000 for t in gen.DIM_TABLES})
    data = gen.gen_cdc(3, spec)
    per_batch = spec.changes_per_file * k
    keys = [(seq // per_batch, t, tuple(row[c] for c in gen.DIM_TABLES[t][2]))
            for seq, t, row in data.changes]
    assert len(set(keys)) < len(keys)


# -- metric names -----------------------------------------------------------
def test_printed_metrics_match_benchmark_json():
    res = {"drain_eps": 1.0, "latency": [(1.0, 3), (2.0, 1)], "refresh_s": 1.0,
           "failed": 0, "attempted": 4, "wchar": 10, "in_bytes": 5}
    e2e = run.end_to_end(res, [1.0, 2.0, 3.0], 100.0)
    assert {k: u for k, (_, u) in e2e.items()} == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert dict(layers.PER_LAYER) == {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert e2e["latency_p50_s"][0] == 1.0 and e2e["setup_s"][0] == 2.0


# -- spans ------------------------------------------------------------------
def test_self_time_arithmetic():
    parent = Span("batch", 0.0, 10.0)
    kids = [Span("a", 1.0, 3.0), Span("b", 2.0, 4.0),  # overlap counts once
            Span("c", 8.0, 12.0),  # clipped to the parent
            Span("d", -5.0, -1.0)]  # outside: covers nothing
    assert covered(parent, kids) == pytest.approx(5.0)
    assert self_time(parent, kids) == pytest.approx(5.0)
    assert self_time(parent, []) == pytest.approx(10.0)


# -- engine vs oracle on tiny inputs ----------------------------------------
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["TZ"] = "UTC"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    s = run.new_session(2, str(tmp_path_factory.mktemp("spark")))
    yield s
    s.stop()


class TinyLog(streams.LogIngest):
    lines_per_file, n_drain_files, open_period_s, files_per_trigger = 60, 8, 1.0, 2


class TinyCdc(streams.DimCdcUpsert):
    changes_per_file, n_drain_files, open_period_s, files_per_trigger = 30, 4, 1.0, 2
    preload_rows = {t: 500 for t in gen.DIM_TABLES}


class TinyRefresh(DwsRefresh):
    sf = 0.001
    queries = ["dws02_traffic_page_view_window", "dwd_cart_add", "tpch_q3_shipping_priority"]


KNOWN_DIM_DEFECT = pytest.mark.xfail(
    strict=True,
    reason="run_dim_routing calls upsert_parquet without order_col, so two changes to "
           "one key inside one micro-batch resolve arbitrarily instead of last-wins")


@pytest.mark.parametrize("cls", [TinyLog, TinyRefresh, pytest.param(TinyCdc, marks=KNOWN_DIM_DEFECT)])
def test_engine_matches_oracle(spark, tmp_path, cls):
    wl = cls(5, 2, str(tmp_path))
    _, probe = run.jvm_probe(spark)
    res = wl.measure(spark, probe)
    wl.verify(res)
    assert res["verdict"]["failed"] == 0, res["verdict"]["details"]
    assert res["correct"] and res["failed"] == 0
    assert all(v < oracle.LATENCY_LIMIT_S for v, _ in res["latency"])
