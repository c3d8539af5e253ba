"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import metrics  # noqa: E402
import querylib  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span, parse_event_log, self_times  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), root)] = f.read()
    return out


def test_generator_same_seed_same_output(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7)
    b = gen.generate(str(tmp_path / "b"), 7)
    c = gen.generate(str(tmp_path / "c"), 8)
    assert _tree(a.root) == _tree(b.root)
    assert a.per_ticker == b.per_ticker and a.input_bytes == b.input_bytes
    assert _tree(a.root) != _tree(c.root)
    assert a.per_ticker != c.per_ticker


def test_generator_reference_shape(tmp_path):
    feed = gen.generate(str(tmp_path), 1)
    kaggle_days = len(list(gen.weekdays(gen.KAGGLE_FIRST, gen.OVERLAP)))
    api_days = len(list(gen.weekdays(gen.OVERLAP, gen.API_LAST)))
    # the overlap date lands once per ticker
    assert feed.openclose_rows == len(gen.TICKERS) * (kaggle_days + api_days - 1)
    with open(os.path.join(feed.root, "kaggle", "brk-b.us.txt")) as f:
        kaggle = f.read().splitlines()
    assert kaggle[0] == "Date,Open,High,Low,Close,Volume,OpenInt"
    assert sum(line.startswith("not-a-date") for line in kaggle) == 1
    assert re.search(r'"\d{1,3}(,\d{3})+",0$', kaggle[1])
    assert kaggle[-1].startswith(str(gen.OVERLAP))
    with open(os.path.join(feed.root, "api", "BRK-B.csv")) as f:
        api = f.read().splitlines()
    assert not any(line[:1].isdigit() for line in api[:4])
    assert api[4].startswith(str(gen.OVERLAP))
    with open(os.path.join(feed.root, "info", f"{gen.SPARSE_INFO}.json")) as f:
        assert "city" not in json.load(f)
    with open(os.path.join(feed.root, "esg", f"{gen.ESG_WITHOUT_SCORES}.json")) as f:
        assert "esgScores" not in json.load(f)
    assert feed.esg_scored == len(gen.TICKERS) - 1


def _span(i, parent, start, end, name="plans.x"):
    return Span(i, name, 0, parent, start, end)


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, 0.0, 10.0, "op"),
        _span(1, 0, 1.0, 4.0),
        _span(2, 1, 2.0, 3.0),
        _span(3, 0, 5.0, 6.5),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 5.5, 1: 2.0, 2: 1.0, 3: 1.5})
    # properly nested spans: self times add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_unions_and_clips_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: covered once
        _span(3, 0, 9.0, 12.0),  # runs past its parent: clipped
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_event_log_parser_on_recorded_log():
    with open(os.path.join(HERE, "data", "tiny_eventlog.jsonl")) as f:
        groups = parse_event_log(f)
    assert set(groups) == {"pb1", "pb2"}
    g = groups["pb1"]
    assert g.executor_run_s == pytest.approx((113 + 111 + 44) / 1000)
    assert (g.shuffle_write_bytes, g.shuffle_read_bytes, g.spill_bytes) == (266, 266, 0)
    assert g.task_skew == pytest.approx(113 / 112)
    assert groups["pb2"].task_skew == pytest.approx(9 / 7)


def test_metric_names_and_units_are_well_formed():
    for table in (metrics.END_TO_END, metrics.PER_LAYER):
        for name, unit in table.items():
            assert NAME.fullmatch(name), name
            assert UNIT.fullmatch(unit), unit
    assert not set(metrics.END_TO_END) & set(metrics.PER_LAYER)
    assert len(metrics.PER_LAYER) <= 128


def test_benchmark_json_lists_exactly_the_emitted_workloads_and_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    assert spec["paths"] == ["perfbench"]
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.fullmatch(m["name"]) and m["better"] in ("lower", "higher")


def test_emitted_metrics_cover_every_layer():
    # every workload emits the same end-to-end names: one reload or one
    # library pass is the op, and a serving query, a range read or one
    # library key is a read
    assert set(metrics.END_TO_END) == {
        "setup_s", "ok_ops_ratio", "op_p50_s", "serve_geomean_s",
    }
    layers = {n.split(".")[0] for n in metrics.PER_LAYER}
    assert {"session", "sources", "pipelines", "operators", "warehouse", "plans", "queries"} <= layers
    for layer in metrics.SPAN_LAYERS:
        for f in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "task_skew"):
            assert f"{layer}.{f}" in metrics.PER_LAYER
    for k in querylib.KEYS:
        assert f"queries.build_s.{k}" in metrics.PER_LAYER
        assert f"operators.exec_s.{k}" in metrics.PER_LAYER


def test_statistics():
    assert metrics.median([3.0, 1.0, 2.0]) == 2.0
    assert metrics.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert metrics.drift_ratio([1.0, 1.0, 2.0, 2.0]) == 2.0


def test_warmup_ends_when_the_last_ops_agree():
    assert not run._steady([9.0])
    assert not run._steady([9.0, 3.0])
    assert run._steady([9.0, 3.0, 2.9])
    assert not run._steady([9.0, 3.0, 2.5])


def test_same_rows_compares_multisets_with_float_tolerance():
    a = [("AAPL", 2020, 1.0), ("MSFT", 2020, 2.0)]
    b = [("MSFT", 2020, 2.0 + 1e-13), ("AAPL", 2020, 1.0)]
    assert workloads.same_rows(a, b)
    assert not workloads.same_rows(a, [("AAPL", 2020, 1.0), ("MSFT", 2020, 2.1)])
    assert not workloads.same_rows(a, a[:1])


def test_digest_ignores_row_and_column_order():
    import pandas as pd

    df = pd.DataFrame({"a": [1, 2], "b": [0.5, None], "c": [[1.0, 2.0], [3.0]]})
    shuffled = df.iloc[::-1][["c", "a", "b"]]
    assert querylib.digest(df) == querylib.digest(shuffled)
    assert querylib.digest(df) != querylib.digest(df.assign(a=[1, 3]))


def test_expected_digests_cover_the_key_set():
    from fortune_500_financial_insights_pipeline_spark.catalog import TABLES

    assert set(querylib.load_expected()) == set(querylib.KEYS)
    for t in TABLES:
        assert os.path.isfile(os.path.join(querylib.DATA_DIR, f"{t}.parquet"))
