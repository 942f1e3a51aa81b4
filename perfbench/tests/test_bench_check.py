"""The output check: canonical digests and the DuckDB oracle compare."""

import json
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
from layers import LAYER_METRICS  # noqa: E402

SQL = "SELECT k, CAST(sum(v) AS BIGINT) AS total, avg(v) AS mean FROM t GROUP BY k"


def oracle(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    pq.write_table(pa.table({"k": ["a", "b", "a", "c"], "v": [1, 2, 3, 4]}), d / "t.parquet")
    return check.oracle_digests(str(d), {"job": SQL}, str(tmp_path / "work"), 1)["job"]


def good():
    return pd.DataFrame({"mean": [4.0, 2.0, 2.0], "total": [4, 2, 4], "k": ["c", "b", "a"]})


def test_matching_frame_passes(tmp_path):
    assert check.mismatch(check.digest(good()), oracle(tmp_path)) is None


def test_altered_value_is_flagged(tmp_path):
    bad = good()
    bad.loc[0, "total"] = 5
    assert "values differ" in check.mismatch(check.digest(bad), oracle(tmp_path))


def test_dropped_row_and_renamed_column_are_flagged(tmp_path):
    want = oracle(tmp_path)
    assert "rows" in check.mismatch(check.digest(good().iloc[:2]), want)
    renamed = good().rename(columns={"total": "sum"})
    assert "columns" in check.mismatch(check.digest(renamed), want)


def test_float_noise_below_rounding_passes(tmp_path):
    noisy = good()
    noisy["mean"] += 1e-9
    assert check.mismatch(check.digest(noisy), oracle(tmp_path)) is None


def test_oracle_digests_cached(tmp_path):
    oracle(tmp_path)
    cache = tmp_path / "in" / "_oracle.json"
    with open(cache) as f:
        assert set(json.load(f)) == {"job"}


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == LAYER_METRICS
    assert {m["name"] for m in spec["end_to_end"]} == {"cpu_s", "query_geomean_cpu_s", "setup_s"}
