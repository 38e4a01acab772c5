"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest -q perfbench/tests
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402
from tracing import Span, parse_sql_timing, self_times  # noqa: E402


#: name and unit grammar of the benchmark output
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ metric names


def test_benchmark_json_is_generated_from_the_catalogue():
    assert _spec() == metrics.spec()


def test_metric_names_and_units_are_valid_and_unique():
    spec = _spec()
    all_metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in all_metrics] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for m in all_metrics:
        assert NAME_RE.fullmatch(m["name"]), m["name"]
        assert UNIT_RE.fullmatch(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert 1 <= len(spec["per_layer"]) <= 128
    assert 2 <= len(spec["workloads"]) <= 8
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize(
    "name, ok",
    [("op_p50_s", True), ("pipeline.dedup.exec_s", True), ("9lives", True),
     ("_x", False), ("a b", False), ("x" * 65, False), ("", False)],
)
def test_valid_name(name, ok):
    assert (NAME_RE.fullmatch(name) is not None) is ok


def test_every_per_layer_metric_names_what_it_should_move():
    e2e = {m["name"] for m in _spec()["end_to_end"]}
    workloads = {w["name"] for w in _spec()["workloads"]} | {"all"}
    for m in metrics.per_layer():
        assert m["on"] in workloads
        assert m["moves"] in e2e or m["moves"].startswith("none"), m


def test_run_emits_exactly_the_declared_metrics():
    import run

    st = {
        "samples": [0.1 * i for i in range(1, 41)], "pass_rates": [500.0, 400.0],
        "pass_peaks": [100.0, 120.0], "window_s": 2.2,
        "pass_walls": {False: [1.0, 1.2], True: [1.1, 1.3]}, "layer": {},
        "stream_batches": [],
    }
    setup = {"setup_s": 1.0, "session.start_s": 0.5, "session.load_tables_s": 0.1,
             "sources.ingest_s": 0.2, "sources.ingest_bytes": 10}
    spec = _spec()
    assert set(run.end_to_end_metrics(setup, st)) == {m["name"] for m in spec["end_to_end"]}
    assert set(run.per_layer_metrics(setup, st, [])) == {m["name"] for m in spec["per_layer"]}


# -------------------------------------------------------------- percentiles


def test_min_samples_leaves_ten_beyond():
    assert stats.min_samples(90) == 100
    assert stats.min_samples(75) == 40
    assert stats.min_samples(50) == 20
    for q in (50, 75, 90):
        n = stats.min_samples(q)
        xs = list(range(n))
        assert sum(x > stats.percentile(xs, q) for x in xs) >= stats.MIN_BEYOND
        with pytest.raises(ValueError):
            stats.percentile(xs[:-1], q)


def test_percentile_interpolates():
    xs = [float(i) for i in range(101)]
    assert stats.percentile(xs, 90) == 90.0
    assert stats.percentile(list(reversed(xs)), 75) == 75.0
    assert stats.percentile([float(i) for i in range(20)], 50) == 9.5


# ------------------------------------------------------------------ spans


def _sp(i, parent, start, end, layer="x"):
    return Span(i, parent, layer, "", start, end)


def test_self_time_subtracts_children():
    spans = [
        _sp(0, None, 0.0, 10.0, "bench.op"),
        _sp(1, 0, 1.0, 3.0, "queries"),
        _sp(2, 0, 3.0, 9.0, "operators"),
        _sp(3, 2, 4.0, 5.0, "inner"),
    ]
    st = self_times(spans)
    assert st == {0: pytest.approx(2.0), 1: 2.0, 2: pytest.approx(5.0), 3: 1.0}
    # self times along the op's blocking path add up to its wall time
    assert sum(st.values()) == pytest.approx(spans[0].dur)


def test_self_time_merges_overlapping_and_clips_children():
    spans = [
        _sp(0, None, 0.0, 10.0),
        _sp(1, 0, 1.0, 4.0),
        _sp(2, 0, 3.0, 6.0),   # overlaps the first child
        _sp(3, 0, 8.0, 12.0),  # runs past the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 2.0)


def test_sql_timing_parse():
    assert parse_sql_timing("241 ms") == pytest.approx(0.241)
    total = "total (min, med, max (stageId: taskId))\n3.3 s (814 ms, 826 ms, 833 ms (stage 12.0: task 13))"
    assert parse_sql_timing(total) == pytest.approx(3.3)
    assert parse_sql_timing("1.5 min") == pytest.approx(90.0)


# ------------------------------------------------------------ failed_frac


def test_failed_frac_accounting():
    t = stats.OpTally()
    t.record(raised=False, check_failed=False)
    t.record(raised=True, check_failed=False)
    t.record(raised=False, check_failed=True)   # wrong output counts as failed
    t.record(raised=True, check_failed=True)    # and is counted once
    assert (t.attempted, t.failed) == (4, 3)
    assert t.failed_frac == pytest.approx(0.75)
    assert stats.failed_frac(10, 0) == 0.0
    for bad in ((0, 0), (3, 4), (3, -1)):
        with pytest.raises(ValueError):
            stats.failed_frac(*bad)


# ------------------------------------------------------------------- data


def test_same_seed_gives_byte_identical_tables(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    rows_a = gen.write_tables(str(a), 7, 0.002)
    rows_b = gen.write_tables(str(b), 7, 0.002)
    rows_c = gen.write_tables(str(c), 8, 0.002)
    assert set(rows_a) == set(gen.TABLES)
    assert rows_a == rows_b
    for name in gen.TABLES:
        assert (a / f"{name}.parquet").read_bytes() == (b / f"{name}.parquet").read_bytes()
    # another seed changes the data but not the amount of work
    assert (a / "documents.parquet").read_bytes() != (c / "documents.parquet").read_bytes()
    assert rows_a == rows_c


def test_generated_tables_keep_referential_integrity():
    t = gen.make_tables(3, 0.002)
    orders = t["orders"].to_pandas()
    li = t["lineitem"].to_pandas()
    assert li["l_orderkey"].isin(orders["o_orderkey"]).all()
    assert orders["o_custkey"].isin(t["customer"].to_pandas()["c_custkey"]).all()
    docs = t["documents"].to_pandas()
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    assert docs["text"].str.endswith(" dup").any()


# ------------------------------------------------------------------ checks


def test_minhash_check_flags_pairs_that_are_not_near_dups():
    import duckdb

    import ops

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO documents VALUES (0, 'the fast hash join of big data'), "
                "(1, 'the fast hash join of big data'), (2, 'slow sort merge window scan row')")
    good = pd.DataFrame({"id_a": [0], "id_b": [1], "jaccard": [1.0]})
    assert ops._minhash_check(good, con) == []
    assert ops._minhash_check(pd.DataFrame({"id_a": [0, 0], "id_b": [1, 2],
                                            "jaccard": [1.0, 0.0]}), con)
    assert ops._minhash_check(pd.DataFrame({"id_a": [0], "id_b": [1], "jaccard": [0.5]}), con)
    # the one pair at J >= 0.8 must be found
    assert ops._minhash_check(good.iloc[:0], con)
