"""Tests of the benchmark's own helpers (no Spark needed).

Run: python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


@pytest.mark.parametrize(
    "text, expected",
    [
        ("2.0 s", 2.0),
        ("10 ms", 0.010),
        ("0 ms", 0.0),
        ("1.5 min", 90.0),
        ("15.2 KiB", 15.2 * 1024),
        ("3.0 MiB", 3.0 * 1024 * 1024),
        ("512 B", 512.0),
        ("625", 625.0),
        ("1,234,567", 1234567.0),
        (
            "total (min, med, max (stageId: taskId))\n"
            "7.6 s (1.7 s, 1.9 s, 2.1 s (stage 3.0: task 5))",
            7.6,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "276.2 KiB (53.9 KiB, 69.0 KiB, 85.2 KiB (stage 3.0: task 5))",
            276.2 * 1024,
        ),
    ],
)
def test_parse_sql_metric(text, expected):
    assert layers.parse_sql_metric(text) == pytest.approx(expected)


@pytest.mark.parametrize("text", ["", "n/a", "3.0 furlongs"])
def test_parse_sql_metric_rejects_unknown(text):
    with pytest.raises(ValueError):
        layers.parse_sql_metric(text)


def _span(i, name, parent, start, end):
    return layers.Span(i, name, parent, "t", start, end)


def test_self_time_subtracts_children():
    spans = [
        _span(0, "query", None, 0.0, 10.0),
        _span(1, "build", 0, 1.0, 3.0),
        _span(2, "execute", 0, 3.0, 8.0),
    ]
    st = layers.self_times(spans)
    assert st == pytest.approx({"query": 3.0, "build": 2.0, "execute": 5.0})


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, "pass", None, 0.0, 10.0),
        _span(1, "query", 0, 1.0, 6.0),
        _span(2, "query", 0, 2.0, 4.0),  # inside the first child
        _span(3, "query", 0, 5.0, 12.0),  # runs past the parent's end
    ]
    assert layers.self_times(spans)["pass"] == pytest.approx(1.0)


def test_self_time_sums_spans_of_one_name():
    spans = [
        _span(0, "run", None, 0.0, 4.0),
        _span(1, "query", 0, 0.0, 1.0),
        _span(2, "query", 0, 2.0, 4.0),
    ]
    st = layers.self_times(spans)
    assert st["query"] == pytest.approx(3.0)
    assert st["run"] == pytest.approx(1.0)


def test_tracer_nests_and_unwinds():
    tr = layers.Tracer(enabled=True)
    run_span = tr.start("run", trace_id="r")
    q = tr.start("query", trace_id="r:q1")
    tr.start("build")
    tr.unwind(q)  # an exception left "build" open
    tr.end(run_span)
    names = [(s.name, s.parent, s.trace_id) for s in tr.spans]
    assert names == [("run", None, "r"), ("query", 0, "r:q1"), ("build", 1, "r:q1")]
    assert all(s.end >= s.start for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = layers.Tracer(enabled=False)
    span = tr.start("query")
    tr.end(span)
    tr.unwind(span)
    assert span is None and tr.spans == []


def test_median():
    # the hot-pass median: odd count picks the middle pass, even averages
    assert layers.median([5.1, 9.9, 4.8]) == 5.1
    assert layers.median([10.0, 11.0, 9.0, 12.0]) == 10.5
    with pytest.raises(ValueError):
        layers.median([])


def test_rows_per_s():
    reads = run.WORKLOADS["integration_small"].reads
    rows_per_pass = sum(gen.ROWS[t] for tables in reads.values() for t in tables)
    # orders twice (q11, q36), customer twice (q11, q13), ...
    assert rows_per_pass == 60_000 + 100 + 2 * 15_000 + 2 * 1_500 + 25 + 10_000
    assert layers.rows_per_s(rows_per_pass, 8.0) == pytest.approx(rows_per_pass / 8.0)
    with pytest.raises(ValueError):
        layers.rows_per_s(rows_per_pass, 0.0)


@pytest.mark.parametrize(
    "key, unit",
    [
        ("exec.s", "s"), ("entry.build_s", "s"), ("catalyst.planning_ms", "ms"),
        ("sink.mb", "MB"), ("cache.mem_mb_peak", "MB"), ("exec.busy_frac", "frac"),
        ("entry.build_share", "frac"), ("config.driver_mem_gb", "GB"),
        ("noise.load1_before", "load"), ("udf.rows", "count"),
        ("span.execute.self_s", "s"), ("catalyst.plan_nodes", "count"),
    ],
)
def test_layer_unit(key, unit):
    assert run.layer_unit(key) == unit


def test_every_per_layer_name_has_a_value_source():
    """The names BENCHMARK.json lists are the names a traced run prints."""
    import json

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        listed = {m["name"] for m in json.load(f)["per_layer"]}
    produced = (
        set(run.PASS_LAYERS)
        | {f"span.{s}.self_s" for s in run.SPANS}
        | {"entry.build_share", "exec.busy_frac", "session.get_spark_s",
           "session.first_job_s", "session.worker_pool_s", "cache.mem_mb_peak",
           "cache.disk_mb_peak", "cache.rdds_after_clear", "trace.hot_pass_s",
           "trace.untraced_hot_pass_s", "trace.overhead_s", "noise.cpu_ref_s",
           "noise.load1_before", "noise.load1_after", "noise.steal_frac",
           "config.cores",
           "config.shuffle_partitions", "config.driver_mem_gb", "disk.left_mb",
           "rss.peak_mb", "run.failed_frac"}
    )
    assert listed == produced


TESTDATA_TYPES = {
    "nation": {"n_nationkey": pa.int32(), "n_name": pa.string(),
               "n_regionkey": pa.int32()},
    "customer": {"c_custkey": pa.int64(), "c_name": pa.string(),
                 "c_nationkey": pa.int32(), "c_acctbal": pa.float64(),
                 "c_mktsegment": pa.string()},
    "supplier": {"s_suppkey": pa.int64(), "s_name": pa.string(),
                 "s_nationkey": pa.int32(), "s_acctbal": pa.float64()},
    "orders": {"o_orderkey": pa.int64(), "o_custkey": pa.int64(),
               "o_orderstatus": pa.string(), "o_totalprice": pa.float64(),
               "o_orderdate": pa.timestamp("us"), "o_orderpriority": pa.string()},
    "lineitem": {"l_orderkey": pa.int64(), "l_partkey": pa.int64(),
                 "l_suppkey": pa.int64(), "l_linenumber": pa.int32(),
                 "l_quantity": pa.float64(), "l_extendedprice": pa.float64(),
                 "l_discount": pa.float64(), "l_tax": pa.float64(),
                 "l_returnflag": pa.string(), "l_linestatus": pa.string(),
                 "l_shipdate": pa.timestamp("us")},
    "events": {"event_id": pa.int64(), "ts": pa.timestamp("us"),
               "user_id": pa.int64(), "event_type": pa.string(),
               "value": pa.float64(), "props": pa.string()},
    "embeddings": {"vec_id": pa.int64(), "embedding": pa.list_(pa.float32()),
                   "label": pa.int32()},
}


@pytest.mark.parametrize("workload", sorted(gen.WORKLOAD_TABLES))
def test_generator_schema_and_determinism(workload, tmp_path):
    rows = gen.generate(workload, 7, str(tmp_path / "a"))
    gen.generate(workload, 7, str(tmp_path / "b"))
    gen.generate(workload, 8, str(tmp_path / "c"))
    for table, n in rows.items():
        a = pq.read_table(tmp_path / "a" / f"{table}.parquet")
        b = pq.read_table(tmp_path / "b" / f"{table}.parquet")
        c = pq.read_table(tmp_path / "c" / f"{table}.parquet")
        assert {f.name: f.type for f in a.schema} == TESTDATA_TYPES[table]
        assert a.num_rows == n
        assert a.equals(b)
        if table != "nation":  # the nation dimension is fixed
            assert not a.equals(c)
