"""Percentile rule, metric names, event-log parsing and footer-level storage
counts: the benchmark's own machinery, checked without starting Spark."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import metrics
from perfbench.storage import WAREHOUSE_TABLES, table_stats
from perfbench.trace import Tracer, event_log_files, parse_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK_JSON = os.path.join(HERE, "..", "..", "BENCHMARK.json")


@pytest.mark.parametrize(
    "n, q, has_value",
    [(0, 50, False), (19, 50, False), (20, 50, True), (99, 90, False),
     (100, 90, True), (1000, 99, True), (1009, 99.9, False)],
)
def test_percentile_needs_ten_samples_beyond_it(n, q, has_value):
    samples = [float(i) for i in range(n, 0, -1)]
    value = metrics.percentile(samples, q)
    assert (value is not None) == has_value
    if has_value:
        assert sum(s > value for s in samples) >= 10


def test_metric_names_and_units_follow_the_contract():
    spec = json.load(open(BENCHMARK_JSON))
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layer == metrics.per_layer_names()
    assert len(layer) <= 128
    for name in [*e2e, *layer, *(w["name"] for w in spec["workloads"])]:
        assert metrics.NAME_RE.fullmatch(name), name
    assert len(set(e2e) | set(layer)) == len(e2e) + len(layer)
    assert spec["end_to_end"][0] == {"name": "setup_s", "unit": "s", "better": "lower",
                                      "bound": max(m["bound"] for m in spec["end_to_end"])}


def test_name_regex_rejects_what_the_contract_forbids():
    for bad in ["", "_lead", "a b", "a/b", "x" * 65, "día"]:
        assert not metrics.NAME_RE.fullmatch(bad), bad


def test_event_log_attributes_jobs_to_the_innermost_span():
    # recorded from a two-core local session: span "outer.write" wrote a
    # parquet file and called span "inner.agg" (a shuffle aggregation);
    # two more jobs ran outside any span
    groups = parse_event_log([os.path.join(HERE, "data", "eventlog_small.jsonl")])
    assert groups["outer.write"]["jobs"] == 1
    assert groups["outer.write"]["output_bytes"] == 1370
    assert groups["inner.agg"]["jobs"] == 2
    assert groups["inner.agg"]["shuffle_bytes"] == 266
    assert groups["inner.agg"]["busy_s"] == pytest.approx(0.469)
    assert groups[""]["jobs"] == 2


class _FakeContext:
    def __init__(self):
        self.groups = []

    def setLocalProperty(self, key, value):
        self.groups.append(value)


def test_tracer_nests_spans_and_restores_the_job_group(tmp_path):
    sc = _FakeContext()
    tracer = Tracer(sc)
    tracer.trace = "day 1"
    tracer.call("outer", lambda: tracer.call("inner", lambda: None))
    assert sc.groups == ["outer", "inner", "outer", None]
    assert [(s["trace"], s["name"], s["parent"]) for s in tracer.spans] == [
        ("day 1", "inner", "outer"), ("day 1", "outer", None)]
    inner, outer = tracer.spans
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert tracer.calls == {"inner": 1, "outer": 1}
    path = tmp_path / "spans.jsonl"
    tracer.write_spans(str(path))
    assert [json.loads(line) for line in path.read_text().splitlines()] == tracer.spans


def test_tracer_wrappers_are_removed_after_the_block():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    tracer = Tracer(_FakeContext())
    original = Owner.f
    with tracer.installed([(Owner, "f", "owner.f", None)]):
        assert Owner.f(1) == 2
    assert Owner.f is original
    assert tracer.calls["owner.f"] == 1


@pytest.mark.parametrize("entry", ["eventlog_v2_local-1/", "local-2.zstd"])
def test_event_log_files_refuses_rolling_and_compressed_logs(tmp_path, entry):
    (tmp_path / "local-0").write_text("")
    if entry.endswith("/"):
        (tmp_path / entry).mkdir()
    else:
        (tmp_path / entry).write_text("")
    with pytest.raises(ValueError):
        event_log_files(str(tmp_path))


def test_event_log_files_lists_a_plain_log(tmp_path):
    (tmp_path / "local-0").write_text("")
    assert event_log_files(str(tmp_path)) == [str(tmp_path / "local-0")]


def test_storage_counts_files_rows_and_type_drift(tmp_path):
    root = str(tmp_path)
    for table, schema in WAREHOUSE_TABLES.items():
        vdir = os.path.join(root, table, "v=1")
        os.makedirs(vdir)
        with open(os.path.join(root, table, "_manifest.json"), "w") as f:
            json.dump({"version": 1}, f)
        fields = [pa.field(x.name, metrics_arrow(x.dataType)) for x in schema.fields]
        pq.write_table(pa.table({x.name: pa.array([], x.type) for x in fields}),
                       os.path.join(vdir, "part-0.parquet"))
    # the audit append writes error_id as INT32 beside the INT64 bootstrap file
    pq.write_table(pa.table({"error_id": pa.array([1, 2], pa.int32()),
                             "run_id": pa.array([1, 1], pa.int64())}),
                   os.path.join(root, "etl_error_log", "v=1", "part-1.parquet"))
    stats = table_stats(root)
    assert stats["etl_error_log"] == {"files": 2, "bytes": stats["etl_error_log"]["bytes"],
                                      "rows": 2, "drift": ["error_id"]}
    assert all(not s["drift"] for t, s in stats.items() if t != "etl_error_log")


def metrics_arrow(spark_type):
    return {
        "LongType": pa.int64(), "IntegerType": pa.int32(), "DoubleType": pa.float64(),
        "StringType": pa.string(), "DateType": pa.date32(), "BooleanType": pa.bool_(),
        "TimestampType": pa.timestamp("us"),
    }[type(spark_type).__name__]
