"""The benchmark's own tests: generators, metric names, output checks.

Run from the repository root: ``python -m pytest perfbench -q``. None of
them starts Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import pytest

from perfbench import gen, run, trace
from perfbench.workloads import CheckFailed, Queries


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                h.update(os.path.relpath(p, path).encode() + fh.read())
    return h.hexdigest()


GENERATORS = {
    "pubmed_pages": lambda seed, d: gen.pubmed_pages(seed, d, 200),
    "star_fixture": lambda seed, d: gen.star_fixture(seed, d, 0.001),
    "event_backlog": lambda seed, d: gen.event_backlog(seed, d, 3, 300),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generator_is_byte_identical_for_a_seed(tmp_path, name):
    make = GENERATORS[name]
    sizes = [make(seed, str(tmp_path / f"{seed}-{i}")) for i, seed in enumerate((7, 7, 8))]
    digests = [_tree_digest(str(tmp_path / f"{seed}-{i}")) for i, seed in enumerate((7, 7, 8))]
    assert digests[0] == digests[1] and sizes[0] == sizes[1]
    assert digests[0] != digests[2]


def test_pubmed_pages_shape(tmp_path):
    info = gen.pubmed_pages(3, str(tmp_path), 400)
    lines = [ln for f in sorted(os.listdir(tmp_path)) for ln in open(tmp_path / f).read().split("\n")]
    assert len(lines) == 400 == info["sizes"]["ndjson_lines"]
    parsed = []
    for ln in lines:
        try:
            parsed.append(json.loads(ln))
        except json.JSONDecodeError:
            pass
    assert len(lines) - len(parsed) == info["sizes"]["malformed_lines"]
    with_abstract = [r for r in parsed if r["medent"].get("abstract")]
    assert len(with_abstract) == info["expected_articles"]
    assert 0.6 < len(with_abstract) / len(parsed) < 0.95
    assert all(120 <= len(r["medent"]["abstract"].split()) for r in with_abstract)


def test_event_backlog_keeps_late_rows_inside_the_watermark(tmp_path):
    import pyarrow.parquet as pq

    info = gen.event_backlog(5, str(tmp_path), 4, 2000)
    files = sorted(os.listdir(tmp_path))
    max_seen = None
    for f in files:
        ts = pq.read_table(tmp_path / f)["ts"].cast("int64").to_numpy()
        if max_seen is not None:
            # watermark 10 minutes: nothing older than max_seen - 10 min
            assert ts.min() > max_seen - 600 * 1_000_000
        max_seen = ts.max() if max_seen is None else max(max_seen, ts.max())
    ids = [i for f in files for i in pq.read_table(tmp_path / f)["event_id"].to_pylist()]
    assert len(ids) - len(set(ids)) == info["duplicate_rows"] > 0
    assert info["late_events"] > 0


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_metric_names_and_benchmark_json_agree():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    for name in [*e2e, *layers, *(w["name"] for w in bench["workloads"])]:
        assert NAME.match(name), name
    from perfbench.workloads import WORKLOADS

    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)


class _Ctx:
    def __init__(self, run_dir):
        self.run_dir = run_dir
        self.seed = 4


def test_query_check_catches_a_corrupted_result(tmp_path):
    import duckdb

    q = Queries(_Ctx(str(tmp_path)))
    gen.star_fixture(4, q.sf_dir, 0.001)
    name = "rel_q18_big_orders"
    from mrc_spark_jobs_pubmed_spark import plans

    con = duckdb.connect()
    for f in os.listdir(q.sf_dir):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{q.sf_dir}/{f}')")
    good = con.execute(plans.all_oracles()[name]).df()
    assert len(good) > 0
    q.check(name, good.copy())  # the oracle's own answer passes
    bad = good.copy()
    col = bad.select_dtypes("number").columns[-1]
    bad.loc[bad.index[0], col] = bad[col].iloc[0] + 1
    with pytest.raises(CheckFailed):
        q.check(name, bad)
    with pytest.raises(CheckFailed):
        q.check(name, good.iloc[1:])


def test_tail_needs_ten_samples_beyond():
    t = trace.tail([float(i) for i in range(100)])
    assert t["pct"] == 90 and t["n"] == 100
    short = trace.tail([1.0, 2.0, 3.0])
    assert short["pct"] is None and short["value"] == 3.0 and short["p50"] == 2.0


def test_event_log_attributes_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "p:build:q"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"metrics": [{"name": trace.PYTHON_IN, "accumulatorId": 9}],
                           "children": []}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Accumulables": [{"ID": 9, "Update": 100}]},
         "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 10,
                          "Input Metrics": {"Bytes Read": 42}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    ]
    p = tmp_path / "app"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = trace.EventLog(str(p))
    got = log.total(lambda g: g.startswith("p:"))
    assert (got["jobs"], got["stages"], got["tasks"]) == (1, 1, 1)
    assert got["task_run_s"] == 1.5 and got["scan_bytes"] == 42 and got["python_bytes_in"] == 100
    assert log.total()["jobs"] == 2
