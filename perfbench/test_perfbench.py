"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, trace, workloads  # noqa: E402
from perfbench import run as runner  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _catalog() -> dict:
    with open(os.path.join(HERE, "metrics.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------ determinism


def _inputs(seed: int, root: str) -> str:
    os.makedirs(os.path.join(root, "inbox"))
    model = gen.IngestModel(seed, rows_per_file=300)
    for r in range(3):
        model.land(r, os.path.join(root, "inbox"))
    gen.write_corpus(seed, 0, os.path.join(root, "corpus"), n_docs=200, n_vecs=150)
    gen.write_tpch(seed, os.path.join(root, "sf"), n_orders=600, n_vecs=50)
    serve = gen.ServeModel(seed, files=2, rows_per_file=500)
    with open(os.path.join(root, "ops.json"), "w") as fh:
        fh.write(gen.dump([serve.read_ops(60, ["q1"]), serve.write_ops(20, 6)]))
    return gen.digest(root)


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a = _inputs(11, str(tmp_path / "a"))
    b = _inputs(11, str(tmp_path / "b"))
    c = _inputs(12, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_ingest_model_plants_what_it_promises(tmp_path):
    model = gen.IngestModel(3, rows_per_file=400)
    first = model.land(0, str(tmp_path))
    second = model.land(1, str(tmp_path))
    # in-file duplicates on top of the rows that reach silver
    assert first["rows"] > first["silver_rows_in"]
    # re-shipped keys: silver grows by less than the rows landed
    assert len(model.silver) < first["silver_rows_in"] + second["silver_rows_in"]
    assert {f.rsplit(".", 1)[1] for f in os.listdir(tmp_path)} == {"csv", "jsonl", "parquet"}


def test_serve_mix_has_fixed_proportions():
    ops = gen.ServeModel(5).read_ops(120, ["q1", "q3"])
    kinds = [k for k, _ in ops]
    assert kinds.count("point") == 60
    assert kinds.count("query") == 40
    assert kinds.count("ann") == 20


# --------------------------------------------------------------- checks


def test_corrupted_gold_expectation_fails_the_check():
    rows = [("F", 2, 30.5), ("O", 1, 7.25), (None, 1, 1.0)]
    want = {"F": (2, 30.5), "O": (1, 7.25), None: (1, 1.0)}
    assert workloads.gold_matches(rows, want)
    assert not workloads.gold_matches(rows, {**want, "O": (1, 7.26)})
    assert not workloads.gold_matches(rows, {**want, "F": (3, 30.5)})
    assert not workloads.gold_matches(rows, {"F": (2, 30.5), "O": (1, 7.25)})


def test_corrupted_funnel_expectation_fails_the_check():
    e = {"docs": 100, "exact_dups": 5, "near_dups": 5, "low_quality": 3, "semantic_dups": 4}
    funnel = {
        "input": 100, "gate_dropped": 0, "after_exact_dedup": 95,
        "after_near_dedup": 90, "after_quality": 87, "chunks_written": 300,
    }
    assert workloads.funnel_matches(funnel, 10, 4, e)
    assert not workloads.funnel_matches(funnel, 10, 4, {**e, "near_dups": 6})
    assert not workloads.funnel_matches(funnel, 10, 5, e)


def test_corrupted_point_expectation_fails_the_check():
    rows = [(7, 42, 1234.5)]
    assert workloads.point_matches(rows, (42, 1234.5))
    assert not workloads.point_matches(rows, (42, 1234.51))
    assert not workloads.point_matches(rows, None)
    assert workloads.point_matches([], None)


def test_value_hash_is_order_insensitive_and_value_sensitive():
    rows = [(1, "a", 0.5), (2, "b", None)]
    h = workloads.value_hash(rows, ["id", "s", "x"])
    assert h == workloads.value_hash(rows[::-1], ["id", "s", "x"])
    assert h != workloads.value_hash([(1, "a", 0.5), (2, "b", 0.0)], ["id", "s", "x"])


# ------------------------------------------------------------ event log


def test_event_log_parser_on_recorded_fixture():
    with open(os.path.join(HERE, "fixtures", "eventlog_small.jsonl")) as fh:
        groups = trace.parse_event_log(fh)
    assert set(groups) == {"bench.point", "bench.pass/operators.dedup.semantic_dedup"}
    point = groups["bench.point"]
    assert point["jobs"] == 1 and point["stages"] == 1 and point["tasks"] == 1
    assert point["small_jobs"] == 1
    assert point["stage_rows"] == 1000
    dedup = groups["bench.pass/operators.dedup.semantic_dedup"]
    assert dedup["jobs"] == 1 and dedup["stages"] == 2 and dedup["tasks"] == 4
    assert dedup.get("small_jobs", 0) == 0
    assert dedup["shuffle_write_bytes"] > 0 and dedup["shuffle_read_bytes"] > 0
    assert dedup["py_sent"] > 0 and dedup["py_returned"] > 0
    assert dedup["task_run_s"] > 0 and dedup["task_cpu_s"] > 0
    totals = trace.spark_totals(groups, window_s=10.0, slots=4)
    assert totals["spark.jobs"] == 2 and totals["spark.tasks"] == 5


# ---------------------------------------------------------- metric names


def test_benchmark_json_matches_the_catalog():
    bench, cat = _bench(), _catalog()
    assert [w["name"] for w in bench["workloads"]] == ["ingest", "curate", "serve"]
    assert [m["name"] for m in bench["per_layer"]] == [m["name"] for m in cat["per_layer"]]
    assert set(cat["headline"]) <= {m["name"] for m in bench["end_to_end"]}
    assert len(cat["end_to_end"]) == 15
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in bench["end_to_end"])


class _Stub:
    units = 10
    writer_ops: list = []

    def primary(self, ops):
        return [o.seconds for o in ops]

    def space_ratio(self):
        return 1.5

    def lake_roots(self):
        return []


def test_printed_metric_names_and_units_match_benchmark_json():
    bench = _bench()
    ops = [workloads.Op("round", 2.0, True), workloads.Op("round", 3.0, True)]
    e2e = runner.with_units(bench["end_to_end"], runner.end_to_end_values(_Stub(), ops, 4.0))
    assert {k: v["unit"] for k, v in e2e.items()} == {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert all(v["value"] > 0 for v in e2e.values())
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    layers = runner.layer_metrics(
        _Stub(), ops, trace.Tracer(), trace.CountingFileIO(object()), {}, 10.0, 1.0, 0.05
    )
    printed = runner.with_units(bench["per_layer"], layers)
    assert {k: v["unit"] for k, v in printed.items()} == {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert set(layers) == {m["name"] for m in bench["per_layer"]}


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert "correct" not in p.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
