"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {ingest,curate,serve} --seed N \
        --seconds S --trace {0,1}

Run it from the repository root. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``). The line
before it is a JSON report with the workload's own metric names
(perfbench/metrics.json), the run's stamps (cores, load average,
calibration op) and input sizes. All scratch data lives under
``.perfbench_work/`` in the current directory and is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "biglake_iceberg_pipeline_spark"
WORK = os.path.join(ROOT, ".perfbench_work")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["ingest", "curate", "serve"])
    p.add_argument("--seed", type=int, default=None)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    the traced run also switches on the Spark event log."""
    for sub in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [ROOT]
    )
    if trace:
        from perfbench.trace import event_log_args

        os.environ["PYSPARK_SUBMIT_ARGS"] = event_log_args(os.path.join(work, "eventlog"))
    else:
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def calibration_op(spark) -> float:
    """A fixed, data-independent hash aggregation (4M generated rows
    over 997 keys). It costs the same on a quiet host every time; a
    start or end reading above the usual says the host was busy."""
    t0 = time.perf_counter()
    n = (
        spark.range(0, 4_000_000, 1, int(os.environ["SPARK_GRAFT_CPUS"]))
        .selectExpr("id % 997 AS k", "id AS v")
        .groupBy("k")
        .sum("v")
        .count()
    )
    assert n == 997
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every child process."""
    from pyspark import SparkContext

    from perfbench.trace import tree_pids

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while time.time() < deadline:
        rest = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        time.sleep(0.2)
    for p in rest:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def untraced_p50(args, seconds: float) -> float:
    """The primary-op median of the last untraced run of this
    workload in this checkout; makes one when there is none."""
    path = os.path.join(WORK, f"untraced_{args.workload}.json")
    if not os.path.exists(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.DEVNULL, check=True,
        )
    with open(path) as fh:
        return json.load(fh)["op_p50_s"]


def lake_layout(roots: list[str]) -> dict[str, float]:
    """Data/metadata bytes, live snapshots and delete files of every
    lakehouse table under ``roots``."""
    from biglake_iceberg_pipeline_spark.sinks.lakehouse import LakehouseTable

    out = dict.fromkeys(
        ("lakehouse.metadata_bytes", "lakehouse.data_bytes", "lakehouse.data_files",
         "lakehouse.snapshots_live", "lakehouse.delete_files"), 0.0,
    )
    for root in roots:
        for d, _, files in os.walk(root):
            if "_manifest.json" not in files:
                continue
            t = LakehouseTable(d)
            snaps = t.snapshots
            live = set(snaps[-1].get("files", [])) if snaps else set()
            out["lakehouse.snapshots_live"] += len(snaps)
            out["lakehouse.delete_files"] += len(snaps[-1].get("deletes", [])) if snaps else 0
            for f in live:
                p = f if os.path.isabs(f) else os.path.join(d, f)
                if os.path.exists(p):
                    out["lakehouse.data_files"] += 1
                    out["lakehouse.data_bytes"] += os.path.getsize(p)
            for sub, _, fs in os.walk(d):
                in_meta_dir = os.path.relpath(sub, d).startswith("_")
                for f in fs:
                    if in_meta_dir or f.startswith("_"):
                        out["lakehouse.metadata_bytes"] += os.path.getsize(os.path.join(sub, f))
    return out


def layer_metrics(wl, ops, tracer, fileio, events, window_s, t_session, overhead) -> dict:
    from perfbench.trace import spark_totals
    from perfbench.workloads import pct

    inc, self_s = tracer.inclusive, tracer.self_s
    parts = [o.parts for o in ops] + [o.parts for o in getattr(wl, "writer_ops", [])]
    psum = lambda k: sum(p.get(k, 0.0) for p in parts)  # noqa: E731
    points = [o.parts for o in ops if o.kind == "point"]
    shipped = sum(g.get("stage_rows", 0.0) for k, g in events.items() if k.endswith("bench.point"))
    returned = sum(p.get("rows", 0) for p in points)
    m = {
        "session.start_s": t_session,
        "sources.read_s": inc["sources.read"],
        "sources.files": tracer.sources_files,
        "sources.input_bytes": tracer.sources_bytes,
        "operators.cleaning_s": inc["operators.cleaning"],
        "operators.dedup_s": inc["operators.dedup"],
        "operators.graph_s": inc["operators.graph"],
        "operators.text_s": inc["operators.text"],
        "plans.build_s": psum("plans.build_s"),
        "plans.medallion_flow.self_s": self_s["plans.medallion_flow"],
        "plans.curate.self_s": self_s["plans.curate"],
        "catalyst.plan_s": psum("catalyst.plan_s") + psum("connector.plan_s"),
        "connector.load_s": pct([p["connector.load_s"] for p in points], 50) if points else 0.0,
        "connector.plan_s": pct([p["connector.plan_s"] for p in points], 50) if points else 0.0,
        "connector.exec_s": pct([p["connector.exec_s"] for p in points], 50) if points else 0.0,
        "connector.rows_shipped_per_row_returned": shipped / returned if returned else 0.0,
        "lakehouse.commit_s": inc["lakehouse.commit"],
        "lakehouse.commits": tracer.calls["lakehouse.commit"],
        "lakehouse.read_build_s": inc["lakehouse.read_build"],
        "lakehouse.maintain_s": inc["lakehouse.maintain"],
        "lakehouse.maintain_bytes_rewritten": tracer.maintain_bytes,
        "matview.refresh_s": inc["matview.refresh"],
        "matview.refreshes": tracer.calls["matview.refresh"],
        "trace.overhead_ratio": overhead,
    }
    m.update(spark_totals(events, window_s, int(os.environ["SPARK_GRAFT_CPUS"])))
    m.update(fileio.metrics())
    m.update(lake_layout(wl.lake_roots()))
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "metrics.json")) as fh:
        catalog = json.load(fh)
    seed = catalog["seeds"]["default"] if args.seed is None else args.seed
    seconds = float(bench["run_seconds"] if args.seconds is None else args.seconds)
    args.seed = seed
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ package in {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{seed}-{os.getpid()}")
    sys.path.insert(0, ROOT)
    configure_env(work, bool(args.trace))
    try:
        return run(args, seed, seconds, work, bench, catalog)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, seed, seconds, work, bench, catalog) -> int:
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS, pct

    load_before = os.getloadavg()
    sampler = tr.RssSampler()
    sampler.start()
    wl = WORKLOADS[args.workload](work, seed)
    wl.generate()

    tracer = tr.Tracer()
    fileio = None
    if args.trace:
        from biglake_iceberg_pipeline_spark.sinks import fileio as fio

        tracer.install()
        fileio = tr.CountingFileIO(fio.LOCAL)
        fio.register_fileio(work, fileio)

    from biglake_iceberg_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    t_session = time.perf_counter() - t0
    try:
        calib_start = calibration_op(spark)
        gen_before_setup = wl.gen_s
        wl.setup(spark)
        setup_s = time.perf_counter() - T_START - gen_before_setup - calib_start
        wl.gen_s = 0.0
        tracer.reset()
        if fileio is not None:
            fileio.reset()
        loop_start_epoch, t_loop = time.time(), time.perf_counter()
        ops = wl.run(spark, tracer, t_loop + seconds)
        window_s = time.perf_counter() - t_loop
        loop_end_epoch = time.time()
        calib_end = calibration_op(spark)
    finally:
        tracer.uninstall()
        stop_spark(spark)
    peak_rss_mb = sampler.stop()

    writer_ops = getattr(wl, "writer_ops", [])
    attempted = len(ops) + len(writer_ops) + getattr(wl, "setup_failures", 0)
    failed = sum(1 for o in ops + writer_ops if not o.ok) + getattr(wl, "setup_failures", 0)
    op_p50 = pct(wl.primary(ops), 50)
    e2e = end_to_end_values(wl, ops, setup_s)
    named = {"setup_s": setup_s, "error_rate": failed / max(attempted, 1), "peak_rss_mb": peak_rss_mb}
    named.update(wl.report(ops))
    units = {m["name"]: m["unit"] for m in catalog["end_to_end"]}
    report = {
        "workload": args.workload,
        "seed": seed,
        "trace": args.trace,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in named.items()},
        "stamps": {
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "calibration_op_start_s": calib_start,
            "calibration_op_end_s": calib_end,
        },
        "inputs": {**wl.inputs(), "generate_s": wl.gen_s + gen_before_setup},
        "samples": {
            kind: sum(1 for o in ops + writer_ops if o.kind == kind)
            for kind in sorted({o.kind for o in ops + writer_ops})
        },
        "window_s": window_s,
        "primary_op_s": wl.primary(ops),
        "op_parts": [{k: v for k, v in o.parts.items() if k.endswith("_s")} for o in ops[:8]],
    }
    if args.trace:
        events = tr.parse_event_log(
            tr.read_event_log(os.path.join(work, "eventlog")), (loop_start_epoch, loop_end_epoch)
        )
        overhead = op_p50 / untraced_p50(args, seconds) - 1.0
        layers = layer_metrics(wl, ops, tracer, fileio, events, window_s, t_session, overhead)
        report["spark_by_group"] = {
            g: {k: v for k, v in acc.items() if k in ("jobs", "stages", "tasks", "small_jobs", "task_run_s")}
            for g, acc in sorted(events.items())
        }
        report["span_s"] = dict(sorted(tracer.by_path.items()))
        metrics = with_units(bench["per_layer"], layers)
    else:
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, f"untraced_{args.workload}.json"), "w") as fh:
            json.dump({"op_p50_s": op_p50, "seed": seed}, fh)
        metrics = with_units(bench["end_to_end"], e2e)
    print(json.dumps({"report": report}, default=str))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


def end_to_end_values(wl, ops, setup_s: float) -> dict[str, float]:
    """The BENCHMARK.json end-to-end metrics; metrics.json names what
    each means per workload."""
    from perfbench.workloads import pct, throughput

    return {
        "setup_s": setup_s,
        "throughput_per_s": throughput(wl, ops),
        "op_p50_s": pct(wl.primary(ops), 50),
        "lake_bytes_per_input_byte": wl.space_ratio(),
    }


def with_units(spec: list[dict], values: dict) -> dict:
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


if __name__ == "__main__":
    sys.exit(main())
