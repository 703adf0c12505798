"""The three closed-loop workloads: ingest, curate and serve.

Each workload makes its inputs from the seed, sets up (tables, indexes
and a warm-up pass), then runs ops until the deadline. Every op is
timed through the package's public entry points and checked against
the generator's model; an op that raises or fails its check counts as
failed.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import threading
import time
import traceback

from perfbench import gen


class Op:
    __slots__ = ("kind", "seconds", "ok", "parts")

    def __init__(self, kind: str, seconds: float, ok: bool, parts: dict | None = None):
        self.kind, self.seconds, self.ok, self.parts = kind, seconds, ok, parts or {}


def _run_op(ops: list, kind: str, tracer, fn) -> Op:
    """Time ``fn`` (returning ``(ok, parts)``) under an op span;
    exceptions count as failures."""
    t0 = time.perf_counter()
    try:
        with tracer.span(f"bench.{kind}"):
            ok, parts = fn()
    except Exception:
        traceback.print_exc()
        ok, parts = False, {}
    op = Op(kind, time.perf_counter() - t0, ok, parts)
    if not ok:
        print(f"perfbench: {kind} op failed its check: {parts.get('detail', '')}", file=sys.stderr)
    ops.append(op)
    return op


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def value_hash(rows, cols) -> str:
    """Order-insensitive hash of a result (the registry oracle gate's
    canonical form: columns sorted by name, full-precision floats)."""
    import datetime

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        if isinstance(v, list):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def collect_planned(df, parts: dict, plan_key: str, exec_key: str) -> list:
    """Force Catalyst's executed plan, then run the action: the two
    halves are timed separately."""
    t0 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t1 = time.perf_counter()
    rows = df.collect()
    parts[plan_key] = parts.get(plan_key, 0.0) + t1 - t0
    parts[exec_key] = parts.get(exec_key, 0.0) + time.perf_counter() - t1
    return rows


# ------------------------------------------------------------------ checks


def gold_matches(rows, want: dict) -> bool:
    """A gold view's rows ``(group, n[, revenue])`` against the
    model's ``{group: n}`` or ``{group: (n, revenue)}``."""
    got = {r[0]: (tuple(r[1:]) if len(r) > 2 else r[1]) for r in rows}
    if set(got) != set(want):
        return False
    for k, w in want.items():
        g = got[k]
        if isinstance(w, tuple):
            if g[0] != w[0] or not math.isclose(g[1], w[1], rel_tol=1e-9):
                return False
        elif g != w:
            return False
    return True


def funnel_matches(funnel: dict, n_clustered: int, n_semantic: int, e: dict) -> bool:
    """A curate pass's funnel and dedup counts against the planted
    duplicates of its corpus."""
    after_exact = e["docs"] - e["exact_dups"]
    after_near = after_exact - e["near_dups"]
    return (
        funnel["input"] == e["docs"]
        and funnel["gate_dropped"] == 0
        and funnel["after_exact_dedup"] == after_exact
        and funnel["after_near_dedup"] == after_near
        and funnel["after_quality"] == after_near - e["low_quality"]
        and funnel["chunks_written"] > funnel["after_quality"]
        and n_clustered == e["exact_dups"] + e["near_dups"]
        and n_semantic == e["semantic_dups"]
    )


def point_matches(rows, want) -> bool:
    """Point-read rows ``(key, custkey, price)`` against the model's
    live row, or no row for a deleted key."""
    if want is None:
        return len(rows) == 0
    return len(rows) == 1 and (rows[0][1], rows[0][2]) == want


# ------------------------------------------------------------------ ingest


def _gold_views():
    from pyspark.sql import functions as F

    return [
        (
            "gold_by_status",
            lambda df: df.groupBy("order_status").agg(
                F.count(F.lit(1)).alias("n"), F.sum("total_price").alias("revenue")
            ),
        ),
        (
            "gold_by_priority",
            lambda df: df.groupBy("order_priority").agg(F.count(F.lit(1)).alias("n")),
        ),
    ]


class Ingest:
    """One client landing a seeded batch of inbox files per round and
    running the incremental medallion flow with two gold views."""

    name = "ingest"

    def __init__(self, work: str, seed: int):
        self.inbox = os.path.join(work, "inbox")
        self.archive = os.path.join(work, "archive")
        self.lake = os.path.join(work, "lake")
        os.makedirs(self.inbox, exist_ok=True)
        self.model = gen.IngestModel(seed)
        self.round = 0
        self.gen_s = 0.0
        self.units = 0

    def lake_roots(self) -> list[str]:
        return [self.lake]

    def generate(self) -> None:
        """Rounds land their files as they run."""

    def inputs(self) -> dict:
        return {
            "rounds": self.round,
            "rows_landed": self.model.rows_landed,
            "rows_to_silver": self.model.rows_to_silver,
            "bytes_landed": self.model.bytes_landed,
        }

    def _land(self) -> dict:
        t0 = time.perf_counter()
        out = self.model.land(self.round, self.inbox)
        self.round += 1
        self.gen_s += time.perf_counter() - t0
        return out

    def _flow(self, spark) -> dict:
        from biglake_iceberg_pipeline_spark.plans.medallion_flow import run_medallion_flow

        return run_medallion_flow(
            spark,
            self.inbox,
            self.lake,
            ["order_id"],
            gold_views=_gold_views(),
            silver_mode="incremental",
            archive_dir=self.archive,
        )

    def check(self, spark, landed: dict, metrics: dict) -> bool:
        from biglake_iceberg_pipeline_spark.sinks.lakehouse import LakehouseTable

        if metrics["files_processed"] != landed["files"]:
            return False
        if metrics["silver_rows"] != len(self.model.silver):
            return False
        return all(
            gold_matches(
                LakehouseTable(os.path.join(self.lake, "gold", name)).read(spark).collect(), want
            )
            for name, want in self.model.expected_gold().items()
        )

    def setup(self, spark) -> None:
        # two warm-up rounds: the first pays first-call costs, the
        # second the first incremental merge into silver
        for _ in range(2):
            landed = self._land()
            metrics = self._flow(spark)
            if not self.check(spark, landed, metrics):
                raise RuntimeError("ingest warm-up round produced wrong silver/gold")

    def run(self, spark, tracer, deadline: float) -> list[Op]:
        ops: list[Op] = []
        while time.perf_counter() < deadline:
            landed = self._land()
            result = {}

            def round_op():
                result["m"] = self._flow(spark)
                return True, {}

            op = _run_op(ops, "round", tracer, round_op)
            if op.ok:
                op.ok = self.check(spark, landed, result["m"])
            if op.ok:
                self.units += landed["silver_rows_in"]
        return ops

    def report(self, ops: list[Op]) -> dict:
        return {
            "ingest_rows_per_s": throughput(self, ops),
            "ingest_round_p50_s": pct(self.primary(ops), 50),
            "lake_bytes_per_input_byte": self.space_ratio(),
        }

    def primary(self, ops: list[Op]) -> list[float]:
        return [o.seconds for o in ops]

    def space_ratio(self) -> float:
        return dir_bytes(self.lake) / self.model.bytes_landed


# ------------------------------------------------------------------ curate


class Curate:
    """One client; each pass gets a fresh seeded corpus directory and
    runs ``curate_documents``, then the registered ``dedup_clusters``
    and ``semantic_dedup`` queries on it."""

    name = "curate"

    def __init__(self, work: str, seed: int, n_docs: int = 1200, n_vecs: int = 900):
        self.root = os.path.join(work, "corpus")
        self.seed = seed
        self.n_docs = n_docs
        self.n_vecs = n_vecs
        self.expect: list[dict] = []
        self.gen_s = 0.0
        self.units = 0
        self.pass_no = 0

    def lake_roots(self) -> list[str]:
        return [self.root]

    def _corpus(self, i: int) -> str:
        return os.path.join(self.root, f"pass_{i:03d}")

    def _generate(self, i: int) -> None:
        t0 = time.perf_counter()
        self.expect.append(gen.write_corpus(self.seed, i, self._corpus(i), self.n_docs, self.n_vecs))
        self.gen_s += time.perf_counter() - t0

    def generate(self) -> None:
        self._generate(0)

    def inputs(self) -> dict:
        return {
            "corpora": len(self.expect),
            "docs_per_corpus": self.n_docs,
            "vectors_per_corpus": self.n_vecs,
            "bytes": sum(e["bytes"] for e in self.expect),
        }

    def _pass(self, spark, i: int) -> tuple[bool, dict]:
        from pyspark.sql import functions as F

        from biglake_iceberg_pipeline_spark.plans.pipeline import curate_documents
        from biglake_iceberg_pipeline_spark.registry import spark_queries

        d, e = self._corpus(i), self.expect[i]
        qs = spark_queries()
        t0 = time.perf_counter()
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        funnel = curate_documents(spark, docs, os.path.join(d, "curated"))
        t1 = time.perf_counter()
        clusters = qs["dedup_clusters"](spark, d)
        n_dropped = clusters.where(~F.col("is_canonical")).count()
        t2 = time.perf_counter()
        sem = qs["semantic_dedup"](spark, d)
        n_sem = sem.where(~F.col("keep")).count()
        parts = {
            "curate_documents_s": t1 - t0,
            "dedup_clusters_s": t2 - t1,
            "semantic_dedup_s": time.perf_counter() - t2,
        }
        parts["detail"] = f"{funnel} clusters={n_dropped} semantic={n_sem} expected={e}"
        return funnel_matches(funnel, n_dropped, n_sem, e), parts

    def setup(self, spark) -> None:
        if not self._pass(spark, 0)[0]:
            raise RuntimeError("curate warm-up pass failed its check")
        self.pass_no = 1

    def run(self, spark, tracer, deadline: float) -> list[Op]:
        ops: list[Op] = []
        while time.perf_counter() < deadline:
            i = self.pass_no
            self._generate(i)
            op = _run_op(ops, "pass", tracer, lambda: self._pass(spark, i))
            if op.ok:
                self.units += self.expect[i]["docs"]
            self.pass_no += 1
        return ops

    def report(self, ops: list[Op]) -> dict:
        return {"curate_docs_per_s": throughput(self, ops)}

    def primary(self, ops: list[Op]) -> list[float]:
        return [o.seconds for o in ops]

    def space_ratio(self) -> float:
        curated = sum(dir_bytes(os.path.join(self._corpus(i), "curated")) for i in range(self.pass_no))
        landed = sum(self.expect[i]["bytes"] for i in range(self.pass_no))
        return curated / landed


# ------------------------------------------------------------------- serve

SERVE_KEYS = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q9_profit_by_nation",
    "q12_priority_shipping",
    "q21_waiting_suppliers",
    "gold_customer_metrics",
    "gold_daily_sales",
    "gold_product_performance",
]
ORACLE_TABLES = "region nation customer supplier part orders lineitem embeddings".split()


class Serve:
    """Two clients over an orders lakehouse table: a reader running a
    seeded mix of connector point lookups, registered analytic keys,
    lakehouse scans and ANN probes, and a writer running small appends
    and merge-on-read deletes with ``maintain()`` every few writes."""

    name = "serve"
    maintain_every = 6

    def __init__(self, work: str, seed: int):
        self.sf_dir = os.path.join(work, "sf")
        self.table_path = os.path.join(work, "lake", "orders")
        self.model = gen.ServeModel(seed)
        self.seed = seed
        self.gen_s = 0.0
        self.units = 0
        self.hashes: dict[str, str] = {}
        self.setup_failures = 0
        self.writer_ops: list[Op] = []
        self.input_bytes = 0

    def lake_roots(self) -> list[str]:
        return [os.path.dirname(self.table_path)]

    def generate(self) -> None:
        t0 = time.perf_counter()
        info = gen.write_tpch(self.seed, self.sf_dir)
        self.batches = []
        for i in range(self.model.files):
            path = os.path.join(self.sf_dir, "orders_batches", f"batch_{i}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            self.input_bytes += gen.write_parquet(self.model.batch(i), path, gen.ORDER_SCHEMA)
            self.batches.append(path)
        self.bytes_per_row = self.input_bytes / self.model.stable_max
        self.read_plan = self.model.read_ops(1500, SERVE_KEYS + ["lakehouse_scan"])
        self.write_plan = self.model.write_ops(600, self.maintain_every)
        self.tpch = info
        self.gen_s += time.perf_counter() - t0

    def inputs(self) -> dict:
        return {
            "tpch_rows": self.tpch["rows"],
            "tpch_bytes": self.tpch["bytes"],
            "table_rows_set_up": self.model.stable_max,
            "table_bytes_appended": self.input_bytes,
        }

    # ---------------------------------------------------------- reader ops

    def _point(self, spark, key: int) -> tuple[bool, dict]:
        from pyspark.sql import functions as F

        parts: dict = {}
        t0 = time.perf_counter()
        df = (
            spark.read.format("lakehouse")
            .option("path", self.table_path)
            .load()
            .where(F.col("o_orderkey") == key)
            .select("o_orderkey", "o_custkey", "o_totalprice")
        )
        parts["connector.load_s"] = time.perf_counter() - t0
        rows = collect_planned(df, parts, "connector.plan_s", "connector.exec_s")
        parts["rows"] = len(rows)
        want = self.model.expected_row(key)
        parts["detail"] = f"key={key} got={rows} want={want}"
        return point_matches(rows, want), parts

    def _query(self, spark, key: str) -> tuple[bool, dict]:
        from pyspark.sql import functions as F

        from biglake_iceberg_pipeline_spark.registry import spark_queries
        from biglake_iceberg_pipeline_spark.sinks.lakehouse import LakehouseTable

        parts: dict = {}
        t0 = time.perf_counter()
        if key == "lakehouse_scan":
            df = (
                LakehouseTable(self.table_path)
                .read(spark)
                .where(F.col("o_orderkey") < self.model.stable_max)
                .groupBy("o_orderstatus")
                .count()
            )
        else:
            df = spark_queries()[key](spark, self.sf_dir)
        parts["plans.build_s"] = time.perf_counter() - t0
        rows = collect_planned(df, parts, "catalyst.plan_s", "exec_s")
        parts["detail"] = key
        if key == "lakehouse_scan":
            return {r[0]: r[1] for r in rows} == self.model.status_counts(), parts
        return value_hash(rows, df.columns) == self.hashes.get(key), parts

    def _ann(self, spark) -> tuple[bool, dict]:
        from biglake_iceberg_pipeline_spark.registry import spark_queries

        parts: dict = {}
        t0 = time.perf_counter()
        df = spark_queries()["ann_topk"](spark, self.sf_dir)
        parts["plans.build_s"] = time.perf_counter() - t0
        rows = collect_planned(df, parts, "catalyst.plan_s", "exec_s")
        return value_hash(rows, df.columns) == self.hashes.get("ann_topk"), parts

    # ---------------------------------------------------------- writer ops

    def _write(self, spark, table, kind: str, keys) -> tuple[bool, dict]:
        from pyspark.sql import functions as F

        before = table.row_count()
        parts = {"detail": f"{kind} of {0 if keys is None else len(keys)} keys, {before} rows before"}
        if kind == "append":
            table.append(spark.createDataFrame(self.model.frame(keys)))
            self.input_bytes += len(keys) * self.bytes_per_row
            return table.row_count() == before + len(keys), parts
        if kind == "delete":
            lo, hi = int(keys[0]), int(keys[-1])
            table.delete_where_mor(
                spark,
                F.col("o_orderkey").isin([int(k) for k in keys]),
                ranges={"o_orderkey": (lo, hi)},
            )
            return table.row_count() == before - len(keys), parts
        table.maintain(spark, max_files=8, max_delete_files=4)
        return table.row_count() == before, parts

    # ------------------------------------------------------------- set-up

    def setup(self, spark) -> None:
        import duckdb

        from pyspark.sql import functions as F

        from biglake_iceberg_pipeline_spark.registry import oracle_queries, spark_queries
        from biglake_iceberg_pipeline_spark.sinks.lakehouse import LakehouseTable
        from biglake_iceberg_pipeline_spark.streaming.source import LakehouseStreamSource

        spark.dataSource.register(LakehouseStreamSource)
        table = LakehouseTable(self.table_path)
        for path in self.batches:
            table.append(spark.read.parquet(path))
        # the merge-on-read tail: four position-delete files
        for chunk in [self.model.deleted[i::4] for i in range(4)]:
            table.delete_where_mor(spark, F.col("o_orderkey").isin([int(k) for k in chunk]))
        if table.row_count() != self.model.stable_max - len(self.model.deleted):
            raise RuntimeError("serve table row count does not match the model")
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in ORACLE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        oracles, qs = oracle_queries(), spark_queries()
        for key in SERVE_KEYS + ["ann_topk"]:
            df = qs[key](spark, self.sf_dir)
            spark_hash = value_hash(df.collect(), df.columns)
            res = con.execute(oracles[key])
            oracle_hash = value_hash(res.fetchall(), [d[0] for d in res.description])
            if spark_hash != oracle_hash:
                print(f"perfbench: {key} does not match its oracle", file=sys.stderr)
                self.setup_failures += 1
            self.hashes[key] = oracle_hash
        con.close()
        # warm-up: the reader op kinds the oracle pass above did not run
        for key in (0, int(self.model.deleted[0])):
            if not self._point(spark, key)[0]:
                raise RuntimeError("serve warm-up point read is wrong")
        if not self._query(spark, "lakehouse_scan")[0] or not self._ann(spark)[0]:
            raise RuntimeError("serve warm-up query is wrong")
        self._table = table

    # ------------------------------------------------------------ timed run

    def run(self, spark, tracer, deadline: float) -> list[Op]:
        ops: list[Op] = []
        stop = threading.Event()

        def writer():
            for kind, keys in self.write_plan:
                if stop.is_set() or time.perf_counter() >= deadline:
                    break
                _run_op(
                    self.writer_ops,
                    "commit" if kind != "maintain" else "maintain",
                    tracer,
                    lambda: self._write(spark, self._table, kind, keys),
                )

        w = threading.Thread(target=writer)
        w.start()
        try:
            for kind, arg in self.read_plan:
                if time.perf_counter() >= deadline:
                    break
                if kind == "point":
                    _run_op(ops, "point", tracer, lambda: self._point(spark, arg))
                elif kind == "query":
                    _run_op(ops, "query", tracer, lambda: self._query(spark, arg))
                else:
                    _run_op(ops, "ann", tracer, lambda: self._ann(spark))
        finally:
            stop.set()
            w.join()
        self.units = sum(1 for o in ops if o.ok)
        return ops

    def report(self, ops: list[Op]) -> dict:
        by = lambda k: [o.seconds for o in ops if o.kind == k]  # noqa: E731
        commits = [o.seconds for o in self.writer_ops if o.kind == "commit"]
        out = {
            "serve_ops_per_s": throughput(self, ops),
            "point_read_p50_s": pct(by("point"), 50),
            "query_p50_s": pct(by("query"), 50),
            "ann_p50_s": pct(by("ann"), 50),
            "commit_p50_s": pct(commits, 50),
        }
        for name, xs in (("point_read", by("point")), ("query", by("query")), ("commit", commits)):
            if len(xs) >= 100:  # at least ten samples beyond the p90
                out[f"{name}_p90_s"] = pct(xs, 90)
        return out

    def primary(self, ops: list[Op]) -> list[float]:
        return [o.seconds for o in ops if o.kind == "point"]

    def space_ratio(self) -> float:
        return dir_bytes(self.table_path) / self.input_bytes


def throughput(wl, ops: list[Op]) -> float:
    """Units of work (rows, documents, reader ops) that passed their
    check, per second spent in the workload's timed ops."""
    return wl.units / max(sum(o.seconds for o in ops), 1e-9)


def pct(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile; NaN for no samples."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


WORKLOADS = {w.name: w for w in (Ingest, Curate, Serve)}
