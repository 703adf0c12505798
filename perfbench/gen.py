"""Seeded input generators for the three benchmark workloads.

Everything the program under test receives is made here from
``(seed, stream)`` pairs: the same seed writes byte-identical files,
and each generator also returns the model the checks compare against
(expected silver rows and gold aggregates, planted duplicate counts,
live and deleted keys). Nothing here imports Spark.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# stream ids keep the generators independent of each other's draws
_INGEST, _CORPUS, _TPCH, _SERVE_OPS, _WRITER = 1, 2, 3, 4, 5

STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
CHANNELS = ["web", "store", "phone"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_WORDS = ["cold", "small", "large", "blue", "old", "new", "green", "red"]
P_NOUNS = ["widget", "bolt", "rod", "anvil", "ring", "gear", "pipe", "nut"]
LANGS = ["en", "de", "fr", "es", "zh"]

ORDER_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)


def rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def write_parquet(df: pd.DataFrame, path: str, schema=None) -> int:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# ---------------------------------------------------------------- ingest

#: the column that starts arriving mid-run (schema evolution)
LATE_COL = "Sales Channel"
LATE_ROUND = 2


class IngestModel:
    """Inbox batches plus the silver/gold state they must produce.

    Each round lands ``files_per_round`` files of ``rows_per_file``
    order rows, cycling CSV, JSONL and Parquet. Rows carry untrimmed
    strings and ``N/A`` sentinels; ~3% of rows are repeated verbatim
    inside their file (in-file duplicates); ~10% re-ship a key from an
    earlier round with new values (latest wins in silver). A key is
    shipped at most once per round, so the latest row per key is the
    one from the newest round."""

    def __init__(self, seed: int, rows_per_file: int = 5000, files_per_round: int = 2):
        self.seed = seed
        self.rows_per_file = rows_per_file
        self.files_per_round = files_per_round
        self.next_key = 0
        #: key -> cleaned row (status, price, priority) as silver holds it
        self.silver: dict[int, tuple] = {}
        self.rows_landed = 0
        self.rows_to_silver = 0
        self.bytes_landed = 0

    def land(self, round_no: int, inbox: str) -> dict:
        """Write round ``round_no``'s files into ``inbox``; fold them
        into the expected silver state. Returns sizes."""
        r = rng(self.seed, _INGEST, round_no)
        shipped: set[int] = set()
        out = {"files": 0, "rows": 0, "bytes": 0, "silver_rows_in": 0}
        for j in range(self.files_per_round):
            n = self.rows_per_file
            n_old = int(n * 0.10) if self.silver else 0
            old_pool = np.array(
                sorted(set(self.silver) - shipped), dtype=np.int64
            )
            old = r.choice(old_pool, size=min(n_old, len(old_pool)), replace=False)
            new = np.arange(self.next_key, self.next_key + n - len(old), dtype=np.int64)
            self.next_key += len(new)
            keys = np.concatenate([old, new])
            shipped.update(int(k) for k in keys)
            m = len(keys)
            status = np.array(STATUSES, dtype=object)[r.integers(0, 3, m)]
            # untrimmed strings and sentinels the cleaning pass must fix
            pad = r.random(m)
            status = np.where(pad < 0.05, " " + status + "  ", status)
            status = np.where(r.random(m) < 0.02, "N/A", status)
            prio = np.array(PRIORITIES, dtype=object)[r.integers(0, 5, m)]
            prio = np.where(r.random(m) < 0.03, " " + prio, prio)
            price = np.round(r.uniform(100.0, 99999.0, m), 2)
            day = pd.Timestamp("2024-01-01") + pd.to_timedelta(r.integers(0, 365, m), "D")
            df = pd.DataFrame(
                {
                    "Order ID": keys,
                    "Customer ID": r.integers(1, 5000, m),
                    "Order Status": status,
                    "Total Price": price,
                    "Order Priority": prio,
                    "Order Date": day.strftime("%Y-%m-%d"),
                }
            )
            if round_no >= LATE_ROUND:
                df[LATE_COL] = np.array(CHANNELS, dtype=object)[r.integers(0, 3, m)]
            for row in df.itertuples(index=False):
                st = row[2].strip()
                self.silver[int(row[0])] = (
                    None if st.lower() == "n/a" else st,
                    float(row[3]),
                    row[4].strip(),
                )
            out["silver_rows_in"] += m
            # verbatim in-file duplicates
            dups = df.iloc[r.choice(m, size=int(m * 0.03), replace=False)]
            df = pd.concat([df, dups], ignore_index=True)
            df = df.iloc[r.permutation(len(df))].reset_index(drop=True)
            fmt = ("csv", "jsonl", "parquet")[(round_no * self.files_per_round + j) % 3]
            path = os.path.join(inbox, f"orders_r{round_no:04d}_{j}.{fmt}")
            if fmt == "csv":
                df.to_csv(path, index=False)
            elif fmt == "jsonl":
                df.to_json(path, orient="records", lines=True)
            else:
                write_parquet(df, path)
            size = os.path.getsize(path)
            out["files"] += 1
            out["rows"] += len(df)
            out["bytes"] += size
        self.rows_landed += out["rows"]
        self.rows_to_silver += out["silver_rows_in"]
        self.bytes_landed += out["bytes"]
        return out

    def expected_gold(self) -> dict[str, dict]:
        """Gold aggregates over the expected silver state, keyed like
        the benchmark's gold views."""
        df = pd.DataFrame(
            list(self.silver.values()),
            columns=["order_status", "total_price", "order_priority"],
        )
        by_status = df.groupby("order_status", dropna=False).agg(
            n=("total_price", "size"), revenue=("total_price", "sum")
        )
        by_prio = df.groupby("order_priority").size()
        return {
            "gold_by_status": {
                (None if pd.isna(k) else k): (int(v.n), float(v.revenue))
                for k, v in by_status.iterrows()
            },
            "gold_by_priority": {k: int(v) for k, v in by_prio.items()},
        }


# ---------------------------------------------------------------- curate


def _vocabulary(r: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = r.integers(3, 9, n)
    return np.array(["".join(r.choice(letters, k)) for k in lens], dtype=object)


def write_corpus(
    seed: int, pass_no: int, out_dir: str, n_docs: int = 2000, n_vecs: int = 1500, dim: int = 128
) -> dict:
    """One curate pass's corpus directory: ``documents.parquet`` and
    ``embeddings.parquet``. Base documents are word sequences over a
    seeded pseudo-word vocabulary (salted per pass, as replica corpora
    are); planted on top, at fixed rates:

    - exact copies (5%): same text, same source;
    - near copies (5%): one word replaced, same source;
    - low-quality documents (3%): punctuation soup the quality gate drops;
    - semantic duplicates (5% of ``n_vecs`` embeddings): a base vector
      plus tiny noise, chosen so it lands in the same SemDeDup cell as
      its base.

    Base embeddings are Gaussian vectors, redrawn until no two have a
    cosine above 0.3, so every pair over the 0.4 SemDeDup threshold is
    a planted one. Returns the expected counts."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng(seed, _CORPUS, pass_no)
    vocab = _vocabulary(r, 3000)
    n_exact = n_near = int(n_docs * 0.05)
    n_lowq = int(n_docs * 0.03)
    n_base = n_docs - n_exact - n_near - n_lowq
    texts: list[str] = []
    sources = r.integers(0, 20, n_base)
    for _ in range(n_base):
        texts.append(" ".join(r.choice(vocab, int(r.integers(40, 90)))))
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    punct = np.array(["!!", "??", "..", ";;", "!?"])
    for _ in range(n_lowq):
        k = int(r.integers(30, 60))
        words = ["".join(r.choice(letters, 2)) + r.choice(punct) for _ in range(k)]
        texts.append(" ".join(words))
    sources = np.concatenate([sources, r.integers(0, 20, n_lowq)])
    exact_src = r.choice(n_base, n_exact, replace=False)
    near_src = r.choice(n_base, n_near, replace=False)
    for i in exact_src:
        texts.append(texts[i])
    for i in near_src:
        words = texts[i].split(" ")
        pos = int(r.integers(0, len(words)))
        words[pos] = str(r.choice(vocab)) + "q"
        texts.append(" ".join(words))
    sources = np.concatenate([sources, sources[exact_src], sources[near_src]])
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS, dtype=object)[r.integers(0, 5, n_docs)],
            "source": [f"src{s}" for s in sources],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    doc_bytes = write_parquet(docs, os.path.join(out_dir, "documents.parquet"))

    n_sem = int(n_vecs * 0.05)
    n_vbase = n_vecs - n_sem
    base = r.standard_normal((n_vbase, dim)).astype(np.float32)
    while True:
        unit = base / np.linalg.norm(base, axis=1, keepdims=True)
        cos = unit @ unit.T
        np.fill_diagonal(cos, 0.0)
        bad = np.unique(np.nonzero(np.triu(cos) > 0.3)[0])
        if not len(bad):
            break
        base[bad] = r.standard_normal((len(bad), dim)).astype(np.float32)
    k = max(4, n_vecs // 150)
    cents = base[:k].astype(np.float64)
    sem_src = r.choice(n_vbase, n_sem, replace=False)
    dupes = []
    for i in sem_src:
        v = base[i].astype(np.float64)
        d0 = ((cents - v) ** 2).sum(axis=1)
        cand = (v + r.standard_normal(dim) * 1e-3).astype(np.float32)
        d1 = ((cents - cand.astype(np.float64)) ** 2).sum(axis=1)
        # keep the noisy copy only when its cell is unambiguous
        if np.argmin(d0) != np.argmin(d1) or np.partition(d1, 1)[1] - d1.min() < 1e-3:
            cand = base[i].copy()
        dupes.append(cand)
    vecs = np.concatenate([base, np.array(dupes, dtype=np.float32)])
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )
    emb_path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(emb, emb_path, compression="snappy")
    return {
        "docs": n_docs,
        "bytes": doc_bytes + os.path.getsize(emb_path),
        "exact_dups": n_exact,
        "near_dups": n_near,
        "low_quality": n_lowq,
        "semantic_dups": n_sem,
    }


# ----------------------------------------------------------------- serve


def write_tpch(seed: int, out_dir: str, n_orders: int = 15000, n_vecs: int = 2000) -> dict:
    """A TPC-H-shaped star schema (the column names, types and value
    domains the registered queries and their DuckDB oracles expect)
    plus an ``embeddings`` table for the ANN probe."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng(seed, _TPCH)
    n_cust, n_part, n_supp = n_orders // 10, n_orders // 7, max(10, n_orders // 150)
    t0 = np.datetime64("1995-01-01")
    tables = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": np.array(SEGMENTS, dtype=object)[r.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{P_WORDS[a]} {P_NOUNS[b]}"
                    for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
                "p_type": np.array(P_TYPES, dtype=object)[r.integers(0, 6, n_part)],
                "p_size": r.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2),
            }
        ),
    }
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_orders),
            "o_orderstatus": np.array(STATUSES, dtype=object)[r.integers(0, 3, n_orders)],
            "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_orders), 2),
            "o_orderdate": t0 + r.integers(0, 2404, n_orders).astype("timedelta64[D]"),
            "o_orderpriority": np.array(PRIORITIES, dtype=object)[r.integers(0, 5, n_orders)],
        }
    )
    lines = r.integers(1, 8, n_orders)
    lk = np.repeat(orders["o_orderkey"].to_numpy(), lines)
    n_li = len(lk)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    partkey = r.integers(0, n_part, n_li)
    ship = np.repeat(orders["o_orderdate"].to_numpy(), lines) + r.integers(
        1, 122, n_li
    ).astype("timedelta64[D]")
    tables["orders"] = orders
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": lk,
            "l_partkey": partkey,
            "l_suppkey": r.integers(0, n_supp, n_li),
            "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * (900.0 + (partkey % 200) * 0.1), 2),
            "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"], dtype=object)[r.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"], dtype=object)[r.integers(0, 2, n_li)],
            "l_shipdate": ship,
        }
    )
    total = 0
    for name, df in tables.items():
        for c in df.columns:
            if df[c].dtype.kind == "M":
                df[c] = df[c].astype("datetime64[us]")
        total += write_parquet(df, os.path.join(out_dir, f"{name}.parquet"))
    vecs = r.standard_normal((n_vecs, 64)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    total += os.path.getsize(os.path.join(out_dir, "embeddings.parquet"))
    return {"rows": int(n_orders + n_li), "bytes": total}


class ServeModel:
    """The serve table's batches and the reader's/writer's op streams.

    Keys below ``stable_max`` belong to the reader: the set-up deletes
    a seeded subset of them (the merge-on-read tail) and nothing
    touches them afterwards, so every point read has one right answer.
    The writer appends fresh keys above them and deletes only keys it
    appended itself."""

    READ_MIX = ["point"] * 6 + ["query"] * 4 + ["ann"] * 2

    def __init__(self, seed: int, files: int = 8, rows_per_file: int = 10000):
        self.seed = seed
        r = rng(seed, _SERVE_OPS)
        self.stable_max = files * rows_per_file
        self.files = files
        self.rows_per_file = rows_per_file
        self.prices = np.round(r.uniform(1000.0, 500000.0, self.stable_max), 2)
        self.custkeys = r.integers(0, 1500, self.stable_max)
        self.statuses = np.array(STATUSES, dtype=object)[r.integers(0, 3, self.stable_max)]
        self.deleted = np.sort(r.choice(self.stable_max, 400, replace=False))
        self.deleted_set = set(self.deleted.tolist())

    def batch(self, i: int) -> pd.DataFrame:
        lo, hi = i * self.rows_per_file, (i + 1) * self.rows_per_file
        return self.frame(np.arange(lo, hi, dtype=np.int64))

    def frame(self, keys: np.ndarray) -> pd.DataFrame:
        idx = keys % self.stable_max
        return pd.DataFrame(
            {
                "o_orderkey": keys.astype(np.int64),
                "o_custkey": self.custkeys[idx].astype(np.int64),
                "o_orderstatus": self.statuses[idx],
                "o_totalprice": self.prices[idx],
                "o_orderdate": np.datetime64("2000-01-01", "us")
                + (idx % 3000).astype("timedelta64[D]"),
                "o_orderpriority": np.array(PRIORITIES, dtype=object)[idx % 5],
            }
        )

    def expected_row(self, key: int):
        if key in self.deleted_set:
            return None
        return (int(self.custkeys[key]), float(self.prices[key]))

    def status_counts(self) -> dict[str, int]:
        live = np.ones(self.stable_max, dtype=bool)
        live[self.deleted] = False
        vals, counts = np.unique(self.statuses[live], return_counts=True)
        return dict(zip(vals.tolist(), counts.tolist()))

    def read_ops(self, n: int, query_keys: list[str]):
        """``n`` reader ops: the mix in shuffled blocks of 12 (so every
        window of the stream has the same proportions); a quarter of
        the point keys are deleted ones, the rest uniform."""
        r = rng(self.seed, _SERVE_OPS, 1)
        ops = []
        qi = 0
        deleted = self.deleted
        while len(ops) < n:
            for kind in r.permutation(self.READ_MIX):
                if kind == "point":
                    if r.random() < 0.25:
                        key = int(r.choice(deleted))
                    else:
                        key = int(r.integers(0, self.stable_max))
                    ops.append(("point", key))
                elif kind == "query":
                    ops.append(("query", query_keys[qi % len(query_keys)]))
                    qi += 1
                else:
                    ops.append(("ann", None))
        return ops[:n]

    def write_ops(self, n: int, maintain_every: int):
        """``n`` writer ops: appends of 200 fresh keys, alternating
        with merge-on-read deletes of 50 keys the writer appended;
        ``maintain`` after every ``maintain_every`` writes."""
        r = rng(self.seed, _WRITER)
        ops = []
        next_key = self.stable_max
        owned: list[int] = []
        for i in range(n):
            if i % 2 == 0 or len(owned) < 50:
                keys = np.arange(next_key, next_key + 200, dtype=np.int64)
                next_key += 200
                owned.extend(keys.tolist())
                ops.append(("append", keys))
            else:
                pick = set(r.choice(len(owned), 50, replace=False).tolist())
                keys = np.sort(np.array([owned[j] for j in pick], dtype=np.int64))
                owned = [k for j, k in enumerate(owned) if j not in pick]
                ops.append(("delete", keys))
            if (i + 1) % maintain_every == 0:
                ops.append(("maintain", None))
        return ops


def digest(path: str) -> str:
    """Content digest of a directory tree (the determinism tests)."""
    import hashlib

    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def dump(obj) -> str:
    return json.dumps(obj, sort_keys=True, default=str)
