"""analytics_sf01: a fixed list of ``ops`` leaves, cold then warm.

The tables the leaves read (documents, embeddings, orders) are generated
here with the shape and value distributions of the repository's sf0.01
testdata, from a fixed seed, so every run reads identical inputs and
nothing outside the checkout is needed. Each leaf is checked against its
DuckDB ``oracle_sql()`` twin; oracle answers are cached by a hash of the
SQL and the data.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import math
import time
from pathlib import Path

import numpy as np
import pandas as pd

#: Fixed order. Between them the leaves cover the shared builds (MinHash
#: signatures, IVF centroids), the three cosine paths (the ``_cosine``
#: fold in sim_knn_brute_force, the unrolled ``_dot_expr`` in
#: dedup_embedding_neardup_lsh, the numpy ``_cosine_scores_np`` in
#: sim_ivf_topk) and single-row-group scans. Other leaves are left out to
#: keep a run inside the benchmark's time budget (README.md, "Scale");
#: any leaf with an oracle can be put back.
LEAVES = (
    "dedup_minhash_lsh_pairs",
    "dedup_embedding_neardup_lsh",
    "sim_knn_brute_force",
    "sim_ivf_topk",
    "sketch_kmv_set_ops",
)
TABLES = ("documents", "embeddings", "orders")
DATA_SEED = 42
N_DOCS, N_VECS, N_ORDERS, N_CUST, DIM = 500, 500, 15_000, 1_500, 64
WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()


def make_tables(out: Path) -> None:
    """Write documents/embeddings/orders parquet under ``out``."""

    rng = np.random.default_rng(DATA_SEED)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    langs = rng.choice(["en", "de", "fr", "es", "zh"], size=N_DOCS,
                       p=[0.41, 0.14, 0.15, 0.15, 0.15])
    docs = pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    centers = rng.normal(size=(10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, N_VECS).astype(np.int32)
    vecs = rng.normal(size=(N_VECS, DIM)) / math.sqrt(DIM) + 0.15 * centers[labels]
    for i in np.nonzero(rng.random(N_VECS) < 0.03)[0]:  # near-duplicate vectors
        if i > 0:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(scale=0.01, size=DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pd.DataFrame({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": labels,
    })

    days = rng.integers(0, (pd.Timestamp("2001-08-01") - pd.Timestamp("1993-01-01")).days,
                        N_ORDERS)
    orders = pd.DataFrame({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUST, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, N_ORDERS), 2),
        "o_orderdate": (pd.Timestamp("1993-01-01") + pd.to_timedelta(days, unit="D"))
        .astype("datetime64[us]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS),
    })

    out.mkdir(parents=True, exist_ok=True)
    for name, df in (("documents", docs), ("embeddings", emb), ("orders", orders)):
        tmp = out / f".{name}.parquet"
        df.to_parquet(tmp, index=False)  # one row group, like the testdata
        tmp.rename(out / f"{name}.parquet")


def data_hash(sf_dir: Path) -> str:
    h = hashlib.sha256()
    for name in TABLES:
        h.update((sf_dir / f"{name}.parquet").read_bytes())
    return h.hexdigest()[:16]


def canon(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """tests/test_ops.py::_canon: columns sorted, rows sorted, floats
    rounded to 9 dp, numpy scalars as python values."""

    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append("nan" if math.isnan(v) else round(v, 9))
            elif hasattr(v, "item"):
                item = v.item()
                vals.append(round(item, 9) if isinstance(item, float) else item)
            else:
                vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return cols, out


def _jsonable(rows: list[tuple]) -> list[list]:
    return [[v if isinstance(v, (int, float, str, bool)) or v is None else str(v)
             for v in row] for row in rows]


class Oracle:
    """DuckDB answers in canonical form, cached on disk by
    sha256(SQL + data hash)."""

    def __init__(self, sf_dir: Path, cache_dir: Path) -> None:
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.data_key = data_hash(sf_dir)
        self.cache_dir.mkdir(parents=True, exist_ok=True)

    def answer(self, sql: str) -> tuple[list[str], list[list]]:
        key = hashlib.sha256((sql + self.data_key).encode()).hexdigest()[:24]
        path = self.cache_dir / f"{key}.json.gz"
        if path.exists():
            cols, rows = json.loads(gzip.decompress(path.read_bytes()))
            return cols, rows
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            cols, rows = canon(con.execute(sql).fetchdf())
        finally:
            con.close()
        rows = _jsonable(rows)
        tmp = path.with_suffix(".tmp")
        tmp.write_bytes(gzip.compress(json.dumps([cols, rows]).encode()))
        tmp.rename(path)
        return cols, rows


def matches(got: pd.DataFrame, want: tuple[list[str], list[list]]) -> bool:
    cols, rows = canon(got)
    return cols == want[0] and _jsonable(rows) == want[1]


def release_all() -> None:
    from pdf_toolkit_spark.ops import common, dedup, similarity

    common.release_caches()
    dedup.release_caches()
    similarity.release_caches()


def cache_held_mb(spark) -> float:
    """Memory + disk bytes of every cached RDD, from Spark storage status."""

    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def run_pass(spark, sf_dir: Path, phase: str, trace: bool) -> dict:
    """One pass over LEAVES. Each leaf's result is collected to the driver
    (the outputs are a few hundred rows) so it can be checked afterwards;
    the pass time is the sum of the leaf times."""

    from pdf_toolkit_spark.ops import all_queries

    queries = all_queries()
    sc = spark.sparkContext
    leaf_s: dict[str, float] = {}
    held: dict[str, float] = {}
    results: dict[str, pd.DataFrame | None] = {}
    sc.setLocalProperty("perfbench.phase", phase)
    for name in LEAVES:
        sc.setLocalProperty("perfbench.leaf", name)
        t0 = time.perf_counter()
        try:
            results[name] = queries[name](spark, str(sf_dir)).toPandas()
        except Exception as exc:  # a leaf that raises is a failed operation
            results[name] = None
            print(f"[perfbench] {phase} {name} raised {type(exc).__name__}: {exc}")
        leaf_s[name] = time.perf_counter() - t0
        if trace:
            held[name] = cache_held_mb(spark)
    sc.setLocalProperty("perfbench.leaf", None)
    sc.setLocalProperty("perfbench.phase", None)
    return {"wall_s": sum(leaf_s.values()), "leaf_s": leaf_s, "held_mb": held,
            "results": results}


def failed_leaves(results: dict, answers: dict) -> list[str]:
    return [name for name, got in results.items()
            if got is None or not matches(got, answers[name])]
