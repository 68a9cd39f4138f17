"""Deterministic synthetic inputs for the benchmark.

Writes the ten catalog tables (schemas as in FIXTURES.md) at a base
scale factor with numpy + pyarrow, then replicates them through
``scripts/scale_probe.build_scaled`` (imported, not copied), so the
benchmark runs on the same replica layout the scale probe measures.

The data depends only on ``DATA_SEED`` and the scale arguments, never
on the workload seed: every run of every workload reads the same
tables, and the workload seed only drives operation order, lookup
keys and append batches. Generated data is cached under the
checkout's ``.bench_build`` directory, keyed on this module's
``GEN_VERSION`` and the probe's ``FORMAT_VERSION``. Run as a script
(by :func:`ensure_inputs`) it generates one cache entry.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated data changes shape or distribution
GEN_VERSION = 1
DATA_SEED = 42
PAIRS = "cc_pairs.parquet"

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _ts(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "D")
    return pa.array((base + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _rows(n_at_one: int, sf: float, floor: int = 1) -> int:
    return max(floor, int(round(n_at_one * sf)))


def tables(sf: float, docs: int) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` (row counts as FIXTURES.md
    gives them per unit scale) with ``docs`` documents."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = _rows(150_000, sf, 10), _rows(10_000, sf, 5)
    n_part, n_ord = _rows(200_000, sf, 20), _rows(1_500_000, sf, 100)
    n_line, n_evt = _rows(6_000_000, sf, 400), _rows(1_000_000, sf, 100)
    n_emb = max(500, _rows(20_000, sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
            n_cust,
        ),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["large", "hot", "blue", "small", "red", "green", "cold", "dark"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"])
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(rng.choice(adj, n_part), " "), rng.choice(noun, n_part)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(
            ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts(rng.integers(1, 2499, n_line), "1995-01-01"),
    })
    # event time: ascending over 30 days with local out-of-order jitter
    us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    us = np.clip(us + rng.integers(-5_000_000, 5_000_000, n_evt), 0, None)
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(10, n_cust // 10), n_evt, dtype=np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_evt),
        "value": np.round(np.minimum(rng.gamma(2.0, 40.0, n_evt), 560.0), 2),
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n_evt).astype(str)), "}"
        ),
    })
    # documents: random prose over a small vocabulary; 5% are an
    # earlier document plus one word (near duplicates), 0.2% exact
    # copies of an earlier document
    vocab = np.array(VOCAB)
    texts: list[str] = []
    kinds = rng.random(docs)
    for i in range(docs):
        if i > 10 and kinds[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and kinds[i] < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(8, 100)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.6 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_base(out_dir: str, sf: float, docs: int) -> None:
    """Write the base tables, one parquet file each, atomically."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf, docs).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def write_pairs(spark, data_dir: str, path: str) -> None:
    """Near-duplicate pairs of the canonical-deduped documents: the
    input of the benchmark's direct ``connected_components`` call."""
    from feray_spark.catalog import load_table
    from feray_spark.operators.dedup import exact_dedup, minhash_lsh_pairs

    docs = load_table(spark, data_dir, "documents")
    deduped = exact_dedup(docs, "text", "doc_id", canonical=True)
    (
        minhash_lsh_pairs(deduped, "text", "doc_id", jaccard_threshold=0.5)
        .select("id_a", "id_b")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )


def replica_dir(cache_root: str, sf: float, docs: int, factor: int) -> str:
    from scripts.scale_probe import FORMAT_VERSION

    key = f"g{GEN_VERSION}-f{FORMAT_VERSION}-sf{sf:g}-d{docs}"
    return os.path.join(cache_root, key, f"x{factor}")


def generate(cache_root: str, sf: float, docs: int, factor: int) -> None:
    """Base tables, their factor-K replica and the pair graph, in a
    session of this process's own."""
    import sparkproc
    from scripts.scale_probe import build_scaled

    scaled = replica_dir(cache_root, sf, docs, factor)
    base = os.path.join(os.path.dirname(scaled), "base")
    if not os.path.isdir(base):
        write_base(base, sf, docs)
    spark = sparkproc.start("perfbench-datagen", os.path.join(cache_root, "tmp"))
    try:
        build_scaled(spark, base, scaled, factor)
        write_pairs(spark, scaled, os.path.join(scaled, PAIRS))
    finally:
        sparkproc.stop(spark)
    open(os.path.join(scaled, ".complete"), "w").close()


def ensure_inputs(cache_root: str, sf: float, docs: int, factor: int):
    """Return ``(replica directory, seconds spent generating it)``.
    A cache miss generates in a child process, so the JVM that runs
    the measured passes starts cold on every run."""
    scaled = replica_dir(cache_root, sf, docs, factor)
    if os.path.exists(os.path.join(scaled, ".complete")):
        return scaled, 0.0
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), cache_root, str(sf), str(docs), str(factor)],
        check=True, stdout=sys.stderr,
    )
    return scaled, time.perf_counter() - t0


if __name__ == "__main__":
    sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
    root, sf, docs, factor = sys.argv[1:5]
    generate(root, float(sf), int(docs), int(factor))
