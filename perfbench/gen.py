"""Seeded inputs of the benchmark workloads, written as parquet.

They live in the benchmark, not in the program, so a change to the program
cannot change its inputs; the same seed gives the same files.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table: (full, toy); the golden inputs are fixed (seed 0, own size)
SIZES = {
    "export_stream": {"lineitem": (30000, 6000)},
    "pipeline_dedup": {"documents": (1500, 300)},
}
GOLDEN = {
    "export_stream": {"lineitem": 2000},
    "pipeline_dedup": {"documents": 300},
}


def lineitem(rng, n, path):
    """`lineitem`-shaped: the TPC-H fixture's 11 columns and types, one file
    with one row group, so the scan is one task exactly as on the fixture."""
    qty = rng.integers(1, 51, n)
    ids = np.arange(n)
    t = pa.table({
        "l_orderkey": pa.array(ids // 4 + 1, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20001, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1001, n), pa.int64()),
        "l_linenumber": pa.array(ids % 4 + 1, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(qty * rng.integers(90000, 200000, n) / 100.0, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.array(["R", "A", "N"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(694310400000000 + rng.integers(0, 2526 * 86400 * 10**6, n),
                               pa.timestamp("us")),
    })
    pq.write_table(t, path, row_group_size=n)


VOCAB = np.array((
    "a the data spark query table row column scan filter join group agg sort "
    "hash key value window stream batch merge part line order customer vector "
    "fast slow big small index shard token model train eval cache block page node").split(),
    dtype=object)


def documents(rng, n, path):
    """`documents`-shaped corpus (doc_id, text, lang, source, n_chars) of
    8–100 words over a 40-word vocabulary. One document in five is a near
    duplicate of an earlier one with one word in ten replaced, so the dedup
    kernels find real pairs."""
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.2:
            ws = texts[rng.integers(0, i)].split(" ")
            edit = rng.random(len(ws)) < 0.1
            ws = [VOCAB[rng.integers(0, len(VOCAB))] if e else w for w, e in zip(ws, edit)]
        else:
            ws = VOCAB[rng.integers(0, len(VOCAB), rng.integers(8, 101))]
        texts.append(" ".join(ws))
    t = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "en", "en", "zh", "es", "fr", "de"])[rng.integers(0, 7, n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    pq.write_table(t, path)


def generate(workload, seed, size, out):
    """Writes the workload's tables at `size` ("full", "toy", or "golden":
    fixed seed 0) under `out`; returns {table: {"rows", "bytes"}}."""
    out.mkdir(parents=True)
    if size == "golden":
        rows, seed = GOLDEN[workload], 0
    else:
        rows = {t: n[size == "toy"] for t, n in SIZES[workload].items()}
    rng = np.random.default_rng(seed)
    made = {}
    for table, n in rows.items():
        path = out / f"{table}.parquet"
        {"lineitem": lineitem, "documents": documents}[table](rng, n, path)
        made[table] = {"rows": n, "bytes": path.stat().st_size}
    return made
