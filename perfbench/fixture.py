"""The benchmark's input: sf0.1-shaped tables generated from a fixed seed.

Same ten tables, schemas and row counts as the TPC-H-style sf0.1 fixture
the engine's queries are written against (600k ``lineitem`` rows, ~20 MB
of parquet), drawn from ``numpy.random.default_rng(seed)``: the same seed
always writes the same files. The benchmark always uses ``SEED``; its
``--seed`` argument orders the queries of each pass instead, because the
data-dependent work of some queries (the connected-components fixpoint)
would otherwise differ from seed to seed. The distributions follow
``tools/fuzz_correctness.generate_scaled`` at 1x (hot customer and user
keys, a zipf-weighted 8,192-token document vocabulary, planted exact and
near-duplicate documents and embeddings). The benchmark keeps its own
copy so its inputs cannot change under a commit it is measuring.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
DAY_US = 86_400 * US
EPOCH_2024 = 1_704_067_200 * US
D1995 = 789_048_000 * US
DSPAN = 6 * 365 * DAY_US
WORDS = (
    "the a key order sort table scan merge part window small hash join "
    "batch stream spark dup group query row data slow filter customer "
    "line value agg column big fast vector"
).split()
EVENT_TYPES = ["signup", "click", "purchase", "error", "view"]
SEGMENTS = ["AUTOMOBILE", "FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "zh", "de", "es", "fr"]
EMBED_DIM = 64

SEED = 20260101
#: Bump when the generator changes, so a stale cached copy is not reused.
VERSION = 1


def _write(outdir: str, name: str, cols: dict, types: dict) -> None:
    schema = pa.schema([pa.field(c, types[c]) for c in cols])
    arrays = [pa.array(v, type=types[c]) for c, v in cols.items()]
    pq.write_table(
        pa.Table.from_arrays(arrays, schema=schema),
        os.path.join(outdir, f"{name}.parquet"),
    )


def _documents(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    vocab = np.array(
        [f"{WORDS[i % len(WORDS)]}{i // len(WORDS)}" for i in range(8192)]
    )
    w = 1.0 / (np.arange(len(vocab)) + 30.0)
    toks = vocab[rng.choice(len(vocab), int(lens.sum()), p=w / w.sum())]
    bounds = np.concatenate(([0], np.cumsum(lens)))
    texts = [" ".join(toks[bounds[i]: bounds[i + 1]]) for i in range(n)]
    # 8% of documents in exact-duplicate clusters of four, 2% near-dups
    clusters = n // 50
    for c in range(clusters):
        texts[4 * c + 1: 4 * c + 4] = [texts[4 * c]] * 3
    for i in range(n // 50):
        t = texts[4 * clusters + i].split()
        t[min(3, len(t) - 1)] = "edited"
        texts[4 * clusters + n // 50 + i] = " ".join(t)
    return texts


def generate(outdir: str, seed: int) -> None:
    """Write the ten tables as single-row-group parquet files."""
    rng = np.random.default_rng(seed)
    os.makedirs(outdir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(outdir, "region",
           {"r_regionkey": list(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           {"r_regionkey": i32, "r_name": s})
    _write(outdir, "nation",
           {"n_nationkey": list(range(25)),
            "n_name": [f"nation{i}" for i in range(25)],
            "n_regionkey": rng.integers(0, 5, 25)},
           {"n_nationkey": i32, "n_name": s, "n_regionkey": i32})

    nc, ns, npart, no, nl = 15_000, 1_000, 20_000, 150_000, 600_000
    _write(outdir, "customer",
           {"c_custkey": np.arange(1, nc + 1),
            "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
            "c_nationkey": rng.integers(0, 25, nc),
            "c_acctbal": np.round(rng.normal(1000, 2500, nc), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]},
           {"c_custkey": i64, "c_name": s, "c_nationkey": i32,
            "c_acctbal": f64, "c_mktsegment": s})
    _write(outdir, "supplier",
           {"s_suppkey": np.arange(1, ns + 1),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, ns + 1)],
            "s_nationkey": rng.integers(0, 25, ns),
            "s_acctbal": np.round(rng.normal(5000, 2000, ns), 2)},
           {"s_suppkey": i64, "s_name": s, "s_nationkey": i32,
            "s_acctbal": f64})
    _write(outdir, "part",
           {"p_partkey": np.arange(1, npart + 1),
            "p_name": [f"part {i}" for i in range(1, npart + 1)],
            "p_brand": [f"Brand#{v}" for v in rng.integers(1, 26, npart)],
            "p_type": [f"TYPE {v}" for v in rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart),
            "p_retailprice": np.round(rng.uniform(900, 2000, npart), 2)},
           {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s,
            "p_size": i32, "p_retailprice": f64})

    custs = rng.integers(1, nc + 1, no)
    hot = rng.random(no) < 0.05
    custs[hot] = rng.integers(1, 8, int(hot.sum()))
    _write(outdir, "orders",
           {"o_orderkey": np.arange(1, no + 1),
            "o_custkey": custs,
            "o_orderstatus": np.array(["O", "F", "P"])[
                rng.choice(3, no, p=[0.5, 0.4, 0.1])],
            "o_totalprice": np.round(np.exp(rng.normal(9, 1, no)), 2),
            "o_orderdate": D1995 + rng.integers(0, DSPAN, no),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]},
           {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
            "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s})
    _write(outdir, "lineitem",
           {"l_orderkey": rng.integers(1, no + 1, nl),
            "l_partkey": rng.integers(1, npart + 1, nl),
            "l_suppkey": rng.integers(1, ns + 1, nl),
            "l_linenumber": rng.integers(1, 8, nl),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(100, 100_000, nl), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
            "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
            "l_shipdate": D1995 + rng.integers(0, DSPAN, nl)},
           {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64,
            "l_linenumber": i32, "l_quantity": f64, "l_extendedprice": f64,
            "l_discount": f64, "l_tax": f64, "l_returnflag": s,
            "l_linestatus": s, "l_shipdate": ts})

    ne = 100_000
    users = rng.integers(1, 1_501, ne)
    hot = rng.random(ne) < 0.10
    users[hot] = rng.integers(1, 16, int(hot.sum()))
    _write(outdir, "events",
           {"event_id": np.arange(1, ne + 1),
            "ts": EPOCH_2024 + rng.integers(0, 30 * DAY_US, ne),
            "user_id": users,
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.normal(50, 20, ne), 2),
            "props": ['{"k": %d}' % v for v in rng.integers(0, 100, ne)]},
           {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s,
            "value": f64, "props": s})

    nd = 5_000
    texts = _documents(rng, nd)
    _write(outdir, "documents",
           {"doc_id": np.arange(1, nd + 1),
            "text": texts,
            "lang": np.array(LANGS)[
                rng.choice(5, nd, p=[0.6, 0.2, 0.1, 0.05, 0.05])],
            "source": [f"src{v}" for v in rng.integers(0, 20, nd)],
            "n_chars": [len(t) for t in texts]},
           {"doc_id": i64, "text": s, "lang": s, "source": s,
            "n_chars": i64})

    nv = 2_000
    vecs = rng.normal(0, 0.125, (nv, EMBED_DIM)).astype(np.float32)
    pairs = nv // 100  # 1% exact-duplicate pairs, 0.5% near-duplicates
    vecs[1: 2 * pairs: 2] = vecs[0: 2 * pairs: 2]
    near = nv // 200
    vecs[2 * pairs: 2 * pairs + near] = vecs[:near] + rng.normal(
        0, 1e-4, (near, EMBED_DIM)
    ).astype(np.float32)
    _write(outdir, "embeddings",
           {"vec_id": np.arange(1, nv + 1),
            "embedding": [v.tolist() for v in vecs],
            "label": rng.choice(5, nv, p=[0.6, 0.2, 0.1, 0.05, 0.05])},
           {"vec_id": i64, "embedding": pa.list_(pa.float32()),
            "label": i32})


def cached(parent: str) -> str:
    """Path of the fixture under ``parent``, generated on first use."""
    path = os.path.join(parent, f"fixture-v{VERSION}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        generate(tmp, SEED)
        try:
            os.rename(tmp, path)
        except OSError:  # another run finished it first
            shutil.rmtree(tmp, ignore_errors=True)
    return path
