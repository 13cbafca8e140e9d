"""Seeded benchmark inputs, written as parquet into directories the
benchmark owns.

Two input sets:

- the crawl fixture (serp rows, fetch responses, robots, images), made with
  the package's public ``fixtures.generate.gen_*`` functions under the
  benchmark's seed instead of the fixed fixture seed;
- the query tables the headline registry queries read (lineitem, orders,
  part, documents, embeddings), shaped like the sf0.01 testdata (TESTDATA.md) at
  half its row counts: same schemas and value domains, drawn from the seed.

Generation is pure numpy/pandas on the driver; nothing here touches Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from nightcrawler_ds_pipeline_spark.fixtures import generate as gen

# crawl_wide_ttl fixture over a 2000-host pool. An iteration is bound by
# per-stage latency, so halving the serp rows saves only ~10% of its time,
# but makes the URL count of iteration 1 swing twice as much between
# seeds (~9% against ~4%). Images kept small because per-image generation
# is ~2 ms of pure Python.
CRAWL_SHAPE = {"serp": 3000, "images": 500, "hosts": 2000}
# robots.txt delays set each host's politeness budget, so the hot hosts'
# delays decide how many URLs an iteration dequeues: drawn from the run's
# seed they swing iterations 1-2 by ~40% between seeds, fixed by ~5%.
# They are part of the workload's definition, not of its random input.
ROBOTS_SEED = 0
# image fixture the multimodal registry queries read
QUERY_IMAGES = 300


def _write(tables: dict[str, pd.DataFrame], out: str) -> str:
    os.makedirs(out, exist_ok=True)
    for name, pdf in tables.items():
        # 2048-row groups, as the package's fixture writer uses: one row
        # group would make every Spark scan of the table single-task
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(out, f"{name}.parquet"),
            row_group_size=2048,
        )
    return out


def crawl_tables(seed: int) -> dict[str, pd.DataFrame]:
    hosts = CRAWL_SHAPE["hosts"]
    images = gen.gen_images_pdf(CRAWL_SHAPE["images"], seed=seed)
    serp = gen.gen_serp_results_pdf(CRAWL_SHAPE["serp"], seed=seed, num_hosts=hosts)
    return {
        "images": images,
        "serp_results": serp,
        "fetch_responses": gen.gen_fetch_responses_pdf(serp, images, seed=seed),
        "robots": gen.gen_robots_pdf(seed=ROBOTS_SEED, num_hosts=hosts),
    }


def write_crawl_fixture(seed: int, out: str) -> str:
    return _write(crawl_tables(seed), out)


def write_image_fixture(seed: int, fixtures_root: str) -> str:
    """The t1-tier fixture the multimodal/pipeline registry queries read
    through ``fixtures.write_fixture_parquet("t1")``: written under the
    benchmark's seed, with the package's completion marker so the registry
    uses it instead of generating its own fixed-seed copy."""
    sizes = gen.TIERS["t1"]
    images = gen.gen_images_pdf(QUERY_IMAGES, seed=seed)
    serp = gen.gen_serp_results_pdf(sizes["serp"], seed=seed, num_hosts=sizes["hosts"])
    serp_ris = gen.gen_serp_ris_pdf(seed=seed, num_hosts=sizes["hosts"])
    out = _write(
        {
            "images": images,
            "serp_results": serp,
            "serp_ris": serp_ris,
            "fetch_responses": gen.gen_fetch_responses_pdf(
                pd.concat([serp, serp_ris], ignore_index=True), images, seed=seed
            ),
            "robots": gen.gen_robots_pdf(seed=seed, num_hosts=sizes["hosts"]),
        },
        gen.fixture_dir("t1", fixtures_root),
    )
    with open(os.path.join(out, "_COMPLETE"), "w") as f:
        f.write(gen.FIXTURE_VERSION + "\n")
    return out


# --- query tables (half the sf0.01 row counts) --------------------------------

N_ORDERS = 7_500
N_LINEITEM = 30_000
N_PART = 1_000
N_CUSTOMERS = 750
N_SUPPLIERS = 100
N_DOCUMENTS = 250
N_EMBEDDINGS = 250
EMBED_DIM = 64
QUERY_TABLES = ("orders", "lineitem", "part", "documents", "embeddings")

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en"] * 44 + ["zh"] * 15 + ["es"] * 14 + ["de"] * 14 + ["fr"] * 13
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def query_tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed + 11)
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
            "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, N_ORDERS), 2),
            "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS),
        }
    )
    quantity = rng.integers(1, 51, N_LINEITEM).astype("float64")
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype("int64"),
            "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype("int64"),
            "l_suppkey": rng.integers(0, N_SUPPLIERS, N_LINEITEM).astype("int64"),
            "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype("int32"),
            "l_quantity": quantity,
            "l_extendedprice": np.round(
                quantity * rng.lognormal(7.6, 1.0, N_LINEITEM).clip(19.0, 105_000.0), 2
            ),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
            "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
            "l_shipdate": _days(rng, N_LINEITEM, "1995-01-02", "2001-11-04"),
        }
    )
    partkey = np.arange(N_PART, dtype="int64")
    part = pd.DataFrame(
        {
            "p_partkey": partkey,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(_TYPES, N_PART),
            "p_size": rng.integers(1, 51, N_PART).astype("int32"),
            "p_retailprice": np.round(900.0 + (partkey % 1000) * 0.1, 1),
        }
    )
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup queries'
            # positives): a prefix of it plus a marker word
            src = texts[int(rng.integers(0, i))]
            texts.append(src[: max(40, int(len(src) * 0.9))].rstrip() + " dup")
            continue
        words = rng.choice(_WORDS, int(rng.integers(9, 100)))
        texts.append(" ".join(words)[: int(rng.integers(48, 554))].rstrip())
    doc_id = np.arange(N_DOCUMENTS, dtype="int64")
    documents = pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": rng.choice(_LANGS, N_DOCUMENTS),
            "source": [f"src{d % 20}" for d in doc_id],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    label = rng.integers(0, 10, N_EMBEDDINGS)
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centroids[label] + rng.normal(0.0, 1.5, (N_EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(N_EMBEDDINGS, dtype="int64"),
            "embedding": list(vecs),
            "label": label.astype("int32"),
        }
    )
    tables = {
        "orders": orders,
        "lineitem": lineitem,
        "part": part,
        "documents": documents,
        "embeddings": embeddings,
    }
    assert tuple(tables) == QUERY_TABLES
    return tables


def write_query_tables(seed: int, out: str) -> str:
    return _write(query_tables(seed), out)
