"""Seeded input generators for the benchmark.

Everything the engine sees is made here from ``--seed``: the same seed
gives byte-identical files and the same lookup / query-order sequences,
a different seed gives different ones. Nothing reads the repository's
own test data.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_SCHEMA = "doc_id string, org_id string, body string, score double, views long"

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch shard index route manifest quarantine"
).split()


# --------------------------------------------------------------------------
# bulk_index / point_lookup: line-delimited JSON documents
# --------------------------------------------------------------------------


@dataclass
class DocSet:
    """What the generator wrote, so the runs can check the engine's counts."""

    n_lines: int
    n_good: int
    n_null_id: int
    n_malformed: int
    input_bytes: int
    paths: list[str]
    #: doc_id -> (org_id, body, score, views) for a sample of good docs
    sample: dict[str, tuple] = field(default_factory=dict)


def doc_id(seed: int, i: int) -> str:
    """The id of line ``i``; ids at ``i >= n_lines`` are never written."""
    return f"d{seed:x}-{(i * 2654435761) & 0xFFFFFFFF:08x}-{i}"


def write_docs(out_dir: str, n_lines: int, seed: int, n_files: int = 8,
               sample_every: int = 1) -> DocSet:
    """Write ``n_lines`` LDJSON lines over ``n_files`` files.

    Exactly ``n_lines // 100`` lines are malformed (truncated objects)
    and exactly ``n_lines // 200`` carry a null ``doc_id``; the two sets
    are disjoint. Good docs are sampled into ``DocSet.sample`` every
    ``sample_every`` docs so lookups can be checked against the source.
    """
    rng = random.Random(seed)
    n_bad = n_lines // 100
    n_null = n_lines // 200
    special = rng.sample(range(n_lines), n_bad + n_null)
    malformed = set(special[:n_bad])
    null_ids = set(special[n_bad:])
    # ~200-char bodies are windows into one random word stream: O(1)
    # per doc, no two docs share a body, compression stays realistic
    stream = " ".join(rng.choices(_WORDS, k=200_000))
    span = len(stream) - 260
    os.makedirs(out_dir, exist_ok=True)
    paths = [os.path.join(out_dir, f"part-{k:04d}.jsonl") for k in range(n_files)]
    per_file = -(-n_lines // n_files)
    sample: dict[str, tuple] = {}
    total = 0
    for k, path in enumerate(paths):
        lines = []
        for i in range(k * per_file, min(n_lines, (k + 1) * per_file)):
            off = rng.randrange(span)
            body = stream[off:off + 180 + rng.randrange(40)].strip()
            org = f"org-{rng.randrange(1000):04d}"
            score = rng.randrange(1_000_000) / 100.0
            views = rng.randrange(1 << 40)
            did = doc_id(seed, i)
            if i in null_ids:
                lines.append(
                    f'{{"doc_id": null, "org_id": "{org}", "body": "{body}", '
                    f'"score": {score!r}, "views": {views}}}'
                )
                continue
            line = (
                f'{{"doc_id": "{did}", "org_id": "{org}", "body": "{body}", '
                f'"score": {score!r}, "views": {views}}}'
            )
            if i in malformed:
                lines.append(line[: len(line) // 2])
                continue
            lines.append(line)
            if i % sample_every == 0:
                sample[did] = (org, body, score, views)
        data = ("\n".join(lines) + "\n").encode()
        with open(path, "wb") as f:
            f.write(data)
        total += len(data)
    return DocSet(
        n_lines=n_lines,
        n_good=n_lines - n_bad - n_null,
        n_null_id=n_null,
        n_malformed=n_bad,
        input_bytes=total,
        paths=paths,
        sample=sample,
    )


def lookup_ids(docs: DocSet, seed: int, n: int) -> list[str]:
    """``n`` lookup ids in a seeded order: 90% drawn uniformly from the
    sampled good docs, 10% ids that were never written. No id repeats, so
    a per-id cache has nothing to reuse."""
    rng = random.Random(seed ^ 0x5EED)
    hits = list(docs.sample)
    n_miss = round(n * 0.1)
    picked = rng.sample(hits, n - n_miss)
    misses = [doc_id(seed, docs.n_lines + j) for j in range(n_miss)]
    out = picked + misses
    rng.shuffle(out)
    return out


# --------------------------------------------------------------------------
# query_mix: the TPC-H-shaped star schema plus events/documents/embeddings
# --------------------------------------------------------------------------

QUERY_MIX = (
    # controls
    "q1_pricing_summary",
    "q3_shipping_priority",
    "w_running_revenue",
    # distributed-rank kit
    "customer_rfm_segments",
    # per-iteration jobs
    "pagerank_portable",
    # build-heavy
    "part_market_basket",
    # session-cache consumers
    "search_bm25_topk",
    "neardup_minhash_portable",
)


def query_order(seed: int, pass_no: int) -> list[str]:
    """The query order of one pass: a seeded shuffle per pass."""
    order = list(QUERY_MIX)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order


_DAY_US = 86_400 * 1_000_000


def _dates(day0: str, rng: np.random.Generator, n: int, days: int) -> pa.Array:
    """``n`` midnight timestamps uniformly drawn from ``days`` days."""
    base = np.datetime64(day0, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, days, n) * _DAY_US, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables the registry reads, one parquet file each,
    with the column names and types the registry queries expect.
    Returns ``{table: rows}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pick(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": pa.array([
                f"{a} {b}" for a, b in zip(
                    pick(["large", "hot", "blue", "small", "red", "green"], n_part).to_pylist(),
                    pick(["ring", "bolt", "nut", "gear", "pipe", "valve"], n_part).to_pylist(),
                )
            ]),
            "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": pick(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _dates("1995-01-01", rng, n_ord, 2404),
            "o_orderpriority": pick(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["O", "F"], n_li),
            "l_shipdate": _dates("1995-01-02", rng, n_li, 2498),
        }),
    }

    ts = np.sort(
        np.datetime64("2024-01-01", "us").astype(np.int64)
        + rng.integers(0, 30 * _DAY_US, n_ev)
    )
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(["view", "click", "purchase", "signup", "error"], n_ev),
        "value": _money(rng, 0, 560, n_ev),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    words = np.asarray(_WORDS[:30], dtype=object)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier doc, as the dedup queries expect
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, 30, int(rng.integers(8, 100)))]))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pick(["en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": pick([f"src{i}" for i in range(20)], n_doc),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(size=(10, 64))
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
