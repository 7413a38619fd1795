"""Seeded input generators and their reference answers.

Everything here is numpy/pandas in the benchmark's own process: the
program under test sees only the files written here, never the generator.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd


# ---------------------------------------------------------------------------
# Graphs
# ---------------------------------------------------------------------------

# Community sizes, lattice degree, rewired share, and bridge edges per
# community edge of the planted-community graph.
COMMUNITY_SIZES = (20, 120)
RING_K = 10
REWIRE_P = 0.08
BRIDGE_FRAC = 0.02


def community_edges(rng: np.random.Generator, n_vertices: int) -> np.ndarray:
    """Undirected edges ``(m, 2)`` of a planted-community graph.

    Each community is a Watts-Strogatz ring lattice: every vertex is tied
    to its ``RING_K`` nearest ring neighbours, and a ``REWIRE_P`` share of
    those ties moves to a random member. A degree-10 ring lattice has
    clustering 3(k-2)/(4(k-1)) = 0.67; rewiring and the ``BRIDGE_FRAC``
    edges between random vertices of the whole graph bring the average
    to about 0.5, near the 0.6 of the ego-Facebook graph the paper
    samples. Vertex ids are a random permutation of ``0..n-1``; rows are
    distinct, with no self-loops, ``src < dst``."""
    lo, hi = COMMUNITY_SIZES
    sizes = []
    total = 0
    while total < n_vertices:
        s = int(rng.integers(lo, hi + 1))
        s = min(s, n_vertices - total)
        if s < RING_K + 2:  # a tail too small for a lattice joins the previous
            sizes[-1] += s
        else:
            sizes.append(s)
        total += s
    perm = rng.permutation(n_vertices)
    parts = []
    start = 0
    half = RING_K // 2
    for s in sizes:
        members = perm[start:start + s]
        start += s
        i = np.repeat(np.arange(s), half)
        j = (i + np.tile(np.arange(1, half + 1), s)) % s
        moved = rng.random(i.size) < REWIRE_P
        j = np.where(moved, rng.integers(0, s, i.size), j)
        parts.append(np.stack([members[i], members[j]], axis=1))
    n_bridge = int(BRIDGE_FRAC * sum(p.shape[0] for p in parts))
    parts.append(rng.integers(0, n_vertices, (n_bridge, 2)))
    return _canonical(np.concatenate(parts))


def _canonical(e: np.ndarray) -> np.ndarray:
    e = np.sort(e.astype(np.int64), axis=1)
    e = e[e[:, 0] != e[:, 1]]
    return np.unique(e, axis=0)


def write_edge_file(edges: np.ndarray, path: str, rng: np.random.Generator) -> None:
    """SNAP text format, one ``src dst`` line per edge, in a shuffled order
    with a random orientation per edge (the file is what a user would
    download, not a pre-canonicalized table)."""
    e = edges[rng.permutation(len(edges))]
    flip = rng.random(len(e)) < 0.5
    e = np.where(flip[:, None], e[:, ::-1], e)
    with open(path, "w") as f:
        f.write("# planted-community graph (seeded)\n")
        f.write("\n".join(f"{a} {b}" for a, b in e.tolist()))
        f.write("\n")


def graph_report_reference(edges: np.ndarray) -> dict:
    """networkx's values for the four fields of ``pipeline.measure`` that
    do not depend on the sampler."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(edges.tolist())
    return {
        "n_vertices": g.number_of_nodes(),
        "n_edges": g.number_of_edges(),
        "avg_clustering": nx.average_clustering(g),
        "transitivity": nx.transitivity(g),
    }


# ---------------------------------------------------------------------------
# Tables (same schemas as the engine's TPC-H-like fixture set)
# ---------------------------------------------------------------------------

WORDS = (
    "a the data query table row column key value join hash sort merge scan "
    "filter group agg window stream batch spark line part order customer "
    "vector fast slow big small"
).split()


def _ts(days: np.ndarray, base: str) -> pd.Series:
    return pd.Series(pd.Timestamp(base) + pd.to_timedelta(days, unit="D")).astype(
        "datetime64[us]"
    )


def write_tables(rng: np.random.Generator, out_dir: str, n_lineitem: int, n_docs: int, n_events: int) -> dict[str, int]:
    """Write ``lineitem, orders, customer, part, events, documents`` as
    parquet under ``out_dir``; returns ``{table: rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    n_orders = max(1, n_lineitem // 4)
    n_cust = max(10, n_orders // 10)
    n_part = max(20, n_lineitem // 30)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, len(segs), n_cust)],
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, n_orders), "1995-01-01"),
        "o_orderpriority": prios[rng.integers(0, 5, n_orders)],
    })
    adjs = np.array("small red blue hot cold big shiny old".split())
    nouns = np.array("ring widget bolt gear valve pipe spring frame".split())
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adjs[rng.integers(0, 8, n_part)], " "), nouns[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    qty = rng.integers(1, 51, n_lineitem).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n_lineitem).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_lineitem).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_lineitem).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_lineitem).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_lineitem), 2),
        "l_discount": rng.integers(0, 11, n_lineitem) / 100.0,
        "l_tax": rng.integers(0, 9, n_lineitem) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lineitem)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lineitem)],
        "l_shipdate": _ts(rng.integers(0, 2500, n_lineitem), "1995-01-02"),
    })
    gaps = rng.exponential(259.0, n_events)
    n_users = max(10, n_events // 60)
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pd.Series(
            pd.Timestamp("2024-01-01") + pd.to_timedelta(np.round(np.cumsum(gaps), 6), unit="s")
        ).astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(49.6, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate of an earlier doc
            src = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(src) // 20)):
                src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(src))
        else:
            n_w = int(rng.integers(8, 81))
            texts.append(" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), n_w)))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "zh", "es", "de", "fr"])[rng.integers(0, 7, n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    tables = {
        "customer": customer, "orders": orders, "part": part,
        "lineitem": lineitem, "events": events, "documents": documents,
    }
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}
