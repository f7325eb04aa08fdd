#!/usr/bin/env python3
"""Seeded fixture generator for the benchmark workloads.

The engine reads ten parquet tables: a TPC-H-like star schema (region,
nation, customer, supplier, part, orders, lineitem), an `events` stream
table, and the `documents` / `embeddings` corpus. `base()` draws all ten
from one seed with the shapes of the engine's sf0.1 test fixture (value
domains, key ranges, 5% exact " dup" copies in the corpus, 64-dim unit
vectors). The workloads then scale that base with the two existing
schemes of the repo's scale probes:

- star schema: `tools/make_sf1.py` replication. Replica i shifts every
  key of one key domain by i * offset, so join fan-outs, group sizes and
  window shapes stay organic while input grows;
- corpus: `tools/make_probe_organic.py` mutation. Replica 1 is a genuine
  near-dup mate (tokens mutated with p = 0.02, vectors perturbed to
  cosine ~0.99); later replicas are distinct content (p = 0.35, fresh
  random vectors). Here the seed feeds both `perturb` and the vector RNG.

Both schemes are restated here (the tools read the engine's test fixture
and write to fixed paths), so the benchmark's inputs change only with the
benchmark.

The same (workload, seed) always gives byte-identical parquet files:
every random draw comes from generators seeded from the arguments, and
pyarrow's writer is deterministic for identical tables.

Usage: python3 perfbench/gen.py <workload> <seed> <outdir>
"""
import hashlib
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_ADJ = "large hot blue small green cold red dark".split()
PART_NOUN = "ring bolt nut gear pipe valve plate screw".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
DIM = 64

# Table sizes at sf = 1; region and nation stay fixed, as in TPC-H.
ROWS_SF1 = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
            "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
            "documents": 50_000, "embeddings": 20_000}

# Per workload: base scale factor, star-schema replicas, corpus replicas,
# and whether row order is permuted by the seed.
WORKLOADS = {
    "warehouse": {"sf": 0.02, "star_reps": 2, "corpus_reps": 1, "permute": False},
    "curation": {"sf": 0.02, "star_reps": 1, "corpus_reps": 3, "permute": False},
    "lake_lifecycle": {"sf": 0.005, "star_reps": 1, "corpus_reps": 1, "permute": True},
}


def _dates(rng, start: str, end: str, size: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, size)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def base(seed: int, sf: float) -> dict:
    """All ten tables at scale factor `sf`, drawn from `seed`."""
    rng = np.random.default_rng([seed, 1])
    n = {t: max(1, int(round(r * sf))) for t, r in ROWS_SF1.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})

    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})

    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", nl)})

    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, nc // 10), ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(np.minimum(rng.exponential(40.0, ne), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    lens = rng.integers(10, 101, nd)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lens)])
    text = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(nd)]
    # 5% of documents are an exact copy of another one plus " dup"
    dups = rng.choice(nd, size=nd // 20, replace=False)
    for d, src in zip(dups, rng.integers(0, nd, len(dups))):
        if src != d:
            text[d] = text[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})

    nv = n["embeddings"]
    v = rng.normal(0.0, 1.0, (nv, DIM))
    v = (v / np.linalg.norm(v, axis=1)[:, None]).astype(np.float32)
    out["embeddings"] = _embeddings(np.arange(nv, dtype=np.int64), v,
                                    rng.integers(0, 10, nv).astype(np.int32))
    return out


def _embeddings(ids, vecs, labels) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table({"vec_id": ids,
                     "embedding": pa.ListArray.from_arrays(offsets, flat),
                     "label": labels})


def _offset(maxval: int) -> int:
    """Smallest power of ten past maxval (tools/make_sf1.py)."""
    o = 10
    while o <= maxval:
        o *= 10
    return o


def replicate_star(t: dict, reps: int) -> None:
    """tools/make_sf1.py: replica i shifts each key domain by i * offset."""
    if reps == 1:
        return
    mx = lambda tbl, c: int(pc.max(t[tbl][c]).as_py())
    o_cust = _offset(max(mx("customer", "c_custkey"), mx("events", "user_id")))
    o_ord = _offset(mx("orders", "o_orderkey"))
    o_part = _offset(mx("part", "p_partkey"))
    o_supp = _offset(mx("supplier", "s_suppkey"))
    o_event = _offset(mx("events", "event_id"))
    shifts = {
        "customer": {"c_custkey": o_cust},
        "supplier": {"s_suppkey": o_supp},
        "part": {"p_partkey": o_part},
        "orders": {"o_orderkey": o_ord, "o_custkey": o_cust},
        "lineitem": {"l_orderkey": o_ord, "l_partkey": o_part, "l_suppkey": o_supp},
        "events": {"event_id": o_event, "user_id": o_cust},
    }
    for name, cols in shifts.items():
        base_t = t[name]
        parts = [base_t]
        for i in range(1, reps):
            rep = base_t
            for c, o in cols.items():
                idx = rep.schema.get_field_index(c)
                rep = rep.set_column(idx, c, pc.add(rep[c], i * o))
            parts.append(rep)
        t[name] = pa.concat_tables(parts)


def perturb(text: str, seed: int, p: float) -> str:
    """tools/make_probe_organic.py: suffix-mutate each token with prob p."""
    rng = random.Random(seed)
    out = []
    for tok in text.split(" "):
        out.append(tok + "q%d" % rng.randrange(1000) if rng.random() < p else tok)
    return " ".join(out)


def organic_corpus(t: dict, reps: int, seed: int) -> None:
    """tools/make_probe_organic.py with `seed` feeding perturb and the RNG."""
    if reps == 1:
        return
    docs = t["documents"].to_pydict()
    ids, text = docs["doc_id"], docs["text"]
    parts = [t["documents"]]
    for i in range(1, reps):
        p = 0.02 if i == 1 else 0.35
        new_text = [perturb(x, (seed * 1_000_003 + d) * 10 + i, p)
                    for x, d in zip(text, ids)]
        parts.append(pa.table({
            "doc_id": pa.array([d + i * 100_000_000 for d in ids], pa.int64()),
            "text": new_text,
            "lang": docs["lang"],
            "source": docs["source"],
            "n_chars": pa.array([len(x) for x in new_text], pa.int64())}))
    t["documents"] = pa.concat_tables(parts)

    emb = t["embeddings"]
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    n = len(vecs)
    norms = np.linalg.norm(vecs, axis=1)
    vid = emb["vec_id"].to_numpy()
    parts = [emb]
    for i in range(1, reps):
        rng = np.random.default_rng([seed, 1000 + i])
        if i == 1:
            v2 = vecs / norms[:, None] + rng.normal(0.0, 0.018, (n, DIM))
            v2 = v2 / np.linalg.norm(v2, axis=1)[:, None] * norms[:, None]
        else:
            v2 = rng.normal(0.0, 1.0, (n, DIM))
            v2 = v2 / np.linalg.norm(v2, axis=1)[:, None]
            v2 = v2 * norms[rng.integers(0, n, n)][:, None]
        parts.append(_embeddings(vid + i * 100_000_000, v2.astype(np.float32),
                                 rng.integers(0, 10, n).astype(np.int32)))
    t["embeddings"] = pa.concat_tables(parts)


def permute(t: dict, seed: int) -> None:
    """Shuffle the row order of every table (keys unchanged)."""
    rng = np.random.default_rng([seed, 2])
    for name in TABLES:
        t[name] = t[name].take(rng.permutation(t[name].num_rows))


def generate(workload: str, seed: int, outdir: str) -> dict:
    """Write the workload's ten tables; return {table: {rows, sha256}}."""
    cfg = WORKLOADS[workload]
    t = base(seed, cfg["sf"])
    replicate_star(t, cfg["star_reps"])
    organic_corpus(t, cfg["corpus_reps"], seed)
    if cfg["permute"]:
        permute(t, seed)
    os.makedirs(outdir, exist_ok=True)
    manifest = {}
    for name in TABLES:
        path = os.path.join(outdir, f"{name}.parquet")
        pq.write_table(t[name], path, compression="snappy")
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        manifest[name] = {"rows": t[name].num_rows, "sha256": digest}
    return manifest


def fixture_hash(manifest: dict) -> str:
    blob = json.dumps({k: v["sha256"] for k, v in sorted(manifest.items())})
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


if __name__ == "__main__":
    wl, sd, od = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(wl, sd, od), indent=1))
