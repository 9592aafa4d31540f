"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (seed, sizes): the same seed writes the
same parquet bytes. The generators mirror the value domains of the
project's TPC-H-ish test tables (same column names, types and grids) but
share no code with the program, so a change to the program cannot change
the inputs it is measured on.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "red", "hot", "cold", "old", "new", "small", "blue"]
PART_NOUN = ["anvil", "plate", "gizmo", "ring", "widget", "gear", "rod", "bolt"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = ["value", "hash", "batch", "sort", "data", "big", "filter", "dup", "fast",
         "spark", "line", "small", "customer", "group", "key", "agg", "scan", "slow",
         "table", "part", "a", "merge", "window", "order", "column", "join", "vector",
         "row", "the", "query", "stream"]


def _write(path, cols):
    # 64k-row groups: a reader can split every large table across cores
    pq.write_table(pa.table(cols), path, compression="snappy", row_group_size=1 << 16)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist(),
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps uniform over [start, end] as microsecond arrays."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, span + 1, n).astype("timedelta64[D]"),
                     pa.timestamp("us"))


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def sizes(sf):
    """Row counts per table at scale factor sf (sf 0.01 = 60k lineitem rows)."""
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": int(50_000 * sf),
        "users": int(15_000 * sf),
    }


def documents_text(rng, n, lo=10, hi=99):
    lens = rng.integers(lo, hi + 1, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[at:at + k]))
        at += k
    return out


def unit_vectors(rng, n, dim):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.array(list(v), pa.list_(pa.float32()))


def write_tpch(out, seed, sf, tables=None):
    """TPC-H-ish star schema plus events/documents/embeddings at scale sf."""
    os.makedirs(out, exist_ok=True)
    n = sizes(sf)
    want = set(tables or ["region", "nation", "customer", "supplier", "part", "orders",
                          "lineitem", "events", "documents", "embeddings"])
    # one child stream per table: adding a table never shifts another's rows
    rng = {t: np.random.default_rng([seed, i]) for i, t in enumerate(
        ["customer", "supplier", "part", "orders", "lineitem", "events", "documents",
         "embeddings"])}
    p = lambda t: os.path.join(out, f"{t}.parquet")
    if "region" in want:
        _write(p("region"), {"r_regionkey": pa.array(range(5), pa.int32()),
                             "r_name": pa.array(REGIONS, pa.string())})
    if "nation" in want:
        _write(p("nation"), {"n_nationkey": pa.array(range(25), pa.int32()),
                             "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                             "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if "customer" in want:
        r, k = rng["customer"], n["customer"]
        _write(p("customer"), {
            "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
            "c_name": _names("Customer", k),
            "c_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, k)),
            "c_mktsegment": _pick(r, SEGMENTS, k)})
    if "supplier" in want:
        r, k = rng["supplier"], n["supplier"]
        _write(p("supplier"), {
            "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
            "s_name": _names("Supplier", k),
            "s_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, k))})
    if "part" in want:
        r, k = rng["part"], n["part"]
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        _write(p("part"), {
            "p_partkey": pa.array(np.arange(k, dtype=np.int64)),
            "p_name": _pick(r, names, k),
            "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], k),
            "p_type": _pick(r, PART_TYPES, k),
            "p_size": pa.array(r.integers(1, 51, k).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) * 0.1, 1))})
    if "orders" in want:
        r, k = rng["orders"], n["orders"]
        _write(p("orders"), {
            "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n["customer"], k).astype(np.int64)),
            "o_orderstatus": _pick(r, ["F", "O", "P"], k),
            "o_totalprice": pa.array(_money(r, 1000, 500000, k)),
            "o_orderdate": _days(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), k),
            "o_orderpriority": _pick(r, PRIORITIES, k)})
    if "lineitem" in want:
        r, k = rng["lineitem"], n["lineitem"]
        _write(p("lineitem"), {
            "l_orderkey": pa.array(r.integers(0, n["orders"], k).astype(np.int64)),
            "l_partkey": pa.array(r.integers(0, n["part"], k).astype(np.int64)),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], k).astype(np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, k).astype(np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900, 105000, k)),
            "l_discount": pa.array(r.integers(0, 11, k) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, k) / 100.0),
            "l_returnflag": _pick(r, ["A", "N", "R"], k),
            "l_linestatus": _pick(r, ["F", "O"], k),
            "l_shipdate": _days(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), k)})
    if "events" in want:
        r, k = rng["events"], n["events"]
        start = np.datetime64("2024-01-01T00:00:00", "us")
        offs = np.sort(r.integers(0, 30 * 86400 * 10**6, k))
        _write(p("events"), {
            "event_id": pa.array(np.arange(k, dtype=np.int64)),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, max(1, n["users"]), k).astype(np.int64)),
            "event_type": _pick(r, EVENT_TYPES, k),
            "value": pa.array(np.round(r.exponential(50.0, k), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)], pa.string())})
    if "documents" in want:
        r, k = rng["documents"], n["documents"]
        text = documents_text(r, k)
        _write(p("documents"), {
            "doc_id": pa.array(np.arange(k, dtype=np.int64)),
            "text": pa.array(text, pa.string()),
            "lang": _pick(r, LANGS, k, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": _pick(r, [f"src{i}" for i in range(20)], k),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64))})
    if "embeddings" in want:
        r, k = rng["embeddings"], n["embeddings"]
        _write(p("embeddings"), {
            "vec_id": pa.array(np.arange(k, dtype=np.int64)),
            "embedding": unit_vectors(r, k, 64),
            "label": pa.array(r.integers(0, 10, k).astype(np.int32))})


def _edit(rng, text, edits):
    """`edits` word substitutions at distinct positions; never a no-op."""
    words = text.split(" ")
    for pos in rng.choice(len(words), min(edits, len(words)), replace=False):
        choices = [w for w in VOCAB if w != words[pos]]
        words[pos] = choices[rng.integers(0, len(choices))]
    return " ".join(words)


def write_corpus(out, seed, cfg):
    """Curation corpus: a history slice (the index set-up builds), a
    `warmup` batch a tenth of the size, and `batches` fresh batches. In
    each batch an `exact_dup_share` of the rows are verbatim copies and a
    `near_dup_share` are copies with a few word substitutions, each of a
    distinct original of the same batch; copies always carry a larger
    doc_id than their original. Per batch, `<name>.exact` lists the exact
    copies' ids and `<name>.near` the (original, near copy) id pairs, one
    per line."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 100])
    seen = set()

    def fresh(n):
        docs = []
        while len(docs) < n:
            for t in documents_text(rng, n - len(docs), cfg["min_words"], cfg["max_words"]):
                if t not in seen:
                    seen.add(t)
                    docs.append(t)
        return docs

    hist = fresh(cfg["history_docs"])
    _write(os.path.join(out, "history.parquet"), {
        "doc_id": pa.array(np.arange(len(hist), dtype=np.int64)),
        "text": pa.array(hist, pa.string())})
    next_id = len(hist)
    # batch -1 is the warm-up batch: a tenth of a batch, same shares
    for b in range(-1, cfg["batches"]):
        n = cfg["batch_docs"] // 10 if b < 0 else cfg["batch_docs"]
        n_exact = int(round(n * cfg["exact_dup_share"]))
        n_near = int(round(n * cfg["near_dup_share"]))
        n_orig = n - n_exact - n_near
        orig = fresh(n_orig)
        ids = list(range(next_id, next_id + n_orig))
        src = rng.choice(n_orig, n_exact + n_near, replace=False)
        texts, doc_ids, near_pairs = list(orig), list(ids), []
        cid = next_id + n_orig
        exact_ids = []
        for j, s in enumerate(src):
            if j < n_exact:
                texts.append(orig[s])
                exact_ids.append(cid)
            else:
                t = _edit(rng, orig[s], cfg["near_dup_edits"])
                if t in seen:
                    continue
                seen.add(t)
                texts.append(t)
                near_pairs.append([ids[s], cid])
            doc_ids.append(cid)
            cid += 1
        next_id = cid
        name = "warmup" if b < 0 else f"batch_{b:03d}"
        _write(os.path.join(out, f"{name}.parquet"), {
            "doc_id": pa.array(np.array(doc_ids, dtype=np.int64)),
            "text": pa.array(texts, pa.string())})
        with open(os.path.join(out, f"{name}.exact"), "w") as f:
            f.writelines(f"{i}\n" for i in exact_ids)
        with open(os.path.join(out, f"{name}.near"), "w") as f:
            f.writelines(f"{x} {y}\n" for x, y in near_pairs)
