"""Seeded input generators for the benchmark.

Every input is a pure function of (seed, scale): the same seed writes the same
bytes.  The relational tables copy the schemas, physical types and value
shapes of the TPC-H-style test data the DuckDB oracles were written against
(pyarrow parquet, one file and one row group per table, `timestamp[us]`
without zone); the GeoJSON corpus mixes the three document shapes the
connector accepts.
"""
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "PROMO", "LARGE", "STANDARD", "SMALL", "MEDIUM"]
ADJS = ["large", "hot", "new", "small", "red", "blue", "old", "cold"]
NOUNS = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["de", "es", "fr", "zh"]  # "en" carries the other 40%
VOCAB = ["the", "query", "row", "stream", "line", "small", "group", "part",
         "scan", "slow", "agg", "key", "window", "table", "merge", "join",
         "column", "order", "vector", "spark", "fast", "customer", "batch",
         "data", "sort", "value", "hash", "filter", "big", "dup", "a"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_US_PER_DAY = 86_400_000_000


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _day_us(iso):
    return int(np.datetime64(iso, "D").astype("int64")) * _US_PER_DAY


def _round2(v):
    return np.round(v * 100.0) / 100.0


def _pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def _words(rng):
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), 10 + rng.integers(0, 91))]


def _documents(seed, n):
    """Word salad with planted duplicates: id = 499 (mod 500) copies id-7
    exactly, id = 299 (mod 500) re-rolls the last fifth of id-13's words."""
    rng = _rng(seed, 8)
    words = [_words(rng) for _ in range(n)]
    texts = []
    for i in range(n):
        if i >= 500 and i % 500 == 499:
            w = words[i - 7]
        elif i >= 500 and i % 500 == 299:
            base = words[i - 13]
            cut = len(base) - max(1, len(base) // 5)
            w = base[:cut] + [VOCAB[j] for j in rng.integers(0, len(VOCAB), len(base) - cut)]
        else:
            w = words[i]
        texts.append(" ".join(w))
    langs = np.where(rng.random(n) < 0.4, "en",
                     np.array(LANGS, dtype=object)[rng.integers(0, 4, n)])
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.astype(object), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def tables(seed, sf):
    """The ten relational tables at scale factor `sf`, as pyarrow tables."""
    def n(base, floor=1):
        return max(floor, int(base * sf))
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_line, n_ev = n(1_500_000), n(6_000_000), n(1_000_000)
    n_users, n_docs, n_emb = n(15_000), n(50_000, 500), n(20_000, 500)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    r = _rng(seed, 1)
    ids = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ids),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ids]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_round2(-1000.0 + r.random(n_cust) * 11000.0)),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)})
    r = _rng(seed, 2)
    ids = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(ids),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in ids]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_round2(-1000.0 + r.random(n_supp) * 11000.0))})
    r = _rng(seed, 3)
    ids = np.arange(n_part, dtype=np.int64)
    adj = np.array(ADJS, dtype=object)[r.integers(0, 8, n_part)]
    noun = np.array(NOUNS, dtype=object)[r.integers(0, 8, n_part)]
    out["part"] = pa.table({
        "p_partkey": pa.array(ids),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in 1 + r.integers(0, 25, n_part)]),
        "p_type": _pick(r, PTYPES, n_part),
        "p_size": pa.array((1 + r.integers(0, 50, n_part)).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (ids % 1000) / 10.0)})
    r = _rng(seed, 4)
    d0, d1 = _day_us("1995-01-01"), _day_us("2001-08-01")
    days = (d1 - d0) // _US_PER_DAY + 1
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(r, ["O", "F", "P"], n_ord),
        "o_totalprice": pa.array(_round2(1000.0 + r.random(n_ord) * 499000.0)),
        "o_orderdate": _ts(d0 + r.integers(0, days, n_ord, dtype=np.int64) * _US_PER_DAY),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord)})
    r = _rng(seed, 5)
    s0, s1 = _day_us("1995-01-02"), _day_us("2001-11-04")
    sdays = (s1 - s0) // _US_PER_DAY + 1
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array((1 + r.integers(0, 7, n_line)).astype(np.int32)),
        "l_quantity": pa.array((1 + r.integers(0, 50, n_line)).astype(np.float64)),
        "l_extendedprice": pa.array(_round2(900.0 + r.random(n_line) * 104100.0)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(r, ["N", "A", "R"], n_line),
        "l_linestatus": _pick(r, ["O", "F"], n_line),
        "l_shipdate": _ts(s0 + r.integers(0, sdays, n_line, dtype=np.int64) * _US_PER_DAY)})
    r = _rng(seed, 6)
    e0 = _day_us("2024-01-01")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(e0 + r.integers(0, 30 * _US_PER_DAY, n_ev, dtype=np.int64)),
        "user_id": pa.array(r.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": pa.array(_round2(-50.0 * np.log1p(-r.random(n_ev)))),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])})
    out["documents"] = _documents(seed, n_docs)
    r = _rng(seed, 9)
    v = r.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb).astype(np.int32))})
    return out


def write_tables(seed, sf, out_dir, names=TABLES):
    """Write the tables as `<out_dir>/<name>.parquet`; returns their byte sizes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables(seed, sf).items():
        if name not in names:
            continue
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=max(1, t.num_rows))
        sizes[name] = os.path.getsize(path)
    return sizes


# ---------------------------------------------------------------- GeoJSON

ROUTE_TYPES = ["Cycle Lane", "Shared Path", "Quiet Route", "Towpath", "Greenway"]
AUTHORITIES = ["Edinburgh", "Glasgow", "Fife", "Highland", "Stirling", "Perth"]
# south-west corners (m, EPSG:27700) of the 100 km grid squares routes fall in:
# NS, NT, NN, NO, NH, NJ
SQUARES = [(200000, 600000), (300000, 600000), (200000, 700000),
           (300000, 700000), (200000, 800000), (300000, 800000)]


def _line(rng, sq):
    x0, y0 = SQUARES[sq]
    x, y = x0 + 5000 + rng.random() * 90000, y0 + 5000 + rng.random() * 90000
    pts = []
    for _ in range(2 + int(rng.integers(0, 7))):
        pts.append([round(x, 1), round(y, 1)])
        x += rng.normal(0, 300)
        y += rng.normal(0, 300)
    return pts


def _feature(rng, fid, multi):
    sq = int(rng.integers(0, len(SQUARES)))
    props = {
        "id": fid,
        "route_id": f"R{fid:06d}",
        # about one feature in eight carries null properties
        "route_type": None if rng.random() < 0.125 else ROUTE_TYPES[int(rng.integers(0, 5))],
        "local_authority": None if rng.random() < 0.125 else AUTHORITIES[int(rng.integers(0, 6))],
    }
    if multi:
        geom = {"type": "MultiLineString",
                "coordinates": [_line(rng, sq) for _ in range(2 + int(rng.integers(0, 2)))]}
    else:
        geom = {"type": "LineString", "coordinates": _line(rng, sq)}
    return {"type": "Feature", "properties": props, "geometry": geom}


def geojson(seed, out_dir, docs_per_shape, feats_per_doc):
    """Write the routes corpus and return its manifest.

    Three directories hold LineString documents in the three accepted
    shapes (`fc/` FeatureCollection, `feature/` one Feature per document,
    `list/` bare feature arrays); `multi/` holds FeatureCollections mixing
    MultiLineString with LineString.  Feature ids are unique corpus-wide.
    """
    rng = _rng(seed, 20)
    fid = 0
    manifest = {"dirs": {}, "docs": []}
    for shape in ["fc", "feature", "list", "multi"]:
        d = os.path.join(out_dir, shape)
        os.makedirs(d, exist_ok=True)
        files = []
        for k in range(docs_per_shape):
            n = 1 if shape == "feature" else feats_per_doc
            feats = []
            for _ in range(n):
                feats.append(_feature(rng, fid, shape == "multi" and rng.random() < 0.5))
                fid += 1
            if shape in ("fc", "multi"):
                doc = {"type": "FeatureCollection", "features": feats}
            elif shape == "feature":
                doc = feats[0]
            else:
                doc = feats
            name = f"{shape}_{k:03d}.geojson"
            path = os.path.join(d, name)
            with open(path, "w") as f:
                json.dump(doc, f)
            files.append(name)
            manifest["docs"].append({"file": name, "shape": shape, "features": feats})
        manifest["dirs"][shape] = files
    return manifest


if __name__ == "__main__":
    # python3 gen.py <seed> <sf> <out_dir>: write the relational tables
    import sys
    write_tables(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3])
