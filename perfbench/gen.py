"""Seeded input generators. The same seed gives the same tables; the timed
calls read only these files, and the planted truth goes to tables no call
reads.

bulk    - the reference's published interval-join shape at 1/40 scale
          (250k x 25k rows, 250 int keys, float64 endpoints; the reference:
          10M x 1M, 10k keys), a copy of the left side where one key holds
          half the rows, and a curation corpus (documents with planted
          quality failures, exact copies and near-duplicate families;
          clustered embeddings with held-out queries).
api_mix - 20k timestamped events over 250 entities plus two interval
          tables, window anchors and two tiny tables. Single-file tables,
          so Spark scans them in file order, which `keep="first"` relies on.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH0_US = 1704067200 * 10**6  # 2024-01-01T00:00:00Z
TS = pa.timestamp("us", tz="UTC")
STOPWORDS = ["the", "and", "of", "to", "in", "is", "for", "on", "with", "that"]


def write(dir_, name, cols, files=1):
    """One table as `files` parquet files (several let Spark scan in parallel)."""
    path = os.path.join(dir_, name)
    os.makedirs(path, exist_ok=True)
    table = pa.table(cols)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k}.parquet"))


def ts(us):
    return pa.array(EPOCH0_US + np.asarray(us, dtype=np.int64), type=TS)


# The reference publishes its joins' output rows (BASELINE.md) but not its
# endpoint distributions: 1,487,230 rows for containment and 11,616,148 for
# overlap, from 10M left and 1M right rows over 10k keys, i.e. 100 right rows
# per key. With starts uniform on [0, SPAN), a left row contains a right point
# with probability mean_left_width / SPAN and overlaps a right interval with
# (mean_left_width + mean_right_width) / SPAN, so these mean widths give the
# reference's output rows per left row. Widths are drawn uniform on
# [0, 2 * mean).
REFERENCE_ROWS = {"contain": 1_487_230, "overlap": 11_616_148}
REFERENCE_LEFT, REFERENCE_RIGHT_PER_KEY, SCALE = 10_000_000, 100, 40
SPAN = 10_000.0
LEFT_WIDTH = REFERENCE_ROWS["contain"] / REFERENCE_LEFT / REFERENCE_RIGHT_PER_KEY * SPAN  # 14.87
RIGHT_WIDTH = (REFERENCE_ROWS["overlap"] / REFERENCE_LEFT / REFERENCE_RIGHT_PER_KEY * SPAN
               - LEFT_WIDTH)  # 101.29


def bulk(dir_, rng):
    n, groups = REFERENCE_LEFT // SCALE, 10_000 // SCALE
    grp = rng.integers(0, groups, n, dtype=np.int32)
    ls = rng.random(n) * SPAN
    le = ls + rng.random(n) * 2 * LEFT_WIDTH
    write(dir_, "left", {"grp": grp, "ls": ls, "le": le}, files=4)
    hot = rng.random(n) < 0.5
    write(dir_, "left_skew", {"grp": np.where(hot, 0, grp).astype(np.int32), "ls": ls, "le": le}, files=4)
    m = n // 10
    rp = rng.random(m) * SPAN
    write(dir_, "right", {"grp": rng.integers(0, groups, m, dtype=np.int32), "rp": rp,
                          "re": rp + rng.random(m) * 2 * RIGHT_WIDTH}, files=4)
    curation(dir_, rng)


def curation(dir_, rng, n_base=1500, n_vec=5000, dim=32, centers=64, n_query=100):
    vocab = ["".join(chr(97 + c) for c in rng.integers(0, 26, rng.integers(4, 9)))
             for _ in range(3000)]

    def words(k):
        stop = rng.random(k) < 0.25
        return [STOPWORDS[rng.integers(len(STOPWORDS))] if s else vocab[rng.integers(len(vocab))]
                for s in stop]

    docs, family = [], 0  # (tokens, family or -1, passes the quality filter)
    for _ in range(n_base):
        r = rng.random()
        if r < 0.1:  # too short for the Gopher token floor
            docs.append((words(rng.integers(15, 40)), -1, False))
            continue
        base = words(rng.integers(60, 120))
        if r < 0.14:  # an exact copy
            docs += [(base, family, True), (base, family, True)]
            family += 1
        elif r < 0.20:  # a near-duplicate family: 3% of tokens swapped per variant
            docs.append((base, family, True))
            for _ in range(rng.integers(1, 4)):
                v = list(base)
                for _ in range(max(2, len(base) * 3 // 100)):
                    v[rng.integers(len(v))] = words(1)[0]
                docs.append((v, family, True))
            family += 1
        else:
            docs.append((base, -1, True))
    order = rng.permutation(len(docs))
    ids = np.arange(len(docs), dtype=np.int64)
    write(dir_, "docs", {"id": ids, "text": [" ".join(docs[i][0]) for i in order]})
    write(dir_, "doc_truth", {"id": ids, "family": np.array([docs[i][1] for i in order], dtype=np.int32),
                              "good": np.array([docs[i][2] for i in order])})

    c = rng.standard_normal((centers, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)

    def vecs(k):
        return c[rng.integers(0, centers, k)] + 0.15 * rng.standard_normal((k, dim))

    lists = pa.list_(pa.float64())
    write(dir_, "corpus", {"id": np.arange(n_vec, dtype=np.int64),
                           "vec": pa.array(list(vecs(n_vec)), type=lists)})
    write(dir_, "queries", {"id": np.arange(n_query, dtype=np.int64) + 1_000_000,
                            "vec": pa.array(list(vecs(n_query)), type=lists)})


def api_mix(dir_, rng, n=20_000, ents=250):
    hour = 3600 * 10**6
    eid = np.arange(n, dtype=np.int64)
    v = np.round(rng.random(n) * 50, 1)
    write(dir_, "events", {
        "eid": eid, "ent": (eid % ents).astype(np.int32),
        # one observation per entity and hour, so times are unique per entity
        "ts": ts((eid // ents) * hour + rng.integers(0, hour, n)),
        "attr": np.array([f"a{k}" for k in range(4)])[rng.integers(0, 4, n)],
        "v": v, "vn": pa.array(np.where(rng.random(n) < 0.3, np.nan, v), from_pandas=True),
        # skewed categories: 'x' half the time, ties are possible
        "cat": np.array(["x", "x", "y", "z"])[rng.integers(0, 4, n)]})
    span = (n // ents) * hour
    for name, idc, s, p, rows in (("ivals", "iid", "st", "sp", 4_000), ("jvals", "jid", "js", "jp", 3_000)):
        start = rng.integers(0, span // 10**6, rows) * 10**6
        dur = (rng.integers(0, 48 * 3600, rows) + 60) * 10**6
        write(dir_, name, {
            idc: np.arange(rows, dtype=np.int64), "ent": (np.arange(rows) % ents).astype(np.int32),
            s: ts(start), p: ts(start + dur), "val": np.round(rng.random(rows) * 10, 2),
            "lvl": np.array(["lo", "mid", "hi"])[rng.integers(0, 3, rows)]})
    write(dir_, "anchors", {"ent": (np.arange(2 * ents) % ents).astype(np.int32),
                            "anchor": ts(rng.integers(0, span // 10**6, 2 * ents) * 10**6)})
    write(dir_, "small_a", {"xa": np.arange(40, dtype=np.int64)})
    write(dir_, "small_b", {"xb": np.arange(25, dtype=np.int64)})


GENERATORS = {"bulk": bulk, "api_mix": api_mix}


def generate(workload, dir_, seed):
    GENERATORS[workload](dir_, np.random.default_rng(seed))


KEYED = {"bulk": [("left", "grp"), ("left_skew", "grp"), ("right", "grp"), ("doc_truth", "family")],
         "api_mix": [("events", "ent"), ("events", "cat"), ("ivals", "ent"), ("jvals", "ent")]}


def describe(workload, dir_):
    """Rows, key cardinality and the largest key's share of each keyed table."""
    out = []
    for table, key in KEYED[workload]:
        col = pq.read_table(os.path.join(dir_, table), columns=[key]).column(key).to_numpy()
        _, counts = np.unique(col, return_counts=True)
        out.append({"table": table, "key": key, "rows": int(len(col)), "keys": int(len(counts)),
                    "top_key_share": float(counts.max() / len(col))})
    return out
