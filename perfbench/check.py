"""Correctness checker: each call's result, as perfbench.Main wrote it, against
DuckDB SQL over the same generated input files (row count plus an
order-independent digest), or against the planted truth and an exact
brute-force top-10 for the curation workload.

Floats are compared rounded to 6 decimals; a digest mismatch falls back to
a sorted row-by-row comparison with a 1e-6 tolerance, so summation-order
noise that straddles a rounding boundary is not reported as wrong.
"""
import os

import duckdb
import numpy as np

# Mirrors ApiMixW.Agg in Workloads.scala.
API_AGG = {"a0": ["mean", "count", "std"], "a1": ["min", "max"]}

DEDUP_RECALL_MIN = 0.95
ANN_RECALL10_MIN = 0.85


def connect():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET TimeZone = 'UTC'")
    return con


def view(con, name, path):
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{os.path.join(path, '*.parquet')}')")


def norm_exprs(con, sql):
    """Per column, a normalized expression: integers and booleans as BIGINT,
    floats rounded to 6 decimals, times as epoch microseconds."""
    out = []
    for name, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall():
        q = f'"{name}"'
        t = typ.upper()
        if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
            out.append(f"round(CAST({q} AS DOUBLE), 6) + 0.0")
        elif t.startswith("TIMESTAMP") or t == "DATE":
            out.append(f"epoch_us(CAST({q} AS TIMESTAMP))")
        elif "INT" in t or t == "BOOLEAN":
            out.append(f"CAST({q} AS BIGINT)")
        else:
            out.append(q)
    return out


def digest(con, sql):
    cols = norm_exprs(con, sql)
    return con.execute(f"SELECT count(*), sum(hash({', '.join(cols)})::HUGEINT) "
                       f"FROM ({sql})").fetchone()


def rows_close(con, got_sql, want_sql):
    """Sorted row-by-row comparison with a tolerance on floats."""
    def fetch(sql):
        cols = norm_exprs(con, sql)
        keys = ", ".join(f"round(CAST(c{i} AS DOUBLE), 3)" if "round(" in c else f"c{i}"
                         for i, c in enumerate(cols))
        sel = ", ".join(f"{c} AS c{i}" for i, c in enumerate(cols))
        return con.execute(f"SELECT * FROM (SELECT {sel} FROM ({sql})) ORDER BY {keys}").fetchall()
    a, b = fetch(got_sql), fetch(want_sql)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif abs(x - y) > 1e-6 * max(1.0, abs(x), abs(y)):
                    return False
            elif x != y:
                return False
    return True


def compare(con, label, got_sql, want_sql):
    try:
        g, w = digest(con, got_sql), digest(con, want_sql)
    except duckdb.Error as e:
        return [f"{label}: check query failed: {e}"]
    if g == w:
        return []
    if g[0] == w[0] and rows_close(con, got_sql, want_sql):
        return []
    return [f"{label}: {g[0]} rows, digest {g[1]} vs DuckDB {w[0]} rows, digest {w[1]}"]


# ── SQL builders ─────────────────────────────────────────────────────────

def eav_sql(obs, windows, agg, val):
    """resample_eav over [start, stop) `windows` (ent, win_start, win_stop)."""
    fn = {"count": "COUNT", "mean": "AVG", "std": "STDDEV_SAMP", "min": "MIN", "max": "MAX"}
    sel = ", ".join(f'{fn[g]}(CASE WHEN o.attr = \'{a}\' THEN o.{val} END) AS "{a}_{g}"'
                    for a, aggs in agg.items() for g in aggs)
    return f"""WITH w AS (SELECT ROW_NUMBER() OVER () AS wid, * FROM ({windows}))
      SELECT w.ent, w.win_start, w.win_stop, {sel}
      FROM w LEFT JOIN {obs} o ON o.ent = w.ent AND o.ts >= w.win_start AND o.ts < w.win_stop
      GROUP BY w.wid, w.ent, w.win_start, w.win_stop"""


def interval_sql(ivals, windows, start, stop, attr, attrs):
    """resample_interval: closed intervals and windows, value weighted by
    the overlapping fraction of each interval, 0 for no overlap."""
    frac = (f"(epoch_us(LEAST(i.{stop}, w.win_stop)) - epoch_us(GREATEST(i.{start}, w.win_start)))"
            f" / (epoch_us(i.{stop}) - epoch_us(i.{start}))")
    sel = ", ".join(f"COALESCE(SUM(CASE WHEN i.{attr} = '{a}' THEN i.val * {frac} END), 0.0) AS \"{a}\""
                    for a in attrs)
    return f"""WITH w AS (SELECT ROW_NUMBER() OVER () AS wid, * FROM ({windows}))
      SELECT w.ent, w.win_start, w.win_stop, {sel}
      FROM w LEFT JOIN {ivals} i ON i.ent = w.ent AND i.{start} <= w.win_stop AND w.win_start <= i.{stop}
      GROUP BY w.wid, w.ent, w.win_start, w.win_stop"""


COMBINE_UNION = """WITH ev AS (SELECT ent AS g, st AS t, 1 AS d FROM ivals
                 UNION ALL SELECT ent, sp, -1 FROM ivals),
      a AS (SELECT g, t, SUM(d) AS d FROM ev GROUP BY g, t),
      dep AS (SELECT g, t, SUM(d) OVER (PARTITION BY g ORDER BY t ROWS UNBOUNDED PRECEDING) AS depth,
                LEAD(t) OVER (PARTITION BY g ORDER BY t) AS nt FROM a),
      f AS (SELECT *, (depth >= 1 AND nt IS NOT NULL) AS flag FROM dep),
      f2 AS (SELECT *, COALESCE(LAG(flag) OVER (PARTITION BY g ORDER BY t), FALSE) AS pflag FROM f),
      sg AS (SELECT *, SUM(CASE WHEN flag AND NOT pflag THEN 1 ELSE 0 END)
               OVER (PARTITION BY g ORDER BY t ROWS UNBOUNDED PRECEDING) AS seg FROM f2)
      SELECT g AS ent, MIN(t) AS st, MAX(nt) AS sp FROM sg WHERE flag
      GROUP BY g, seg HAVING MIN(t) < MAX(nt)"""


IMPUTE_CTE = """WITH r AS (SELECT eid, ent, ts, vn,
        ROW_NUMBER() OVER (PARTITION BY ent ORDER BY ts, eid) AS rn FROM events),
    f AS (SELECT *,
        LAST_VALUE(vn IGNORE NULLS) OVER (PARTITION BY ent ORDER BY rn ROWS UNBOUNDED PRECEDING) AS pv,
        MAX(CASE WHEN vn IS NOT NULL THEN rn END) OVER (PARTITION BY ent ORDER BY rn
          ROWS UNBOUNDED PRECEDING) AS prn
      FROM r)"""

MATCH = "i.ent = j.ent AND i.st <= j.jp AND j.js <= i.sp"


def oracles(workload):
    """call -> (columns compared on the call's result, DuckDB SQL)."""
    if workload == "bulk":
        def join(left, cond, cols):
            return (f"SELECT l.grp AS grp_x, l.ls, l.le, r.grp AS grp_y, {cols} "
                    f"FROM {left} l JOIN t_right r ON l.grp = r.grp AND {cond}")
        return {
            "contain": ("grp_x, ls, le, grp_y, rp", join("t_left", "r.rp >= l.ls AND r.rp <= l.le", "r.rp")),
            "overlap": ("grp_x, ls, le, grp_y, rp, re",
                        join("t_left", "l.ls <= r.re AND r.rp <= l.le", "r.rp, r.re")),
            "overlap_skew": ("grp_x, ls, le, grp_y, rp, re",
                             join("t_left_skew", "l.ls <= r.re AND r.rp <= l.le", "r.rp, r.re")),
        }
    if workload == "api_mix":
        win = ("SELECT ent, anchor - INTERVAL 3 DAY AS win_start, "
               "anchor + INTERVAL 1 DAY AS win_stop FROM anchors")
        m = f"SELECT i.iid, j.jid FROM ivals i JOIN jvals j ON {MATCH}"
        aggs = ", ".join(f'"{a}_{g}"' for a, gs in API_AGG.items() for g in gs)
        pw = "PARTITION BY ent ORDER BY ts, eid"
        mode = """SELECT ent, cat AS mode, n AS count FROM (SELECT ent, cat, n, ROW_NUMBER() OVER
                    (PARTITION BY ent ORDER BY n DESC, cat ASC) AS rk FROM
                    (SELECT ent, cat, COUNT(*) AS n FROM events GROUP BY ent, cat)) WHERE rk = 1"""
        return {
            "make_windows": ("ent, win_start, win_stop", win),
            "merge_left_first": ("iid, jid", f"""SELECT i.iid, f.jid FROM ivals i LEFT JOIN
                                   (SELECT iid, MIN(jid) AS jid FROM ({m}) GROUP BY iid) f USING (iid)"""),
            "find_containing": ("eid, ts_first, ts_last", """SELECT e.eid,
                                  COALESCE(MIN(i.iid), -1) AS ts_first, COALESCE(MAX(i.iid), -1) AS ts_last
                                  FROM events e LEFT JOIN ivals i ON e.ent = i.ent AND e.ts >= i.st
                                  AND e.ts <= i.sp GROUP BY e.eid"""),
            "cross_join": ("xa, xb", "SELECT a.xa, b.xb FROM small_a a CROSS JOIN small_b b"),
            "combine_union": ("ent, st, sp", COMBINE_UNION),
            "group_intervals": ("iid, interval_group", """WITH c AS (SELECT iid, ent, st, MAX(sp) OVER
                                  (PARTITION BY ent ORDER BY st, iid ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS cm FROM ivals)
                                  SELECT iid, SUM(CASE WHEN cm IS NULL OR st > cm + INTERVAL 1 HOUR
                                  THEN 1 ELSE 0 END) OVER (ORDER BY ent, st, iid ROWS UNBOUNDED
                                  PRECEDING) - 1 AS interval_group FROM c"""),
            "prev_next": ("eid, prev_v, next_v, is_first, is_last",
                          f"""SELECT eid, LAG(v) OVER ({pw}) AS prev_v, LEAD(v) OVER ({pw}) AS next_v,
                                ROW_NUMBER() OVER ({pw}) = 1 AS is_first,
                                ROW_NUMBER() OVER (PARTITION BY ent ORDER BY ts DESC, eid DESC) = 1
                                AS is_last FROM events"""),
            "impute_ffill": ("eid, vn", IMPUTE_CTE + """ SELECT eid, CASE WHEN vn IS NOT NULL THEN vn
                               WHEN rn - prn <= 2 THEN pv END AS vn FROM f"""),
            "grouped_mode": ("ent, mode, count", mode),
            "factorize": ("eid, code", "SELECT eid, DENSE_RANK() OVER (ORDER BY cat, attr) - 1 AS code FROM events"),
            "resample_eav": (f"ent, win_start, win_stop, {aggs}",
                             eav_sql("events", win, API_AGG, "v")),
            "resample_interval": ("ent, win_start, win_stop, lo, mid, hi",
                                  interval_sql("ivals", win, "st", "sp", "lvl", ["lo", "mid", "hi"])),
            "partition_series": ("ent, partition_id", """WITH s AS (SELECT ent, COUNT(*) AS n FROM events
                                   GROUP BY ent), c AS (SELECT ent, SUM(LEAST(n, 1000)) OVER
                                   (ORDER BY ent ROWS UNBOUNDED PRECEDING) AS cum FROM s)
                                   SELECT ent, CAST(FLOOR((cum - 1) / 1000.0) AS BIGINT) AS partition_id
                                   FROM c"""),
        }
    raise KeyError(workload)


# ── curation: planted truth and brute-force neighbours ──────────────────

CURATION_CALLS = {"quality", "exact_dedup", "minhash", "clusters", "ivf_fit", "ivf_search"}


def check_curation(con, inputs, results):
    """Planted quality failures and duplicate families, exact top-10."""
    problems, stats = [], {}
    truth = con.execute(f"SELECT id, family, good FROM read_parquet('{inputs}/doc_truth/*.parquet')").fetchall()
    fam = {i: f for i, f, _ in truth}
    good = {i for i, _, g in truth if g}
    kept = {r[0] for r in con.execute(f"SELECT id FROM read_parquet('{results}/quality/*.parquet')").fetchall()}
    if kept != good:
        problems.append(f"quality: kept {len(kept)} docs, planted good {len(good)}, "
                        f"{len(kept ^ good)} differ")
    view(con, "r_exact", os.path.join(results, "exact_dedup"))
    problems += compare(con, "exact_dedup", "SELECT text, canonical_id, dup_count FROM r_exact",
                        """SELECT text, MIN(d.id) AS canonical_id, COUNT(*) AS dup_count
                           FROM t_docs d JOIN t_doc_truth t USING (id) WHERE t.good GROUP BY text""")
    pairs = con.execute(f"SELECT id_l, id_r, jaccard FROM read_parquet('{results}/minhash/*.parquet')").fetchall()
    bad = [(a, b) for a, b, j in pairs if fam.get(a, -1) < 0 or fam.get(a) != fam.get(b) or j < 0.5]
    if bad:
        problems.append(f"minhash: {len(bad)} pairs outside a planted family, e.g. {bad[:3]}")
    clus = con.execute(f"SELECT id, cluster_id FROM read_parquet('{results}/clusters/*.parquet')").fetchall()
    cid = dict(clus)
    if len(cid) != len(clus) or set(cid) != good:
        problems.append(f"clusters: {len(clus)} rows for {len(good)} good docs")
    members = {}
    for i, c in cid.items():
        members.setdefault(c, []).append(i)
    mixed = [c for c, ms in members.items() if len(ms) > 1 and len({fam[m] for m in ms}) > 1]
    mixed += [c for c, ms in members.items() if len(ms) > 1 and fam[ms[0]] < 0]
    if mixed:
        problems.append(f"clusters: {len(mixed)} clusters mix planted families")
    families = {}
    for i in good:
        if fam[i] >= 0:
            families.setdefault(fam[i], []).append(i)
    planted = found = 0
    for ms in families.values():
        for x in range(len(ms)):
            for y in range(x + 1, len(ms)):
                planted += 1
                found += cid.get(ms[x]) is not None and cid.get(ms[x]) == cid.get(ms[y])
    stats["dedup_recall"] = found / planted if planted else 1.0
    if stats["dedup_recall"] < DEDUP_RECALL_MIN:
        problems.append(f"clusters: dedup recall {stats['dedup_recall']:.3f} < {DEDUP_RECALL_MIN}")

    cells = con.execute(f"SELECT count(*) FROM read_parquet('{results}/ivf_fit/*.parquet')").fetchone()[0]
    if cells != 64:
        problems.append(f"ivf_fit: {cells} cells, expected 64")
    corpus = con.execute(f"SELECT id, vec FROM read_parquet('{inputs}/corpus/*.parquet') ORDER BY id").fetchall()
    queries = con.execute(f"SELECT id, vec FROM read_parquet('{inputs}/queries/*.parquet') ORDER BY id").fetchall()
    cids = np.array([c[0] for c in corpus])
    cm = np.array([c[1] for c in corpus], dtype=np.float64)
    qm = np.array([q[1] for q in queries], dtype=np.float64)
    cos = (qm @ cm.T) / np.outer(np.linalg.norm(qm, axis=1), np.linalg.norm(cm, axis=1))
    got = {}
    for q, n, c, r in con.execute(f"SELECT query_id, neighbor_id, cosine, rank "
                                  f"FROM read_parquet('{results}/ivf_search/*.parquet')").fetchall():
        got.setdefault(q, []).append((r, n, c))
    pos = {int(i): k for k, i in enumerate(cids)}
    hits, wrong = 0, 0
    for qi, (qid, _) in enumerate(queries):
        order = np.lexsort((cids, -cos[qi]))[:10]
        exact = {int(cids[k]) for k in order}
        rows = sorted(got.get(qid, []))
        if [r for r, _, _ in rows] != list(range(1, len(rows) + 1)) or len(rows) > 10:
            wrong += 1
        for k, (_, n, c) in enumerate(rows):
            if abs(cos[qi, pos[n]] - c) > 1e-9 or (k and c > rows[k - 1][2] + 1e-12):
                wrong += 1
        hits += len(exact & {n for _, n, _ in rows})
    stats["ann_recall10"] = hits / (10 * len(queries))
    if wrong:
        problems.append(f"ivf_search: {wrong} result rows with a wrong cosine or rank")
    if stats["ann_recall10"] < ANN_RECALL10_MIN:
        problems.append(f"ivf_search: recall@10 {stats['ann_recall10']:.3f} < {ANN_RECALL10_MIN}")
    return problems, stats


def run(workload, inputs, results, rows):
    """Returns (problems, quality figures) for the calls in `rows` (call ->
    result rows, -1 for a call that failed)."""
    con = connect()
    for t in sorted(os.listdir(inputs)):
        view(con, t if workload == "api_mix" else f"t_{t}", os.path.join(inputs, t))
    problems, quality = [], {}
    ors = oracles(workload)
    if workload == "bulk":
        try:
            p, quality = check_curation(con, inputs, results)
            problems += p
        except (duckdb.Error, KeyError) as e:
            problems.append(f"curation check failed: {type(e).__name__}: {e}")
    problems += [f"{c}: no check" for c in sorted(set(rows) - set(ors) - CURATION_CALLS)]
    for call, (cols, sql) in ors.items():
        if rows.get(call, -1) < 0:
            continue
        try:
            view(con, f"r_{call}", os.path.join(results, call))
        except duckdb.Error as e:
            problems.append(f"{call}: {e}")
            continue
        problems += compare(con, call, f"SELECT {cols} FROM r_{call}", sql)
    con.close()
    return problems, quality
