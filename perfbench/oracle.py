"""Output checks, run after the program has finished (outside every timed
region): query and store digests against DuckDB over the generated files,
mining results against brute-force numpy references.

Each check returns its failures as strings (none: passed); the ingest and
mining checks also return per-layer figures they measure on the way.
"""
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq


def _open(input_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    ev = os.path.join(input_dir, "events.parquet", "*.parquet")
    con.execute(f"""CREATE TABLE r AS
        SELECT user_id AS signal_id, ts, event_id, value,
               CAST(floor(value * 100) AS BIGINT) AS value_q,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq_no
        FROM read_parquet('{ev}')""")
    con.execute(f"CREATE TABLE tags AS SELECT * FROM read_parquet('{os.path.join(input_dir, 'tags.parquet')}')")
    return con


def _query_sql(kind, p):
    seg = "CAST(floor((seq_no - 1) / 16.0) AS BIGINT)"
    per_signal = "SELECT signal_id, count(*) AS cnt, sum(value_q) AS sum_q FROM r GROUP BY signal_id"
    if kind in ("range", "buff_range"):
        return f"SELECT signal_id, seq_no FROM r WHERE value_q BETWEEN {p['lo']} AND {p['hi']}"
    if kind == "equal":
        return f"SELECT signal_id, seq_no FROM r WHERE value_q = {p['c']}"
    if kind == "agg_all":
        return """SELECT signal_id, count(*) AS cnt, min(value) AS vmin, max(value) AS vmax,
                  sum(value_q) AS sum_q, CAST(sum(value_q) AS DOUBLE) / (100.0 * count(*)) AS avg_fx
                  FROM r GROUP BY signal_id"""
    if kind == "buff_sum":
        return per_signal
    if kind == "buff_max":
        return "SELECT signal_id, seq_no, value_q FROM r WHERE value_q = (SELECT max(value_q) FROM r)"
    if kind == "zm_max":
        return "SELECT max(value) AS vmax FROM r"
    if kind == "percentile":
        ps = ", ".join(repr(float(x)) for x in p["ps"])
        return f"""WITH n AS (SELECT signal_id, count(*) AS n FROM r GROUP BY signal_id),
            idx AS (SELECT signal_id, p, (n - 1) * p AS i, floor((n - 1) * p) AS lo,
                           ceil((n - 1) * p) AS hi FROM n, (SELECT unnest([{ps}]) AS p)),
            rk AS (SELECT signal_id, value_q,
                          row_number() OVER (PARTITION BY signal_id ORDER BY value_q) - 1 AS k FROM r)
            SELECT idx.signal_id, p,
                   round((a.value_q + (b.value_q - a.value_q) * (i - lo)) / 100.0, 6) AS v
            FROM idx JOIN rk a ON a.signal_id = idx.signal_id AND a.k = idx.lo
                     JOIN rk b ON b.signal_id = idx.signal_id AND b.k = idx.hi"""
    if kind == "codec_agg_gorilla":
        return "SELECT signal_id, max(value_q) / 100.0 AS vmax FROM r GROUP BY signal_id"
    if kind == "codec_agg_sprintz":
        return "SELECT signal_id, sum(value_q) AS sum_q FROM r GROUP BY signal_id"
    if kind in ("codec_agg_fcm", "codec_agg_bp"):
        return "SELECT signal_id, sum(value_q) AS sum_q, max(value_q) AS vmax_q FROM r GROUP BY signal_id"
    if kind == "codec_decode_gorilla":
        return f"SELECT signal_id, {seg} AS seg, sum(value_q / 100.0) AS vals FROM r GROUP BY 1, 2"
    if kind.startswith("codec_decode_"):
        return f"SELECT signal_id, {seg} AS seg, CAST(sum(value_q) AS DOUBLE) AS vals FROM r GROUP BY 1, 2"
    if kind == "win_pos":
        return f"""SELECT signal_id,
                   CAST(floor((seq_no - 1 - {p['start']}) / {float(p['width'])}) AS BIGINT) AS win,
                   max(value) AS wmax, count(*) AS cnt
                   FROM r WHERE seq_no > {p['start']} AND seq_no <= {p['end']} GROUP BY 1, 2"""
    if kind == "win_argmax":
        return f"""WITH w AS (SELECT *, CAST(floor((seq_no - 1) / {float(p['width'])}) AS BIGINT) AS win FROM r),
            m AS (SELECT signal_id, win, max(value) AS wmax, count(*) AS cnt FROM w GROUP BY 1, 2)
            SELECT m.signal_id, m.win, m.wmax, min(w.seq_no) AS amax_seq, m.cnt
            FROM m JOIN w ON w.signal_id = m.signal_id AND w.win = m.win AND w.value = m.wmax
            GROUP BY m.signal_id, m.win, m.wmax, m.cnt"""
    if kind == "win_time":
        n, unit = p["width"].split()
        secs = int(n) * {"minute": 60, "minutes": 60, "hour": 3600, "hours": 3600}[unit]
        return f"""SELECT CAST(floor(epoch(ts) / {secs}) * {secs} AS BIGINT) AS wstart,
                   max(value) AS wmax, count(*) AS cnt FROM r GROUP BY 1"""
    if kind == "project":
        ids = ", ".join(str(i) for i in p["ids"])
        return f"SELECT signal_id, seq_no, value FROM r WHERE signal_id = {p['signal']} AND seq_no IN ({ids})"
    if kind == "last_tag":
        return f"""WITH l AS (SELECT signal_id, value AS last_value FROM (
                     SELECT *, row_number() OVER (PARTITION BY signal_id ORDER BY ts DESC, seq_no DESC) AS rn
                     FROM r) WHERE rn = 1)
                   SELECT l.signal_id, l.last_value, t.fleet, t.model
                   FROM l JOIN tags t ON t.signal_id = l.signal_id WHERE t.fleet = {p['fleet']}"""
    if kind == "single":
        return f"SELECT signal_id, seq_no, ts, value, value_q FROM r WHERE signal_id = {p['signal']}"
    raise KeyError(kind)


def _ingest_sql(key):
    """Expected digest of a store fold the run computed with the program's
    own fold (ZoneMap.foldTimeStats / foldHistogram)."""
    kind = key.rsplit(".", 1)[-1]
    return {
        "stats": """SELECT signal_id, epoch_us(date_trunc('day', ts)) AS day, count(*) AS cnt,
            min(value) AS vmin, max(value) AS vmax, sum(value_q) AS sum_q FROM r GROUP BY 1, 2""",
        "hist": "SELECT signal_id, value_q, count(*) AS cnt FROM r GROUP BY 1, 2",
    }.get(kind) if key.startswith("ingest.") else None


def _digest(con, sql, want):
    """The program's digest (Rec.scala Digest.of) computed in SQL."""
    rel = con.sql(sql)
    names, types = rel.columns, [str(t) for t in rel.types]
    parts = ["count(*)"]
    for name, typ in zip(names, types):
        c = f'"{name}"'
        if typ == "VARCHAR":
            e = f"CAST(length({c}) AS HUGEINT)"
        elif typ.startswith("TIMESTAMP"):
            e = f"CAST(epoch_us({c}) AS HUGEINT)"
        elif typ == "BOOLEAN":
            e = f"CAST({c} AS HUGEINT)"
        elif want["cols"].get(name, ["d"])[0] == "i":
            e = f"CAST({c} AS HUGEINT)"
        else:
            e = f"CAST({c} AS DOUBLE)"
        parts += [f"sum({e})", f"sum({e} * {e})"]
    row = con.execute(f"SELECT {', '.join(parts)} FROM ({sql})").fetchone()
    got = {"n": row[0], "cols": {}}
    for i, name in enumerate(names):
        s, q = row[1 + 2 * i], row[2 + 2 * i]
        got["cols"][name] = (s or 0, q or 0)
    return got


def _same_digest(want, got):
    if want["n"] != got["n"]:
        return f"rows {want['n']} != expected {got['n']}"
    if set(want["cols"]) != set(got["cols"]):
        return f"columns {sorted(want['cols'])} != expected {sorted(got['cols'])}"
    for name, (kind, s, q) in want["cols"].items():
        es, eq = got["cols"][name]
        if kind == "i":
            if int(s) != int(es) or int(q) != int(eq):
                return f"column {name}: sum {s} != expected {es}"
        else:
            for a, b in ((s, es), (q, eq)):
                a = 0.0 if a is None else float(a)
                if not math.isclose(a, float(b), rel_tol=1e-9, abs_tol=1e-6):
                    return f"column {name}: {a} != expected {float(b)}"
    return None


def check_digests(input_dir, plan, digests):
    """Query and store-fold digests against DuckDB: [(digest key, failure)]."""
    fails = []
    if not digests:
        return fails
    con = _open(input_dir)
    pool = {f"q{q['id']}": q for q in plan["queries"]}
    for key, want in digests.items():
        if key in pool:
            q = pool[key]
            sql = _query_sql(q["kind"], q["params"])
            label = f"{key}({q['kind']})"
        elif _ingest_sql(key):
            sql, label = _ingest_sql(key), key
        else:
            continue
        err = _same_digest(want, _digest(con, sql, want))
        if err:
            fails.append((key, f"{label}: {err}"))
    con.close()
    return fails


def _pq(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def check_ingest(input_dir, rounds, arms, digests):
    """Stores each ingest round wrote, against DuckDB over the generated
    readings; returns (failures, per-layer extras)."""
    fails, cr = [], {}
    if not rounds:
        return fails, {}
    con = _open(input_dir)
    per_signal = "SELECT signal_id, count(*) AS cnt, sum(value_q) AS sum_q FROM {} GROUP BY 1 ORDER BY 1"
    want = con.execute(per_signal.format("r")).fetchall()
    want_lossy = con.execute("""SELECT signal_id, count(*), sum(CAST(floor(value_q / 256.0) * 256 AS BIGINT))
        FROM r GROUP BY 1 ORDER BY 1""").fetchall()
    n_segments = con.execute("SELECT sum(c // 16) FROM (SELECT count(*) AS c FROM r GROUP BY signal_id)").fetchone()[0]
    seg = "CAST(floor((seq_no - 1) / 16.0) AS BIGINT)"
    for rd in rounds:
        tag = f"ingest round {rd['round']}"
        for name in ("landing", "tier0", "tier1"):
            if con.execute(per_signal.format(_pq(rd[name]))).fetchall() != want:
                fails.append(f"{tag}: {name} rows or per-signal sum_q differ from the generated readings")
        lossy = con.execute(per_signal.format(_pq(rd["tier1_lossy"]))).fetchall()
        if lossy != want_lossy:
            fails.append(f"{tag}: tier1_lossy differs from value_q with 8 low bits dropped")
        t1 = f"(SELECT signal_id, {seg} AS seg, sum(value_q) AS s, count(*) AS n FROM {_pq(rd['tier1'])} GROUP BY 1, 2)"
        for name, width in (("tier2", 4), ("tier3", 8)):
            chunks = f"""(SELECT signal_id, CAST(floor(chunk * {width} / 16.0) AS BIGINT) AS seg,
                         sum(sq) AS s, sum(cnt) AS n FROM {_pq(rd[name])} GROUP BY 1, 2)"""
            bad = con.execute(f"""SELECT count(*) FROM {chunks} c LEFT JOIN {t1} t USING (signal_id, seg)
                                  WHERE c.s IS DISTINCT FROM t.s OR c.n IS DISTINCT FROM t.n""").fetchone()[0]
            if bad:
                fails.append(f"{tag}: {bad} {name} segments whose chunk sums differ from tier1")
            key = f"ingest.r{rd['round']}.{'cold_sum' if name == 'tier2' else 'tier3_sum'}"
            if key in digests:
                sql = f"""SELECT t.signal_id, sum(t.s) AS sum_q, sum(t.n) AS cnt,
                          round(CAST(sum(t.s) AS DOUBLE) / (100.0 * sum(t.n)), 6) AS avg_v
                          FROM {t1} t SEMI JOIN {chunks} c USING (signal_id, seg) GROUP BY 1"""
                err = _same_digest(digests[key], _digest(con, sql, digests[key]))
                if err:
                    fails.append(f"{key}: {err}")
        arm_list = ", ".join(f"'{a}'" for a in arms)
        n, distinct, bad_arm = con.execute(f"""SELECT count(*), count(DISTINCT (signal_id, seg)),
            count(*) FILTER (WHERE codec NOT IN ({arm_list})) FROM {_pq(rd['decisions'])}""").fetchone()
        if n != n_segments or distinct != n or bad_arm:
            fails.append(f"{tag}: {n} decisions ({distinct} distinct, {bad_arm} unknown arms) for {n_segments} sealed segments")
        points = con.execute(f"SELECT sum(len(qvals)) FROM {_pq(rd['segs'])}").fetchone()[0]
        for key in rd:
            if key.startswith("codec_"):
                b = con.execute(f"SELECT sum(octet_length(enc)) FROM {_pq(rd[key])}").fetchone()[0]
                cr.setdefault(f"codec.{key[6:]}.cr", []).append(b / (8.0 * points))
        cr.setdefault("streaming.segments_sealed", []).append(float(n))
    con.close()
    return fails, {k: float(np.median(v)) for k, v in cr.items()}


# ---- mining: brute-force references over the generated data ----

def _segments(input_dir, signals, seg_rows=16, max_seq=None):
    t = pq.read_table(os.path.join(input_dir, "events.parquet")).to_pandas()
    t = t[t.user_id.isin(signals)].sort_values(["user_id", "ts", "event_id"])
    out = {}
    for sig, g in t.groupby("user_id"):
        v = g.value.to_numpy()
        if max_seq is not None:
            v = v[:max_seq]
        q = np.floor(v * 100.0).astype(np.int64)
        m = len(v) // seg_rows
        for s in range(m):
            out[(int(sig), s)] = (v[s * seg_rows:(s + 1) * seg_rows], q[s * seg_rows:(s + 1) * seg_rows])
    return out


def _rows(dump):
    cols = dump["cols"]
    return [dict(zip(cols, r)) for r in dump["rows"]]


def _dtw(a, bs, band):
    """Banded DTW with L1 local cost of `a` against every row of `bs`."""
    n = len(a)
    inf = np.iinfo(np.int64).max // 4
    d = np.full((len(bs), n + 1, n + 1), inf, dtype=np.int64)
    d[:, 0, 0] = 0
    for i in range(1, n + 1):
        for j in range(max(1, i - band), min(n, i + band) + 1):
            d[:, i, j] = np.abs(a[i - 1] - bs[:, j - 1]) + np.minimum(
                np.minimum(d[:, i - 1, j], d[:, i, j - 1]), d[:, i - 1, j - 1])
    return d[:, n, n]


def _profile(segs):
    """Exact squared-L2 nearest-neighbour distance per segment, per signal."""
    by_sig = {}
    for (sig, s), (_, q) in segs.items():
        by_sig.setdefault(sig, {})[s] = q
    nnd = {}
    for sig, d in by_sig.items():
        keys = sorted(d)
        if len(keys) < 2:
            continue
        m = np.stack([d[k] for k in keys]).astype(np.int64)
        dist = ((m[:, None, :] - m[None, :, :]) ** 2).sum(axis=2)
        np.fill_diagonal(dist, np.iinfo(np.int64).max)
        for i, k in enumerate(keys):
            nnd[(sig, k)] = int(dist[i].min())
    return nnd


def check_mining(input_dir, plan, dumps):
    fails, extra = [], {}
    if not dumps:
        return fails, extra
    m = plan["mining"]
    segs = _segments(input_dir, m["signals"])
    test = set(m["test_signals"])
    train = [(k, v) for k, v in segs.items() if k[0] not in test]

    if "m.knn" in dumps:
        for r in _rows(dumps["m.knn"]):
            tv = segs[(r["test_sig"], r["test_seg"])][0]
            best = min((round(math.sqrt(float(((tv - v[0]) ** 2).sum())), 6), k[0], k[1]) for k, v in train)
            if r["pred_sig"] != best[1] or abs(r["dist"] - best[0]) > 1e-6:
                fails.append(f"knn {r['test_sig']}/{r['test_seg']}: got {r['pred_sig']} at {r['dist']}, expected {best}")
                break
    if "m.dtw" in dumps:
        keys = [k for k, _ in train]
        bs = np.stack([v[1] for _, v in train]).astype(np.int64)
        for r in _rows(dumps["m.dtw"]):
            tq = segs[(r["test_sig"], r["test_seg"])][1].astype(np.int64)
            dist = _dtw(tq, bs, m["dtw_band"])
            best = min((int(dv), k[0], k[1]) for dv, k in zip(dist, keys))
            if r["pred_sig"] != best[1] or r["dist_q"] != best[0]:
                fails.append(f"dtw {r['test_sig']}/{r['test_seg']}: got {r['pred_sig']} at {r['dist_q']}, expected {best}")
                break
    nnd = _profile(segs)
    for key in ("m.profile", "m.discord"):
        if key not in dumps:
            continue
        rows = _rows(dumps[key])
        for r in rows:
            if r.get("exact", True) and nnd.get((r["signal_id"], r["seg"])) != r["nnd_q"]:
                fails.append(f"{key} {r['signal_id']}/{r['seg']}: nnd {r['nnd_q']} != {nnd.get((r['signal_id'], r['seg']))}")
                break
        if key == "m.profile" and len(rows) != len(nnd):
            fails.append(f"profile rows {len(rows)} != segments {len(nnd)}")
        if key == "m.discord":
            k = m["discord_k"]
            for sig in m["signals"]:
                want = sorted(((-v, s) for (g, s), v in nnd.items() if g == sig))[:k]
                got = sorted((-r["nnd_q"], r["seg"]) for r in rows if r["signal_id"] == sig)
                if want != got:
                    fails.append(f"discord signal {sig}: {got} != {want}")
                    break
    if "m.profile_stream" in dumps:
        n_sig = plan["sizes"]["signals"]
        per_file = plan["sizes"]["points_per_signal"] // plan["sizes"]["files"]
        sp = _segments(input_dir, list(range(n_sig)), max_seq=per_file * m["profile_stream_files"])
        want = _profile(sp)
        rows = _rows(dumps["m.profile_stream"])
        bad = [r for r in rows if r.get("exact", True) and want.get((r["signal_id"], r["seg"])) != r["nnd_q"]]
        if bad or len(rows) != len(want):
            fails.append(f"profile_stream: {len(bad)} wrong rows, {len(rows)} rows for {len(want)} segments")
    if "m.dbscan" in dumps:
        rows = {r["id"]: r["cluster"] for r in _rows(dumps["m.dbscan"])}
        per = plan["sizes"]["dbscan_points_per_blob"]
        majors = []
        for b in range(plan["dbscan_blobs"]):
            labels = [rows.get(i) for i in range(b * per, (b + 1) * per)]
            major = max(set(labels), key=labels.count)
            if major == -1 or labels.count(major) < 0.95 * per:
                fails.append(f"dbscan blob {b}: majority cluster {major} covers {labels.count(major)}/{per}")
            majors.append(major)
        if len(set(majors)) != len(majors):
            fails.append(f"dbscan merged blobs: {majors}")
    if "m.cc" in dumps:
        comp = {r["doc_id"]: r["component"] for r in _rows(dumps["m.cc"])}
        fam_of = {d: i for i, fam in enumerate(plan["families"]) for d in fam}
        for i, fam in enumerate(plan["families"]):
            cs = {comp.get(d) for d in fam}
            if len(cs) != 1 or None in cs:
                fails.append(f"dedup family {i} (size {len(fam)}) split over components {sorted(map(str, cs))}")
        members = {}
        for d, c in comp.items():
            members.setdefault(c, set()).add(fam_of.get(d, -1 - d))
        merged = [c for c, fs in members.items() if len(fs) > 1]
        if merged:
            fails.append(f"dedup merged distinct families in {len(merged)} components")
    if "m.ivf_probe" in dumps:
        t = pq.read_table(os.path.join(input_dir, "embeddings.parquet"))
        vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float32).astype(np.float64)
        norms = np.sqrt((vecs * vecs).sum(axis=1))
        k = m["ivf_k"]
        got = {}
        for r in _rows(dumps["m.ivf_probe"]):
            got.setdefault(r["probe_id"], set()).add(r["cand_id"])
        recalls = []
        for p in m["probes"]:
            sims = np.round(vecs @ vecs[p] / (norms * norms[p]), 6)
            sims[p] = -np.inf
            order = sorted(range(len(sims)), key=lambda i: (-sims[i], i))[:k]
            recalls.append(len(got.get(p, set()) & set(order)) / k)
        recall = float(np.mean(recalls))
        extra["mining.ivf_recall"] = recall
        if recall < m["ivf_recall_floor"]:
            fails.append(f"ivf recall@{k} {recall:.3f} below floor {m['ivf_recall_floor']}")
    return fails, extra
