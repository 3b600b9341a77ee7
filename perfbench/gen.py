"""Seeded input generator for the benchmark.

Everything the program sees is written here from one seed: signal readings
in the `events` schema (`events.parquet/`, the directory `Tables.events`
reads; one parquet file per landing micro-batch), a
signal->fleet tag table, a document corpus with planted near-duplicate
families, clustered embeddings, 2-d points for DBSCAN, and `plan.json`
(the query pool, the seeded query sequence and the mining parameters).
The checker (oracle.py) reads the same files; the program never sees the
planted labels.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Every input size. README.md quotes these; change both together.
SIZES = {
    "signals": 8,               # readings signals
    "points_per_signal": 4096,  # 256 complete 16-row segments per signal
    "files": 4,                 # landing micro-batches per ingest round
    "near_constant_share": 0.125,
    "gap_share": 0.01,          # share of steps followed by a timestamp gap
    "fleets": 3,
    "mining_signals": 4,        # signals whose segments feed the series jobs
    "knn_test_signals": 1,
    "profile_stream_files": 1,  # files the streaming profile consumes
    "docs": 1200,
    "doc_words": 100,
    "vocab": 4000,
    "dup_families": 24,         # planted families of 2..6 docs
    "star_leaves": 24,          # one star-shaped family: a hub + leaves
    "vectors": 2400,
    "vector_dim": 32,
    "vector_clusters": 12,
    "ivf_cells": 12,
    "ivf_probes": 32,
    "dbscan_blobs": 5,
    "dbscan_points_per_blob": 150,
    "dbscan_noise": 20,
}
SEG_ROWS = 16
T0_US = 1704153000 * 1_000_000  # 2024-01-01 23:50:00 UTC: spans cross midnight


def _signals(rng, sizes):
    s, n = sizes["signals"], sizes["points_per_signal"]
    # per-signal level and step from the seed: a signal's own value range
    # needs 1 to 3 byte planes; the store-wide range always needs 3, so
    # the BUFF plane count (and the work of every plane query) is the same
    # for every seed
    levels = rng.uniform(0.0, 4000.0, s)
    levels[0], levels[1] = -500.0, 4500.0
    steps = 10 ** rng.uniform(-2.0, 0.7, s)
    near_const = rng.random(s) < sizes["near_constant_share"]
    steps[near_const] = 0.002
    walk = np.cumsum(rng.normal(0.0, 1.0, (s, n)) * steps[:, None], axis=1)
    values = np.round(levels[:, None] + walk, 2)
    # 1 s cadence with a seeded share of gaps (1 min .. 2 h)
    dt = np.ones((s, n), dtype=np.int64)
    gaps = rng.random((s, n)) < sizes["gap_share"]
    dt[gaps] += rng.integers(60, 7200, gaps.sum())
    dt[:, 0] = rng.integers(0, 600, s)
    ts = T0_US + np.cumsum(dt, axis=1) * 1_000_000
    return values, ts


def _write_events(out, values, ts, sizes):
    s, n = values.shape
    f = sizes["files"]
    per = n // f
    d = os.path.join(out, "events.parquet")
    os.makedirs(d)
    sig = np.repeat(np.arange(s, dtype=np.int64)[:, None], n, axis=1)
    idx = np.repeat(np.arange(n, dtype=np.int64)[None, :], s, axis=0)
    event_id = idx * s + sig
    for k in range(f):
        sl = slice(k * per, (k + 1) * per)
        rows = s * per
        t = pa.table({
            "event_id": pa.array(event_id[:, sl].ravel()),
            "ts": pa.array(ts[:, sl].ravel(), type=pa.timestamp("us")),
            "user_id": pa.array(sig[:, sl].ravel()),
            "event_type": pa.array(["reading"] * rows),
            "value": pa.array(values[:, sl].ravel()),
            "props": pa.array(["{}"] * rows),
        })
        p = os.path.join(d, f"part-{k:05d}.parquet")
        pq.write_table(t, p)
        # the file stream source orders files by modification time
        os.utime(p, ns=(1_700_000_000_000_000_000 + k * 10**9,) * 2)


def _documents(rng, sizes):
    vocab = [f"w{i}" for i in range(sizes["vocab"])]
    zipf = 1.0 / np.arange(1, sizes["vocab"] + 1) ** 0.8
    zipf /= zipf.sum()
    nwords = sizes["doc_words"]

    def fresh():
        return list(rng.choice(vocab, nwords, p=zipf))

    def mutate(words, k):
        w = list(words)
        for pos in rng.choice(nwords, k, replace=False):
            w[pos] = f"x{rng.integers(0, 10**9)}"
        return w

    docs, families = [], []
    for _ in range(sizes["dup_families"]):
        base = fresh()
        fam = [len(docs)]
        docs.append(base)
        for _ in range(int(rng.integers(1, 6))):
            fam.append(len(docs))
            docs.append(mutate(base, 1))
        families.append(fam)
    hub = fresh()
    star = [len(docs)]
    docs.append(hub)
    for _ in range(sizes["star_leaves"]):
        star.append(len(docs))
        docs.append(mutate(hub, 1))
    families.append(star)
    while len(docs) < sizes["docs"]:
        docs.append(fresh())
    order = rng.permutation(len(docs))  # doc ids are shuffled positions
    ids = np.empty(len(docs), dtype=np.int64)
    ids[order] = np.arange(len(docs))
    text = [None] * len(docs)
    for i, w in enumerate(docs):
        text[ids[i]] = " ".join(w)
    fams = [sorted(int(ids[i]) for i in fam) for fam in families]
    return text, fams


def _embeddings(rng, sizes):
    c, d, n = sizes["vector_clusters"], sizes["vector_dim"], sizes["vectors"]
    centers = rng.normal(0.0, 1.0, (c, d))
    label = rng.integers(0, c, n)
    vecs = (centers[label] + 0.25 * rng.normal(0.0, 1.0, (n, d))).astype(np.float32)
    return vecs


def _points(rng, sizes):
    b, per = sizes["dbscan_blobs"], sizes["dbscan_points_per_blob"]
    centers = np.stack([np.arange(b) * 10.0, rng.uniform(0, 10, b)], axis=1)
    pts = np.concatenate([centers[i] + rng.normal(0, 0.4, (per, 2)) for i in range(b)])
    noise = np.stack([rng.uniform(-5, b * 10 + 5, sizes["dbscan_noise"]),
                      rng.uniform(30, 40, sizes["dbscan_noise"])], axis=1)
    return np.round(np.concatenate([pts, noise]), 4)


def _query_pool(rng, values, sizes):
    """Seeded query pool: constants and selectivities come from the seed."""
    s, n = values.shape
    vq = np.floor(values * 100.0).astype(np.int64).ravel()
    svq = np.sort(vq)
    pool = []

    def add(family, kind, **params):
        pool.append({"id": len(pool), "family": family, "kind": kind, "params": params})

    for sel in (0.0001, 0.01, 0.1, 0.5):
        width = max(1, int(sel * len(svq)))
        start = int(rng.integers(0, len(svq) - width))
        lo, hi = int(svq[start]), int(svq[start + width - 1])
        add("filter", "range", lo=lo, hi=hi, sel=sel)
        add("filter", "buff_range", lo=lo, hi=hi, sel=sel)
    add("filter", "equal", c=int(vq[rng.integers(0, len(vq))]))
    for kind in ("agg_all", "buff_sum", "buff_max", "zm_max", "codec_agg_gorilla",
                 "codec_agg_sprintz", "codec_agg_fcm", "codec_agg_bp", "codec_decode_gorilla",
                 "codec_decode_sprintz", "codec_decode_fcm", "codec_decode_bp"):
        add("agg", kind)
    # widths and set sizes are fixed so the work per query does not
    # depend on the seed; positions and constants do
    add("agg", "percentile", ps=[0.01, 0.5, 0.99])
    start = int(rng.integers(0, n // 2))
    add("window", "win_pos", start=start, end=start + n // 4, width=64)
    add("window", "win_argmax", width=32)
    add("window", "win_time", width="10 minutes")
    for ratio in (0.001, 0.05):
        sig = int(rng.integers(0, s))
        k = max(1, int(ratio * n))
        ids = sorted(int(x) for x in rng.choice(np.arange(1, n + 1), k, replace=False))
        add("lookup", "project", signal=sig, ids=ids)
    add("lookup", "last_tag", fleet=int(rng.integers(0, sizes["fleets"])))
    add("lookup", "single", signal=int(rng.integers(0, s)))
    # one pass = every query of the pool once, families interleaved in a
    # seeded order; the closed loop repeats passes
    seq = [int(i) for i in rng.permutation(len(pool))]
    return pool, seq


def generate(out, seed, mining=True):
    """Write every input for `seed` under `out`. The corpus, vectors and
    points only the mining jobs read are written when `mining` is set;
    each input family draws from its own stream of the seed, so the other
    inputs are the same either way.
    """
    sizes = SIZES
    sig_rng, query_rng, mining_rng = (np.random.default_rng(s)
                                      for s in np.random.SeedSequence(seed).spawn(3))
    os.makedirs(out)
    values, ts = _signals(sig_rng, sizes)
    _write_events(out, values, ts, sizes)
    s = sizes["signals"]
    fleet = sig_rng.integers(0, sizes["fleets"], s)
    pq.write_table(pa.table({
        "signal_id": pa.array(np.arange(s, dtype=np.int64)),
        "fleet": pa.array(fleet.astype(np.int64)),
        "model": pa.array([f"m{int(x)}" for x in sig_rng.integers(0, 4, s)]),
    }), os.path.join(out, "tags.parquet"))
    pool, seq = _query_pool(query_rng, values, sizes)
    rng = mining_rng
    mining_signals = sorted(int(x) for x in rng.choice(s, sizes["mining_signals"], replace=False))
    plan = {
        "seed": seed,
        "sizes": sizes,
        "seg_rows": SEG_ROWS,
        "queries": pool,
        "sequence": seq,
        "mining": {
            "signals": mining_signals,
            "test_signals": mining_signals[: sizes["knn_test_signals"]],
            "dtw_band": 2,
            "discord_k": 3,
            "profile_stream_files": sizes["profile_stream_files"],
            "dbscan_eps": 1.0,
            "dbscan_min_pts": 5,
            "dedup_threshold": 0.9,
            "ivf_cells": sizes["ivf_cells"],
            "ivf_nprobe": 3,
            "ivf_k": 10,
            "ivf_recall_floor": 0.9,
            "ivf_centroids": sorted(int(x) for x in
                                    rng.choice(sizes["vectors"], sizes["ivf_cells"], replace=False)),
            "probes": sorted(int(x) for x in
                             rng.choice(sizes["vectors"], sizes["ivf_probes"], replace=False)),
        },
        "dbscan_blobs": sizes["dbscan_blobs"],
    }
    if mining:
        text, plan["families"] = _documents(rng, sizes)
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(len(text), dtype=np.int64)),
            "text": pa.array(text),
        }), os.path.join(out, "documents.parquet"))
        vecs = _embeddings(rng, sizes)
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        }), os.path.join(out, "embeddings.parquet"))
        pts = _points(rng, sizes)
        pq.write_table(pa.table({
            "id": pa.array(np.arange(len(pts), dtype=np.int64)),
            "x": pa.array(pts[:, 0]), "y": pa.array(pts[:, 1]),
        }), os.path.join(out, "points.parquet"))
    with open(os.path.join(out, "plan.json"), "w") as fh:
        json.dump(plan, fh)
    return plan
