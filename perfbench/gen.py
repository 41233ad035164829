"""Seeded input generator for the graft benchmark.

Every input a workload reads is derived here from the run's seed; graft
only ever sees the parquet files written under the run's input directory.
The tables follow the schemas of the repository's test tables (`events`,
`documents`, `embeddings`), so graft's loaders and the DuckDB oracle SQL
read them unchanged.

Sizes are set by the constants below and recorded, with bytes, in the
input directory's `manifest.json`.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("medallion_run", "corpus_curation", "scoring_merge")
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
ZONES = 100
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window data column join small customer query order big filter "
         "stream group vector").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DIM = 64

# medallion_run and scoring_merge
EVENTS = 10_000
USERS = 1_000
# corpus_curation: a 3x corpus over a 250-document base, plus injected duplicates
CORPUS_COPIES = 3
CORPUS_BASE = 250
EXACT_DUPS = 30
NEAR_DUPS = 30
BENCH_DOCS = 20
CONTAMINATED = 3
VECTORS = CORPUS_COPIES * CORPUS_BASE
NEAR_VECS = 30
QUERIES = 40
# scoring_merge
MAX_PASSES = 24
SLICE_ZONES = 80
MERGES_PER_PASS = 2
BATCH_ROWS = 150
TEST_FROM = dt.date(2024, 1, 25)  # graft.ml.Models' held-out window starts here

EPOCH_US = 1704067200 * 10**6  # 2024-01-01T00:00:00, the test tables' first day
MONTH_US = 30 * 86400 * 10**6


def _write(table, path):
    pq.write_table(table, path)


def events(rng, n=EVENTS):
    ts = np.sort(rng.integers(EPOCH_US, EPOCH_US + MONTH_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(25.0, n), 2)),
        "props": pa.array([f'{{"k": {z}}}' for z in rng.integers(0, ZONES, n)]),
    })


def _text(rng, lo=8, hi=90):
    return " ".join(rng.choice(VOCAB, int(rng.integers(lo, hi + 1))))


def corpus(rng, out):
    """Documents with injected exact and near duplicates, a benchmark set
    for decontamination, embeddings with injected near-duplicate vectors,
    and the ANN query ids. Returns the injected ids for the checks."""
    n = CORPUS_COPIES * CORPUS_BASE
    texts = [_text(rng) for _ in range(n)]
    langs = list(rng.choice(LANGS, n, p=LANG_P))
    sources = [f"src{s}" for s in rng.integers(0, 20, n)]
    picks = rng.choice(n, EXACT_DUPS + NEAR_DUPS, replace=False)
    exact_of, near_of = picks[:EXACT_DUPS], picks[EXACT_DUPS:]
    exact_ids, near_pairs = [], []
    for src in exact_of:
        exact_ids.append(len(texts))
        texts.append(texts[src]); langs.append(langs[src]); sources.append(sources[src])
    for src in near_of:
        toks = texts[src].split()
        i = int(rng.integers(0, len(toks)))
        toks[i] = VOCAB[(VOCAB.index(toks[i]) + 1 + int(rng.integers(0, len(VOCAB) - 1))) % len(VOCAB)]
        near_pairs.append((int(src), len(texts)))
        texts.append(" ".join(toks)); langs.append(langs[src]); sources.append(sources[src])
    _write(pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array(sources),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    contaminated = rng.choice(n, CONTAMINATED, replace=False)
    bench = [_text(rng, 30, 60) for _ in range(BENCH_DOCS)] + [texts[i] for i in contaminated]
    _write(pa.table({
        "doc_id": pa.array(np.arange(10**6, 10**6 + len(bench), dtype=np.int64)),
        "text": pa.array(bench),
    }), os.path.join(out, "benchmark.parquet"))

    centers = rng.normal(0, 1, (10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, VECTORS)
    vecs = 0.35 * centers[labels] + rng.normal(0, 0.115, (VECTORS, DIM))
    src = rng.choice(VECTORS, NEAR_VECS, replace=False)
    vecs = np.vstack([vecs, vecs[src] + rng.normal(0, 0.005, (NEAR_VECS, DIM))]).astype(np.float32)
    labels = np.concatenate([labels, labels[src]]).astype(np.int32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }), os.path.join(out, "embeddings.parquet"))
    queries = np.sort(rng.choice(len(vecs), QUERIES, replace=False)).astype(np.int64)
    _write(pa.table({"vec_id": pa.array(queries)}), os.path.join(out, "queries.parquet"))
    return {
        "exact_dup_ids": exact_ids,
        "near_dup_pairs": near_pairs,
        "contaminated_ids": sorted(int(i) for i in contaminated),
    }


def scoring(rng, out, ev):
    """Per-pass retraining slices (zone subsets) and MERGE batches over
    the held-out prediction keys (trip_date, hour, zone_id), one file each."""
    ts = ev.column("ts").to_numpy()
    zone = np.array([int(p[6:-1]) for p in ev.column("props").to_pylist()])
    day = ts.astype("datetime64[D]")
    hour = (ts.astype("datetime64[h]") - ts.astype("datetime64[D]")).astype(np.int64)
    held = day >= np.datetime64(TEST_FROM)
    cells = sorted(set(zip(day[held].tolist(), hour[held].tolist(), zone[held].tolist())))
    days = [TEST_FROM + dt.timedelta(days=d) for d in range(6)]
    slices = {"pass": [], "zone_id": []}
    os.makedirs(os.path.join(out, "batches"))
    for p in range(MAX_PASSES):
        zs = np.sort(rng.choice(ZONES, SLICE_ZONES, replace=False))
        slices["pass"] += [p] * len(zs)
        slices["zone_id"] += zs.tolist()
        for b in range(MERGES_PER_PASS):
            # mostly keys that have predictions (updates), the rest random (inserts)
            keys = {cells[i] for i in rng.choice(len(cells), int(BATCH_ROWS * 0.8), replace=False)}
            while len(keys) < BATCH_ROWS:
                keys.add((days[int(rng.integers(0, 6))], int(rng.integers(0, 24)),
                          int(rng.integers(0, ZONES))))
            keys = sorted(keys)
            values = [(float(rng.integers(0, 6)), round(float(rng.uniform(0, 5)), 4)) for _ in keys]
            _write(pa.table({
                "trip_date": pa.array([k[0] for k in keys], type=pa.date32()),
                "hour": pa.array([k[1] for k in keys], type=pa.int32()),
                "zone_id": pa.array([k[2] for k in keys], type=pa.int64()),
                "label": pa.array([v[0] for v in values], type=pa.float64()),
                "prediction": pa.array([v[1] for v in values], type=pa.float64()),
            }), os.path.join(out, "batches", f"p{p}_b{b}.parquet"))
    _write(pa.table({"pass": pa.array(slices["pass"], type=pa.int32()),
                     "zone_id": pa.array(slices["zone_id"], type=pa.int64())}),
           os.path.join(out, "slices.parquet"))


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` under `out`; return the manifest."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    info = {}
    if workload in ("medallion_run", "scoring_merge"):
        ev = events(rng)
        _write(ev, os.path.join(out, "events.parquet"))
        if workload == "scoring_merge":
            scoring(rng, out, ev)
    else:
        info = corpus(rng, out)
    files = {}
    for root, _, names in os.walk(out):
        for name in names:
            if name.endswith(".parquet"):
                path = os.path.join(root, name)
                key = os.path.dirname(os.path.relpath(path, out)) or name
                f = files.setdefault(key, {"rows": 0, "bytes": 0})
                f["rows"] += pq.ParquetFile(path).metadata.num_rows
                f["bytes"] += os.path.getsize(path)
    manifest = {"workload": workload, "seed": seed, "files": files, **info}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest

