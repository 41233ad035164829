"""Output checks, computed with DuckDB and numpy, independently of graft.

`run` returns (failures, attempted, extra per-layer metrics). Every pass is
one attempted operation and fails if any of its checks fails; checks made
once per run (the oracle comparisons) are operations of their own.
"""
import json
import os

import duckdb
import numpy as np


def _rel(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _checksum(con, rel):
    """Row count and an order-insensitive checksum over whole rows."""
    return con.sql(f"SELECT count(*), coalesce(sum(hash(t)::HUGEINT), 0) FROM {rel} t").fetchone()


def _same_rows(con, a, b):
    """True when the two relations hold the same multiset of rows, with
    columns matched by name; floats compare exactly."""
    ca = sorted(con.sql(f"SELECT * FROM {a} LIMIT 0").columns)
    cb = sorted(con.sql(f"SELECT * FROM {b} LIMIT 0").columns)
    if ca != cb:
        return False
    cols = ", ".join(f'"{c}"' for c in ca)
    diff = con.sql(f"""SELECT count(*) FROM (
        (SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b})
        UNION ALL
        (SELECT {cols} FROM {b} EXCEPT ALL SELECT {cols} FROM {a}))""").fetchone()[0]
    return diff == 0


def medallion(con, work, manifest, res):
    failures, attempted = [], 0
    out = os.path.join(work, "out")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{work}/input/events.parquet'")
    first = {}
    for p in res["passes"]:
        attempted += 1
        rows = p["info"]["rows"]
        bad = []
        if sorted(rows) != sorted(oracle):
            bad.append(f"wrote tables {sorted(rows)}")
        for table in sorted(oracle):
            got = _checksum(con, _rel(f"{out}/pass_{p['index']}/{table}"))
            if got[0] != rows.get(table):
                bad.append(f"{table}: Runner reported {rows.get(table)} rows, files hold {got[0]}")
            first.setdefault(table, got)
            if got != first[table]:
                bad.append(f"{table}: rows/checksum {got} differ from pass 0 {first[table]}")
        if bad:
            failures.append(f"pass {p['index']}: " + "; ".join(bad))
    for table, sql in sorted(oracle.items()):
        attempted += 1
        if not _same_rows(con, _rel(f"{out}/pass_0/{table}"), f"({sql})"):
            failures.append(f"{table}: differs from its DuckDB oracle")
    return failures, attempted, {}


def curation(con, work, manifest, res):
    failures, attempted = [], 0
    out = os.path.join(work, "out")
    exact = set(manifest["exact_dup_ids"])
    contaminated = set(manifest["contaminated_ids"])
    first, curated = None, set()
    for p in res["passes"]:
        attempted += 1
        d = f"{out}/pass_{p['index']}"
        curated = {r[0] for r in con.sql(f"SELECT doc_id FROM {_rel(d + '/curated')}").fetchall()}
        got = _checksum(con, f"(SELECT doc_id FROM {_rel(d + '/curated')})")
        first = first or got
        bad = []
        if curated & exact:
            bad.append(f"injected exact duplicates kept: {sorted(curated & exact)[:5]}")
        if curated & contaminated:
            bad.append(f"contaminated documents kept: {sorted(curated & contaminated)}")
        if got != first:
            bad.append(f"curated doc ids {got} differ from pass 0 {first}")
        for name in ("simhash", "semantic", "topk"):
            if con.sql(f"SELECT count(*) FROM {_rel(d + '/' + name)}").fetchone()[0] == 0:
                bad.append(f"{name} output is empty")
        if bad:
            failures.append(f"pass {p['index']}: " + "; ".join(bad))
    last = f"{out}/pass_{res['passes'][-1]['index']}"
    pairs = [(a, b) for a, b in manifest["near_dup_pairs"] if a in curated]
    extra = {
        "dedup.injected_recall": sum(b not in curated for _, b in pairs) / max(1, len(pairs)),
        "similarity.recall_at_5": _recall_at_5(con, work, last),
    }
    return failures, attempted, extra


def _recall_at_5(con, work, last):
    """Share of the exact top-5 cosine neighbours (self excluded) that the
    ANN index returned."""
    rows = con.sql(f"SELECT vec_id, embedding FROM '{work}/input/embeddings.parquet' "
                   "ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    pos = {v: i for i, v in enumerate(ids)}
    got = {}
    for q, n in con.sql(f"SELECT query_id, neighbor_id FROM {_rel(last + '/topk')}").fetchall():
        got.setdefault(q, set()).add(n)
    queries = [r[0] for r in con.sql(f"SELECT vec_id FROM '{work}/input/queries.parquet'").fetchall()]
    hits = 0
    for q in queries:
        sims = x @ x[pos[q]]
        sims[pos[q]] = -np.inf
        hits += len(set(ids[np.argsort(-sims, kind="stable")[:5]].tolist()) & got.get(q, set()))
    return hits / (5 * len(queries))


def scoring(con, work, manifest, res):
    failures, attempted = [], 0
    keys = "trip_date, hour, zone_id"
    fit0 = res["passes"][0]["info"]["fit_jobs"]
    for p in res["passes"]:
        attempted += 1
        i, bad = p["index"], []
        if p["info"]["fit_jobs"] < fit0:
            bad.append(f"fit ran {p['info']['fit_jobs']} jobs, fewer than the first pass's {fit0}")
        con.execute(f"CREATE OR REPLACE TABLE state AS SELECT * FROM {_rel(f'{work}/check/pass_{i}/base')}")
        for m in p["info"]["merges"]:
            batch = f"'{work}/input/batches/{m['batch']}'"
            before = con.sql("SELECT count(*), coalesce(sum(prediction), 0) FROM state").fetchone()
            inserts, changed = con.sql(f"""SELECT
                count(*) FILTER (WHERE s.zone_id IS NULL),
                count(*) FILTER (WHERE s.zone_id IS NOT NULL AND
                    (s.label, s.prediction) IS DISTINCT FROM (b.label, b.prediction))
                FROM {batch} b LEFT JOIN state s USING ({keys})""").fetchone()
            con.execute(f"""CREATE OR REPLACE TABLE state AS
                SELECT * FROM state WHERE ({keys}) NOT IN (SELECT ({keys}) FROM {batch})
                UNION ALL SELECT trip_date, hour, zone_id, label, prediction FROM {batch}""")
            after = con.sql("SELECT count(*), coalesce(sum(prediction), 0) FROM state").fetchone()
            where = con.sql("SELECT count(*) FROM state WHERE trip_date >= DATE '2024-01-29'").fetchone()[0]
            tag = f"merge {m['batch']}"
            if m["cdf_rows"] != inserts + 2 * changed:
                bad.append(f"{tag}: change feed has {m['cdf_rows']} rows, expected {inserts + 2 * changed}")
            for name, got, want in (("latest read", m["latest"], after), ("versionAsOf read", m["as_of"], before)):
                if got[0] != want[0] or not np.isclose(got[1], float(want[1]), rtol=1e-9, atol=1e-9):
                    bad.append(f"{tag}: {name} gave {got}, expected {list(want)}")
            if m["where_rows"] != where:
                bad.append(f"{tag}: readWhere gave {m['where_rows']} rows, expected {where}")
        if not _same_rows(con, "state", _rel(f"{work}/check/pass_{i}/final")):
            bad.append("final snapshot differs from the latest-wins upsert of the batches")
        if bad:
            failures.append(f"pass {i}: " + "; ".join(bad))
    return failures, attempted, {}


def run(workload, work, manifest, res):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return {"medallion_run": medallion, "corpus_curation": curation,
            "scoring_merge": scoring}[workload](con, work, manifest, res)
