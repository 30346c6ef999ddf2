"""Seeded input generator for the benchmark.

The tables are the engine's sf0.1 test tables (TESTDATA.md), copied
byte for byte under `perfbench/sf0.1/` and only read. Everything else
the engine receives is made here from `--seed`: the dashboard request
order, the daily appdetails JSON with its malformed lines, the split
of the search corpus into an indexed share and held-out arrivals, the
query vectors and term sets, and the maintenance schedule. The same
seed gives byte-identical inputs.
"""
import collections
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.1")
OOV = ["warehouse", "lakehouse", "tensor", "kernel"]
EVENTS_START = dt.datetime(2024, 1, 1)


def _read(name):
    return pq.read_table(os.path.join(TABLES, f"{name}.parquet"))


def _write(out, name, table):
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def dashboard(rng, out, n_queries, passes):
    """The analysts' shared request list: `passes` back-to-back seeded
    permutations of the query indexes. Clients take the next request
    when free and stop only at the end of a pass, so every run
    executes each query equally often whatever the seed. Also records
    each table's row count (a query's input rows)."""
    os.makedirs(out, exist_ok=True)
    order = [int(q) for _ in range(passes) for q in rng.permutation(n_queries)]
    with open(os.path.join(out, "requests.json"), "w") as f:
        json.dump({"order": order}, f)
    rows = {f[: -len(".parquet")]: pq.ParquetFile(os.path.join(TABLES, f)).metadata.num_rows
            for f in sorted(os.listdir(TABLES)) if f.endswith(".parquet")}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"table_rows": rows}, f)


def _appdetails(rng, row, day, malformed):
    """One appdetails payload for a part row; `malformed` picks one
    of the shapes a real feed delivers: truncated JSON, a non-JSON
    error body, or a payload without the required name."""
    price = int(round(row["p_retailprice"] * 100 * (1 + rng.normal(0, 0.05))))
    name = row["p_name"].title() + str(rng.choice(["", "™", "®", " "]))
    doc = {
        "name": name, "type": "game",
        "release_date": {"date": f"{1 + row['p_partkey'] % 28} Jan, 20{10 + row['p_size'] % 15}"},
        "developers": [row["p_brand"]],
        "publishers": [row["p_brand"], "Pub" + str(row["p_size"] % 7)],
        "genres": [{"description": row["p_type"].title()}],
        "price_overview": {"initial": max(price, 1), "currency": "USD",
                           "discount_percent": int(rng.choice([0, 0, 10, 25, 50]))},
        "day": day,
    }
    text = json.dumps(doc, ensure_ascii=False)
    if malformed == 1:
        return text[: int(rng.integers(5, len(text) - 5))]
    if malformed == 2:
        return "<html>503 Service Unavailable</html>"
    if malformed == 3:
        del doc["name"]
        return json.dumps(doc, ensure_ascii=False)
    return text


def daily_ingest(rng, out, n_days, games_per_day, bad_share):
    """Per-day appdetails JSON for a seeded sample of `part` rows
    ("games"), a `bad_share` of them malformed. The day loop appends
    the calendar day's `events` rows. Returns each day's malformed
    count and input rows (JSON lines plus event rows)."""
    rows = _read("part").to_pylist()
    ts = _read("events").column("ts").to_numpy()
    ev_day = (ts - np.datetime64(EVENTS_START, "us")) // np.timedelta64(1, "D")
    n_days = min(n_days, int(ev_day.max()) + 1)
    day_rows = [games_per_day + int((ev_day == d).sum()) for d in range(n_days)]
    ids, days, raws, bad = [], [], [], []
    for d in range(n_days):
        bad.append(0)
        for i in sorted(rng.choice(len(rows), games_per_day, replace=False)):
            m = int(rng.integers(1, 4)) if rng.random() < bad_share else 0
            bad[-1] += m > 0
            ids.append(rows[i]["p_partkey"])
            days.append(d)
            raws.append(_appdetails(rng, rows[i], d, m))
    _write(out, "appdetails", pa.table({"app_id": pa.array(ids, type=pa.int64()),
                                        "day": pa.array(days, type=pa.int32()),
                                        "raw": pa.array(raws)}))
    return bad, day_rows


def _vocab(texts):
    """Terms of the documents by document frequency: the common ones
    and the rare ones (in under a tenth as many documents as the most
    common)."""
    df = collections.Counter(w for t in texts for w in set(t.split()))
    top = max(df.values())
    common = sorted(w for w, n in df.items() if n * 10 >= top)
    rare = sorted(w for w, n in df.items() if n * 10 < top)
    return common, rare


def _serve_request(rng, kind, qid, base, batch, common, rare):
    src = rng.choice(len(base), batch)
    dim = base.shape[1]
    vecs = base[src] + rng.normal(0, 0.3 / np.sqrt(dim), (batch, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    terms = []
    for _ in range(batch):
        t = [str(w) for w in rng.choice(common, int(rng.integers(1, 4)), replace=False)]
        if rare and rng.random() < 0.2:
            t.append(str(rng.choice(rare)))
        if rng.random() < 0.2:
            t.append(str(rng.choice(OOV)))
        terms.append(t)
    return {"kind": kind, "ids": list(range(qid, qid + batch)), "terms": terms,
            "vecs": [[round(float(x), 7) for x in v] for v in vecs]}


def search_serve(rng, out, held_share, n_reads, n_writes, batch, ingest):
    """A seeded `held_share` of the document ids is held out; `corpus/`
    holds the documents and embeddings of the rest (indexed at set-up)
    and the held-out ids arrive through appends, in seeded order.
    Query vectors are perturbed corpus vectors under ids of their
    own; term sets mix common, rare and out-of-vocabulary terms. Reads
    cycle semantic, lexical, hybrid; writes cycle an ingest day, an
    append of held-out ids and a tombstone of seeded corpus ids; the
    harness runs three writes, then three reads. Kind orders are
    fixed, so every seed sends the same mix. `ingest` sizes the daily
    ingest inputs."""
    docs, emb = _read("documents"), _read("embeddings")
    ids = docs.column("doc_id").to_numpy()
    held = rng.choice(ids, int(held_share * len(ids)), replace=False)
    for name, t, key in (("documents", docs, "doc_id"), ("embeddings", emb, "vec_id")):
        _write(os.path.join(out, "corpus"), name,
               t.filter(pc.invert(pc.is_in(t.column(key), pa.array(held)))))
    bad, rows = daily_ingest(rng, out, **ingest)
    common, rare = _vocab(docs.column("text").to_pylist())
    live = pc.invert(pc.is_in(emb.column("vec_id"), pa.array(held)))
    base = np.stack(emb.filter(live).column("embedding").to_numpy(zero_copy_only=False))
    kinds = ["semantic", "lexical", "hybrid"]
    qid = 1_000_000
    warmup, reads = [], []
    for i in range(len(kinds) + n_reads):
        (warmup if i < len(kinds) else reads).append(
            _serve_request(rng, kinds[i % 3], qid, base, batch, common, rare))
        qid += batch
    arrivals = [int(x) for x in held]
    deletable = [int(x) for x in rng.permutation(np.setdiff1d(ids, held))]
    writes = []
    for i in range(n_writes):
        kind = ["ingest", "append", "delete"][i % 3]
        if kind == "append":
            n = int(rng.integers(10, 40))
            writes.append({"kind": "append", "ids": sorted(arrivals[:n])})
            arrivals = arrivals[n:]
        elif kind == "delete":
            n = int(rng.integers(3, 12))
            writes.append({"kind": "delete", "ids": sorted(deletable[:n])})
            deletable = deletable[n:]
        else:
            writes.append({"kind": "ingest"})
    with open(os.path.join(out, "requests.json"), "w") as f:
        json.dump({"warmup": warmup, "reads": reads, "writes": writes}, f)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"bad_per_day": bad, "rows_per_day": rows}, f)
