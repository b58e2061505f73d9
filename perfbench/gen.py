"""Seeded input generators for the benchmark workloads.

Everything the engine reads during a run is produced here from `--seed`:
the same seed gives byte-identical parquet tables and op plans. The tables
follow the schemas of the engine's fixture tables (TPC-H-style star schema,
`events`, `documents`, `embeddings`), so the registered queries and their
DuckDB oracle SQL run on them unchanged.
"""
import datetime as dt
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENTS_T0 = dt.datetime(2024, 1, 1)
ORDERS_T0 = dt.datetime(1995, 1, 1)


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, str(path))


def _micros(t0: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((t0 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(t0: dt.datetime, days: np.ndarray) -> pa.Array:
    return _micros(t0, days.astype(np.int64) * 86_400_000_000)


def events_table(rng: np.random.Generator, n: int, days: int = 30) -> pa.Table:
    ts = np.sort(rng.integers(0, days * 86_400_000_000, n))
    value = np.minimum(np.round(rng.exponential(50.0, n), 2), 560.21)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _micros(EVENTS_T0, ts),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
    })


def tpch_tables(rng: np.random.Generator, sf: float) -> dict:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
                rng.integers(0, 8, n_part).tolist(), rng.integers(0, 8, n_part).tolist())]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(money(1000.0, 500000.0, n_ord)),
            "o_orderdate": _days(ORDERS_T0, rng.integers(0, 2404, n_ord)),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])}),
    }
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(ORDERS_T0 + dt.timedelta(days=1), rng.integers(0, 2499, n_li)),
    })
    return out


def base_documents(rng: np.random.Generator, n: int) -> list:
    """Token-soup documents over a fixed vocabulary; about 5% are edited
    near-copies of an earlier document (tagged with a trailing `dup`) and a
    handful are exact copies, so every dedup family has work to find."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            for _ in range(2):
                src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(src + ["dup"]))
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words.tolist()))
    return texts


def documents_table(rng: np.random.Generator, n_base: int, replicas: int) -> pa.Table:
    """`replicas` copies of a seeded base corpus with disjoint id ranges.
    Replica k > 0 suffixes every token with `r<k>` (a vocabulary bijection,
    so within-replica near-duplicate structure is preserved and no
    cross-replica duplicates appear) and is perturbed by re-drawing its
    language labels."""
    base = base_documents(rng, n_base)
    stride = 100_000_000
    ids, texts, langs, sources = [], [], [], []
    for k in range(replicas):
        lang_idx = rng.choice(len(LANGS), size=n_base, p=LANG_P)
        for i, t in enumerate(base):
            text = t if k == 0 else " ".join(w + f"r{k}" for w in t.split())
            ids.append(k * stride + i)
            texts.append(text)
            langs.append(LANGS[int(lang_idx[i])])
            sources.append(f"src{i % 20}")
    return pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array(sources),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n_base: int, replicas: int, dim: int = 64) -> pa.Table:
    """Label-clustered unit-scale vectors; replica k is the base set
    circularly shifted by 7k coordinates (an orthogonal transform)."""
    centers = rng.normal(0.0, 0.12, (10, dim))
    labels = rng.integers(0, 10, n_base)
    base = (centers[labels] + rng.normal(0.0, 0.1, (n_base, dim))).astype(np.float32)
    stride = 100_000_000
    ids, vecs, labs = [], [], []
    for k in range(replicas):
        shifted = np.roll(base, -((7 * k) % dim), axis=1)
        ids.extend(k * stride + i for i in range(n_base))
        vecs.extend(shifted.tolist())
        labs.extend(labels.tolist())
    return pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
        "label": pa.array(labs, type=pa.int32()),
    })


# ---------------------------------------------------------------- events_olap

def olap_plan(rng: np.random.Generator, cycles: int) -> list:
    """The seed draws one constant set per DSL template for the run and the
    op order of every cycle. A cycle runs every DSL template, every
    registered query row and one streaming replay."""
    from oracle import DSL_TEMPLATES, OLAP_ROWS, OLAP_STREAM
    ops = []
    for t in DSL_TEMPLATES:
        params = {k: v[int(rng.integers(0, len(v)))] for k, v in t["choices"].items()}
        key = "_".join(str(params[k]) for k in sorted(params))
        inst = "".join(ch for ch in f"{t['name']}__{key}" if ch.isalnum() or ch in "_.-")
        ops.append({"kind": "dsl", "template": t["name"], "params": params, "instance": inst})
    ops += [{"kind": "row", "row": r, "instance": r} for r in OLAP_ROWS]
    ops.append({"kind": "stream", "row": OLAP_STREAM, "instance": OLAP_STREAM})
    return [[ops[i] for i in rng.permutation(len(ops)).tolist()] for _ in range(cycles)]


# ---------------------------------------------------------------- catalog_ingest

CATALOG_DAYS = 10


def catalog_inputs(rng: np.random.Generator, base_rows: int, cycles: int) -> tuple:
    """Base table rows plus a seeded op log. Each cycle holds two small
    inserts, one upsert merge and one delete on a hot day, three
    partition-pruned reads and one time-travel read, in seeded order, and
    ends with a compaction. Returns ({batch: rows}, log)."""
    next_id = [0]

    def batch(ids: np.ndarray, days: np.ndarray) -> dict:
        n = len(ids)
        return {
            "event_id": ids,
            "user_id": rng.integers(0, 1500, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "day": np.array([day(d) for d in days.tolist()]),
        }

    def rows(n: int, day_lo: int, day_hi: int) -> dict:
        ids = np.arange(next_id[0], next_id[0] + n, dtype=np.int64)
        next_id[0] += n
        return batch(ids, rng.integers(day_lo, day_hi, n))

    def day(d: int) -> str:
        return f"2024-01-{d + 1:02d}"

    batches = {0: rows(base_rows, 0, CATALOG_DAYS)}
    ids_by_day = {}
    for i, d in zip(batches[0]["event_id"].tolist(), batches[0]["day"].tolist()):
        ids_by_day.setdefault(d, []).append(i)
    log, b = [], 1
    for c in range(cycles):
        hot = int(rng.integers(0, CATALOG_DAYS))
        old = rng.choice(np.array(ids_by_day[day(hot)], dtype=np.int64), 60, replace=False)
        ops = []
        for _ in range(2):
            batches[b] = rows(int(rng.integers(150, 250)), hot, hot + 1)
            ids_by_day[day(hot)].extend(batches[b]["event_id"].tolist())
            ops.append({"kind": "insert", "batch": b})
            b += 1
        # upsert on the hot day: 60 keys that existed before the cycle, with
        # new values, and 40 new keys
        upd = batch(old, np.full(len(old), hot))
        new = rows(40, hot, hot + 1)
        batches[b] = {k: np.concatenate([upd[k], new[k]]) for k in upd}
        ids_by_day[day(hot)].extend(new["event_id"].tolist())
        ops.append({"kind": "merge", "batch": b})
        b += 1
        ops.append({"kind": "delete", "day": day(int(rng.integers(0, CATALOG_DAYS))),
                    "event_type": EVENT_TYPES[int(rng.integers(0, 5))],
                    "min_value": float(rng.integers(150, 300))})
        for _ in range(3):
            ops.append({"kind": "read", "day": day(int(rng.integers(0, CATALOG_DAYS)))})
        ops.append({"kind": "read_at", "back": int(rng.integers(1, 6))})
        log.append([ops[i] for i in rng.permutation(len(ops)).tolist()] + [{"kind": "compact"}])
    # a delete may remove keys a later merge picks as existing; the merge
    # then inserts them again, and the replay models it the same way
    cols = ["event_id", "user_id", "event_type", "value", "day"]
    rows_of = {b: [list(r) for r in zip(*(batches[b][c].tolist() for c in cols))] for b in batches}
    return rows_of, log


# ---------------------------------------------------------------- entry point

def generate(workload: str, seed: int, out: Path) -> dict:
    """Writes the workload's inputs under `out` and returns its plan: the
    op cycles the client runs (cycle 0 primes, the windows run the rest)."""
    rng = np.random.default_rng(np.random.PCG64(seed))
    out.mkdir(parents=True, exist_ok=True)
    if workload == "events_olap":
        _write(events_table(rng, 30_000), out / "events.parquet")
        for name, t in tpch_tables(rng, 0.02).items():
            _write(t, out / f"{name}.parquet")
        _write(documents_table(rng, 1_000, 2), out / "documents.parquet")
        _write(embeddings_table(rng, 500, 2), out / "embeddings.parquet")
        return {"cycles": olap_plan(rng, 8)}
    if workload == "catalog_ingest":
        batches, log = catalog_inputs(rng, 5_000, 8)
        (out / "catalog_batches.json").write_text(json.dumps(batches))
        return {"cycles": log}
    raise SystemExit(f"unknown workload {workload}")

