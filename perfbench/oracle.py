"""Output checks: DuckDB oracles for every op the benchmark times.

- DSL templates: the oracle SQL below mirrors each `Hustle.select` template
  in `Workloads.scala` (same projections, aliases, filters and order).
- Registered query rows: their own oracle SQL, exported by the JVM.
- catalog_ingest: a DuckDB replay of the same op log, checked after every
  write (returned counts), for every read (result rows at that point of the
  log) and for the final table.

A mismatch is reported with the op and the first differing value; the
caller counts it as a failed op.
"""
import json
import math
from pathlib import Path

import duckdb
import pandas as pd

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _d(v: float) -> str:
    return f"CAST('{v!r}' AS DOUBLE)"


DSL_TEMPLATES = [
    {"name": "t01_events_filter",
     "choices": {"et": EVENT_TYPES, "v": [50.0, 100.0, 200.0, 300.0]},
     "sql": lambda p: f"""SELECT event_id, user_id, value FROM events
        WHERE event_type = '{p['et']}' AND value > {_d(p['v'])} ORDER BY event_id LIMIT 100"""},
    {"name": "t02_type_counts",
     "choices": {"u": [300, 700, 1100]},
     "sql": lambda p: f"""SELECT event_type, COUNT(*) AS count, SUM(value) AS sum_value
        FROM events WHERE user_id < {p['u']} GROUP BY event_type ORDER BY event_type"""},
    {"name": "t03_user_top",
     "choices": {"et": EVENT_TYPES},
     "sql": lambda p: f"""SELECT user_id, COUNT(*) AS count, MAX(value) AS max_value
        FROM events WHERE event_type = '{p['et']}' GROUP BY user_id
        ORDER BY count DESC, user_id DESC LIMIT 20"""},
    {"name": "t04_pricing_summary",
     "choices": {"day": ["1998-09-02", "1999-06-01", "2000-12-01"]},
     "sql": lambda p: f"""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_l_quantity,
        AVG(l_extendedprice) AS avg_l_extendedprice, COUNT(*) AS count FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '{p['day']} 00:00:00'
        GROUP BY 1, 2 ORDER BY 1, 2"""},
    {"name": "t05_segment_revenue",
     "choices": {"seg": SEGMENTS, "year": [1996, 1998, 2000]},
     "sql": lambda p: f"""SELECT c.c_nationkey, SUM(o.o_totalprice) AS sum_o_totalprice,
        COUNT(*) AS count FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = '{p['seg']}'
          AND o.o_orderdate >= TIMESTAMP '{p['year']}-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '{p['year'] + 1}-01-01 00:00:00'
        GROUP BY 1 ORDER BY 1"""},
    {"name": "t06_brand_qty",
     "choices": {"ptype": PART_TYPES, "size": [10, 25, 40]},
     "sql": lambda p: f"""SELECT p.p_brand, COUNT(*) AS count, SUM(l.l_quantity) AS sum_l_quantity
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_type = '{p['ptype']}' AND p.p_size < {p['size']} GROUP BY 1 ORDER BY 1"""},
    {"name": "t07_user_events",
     "choices": {"users": [[12, 345, 678], [5, 99, 1234], [42, 700, 1499]]},
     "sql": lambda p: f"""SELECT event_id, ts, event_type FROM events
        WHERE user_id IN ({', '.join(str(u) for u in p['users'])}) ORDER BY event_id"""},
    {"name": "t08_type_range",
     "choices": {"day": [3, 10, 20]},
     "sql": lambda p: f"""SELECT event_type, MIN(value) AS min_value, MAX(value) AS max_value,
        COUNT(*) AS count FROM events
        WHERE ts >= TIMESTAMP '2024-01-{p['day']:02d} 00:00:00'
          AND ts < TIMESTAMP '2024-01-{p['day'] + 5:02d} 00:00:00'
        GROUP BY 1 ORDER BY 1"""},
]
TEMPLATE_SQL = {t["name"]: t["sql"] for t in DSL_TEMPLATES}

# Registered query rows (all carry a DuckDB oracle).
# one row per operator module: relational, events, then the LLM-data tier
# (dedup, similarity, textops, trainingdata) over the seeded corpus
OLAP_ROWS = ["q_semi_join", "window_rank", "dedup_exact", "dedup_embedding_srp", "bpe_encode",
             "pii_redact"]
OLAP_STREAM = "stream_user_totals"


# ---------------------------------------------------------------- comparison

def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda x: json.dumps(x.tolist() if hasattr(x, "tolist") else x,
                                                   sort_keys=True, default=str)
                              if isinstance(x, (list, dict)) or hasattr(x, "tolist") else x)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame, rel_tol: float) -> str | None:
    """None when equal; else a one-line description of the first mismatch.
    Floats must match exactly when `rel_tol` is 0, else within `rel_tol`."""
    a, b = _norm(got), _norm(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != oracle {len(b)} rows"
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            for i, (x, y) in enumerate(zip(av.astype("float64"), bv.astype("float64"))):
                if (math.isnan(x) and math.isnan(y)) or x == y:
                    continue
                if rel_tol == 0 or not math.isclose(x, y, rel_tol=rel_tol, abs_tol=1e-12):
                    return f"column {c} row {i}: {x!r} != oracle {y!r}"
        else:
            bad = av.fillna("\x00NA").astype(str) != bv.fillna("\x00NA").astype(str)
            if bad.any():
                i = int(bad.values.argmax())
                return f"column {c} row {i}: {av[i]!r} != oracle {bv[i]!r}"
    return None


def _con(inputs: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = inputs / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_outputs(inputs: Path, checks_dir: Path, manifest: list) -> dict:
    """Compares every checked op instance the JVM wrote under `checks_dir`
    with its oracle. Returns {instance: error or None}."""
    con = _con(inputs)
    out = {}
    for m in manifest:
        inst = m["instance"]
        if m.get("error"):
            out[inst] = m["error"]
            continue
        try:
            files = sorted((checks_dir / inst).glob("*.parquet"))
            got = pd.concat([pd.read_parquet(f) for f in files]) if files else None
            if m["kind"] == "dsl":
                sql, tol = TEMPLATE_SQL[m["template"]](m["params"]), 1e-9
            else:
                sql, tol = m["oracle"], 0.0
            want = con.execute(sql).df()
            if got is None:
                got = want.iloc[0:0]
            out[inst] = compare(got, want, tol)
        except Exception as e:  # noqa: BLE001
            out[inst] = f"{type(e).__name__}: {e}"
    con.close()
    return out


# ---------------------------------------------------------------- catalog replay

READ_SQL = """SELECT event_type, COUNT(*) AS count, SUM(value) AS sum_value,
    MAX(value) AS max_value FROM {t} WHERE day = '{day}' GROUP BY 1 ORDER BY 1"""
READ_AT_SQL = """SELECT event_type, COUNT(*) AS count, SUM(value) AS sum_value
    FROM {t} GROUP BY 1 ORDER BY 1"""


def replay_catalog(inputs: Path, executed: list, final_dir: Path | None) -> dict:
    """Replays the executed op log on a DuckDB table and checks each op's
    recorded result. `executed` is the JVM's list of op records in order.
    Returns {op id: error or None}, plus a `final_table` entry comparing
    the table written under `final_dir` with the replay's end state."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    batches = json.loads((inputs / "catalog_batches.json").read_text())
    frame = pd.DataFrame([[int(b)] + r for b, rs in batches.items() for r in rs],
                         columns=["batch", "event_id", "user_id", "event_type", "value", "day"])
    con.register("batches_df", frame)
    con.execute("CREATE TABLE b AS SELECT * FROM batches_df")
    cols = "event_id, user_id, event_type, value, day"
    con.execute(f"CREATE TABLE t AS SELECT {cols} FROM b WHERE batch = 0")
    snaps = ["t_s0"]
    con.execute("CREATE TABLE t_s0 AS SELECT * FROM t")
    out = {}

    def q(sql: str) -> pd.DataFrame:
        return con.execute(sql).df()

    for rec in executed:
        op, oid = rec["op"], rec["id"]
        err = rec.get("error")
        try:
            k = op["kind"]
            if k == "insert":
                n = q(f"SELECT COUNT(*) AS n FROM b WHERE batch = {op['batch']}")["n"][0]
                con.execute(f"INSERT INTO t SELECT {cols} FROM b WHERE batch = {op['batch']}")
                want = [int(n)]
            elif k == "merge":
                m = q(f"""SELECT COUNT(*) AS n FROM t WHERE event_id IN
                          (SELECT event_id FROM b WHERE batch = {op['batch']})""")["n"][0]
                nu = q(f"SELECT COUNT(*) AS n FROM b WHERE batch = {op['batch']}")["n"][0]
                con.execute(f"DELETE FROM t WHERE event_id IN (SELECT event_id FROM b WHERE batch = {op['batch']})")
                con.execute(f"INSERT INTO t SELECT {cols} FROM b WHERE batch = {op['batch']}")
                want = [int(m), int(nu - m)]
            elif k == "delete":
                where = (f"day = '{op['day']}' AND event_type = '{op['event_type']}' "
                         f"AND value > {_d(op['min_value'])}")
                n = q(f"SELECT COUNT(*) AS n FROM t WHERE {where}")["n"][0]
                con.execute(f"DELETE FROM t WHERE {where}")
                want = [int(n)]
            elif k == "compact":
                want = []
            elif k == "read":
                want = q(READ_SQL.format(t="t", day=op["day"]))
            elif k == "read_at":
                snap = snaps[max(0, len(snaps) - op["back"])]
                want = q(READ_AT_SQL.format(t=snap))
            if k in ("insert", "merge", "delete", "compact"):
                name = f"t_s{len(snaps)}"
                con.execute(f"CREATE TABLE {name} AS SELECT * FROM t")
                snaps.append(name)
                if len(snaps) > 8:
                    con.execute(f"DROP TABLE IF EXISTS t_s{len(snaps) - 9}")
            if err:
                out[oid] = err
            elif isinstance(want, list):
                got = rec["result"]
                out[oid] = None if got == want else f"returned {got} != oracle {want}"
            else:
                got = pd.DataFrame(rec["result"], columns=list(want.columns))
                out[oid] = compare(got, want, 1e-9)
        except Exception as e:  # noqa: BLE001
            out[oid] = err or f"{type(e).__name__}: {e}"
    try:
        if final_dir is None:
            con.close()
            return out
        files = sorted(final_dir.glob("**/*.parquet"))
        got = pd.concat([pd.read_parquet(f, columns=["event_id", "user_id", "event_type",
                                                    "value", "day"]) for f in files])
        got["day"] = got["day"].astype(str)
        want = q("SELECT * FROM t")
        out["final_table"] = compare(got, want, 0.0)
    except Exception as e:  # noqa: BLE001
        out["final_table"] = f"{type(e).__name__}: {e}"
    con.close()
    return out
