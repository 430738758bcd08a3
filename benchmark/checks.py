"""Answer checks for the three workloads. Each returns the ids of the timed
operations whose answers are wrong, plus a list of messages."""
import glob
import json
import math
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
import check_oracle  # noqa: E402  the registry's DuckDB replay and comparison


def timed_ops(result):
    """Every timed operation of a run: measured, untraced replay, traced."""
    return result["ops"] + result.get("replay_ops", []) + result.get("traced_ops", [])


def canon(v):
    """Numbers (and numeric strings, as group keys render) become floats;
    everything else keeps its string form."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    try:
        return float(v)
    except (TypeError, ValueError):
        return str(v)


def _key(row):
    return tuple((0, "") if v is None else (1, f"{v:.6g}") if isinstance(v, float)
                 else (2, str(v)) for v in row)


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def rows_equal(got, want):
    """Order-insensitive equality of two result tables, floats to 1e-9."""
    g = sorted(([canon(v) for v in r] for r in got), key=_key)
    w = sorted(([canon(v) for v in r] for r in want), key=_key)
    return len(g) == len(w) and all(
        len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
        for a, b in zip(g, w))


def _duckdb(inputs, tables):
    import duckdb
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    return con


def interactive(result, inputs):
    """Replays each answered statement's plain-SQL twin, rendered with the
    same literals, in DuckDB over the same parquet files."""
    with open(f"{inputs}/statements.json") as f:
        rounds = json.load(f)
    con = _duckdb(inputs, ["events", "orders", "customer", "lineitem"])
    bad, msgs = set(), []
    for a in result["checks"]["answers"]:
        st = next(s for s in rounds[a["round"]] if s["template"] == a["template"])
        if not rows_equal(a["got"], con.execute(st["twin"]).fetchall()):
            bad.add(a["id"])
            msgs.append(f"{a['template']} (op {a['id']}): engine answer differs from its twin")
    return bad, msgs


def curate_oracle(result, inputs, out_dir):
    """Replays each registry row's DuckDB oracle on the generated corpus
    against the rows the engine wrote during set-up. Returns the names
    whose reference answer is wrong."""
    con = _duckdb(inputs, ["documents"])
    wrong = {}
    for name, sql in result["checks"]["oracle_sql"].items():
        got = check_oracle.canon(pd.read_parquet(os.path.join(out_dir, name)))
        exp = check_oracle.canon(con.execute(sql).fetchdf())
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            wrong[name] = f"shape {list(got.columns)}x{len(got)} vs {list(exp.columns)}x{len(exp)}"
            continue
        for c in got.columns:
            bad = [i for i, (g, e) in enumerate(zip(got[c].tolist(), exp[c].tolist()))
                   if not check_oracle.values_equal(g, e)]
            if bad:
                wrong[name] = f"column {c} differs at row {bad[0]}"
                break
    return wrong


def curate(result, inputs, out_dir):
    bad, msgs = set(), []
    wrong = curate_oracle(result, inputs, out_dir)
    msgs += [f"{n}: registry answer differs from the DuckDB oracle: {m}" for n, m in wrong.items()]
    ref = result["checks"]["reference"]
    for op in timed_ops(result):
        if op["name"] in wrong or op["got"] != ref[op["name"]]:
            bad.add(op["id"])
            msgs.append(f"{op['name']} (op {op['id']}): checksum {op['got']} != {ref[op['name']]}")
    return bad, msgs


def _committed(source, n):
    """The first `n` committed batches, with `ts` as epoch seconds `ep`."""
    files = sorted(glob.glob(os.path.join(source, "*.parquet")))[:n]
    t = pa.concat_tables([pq.read_table(f) for f in files])
    df = t.to_pandas()
    df["ep"] = t.column("ts").cast(pa.int64()).to_numpy() / 1e6
    return df


def expected_read(read, events):
    """The answer a read over `events` must give, computed from the
    generated batches."""
    e = events[(events.ep >= read["t0"]) & (events.ep <= read["t1"])].copy()
    e["w"] = (e.ep // gen.DAY) * gen.DAY
    g = e.groupby(["event_type", "w"])["value"].agg(["sum", "count"])
    return [[k, w, w + gen.DAY, s, float(c)] for (k, w), (s, c) in g.iterrows()]


def ingest(result, inputs, source):
    bad, msgs = set(), []
    with open(f"{inputs}/tally.json") as f:
        tally = json.load(f)
    with open(f"{inputs}/reads.json") as f:
        reads = json.load(f)
    for o in result["checks"]["observed"]:
        want = tally[o["batches"] - 1]
        got = {"rows": o["rows"], "distinct_ids": o["distinct_ids"], "sum_cents": o["sum_cents"]}
        exp = {k: want[k] for k in got}
        if got != exp:
            msgs.append(f"store after {o['after']}: {got} != tally {exp}")
            bad.add(o["op"])
    cache = {}
    for op in timed_ops(result):
        if op["kind"] != "query":
            continue
        n = op["batches"]
        if n not in cache:
            cache[n] = _committed(source, n)
        if not rows_equal(op["got"], expected_read(reads[n - 1][op["read"]], cache[n])):
            bad.add(op["id"])
            msgs.append(f"{op['name']} (op {op['id']}) after {n} batches: wrong answer")
    return bad, msgs
