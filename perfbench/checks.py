"""Output checks of the benchmark, computed apart from the engine with DuckDB
over the same generated fixture. Each check returns (name, ok, detail).
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect(fixture):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    # the engine's fact: lineitem joined to its order's customer and to the part
    con.execute("""CREATE VIEW tx AS SELECT o.o_custkey AS household_key,
        l.l_orderkey AS basket_id, CAST(l.l_shipdate AS DATE) AS day,
        CAST(l.l_quantity AS INTEGER) AS units, p.p_brand AS commodity_desc
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        LEFT JOIN part p ON l.l_partkey = p.p_partkey""")
    return con


def daily_score(fixture, work, info):
    out = []
    con = _connect(fixture)
    k = len(info["commodities"].split(","))
    got_top = info["commodities"].split(",")
    top = [r[0] for r in con.execute(f"""SELECT commodity_desc FROM tx
        WHERE commodity_desc IS NOT NULL GROUP BY 1
        ORDER BY count(DISTINCT basket_id) DESC, commodity_desc ASC LIMIT {k}""").fetchall()]
    out.append(("top_k_commodities", sorted(top) == sorted(got_top), f"{got_top} != {top}"))
    cur = con.execute("SELECT max(CAST(l_shipdate AS DATE)) FROM lineitem").fetchone()[0]
    out.append(("current_day", str(cur) == info["current_day"], f"{info['current_day']} != {cur}"))
    fed = cur - datetime.timedelta(days=30)
    hh = con.execute("SELECT count(DISTINCT household_key) FROM tx "
                     "WHERE commodity_desc IS NOT NULL").fetchone()[0]
    out.append(("labels.rows", int(info["label_rows"]) == hh * k,
                f"{info['label_rows']} != {hh} households x {k}"))
    in_list = ",".join(f"'{c}'" for c in got_top)
    pos = con.execute(f"""SELECT count(*) FROM (SELECT DISTINCT household_key, commodity_desc
        FROM tx WHERE day > DATE '{fed}' AND day <= DATE '{cur}'
        AND commodity_desc IN ({in_list}))""").fetchone()[0]
    out.append(("labels.positives", int(info["positives"]) == pos, f"{info['positives']} != {pos}"))

    feats = {t: f"read_parquet('{work}/pipeline/{t}/data/**/*.parquet', hive_partitioning = true)"
             for t in ["household_features", "commodity_features", "household_commodity_features"]}
    keys = {"household_features": "household_key", "commodity_features": "commodity_desc",
            "household_commodity_features": "household_key, commodity_desc"}
    after = []
    for t, rel in feats.items():
        n, distinct = con.execute(f"SELECT count(*), count(DISTINCT ({keys[t]}, day)) FROM {rel}").fetchone()
        after.append(str(n))
        out.append((f"unique_keys.{t}", n == distinct and n > 0, f"{n} rows, {distinct} distinct keys"))
    out.append(("repeat.feature_rows_unchanged", ",".join(after) == info["feature_rows_before"],
                f"{info['feature_rows_before']} before the ops, {','.join(after)} after"))

    # household grain at the scored day against a recomputation from the fact
    exp = con.execute(f"""SELECT household_key,
        CAST(count(DISTINCT CASE WHEN day >= DATE '{cur}' - 29 THEN basket_id END) AS DOUBLE) AS b,
        CAST(count(DISTINCT CASE WHEN day >= DATE '{cur}' - 29 THEN day END) AS DOUBLE) AS d,
        CAST(coalesce(sum(CASE WHEN day >= DATE '{cur}' - 29 THEN units END), 0) AS DOUBLE) AS u
        FROM tx WHERE day <= DATE '{cur}' AND day >= DATE '{cur}' - 364
        GROUP BY 1 ORDER BY 1""").fetchall()
    got = con.execute(f"""SELECT household_key, baskets_30d, days_30d, units_30d
        FROM {feats['household_features']} WHERE CAST(day AS DATE) = DATE '{cur}'
        ORDER BY 1""").fetchall()
    diff = len(set(exp) ^ set(got))
    out.append(("household_features.at_day", got == exp and len(got) > 0,
                f"{diff} rows differ ({len(got)} engine vs {len(exp)} recomputed)"))

    unp = f"read_parquet('{work}/pipeline/propensities_unpivoted/**/*.parquet', hive_partitioning = true)"
    piv = f"read_parquet('{work}/pipeline/propensities_pivoted/data/**/*.parquet', hive_partitioning = true)"
    spine = con.execute("SELECT count(DISTINCT household_key) FROM tx").fetchone()[0]
    n, pairs, bad = con.execute(f"""SELECT count(*), count(DISTINCT (household_key, commodity_desc)),
        count(*) FILTER (WHERE prediction IS NULL OR prediction < 0 OR prediction > 1)
        FROM {unp} WHERE CAST(day AS DATE) = DATE '{cur}'""").fetchone()
    out.append(("unpivoted.one_prediction_each", n == pairs == spine * k and bad == 0,
                f"{n} rows, {pairs} pairs, {bad} outside [0,1]; want {spine} x {k}"))
    cols = con.execute(f"SELECT * FROM {piv} LIMIT 0").fetchdf().columns
    for desc in got_top:
        clean = desc
        for ch in "-|\\/:;,.\"'":
            clean = clean.replace(ch, "_")
        clean = clean.replace(" ", "_")
        pointer = f"{work}/pipeline/models/{clean}/PRODUCTION"
        ok = os.path.exists(pointer) and os.path.isdir(
            f"{work}/pipeline/models/{clean}/{open(pointer).read().strip()}")
        out.append((f"model.production.{clean}", ok, "no Production model"))
        if clean not in cols:
            out.append((f"pivoted.{clean}", False, f"no column {clean} in {list(cols)}"))
            continue
        mism = con.execute(f"""SELECT count(*) FROM {piv} p FULL JOIN
            (SELECT * FROM {unp} WHERE commodity_desc = '{desc}' AND CAST(day AS DATE) = DATE '{cur}') u
            ON p.household_key = u.household_key AND CAST(p.day AS DATE) = CAST(u.day AS DATE)
            WHERE CAST(coalesce(p.day, u.day) AS DATE) = DATE '{cur}'
            AND (p."{clean}" IS DISTINCT FROM u.prediction)""").fetchone()[0]
        out.append((f"pivoted.{clean}", mism == 0, f"{mism} rows differ from the unpivoted sink"))
    return out


# --- query_library: the oracle compare of tools/check.py -------------------

def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cv(v):
    if v is None:
        return "N"
    if isinstance(v, (float, np.floating)):
        v = float(v)
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        try:
            if pd.isna(v):
                return "N"
        except (TypeError, ValueError):
            pass
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (list, tuple, dict, np.ndarray)):
        raise TypeError(f"unsupported container type {type(v)}")
    try:
        if pd.isna(v):
            return "N"
    except (TypeError, ValueError):
        pass
    return str(v)


def _hash(df):
    h = hashlib.sha256()
    for row in df.itertuples(index=False, name=None):
        h.update("\x1f".join(_cv(v) for v in row).encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()


def query_library(fixture, work, info):
    out = []
    con = _connect(fixture)
    qdir = f"{work}/check/queries"
    oracle = json.load(open(f"{qdir}/oracle_sql.json"))
    for name in sorted(oracle):
        rp = f"{qdir}/{name}"
        if not glob.glob(f"{rp}/*.parquet"):
            out.append((f"oracle.{name}", False, "no engine result"))
            continue
        try:
            exp = _canon(con.execute(oracle[name]).fetchdf())
            got = _canon(con.execute(f"SELECT * FROM read_parquet('{rp}/*.parquet')").fetchdf())
        except Exception as e:  # noqa: BLE001 - any oracle failure fails the check
            out.append((f"oracle.{name}", False, f"oracle error {e}"))
            continue
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            out.append((f"oracle.{name}", False,
                        f"shape {list(got.columns)}x{len(got)} != {list(exp.columns)}x{len(exp)}"))
            continue
        try:
            ok = _hash(got) == _hash(exp)
        except TypeError as e:
            out.append((f"oracle.{name}", False, f"unhashable output: {e}"))
            continue
        out.append((f"oracle.{name}", ok, "value hash mismatch"))
    return out


def run(workload, fixture, work, info):
    """All checks of one workload over a run's work root."""
    if not os.path.isdir(work):
        return [("work_dir", False, f"missing {work}")]
    return {"daily_score": daily_score, "query_library": query_library}[workload](
        fixture, work, info)


if __name__ == "__main__":
    # recompute the DuckDB side over a work root kept with PERFBENCH_KEEP=1:
    #   python3 perfbench/checks.py <workload> .bench_work/<workload>-<seed>-<pid>
    import sys
    wl, wr = sys.argv[1], sys.argv[2]
    res = json.load(open(os.path.join(wr, "result.json")))
    found = run(wl, os.path.join(wr, "fixture"), wr, res["info"])
    for name, ok, detail in found:
        print(f"{'PASS' if ok else 'FAIL'} {name}" + ("" if ok else f": {detail}"))
    sys.exit(0 if all(ok for _, ok, _ in found) else 1)
