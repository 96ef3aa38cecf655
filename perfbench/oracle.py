"""Oracle check: each query result the harness dumped is compared with
its SparkEntry.oracleSql run in DuckDB over the same generated tables,
value by value with columns sorted by name, as tools/check.py compares. A passing check caches the result hashes the
harness reported, keyed by seed, input generator and program sources;
later runs with the same key only compare hashes.
"""
import datetime
import decimal
import json
import math
from pathlib import Path

import duckdb


_EPOCH = datetime.datetime(1970, 1, 1)
_DAY_US = 86400 * 10**6


def _canon(v):
    """One cell from either engine as a plain comparable value."""
    if isinstance(v, dict):       # typed cells of the harness dump
        if "us" in v:
            return v["us"]
        if "days" in v:
            return v["days"] * _DAY_US
        return decimal.Decimal(v["dec"])
    if isinstance(v, datetime.datetime):
        return (v - _EPOCH) // datetime.timedelta(microseconds=1)
    if isinstance(v, datetime.date):  # a date equals its midnight
        return (v - _EPOCH.date()).days * _DAY_US
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def compare(con, dump, sql):
    """Value-by-value comparison of a harness dump with the oracle's
    result, columns sorted by name; None when they agree."""
    lines = Path(dump).read_text().splitlines()
    cols = json.loads(lines[0])
    got = [json.loads(x) for x in lines[1:]]
    rel = con.sql(sql)
    exp_cols = rel.columns
    exp = rel.fetchall()
    if sorted(cols) != sorted(exp_cols):
        return f"schema got={sorted(cols)} expected={sorted(exp_cols)}"
    if len(got) != len(exp):
        return f"rows got={len(got)} expected={len(exp)}"
    for c in sorted(cols):
        i, j = cols.index(c), exp_cols.index(c)
        gc, ec = [r[i] for r in got], [r[j] for r in exp]
        if gc == ec:  # fast path: plain values that already agree
            continue
        for r, (a, b) in enumerate(zip(map(_canon, gc), map(_canon, ec))):
            if a != b:
                return f"value col={c} row={r}: {a!r} != {b!r}"
    return None


def check(input_dir, results_dir, hashes, cache_file):
    """Returns (checks attempted, list of failures)."""
    cache_file = Path(cache_file)
    if cache_file.is_file():
        checked = json.loads(cache_file.read_text())
        bad = [f"{q}: result hash differs from the oracle-checked one"
               for q in sorted(hashes) if checked.get(q) != hashes[q]]
        return len(hashes), bad
    oracle = json.loads((Path(results_dir) / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.sql("SET memory_limit = '2GB'")
    for t in Path(input_dir).glob("*.parquet"):
        con.sql(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    bad = []
    for q in sorted(hashes):
        if q not in oracle:
            bad.append(f"{q}: no oracle SQL")
            continue
        try:
            err = compare(con, Path(results_dir) / f"{q}.jsonl", oracle[q])
        except Exception as e:  # an oracle that cannot run is a failure
            err = f"oracle error {e}"
        if err:
            bad.append(f"{q}: {err}")
    con.close()
    if not bad:
        cache_file.parent.mkdir(parents=True, exist_ok=True)
        cache_file.write_text(json.dumps(hashes, sort_keys=True))
    return len(hashes), bad
