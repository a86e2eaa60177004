"""Output checks, run after the harness exits (outside every timed region).

- The landing path: every valid input record of every drained object
  appears exactly once under `transformed/<key>`, carrying all its non-null
  input fields untouched plus `processed = true` and
  `uppercase_name = upper(coalesce(name, ''))`; a corrupt input line yields
  exactly one row with no input fields.
- Registered queries (the curation chain and its stages, the 22 SQL
  queries, the similarity searches): the collected result equals the
  query's DuckDB oracle (`SparkEntry.oracleSql`) run on the same generated
  tables, under the engine's
  correctness-gate rules: same column set and column types,
  same row count, equal cells (floats to 1e-9 relative). Rows are compared
  as sorted multisets, so ties in an ORDER BY cannot fail the check.

Each check returns (name, ok, detail).
"""
import glob
import json
import math
import os

import duckdb

def etl(in_dir, result):
    zone = result["zone"]
    out = []
    for op in result["ops"]:
        if op.get("kind") != "round" or not op.get("ok"):
            continue
        for key in op["keys"]:
            out.append(_etl_object(os.path.join(in_dir, "landing", op["name"], key),
                                   os.path.join(zone, "transformed", key), key))
    return out


def _etl_object(src, dst, key):
    expected, corrupt = {}, 0
    with open(src) as f:
        for line in f:
            if not line.strip():
                continue
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                corrupt += 1
                continue
            row = {k: v for k, v in rec.items() if v is not None}
            row["processed"] = True
            row["uppercase_name"] = (rec.get("name") or "").upper()
            expected[rec["id"]] = row
    seen, blank = {}, 0
    for part in sorted(glob.glob(os.path.join(dst, "part-*"))):
        with open(part) as f:
            for line in f:
                row = json.loads(line)
                if "id" not in row:
                    blank += row == {"processed": True, "uppercase_name": ""}
                    continue
                if row["id"] in seen:
                    return (f"etl:{key}", False, f"id {row['id']} written twice")
                seen[row["id"]] = row
    if seen.keys() != expected.keys():
        return (f"etl:{key}", False,
                f"ids differ: {len(expected.keys() - seen.keys())} missing, "
                f"{len(seen.keys() - expected.keys())} unexpected")
    bad = [i for i, row in expected.items() if seen[i] != row]
    if bad:
        return (f"etl:{key}", False, f"id {bad[0]}: {seen[bad[0]]} != {expected[bad[0]]}")
    if blank != corrupt:
        return (f"etl:{key}", False, f"{corrupt} corrupt lines, {blank} field-less rows")
    return (f"etl:{key}", True, f"{len(seen)} records")


def _cell_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if fa == fb or (math.isnan(fa) and math.isnan(fb)):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


def _sort_key(row):
    return tuple((v is None, round(v, 6) if isinstance(v, float) else
                  v if isinstance(v, (int, str, bool)) else str(v))
                 for v in row)


def oracle(dumps, oracles):
    con = duckdb.connect()
    out = []
    for d in dumps:
        name, tables = d["query"], d["tables"]
        label = f"oracle:{name}@{os.path.basename(tables)}"
        if name not in oracles:
            out.append((label, False, "no oracle SQL registered"))
            continue
        for path in sorted(glob.glob(os.path.join(tables, "*.parquet"))):
            view = os.path.basename(path)[:-len(".parquet")]
            con.execute(f"CREATE OR REPLACE VIEW {view} AS SELECT * FROM '{path}'")
        try:
            got = con.sql(f"SELECT * FROM '{d['result']}/*.parquet'")
            exp = con.sql(oracles[name])
            out.append((label, *_compare(got, exp)))
        except duckdb.Error as e:
            out.append((label, False, str(e).splitlines()[0][:200]))
    return out


def _compare(got, exp):
    gc, ec = list(got.columns), list(exp.columns)
    if sorted(gc) != sorted(ec):
        return False, f"columns {sorted(gc)} != {sorted(ec)}"
    gt = dict(zip(gc, (str(t).split("(")[0] for t in got.types)))
    et = dict(zip(ec, (str(t).split("(")[0] for t in exp.types)))
    bad = [c for c in sorted(gc) if gt[c] != et[c]]
    if bad:
        return False, f"type of {bad[0]}: {gt[bad[0]]} != {et[bad[0]]}"
    cols = sorted(gc)
    g = sorted((tuple(r[gc.index(c)] for c in cols) for r in got.fetchall()), key=_sort_key)
    e = sorted((tuple(r[ec.index(c)] for c in cols) for r in exp.fetchall()), key=_sort_key)
    if len(g) != len(e):
        return False, f"{len(g)} rows != {len(e)} oracle rows"
    for i, (a, b) in enumerate(zip(g, e)):
        for c, x, y in zip(cols, a, b):
            if not _cell_eq(x, y):
                return False, f"row {i} {c}: {x!r} != {y!r}"
    return True, f"{len(g)} rows"
