"""Output checks for the batch workloads: each key's result, as the
benchmark's JVM side wrote it, against the key's DuckDB oracle SQL over the
same input tables. The comparison is exact and dtype-family aware, the rule
the engine's own oracle gate applies; a key without oracle SQL gets a
row-count check (its result must not be empty)."""
import glob
import json
import os

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(got, want):
    """None when equal, else the first difference. Columns are compared by
    name, rows in order; integer and float families must match."""
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"cols {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    fam = lambda k: "i" if k in "iu" else k
    for c in got.columns:
        a, b = got[c], want[c]
        if {fam(a.dtype.kind), fam(b.dtype.kind)} == {"i", "f"}:
            return f"col {c} dtype family {a.dtype} vs {b.dtype}"
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            av, bv = a.astype(float).values, b.astype(float).values
            ok = (np.isnan(av) & np.isnan(bv)) | (av == bv)
        else:
            an, bn = a.isna().values, b.isna().values
            ok = (an & bn) | (~an & ~bn &
                              (a.astype(object).values == b.astype(object).values))
        if not ok.all():
            i = int(np.argmin(ok))
            return f"col {c} row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r}"
    return None


def check(data_dir, out_dir, ops):
    """One check record per check execution in `ops` (op ids `c.<key>`)."""
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    checks = []
    for o in ops:
        key = o["key"]
        rec = {"name": key, "ok": False}
        if not o["ok"]:
            rec.update(error_class=o["error_class"],
                       detail=f"check execution failed: {o['error_msg']}")
        elif key in oracle:
            files = glob.glob(os.path.join(out_dir, key, "*.parquet"))
            got = con.execute("SELECT * FROM read_parquet(?)",
                              [files]).fetchdf()
            try:
                want = con.execute(oracle[key]).fetchdf()
                diff = compare(got, want)
            except duckdb.Error as e:
                diff = f"oracle error: {e}"
            rec.update(ok=diff is None, rows=len(got), detail=diff or "")
        else:
            rec.update(ok=o["rows"] > 0, rows=o["rows"],
                       detail="" if o["rows"] > 0 else "empty result")
        checks.append(rec)
    return checks
