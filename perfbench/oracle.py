"""The pipeline's answer check: each query's result from the untimed
pass is compared with its `SparkEntry.oracleSql` run in DuckDB over the
same generated parquet tables, canonicalised as scripts/check.py does
(columns sorted by name, rows sorted, floats compared exactly by their
hex form). A query without an oracle only has to have produced output.
"""
import json
import math
import os
from pathlib import Path

import duckdb
import numpy as np

TABLES = ["documents", "embeddings", "events"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, (float, np.floating)):
                v = float(v)
                row.append("NaN" if math.isnan(v) else v.hex())
            elif isinstance(v, np.ndarray):
                row.append(tuple(
                    float(x).hex() if isinstance(x, (float, np.floating)) else str(x)
                    for x in v.tolist()))
            else:
                row.append(str(v))
        rows.append(tuple(row))
    rows.sort()
    return list(df.columns), rows


def compare(root, wrong_answer=False):
    """Returns (queries checked, failure messages). With `wrong_answer`
    the first oracle's expected rows get one extra row, so that query
    must be reported as a mismatch."""
    root = Path(root)
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{root / 'data' / (t + '.parquet')}/*.parquet')")
    oracle = json.loads((root / "oracle_sql.json").read_text())
    outputs = sorted(p.name for p in (root / "check").iterdir() if p.is_dir()) \
        if (root / "check").exists() else []
    names = sorted(set(oracle) | set(outputs))
    failures = []
    planted = False
    for name in names:
        out = root / "check" / name
        parts = list(out.glob("*.parquet")) if out.exists() else []
        if not parts:
            failures.append(f"{name}: no output from the check pass")
            continue
        if name not in oracle:
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')").df()
            want = con.execute(oracle[name]).df()
        except duckdb.Error as e:
            failures.append(f"{name}: oracle error {str(e).splitlines()[0]}")
            continue
        gc, gr = canon(got)
        wc, wr = canon(want)
        if wrong_answer and not planted:
            wr = wr + [tuple("planted" for _ in wc)]
            planted = True
        if gc != wc:
            failures.append(f"{name}: columns {gc} != oracle {wc}")
        elif gr != wr:
            failures.append(f"{name}: {len(gr)} rows differ from the oracle's {len(wr)}")
    return len(names), failures
