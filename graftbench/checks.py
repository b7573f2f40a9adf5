"""Output checks for the `analytics` workload.

Every headline query's output is written once per run (outside the timed
passes) as parquet. A query whose `SparkEntry.oracleSql` is plain SQL is
compared with DuckDB's answer over the same tables, under the rules of
`scripts/oracle_check.py`: columns sorted by name, rows sorted by all
columns, equal dtypes, equal row counts, exactly equal values. The other
queries (their oracle needs fixtures DuckDB cannot compute) are compared with
a committed row count and order-insensitive digest, expected_digests.json.
"""
import hashlib
import json
from pathlib import Path

import duckdb
import pandas as pd

HERE = Path(__file__).resolve().parent
DIGESTS = HERE / "expected_digests.json"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame):
    """None when equal, else the first difference (oracle_check.py rules)."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if [str(t) for t in got.dtypes] != [str(t) for t in want.dtypes]:
        return f"dtypes {list(map(str, got.dtypes))} != {list(map(str, want.dtypes))}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        try:
            same = (a.astype(object).where(pd.notna(a), None).tolist() ==
                    b.astype(object).where(pd.notna(b), None).tolist())
        except Exception:
            same = a.tolist() == b.tolist()
        if not same:
            idx = [i for i, (x, y) in enumerate(zip(a.tolist(), b.tolist())) if x != y][:3]
            return f"col {c} differs, e.g. {[(i, a.iloc[i], b.iloc[i]) for i in idx]}"
    return None


def value_text(v) -> str:
    """Canonical text of one value; doubles keep 9 significant digits so the
    digest does not depend on floating-point summation order."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return format(v, ".9g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value_text(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{value_text(k)}:{value_text(x)}"
                              for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return str(v)


def digest(con, path: str):
    """(row count, order-insensitive digest) of a parquet output: the sum
    mod 2^64 of each row's hash, columns taken in name order."""
    cols = sorted(con.sql(f"SELECT * FROM read_parquet('{path}')").columns)
    quoted = ", ".join('"' + c + '"' for c in cols)
    rows = con.sql(f"SELECT {quoted} FROM read_parquet('{path}')").fetchall()
    acc = 0
    for r in rows:
        text = "\x1f".join(value_text(v) for v in r)
        acc = (acc + int.from_bytes(hashlib.sha256(text.encode()).digest()[:8], "big")) % (1 << 64)
    return len(rows), f"{acc:016x}"


def check_analytics(out_dir: Path, plant=False, record=False):
    """Check every query output of an analytics run.

    Returns the list of problems. With `plant`, one value of
    the first oracle-checked and of the first digest-checked output is
    altered first (both must then fail). With `record`, the digests are
    written to expected_digests.json instead of checked.
    """
    info = json.loads((out_dir / "check.json").read_text())
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    expected = json.loads(DIGESTS.read_text())["queries"] if DIGESTS.is_file() else {}
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{info['tables']}/{t}.parquet/*.parquet')")
    problems, recorded = [], {}
    planted_oracle = planted_digest = not plant
    for q in info["queries"]:
        path = f"{info['outputs']}/{q}/*.parquet"
        if not list(Path(info["outputs"], q).glob("*.parquet")):
            continue  # the harness already counted the query that threw
        try:
            if q in oracle:
                got = canon(con.sql(f"SELECT * FROM read_parquet('{path}')").df())
                if not planted_oracle and len(got):
                    got.iloc[0, 0] = None
                    planted_oracle = True
                want = canon(con.sql(oracle[q]).df())
                diff = compare(got, want)
            else:
                n, d = digest(con, path)
                if not planted_digest:
                    d, planted_digest = "planted", True
                recorded[q] = {"rows": n, "digest": d}
                want = expected.get(q)
                diff = None if record else (
                    "no committed digest" if want is None else
                    None if want == {"rows": n, "digest": d} else
                    f"rows/digest {n}/{d} != committed {want['rows']}/{want['digest']}")
        except Exception as e:  # a failed comparison is a failed check
            diff = f"check raised {type(e).__name__}: {e}"
        if diff:
            problems.append(f"{q}: {diff}")
    if record:
        DIGESTS.write_text(json.dumps({
            "about": "Row count and order-insensitive digest of each analytics headline "
                     "query without a DuckDB oracle, over AnalyticsData's fixed tables "
                     "(checks.py digest). Rewrite with run.py --record-digests only when "
                     "a query's output is meant to change.",
            "queries": dict(sorted(recorded.items()))}, indent=1) + "\n")
    return problems
