"""Output checks: each query's result against its DuckDB oracle answer.

The oracle SQL is the registry's own (`SparkEntry.oracleSql`, exported
by the harness); answers are computed once per (SQL, input) and cached.
The comparison follows the repo's oracle self-check rules: columns by
name, rows sorted by value, exact cell equality, integer widths
normalized, datetimes at microsecond precision, and integral floats
against integers accepted by value."""
import glob
import hashlib
import os

import duckdb
import pandas as pd


def _connect(data_dir, tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET enable_progress_bar=false")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def oracle_answers(oracle_sql, data_dir, data_key, cache_dir, tmp_dir):
    """{query: DataFrame | Exception}; cached as pickles keyed by the SQL
    text and the input's checksum."""
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        key = hashlib.sha256(f"{data_key}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            out[name] = pd.read_pickle(path)
            continue
        if con is None:
            con = _connect(data_dir, tmp_dir)
        try:
            df = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = e
            continue
        tmp = path + ".tmp"
        df.to_pickle(tmp)
        os.replace(tmp, path)
        out[name] = df
    if con is not None:
        con.close()
    return out


def compare(got, want):
    """None when equal under the self-check rules, else a reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    cols = sorted(want.columns)
    ws = want[cols].sort_values(by=cols).reset_index(drop=True)
    gs = got[cols].sort_values(by=cols).reset_index(drop=True)
    if len(ws) != len(gs):
        return f"rows {len(gs)} != {len(ws)}"
    for c in cols:
        a, b = gs[c], ws[c]
        if a.dtype.kind in "iu" and b.dtype.kind in "iu":
            a, b = a.astype("int64"), b.astype("int64")
        elif a.dtype.kind == "M" or b.dtype.kind == "M":
            try:
                a, b = pd.to_datetime(a), pd.to_datetime(b)
            except (ValueError, TypeError):
                return f"{c}: dtype {gs[c].dtype} vs {ws[c].dtype}"
            ta, tb = getattr(a.dtype, "tz", None), getattr(b.dtype, "tz", None)
            if ta != tb:
                return f"{c}: tz {ta} vs {tb}"
            if ta is not None:
                a = a.dt.tz_convert("UTC").dt.tz_localize(None)
                b = b.dt.tz_convert("UTC").dt.tz_localize(None)
            a = a.astype("datetime64[us]").astype(str)
            b = b.astype("datetime64[us]").astype(str)
        elif {a.dtype.kind, b.dtype.kind} in ({"f", "i"}, {"f", "u"}):
            f = a if a.dtype.kind == "f" else b
            if not ((f.dropna() % 1) == 0).all():
                return f"{c}: dtype {gs[c].dtype} vs {ws[c].dtype}"
            a, b = a.astype("float64"), b.astype("float64")
        if str(a.dtype) != str(b.dtype):
            return f"{c}: dtype {a.dtype} vs {b.dtype}"
        neq = ~(a.eq(b) | (a.isna() & b.isna()))
        if neq.any():
            i = neq.idxmax()
            return f"{c}: {int(neq.sum())} cells differ, e.g. {gs[c][i]!r} vs {ws[c][i]!r}"
    return None


def check_results(results_dir, answers):
    """{query: reason} for every query whose result is missing or differs."""
    bad = {}
    for name, want in answers.items():
        if isinstance(want, Exception):
            bad[name] = f"oracle error: {want}"
            continue
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            bad[name] = "no result"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        reason = compare(got, want)
        if reason:
            bad[name] = reason
    return bad
