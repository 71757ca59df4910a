"""Compares query results with their DuckDB oracles.

The rule is that of `scripts/selfcheck.py`: same columns and row count,
rows compared after sorting (order-insensitive), floats within 1e-9
absolute plus 1e-9 relative, every other type exactly, and a float column
never compared with an integer one.

Oracle answers are cached under the benchmark's work dir, keyed by the
oracle SQL text, the digest of the logical input and this rule; never by
anything Spark produced.
"""
import glob
import hashlib
import os
import pickle

import duckdb
import pandas as pd

RULE = "selfcheck-1e-9"


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got, want):
    """None when the canonical frames agree, else the first difference."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if (a.dtype.kind == "f") != (b.dtype.kind == "f"):
            return f"col {c}: dtype {a.dtype} vs {b.dtype}"
        if a.dtype.kind == "f":
            af, bf = a.astype(float), b.astype(float)
            close = (af - bf).abs() <= 1e-9 + 1e-9 * bf.abs()
            neq = ~(close | (af.isna() & bf.isna()))
        else:
            neq = a.astype(str) != b.astype(str)
        if neq.any():
            i = neq.idxmax()
            return f"col {c} row {i}: {a[i]!r} vs {b[i]!r}"
    return None


class Oracle:
    def __init__(self, base_dir, input_digest, cache_dir):
        self.base_dir = base_dir
        self.input_digest = input_digest
        self.cache_dir = cache_dir
        self._con = None

    def con(self):
        if self._con is None:
            self._con = duckdb.connect()
            for f in sorted(glob.glob(os.path.join(self.base_dir, "*.parquet"))):
                t = os.path.basename(f)[: -len(".parquet")]
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
        return self._con

    def answer(self, sql):
        key = hashlib.sha256(
            "\0".join([RULE, self.input_digest, sql]).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        want = canon(self.con().execute(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(want, f)
        os.replace(tmp, path)
        return want

    def check_parquet(self, sql, result_dir):
        files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
        if not files:
            return "no output"
        got = canon(duckdb.connect().execute(
            f"SELECT * FROM read_parquet({files!r})").df())
        return compare(got, self.answer(sql))

    def check_csv(self, sql, result_dir):
        """The CSV sink's file against the oracle of the query it wrote:
        each column is parsed back to the oracle's type first (an empty
        field is a null). Returns (difference, known defect): a file that
        differs only in whitespace around string fields passes with the
        known defect set, because Spark's CSV writer trims that whitespace
        by default and `Sinks.writeFinalCsv` does not turn it off."""
        files = sorted(glob.glob(os.path.join(result_dir, "*.csv")))
        if not files:
            return "no output", None
        want = self.answer(sql)
        got = pd.concat([pd.read_csv(f, dtype=str, keep_default_na=False)
                         for f in files], ignore_index=True)
        if sorted(got.columns) != list(want.columns):
            return f"columns {sorted(got.columns)} vs {list(want.columns)}", None
        for c in want.columns:
            kind = want[c].dtype.kind
            if kind in "fiu":
                got[c] = pd.to_numeric(got[c].replace("", None))
            elif kind == "M":
                got[c] = pd.to_datetime(got[c]).astype(want[c].dtype)
        diff = compare(canon(got), want)
        if diff is None:
            return None, None
        text = [c for c in want.columns if want[c].dtype == object]
        if compare(canon(got.assign(**{c: got[c].str.strip() for c in text})),
                   canon(want.assign(**{c: want[c].str.strip() for c in text}))) is None:
            return None, "fields differ only in surrounding whitespace: " + diff
        return diff, None
