"""Local replica of the driver's DuckDB-oracle comparison.

Runs a registered Spark plan and its oracle SQL side by side on the same
parquet tables and compares row count, column names, and values the same
way the driver does (order-insensitive: sort columns by name, then rows).
Used by tests and by the dev loop; catching a hash mismatch here means
catching it before CORRECTNESS_r{N}.json does.
"""

from __future__ import annotations

import math
from typing import Any

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from ..config import TESTDATA_TABLES
from .registry import ORACLES, QUERIES


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con.execute(sql).df()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if str(out[c].dtype).startswith("datetime64"):
            # strip tz to compare Spark (session-tz-aware) vs DuckDB (naive)
            try:
                out[c] = out[c].dt.tz_localize(None)
            except TypeError:
                pass
        # unify ints/bools across engines (int32 vs int64, bool vs object)
        if str(out[c].dtype) in ("int32", "uint32", "int64", "uint64"):
            out[c] = out[c].astype("int64")
    out = out.sort_values(by=list(out.columns), ignore_index=True)
    return out


def _values_equal(a: Any, b: Any) -> bool:
    try:
        if pd.isna(a) and pd.isna(b):  # None / NaN / NaT all count as null
            return True
    except (TypeError, ValueError):
        pass  # array-likes: fall through to ==
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b  # exact: the decimal-aggregation policy guarantees it
    return a == b


def _driver_hash(df: pd.DataFrame) -> str:
    """The driver's value hash, byte-for-byte: md5 of the CSV of the
    column-name-sorted, row-sorted, int64-normalized frame. CSV encoding
    makes this dtype-sensitive (99111 != 99111.0) — exactly the check
    CORRECTNESS_r{N}.json applies, so local green means driver green."""
    import hashlib

    out = _normalize(df)
    return hashlib.md5(out.to_csv(index=False).encode()).hexdigest()


def compare_query(spark: SparkSession, name: str, sf_dir: str) -> dict:
    """Returns {match_rows, match_cols, match_values, detail}."""
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    odf = run_oracle(ORACLES[name], sf_dir)
    result: dict[str, Any] = {"name": name}
    result["spark_rows"], result["oracle_rows"] = len(sdf), len(odf)
    result["match_rows"] = len(sdf) == len(odf)
    s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
    result["match_cols"] = s_cols == o_cols
    if not (result["match_rows"] and result["match_cols"]):
        result["match_values"] = False
        result["detail"] = f"spark_cols={s_cols} oracle_cols={o_cols}"
        return result
    result["match_values"] = _driver_hash(sdf) == _driver_hash(odf)
    if result["match_values"]:
        result["detail"] = []
        return result
    # hash mismatch: extract value-wise detail for debugging; when every
    # value compares equal the divergence is dtype-level (e.g. int64 vs
    # float64 from a DuckDB HUGEINT sum) — report the dtypes instead
    s, o = _normalize(sdf), _normalize(odf)
    mismatches = []
    for col in s.columns:
        sv, ov = s[col].tolist(), o[col].tolist()
        for i, (a, b) in enumerate(zip(sv, ov)):
            if not _values_equal(a, b):
                mismatches.append((col, i, a, b))
                if len(mismatches) >= 5:
                    break
        if len(mismatches) >= 5:
            break
    result["detail"] = mismatches or [
        ("dtype", c, str(s[c].dtype), str(o[c].dtype))
        for c in s.columns
        if str(s[c].dtype) != str(o[c].dtype)
    ]
    return result
