"""Output checks. Each returns a list of problems; an empty list passes.

The benchmark counts an operation with any problem as failed instead of
raising, so one bad output shows in ``ops_ok_frac`` and ``failed``.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Optional, Set, Tuple

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

SIM_EPS = 1e-9
NULL = "\x00null"


def check_schema_match(
    rows: List[Tuple[str, str]], source_columns: List[str], gdc_columns: Set[str]
) -> List[str]:
    """Each source column appears once; every target is a GDC column
    (or "" for an unmatched source)."""
    problems = []
    seen = [s for s, _ in rows]
    if sorted(seen) != sorted(source_columns):
        problems.append(f"schema match sources {sorted(seen)} != {sorted(source_columns)}")
    bad = [t for _, t in rows if t != "" and t not in gdc_columns]
    if bad:
        problems.append(f"schema match targets not in GDC: {bad}")
    return problems


def check_value_match(
    rows: Iterable,
    expected_keys: Dict[Tuple[str, str], Set[str]],
    domains: Dict[str, List[str]],
    threshold: float,
    top_k: int,
) -> List[str]:
    """Every distinct (trimmed) source value of each mapped pair appears —
    exactly once for top-1, one to ``top_k`` times with distinct targets
    otherwise; every similarity is null or in [threshold, 1]; every target
    value is in the pair's GDC domain."""
    problems: List[str] = []
    got: Dict[Tuple[str, str], Dict[str, List]] = {}
    for r in rows:
        pair = (r["source_column"], r["target_column"])
        key = r["source_value"].strip()
        got.setdefault(pair, {}).setdefault(key, []).append(r)
        sim = r["similarity"]
        if sim is not None and not (threshold - SIM_EPS <= sim <= 1.0 + SIM_EPS):
            problems.append(f"similarity {sim} out of [{threshold}, 1] for {pair} {key!r}")
        tv = r["target_value"]
        if (tv is None) != (sim is None):
            problems.append(f"target/similarity nullness differ for {pair} {key!r}")
        if tv is not None and tv not in domains.get(pair[1], ()):
            problems.append(f"target value {tv!r} not in GDC {pair[1]}")
    for pair, keys in expected_keys.items():
        have = got.get(pair, {})
        if set(have) != keys:
            problems.append(
                f"{pair}: {len(set(have) ^ keys)} distinct source values missing or extra"
            )
        for key, matches in have.items():
            targets = [m["target_value"] for m in matches]
            if top_k == 1 and len(matches) != 1:
                problems.append(f"{pair} {key!r} appears {len(matches)} times")
            elif not 1 <= len(matches) <= top_k or len(set(targets)) != len(targets):
                problems.append(f"{pair} {key!r}: bad top-{top_k} rows {targets}")
    extra = set(got) - set(expected_keys)
    if extra:
        problems.append(f"unexpected pairs {sorted(extra)}")
    return problems


def top1(rows: Iterable) -> Dict[Tuple[str, str], Optional[str]]:
    """(source column, trimmed source value) -> best target value."""
    best: Dict[Tuple[str, str], Tuple] = {}
    for r in rows:
        k = (r["source_column"], r["source_value"].strip())
        sim = r["similarity"]
        rank = (-(sim if sim is not None else -1.0), r["target_value"] or "")
        if k not in best or rank < best[k][0]:
            best[k] = (rank, r["target_value"])
    return {k: v[1] for k, v in best.items()}


def check_harmonized(
    path: str, input_rows: int, domain_columns: Dict[str, List[str]]
) -> List[str]:
    """Row count equals the input's; values of dictionary-mapped columns are
    in their GDC domain or null. Read back with pyarrow, not Spark."""
    table = pq.read_table(path)
    problems = []
    if table.num_rows != input_rows:
        problems.append(f"harmonized rows {table.num_rows} != input rows {input_rows}")
    for col, domain in domain_columns.items():
        if col not in table.column_names:
            problems.append(f"harmonized output lacks column {col}")
            continue
        values = set(table.column(col).unique().to_pylist()) - {None}
        outside = values - set(domain)
        if outside:
            problems.append(f"{col}: {len(outside)} values outside the GDC domain")
    return problems


def _normalized(s: pd.Series) -> pd.Series:
    """Integers as int64, floats as float64, everything else as a
    categorical of strings with nulls as one sentinel — so the digest
    ignores how each side typed a column."""
    if pd.api.types.is_integer_dtype(s.dtype):
        return s.astype("int64")
    if pd.api.types.is_float_dtype(s.dtype):
        return s.astype("float64")
    cat = s if isinstance(s.dtype, pd.CategoricalDtype) else s.astype("category")
    if cat.isna().any():
        cat = cat.cat.add_categories([NULL]).fillna(NULL)
    return cat


def frame_digest(df: pd.DataFrame) -> Tuple[int, int]:
    """Order-independent digest: (rows, sum of per-row hashes mod 2**64)."""
    norm = pd.DataFrame({c: _normalized(df[c]) for c in sorted(df.columns)})
    hashes = pd.util.hash_pandas_object(norm, index=False).to_numpy(dtype=np.uint64)
    return len(norm), int(hashes.sum(dtype=np.uint64))


def parquet_digest(path: str) -> Tuple[int, int]:
    return frame_digest(pq.read_table(path).to_pandas(strings_to_categorical=True))
