"""Output checks and the median helper for the pipeline benchmark.

The digests are order-independent: each row is hashed on its
column-name-sorted values and the row hashes are summed modulo 2**64, so
the digest of a table does not depend on file or row order but does
change when any row is dropped, duplicated or altered.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pyarrow.parquet as pq

MASK64 = (1 << 64) - 1


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of an empty list")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def _canon(value) -> str:
    if isinstance(value, float):
        return float.hex(value)
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(_canon(v) for v in value) + "]"
    if isinstance(value, dict):
        return "{" + ",".join(f"{k}:{_canon(value[k])}" for k in sorted(value)) + "}"
    return repr(value)


def row_hash(row: dict) -> int:
    payload = "\x1f".join(f"{k}={_canon(row[k])}" for k in sorted(row))
    return int.from_bytes(hashlib.blake2b(payload.encode("utf-8"), digest_size=8).digest(), "big")


def rows_digest(rows: list[dict]) -> str:
    total = 0
    for r in rows:
        total = (total + row_hash(r)) & MASK64
    return f"{total:016x}:{len(rows)}"


def read_rows(path: str) -> list[dict]:
    """All rows of a parquet file or Spark output directory."""
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    else:
        files = [path]
    rows: list[dict] = []
    for f in files:
        rows.extend(pq.read_table(f).to_pylist())
    return rows


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def text_digest(text: str) -> str:
    return hashlib.sha1(text.encode("utf-8")).hexdigest()


def stage_rows_non_increasing(stages: dict, order: list[str]) -> list[str]:
    """Failures for any stage whose row count exceeds the previous one."""
    errs = []
    prev_name, prev = None, None
    for name in order:
        if name not in stages:
            continue
        rows = stages[name].get("rows", 0)
        if prev is not None and rows > prev:
            errs.append(f"stage {name} has {rows} rows > {prev_name} {prev}")
        prev_name, prev = name, rows
    return errs


def ids_subset(out_ids, in_ids, what: str) -> list[str]:
    extra = set(out_ids) - set(in_ids)
    return [f"{what}: {len(extra)} ids not in the input, e.g. {sorted(extra)[:3]}"] if extra else []


def no_duplicate_ids(ids, what: str) -> list[str]:
    ids = list(ids)
    return [f"{what}: {len(ids) - len(set(ids))} duplicate ids"] if len(ids) != len(set(ids)) else []
