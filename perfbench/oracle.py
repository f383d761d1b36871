"""Expected results, computed from the generators' values alone.

Each ETL output table is compared through a digest: the row count, a
key-set digest (sum of CRC-32 over the ``|``-joined key), the CRC-32 sum
of every checked string field and the sum of every checked numeric
field.  The same digest is computed on the program's output in Spark
(:func:`spark_digest`) and in plain Python from the generated inputs
(:func:`py_digest`).  Curation output is checked exactly with a
union-find over the candidate pairs the program emitted.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass


@dataclass(frozen=True)
class TableSpec:
    keys: tuple[str, ...]
    strings: tuple[str, ...] = ()
    numbers: tuple[str, ...] = ()


def _crc(s: str) -> int:
    return zlib.crc32(s.encode())


def py_digest(rows: list[dict], spec: TableSpec) -> dict:
    out = {"rows": len(rows), "key_crc": sum(_crc("|".join(str(r[k]) for k in spec.keys)) for r in rows)}
    for f in spec.strings:
        out[f"crc:{f}"] = sum(_crc(r[f]) for r in rows if r[f] is not None)
    for f in spec.numbers:
        out[f"sum:{f}"] = sum(r[f] for r in rows if r[f] is not None)
    return out


def spark_digest(df, spec: TableSpec) -> dict:
    """The same digest over a Spark DataFrame, in one aggregation job."""
    from pyspark.sql import functions as F

    def crc(c):
        return F.crc32(c.cast("string").cast("binary"))

    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(crc(F.concat_ws("|", *[F.col(k).cast("string") for k in spec.keys]))).alias("key_crc"),
    ]
    aggs += [F.sum(crc(F.col(f))).alias(f"crc:{f}") for f in spec.strings]
    aggs += [F.sum(F.col(f).cast("long")).alias(f"sum:{f}") for f in spec.numbers]
    row = df.agg(*aggs).collect()[0].asDict()
    return {k: (v if v is not None else 0) for k, v in row.items()}


def merge_rows(docs, key, policies: dict, lww: tuple[str, ...] = ()) -> list[dict]:
    """Keyed merge in arrival order.  ``policies`` maps a field to
    ``max``, ``add`` or ``first_non_null``; fields in ``lww`` take the
    last written value."""
    merged: dict = {}
    for d in docs:
        k = key(d)
        cur = merged.get(k)
        if cur is None:
            merged[k] = dict(d)
            continue
        for f, p in policies.items():
            new = d[f]
            if p == "max":
                cur[f] = new if cur[f] is None else (cur[f] if new is None else max(cur[f], new))
            elif p == "add":
                cur[f] = (cur[f] or 0) + (new or 0)
            elif p == "first_non_null":
                if cur[f] is None:
                    cur[f] = new
            else:
                raise ValueError(f"unknown policy {p!r}")
        for f in lww:
            cur[f] = d[f]
    return list(merged.values())


def check_digests(got: dict[str, dict], want: dict[str, dict]) -> list[str]:
    """Human-readable mismatches (empty when every digest agrees)."""
    bad = []
    for table, w in want.items():
        g = got.get(table)
        if g is None:
            bad.append(f"{table}: missing")
            continue
        for k, v in w.items():
            if g.get(k) != v:
                bad.append(f"{table}.{k}: got {g.get(k)} want {v}")
    return bad


def union_find_clusters(ids, pairs, score: dict) -> dict:
    """Expected ``canonicalize_clusters`` output keyed by id: cluster id
    (smallest member id), keep flag and ``dup_of`` (the highest-score
    member, ties to the smallest id)."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict = {}
    for i in ids:
        members.setdefault(find(i), []).append(i)
    out = {}
    for group in members.values():
        cluster = min(group)
        keeper = min(group, key=lambda i: (-score[i], i))
        for i in group:
            out[i] = (cluster, i == keeper, None if i == keeper else keeper)
    return out
