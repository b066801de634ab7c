"""Workload inputs: generated from the seed, written as parquet files.

Sizes, thresholds and the per-layer map live in ``spec.json`` next to this
file.  The program under test receives only the written table.
"""

from __future__ import annotations

import json
import os
import shutil

_HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec() -> dict:
    with open(os.path.join(_HERE, "spec.json")) as f:
        return json.load(f)


def _write_parquet(dest: str, rows: list, files: int, first: int = 0) -> None:
    """Write (doc_id, spans) dict rows as ``files`` parquet files, in order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    os.makedirs(dest, exist_ok=True)
    per = -(-len(rows) // files)
    for i in range(files):
        table = pa.Table.from_pylist(rows[i * per : (i + 1) * per], schema=schema)
        pq.write_table(table, os.path.join(dest, "part-%05d.parquet" % (first + i)))


def _write_monster_skew(spark, dest: str, wl: dict, seed: int) -> None:
    """Small synthetic documents in ``files - 1`` files, plus a few
    multi-MB documents written together into one more file.  Each large
    document concatenates ``docs_per_monster`` synthetic documents, so
    converter cost per byte matches the small ones."""
    import pyarrow.parquet as pq

    from html2text_spark import sources
    from oracle import parquet_files

    n_small, k = wl["docs"] - wl["monsters"], wl["docs_per_monster"]
    if n_small != wl["monsters"] * k:
        raise ValueError("monster_skew: docs - monsters must equal monsters x docs_per_monster")
    staging = dest + ".staging"
    sources.synthetic_documents(spark, 2 * n_small, seed=seed).write.parquet(staging)
    rows = sorted(
        (r for f in parquet_files(staging) for r in pq.read_table(f).to_pylist()),
        key=lambda r: r["doc_id"],
    )
    shutil.rmtree(staging)
    # even rows stay small documents, odd rows become parts of large ones
    parts = rows[1::2]
    monsters = []
    for g in range(wl["monsters"]):
        spans = [
            s for r in parts[g * k : (g + 1) * k]
            for s in sorted(r["spans"], key=lambda s: s["offset"])
        ]
        monsters.append({
            "doc_id": "monster-%03d" % g,
            "spans": [dict(s, offset=i) for i, s in enumerate(spans)],
        })
    _write_parquet(dest, rows[0::2], wl["files"] - 1)
    _write_parquet(dest, monsters, 1, first=wl["files"] - 1)


def _write_messy(dest: str, wl: dict, seed: int) -> set:
    from messy import FAMILIES, messy_documents

    rows, malformed_ids, seen = messy_documents(
        seed, wl["docs"], wl["malformed_share"], wl["slow_share"]
    )
    missing = [f for f in FAMILIES if not seen.get(f)]
    if missing:
        raise RuntimeError("messy_web generator missed construct families %s" % missing)
    _write_parquet(dest, [{"doc_id": d, "spans": s} for d, s in rows], wl["files"])
    return malformed_ids


def materialize(spark, name: str, wl: dict, seed: int, dest: str) -> set:
    """Write workload ``name``'s input table to ``dest``; return the doc_ids
    the generator built malformed."""
    shutil.rmtree(dest, ignore_errors=True)
    if name == "monster_skew":
        _write_monster_skew(spark, dest, wl, seed)
        return set()
    if name == "messy_web":
        return _write_messy(dest, wl, seed)
    raise ValueError("no generator for workload %s" % name)
