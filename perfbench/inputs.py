"""Seeded benchmark inputs, built with DuckDB from the sf0.1 test tables.

Replicated tables follow ``scripts/make_scale_dir.py``: ``factor``
copies, with the id column shifted by ``copy * (max_id + 1)`` so ids
stay unique and the queries' fixed sides stay constant while the corpus
grows. Other tables are copied unchanged.

Seed 0 keeps the source row order (replicated tables ordered by id, as
``make_scale_dir.py`` writes them). Any other seed permutes the rows by
a seeded hash without changing their content, so every seed holds the
same rows and the same answers.
"""

from __future__ import annotations

import os
import shutil

import duckdb

# id column of each table that grows with the corpus
ID_COLS = {"documents": "doc_id", "embeddings": "vec_id", "events": "event_id"}


def _seeded_order(key: str, seed: int) -> str:
    return f"md5(CAST({key} AS VARCHAR) || ':{seed}')"


def build(src_dir: str, out_dir: str, tables: tuple[str, ...], factor: int,
          seed: int) -> dict[str, dict[str, int]]:
    """Write ``tables`` into ``out_dir``; return rows and bytes of each."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        for t in tables:
            src = f"{src_dir}/{t}.parquet"
            dst = f"{out_dir}/{t}.parquet"
            idc = ID_COLS.get(t)
            if factor > 1 and idc:
                span = con.sql(
                    f"SELECT max({idc}) + 1 FROM read_parquet('{src}')"
                ).fetchone()[0]
                cols = [r[0] for r in con.sql(
                    f"DESCRIBE SELECT * FROM read_parquet('{src}')"
                ).fetchall()]
                sel = ", ".join(
                    f"{c} + k.k * {span} AS {c}" if c == idc else c
                    for c in cols
                )
                order = _seeded_order(idc, seed) if seed else idc
                con.sql(f"""
                    COPY (
                      SELECT {sel} FROM read_parquet('{src}')
                      CROSS JOIN (SELECT unnest(range({factor})) AS k) k
                      ORDER BY {order}
                    ) TO '{dst}' (FORMAT parquet)
                """)
            elif seed:
                con.sql(f"""
                    COPY (
                      SELECT * EXCLUDE (file_row_number)
                      FROM read_parquet('{src}', file_row_number = true)
                      ORDER BY {_seeded_order('file_row_number', seed)}
                    ) TO '{dst}' (FORMAT parquet)
                """)
            else:
                shutil.copyfile(src, dst)
        return {
            t: {
                "rows": con.sql(
                    f"SELECT count(*) FROM read_parquet('{out_dir}/{t}.parquet')"
                ).fetchone()[0],
                "bytes": os.path.getsize(f"{out_dir}/{t}.parquet"),
            }
            for t in tables
        }
    finally:
        con.close()
