"""Correctness gate: order-independent digests computed by DuckDB.

The expected side is the frozen DuckDB flagship oracle
(``fixtures.flagship_oracle_sql``) over the landed input; the observed
side is the same digest over the parquet files the job committed. A
digest is ``(rows, sum of per-row hashes)``, so it ignores row order and
file layout but not a single changed, missing or extra span.
"""

from __future__ import annotations

import duckdb

from dd_ops_ocr_spark import fixtures

_ROW_HASH = 'hash(doc_id, kind, text, media_ref, "order")'


def per_doc_oracle(spans_dir: str, out_path: str) -> None:
    """Write the oracle's per-doc digests ``(doc_id, rows, h)`` to
    ``out_path``; any doc set's expected digest then folds those rows."""
    src = f"{spans_dir}/**/*.parquet"
    q = (
        f"SELECT doc_id, count(*) AS rows, bit_xor({_ROW_HASH}) AS h "
        f"FROM ({fixtures.flagship_oracle_sql(src)}) GROUP BY doc_id"
    )
    with duckdb.connect() as con:
        con.execute(f"COPY ({q}) TO '{out_path}' (FORMAT parquet)")


def expected(per_doc_path: str, doc_ids: list[str] | None = None) -> dict:
    """Expected digest over all docs, or over ``doc_ids`` only."""
    with duckdb.connect() as con:
        if doc_ids is None:
            rows, h, docs = con.execute(
                f"SELECT sum(rows), bit_xor(h), count(*) "
                f"FROM read_parquet('{per_doc_path}')"
            ).fetchone()
        else:
            con.execute("CREATE TABLE ids (doc_id VARCHAR)")
            con.executemany("INSERT INTO ids VALUES (?)", [(d,) for d in doc_ids])
            rows, h, docs = con.execute(
                f"SELECT sum(rows), bit_xor(h), count(*) "
                f"FROM read_parquet('{per_doc_path}') JOIN ids USING (doc_id)"
            ).fetchone()
    return {"rows": int(rows or 0), "hash": str(h or 0), "docs": int(docs)}


def observed(files: list[str]) -> dict:
    """Digest of committed output files (any partition layout)."""
    if not files:
        return {"rows": 0, "hash": "0", "docs": 0}
    with duckdb.connect() as con:
        rows, h, docs = con.execute(
            f"SELECT count(*), bit_xor({_ROW_HASH}), count(DISTINCT doc_id) "
            f"FROM read_parquet(?, union_by_name = true)",
            [files],
        ).fetchone()
    return {"rows": int(rows), "hash": str(h or 0), "docs": int(docs)}


def scalar(sql: str, files: list[str]):
    """One-row aggregate ``sql`` over parquet files exposed as ``t``."""
    listing = ", ".join(f"'{f}'" for f in files)
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet([{listing}], "
                    "union_by_name = true)")
        return con.execute(sql).fetchone()
