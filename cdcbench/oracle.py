"""Final-state oracle, computed with DuckDB outside Spark.

The expected table is the last image per ``(conv_id, turn_idx)`` by
``source_lsn`` over the generated changelog files, with deleted keys
dropped. Generated text is already in the normalize UDF's normal form
(``gen.check_normal_form``), so the oracle applies no normalization.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _canon(t: pa.Table) -> pa.Table:
    """Comparable columns: ints as int64 and timestamps as epoch micros, so
    a naive feed timestamp equals a UTC-zoned table timestamp."""
    cols = []
    for name in COLUMNS:
        c = t.column(name)
        if pa.types.is_timestamp(c.type):
            c = pc.cast(c.cast(pa.timestamp("us", tz=c.type.tz)), pa.int64())
        elif pa.types.is_integer(c.type):
            c = c.cast(pa.int64())
        cols.append(c)
    return pa.table(cols, names=COLUMNS)


def expected(files: list[str]) -> pa.Table:
    """Last image per key over ``files`` (changelog parquet), deletes dropped."""
    con = duckdb.connect()
    try:
        got = con.execute(
            f"""
            SELECT {", ".join(COLUMNS)} FROM (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY source_lsn DESC) AS rn
              FROM read_parquet(?))
            WHERE rn = 1 AND op <> 'D'
            """,
            [list(files)],
        ).arrow()
    finally:
        con.close()
    return _canon(got)


def mismatches(got: pa.Table, want: pa.Table) -> int:
    """Rows in one table and not the other, counted with multiplicity."""
    con = duckdb.connect()
    try:
        con.register("got", _canon(got))
        con.register("want", want)
        return con.execute(
            "SELECT (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want))"
            " + (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))"
        ).fetchone()[0]
    finally:
        con.close()


def as_dict(want: pa.Table) -> dict[tuple[str, int], tuple]:
    """Key -> full canonical row, for checking point lookups."""
    rows = want.to_pylist()
    return {(r["conv_id"], r["turn_idx"]): tuple(r[c] for c in COLUMNS) for r in rows}


def rows(got: pa.Table) -> list[tuple]:
    """A lookup's answer as a list of rows in the form ``as_dict`` stores."""
    return [tuple(r[c] for c in COLUMNS) for r in _canon(got).to_pylist()]
