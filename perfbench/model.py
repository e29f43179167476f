"""DuckDB model of the table the benchmark builds.

It applies the generated batches under ``event_time_wins`` (an incoming
row replaces the stored row of its key when its precombine value is at
least as large; ties go to the incoming batch) and answers the same
questions the benchmark asks the engine, so every read and the final
snapshot can be checked. Batch keys are distinct, so no in-batch
precombine is needed.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

#: order-independent row checksum; every term is non-negative and far
#: below 2**63, so Spark and DuckDB compute the same integers
CHECKSUM_SQL = "sum((id * 1000003 + ts * 7919 + v + length(pad)) % 2147483647)"
AGG_SQL = f"count(*), sum(v), {CHECKSUM_SQL}"


class Model:
    def __init__(self, base: pa.Table):
        self.db = duckdb.connect(":memory:")
        self.db.register("base_in", base)
        self.db.execute("CREATE TABLE t AS SELECT * FROM base_in")
        self.db.unregister("base_in")

    def apply(self, batch: pa.Table) -> None:
        self.db.register("b", batch)
        self.db.execute("DELETE FROM t USING b WHERE t.id = b.id AND b.ts >= t.ts")
        self.db.execute(
            "INSERT INTO t SELECT b.* FROM b ANTI JOIN t ON t.id = b.id"
        )
        self.db.unregister("b")

    def agg(self, part: int | None = None) -> tuple:
        where = "" if part is None else f"WHERE part = {int(part)}"
        row = self.db.execute(f"SELECT {AGG_SQL} FROM t {where}").fetchone()
        return tuple(int(x or 0) for x in row)

    def rows_in_parts(self, parts) -> int:
        parts = sorted({int(p) for p in parts})
        if not parts:
            return 0
        sql = f"SELECT count(*) FROM t WHERE part IN ({','.join(map(str, parts))})"
        return int(self.db.execute(sql).fetchone()[0])

    def lookup(self, keys: list[int]) -> list[tuple]:
        sql = (
            "SELECT id, part, ts, v, pad FROM t WHERE id IN "
            f"({','.join(str(int(k)) for k in keys)}) ORDER BY id"
        )
        return [tuple(r) for r in self.db.execute(sql).fetchall()]

    def close(self) -> None:
        self.db.close()
