"""Correctness gate: an independent DuckDB oracle over the staged change log.

The engine's result is checked against plain SQL over the same parquet
files the engine ingested — latest version per (conv_id, turn_idx) by
(ts, op_seq, lsn), deletes dropped — never against another engine call.
Checks run outside the timed window.
"""

from __future__ import annotations

import duckdb

PAYLOAD = "role, text, tool"


class Oracle:
    """Expected table states of one staged change log, each materialized
    once per log prefix (``lsn < lsn_hi``)."""

    def __init__(self, glob: str):
        self.glob = glob
        self.con = duckdb.connect()
        self._states: dict[int, str] = {}

    def close(self) -> None:
        self.con.close()

    def state(self, lsn_hi: int) -> str:
        """Name of a table holding the live state after every event with
        ``lsn < lsn_hi``."""
        name = self._states.get(lsn_hi)
        if name is None:
            name = f"state_{len(self._states)}"
            # union_by_name null-fills `tool` in the pre-evolution files,
            # which physically lack the column
            self.con.execute(f"""
                CREATE TEMP TABLE {name} AS
                SELECT conv_id, turn_idx, {PAYLOAD} FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY conv_id, turn_idx
                    ORDER BY ts DESC, op_seq DESC, lsn DESC) AS rn
                  FROM read_parquet('{self.glob}', union_by_name=true,
                                    hive_partitioning=false)
                  WHERE lsn < {int(lsn_hi)}
                ) WHERE rn = 1 AND op <> 'd'
            """)
            self._states[lsn_hi] = name
        return name

    def live_rows(self, lsn_hi: int) -> int:
        (n,) = self.con.execute(f"SELECT count(*) FROM {self.state(lsn_hi)}").fetchone()
        return int(n)

    def table_mismatches(self, actual_glob: str, lsn_hi: int) -> int:
        """Rows in the symmetric difference of the engine's table (written
        out from ``LakeTable.read()``) and the oracle state."""
        exp = self.state(lsn_hi)
        actual = f"(SELECT conv_id, turn_idx, {PAYLOAD} FROM read_parquet('{actual_glob}'))"
        (extra,) = self.con.execute(
            f"SELECT count(*) FROM (SELECT * FROM {actual} EXCEPT ALL SELECT * FROM {exp})"
        ).fetchone()
        (missing,) = self.con.execute(
            f"SELECT count(*) FROM (SELECT * FROM {exp} EXCEPT ALL SELECT * FROM {actual})"
        ).fetchone()
        return int(extra) + int(missing)

    def rollup_by_role(self, lsn_hi: int) -> list[tuple]:
        """From-scratch (role, turns, chars) aggregate of the state."""
        return sorted(
            self.con.execute(
                f"SELECT role, count(*), coalesce(sum(length(text)), 0) "
                f"FROM {self.state(lsn_hi)} GROUP BY role"
            ).fetchall()
        )

    def conversation(self, lsn_hi: int, conv_id: str) -> list[tuple]:
        """Rows (turn_idx, role, text, tool) of one conversation."""
        return sorted(
            self.con.execute(
                f"SELECT turn_idx, {PAYLOAD} FROM {self.state(lsn_hi)} WHERE conv_id = ?",
                [conv_id],
            ).fetchall()
        )
