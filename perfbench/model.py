"""The benchmark's own model of the ``transactions`` table.

A latest-wins key model computed apart from the engine: INSERT and
MODIFY upsert the whole image (the later processing time wins inside a
batch), REMOVE is dropped as the reference pipeline drops it, SQL
DELETE applies its predicate row by row, and malformed records are only
counted (they belong in the quarantine table).
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

_EPOCH = dt.datetime(1970, 1, 1)


def row_date(row: dict) -> str:
    """The UTC date partition of a row, ISO text (engine: T3 derive)."""
    return (_EPOCH + dt.timedelta(milliseconds=int(row["timestamp"]))).date().isoformat()


def row_hour_minute(row: dict) -> tuple[int, int]:
    t = _EPOCH + dt.timedelta(milliseconds=int(row["timestamp"]))
    return t.hour, t.minute


class KeyModel:
    def __init__(self) -> None:
        self.rows: dict[str, dict] = {}

    def upsert_batch(self, upserts: list[dict]) -> None:
        for row in sorted(upserts, key=lambda r: int(r["processing_timestamp"])):
            self.rows[row["transaction_id"]] = dict(row)

    def _matching(self, customer_id: str, date: str) -> list[str]:
        return [
            k for k, r in self.rows.items()
            if r["customer_id"] == customer_id and row_date(r) == date
        ]

    def delete(self, customer_id: str, date: str) -> int:
        keys = self._matching(customer_id, date)
        for k in keys:
            del self.rows[k]
        return len(keys)

    def snapshot(self) -> list[dict]:
        """The live rows with the derived columns, as typed values."""
        out = []
        for r in self.rows.values():
            h, m = row_hour_minute(r)
            out.append({
                **r,
                "timestamp": int(r["timestamp"]),
                "processing_timestamp": int(r["processing_timestamp"]),
                "amount": Decimal(r["amount"]),
                "date": dt.date.fromisoformat(row_date(r)),
                "hour": h,
                "minute": m,
            })
        return out
