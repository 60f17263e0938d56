"""The benchmark's own model of an Iceberg table's live rows.

The table-ops workload appends contiguous ``l_orderkey`` slices of
lineitem and deletes rows by predicate; the model replays the same
operations on the source rows with numpy, independently of either read
plane, so every read can be checked against it:

* a point read (``l_orderkey = k``) must return the model's rows for
  ``k``, row for row;
* a full scan must match the model's row count and checksums.

Rows are compared in a canonical form: a tuple of the column values in
``COLUMNS`` order, with ``l_shipdate`` as a ``YYYY-MM-DD HH:MM:SS``
string (what Spark's ``cast(l_shipdate as string)`` gives in UTC)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

COLUMNS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
)

#: Spark SQL for the scan summary; must match ``LiveRows.scan_summary``.
SCAN_SUMMARY_SQL = (
    "count(*) AS n",
    "sum(l_orderkey * 8 + l_linenumber) AS key_sum",
    "sum(cast(round(l_extendedprice * 100) AS bigint)) AS price_cents",
)


class LiveRows:
    def __init__(self, lineitem: pa.Table) -> None:
        t = lineitem.sort_by([("l_orderkey", "ascending"), ("l_linenumber", "ascending")])
        self.table = t
        self.key = t["l_orderkey"].to_numpy()
        self.line = t["l_linenumber"].to_numpy().astype(np.int64)
        self.price = t["l_extendedprice"].to_numpy()
        self.flag = np.asarray(t["l_returnflag"].to_pylist())
        self.live = np.zeros(len(t), dtype=bool)
        self.appended = np.zeros(len(t), dtype=bool)
        ship = t["l_shipdate"].cast(pa.timestamp("us")).to_numpy()
        self._ship = np.char.replace(
            np.datetime_as_string(ship, unit="s").astype(str), "T", " "
        )

    def key_range(self, lo: int, hi: int) -> slice:
        a, b = np.searchsorted(self.key, [lo, hi])
        return slice(int(a), int(b))

    def append(self, lo: int, hi: int) -> int:
        """Rows with lo <= l_orderkey < hi become live; returns their count.
        Slices must not overlap earlier appends."""
        s = self.key_range(lo, hi)
        if self.appended[s].any():
            raise ValueError(f"slice [{lo}, {hi}) overlaps an earlier append")
        self.appended[s] = True
        self.live[s] = True
        return s.stop - s.start

    def delete(self, lo: int, hi: int, flag: str) -> int:
        """Live rows with lo <= l_orderkey < hi and l_returnflag = flag are
        deleted; returns how many were live."""
        s = self.key_range(lo, hi)
        hit = self.live[s] & (self.flag[s] == flag)
        self.live[s] &= ~hit
        return int(hit.sum())

    @staticmethod
    def delete_sql(lo: int, hi: int, flag: str) -> str:
        return f"l_orderkey >= {lo} AND l_orderkey < {hi} AND l_returnflag = '{flag}'"

    def rows_of(self, k: int) -> list[tuple]:
        s = self.key_range(k, k + 1)
        idx = np.nonzero(self.live[s])[0] + s.start
        return sorted(self._row(i) for i in idx)

    def _row(self, i: int) -> tuple:
        vals = []
        for c in COLUMNS:
            if c == "l_shipdate":
                vals.append(str(self._ship[i]))
            else:
                v = self.table[c][int(i)].as_py()
                vals.append(v)
        return tuple(vals)

    def scan_summary(self) -> tuple[int, int, int]:
        m = self.live
        n = int(m.sum())
        key_sum = int((self.key[m] * 8 + self.line[m]).sum())
        cents = int(np.round(self.price[m] * 100).astype(np.int64).sum())
        return n, key_sum, cents

    def live_arrow_bytes(self) -> int:
        return int(self.table.filter(pa.array(self.live)).nbytes)

    def check_point(self, k: int, rows) -> bool:
        """True when ``rows`` (tuples in COLUMNS order) are exactly the
        live rows of key ``k``."""
        return sorted(tuple(r) for r in rows) == self.rows_of(k)

    def check_scan(self, summary) -> bool:
        return tuple(int(x or 0) for x in summary) == self.scan_summary()
