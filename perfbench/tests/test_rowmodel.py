"""The table-ops row model, and that a wrong read counts as failed."""

import datetime as dt
import types

import pyarrow as pa
import pytest

from perfbench.rowmodel import LiveRows


def _lineitem():
    rows = []
    for k in range(6):
        for ln in range(1, 4):
            rows.append({
                "l_orderkey": k, "l_partkey": 10 * k + ln, "l_suppkey": ln,
                "l_linenumber": ln, "l_quantity": float(ln),
                "l_extendedprice": 100.0 * k + ln + 0.25, "l_discount": 0.05,
                "l_tax": 0.01, "l_returnflag": "RAN"[ln - 1], "l_linestatus": "F",
                "l_shipdate": dt.datetime(1996, 1, 1 + k),
            })
    rows.reverse()  # the model must not rely on source order
    return pa.Table.from_pylist(rows).cast(pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
        ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us")),
    ]))


@pytest.fixture()
def model():
    m = LiveRows(_lineitem())
    assert m.append(0, 3) == 9
    return m


def test_append_and_point_rows(model):
    rows = model.rows_of(1)
    assert [r[3] for r in rows] == [1, 2, 3]
    assert rows[0] == (1, 11, 1, 1, 1.0, 101.25, 0.05, 0.01, "R", "F", "1996-01-02 00:00:00")
    assert model.rows_of(4) == []  # not appended yet
    with pytest.raises(ValueError):
        model.append(2, 5)  # overlaps the first slice


def test_delete_by_predicate(model):
    assert model.delete(0, 2, "A") == 2  # line 2 of keys 0 and 1
    assert [r[3] for r in model.rows_of(0)] == [1, 3]
    assert model.delete(0, 2, "A") == 0  # already gone
    assert model.scan_summary()[0] == 7
    assert "l_returnflag = 'A'" in LiveRows.delete_sql(0, 2, "A")


def test_scan_summary(model):
    n, key_sum, cents = model.scan_summary()
    assert n == 9
    assert key_sum == sum(k * 8 + ln for k in range(3) for ln in range(1, 4))
    assert cents == sum(round((100.0 * k + ln + 0.25) * 100) for k in range(3) for ln in range(1, 4))


def test_wrong_reads_are_rejected(model):
    good = model.rows_of(2)
    assert model.check_point(2, list(reversed(good)))
    assert not model.check_point(2, good[:-1])  # a row missing
    bad = list(good)
    bad[0] = bad[0][:5] + (bad[0][5] + 0.01,) + bad[0][6:]
    assert not model.check_point(2, bad)  # a value off
    model.delete(2, 3, "N")
    assert not model.check_point(2, good)  # a deleted row still returned
    assert model.check_scan(model.scan_summary())
    n, k, c = model.scan_summary()
    assert not model.check_scan((n + 1, k, c))


def test_wrong_read_counts_as_failed_op(model):
    """A read that disagrees with the model fails its op and the run."""
    from perfbench.run import Ctx, result

    args = types.SimpleNamespace(workload="iceberg_table_ops", seed=1, seconds=1, trace=0)
    ctx = Ctx(args, "/nonexistent")
    for rows, expect in ((model.rows_of(1), True), (model.rows_of(1)[1:], False)):
        rec = {"kind": "point_read", "id": 1, "measured": True, "ok": None}
        ctx.verdict(rec, model.check_point(1, rows), "point_read key 1")
        ctx.ops.append(rec)
        assert rec["ok"] is expect
    out = result(ctx, {})
    assert (out["correct"], out["attempted"], out["failed"]) == (False, 2, 1)
