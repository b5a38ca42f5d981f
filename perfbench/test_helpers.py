"""Self-tests for the benchmark's pure helpers (no Spark needed):

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import stats  # noqa: E402
import txnmodel  # noqa: E402
import workloads  # noqa: E402
from txnmodel import TxnModel, TxnOp  # noqa: E402


def test_failed_ratio():
    assert stats.failed_ratio(0, 10) == 0.0
    assert stats.failed_ratio(3, 12) == 0.25
    with pytest.raises(ValueError):
        stats.failed_ratio(0, 0)
    with pytest.raises(ValueError):
        stats.failed_ratio(5, 4)


def test_amplification_and_slot_util():
    assert stats.amplification(300, 100) == 3.0
    assert stats.amplification(100, 100) == 1.0
    with pytest.raises(ValueError):
        stats.amplification(10, 0)
    assert stats.slot_util(8.0, 4.0, 4) == 0.5
    assert stats.slot_util(1.0, 0.0, 4) == 0.0


def test_seeded_sequences_are_deterministic():
    a, b = workloads.ops_for_pass(7, 1), workloads.ops_for_pass(7, 1)
    assert a == b
    assert a != workloads.ops_for_pass(8, 1)
    assert a != workloads.ops_for_pass(7, 2)
    cold = [(kind, item if kind == "query" else item.kind)
            for kind, item in workloads.ops_for_pass(7, 0)]
    assert cold == [(kind, item if kind == "query" else item.kind)
                    for kind, item in workloads.ops_for_pass(8, 0)]
    assert txnmodel.txn_sequence(3, 150_000) == txnmodel.txn_sequence(3, 150_000)


def test_pass_holds_every_op_once_and_txn_order():
    ops = workloads.ops_for_pass(11, 0)
    queries = sorted(item for kind, item in ops if kind == "query")
    assert queries == sorted(workloads.QUERY_OPS)
    txn = [item for kind, item in ops if kind == "txn"]
    assert txn == txnmodel.txn_sequence(11 * 1000, txnmodel.BASE_ROWS)
    assert tuple(op.kind for op in txn) == txnmodel.KINDS


def test_txn_sequence_keys():
    base = 1_000 + txnmodel.KEY_WINDOW
    ops = txnmodel.txn_sequence(5, base)
    for op in ops:
        if op.kind == "merge":
            keys = [r[0] for r in op.rows]
            assert len(set(keys)) == len(keys)  # no ambiguous merge source
            fresh = [k for k in keys if k >= base]
            assert len(fresh) == txnmodel.BATCH_ROWS // 2  # half inserts, half updates
        if op.kind in ("dv_delete", "read", "changes"):
            assert 0 <= op.lo <= op.hi < base


def _row(k, price):
    return (k, 1, "O", price, dt.datetime(1996, 1, 1), "5-LOW")


def test_txn_model_versions_and_changes():
    m = TxnModel()
    assert m.apply(TxnOp("load"), [_row(1, 1.5), _row(2, 2.25), _row(5, 10.0)]) == 0
    assert m.versions[0] == (3, 8, 1375)
    assert m.apply(TxnOp("merge", (_row(7, 0.01),))) == 1
    assert m.apply(TxnOp("merge", (_row(2, 3.0), _row(9, 1.0)))) == 2
    assert m.versions[2] == (5, 24, 1551)
    assert m.apply(TxnOp("dv_delete", lo=1, hi=2)) == 3
    assert sorted(r[0] for r in m.read(0, 100)) == [5, 7, 9]
    assert m.apply(TxnOp("dv_delete", lo=3, hi=4)) is None  # nothing to delete
    assert m.head == 3
    assert m.versions[3] == (3, 21, 1101)
    assert m.change_digest(0, 3) == (0, 13, -274)
    assert m.read(6, 8) == [_row(7, 0.01)]
    with pytest.raises(ValueError):
        m.apply(TxnOp("read"))


def test_fingerprint_is_order_insensitive_and_normalized():
    a = check.fingerprint(["b", "a"], [(1.0, dt.datetime(2024, 1, 2)), (2.5, None)])
    b = check.fingerprint(["a", "b"], [(float("nan"), 2.5), (dt.date(2024, 1, 2), 1)])
    assert a == b
    assert check.mismatch(a, b) is None
    c = check.fingerprint(["a", "b"], [(None, 2.5)])
    assert check.mismatch(c, b).startswith("rows")


def _duckdb_digest(con, sql: str) -> dict:
    rel = con.sql(sql)
    exprs = check.digest_exprs(list(zip(rel.columns, map(str, rel.types))), "duckdb")
    d = con.sql(f"SELECT {', '.join(exprs)} FROM ({sql})")
    return dict(zip(d.columns, d.fetchone()))


def test_column_digest_ignores_types_and_order_but_not_values():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    a = _duckdb_digest(con, "SELECT * FROM (VALUES ('x', 1::BIGINT, DATE '2024-01-02'), "
                            "('y', 2, DATE '2024-01-03'), (NULL, 2, NULL)) t(s, k, d)")
    # other integer width, a timestamp at midnight, other row order
    b = _duckdb_digest(con, "SELECT * FROM (VALUES (NULL, 2::INTEGER, NULL), "
                            "('y', 2, TIMESTAMP '2024-01-03 00:00:00'), "
                            "('x', 1, TIMESTAMP '2024-01-02 00:00:00')) t(s, k, d)")
    assert check.digest_mismatch(a, b) is None
    assert (a["n"], a["s.n"], a["s.distinct"], a["k.distinct"]) == (3, 2, 2, 2)
    c = _duckdb_digest(con, "SELECT * FROM (VALUES ('x', 1::BIGINT, DATE '2024-01-02'), "
                            "('z', 2, DATE '2024-01-03'), (NULL, 2, NULL)) t(s, k, d)")
    assert check.digest_mismatch(c, a).startswith("s.md5_sum")
