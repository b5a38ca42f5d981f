"""Seeded ``sources.txn_table`` operation sequences and an independent
in-memory reference model of the table they produce.

Pure Python, no Spark: the benchmark replays the same sequence against the
engine and checks every read, every change feed and every acknowledged
version against this model.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

KEY = "o_orderkey"
COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
           "o_orderpriority")
# The kinds of one sequence, in order.  The order is fixed so that every op
# meets the same table state whatever the seed (a change feed read after two
# merges costs 30x one read right after the load); the seed picks batches and
# key ranges, and where the sequence falls among the queries.
KINDS = ("load", "merge", "read", "dv_delete", "changes")
BASE_ROWS = 150_000  # orders rows the table is loaded with
BATCH_ROWS = 1_000
KEY_WINDOW = 2_000  # width of the key range a merge, delete or read touches


@dataclass(frozen=True)
class TxnOp:
    kind: str
    rows: tuple = ()  # merge batch rows, in COLUMNS order
    lo: int = 0  # key range [lo, hi] for dv_delete / read
    hi: int = 0


def _row(rng: random.Random, key: int) -> tuple:
    day = dt.datetime(1995, 1, 1) + dt.timedelta(days=rng.randrange(0, 2404))
    return (key, rng.randrange(0, 15_000), rng.choice("FOP"),
            rng.randrange(100_000, 50_000_001) / 100.0, day,
            rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))


def txn_sequence(seed: int, base_rows: int) -> list[TxnOp]:
    """The seeded op list for one pass (``KINDS`` in order).  Merge inserts
    use fresh keys at and above ``base_rows``; merge updates, deletes and
    reads hit a seeded ``KEY_WINDOW`` of existing keys."""
    rng = random.Random(f"txn:{seed}")
    next_key = base_rows
    ops = []
    for kind in KINDS:
        lo = rng.randrange(0, base_rows - KEY_WINDOW)
        if kind == "merge":
            half = BATCH_ROWS // 2
            upd = sorted(rng.sample(range(lo, lo + KEY_WINDOW), half))
            new = range(next_key, next_key + half)
            next_key += half
            ops.append(TxnOp(kind, tuple(_row(rng, k) for k in (*upd, *new))))
        elif kind == "dv_delete":
            ops.append(TxnOp(kind, lo=lo, hi=lo + KEY_WINDOW // 4))
        elif kind in ("read", "changes"):
            ops.append(TxnOp(kind, lo=lo, hi=lo + KEY_WINDOW))
        else:
            ops.append(TxnOp(kind))
    return ops


def aggregate(rows) -> tuple[int, int, int]:
    """(rows, Σ key, Σ price in cents): the engine-independent digest the
    version and change-feed checks compare."""
    n = ks = cents = 0
    for r in rows:
        n += 1
        ks += r[0]
        cents += round(r[3] * 100)
    return n, ks, cents


@dataclass
class TxnModel:
    """The table as a key -> row map, with one frozen copy per committed
    version (the model's own "log")."""

    rows: dict = field(default_factory=dict)
    versions: dict = field(default_factory=dict)  # version -> aggregate()
    head: int = -1

    def _commit(self) -> int:
        self.head += 1
        self.versions[self.head] = aggregate(self.rows.values())
        return self.head

    def apply(self, op: TxnOp, base=None) -> int | None:
        """Apply a write op; returns the version it must commit at, or None
        when the engine must commit nothing (a delete that matches no row)."""
        if op.kind == "load":
            self.rows = {r[0]: r for r in base}
        elif op.kind == "merge":
            self.rows.update((r[0], r) for r in op.rows)
        elif op.kind == "dv_delete":
            gone = [k for k in self.rows if op.lo <= k <= op.hi]
            if not gone:
                return None
            for k in gone:
                del self.rows[k]
        else:
            raise ValueError(f"not a write op: {op.kind}")
        return self._commit()

    def read(self, lo: int, hi: int) -> list[tuple]:
        return [r for k, r in self.rows.items() if lo <= k <= hi]

    def change_digest(self, from_version: int, to_version: int) -> tuple[int, int, int]:
        """Net change between two versions: inserts minus deletes, as an
        aggregate() difference (what any correct change feed nets out to)."""
        a, b = self.versions[from_version], self.versions[to_version]
        return tuple(y - x for x, y in zip(a, b))
