"""Seeded pgoutput change feed and its pure-Python reference apply.

The feed stands in for a Postgres replication socket: two relations, a
snapshot of live rows, then transactions of INSERT/UPDATE/DELETE frames
wrapped in BEGIN/COMMIT, some of them replayed from another node (an
ORIGIN frame inside the transaction), some updates carrying
``[unchanged]`` TOAST columns, a mid-stream RELATION re-send that renames
a column, and a TRUNCATE. Each file of frames is one micro-batch.

Next to the wire frames the generator emits the same changes as plain
tuples; :class:`ReferenceState` applies them one by one in LSN order, the
way the reference consumer walks its stream, and never touches Spark.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

from python_cdc_spark.cdc.pgoutput import (
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_origin,
    encode_relation,
    encode_truncate,
    encode_update,
)
from python_cdc_spark.schemas import UNCHANGED_SENTINEL

SCHEMA = "public"
#: relid -> (table, columns); column 0 is the key, the last one is the
#: long text column that updates may leave ``[unchanged]`` (TOAST)
RELATIONS = {
    16401: ("accounts", ["id", "name", "status", "balance", "note"]),
    16402: ("orders", ["id", "customer", "amount", "state", "memo"]),
}
#: the rename each drain applies: (relid, column index, old name, new name)
RENAMES = [(16401, 2, "status", "tier"), (16401, 2, "tier", "status")]
ORIGIN_NAME = "node_b"
_WORDS = "alpha bravo delta echo golf hotel kilo lima mike oscar papa sierra".split()


@dataclass
class Change:
    """One logical change, as the reference consumer would see it."""

    lsn: int
    op: str  # INSERT | UPDATE | DELETE | TRUNCATE
    table: str
    key: str | None
    values: dict | None
    replayed: bool  # inside a transaction that carries an ORIGIN frame


@dataclass
class FileBatch:
    """One file of frames (one micro-batch) and the changes it encodes."""

    lsns: list = field(default_factory=list)
    frames: list = field(default_factory=list)
    changes: list = field(default_factory=list)

    @property
    def n_events(self) -> int:
        return len(self.changes)


class FeedGenerator:
    """Deterministic change stream over a fixed key space.

    The generator tracks which keys are live as the engine will see
    them, so every UPDATE and DELETE hits a live row and every INSERT a
    free key. Replayed (origin-tagged) transactions only update live
    rows: whether a subscriber keeps or drops them, the key set stays
    the same, so one stream serves both the ``origin="none"`` and the
    ``origin="any"`` subscriber.
    """

    def __init__(self, seed: int, keys_per_table: dict[str, int],
                 replayed_share: float = 0.1, toast_share: float = 0.3,
                 txn_size: int = 5) -> None:
        self.rng = random.Random(seed)
        self.replayed_share = replayed_share
        self.toast_share = toast_share
        self.txn_size = txn_size
        self.columns = {rid: list(cols) for rid, (_, cols) in RELATIONS.items()}
        self.relid = {t: rid for rid, (t, _) in RELATIONS.items()}
        self.live: dict[str, list[int]] = {}
        self.pos: dict[str, dict[int, int]] = {}
        self.free: dict[str, list[int]] = {}
        self.next_key: dict[str, int] = {}
        for table, n in keys_per_table.items():
            self.live[table] = list(range(n))
            self.pos[table] = {k: i for i, k in enumerate(self.live[table])}
            self.free[table] = []
            self.next_key[table] = n
        self.lsn = 8
        self.sent_relations = False
        self.renames_done = 0

    # -- snapshot --------------------------------------------------------

    def snapshot_rows(self, table: str) -> list[dict]:
        """Initial live rows of ``table`` (all values are text)."""
        cols = self.columns[self.relid[table]]
        return [self._row(cols, k) for k in self.live[table]]

    def _row(self, cols: list[str], key: int) -> dict:
        r = self.rng
        vals = [
            str(key),
            f"n{r.randrange(10**6)}",
            r.choice(("active", "idle", "closed", "vip")),
            str(r.randrange(10**5)),
            " ".join(r.choice(_WORDS) for _ in range(4)),
        ]
        return dict(zip(cols, vals))

    def snapshot_file(self, txn_rows: int = 500) -> "FileBatch":
        """The initial load as wire frames: every live row as an INSERT,
        in transactions of ``txn_rows`` rows."""
        fb = FileBatch()
        self._relations(fb)
        for relid, (table, _) in RELATIONS.items():
            cols = self.columns[relid]
            keys = self.live[table]
            for lo in range(0, len(keys), txn_rows):
                self._emit(fb, encode_begin())
                for key in keys[lo:lo + txn_rows]:
                    row = self._row(cols, key)
                    self._emit(fb, encode_insert(relid, [row[c] for c in cols]),
                               Change(0, "INSERT", table, str(key), row, False))
                self._emit(fb, encode_commit())
        return fb

    def _relations(self, fb: "FileBatch") -> None:
        if not self.sent_relations:
            for relid in RELATIONS:
                self._emit(fb, self._relation_frame(relid))
            self.sent_relations = True

    # -- key bookkeeping -------------------------------------------------

    def _take_live(self, table: str) -> int | None:
        live = self.live[table]
        return live[self.rng.randrange(len(live))] if live else None

    def _kill(self, table: str, key: int) -> None:
        live, pos = self.live[table], self.pos[table]
        i = pos.pop(key)
        last = live.pop()
        if last != key:
            live[i] = last
            pos[last] = i
        self.free[table].append(key)

    def _revive(self, table: str) -> int:
        free = self.free[table]
        if free:
            key = free.pop(self.rng.randrange(len(free)))
        else:
            key = self.next_key[table]
            self.next_key[table] += 1
        self.pos[table][key] = len(self.live[table])
        self.live[table].append(key)
        return key

    # -- frames ----------------------------------------------------------

    def _emit(self, fb: FileBatch, frame: bytes, change: Change | None = None) -> int:
        lsn = self.lsn
        self.lsn += 8
        fb.lsns.append(lsn)
        fb.frames.append(frame)
        if change is not None:
            change.lsn = lsn
            fb.changes.append(change)
        return lsn

    def _relation_frame(self, relid: int) -> bytes:
        table, _ = RELATIONS[relid]
        return encode_relation(relid, SCHEMA, table, self.columns[relid])

    def file(self, n_events: int, rename: bool = False,
             truncate: str | None = None) -> FileBatch:
        """The next file of about ``n_events`` DML events, in whole
        transactions. ``rename`` re-sends a relation with a renamed
        column in the middle of the file; ``truncate`` names a table
        to TRUNCATE in the middle of the file."""
        fb = FileBatch()
        self._relations(fb)
        tables = list(self.relid)
        weights = [len(self.live[t]) + len(self.free[t]) for t in tables]
        half = n_events // 2
        while fb.n_events < n_events:
            if rename and fb.n_events >= half:
                relid, idx, old, new = RENAMES[self.renames_done % len(RENAMES)]
                assert self.columns[relid][idx] == old
                self.columns[relid][idx] = new
                self._emit(fb, self._relation_frame(relid))
                self.renames_done += 1
                rename = False
            if truncate and fb.n_events >= half:
                self._truncate(fb, truncate)
                truncate = None
            self._txn(fb, tables, weights, min(self.txn_size, n_events - fb.n_events))
        return fb

    def _truncate(self, fb: FileBatch, table: str) -> None:
        self._emit(fb, encode_begin())
        self._emit(fb, encode_truncate([self.relid[table]]),
                   Change(0, "TRUNCATE", table, None, None, False))
        self._emit(fb, encode_commit())
        for key in list(self.live[table]):
            self._kill(table, key)

    def _txn(self, fb: FileBatch, tables: list[str], weights: list[int],
             size: int) -> None:
        r = self.rng
        replayed = r.random() < self.replayed_share
        self._emit(fb, encode_begin())
        if replayed:
            self._emit(fb, encode_origin(self.lsn, ORIGIN_NAME))
        for _ in range(size):
            table = r.choices(tables, weights)[0]
            relid = self.relid[table]
            cols = self.columns[relid]
            roll = r.random()
            key = self._take_live(table)
            if replayed or (key is not None and roll < 0.7):
                if key is None:
                    continue
                row = self._row(cols, key)
                if r.random() < self.toast_share:
                    row[cols[-1]] = UNCHANGED_SENTINEL
                self._emit(
                    fb,
                    encode_update(relid, [row[c] for c in cols], [str(key)], key_only=True),
                    Change(0, "UPDATE", table, str(key), row, replayed),
                )
            elif key is not None and roll < 0.8:
                self._emit(
                    fb,
                    encode_delete(relid, [str(key)]),
                    Change(0, "DELETE", table, str(key), None, False),
                )
                self._kill(table, key)
            else:
                key = self._revive(table)
                row = self._row(cols, key)
                self._emit(
                    fb,
                    encode_insert(relid, [row[c] for c in cols]),
                    Change(0, "INSERT", table, str(key), row, False),
                )
        self._emit(fb, encode_commit())


class ReferenceState:
    """Sequential apply of :class:`Change` rows, in LSN order.

    Mirrors the engine's documented semantics: DELETE and TRUNCATE end a
    row, INSERT and UPDATE set the columns they carry except those sent
    as ``[unchanged]``, and a renamed column is a new column from the
    relation re-send on. With ``drop_replayed`` the changes of
    origin-tagged transactions are skipped (``origin="none"``).
    """

    def __init__(self, drop_replayed: bool) -> None:
        self.drop_replayed = drop_replayed
        #: (table, key) -> [values dict, last_lsn]
        self.rows: dict[tuple[str, str], list] = {}
        self.applied = 0
        self.dropped = 0

    def seed(self, table: str, rows: list[dict], lsn: int) -> None:
        for row in rows:
            self.rows[(table, row["id"])] = [dict(row), lsn]

    def apply(self, changes: list[Change]) -> None:
        for c in changes:
            if c.replayed and self.drop_replayed:
                self.dropped += 1
                continue
            self.applied += 1
            if c.op == "TRUNCATE":
                for tk in [tk for tk in self.rows if tk[0] == c.table]:
                    del self.rows[tk]
            elif c.op == "DELETE":
                self.rows.pop((c.table, c.key), None)
            else:
                carried = {k: v for k, v in c.values.items() if v != UNCHANGED_SENTINEL}
                row = self.rows.setdefault((c.table, c.key), [{}, None])
                if carried:
                    row[0].update(carried)
                    row[1] = c.lsn

    def digest(self) -> tuple[int, int]:
        """(row count, order-free sum of per-row digests); equal to
        :func:`state_digest_sql` over the same state."""
        total = 0
        for (table, key), (vals, lsn) in self.rows.items():
            total += row_digest(table, key, lsn, vals)
        return len(self.rows), total


def row_digest(table: str, key: str, lsn: int, vals: dict) -> int:
    cells = "\x02".join(f"{k}={v}" for k, v in sorted(vals.items()))
    canon = "\x01".join((table, key, str(lsn), cells))
    return int(hashlib.md5(canon.encode()).hexdigest()[:15], 16)


#: Spark SQL twin of :func:`row_digest`, summed over the state rows
STATE_DIGEST_SQL = """
SELECT count(1) AS n,
       sum(CAST(conv(substr(md5(concat_ws('\\u0001', `table`, id,
             CAST(last_lsn AS STRING),
             concat_ws('\\u0002', transform(array_sort(map_entries(`values`)),
                                             e -> concat(e.key, '=', e.value)))
           )), 1, 15), 16, 10) AS DECIMAL(38, 0))) AS digest
FROM {view}
"""
