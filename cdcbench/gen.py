"""Seeded input generator for the benchmark.

Every CDC input the engine sees is a parquet file written here before the
clock of the epoch that reads it starts; the engine never runs a
generator expression inside a timed region. Files are written with
pyarrow from numpy arrays (no pandas metadata, fixed row-group size),
so one seed gives byte-identical files.

CDC state is kept in memory as column dicts keyed by primary key
order. Epoch e is derived from epoch e-1 with exact churn: the chosen
updates each change one data column, and the change is verified to
move the row's CRC32 fingerprint (the engine's default), so the
engine's change counts are known in advance.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PLAYER_STATS = [
    "cheese_gathered",
    "first",
    "round_played",
    "shaman_cheese",
    "saved_mice",
    "saved_mice_hard",
    "saved_mice_divine",
    "survivor_survivor_count",
    "survivor_mouse_killed",
    "survivor_shaman_count",
    "survivor_round_played",
    "racing_first",
    "racing_podium",
    "racing_round_played",
    "racing_finished_map",
    "defilante_points",
    "defilante_round_played",
    "defilante_finished_map",
]
PLAYER_COLS = ["id", "name", *PLAYER_STATS]
TRIBE_COLS = ["id", "name"]
MEMBER_COLS = ["id_member", "id_tribe"]
PKS = {"player": "id", "tribe": "id", "member": "id_member"}
COLS = {"player": PLAYER_COLS, "tribe": TRIBE_COLS, "member": MEMBER_COLS}


def write_parquet(path: str, cols: dict[str, np.ndarray], order: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table({c: cols[c] for c in order})
    pq.write_table(table, path, row_group_size=1 << 20, compression="snappy")


def fingerprint(cols: dict[str, np.ndarray], order: list[str], i: int) -> int:
    """The engine's default row fingerprint, ``crc32(concat_ws('',
    cast(col as string)...))``, for row ``i``."""
    return zlib.crc32("".join(str(cols[c][i]) for c in order).encode())


def normalized_names(names: np.ndarray) -> np.ndarray:
    """The replica's view of ``player.name``: the engine appends
    ``#0000`` to names without a ``#`` at write time."""
    return np.array(
        [n if "#" in n else n + "#0000" for n in names.tolist()], dtype=object
    )


def _take(cols: dict[str, np.ndarray], idx: np.ndarray) -> dict[str, np.ndarray]:
    return {c: v[idx] for c, v in cols.items()}


def _concat(a: dict, b: dict) -> dict:
    return {c: np.concatenate([a[c], b[c]]) for c in a}


class CdcState:
    """Current source snapshot of player, tribe and member, plus the
    generator that moves it one epoch forward."""

    def __init__(self, seed: int, n_players: int, with_tribes: bool):
        self.rng = np.random.default_rng(seed)
        self.with_tribes = with_tribes
        self.next_id = n_players + 1
        self.tables: dict[str, dict[str, np.ndarray]] = {
            "player": self._new_players(np.arange(1, n_players + 1, dtype=np.int64))
        }
        if with_tribes:
            n_tribes = max(n_players // 100, 10)
            tids = np.arange(1, n_tribes + 1, dtype=np.int64)
            self.tables["tribe"] = {
                "id": tids,
                "name": np.array([f"tribe{t}" for t in tids], dtype=object),
            }
            is_member = self.rng.random(n_players) < 0.8
            mids = self.tables["player"]["id"][is_member]
            self.tables["member"] = {
                "id_member": mids,
                "id_tribe": self.rng.integers(1, n_tribes + 1, len(mids)),
            }

    def _new_players(self, ids: np.ndarray) -> dict[str, np.ndarray]:
        n = len(ids)
        # ~10% of names lack '#', which exercises name normalization
        hashed = self.rng.random(n) >= 0.1
        tags = self.rng.integers(0, 10000, n)
        names = np.array(
            [
                f"p{i}#{t:04d}" if h else f"p{i}"
                for i, t, h in zip(ids.tolist(), tags.tolist(), hashed.tolist())
            ],
            dtype=object,
        )
        cols = {"id": ids, "name": names}
        for c in PLAYER_STATS:
            # round_played etc. include zeros: scores hit NULL division
            cols[c] = self.rng.integers(0, 1000, n)
        return cols

    def rows(self, table: str) -> int:
        return len(self.tables[table][PKS[table]])

    def _bump(self, table: str, cols: dict, idx: np.ndarray) -> None:
        """Change one data column of each row in ``idx`` so that its
        fingerprint moves."""
        order = COLS[table]
        for i in idx.tolist():
            before = fingerprint(cols, order, i)
            while True:
                if table == "player":
                    c = PLAYER_STATS[self.rng.integers(len(PLAYER_STATS))]
                    cols[c][i] += int(self.rng.integers(1, 50))
                elif table == "tribe":
                    cols["name"][i] = f"{cols['name'][i]}+"
                else:
                    n_tribes = self.rows("tribe")
                    old = cols["id_tribe"][i]
                    cols["id_tribe"][i] = (old + self.rng.integers(1, n_tribes)) % n_tribes + 1
                if fingerprint(cols, order, i) != before:
                    break

    def snapshot_epoch(self, update_frac: float, insert_frac: float, delete_frac: float) -> dict:
        """Move every table one full-snapshot epoch forward; returns the
        expected per-table ``(inserts, updates, deletes)``."""
        counts = {}
        players = self.tables["player"]
        n = self.rows("player")
        n_upd, n_ins, n_del = (
            round(n * update_frac),
            round(n * insert_frac),
            round(n * delete_frac),
        )
        pick = self.rng.permutation(n)
        upd, dele = np.sort(pick[:n_upd]), np.sort(pick[n_upd : n_upd + n_del])
        players = {c: v.copy() for c, v in players.items()}
        self._bump("player", players, upd)
        deleted_ids = players["id"][dele]
        keep = np.ones(n, dtype=bool)
        keep[dele] = False
        new_ids = np.arange(self.next_id, self.next_id + n_ins, dtype=np.int64)
        self.next_id += n_ins
        self.tables["player"] = _concat(_take(players, keep), self._new_players(new_ids))
        counts["player"] = (n_ins, n_upd, n_del)
        if self.with_tribes:
            counts.update(self._tribe_member_epoch(update_frac, deleted_ids, new_ids))
        return counts

    def _tribe_member_epoch(self, update_frac, deleted_ids, new_ids) -> dict:
        tribes = {c: v.copy() for c, v in self.tables["tribe"].items()}
        t_upd = np.sort(self.rng.permutation(len(tribes["id"]))[: max(1, round(len(tribes["id"]) * update_frac))])
        self._bump("tribe", tribes, t_upd)
        self.tables["tribe"] = tribes

        members = {c: v.copy() for c, v in self.tables["member"].items()}
        gone = np.isin(members["id_member"], deleted_ids)
        candidates = np.flatnonzero(~gone)
        m_upd = np.sort(self.rng.choice(candidates, round(len(members["id_member"]) * update_frac), replace=False))
        self._bump("member", members, m_upd)
        joiners = new_ids[self.rng.random(len(new_ids)) < 0.8]
        joined = {
            "id_member": joiners,
            "id_tribe": self.rng.integers(1, len(tribes["id"]) + 1, len(joiners)),
        }
        self.tables["member"] = _concat(_take(members, ~gone), joined)
        return {
            "tribe": (0, len(t_upd), 0),
            "member": (len(joiners), len(m_upd), int(gone.sum())),
        }

    def delta_batch(self, frac: float) -> tuple[dict[str, np.ndarray], dict]:
        """One streamed delta file of ``frac`` x players arriving rows:
        80% updates, 10% inserts, 10% unchanged re-deliveries. Applies
        it to the state and returns ``(rows, expected counts)``."""
        players = {c: v.copy() for c, v in self.tables["player"].items()}
        n = len(players["id"])
        size = round(n * frac)
        n_upd, n_ins = round(size * 0.8), round(size * 0.1)
        n_same = size - n_upd - n_ins
        pick = self.rng.permutation(n)
        upd, same = np.sort(pick[:n_upd]), np.sort(pick[n_upd : n_upd + n_same])
        self._bump("player", players, upd)
        new_ids = np.arange(self.next_id, self.next_id + n_ins, dtype=np.int64)
        self.next_id += n_ins
        fresh = self._new_players(new_ids)
        self.tables["player"] = _concat(players, fresh)
        batch = _concat(_take(players, np.concatenate([upd, same])), fresh)
        order = self.rng.permutation(len(batch["id"]))
        return _take(batch, order), {"inserts": n_ins, "updates": n_upd, "unchanged": n_same}

    def write_snapshot(self, table: str, path: str) -> None:
        write_parquet(path, self.tables[table], COLS[table])

    def expected(self, table: str) -> dict[str, np.ndarray]:
        """The replica's expected data columns, sorted by primary key."""
        cols = self.tables[table]
        order = np.argsort(cols[PKS[table]], kind="stable")
        out = _take(cols, order)
        if table == "player":
            out["name"] = normalized_names(out["name"])
        return out

    def write_expected(self, table: str, path: str) -> None:
        write_parquet(path, self.expected(table), COLS[table])
