"""Seeded inputs and the independent answer model they imply.

Everything the engine receives is a Parquet file written here with
pyarrow; every expected answer is computed here with numpy from the
same arrays, never by reading the engine's output back.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = np.array(
    (
        "amber birch cedar delta ember fjord grove harbor inlet juniper "
        "kestrel lagoon meadow nectar orchid prairie quartz ridge summit "
        "thicket umber vale willow zenith"
    ).split()
)
MAX_INT = 1317317  # the reference generator's integer bound
DAY0 = dt.date(2026, 1, 1)
EPOCH_US = int(dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def words(r: np.random.Generator, n: int) -> list[str]:
    picks = r.integers(0, len(WORDS), size=(n, 3))
    w = WORDS[picks]
    return [" ".join(t) for t in w]


def reference_columns(r: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """The reference schema: my_col_0 int, my_col_1 string, my_col_2 double."""
    return {
        "my_col_0": r.integers(1, MAX_INT, size=n).astype(np.int32),
        "my_col_1": np.array(words(r, n), dtype=object),
        "my_col_2": r.random(n) * 1000.0,
    }


def write(path: str, table: pa.Table) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def reference_file(path: str, cols: dict[str, np.ndarray], dirty: bool) -> int:
    """One landed file; a dirty file carries the reference's trailing
    all-NULL row."""
    t = pa.table(
        {
            "my_col_0": pa.array(cols["my_col_0"], pa.int32()),
            "my_col_1": pa.array(cols["my_col_1"], pa.string()),
            "my_col_2": pa.array(cols["my_col_2"], pa.float64()),
        }
    )
    if dirty:
        null = pa.table(
            {
                "my_col_0": pa.array([None], pa.int32()),
                "my_col_1": pa.array([None], pa.string()),
                "my_col_2": pa.array([None], pa.float64()),
            }
        )
        t = pa.concat_tables([t, null])
    return write(path, t)


def event_columns(r: np.random.Generator, first_id: int, n: int, day: int) -> dict[str, np.ndarray]:
    """Keyed events: contiguous ids, event time inside ``day``."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    cols = reference_columns(r, n)
    cols["id"] = ids
    cols["ts"] = EPOCH_US + day * 86_400_000_000 + np.sort(r.integers(0, 86_400_000_000, size=n))
    cols["day"] = np.full(n, day, dtype=np.int32)
    return cols


def event_table(cols: dict[str, np.ndarray], with_day: bool) -> pa.Table:
    data = {
        "id": pa.array(cols["id"], pa.int64()),
        "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
        "my_col_0": pa.array(cols["my_col_0"], pa.int32()),
        "my_col_1": pa.array(cols["my_col_1"], pa.string()),
        "my_col_2": pa.array(cols["my_col_2"], pa.float64()),
    }
    if with_day:
        data["day"] = pa.array(
            [DAY0 + dt.timedelta(days=int(d)) for d in cols["day"]], pa.date32()
        )
    return pa.table(data)


def day_of(i: int) -> dt.date:
    return DAY0 + dt.timedelta(days=int(i))


class EventModel:
    """Column arrays of every row the events table should hold."""

    def __init__(self):
        self.parts: list[dict[str, np.ndarray]] = []
        self._cat: dict[str, np.ndarray] | None = None

    def add(self, cols: dict[str, np.ndarray]) -> None:
        self.parts.append({k: cols[k] for k in ("id", "day", "my_col_0", "my_col_2")})
        self._cat = None

    @property
    def cols(self) -> dict[str, np.ndarray]:
        if self._cat is None:
            self._cat = {
                k: np.concatenate([p[k] for p in self.parts]) for k in self.parts[0]
            }
        return self._cat

    def count(self) -> int:
        return int(len(self.cols["id"]))

    def sum0(self, mask=None) -> int:
        v = self.cols["my_col_0"].astype(np.int64)
        return int(v[mask].sum() if mask is not None else v.sum())

    def mean2(self) -> float:
        return float(self.cols["my_col_2"].mean())

    def row(self, key: int) -> tuple[int, float]:
        i = int(np.searchsorted(self.cols["id"], key))
        return int(self.cols["my_col_0"][i]), float(self.cols["my_col_2"][i])

    def days(self, lo: int, hi: int) -> tuple[int, int]:
        m = (self.cols["day"] >= lo) & (self.cols["day"] <= hi)
        return int(m.sum()), self.sum0(m)


class KeyedModel:
    """id -> (balance, tier): the state a keyed table should hold after
    the same upserts and deletes."""

    def __init__(self, ids: np.ndarray, balance: np.ndarray, tier: list[str]):
        self.rows = {int(i): (int(b), t) for i, b, t in zip(ids, balance, tier)}

    def upsert(self, ids, balance, tier) -> tuple[int, int]:
        """Apply one MERGE; returns (updated, inserted) — the delete and
        insert counts its change feed must show."""
        updated = inserted = 0
        for i, b, t in zip(ids, balance, tier):
            i = int(i)
            if i in self.rows:
                updated += 1
            else:
                inserted += 1
            self.rows[i] = (int(b), t)
        return updated, inserted

    def delete_range(self, lo: int, hi: int) -> int:
        gone = [k for k in self.rows if lo <= k < hi]
        for k in gone:
            del self.rows[k]
        return len(gone)


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))
