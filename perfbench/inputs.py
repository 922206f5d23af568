"""Seeded input generation. Runs before the measured window; the program under
test only ever sees the files written here.

- Tracking CSVs come from ``gridiron_spark.fixtures.tracking_frame`` in both
  header flavours, so the normalizer's alias resolution runs on every ingest.
- Catalog tables are TPC-H-shaped parquet files with the column names, types
  and value domains of the repository's synthetic tables (TESTDATA.md), so
  each catalog entry and its DuckDB oracle run unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gridiron_spark import fixtures

ENTITIES = 23  # 11 home + 11 away + the ball, per fixtures.tracking_frame
BASE_GAME_ID = 2023090000


@dataclass(frozen=True)
class LakeShape:
    games_per_flavor: int
    plays_per_game: int
    frames_per_play: int

    @property
    def games(self) -> int:
        return 2 * self.games_per_flavor

    @property
    def plays(self) -> int:
        return self.games * self.plays_per_game

    @property
    def rows(self) -> int:
        return self.plays * self.frames_per_play * ENTITIES

    @property
    def game_rows(self) -> int:
        return self.plays_per_game * self.frames_per_play * ENTITIES


LAKE = LakeShape(games_per_flavor=2, plays_per_game=20, frames_per_play=50)
LAKE_TINY = LakeShape(games_per_flavor=1, plays_per_game=4, frames_per_play=20)


@dataclass(frozen=True)
class TrackingInputs:
    shape: LakeShape
    csv_dir: Path  # the full-ingest glob is csv_dir/*.csv
    csv_bytes: int
    game_ids: tuple[int, ...]
    upserts: tuple[tuple[int, Path], ...]  # (game id, one-game CSV)


def _flavored(df: pd.DataFrame, flavor: str, offset: int) -> pd.DataFrame:
    out = df.assign(gameId=df["gameId"] + offset)
    if flavor == fixtures.SNAKE:
        out = out.rename(columns=fixtures._SNAKE_RENAME)
    return out


def write_tracking(
    out: Path, shape: LakeShape, seed: int, upserts: bool = True
) -> TrackingInputs:
    """Full-ingest CSVs (one per header flavour, distinct games) plus one
    single-game upsert CSV per flavour that rewrites an existing game with
    new values. Same output as ``fixtures.write_tracking_csvs``: both
    flavours carry the same seeded frame, offset by 1000 game ids."""
    csv_dir = out / "csv"
    csv_dir.mkdir(parents=True)
    base = fixtures.tracking_frame(
        n_games=shape.games_per_flavor,
        plays_per_game=shape.plays_per_game,
        frames_per_play=shape.frames_per_play,
        seed=seed,
        base_game_id=BASE_GAME_ID,
    )
    flavors = (fixtures.CAMEL, fixtures.SNAKE)
    game_ids: list[int] = []
    for i, flavor in enumerate(flavors):
        _flavored(base, flavor, 1000 * i).to_csv(
            csv_dir / f"tracking_{flavor}.csv", index=False
        )
        game_ids += [BASE_GAME_ID + 1000 * i + g for g in range(shape.games_per_flavor)]
    csv_bytes = sum(p.stat().st_size for p in csv_dir.glob("*.csv"))
    if not upserts:
        return TrackingInputs(shape, csv_dir, csv_bytes, tuple(game_ids), ())
    upsert_frame = fixtures.tracking_frame(
        n_games=1,
        plays_per_game=shape.plays_per_game,
        frames_per_play=shape.frames_per_play,
        seed=seed + 1,
        base_game_id=BASE_GAME_ID,
    )
    one_game = []
    for i, flavor in enumerate(flavors):
        # the last game of each flavour is re-ingested with new values
        game = BASE_GAME_ID + 1000 * i + shape.games_per_flavor - 1
        path = out / f"upsert_{flavor}.csv"
        _flavored(upsert_frame, flavor, game - BASE_GAME_ID).to_csv(path, index=False)
        one_game.append((game, path))
    return TrackingInputs(shape, csv_dir, csv_bytes, tuple(game_ids), tuple(one_game))


# -- catalog tables -----------------------------------------------------------

# lineitem at two fifths of the TESTDATA.md sf0.1 table, so the scan-bound entry
# (pricing_summary_q1) is dominated by data; orders and events at one fifth
CATALOG_ROWS = {"orders": 30_000, "lineitem": 240_000, "events": 20_000}
CATALOG_ROWS_TINY = {"orders": 2_000, "lineitem": 8_000, "events": 2_000}
EVENTS_PER_USER = 66  # the TESTDATA.md events table: 100,000 rows, 1,500 users
EVENT_DAYS = 30

def _timestamps(start: str, day_offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + day_offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def write_catalog_tables(out: Path, rows: dict[str, int], seed: int) -> Path:
    """orders, lineitem and events with the TESTDATA.md tables' schema and
    value domains: two-decimal prices and values (decimal-exact aggregates),
    midnight dates, uniform keys; events in time order over 30 days, their
    timestamps microsecond-precision and without a time zone."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True)
    n_o, n_l = rows["orders"], rows["lineitem"]
    priorities = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, max(n_o // 10, 1), n_o, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"], dtype=object), n_o)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_o), 2)),
            "o_orderdate": _timestamps("1995-01-01", rng.integers(0, 2404, n_o)),
            "o_orderpriority": pa.array(rng.choice(priorities, n_o)),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, 2000, n_l, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 100, n_l, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_l), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"], dtype=object), n_l)),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"], dtype=object), n_l)),
            "l_shipdate": _timestamps("1995-01-02", rng.integers(0, 2498, n_l)),
        }
    )
    n_e = rows["events"]
    ts_us = np.sort(rng.integers(0, EVENT_DAYS * 86_400_000_000, n_e))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n_e // EVENTS_PER_USER, 1), n_e,
                                             dtype=np.int64)),
            "event_type": pa.array(rng.choice(np.array(
                ["view", "click", "purchase", "signup", "error"], dtype=object), n_e)),
            "value": pa.array(np.round(rng.exponential(40.0, n_e), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
        }
    )
    for name, table in (("orders", orders), ("lineitem", lineitem), ("events", events)):
        pq.write_table(table, out / f"{name}.parquet")
    return out
