"""Derived-feature operators over the tracking lake.

The reference documents these ("complex physics derivatives",
docs/DATA_LAKE_GUIDE.md:132; "velocity_vectors" feature dir, README.md:23) but
never implements them; its dashboard computes entity splits driver-side
(app/main.py:97-107). Here they are engine-side, as window functions and pure
Column expressions — one shuffle on the entity key, then per-partition sorted
evaluation; no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ENTITY_KEY = ("gameId", "playId", "nflId")
FRAME_HZ = 10.0  # tracking frequency (reference app/main.py:244)


def _entity_window() -> Window:
    return Window.partitionBy(*ENTITY_KEY).orderBy("frameId")


def _side(df: DataFrame | None) -> Column:
    """The lowercased side column: ``playerSide`` when the frame has one,
    else ``team`` (reference app/main.py:98)."""
    name = "playerSide" if df is not None and "playerSide" in df.columns else "team"
    return F.lower(F.col(name).cast("string"))


def _ball(side: Column) -> Column:
    return F.col("nflId").isNull() | (F.col("nflId") == 0) | (side == "football")


def _side_values(home_is_offense: bool) -> tuple[list[str], list[str]]:
    """The side values that mean offense and defense (app/main.py:101-103)."""
    if home_is_offense:
        return ["home", "offense"], ["away", "defense"]
    return ["away", "offense"], ["home", "defense"]


def is_ball(df: DataFrame | None = None) -> Column:
    """The ball rule: null nflId, nflId==0, or a 'football' side
    (reference docs/DATA_LAKE_GUIDE.md:144-152; app/main.py:104-106).
    Pass the frame it filters so its side column resolves as in
    :func:`side_split`."""
    return _ball(_side(df))


def side_predicates(
    home_is_offense: bool = True, df: DataFrame | None = None
) -> dict[str, Column]:
    """Offense/defense/ball split predicates — the rows :func:`side_split`
    labels with each side (app/main.py:97-107 rules, reusable engine-side
    instead of driver-side pandas). Pass the frame they filter so its side
    column resolves."""
    side = _side(df)
    ball = _ball(side)
    off_vals, def_vals = _side_values(home_is_offense)
    return {
        "ball": ball,
        "offense": ~ball & side.isin(off_vals),
        "defense": ~ball & side.isin(def_vals),
    }


def side_split(df: DataFrame, home_is_offense: bool = True) -> DataFrame:
    """Label every row ``side`` ∈ {offense, defense, ball, other} — the
    dashboard's data split (reference app/main.py:97-107) engine-side.

    Mirrors the reference exactly: the side column is ``playerSide`` when
    present else ``team`` (app/main.py:98), lowercased; ``home``/``offense``
    values are the offense, ``away``/``defense`` the defense (app/main.py:101-103
    with the default home-is-offense reading); the ball rule is null/0 nflId
    or a literal ``football`` side (app/main.py:104-106). Pure Column
    expressions — one codegen'd projection, no shuffle.
    """
    side = _side(df)
    off_vals, def_vals = _side_values(home_is_offense)
    return df.withColumn(
        "side",
        F.when(_ball(side), "ball")
        .when(side.isin(off_vals), "offense")
        .when(side.isin(def_vals), "defense")
        .otherwise("other"),
    )


def animate_stats(df: DataFrame) -> DataFrame:
    """Per-play dashboard header stats (reference app/main.py:89-95): frame
    count, 10 Hz duration, max speed, distinct non-null players (the ball's
    null nflId excluded, exactly as the reference filters), and the sorted
    distinct non-null event list."""
    return df.groupBy("gameId", "playId").agg(
        F.max("frameId").alias("n_frames"),
        (F.max("frameId") / F.lit(FRAME_HZ)).alias("duration_s"),
        F.max("s").alias("max_speed"),
        F.countDistinct("nflId").alias("n_players"),  # countDistinct skips nulls
        F.array_sort(F.collect_set("event")).alias("events"),
    )


def kinematics(df: DataFrame) -> DataFrame:
    """Finite-difference velocity/acceleration per entity, plus orientation
    unit vectors from the degree-valued o/dir columns.

    Adds: vx, vy (yd/s from frame deltas at 10 Hz), speed_fd (|v|),
    accel_fd (d|v|/dt), dir_x, dir_y (motion-direction unit vector),
    o_x, o_y (orientation unit vector).
    """
    w = _entity_window()
    dt = (F.col("frameId") - F.lag("frameId").over(w)) / F.lit(FRAME_HZ)
    vx = (F.col("x") - F.lag("x").over(w)) / dt
    vy = (F.col("y") - F.lag("y").over(w)) / dt
    out = (
        df.withColumn("vx", vx)
        .withColumn("vy", vy)
        .withColumn("speed_fd", F.sqrt(F.col("vx") ** 2 + F.col("vy") ** 2))
    )
    accel = (F.col("speed_fd") - F.lag("speed_fd").over(w)) / dt
    out = out.withColumn("accel_fd", accel)
    # NGS angle convention: 0° = +y, clockwise — x uses sin, y uses cos.
    for src, prefix in (("dir", "dir"), ("o", "o")):
        rad = F.radians(F.col(src))
        out = out.withColumn(f"{prefix}_x", F.sin(rad)).withColumn(
            f"{prefix}_y", F.cos(rad)
        )
    return out


def reindex_frames(df: DataFrame) -> DataFrame:
    """Contiguous 1-based frame index per entity (row_number), robust to
    gappy frameIds — the windowed form of the reference's assumption that
    frames are contiguous (FIXTURES.md §1)."""
    return df.withColumn("frame_idx", F.row_number().over(_entity_window()))


def play_events(df: DataFrame) -> DataFrame:
    """Distinct non-null events per play with first/last frame — the
    dashboard's event extraction (app/main.py:93-95) as an aggregate."""
    return (
        df.filter(F.col("event").isNotNull())
        .groupBy("gameId", "playId", "event")
        .agg(
            F.min("frameId").alias("first_frame"),
            F.max("frameId").alias("last_frame"),
        )
    )


def play_summary(df: DataFrame) -> DataFrame:
    """Per-play stats: frames, duration (frames/10 s, app/main.py:244),
    entity count, max speed (app/main.py:89-92)."""
    return df.groupBy("gameId", "playId").agg(
        F.max("frameId").alias("n_frames"),
        (F.max("frameId") / F.lit(FRAME_HZ)).alias("duration_s"),
        # coalesce so the ball's null nflId counts as an entity
        F.countDistinct(F.coalesce(F.col("nflId"), F.lit(-1))).alias("n_players"),
        F.max("s").alias("max_speed"),
    )


def per_play_normalized(df: DataFrame, cols: tuple[str, ...] = ("x", "y")) -> DataFrame:
    """Min-max normalize columns within each play (per-play normalization for
    model inputs — window min/max, no shuffle beyond the play key)."""
    w = Window.partitionBy("gameId", "playId")
    out = df
    for c in cols:
        mn, mx = F.min(c).over(w), F.max(c).over(w)
        out = out.withColumn(
            f"{c}_norm", F.when(mx > mn, (F.col(c) - mn) / (mx - mn))
        )
    return out
