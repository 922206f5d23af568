"""Ingest layer: alias normalization, defaults, partitioned write, per-partition
overwrite, dry-run summary — the reference's core #1 (SURVEY.md §3.1)."""

from __future__ import annotations

import logging
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gridiron_spark.fixtures import write_tracking_csvs
from gridiron_spark.ingest import IngestSummary, LakeIngestor, derive_season
from gridiron_spark.schema.normalize import normalize
from gridiron_spark.schema.registry import TableSchema
from tests.conftest import last_job_id

SCHEMA_PATH = Path(__file__).parent.parent / "gridiron_spark/configs/tracking.yaml"


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("csvs")
    write_tracking_csvs(d)
    return d


@pytest.fixture(scope="module")
def lake(spark, fixture_dir, tmp_path_factory):
    pool = tmp_path_factory.mktemp("pool")
    ing = LakeIngestor(spark, SCHEMA_PATH, pool)
    ing.ingest(f"{fixture_dir}/*.csv")
    return pool


def test_schema_yaml_roundtrip():
    schema = TableSchema.load(SCHEMA_PATH)
    assert schema.partition_by == ("season", "gameId")
    assert schema["nflId"].nullable
    assert schema["s"].default == 0.0
    assert "game_id" in schema["gameId"].aliases
    struct = schema.to_struct()
    assert struct["gameId"].dataType.simpleString() == "bigint"
    assert struct["x"].dataType.simpleString() == "float"


def test_normalize_alias_resolution(spark, fixture_dir):
    """snake_case and camelCase files normalize to the identical schema."""
    ing = LakeIngestor(spark, SCHEMA_PATH, "/tmp/unused")
    camel = ing.load_and_normalize(f"{fixture_dir}/tracking_camel.csv")
    snake = ing.load_and_normalize(f"{fixture_dir}/tracking_snake.csv")
    assert camel.schema == snake.schema
    assert camel.columns == snake.columns
    # dtype contract
    d = dict(camel.dtypes)
    assert d["gameId"] == "bigint" and d["playId"] == "int" and d["x"] == "float"


def test_normalize_defaults_and_nulls(spark):
    """Absent default column → constant fill; absent nullable → typed NULL;
    absent required → dropped with a warning (reference src/ingest.py:36-42)."""
    schema = TableSchema.from_dict(
        {
            "table": "t",
            "columns": {
                "gameId": {"type": "long"},
                "s": {"type": "float", "default": 0.5},
                "o": {"type": "float", "nullable": True},
                "mandatory": {"type": "string"},
            },
        }
    )
    src = spark.createDataFrame([(1,)], ["gameId"])
    out = normalize(src, schema)
    assert out.columns == ["gameId", "s", "o"]  # 'mandatory' dropped
    row = out.first()
    assert row.s == 0.5 and row.o is None


def test_partition_layout_and_season_derivation(lake):
    """Hive layout season=YYYY/gameId=N, season derived from gameId prefix."""
    seasons = sorted(p.name for p in Path(lake).glob("season=*"))
    assert seasons == ["season=2023"]
    games = sorted(p.name for p in Path(lake).glob("season=*/gameId=*"))
    assert len(games) == 4  # 2 games × 2 flavors (distinct base ids)
    # one data file per game partition
    for g in Path(lake).glob("season=*/gameId=*"):
        files = [f for f in g.iterdir() if f.suffix == ".parquet"]
        assert len(files) == 1, f"{g} has {len(files)} files"


def test_ingest_summary(spark, fixture_dir, tmp_path):
    """A dry run creates no pool and reports what the real ingest reports."""
    pool = tmp_path / "pool"
    ing = LakeIngestor(spark, SCHEMA_PATH, pool)
    s = ing.ingest(f"{fixture_dir}/*.csv", dry_run=True)
    assert not pool.exists()
    # 2 flavors × 2 games × 5 plays × 50 frames × 23 entities
    assert s.n_rows == 2 * 2 * 5 * 50 * 23
    assert s.n_games == 4
    assert s.n_plays == 20
    assert s.max_frame == 50
    assert ing.ingest(f"{fixture_dir}/*.csv") == s


def test_partition_overwrite_upsert(spark, fixture_dir, tmp_path_factory):
    """Re-ingesting one game's file replaces that partition and leaves the
    rest of the lake untouched (reference src/ingest.py:82-87 semantics).
    The re-ingested games keep ``time`` as the CSV's text, in the format of
    the untouched games (a schema-inferring upsert stored it reformatted)."""
    pool = tmp_path_factory.mktemp("pool-upsert")
    ing = LakeIngestor(spark, SCHEMA_PATH, pool)
    ing.ingest(f"{fixture_dir}/*.csv")
    before = spark.read.option("basePath", str(pool)).parquet(str(pool))
    n_before = before.count()
    games_before = {r.gameId for r in before.select("gameId").distinct().collect()}

    # re-ingest only the camel file (games 2023090000/2023090001)
    ing.ingest(f"{fixture_dir}/tracking_camel.csv")
    after = spark.read.option("basePath", str(pool)).parquet(str(pool))
    assert after.count() == n_before
    games_after = {r.gameId for r in after.select("gameId").distinct().collect()}
    assert games_after == games_before

    src = pd.read_csv(fixture_dir / "tracking_camel.csv", dtype=str)
    touched = {int(g) for g in src.gameId}
    times = after.select("gameId", "time").distinct().collect()
    assert {(r.gameId, r.time) for r in times if r.gameId in touched} == {
        (int(g), t) for g, t in zip(src.gameId, src.time)
    }
    untouched = {r.time for r in times if r.gameId not in touched}
    assert untouched and {r.time for r in times if r.gameId in touched} == untouched


def _lake_files(pool: Path) -> dict[str, list[tuple[str, int, int]]]:
    """game dir -> [(file name, size, mtime_ns)] of its parquet files."""
    out = {}
    for d in pool.glob("season=*/gameId=*"):
        stats = [(f.name, f.stat()) for f in d.glob("*.parquet")]
        out[d.name] = sorted((n, st.st_size, st.st_mtime_ns) for n, st in stats)
    return out


def test_empty_input_leaves_lake_untouched(spark, lake, fixture_dir, tmp_path, caplog):
    """A header-only CSV summarizes to zeros, warns, and rewrites no game."""
    ing = LakeIngestor(spark, SCHEMA_PATH, lake)
    before = _lake_files(lake)
    empty = tmp_path / "empty.csv"
    header = (fixture_dir / "tracking_camel.csv").read_text().splitlines()[0]
    empty.write_text(header + "\n")
    with caplog.at_level(logging.WARNING, logger="gridiron_spark.ingest"):
        summary = ing.ingest(str(empty))
    assert summary == IngestSummary(0, 0, 0, None)
    assert "nothing written" in caplog.text
    assert len(before) == 4 and _lake_files(lake) == before


def test_summary_matches_distinct_counts(spark, fixture_dir, tmp_path):
    """The observed summary equals count / countDistinct / max over the
    normalized input, including rows whose key fails its cast (NULL)."""
    src = pd.read_csv(fixture_dir / "tracking_camel.csv", dtype=str)
    src.loc[0, "playId"] = "not-a-play"
    src.loc[1, "gameId"] = "not-a-game"
    bad = str(tmp_path / "bad_keys.csv")
    src.to_csv(bad, index=False)
    ing = LakeIngestor(spark, SCHEMA_PATH, tmp_path / "pool")
    row = ing.load_and_normalize(bad).agg(
        F.count(F.lit(1)),
        F.countDistinct("gameId"),
        F.countDistinct("gameId", "playId"),
        F.max("frameId"),
    ).first()
    assert ing.ingest(bad, dry_run=True) == IngestSummary(*row)


def test_ingest_is_one_scan(spark, fixture_dir, tmp_path):
    """Round-trip guard: an ingest runs at most 3 Spark jobs (the CSV
    header read and the write's two stages), so no extra scan creeps back."""
    ing = LakeIngestor(spark, SCHEMA_PATH, tmp_path / "pool")
    before = last_job_id(spark)
    ing.ingest(f"{fixture_dir}/*.csv")
    assert 1 <= last_job_id(spark) - before <= 3


def test_derive_season(spark):
    df = spark.createDataFrame([(2018111801,), (2023090700,)], ["gameId"])
    out = derive_season(df)
    assert {r.season for r in out.collect()} == {"2018", "2023"}


def test_jsonl_source_normalizes_like_csv(spark, fixture_dir, tmp_path_factory):
    """JSON-lines intake goes through the identical alias/cast/default
    pipeline as CSV: same canonical schema, same rows, and a partitioned
    write that a pool scan reads back."""
    d = tmp_path_factory.mktemp("jsonl")
    ing = LakeIngestor(spark, SCHEMA_PATH, d / "pool")
    csv_df = ing.load_and_normalize(f"{fixture_dir}/tracking_camel.csv")
    # re-serialize the camel CSV as JSON-lines with its RAW (camelCase) names
    raw = (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .csv(f"{fixture_dir}/tracking_camel.csv")
    )
    raw.coalesce(1).write.mode("overwrite").json(str(d / "in"))
    json_df = ing.load_and_normalize(f"{d}/in/*.json", source_format="json")
    assert json_df.schema == csv_df.schema
    key = ["gameId", "playId", "nflId", "frameId"]
    canon = lambda df: sorted(
        map(tuple, df.select(*key).collect()),
        key=lambda t: tuple(-1 if v is None else v for v in t),
    )
    assert canon(json_df) == canon(csv_df)
    summary = ing.ingest(f"{d}/in/*.json", source_format="json")
    assert summary.n_rows == csv_df.count()
    with pytest.raises(ValueError):
        ing.load_and_normalize(f"{d}/in/*.json", source_format="avro")


def test_orc_source_normalizes_like_csv(spark, fixture_dir, tmp_path_factory):
    """ORC intake (lake-to-lake re-ingest): the self-describing source still
    passes through alias resolution and canonical casts, landing on the
    identical schema and rows as the CSV path."""
    d = tmp_path_factory.mktemp("orc")
    ing = LakeIngestor(spark, SCHEMA_PATH, d / "pool")
    csv_df = ing.load_and_normalize(f"{fixture_dir}/tracking_camel.csv")
    raw = (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .csv(f"{fixture_dir}/tracking_camel.csv")
    )
    raw.coalesce(1).write.mode("overwrite").orc(str(d / "in"))
    orc_df = ing.load_and_normalize(f"{d}/in/*.orc", source_format="orc")
    assert orc_df.schema == csv_df.schema
    key = ["gameId", "playId", "nflId", "frameId"]
    canon = lambda df: sorted(
        map(tuple, df.select(*key).collect()),
        key=lambda t: tuple(-1 if v is None else v for v in t),
    )
    assert canon(orc_df) == canon(csv_df)
