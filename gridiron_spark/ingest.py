"""Ingestion: heterogeneous CSVs → schema-normalized, Hive-partitioned Parquet lake.

The reference's writer (src/ingest.py) collects each CSV into memory and loops
games on the driver, writing one parquet per game. Spark-first, the whole
ingest is ONE declarative job — scan every CSV, normalize, derive the season
partition, and let the distributed writer produce the
``season=YYYY/gameId=XXXX/`` tree:

- **per-partition upsert** (re-ingesting a game overwrites exactly that game,
  reference src/ingest.py:82-87) is ``partitionOverwriteMode=dynamic`` — a
  config, not code;
- **one file per game** (fixed-name ``tracking.parquet`` in the reference) is
  file-count control: repartition by the partition key so each game's rows
  land in a single task → a single file. At 100 TB a single 10-GB game file
  would be wrong, so the repartition is optional (``one_file_per_partition``)
  and ``maxRecordsPerFile`` caps the worst case;
- the driver never materializes data; the summary is observed on the write,
  so a CSV ingest scans its input once (3 jobs: header read, write's 2 stages).

CSV columns arrive as text and the normalizer's ``try_cast`` types them. A
schema-inference pass never typed a mixed-header glob anyway: it skipped only
the first file's header, so the other flavour's header was a data row and
every column inferred as string, while a one-file upsert inferred ``time`` as
a timestamp and stored it reformatted (milliseconds and ``Z`` lost).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from gridiron_spark.schema.normalize import normalize
from gridiron_spark.schema.registry import TableSchema

log = logging.getLogger(__name__)

SEASON_COL = "season"


@dataclass(frozen=True)
class IngestSummary:
    """The reference's human-assertion report (src/ingest.py:46-57), observed
    on the distributed write instead of computed in driver-side pandas."""

    n_rows: int
    n_games: int
    n_plays: int
    max_frame: int | None


def derive_season(df: DataFrame, game_col: str = "gameId") -> DataFrame:
    """season := first 4 chars of gameId (reference src/ingest.py:73-74 —
    the partition key is computed from data, not stored in the source)."""
    return df.withColumn(SEASON_COL, F.substring(F.col(game_col).cast("string"), 1, 4))


class LakeIngestor:
    """CSV → canonical schema → partitioned parquet pool."""

    def __init__(
        self,
        spark: SparkSession,
        schema: TableSchema | str | Path,
        pool: str | Path,
        max_records_per_file: int = 5_000_000,
        one_file_per_partition: bool = True,
    ):
        self.spark = spark
        self.schema = (
            schema if isinstance(schema, TableSchema) else TableSchema.load(schema)
        )
        self.pool = str(pool)
        self.max_records_per_file = max_records_per_file
        self.one_file_per_partition = one_file_per_partition
        self.part_cols = list(self.schema.partition_by) or ["gameId"]

    # -- read + normalize ---------------------------------------------------

    def load_and_normalize(
        self, input_glob: str | Path, source_format: str = "csv"
    ) -> DataFrame:
        """Permissive scan (reference src/ingest.py:23: errors tolerated) then
        the canonical normalize projection. Spark globs natively; CSV columns
        arrive as text for the normalizer's casts, so only the header is read
        here. ``source_format`` adds JSON-lines (the common raw shape of
        document/training corpora; no header, so its schema is inferred) and
        ``parquet``/``orc`` (lake-to-lake re-ingest) through the SAME alias
        resolution and casts: a format is one reader branch, not a new path."""
        from pyspark.errors.exceptions.captured import AnalysisException

        if source_format not in ("csv", "json", "parquet", "orc"):
            raise ValueError(f"unsupported source format: {source_format!r}")
        path = str(input_glob)
        try:
            if source_format in ("parquet", "orc"):
                raw = self.spark.read.format(source_format).load(path)
            elif source_format == "json":
                raw = self.spark.read.option("mode", "PERMISSIVE").json(path)
            else:
                raw = self.spark.read.csv(path, header=True, mode="PERMISSIVE")
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e):
                # reference errors cleanly on an empty glob (src/ingest.py:90-94)
                raise FileNotFoundError(f"no input files match {input_glob}") from e
            raise
        return normalize(raw, self.schema)

    # -- summary / write -----------------------------------------------------

    def summarize(self, df: DataFrame) -> tuple[DataFrame, Observation]:
        """Lay ``df`` out as the writer consumes it; attach the summary as an
        ``Observation`` the write fills. It allows no DISTINCT, so distinct
        counts are set sizes that skip NULL keys (bounded by one input's
        plays). Not before the repartition: a header-only input then fails."""
        if SEASON_COL in self.part_cols and SEASON_COL not in df.columns:
            df = derive_season(df)
        if self.one_file_per_partition:
            # co-locate each game in one task → one file per partition dir
            df = df.repartition(*[F.col(c) for c in self.part_cols])
        keyed = F.col("gameId").isNotNull() & F.col("playId").isNotNull()
        play = F.when(keyed, F.struct("gameId", "playId"))
        obs = Observation()
        observed = df.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.size(F.collect_set("gameId")).alias("n_games"),
            F.size(F.collect_set(play)).alias("n_plays"),
            F.max("frameId").alias("max_frame"),
        )
        return observed, obs

    def write(self, df: DataFrame) -> None:
        """Write a frame laid out by :meth:`summarize` to the pool."""
        df.write.mode("overwrite").options(
            partitionOverwriteMode="dynamic",
            maxRecordsPerFile=self.max_records_per_file,
        ).partitionBy(*self.part_cols).parquet(self.pool)

    def ingest(
        self, input_glob: str | Path, dry_run: bool = False, source_format: str = "csv"
    ) -> IngestSummary:
        """One scan: normalize, observe the summary, write (a dry run writes
        to the ``noop`` sink). An empty input leaves every partition as is."""
        df = self.load_and_normalize(input_glob, source_format=source_format)
        observed, obs = self.summarize(df)
        if dry_run:
            observed.write.format("noop").mode("overwrite").save()
        else:
            self.write(observed)
        summary = IngestSummary(**obs.get)
        if summary.n_rows == 0:
            log.warning("ingest: 0 rows matched %s — nothing written", input_glob)
        return summary
