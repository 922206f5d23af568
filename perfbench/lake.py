"""The tracking-lake workloads.

lake_ingest: one-game upserts (dynamic partition overwrite) alternating with
full ingests of seeded CSVs into a fresh lake.

lake_serve: one closed-loop client against ``serve.make_server`` over
loopback HTTP, interleaving dashboard requests with training batches
(``Pool.sample_plays`` + ``tensorize_plays``). The lake is built by the same
ingest, in set-up.
"""

from __future__ import annotations

import hashlib
import json
import math
import statistics
import threading
import time
import urllib.request
from pathlib import Path

import numpy as np

import gridiron_spark
from gridiron_spark.ingest import LakeIngestor
from perfbench import inputs
from perfbench.harness import check, log
from perfbench.tracing import median

SCHEMA = Path(gridiron_spark.__file__).parent / "configs" / "tracking.yaml"


def lake_files(lake: Path) -> dict[int, list[tuple[str, int, int]]]:
    """gameId -> [(file name, size, mtime_ns)] of the lake's parquet files."""
    out: dict[int, list[tuple[str, int, int]]] = {}
    for game_dir in lake.glob("season=*/gameId=*"):
        game = int(game_dir.name.split("=", 1)[1])
        out[game] = sorted(
            (f.name, f.stat().st_size, f.stat().st_mtime_ns)
            for f in game_dir.glob("*.parquet")
        )
    return out


def _check_summary(s, rows: int, games: int, plays: int, frames: int, what: str) -> bool:
    got = (s.n_rows, s.n_games, s.n_plays, s.max_frame)
    return check(got == (rows, games, plays, frames), f"{what} summary {got}")


def _check_full_lake(lake: Path, data: inputs.TrackingInputs) -> bool:
    files = lake_files(lake)
    return check(sorted(files) == sorted(data.game_ids), "lake game partitions") and check(
        all(len(v) == 1 for v in files.values()), "one parquet file per game"
    )


# After the cold full ingest: upsert a camel game, full, upsert a snake game.
# With only the first upsert, the measured full ingests still got faster
# run on run (2.3, 2.0, 1.5 s).
WARM_OPS = 3
PLAN_OPS = 6  # measured: full, upsert a camel game, full, upsert a snake game, ...


class LakeIngest:
    def __init__(self, ctx):
        self.ctx = ctx
        self.shape = inputs.LAKE_TINY if ctx.tiny else inputs.LAKE
        self.full_s: list[float] = []
        self.upsert_s: list[float] = []
        self.lakes = 0

    def prepare(self) -> None:
        self.data = inputs.write_tracking(self.ctx.work / "in", self.shape, self.ctx.seed)
        self.ops = [
            op for u in self.data.upserts for op in ((self._upsert, *u), (self._full,))
        ]

    def setup(self) -> None:
        tracer = self.ctx.tracer
        tracer.patch(LakeIngestor, "load_and_normalize", "schema.normalize")
        tracer.patch(LakeIngestor, "summarize", "ingest.summarize")
        tracer.patch(LakeIngestor, "write", "ingest.write")
        # warm-up, checked: the first (cold) full ingest, then the cycle
        self.ctx.attempt(self._full)
        log("first ingest done")
        for op in self.ops[:WARM_OPS]:
            self.ctx.attempt(*op)
        self.full_s.clear()
        self.upsert_s.clear()

    def _ingest(self, glob: str, name: str, samples: list[float]):
        ing = LakeIngestor(self.ctx.spark, SCHEMA, self.lake)
        tracer = self.ctx.tracer
        self.ctx.quiesce()
        with tracer.span(name):
            t0 = time.perf_counter()
            summary = ing.ingest(glob)
            samples.append(time.perf_counter() - t0)
        tracer.harvest()
        return summary

    def _full(self) -> bool:
        """Full ingest into a fresh lake."""
        self.lakes += 1
        self.lake = self.ctx.work / f"lake{self.lakes}"
        shape = self.shape
        s = self._ingest(str(self.data.csv_dir / "*.csv"), "ingest.full", self.full_s)
        return _check_summary(
            s, shape.rows, shape.games, shape.plays, shape.frames_per_play, "full ingest"
        ) and _check_full_lake(self.lake, self.data)

    def _upsert(self, game: int, csv: Path) -> bool:
        shape = self.shape
        before = lake_files(self.lake)
        s = self._ingest(str(csv), "ingest.upsert", self.upsert_s)
        after = lake_files(self.lake)
        others = {g: v for g, v in before.items() if g != game}
        return (
            _check_summary(
                s, shape.game_rows, 1, shape.plays_per_game, shape.frames_per_play, "upsert"
            )
            and check(len(after.get(game, ())) == 1, "upsert leaves one file in its game")
            and check(after[game] != before.get(game), "upsert rewrote its game")
            and check(
                {g: v for g, v in after.items() if g != game} == others,
                "upsert left the other games untouched",
            )
        )

    def measure(self, deadline: float) -> None:
        """PLAN_OPS operations, then more until ``deadline``."""
        i = 0
        t0 = time.perf_counter()
        while i < PLAN_OPS or time.perf_counter() < deadline:
            self.ctx.attempt(*self.ops[(WARM_OPS + i) % len(self.ops)])
            i += 1
        self.window_s = time.perf_counter() - t0
        log(f"full ingest s {self.full_s}; upsert s {self.upsert_s}")

    def close(self) -> None:
        pass

    def end_to_end(self) -> dict[str, float]:
        full, upsert = statistics.median(self.full_s), statistics.median(self.upsert_s)
        return {
            "bulk_s": full,
            "small_s": upsert,
            # rows ingested per second of the measured window, checks included
            "throughput_per_s": (
                len(self.full_s) * self.shape.rows + len(self.upsert_s) * self.shape.game_rows
            ) / self.window_s,
        }

    def per_layer(self) -> dict[str, float]:
        t = self.ctx.tracer
        full = t.named("ingest.full")
        ops = full + t.named("ingest.upsert")

        def child_s(name):
            return median(s.seconds for s in t.named(name) if t.spans[s.parent] in full)

        files = lake_files(self.lake)
        lake_bytes = sum(size for v in files.values() for _, size, _ in v)
        return {
            "schema.normalize_s": child_s("schema.normalize"),
            "ingest.summarize_s": child_s("ingest.summarize"),
            "ingest.write_s": child_s("ingest.write"),
            "ingest.jobs": median(len(t.jobs_in(s)) for s in ops),
            "ingest.scan_amplification": median(
                sum(j.input_bytes for j in t.jobs_in(s)) / self.data.csv_bytes for s in full
            ),
            "ingest.lake_bytes_per_csv_byte": lake_bytes / self.data.csv_bytes,
            "ingest.files_per_game": max(len(v) for v in files.values()),
            "spark.jobs_per_op": median(len(t.jobs_in(s)) for s in ops),
            "spark.driver_gap_s": median(t.driver_gap_s(s) for s in ops),
        }


# -- lake_serve ----------------------------------------------------------------

FIG_FRESH_EVERY = 5  # one figure request in five asks for a play not yet shown
FIGS_PER_BATCH = 5  # one training batch after every five figure requests
PLAN_ROUNDS = 5  # measured rounds of (games, 5 x (plays, figure), batch)
WARM_FIGS = 2  # figure misses on the throw-away server
# Training batches in set-up. After one, the first measured batch still ran
# about 1.6x the later ones, and later ones kept getting faster (JIT).
WARM_BATCHES = 3
ZIPF_S = 1.1
BATCH_N = 16
TENSOR_SHAPE = (64, 23, 4)  # tensorize_plays defaults: frames x players x features


class _Client:
    """Closed-loop HTTP client: the next request goes out only after the
    previous response is read."""

    def __init__(self, port: int):
        self.base = f"http://127.0.0.1:{port}"

    def get(self, path: str) -> tuple[int, bytes]:
        with urllib.request.urlopen(self.base + path, timeout=120) as r:
            return r.status, r.read()


def _fig_json(page: bytes) -> dict:
    text = page.decode()
    start = text.index("const fig = ") + len("const fig = ")
    end = text.index(";\nPlotly.newPlot", start)
    return json.loads(text[start:end])


class LakeServe:
    def __init__(self, ctx):
        self.ctx = ctx
        self.shape = inputs.LAKE_TINY if ctx.tiny else inputs.LAKE
        self.rng = np.random.default_rng(ctx.seed)
        self.dash_s: list[float] = []
        self.fig_miss_s: list[float] = []
        self.batch_s: list[float] = []
        self.server = None
        self.thread = None
        self.request = 0

    # -- set-up ---------------------------------------------------------------

    def prepare(self) -> None:
        self.data = inputs.write_tracking(
            self.ctx.work / "in", self.shape, self.ctx.seed, upserts=False
        )

    def setup(self) -> None:
        from gridiron_spark import serve
        from gridiron_spark.pool import Pool

        ctx = self.ctx
        self.lake = ctx.work / "lake"
        summary = LakeIngestor(ctx.spark, SCHEMA, self.lake).ingest(
            str(self.data.csv_dir / "*.csv")
        )
        shape = self.shape
        ctx.attempt(
            lambda: _check_summary(
                summary, shape.rows, shape.games, shape.plays, shape.frames_per_play, "lake"
            )
            and _check_full_lake(self.lake, self.data)
        )
        log("lake built")
        self.plays = [(p + 1) * 50 for p in range(shape.plays_per_game)]
        self.pool = Pool(ctx.spark, self.lake)
        self._plan_figs()
        self._trace()
        # warm-up on a throw-away server, so the measured one starts with an
        # empty memo
        self._start(serve)
        game = self.data.game_ids[0]
        ctx.attempt(self._dash, "/api/games", None)
        ctx.attempt(self._dash, f"/api/plays?game={game}", self.plays)
        for play in self.plays[:WARM_FIGS]:
            ctx.attempt(self._fig, game, play, True)
        for _ in range(WARM_BATCHES):
            ctx.attempt(self._batch)
        log("dashboard and batches warm")
        self._stop()
        self.dash_s.clear()
        self.fig_miss_s.clear()
        self.batch_s.clear()
        self._start(serve)

    def _plan_figs(self) -> None:
        """Fresh plays are introduced round-robin over a seeded game order,
        so every run pays the same number of listing and figure misses;
        repeats pick among the plays shown so far with Zipf weights by the
        order they were introduced (earlier = more popular)."""
        games = list(self.rng.permutation(self.data.game_ids))
        per_game = [list(self.rng.permutation(self.plays)) for _ in games]
        self.fresh = [
            (int(games[i % len(games)]), int(per_game[i % len(games)][i // len(games)]))
            for i in range(len(games) * len(self.plays))
        ]
        self.shown: list[tuple[int, int]] = []

    def _next_fig(self) -> tuple[tuple[int, int], bool]:
        n = len(self.shown)
        if self.figs_sent % FIG_FRESH_EVERY == 0 and n < len(self.fresh):
            key = self.fresh[n]
            self.shown.append(key)
            return key, True
        w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
        return self.shown[int(self.rng.choice(n, p=w / w.sum()))], False

    def _trace(self) -> None:
        from gridiron_spark import viz
        from gridiron_spark.operators import features, tensorize
        from gridiron_spark.pool import Pool

        t = self.ctx.tracer
        t.patch(Pool, "games", "pool.games")
        t.patch(Pool, "plays", "pool.plays")
        t.patch(Pool, "fetch_play", "pool.fetch_play")
        t.patch(Pool, "sample_plays", "sampling.sample_plays")
        t.patch(features, "side_split", "features.side_split")
        t.patch(viz, "play_figure", "viz.play_figure")
        t.patch(viz, "figure_html", "viz.figure_html")
        t.patch(tensorize, "tensorize_plays", "tensorize.tensorize_plays")

    def _start(self, serve) -> None:
        self.server = serve.make_server(self.ctx.spark, str(self.lake), port=0)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        self.client = _Client(self.server.server_address[1])
        self.figs_sent = 0

    def _stop(self) -> None:
        if self.server is None:
            return
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)
        self.server = None

    def close(self) -> None:
        self._stop()

    # -- operations -----------------------------------------------------------

    def _timed_get(self, path: str, span: str) -> tuple[int, bytes, float]:
        tracer = self.ctx.tracer
        self.request += 1
        tracer.request = self.request
        with tracer.span(span):
            t0 = time.perf_counter()
            status, body = self.client.get(path)
            dt = time.perf_counter() - t0
        tracer.harvest()
        return status, body, dt

    def _dash(self, path: str, expect) -> bool:
        status, body, dt = self._timed_get(path, "serve.listing")
        self.dash_s.append(dt)
        if not check(status == 200, f"{path} status {status}"):
            return False
        got = json.loads(body)
        if path == "/api/games":
            expect = sorted(self.data.game_ids)
        return expect is None or check(got == expect, f"{path} listing")

    def _fig(self, game: int, play: int, fresh: bool) -> bool:
        if fresh:
            self.ctx.quiesce()
        status, body, dt = self._timed_get(
            f"/fig?game={game}&play={play}", "serve.fig_miss" if fresh else "serve.fig_hit"
        )
        self.dash_s.append(dt)
        if fresh:
            self.fig_miss_s.append(dt)
        if not check(status == 200, f"/fig status {status}"):
            return False
        fig = _fig_json(body)
        # 22 player ghost paths + the ball's, then offense/defense/ball markers
        players = 2 * 11
        return check(len(fig["data"]) == players + 1 + 3, "figure trace count") and check(
            len(fig["frames"]) == self.shape.frames_per_play, "figure frame count"
        )

    def _batch(self) -> bool:
        from pyspark.sql import functions as F

        from gridiron_spark.operators import tensorize

        ctx, tracer = self.ctx, self.ctx.tracer
        games = sorted(int(g) for g in self.rng.choice(
            self.data.game_ids, size=max(len(self.data.game_ids) // 2, 1), replace=False
        ))
        n = min(BATCH_N, len(games) * len(self.plays))
        seed = int(self.rng.integers(0, 2**31))
        self.request += 1
        tracer.request = self.request
        ctx.quiesce()
        with tracer.span("serve.batch"):
            t0 = time.perf_counter()
            sampled = self.pool.sample_plays(
                n, filters=[F.col("gameId").isin(games)], seed=seed
            )
            with tracer.span("tensorize.force"):
                rows = tensorize.tensorize_plays(sampled).collect()
            self.batch_s.append(time.perf_counter() - t0)
        tracer.harvest()
        digests = sorted(
            (hashlib.md5(f"{g}#{p}#{seed}".encode()).hexdigest(), g, p)
            for g in games
            for p in self.plays
        )
        expect = sorted((g, p) for _, g, p in digests[:n])
        keys = sorted((r.gameId, r.playId) for r in rows)
        return check(keys == expect, "batch keys are the seeded exact-n sample") and check(
            all(_shape(r.tensor) == TENSOR_SHAPE for r in rows), "batch tensor shape"
        )

    def measure(self, deadline: float) -> None:
        """PLAN_ROUNDS rounds, then more until ``deadline``."""
        ctx = self.ctx
        rounds = 0
        while rounds < PLAN_ROUNDS or time.perf_counter() < deadline:
            rounds += 1
            ctx.attempt(self._dash, "/api/games", None)
            for _ in range(FIGS_PER_BATCH):
                (game, play), fresh = self._next_fig()
                self.figs_sent += 1
                ctx.attempt(self._dash, f"/api/plays?game={game}", self.plays)
                ctx.attempt(self._fig, game, play, fresh)
            ctx.attempt(self._batch)
        log(f"figure miss s {self.fig_miss_s}; batch s {self.batch_s}")

    # -- metrics --------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        return {
            "bulk_s": statistics.median(self.batch_s),
            "small_s": statistics.median(self.fig_miss_s),
            "throughput_per_s": len(self.dash_s) / math.fsum(self.dash_s),
        }

    def per_layer(self) -> dict[str, float]:
        t = self.ctx.tracer
        misses = t.named("serve.fig_miss")
        figs = misses + t.named("serve.fig_hit")
        batches = t.named("serve.batch")
        drawn = [s for s in t.named("viz.play_figure") if t.spans[s.parent] in figs]
        return {
            "serve.memo_hit_ratio": 1.0 - len(drawn) / len(figs),
            "pool.games_s": median(s.seconds for s in t.named("pool.games")),
            "pool.plays_s": median(s.seconds for s in t.named("pool.plays")),
            "viz.play_figure_s": median(s.seconds for s in drawn),
            "viz.figure_html_s": median(s.seconds for s in t.named("viz.figure_html")),
            "pool.jobs_per_fig": median(len(t.jobs_in(s)) for s in misses),
            "pool.files_per_fig": median(t.files_in(s) for s in misses),
            "pool.files_per_batch": median(t.files_in(s) for s in batches),
            "sampling.jobs_per_batch": median(len(t.jobs_in(s)) for s in batches),
            "tensorize.force_s": median(s.seconds for s in t.named("tensorize.force")),
            "spark.jobs_per_op": median(len(t.jobs_in(s)) for s in misses + batches),
            "spark.driver_gap_s": median(t.driver_gap_s(s) for s in misses + batches),
        }


def _shape(nested) -> tuple[int, ...]:
    dims = []
    while isinstance(nested, list):
        dims.append(len(nested))
        nested = nested[0] if nested else None
    return tuple(dims)
