"""The benchmark's workloads. Each one sets up a warehouse state, times
the ingest of new export months through one front end of the engine,
then times a dashboard session against the result, and checks every
output against values computed from the export without the engine.

- ``incremental``: the paper's daily run. The warehouse holds every
  month but the last; one ``pipeline.run`` over the whole export
  directory loads the new month through the rate-limited Web API.
- ``stream_ingest``: the same history held by a stream's fact table and
  checkpoint; the last 8 months land one file at a time and each is
  drained by ``start_fact_tracks_ingest(available_now=True)`` (closed
  loop: a file lands only after the previous batch committed).

The dashboard session is one client, closed loop, no think time: an
untimed warm-up, then timed blocks of thirteen seeded calls until
the run's ``seconds`` have passed (see ``dashboard_blocks``).

Two workloads, not more: every run pays a Spark session and a history
build of 20–40 s on a cold JVM, and the benchmark's budget is 4 + 22
runs per workload inside 3420 seconds.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pandas as pd

from . import checks
from .export import Export, expected_track_plays, export_bytes, generate
from .tracing import COMMON, LAYERS, Tracer, event_log_conf, parse_event_log
from .webapi import OfflineWebApi, known_uris

WORKLOADS = ("incremental", "stream_ingest")
STREAMED_MONTHS = 8
CHART_LIMIT = 100
ENRICHMENT_COUNTERS = ("calls", "uris_requested", "uris_new", "useful_ratio", "retries", "dead_letters", "wait_s")
STREAM_TIMINGS = ("trigger_ms", "add_batch_ms", "planning_ms")


class RssSampler:
    """Peak resident memory of this process plus the Spark JVM, read
    from /proc every 20 ms while running."""

    def __init__(self, pids: list[int]):
        self.pids = pids
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))
            self._stop.wait(0.02)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        if self._thread.is_alive():
            raise RuntimeError("rss sampler did not stop")


def start_spark(work: Path, trace: bool):
    from spotify_streaming_etl_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir()
        conf |= event_log_conf(work / "eventlog")
    spark = get_spark("pipebench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the Spark JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# dashboard session
# ---------------------------------------------------------------------------


def dashboard_blocks(seed: int, plays) -> Iterator[list[dict]]:
    """Blocks of thirteen calls of fixed kinds (so every seed asks for
    the same mix of work): the three aggregates, the three charts
    unfiltered, by year and by year+month, and one album drill-down.
    The seed picks the periods, the album and the order."""
    rng = np.random.default_rng([seed, 7])
    years = sorted(int(y) for y in plays.year.unique())
    live = plays[plays.track_uri.notna()][["album_name", "artist_name"]].drop_duplicates()
    albums = sorted(live.itertuples(index=False))
    while True:
        block = [{"kind": "agg", "grain": g} for g in ("year", "month", "all_time")]
        for item in ("track", "album", "artist"):
            year = int(rng.choice(years))
            block += [
                {"kind": "chart", "item": item},
                {"kind": "chart", "item": item, "year": year},
                {"kind": "chart", "item": item, "year": year, "month": int(rng.integers(1, 13))},
            ]
        album, artist = albums[int(rng.integers(len(albums)))]
        block.append({"kind": "album_stats", "album": album, "artist": artist})
        rng.shuffle(block)
        yield block


def dashboard(r: "Run", fact_path: str, dims: dict, plays) -> tuple[list, list]:
    """An untimed warm-up, then timed blocks until ``r.seconds`` have
    passed. Returns (all calls
    with their results, latencies of the timed calls)."""
    from spotify_streaming_etl_pipeline_spark.plans import marts

    fact = r.spark.read.parquet(fact_path)
    dim_track, dim_artist = dims["track"], dims["artist"]

    def ask(call):
        if call["kind"] == "agg":
            return marts.get_aggregated_data(call["grain"], fact)
        if call["kind"] == "chart":
            return marts.get_chart_data(
                call["item"], fact, dim_track, dim_artist,
                year=call.get("year"), month=call.get("month"), limit=CHART_LIMIT,
            )  # fmt: skip
        return marts.album_stats(fact, dim_track, call["album"], call["artist"]).toPandas()

    blocks = dashboard_blocks(r.seed, plays)
    # Warm-up, untimed: one call of each kind, so that its plan compiles
    # before the timed blocks (in a running dashboard that happened long ago).
    warmup = {(c["kind"], c.get("grain"), c.get("item")): c for c in next(blocks)}
    done = [(call, ask(call)) for call in warmup.values()]
    latencies = []
    with r.timed():
        start = time.perf_counter()
        for block in blocks:
            for call in block:
                t = time.perf_counter()
                if r.tracer is None:
                    result = ask(call)
                else:
                    with r.tracer.span("plans.marts", call["kind"]):
                        result = ask(call)
                latencies.append(time.perf_counter() - t)
                done.append((call, result))
            if time.perf_counter() - start >= r.seconds:
                break
    print("dashboard call ms:", [round(x * 1000) for x in latencies], file=sys.stderr)
    return done, latencies


def check_dashboard(done, plays) -> int:
    failed = 0
    for call, result in done:
        problems = checks.check_answer(call, result, plays, CHART_LIMIT)
        if problems:
            failed += 1
            print("check failed:", "; ".join(problems[:3]), file=sys.stderr)
    return failed


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Run:
    """State of one benchmark run."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: Path):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.t0 = self._last = time.perf_counter()
        self.export: Export = generate(seed)
        self.mark("export generated")
        self.spark = start_spark(work, trace)
        self.mark("session started")
        self.tracer = Tracer(self.spark.sparkContext) if trace else None
        self.windows: list[tuple[float, float]] = []
        self.ingest_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.layer_extra: dict[str, float] = {}

    def mark(self, step: str) -> None:
        """Log how long the set-up step that just ended took."""
        now = time.perf_counter()
        print(f"set-up: {step} in {now - self._last:.2f} s", file=sys.stderr)
        self._last = now

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def setup_api(self) -> OfflineWebApi:
        """Set-up talks to an API without latency or rate limits: only
        the timed part models the round trip."""
        return OfflineWebApi(self.seed, self.export.track_artists, latency_s=0.0, rate_limit_every=0)

    @contextmanager
    def timed(self):
        """A measured window: traced in a traced run, where the event
        log's jobs submitted inside it are attributed to layers."""
        lo = time.time()
        if self.tracer is not None:
            self.tracer.install()
        try:
            yield
        finally:
            if self.tracer is not None:
                self.tracer.uninstall()
            self.windows.append((lo, time.time()))


def history_warehouse(r: Run, raw: Path, wh: Path, podcasts: bool = True) -> dict:
    """Set-up: the warehouse a cold ``pipeline.run`` of ``raw`` leaves
    behind, built by the engine's own discovery, enrichment, dim and fact
    builders and ``write_fact`` in one pass over a cached history. A cold
    ``pipeline.run`` would take about 10 s more of every run's budget
    (see the module docstring); the incremental run's output check
    proves the two warehouses equivalent. ``podcasts=False`` leaves out
    the podcast side, which the stream does not read. Returns the stored
    dims."""
    from spotify_streaming_etl_pipeline_spark.plans import dims as D
    from spotify_streaming_etl_pipeline_spark.plans.facts import (
        build_fact_podcasts,
        build_fact_tracks,
        write_fact,
    )
    from spotify_streaming_etl_pipeline_spark.sources.enrichment import fetch_in_batches
    from spotify_streaming_etl_pipeline_spark.sources.history import read_history

    spark = r.spark
    fetch = r.setup_api().fetchers()
    history = read_history(spark, str(raw)).persist()

    def enrich(entity: str, uris):
        got = fetch_in_batches(sorted(row.uri for row in uris.collect()), fetch[entity], entity)
        return spark.createDataFrame(
            [(u, json.dumps(p, sort_keys=True)) for u, p in got.records], "uri string, raw_data string"
        )

    tracks = enrich("track", D.distinct_uris(history, "spotify_track_uri"))
    built = {
        "track": D.load_dim(D.clean_tracks(tracks), "spotify_track_uri", "track_id"),
        "artist": D.load_dim(
            D.clean_artists(enrich("artist", D.artist_uris_from_track_envelopes(tracks))),
            "spotify_artist_uri", "artist_id",
        ),
        "reason": D.build_dim_reason(history),
    }  # fmt: skip
    if podcasts:
        episodes = enrich("episode", D.distinct_uris(history, "spotify_episode_uri"))
        built["episode"] = D.sentinel_episode(spark).unionByName(
            D.load_dim(D.clean_episodes(episodes), "spotify_episode_uri", "episode_id")
        )
        built["podcast"] = D.sentinel_podcast(spark).unionByName(
            D.load_dim(
                D.clean_podcasts(enrich("podcast", D.podcast_uris_from_episode_envelopes(episodes))),
                "spotify_podcast_uri", "podcast_id",
            )
        )
    dims = {}
    for name, df in built.items():
        df.write.parquet(str(wh / f"dim_{name}"))
        dims[name] = spark.read.parquet(str(wh / f"dim_{name}"))
    write_fact(build_fact_tracks(history, dims["track"], dims["artist"], dims["reason"]), str(wh / "fact_tracks"))
    if podcasts:
        write_fact(
            build_fact_podcasts(history, dims["episode"], dims["podcast"], dims["reason"]),
            str(wh / "fact_podcasts"),
        )
    history.unpersist()
    return dims


def run_incremental(r: Run) -> dict:
    from spotify_streaming_etl_pipeline_spark import pipeline

    e = r.export
    raw, base, wh = r.work / "raw", r.work / "raw_base", r.work / "wh"
    paths = e.write(raw)
    base.mkdir()
    for path in paths[:-1]:
        os.link(path, base / path.name)
    history_warehouse(r, base, wh)
    r.mark("history loaded")
    r.spark.catalog.clearCache()
    api = OfflineWebApi(r.seed, e.track_artists, known_uris(str(wh)))
    plays = expected_track_plays(e, e.months)
    fact_dirs = [wh / "fact_tracks", wh / "fact_podcasts"]
    files_before = _part_files(fact_dirs)
    setup_s = time.perf_counter() - r.t0

    with RssSampler([os.getpid(), r.jvm_pid()]) as rss:
        with r.timed():
            t = time.perf_counter()
            res = pipeline.run(r.spark, str(raw), str(wh), fetchers=api.fetchers())
            r.ingest_s.append(time.perf_counter() - t)
        files_written = _part_files(fact_dirs) - files_before
        dims = {k: r.spark.read.parquet(str(wh / f"dim_{k}")) for k in ("track", "artist")}
        done, latencies = dashboard(r, str(wh / "fact_tracks"), dims, plays)
    retained = retained_mb(r.spark)

    # Output checks: the end state equals a cold load of every month.
    problems = checks.check_warehouse(str(wh), e, e.months)
    delta = expected_track_plays(e, e.months[-1:])
    if res.n_fact_rows.get("tracks") != len(delta):
        problems.append(f"run appended {res.n_fact_rows.get('tracks')} track plays, expected {len(delta)}")
    actual = checks.resolved_facts(
        *(checks.read_parquet_dir(wh / t) for t in ("fact_tracks", "dim_track", "dim_artist"))
    )
    problems += checks.check_fact_rows(actual, plays, "fact_tracks")
    for p in problems:
        print("check failed:", p, file=sys.stderr)
    r.attempted = 1 + len(done)
    r.failed = int(bool(problems)) + check_dashboard(done, plays)
    r.layer_extra = {
        "plans.facts.files_written": files_written,
        "json_bytes_on_disk": export_bytes(paths),
        "memory.peak_rss_mb": rss.peak_kb / 1024,
        **{f"sources.enrichment.{k}": v for k, v in api.counters().items()},
    }
    return _metrics(r, setup_s, retained, latencies)


def run_stream_ingest(r: Run) -> dict:
    from spotify_streaming_etl_pipeline_spark.streaming import ingest

    e = r.export
    new = e.months[-STREAMED_MONTHS:]
    land, stage = r.work / "land", r.work / "stage"
    sfact, ckpt = r.work / "stream_fact", r.work / "checkpoint"
    paths = e.write(r.work / "raw")
    n_hist = len(paths) - len(new)
    for directory, part in ((land, paths[:n_hist]), (stage, paths[n_hist:])):
        directory.mkdir()
        for path in part:
            os.link(path, directory / path.name)
    staged = sorted(stage.iterdir())
    dims = history_warehouse(r, r.work / "raw", r.work / "wh", podcasts=False)
    r.mark("batch warehouse built")

    def land_and_drain(path: Path):
        os.rename(path, land / path.name)  # the file lands atomically
        return drain()

    def drain():
        q = ingest.start_fact_tracks_ingest(
            r.spark, str(land), str(sfact), dims["track"], dims["artist"], dims["reason"], str(ckpt)
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return q

    drain()  # the stream's fact table and checkpoint over the history
    r.mark("history streamed")
    plays = expected_track_plays(e, e.months)
    files_before = _part_files([sfact])
    setup_s = time.perf_counter() - r.t0

    progress = []
    with RssSampler([os.getpid(), r.jvm_pid()]) as rss:
        with r.timed():
            for path in staged:
                t = time.perf_counter()
                if r.tracer is None:
                    q = land_and_drain(path)
                else:
                    with r.tracer.span("streaming.ingest", "drain"):
                        q = land_and_drain(path)
                r.ingest_s.append(time.perf_counter() - t)
                progress += [p for p in q.recentProgress if p["numInputRows"] > 0]
        print("micro-batch s:", [round(x, 3) for x in r.ingest_s], file=sys.stderr)
        files_written = _part_files([sfact]) - files_before
        done, latencies = dashboard(r, str(sfact), dims, plays)
    retained = retained_mb(r.spark)

    # Output checks: the stream's fact table holds exactly the expected
    # plays, and for each streamed month the same (ts_msk, track_fk,
    # ms_played) rows as the batch fact_tracks built from the same dims.
    wh = r.work / "wh"
    stream = checks.read_parquet_dir(sfact)
    actual = checks.resolved_facts(
        stream, *(checks.read_parquet_dir(wh / f"dim_{k}") for k in ("track", "artist"))
    )
    problems = checks.check_fact_rows(actual, plays, "stream fact table")
    key = ["ts_msk", "track_fk", "ms_played"]
    batch = checks.read_parquet_dir(wh / "fact_tracks")
    failed_months = 0
    for month in new:
        ts = set(pd.to_datetime(expected_track_plays(e, [month]).ts_msk))
        got, want = (
            df.loc[df.ts_msk.isin(ts), key].sort_values("ts_msk", ignore_index=True).astype(str)
            for df in (stream, batch)
        )
        if len(got) != len(ts) or not got.equals(want):
            failed_months += 1
            problems.append(f"stream rows of {month} differ from the batch fact_tracks")
    for p in problems:
        print("check failed:", p, file=sys.stderr)
    r.attempted = len(staged) + len(done)
    r.failed = max(failed_months, int(bool(problems))) + check_dashboard(done, plays)
    r.layer_extra = {
        "plans.facts.files_written": files_written,
        "json_bytes_on_disk": export_bytes(land / p.name for p in staged),
        "memory.peak_rss_mb": rss.peak_kb / 1024,
        "streaming.ingest.trigger_ms": _median([p["durationMs"]["triggerExecution"] for p in progress]),
        "streaming.ingest.add_batch_ms": _median([p["durationMs"]["addBatch"] for p in progress]),
        "streaming.ingest.planning_ms": _median([p["durationMs"].get("queryPlanning", 0) for p in progress]),
    }
    return _metrics(r, setup_s, retained, latencies)


def retained_mb(spark) -> float:
    """Memory still held once the timed part is over: this
    process's resident set plus the JVM's heap and non-heap in use after
    a full collection. Caches that trade memory for time stay in it."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    jvm_bytes = bean.getHeapMemoryUsage().getUsed() + bean.getNonHeapMemoryUsage().getUsed()
    return RssSampler._rss_kb(os.getpid()) / 1024 + jvm_bytes / 2**20


def _part_files(dirs: list[Path]) -> int:
    return sum(1 for d in dirs if d.is_dir() for f in d.rglob("part-*") if f.is_file())


def _median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def _metrics(r: Run, setup_s: float, retained: float, latencies: list[float]) -> dict:
    lat_ms = [x * 1000 for x in latencies]
    return {
        "setup_s": setup_s,
        "ingest_s": _median(r.ingest_s),
        # Thirteen timed calls support a median, not a p90 (which needs
        # ten samples beyond it).
        "query_p50_ms": statistics.median(lat_ms),
        "retained_mb": retained,
    }


def layer_metrics(r: Run, timed: dict) -> dict:
    """Per-layer metrics of a traced run (after the session stopped)."""
    logs = list((r.work / "eventlog").iterdir())
    per_layer = {layer: {} for layer in LAYERS}
    if len(logs) == 1:
        parsed = [parse_event_log(logs[0], w) for w in r.windows]
    else:
        print(f"warning: expected one event log, found {len(logs)}", file=sys.stderr)
        parsed = []
    self_s = r.tracer.self_times()
    for layer in LAYERS:
        m = per_layer[layer]
        m["self_s"] = self_s.get(layer, 0.0)
        for key in COMMON[1:]:
            m[key] = sum(p["per_layer"][layer].get(key, 0) for p in parsed)
        m["rows_out"] += r.tracer.rows_out.get(layer, 0)
        m["files_read"] = sum(p["files_read"].get(layer, 0) for p in parsed)
    json_bytes = sum(p["scan"]["json_bytes"] for p in parsed)
    out = {f"{layer}.{k}": v for layer in LAYERS for k, v in per_layer[layer].items() if k in COMMON}
    extra = dict(r.layer_extra)
    on_disk = extra.pop("json_bytes_on_disk")
    out |= {
        "sources.history.json_read_amplification": json_bytes / on_disk,
        "sources.history.rows_in": sum(p["scan"]["json_rows"] for p in parsed),
        "plans.marts.files_read": per_layer["plans.marts"]["files_read"],
        "operators.writer.target_bytes_read": per_layer["operators.writer"]["input_bytes"],
        "trace.ingest_s": timed["ingest_s"],
        "trace.ingest_span_s": r.tracer.root_seconds(set(LAYERS) - {"plans.marts"}),
        "trace.layer_self_sum_s": sum(self_s.values()),
        "trace.span_total_s": r.tracer.root_seconds(set(LAYERS)),
    }
    for name in ENRICHMENT_COUNTERS:
        out[f"sources.enrichment.{name}"] = extra.pop(f"sources.enrichment.{name}", 0)
    for name in STREAM_TIMINGS:
        out[f"streaming.ingest.{name}"] = extra.pop(f"streaming.ingest.{name}", 0.0)
    out |= extra
    return out

RUNNERS = {"incremental": run_incremental, "stream_ingest": run_stream_ingest}


def execute(workload: str, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    r = Run(seed, seconds, trace, work)
    try:
        timed = RUNNERS[workload](r)
    finally:
        stop_spark(r.spark)
    metrics = layer_metrics(r, timed) if trace else timed
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }
