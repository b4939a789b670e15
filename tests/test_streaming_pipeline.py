"""Streaming ingest smoke (one micro-batch through to a fact write)
and the end-to-end pipeline runner (fixture JSON -> queryable marts)."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from spotify_streaming_etl_pipeline_spark import pipeline
from spotify_streaming_etl_pipeline_spark.streaming.ingest import (
    hourly_platform_counts,
    read_history_stream,
    start_fact_tracks_ingest,
)
from tests.fixtures import episode_envelope, history_row, track_envelope


def _write_export(path, rows):
    path.write_text(json.dumps(rows))


@pytest.fixture()
def raw_dir(tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    _write_export(
        d / "export_1.json",
        [
            history_row(),
            history_row(ts="2021-01-01T00:30:00Z", ms_played=60000),
            history_row(
                ts="2021-01-01T02:00:00Z",
                spotify_track_uri=None,
                master_metadata_track_name=None,
                episode_name="Ep 1",
                episode_show_name="Test Show",
                spotify_episode_uri="spotify:episode:7",
            ),
        ],
    )
    _write_export(
        d / "export_2.json",
        [history_row(ts="2021-06-01T10:00:00Z", spotify_track_uri="spotify:track:456")],
    )
    return d


def _fake_fetchers():
    def tracks(batch):
        return {
            "tracks": [
                json.loads(track_envelope(uri)[1]) | {"uri": uri} for uri in batch
            ]
        }

    def artists(batch):
        return {
            "artists": [
                {"uri": u, "name": f"Artist {u[-1]}", "images": [{"url": "http://a"}]}
                for u in batch
            ]
        }

    def episodes(batch):
        return {
            "episodes": [
                json.loads(episode_envelope(uri)[1]) | {"uri": uri} for uri in batch
            ]
        }

    def podcasts(batch):
        return {
            "shows": [
                {"uri": u, "name": "Test Show", "description": "d", "images": []}
                for u in batch
            ]
        }

    return {
        "track": tracks,
        "artist": artists,
        "episode": episodes,
        "podcast": podcasts,
    }


def test_pipeline_end_to_end_then_incremental_noop(spark, raw_dir, tmp_path):
    wh = str(tmp_path / "warehouse")
    res = pipeline.run(spark, str(raw_dir), wh, fetchers=_fake_fetchers())

    assert res.n_history_rows == 4
    assert res.dead_letters == []
    # dims: 2 tracks, their 2 lead artists (+1 feat from envelope mining), 1 episode, 1 podcast
    assert res.dims["track"].count() == 2
    assert res.dims["artist"].count() >= 2
    assert res.dims["episode"].filter("episode_id = 0").count() == 1  # sentinel
    assert res.dims["podcast"].filter("podcast_id = 0").count() == 1
    # facts: 3 track plays, 1 podcast play appended this run
    assert res.n_fact_rows == {"tracks": 3, "podcasts": 1}
    # returned frames are the full (re-read) warehouse tables
    assert res.facts["tracks"].count() == 3
    resolved = res.facts["tracks"].filter(F.col("track_fk").isNotNull()).count()
    assert resolved == 3

    # warehouse written and queryable
    fact = spark.read.parquet(f"{wh}/fact_tracks")
    assert fact.count() == 3

    # second run: delta cutoff excludes everything already loaded
    res2 = pipeline.run(spark, str(raw_dir), wh, fetchers=_fake_fetchers())
    assert res2.n_history_rows == 0
    assert res2.n_fact_rows == {"tracks": 0, "podcasts": 0}  # nothing re-appended
    assert res2.facts["tracks"].count() == 3  # table unchanged
    assert res2.dims["track"].count() == 2  # dims stable across reruns


def _warehouse_rows(spark, wh):
    """Every table of a warehouse as sorted row tuples, by table name."""
    import os

    return {
        name: sorted(map(tuple, spark.read.parquet(f"{wh}/{name}").collect()))
        for name in sorted(os.listdir(wh))
        if name.startswith(("dim_", "fact_"))
    }


def test_pipeline_parses_export_once(spark, raw_dir, tmp_path):
    """The run reads the export once: a track fetcher that deletes the
    raw directory on its first call must not break any later stage
    (discovery, dim_reason, both star joins), and the warehouse must
    equal that of a normal run over the same files."""
    import shutil

    once = tmp_path / "raw_once"
    shutil.copytree(raw_dir, once)
    fetchers = _fake_fetchers()
    fetch_tracks = fetchers["track"]
    deleted = []

    def fetch_tracks_then_delete_export(batch):
        if not deleted:
            shutil.rmtree(once)
            deleted.append(True)
        return fetch_tracks(batch)

    fetchers["track"] = fetch_tracks_then_delete_export
    wh_once, wh_normal = str(tmp_path / "wh_once"), str(tmp_path / "wh_normal")
    res_once = pipeline.run(spark, str(once), wh_once, fetchers=fetchers)
    res_normal = pipeline.run(spark, str(raw_dir), wh_normal, fetchers=_fake_fetchers())

    assert deleted and not once.exists()
    assert res_once.n_fact_rows == res_normal.n_fact_rows == {"tracks": 3, "podcasts": 1}
    rows_once = _warehouse_rows(spark, wh_once)
    assert set(rows_once) == {
        "dim_track", "dim_artist", "dim_episode", "dim_podcast", "dim_reason",
        "fact_tracks", "fact_podcasts",
    }  # fmt: skip
    assert rows_once == _warehouse_rows(spark, wh_normal)


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_pipeline_releases_its_caches(spark, raw_dir, tmp_path):
    """A write=True run leaves no RDD persisted (the cached history and
    envelopes are released once the written tables are re-read), and an
    empty-delta rerun reports zero appended rows from its write pass."""
    wh = str(tmp_path / "warehouse")
    # The session is shared: other tests' caches may be present, or be
    # released meanwhile, so check that the runs add none.
    before = _persistent_rdd_ids(spark)
    res = pipeline.run(spark, str(raw_dir), wh, fetchers=_fake_fetchers())
    assert res.n_fact_rows == {"tracks": 3, "podcasts": 1}
    assert _persistent_rdd_ids(spark) <= before

    res2 = pipeline.run(spark, str(raw_dir), wh, fetchers=_fake_fetchers())
    assert res2.n_history_rows == 0
    assert res2.n_fact_rows == {"tracks": 0, "podcasts": 0}
    assert res2.facts["tracks"].count() == 3
    assert _persistent_rdd_ids(spark) <= before


def _grown_fetchers():
    """``_fake_fetchers`` in which the entities a later export adds bring
    parents of their own: ``track:789`` a second, new artist
    (``artist:11``) and ``episode:8`` a new show (``show:43``)."""
    fetchers = _fake_fetchers()
    fetch_tracks, fetch_episodes = fetchers["track"], fetchers["episode"]

    def tracks(batch):
        env = fetch_tracks(batch)
        for t in env["tracks"]:
            if t["uri"] == "spotify:track:789":
                t["artists"] = [
                    {"name": "Test Artist", "uri": "spotify:artist:9"},
                    {"name": "New Artist", "uri": "spotify:artist:11"},
                ]
        return env

    def episodes(batch):
        env = fetch_episodes(batch)
        for e in env["episodes"]:
            if e["uri"] == "spotify:episode:8":
                e["show"] = {"name": "New Show", "uri": "spotify:show:43"}
        return env

    return fetchers | {"track": tracks, "episode": episodes}


def _logged(fetchers, log_dir, dead=()):
    """Wrap each fetcher so that it appends every batch it is asked for
    to ``log_dir/<entity>.jsonl`` — a file, so calls made on executors
    are seen too — and returns null for the URIs in ``dead``."""
    import os

    def wrap(entity, fetch):
        def logged(batch):
            with open(os.path.join(log_dir, f"{entity}.jsonl"), "a") as f:
                f.write(json.dumps(batch) + "\n")
            env = fetch(batch)
            key = next(iter(env))
            return {key: [None if i["uri"] in dead else i for i in env[key]]}

        return logged

    return {entity: wrap(entity, fetch) for entity, fetch in fetchers.items()}


def _requested(log_dir):
    """Entity -> sorted URIs requested since the last call (clears the log)."""
    got = {}
    for entity in ("track", "artist", "episode", "podcast"):
        log = log_dir / f"{entity}.jsonl"
        lines = log.read_text().splitlines() if log.exists() else []
        got[entity] = sorted(u for line in lines for u in json.loads(line))
        log.unlink(missing_ok=True)
    return got


def _track_plays(spark, wh):
    """(track URI, fact ts_msk) of every stored track play."""
    fact = spark.read.parquet(f"{wh}/fact_tracks")
    dim = spark.read.parquet(f"{wh}/dim_track")
    joined = fact.join(dim, fact.track_fk == dim.track_id, "left")
    return sorted(
        (r["spotify_track_uri"], r["ts_msk"])
        for r in joined.select("spotify_track_uri", "ts_msk").collect()
    )


@pytest.mark.parametrize(
    "play",
    [
        {},
        {
            "spotify_track_uri": None,
            "master_metadata_track_name": None,
            "episode_name": "Ep 1",
            "episode_show_name": "Test Show",
            "spotify_episode_uri": "spotify:episode:7",
        },
    ],
    ids=["tracks_only", "podcasts_only"],
)
def test_pipeline_one_sided_exports(spark, tmp_path, play):
    """An export with plays of one kind only loads, and so does the next
    run: the other fact table has no rows, and its directory holds only
    ``_SUCCESS``, which must count as no table rather than fail the
    schema inference."""
    raw, wh = tmp_path / "raw", str(tmp_path / "warehouse")
    raw.mkdir()
    side = "podcasts" if play else "tracks"
    other = "tracks" if play else "podcasts"
    _write_export(raw / "export_1.json", [history_row(**play)])
    res = pipeline.run(spark, str(raw), wh, fetchers=_fake_fetchers())
    assert res.n_fact_rows == {side: 1, other: 0}
    assert set(res.facts) == {side}

    _write_export(raw / "export_2.json", [history_row(ts="2021-02-01T00:00:00Z", **play)])
    res2 = pipeline.run(spark, str(raw), wh, fetchers=_fake_fetchers())
    assert res2.n_history_rows == 1
    assert res2.n_fact_rows == {side: 1, other: 0}
    assert res2.facts[side].count() == 2


@pytest.mark.parametrize("enrich_collect_max", [10_000, 0], ids=["driver", "distributed"])
def test_pipeline_fetches_only_new_uris(spark, raw_dir, tmp_path, enrich_collect_max):
    """J7: an incremental run asks the API only for URIs the warehouse
    has never stored — the new track and the one artist of its envelope
    that is new — on the driver loop and on the distributed path alike."""
    logs, wh = tmp_path / "logs", str(tmp_path / "warehouse")
    logs.mkdir()
    fetchers = _logged(_grown_fetchers(), str(logs))
    pipeline.run(spark, str(raw_dir), wh, fetchers=fetchers)
    first = _requested(logs)
    assert first["track"] == ["spotify:track:123", "spotify:track:456"]
    assert first["artist"] == ["spotify:artist:10", "spotify:artist:9"]

    _write_export(
        raw_dir / "export_3.json",
        [history_row(ts="2022-02-01T12:00:00Z", spotify_track_uri="spotify:track:789")],
    )
    res = pipeline.run(
        spark, str(raw_dir), wh, fetchers=fetchers, enrich_collect_max=enrich_collect_max
    )
    assert _requested(logs) == {
        "track": ["spotify:track:789"],
        "artist": ["spotify:artist:11"],
        "episode": [],
        "podcast": [],
    }
    assert res.dead_letters == []
    assert res.n_fact_rows == {"tracks": 1, "podcasts": 0}
    assert ("spotify:track:789", dt.datetime(2022, 2, 1, 15, 0)) in _track_plays(spark, wh)


def test_pipeline_crash_at_every_write_then_clean_rerun(spark, raw_dir, tmp_path, monkeypatch):
    """A crash before any of the run's writes (five dims, then two fact
    appends), followed by a clean rerun, leaves the warehouse one clean
    run leaves — even a crash between the two appends, whose delta
    holds a podcast play older than the appended track play."""
    import shutil

    base = str(tmp_path / "base")
    pipeline.run(spark, str(raw_dir), base, fetchers=_grown_fetchers())
    _write_export(
        raw_dir / "export_3.json",
        [
            history_row(
                ts="2022-02-01T12:00:00Z",
                spotify_track_uri="spotify:track:789",
                reason_start="clickrow",
            ),
            history_row(
                ts="2022-01-15T00:00:00Z",
                spotify_track_uri=None,
                master_metadata_track_name=None,
                episode_name="Ep 8",
                episode_show_name="New Show",
                spotify_episode_uri="spotify:episode:8",
            ),
        ],
    )
    real = {
        "_overwrite_parquet_safe": pipeline._overwrite_parquet_safe,
        "write_fact": pipeline.write_fact,
    }
    writes = []

    def crash_at(k):
        def patched(name):
            def call(*args, **kwargs):
                writes.append(name)
                if len(writes) == k:
                    raise RuntimeError(f"injected crash before write {k}")
                return real[name](*args, **kwargs)

            return call

        writes.clear()
        for name in real:
            monkeypatch.setattr(pipeline, name, patched(name))

    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    crash_at(None)
    res = pipeline.run(spark, str(raw_dir), clean, fetchers=_grown_fetchers())
    assert res.n_fact_rows == {"tracks": 1, "podcasts": 1}
    assert writes == ["_overwrite_parquet_safe"] * 5 + ["write_fact"] * 2
    expected = _warehouse_rows(spark, clean)
    assert ("spotify:track:789", dt.datetime(2022, 2, 1, 15, 0)) in _track_plays(spark, clean)

    for k in range(1, 8):
        wh = str(tmp_path / f"crash_{k}")
        shutil.copytree(base, wh)
        crash_at(k)
        with pytest.raises(RuntimeError, match="injected crash"):
            pipeline.run(spark, str(raw_dir), wh, fetchers=_grown_fetchers())
        crash_at(None)
        pipeline.run(spark, str(raw_dir), wh, fetchers=_grown_fetchers())
        assert _warehouse_rows(spark, wh) == expected, f"crash before write {k}"


def test_pipeline_rerun_writes_only_what_changed(spark, raw_dir, tmp_path):
    """A run whose delta adds nothing writes no dim and calls no
    fetcher — except that an artist whose fetch dead-lettered is asked
    for again, alone, and only its dim is rewritten."""
    import os

    logs, wh = tmp_path / "logs", str(tmp_path / "warehouse")
    logs.mkdir()

    def part_files():
        return {
            name: sorted(os.listdir(f"{wh}/{name}"))
            for name in os.listdir(wh)
            if name.startswith("dim_")
        }

    res = pipeline.run(
        spark, str(raw_dir), wh,
        fetchers=_logged(_fake_fetchers(), str(logs), dead={"spotify:artist:9"}),
    )  # fmt: skip
    assert res.dead_letters == [("spotify:artist:9", "artist", "API returned null")]
    _requested(logs)  # clears the first run's log
    before = part_files()

    fetchers = _logged(_fake_fetchers(), str(logs))
    res2 = pipeline.run(spark, str(raw_dir), wh, fetchers=fetchers)
    assert res2.n_history_rows == 0
    assert _requested(logs) == {
        "track": [], "artist": ["spotify:artist:9"], "episode": [], "podcast": [],
    }  # fmt: skip
    after = part_files()
    assert {n for n in before if after[n] != before[n]} == {"dim_artist"}
    assert res2.dims["artist"].filter(
        F.col("spotify_artist_uri") == "spotify:artist:9"
    ).count() == 1

    res3 = pipeline.run(spark, str(raw_dir), wh, fetchers=fetchers)
    assert res3.n_fact_rows == {"tracks": 0, "podcasts": 0}
    assert _requested(logs) == {"track": [], "artist": [], "episode": [], "podcast": []}
    assert part_files() == after


def test_pipeline_size_switch_distributed_enrichment(spark, raw_dir, tmp_path):
    """enrich_collect_max=0 forces every URI set down the distributed
    mapInPandas path; the warehouse must come out identical to the
    driver-collect path (same dims, facts, zero dead letters)."""
    wh_driver = str(tmp_path / "wh_driver")
    wh_dist = str(tmp_path / "wh_dist")
    res_driver = pipeline.run(spark, str(raw_dir), wh_driver, fetchers=_fake_fetchers())
    res_dist = pipeline.run(
        spark, str(raw_dir), wh_dist, fetchers=_fake_fetchers(), enrich_collect_max=0
    )
    assert res_dist.dead_letters == []
    assert res_dist.n_fact_rows == res_driver.n_fact_rows
    for entity in ("track", "artist", "episode", "podcast", "reason"):
        d_rows = sorted(map(tuple, res_driver.dims[entity].collect()))
        x_rows = sorted(map(tuple, res_dist.dims[entity].collect()))
        assert x_rows == d_rows, f"dim_{entity} differs across enrichment paths"


# Module-level fetchers (importable on executors) for the planned
# DataSource enrichment path — same payloads as _fake_fetchers.
def ds_tracks(batch):
    return {
        "tracks": [
            json.loads(track_envelope(uri)[1]) | {"uri": uri} for uri in batch
        ]
    }


def ds_artists(batch):
    return {
        "artists": [
            {"uri": u, "name": f"Artist {u[-1]}", "images": [{"url": "http://a"}]}
            for u in batch
        ]
    }


def ds_episodes(batch):
    return {
        "episodes": [
            json.loads(episode_envelope(uri)[1]) | {"uri": uri} for uri in batch
        ]
    }


def ds_podcasts(batch):
    return {
        "shows": [
            {"uri": u, "name": "Test Show", "description": "d", "images": []}
            for u in batch
        ]
    }


def test_pipeline_datasource_enrichment_path(spark, raw_dir, tmp_path):
    """String ("module:attr") fetchers + enrich_collect_max=0 force
    every URI set through the planned rest_enrichment DataSource scan
    (URI staging parquet -> footer-planned row ranges); the warehouse
    must come out identical to the driver-collect path, and the same
    string fetchers below the threshold must resolve for the driver
    loop."""
    path_fetchers = {
        e: f"tests.test_streaming_pipeline:ds_{e}s"
        for e in ("track", "artist", "episode", "podcast")
    }
    wh_driver = str(tmp_path / "wh_driver")
    wh_ds = str(tmp_path / "wh_ds")
    res_driver = pipeline.run(
        spark, str(raw_dir), wh_driver, fetchers=_fake_fetchers()
    )
    res_ds = pipeline.run(
        spark, str(raw_dir), wh_ds, fetchers=path_fetchers,
        enrich_collect_max=0,
    )
    assert res_ds.dead_letters == []
    assert res_ds.n_fact_rows == res_driver.n_fact_rows
    for entity in ("track", "artist", "episode", "podcast", "reason"):
        d_rows = sorted(map(tuple, res_driver.dims[entity].collect()))
        x_rows = sorted(map(tuple, res_ds.dims[entity].collect()))
        assert x_rows == d_rows, f"dim_{entity} differs on the DataSource path"
    # string fetchers resolve on the small-set driver loop too
    wh_small = str(tmp_path / "wh_small")
    res_small = pipeline.run(
        spark, str(raw_dir), wh_small, fetchers=path_fetchers
    )
    assert res_small.n_fact_rows == res_driver.n_fact_rows


def test_streaming_ingest_one_microbatch(spark, raw_dir, tmp_path):
    wh = tmp_path / "stream_wh"
    dims = pipeline.run(
        spark, str(raw_dir), str(tmp_path / "seed_wh"), fetchers=_fake_fetchers()
    ).dims

    q = start_fact_tracks_ingest(
        spark,
        str(raw_dir),
        str(wh / "fact_tracks"),
        dims["track"],
        dims["artist"],
        dims["reason"],
        checkpoint_dir=str(wh / "_checkpoint"),
        available_now=True,
    )
    q.awaitTermination(120)
    fact = spark.read.parquet(str(wh / "fact_tracks"))
    assert fact.count() == 3
    assert fact.filter(F.col("track_fk").isNotNull()).count() == 3

    # restart with no new files: checkpoint prevents reprocessing
    q2 = start_fact_tracks_ingest(
        spark,
        str(raw_dir),
        str(wh / "fact_tracks"),
        dims["track"],
        dims["artist"],
        dims["reason"],
        checkpoint_dir=str(wh / "_checkpoint"),
        available_now=True,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(wh / "fact_tracks")).count() == 3


def test_streaming_windowed_agg_plan_is_streaming(spark, raw_dir):
    stream = read_history_stream(spark, str(raw_dir))
    assert stream.isStreaming
    agg = hourly_platform_counts(stream)
    assert agg.isStreaming
    assert set(agg.columns) == {"start", "end", "platform", "n_plays", "ms_played"}


def test_hourly_windows_batch_parity(spark, raw_dir):
    """The windowed agg logic applied to the same data in batch mode
    gives the windows the stream would emit."""
    from spotify_streaming_etl_pipeline_spark.sources.history import read_history

    batch = read_history(spark, str(raw_dir))
    out = hourly_platform_counts(batch).collect()
    by_window = {(r["start"].isoformat(), r["platform"]): r["n_plays"] for r in out}
    assert sum(by_window.values()) == 4
    assert len(by_window) == 3  # 00:00 (2 rows), 02:00, 10:00


def test_cli_main_runs_pipeline(spark, raw_dir, tmp_path, capsys):
    """The module CLI (reference scripts/main.py analogue) runs the
    no-enrichment pipeline end to end."""
    from spotify_streaming_etl_pipeline_spark.main import main

    rc = main(
        ["--raw-dir", str(raw_dir), "--warehouse-dir", str(tmp_path / "wh_cli")]
    )
    assert rc == 0
    # dim_reason is derivable without enrichment and must be written
    reasons = spark.read.parquet(str(tmp_path / "wh_cli" / "dim_reason"))
    assert reasons.count() >= 2


def test_watermark_drops_late_events_across_restarts(spark, tmp_path):
    """The bounded-state claim of §2.9, exercised: after batch 1 the
    watermark (max event time - 2h) persists in the checkpoint; a
    restart feeding an event OLDER than the watermark must drop it,
    while an in-window event still updates its aggregate."""
    from spotify_streaming_etl_pipeline_spark.streaming.ingest import (
        hourly_platform_counts,
        read_history_stream,
    )

    raw = tmp_path / "wm_raw"
    raw.mkdir()
    ckpt = str(tmp_path / "wm_ckpt")
    batches = []

    def run_once():
        stream = read_history_stream(spark, str(raw))
        q = (
            hourly_platform_counts(stream, watermark="2 hours")
            .writeStream.foreachBatch(
                lambda df, bid: batches.append(
                    [(r["start"].isoformat(), r["n_plays"]) for r in df.collect()]
                )
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_export(raw / "a.json", [history_row(ts="2021-01-01T10:00:00Z")])
    run_once()
    _write_export(
        raw / "b.json",
        [
            history_row(ts="2021-01-01T05:00:00Z"),  # < watermark (08:00): drop
            history_row(ts="2021-01-01T10:30:00Z"),  # same 10:00 window: update
        ],
    )
    run_once()
    flat = [w for b in batches for w in b]
    assert not any(s.startswith("2021-01-01T05") for s, _ in flat), flat
    assert ("2021-01-01T10:00:00", 2) in flat, flat


def test_session_windows_batch_stream_parity(spark, tmp_path):
    """The registered `user_sessions` operator must produce IDENTICAL
    rows whether its events arrive as a batch frame or as a stream
    drained through foreachBatch (the backfill mode every streaming
    deployment starts from) — one logical operator, two front ends,
    zero semantic drift. Runs on the driver's correctness corpus
    (sf0.01 events when present, else the conftest default)."""
    import os

    from spotify_streaming_etl_pipeline_spark.sources.catalog import load_table
    from spotify_streaming_etl_pipeline_spark.streaming.ingest import session_windows

    from tests.conftest import SF_DIR

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):  # pragma: no cover - driver env always has it
        sf = SF_DIR
    ev = load_table(spark, sf, "events").select("user_id", "ts", "value")

    batch_rows = sorted(
        map(tuple, session_windows(ev, key_col="user_id").collect())
    )

    src = str(tmp_path / "events_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    assert stream.isStreaming
    got: list = []

    def sink(bdf, _bid):
        got.extend(
            map(tuple, session_windows(bdf, key_col="user_id").collect())
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted(got) == batch_rows
    assert len(batch_rows) > 0


def test_pipeline_compacts_fact_partitions_end_to_end(spark, raw_dir, tmp_path):
    """compact_facts=True on the runner: after incremental appends
    fragment a year partition, the run leaves each `_year=` leaf at the
    size-derived file count with every row and the partition column
    intact — exercising the pipeline call site, not just the operator."""
    from spotify_streaming_etl_pipeline_spark.operators.maintenance import (
        parquet_file_stats,
    )

    wh = str(tmp_path / "warehouse")
    pipeline.run(spark, str(raw_dir), wh, fetchers=_fake_fetchers())
    # new export -> second incremental append fragments _year=2021
    _write_export(
        raw_dir / "export_3.json",
        [history_row(ts="2021-07-01T00:00:00Z", spotify_track_uri="spotify:track:456")],
    )
    fact_dir = f"{wh}/fact_tracks"
    n_before, _ = parquet_file_stats(fact_dir)
    res = pipeline.run(
        spark, str(raw_dir), wh, fetchers=_fake_fetchers(), compact_facts=True
    )
    assert res.n_fact_rows["tracks"] == 1  # the new play appended
    assert n_before >= 2  # appends really did fragment before compaction
    assert res.compacted["tracks"].get("_year=2021") == 1
    # no work-dir residue is visible to (or breaks) the partitioned read
    fact = spark.read.parquet(fact_dir)
    assert fact.count() == 4
    assert fact.filter(F.col("_year") == 2021).count() == 4
    # returned frame is the re-read table and agrees
    assert res.facts["tracks"].count() == 4


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream attribution join == the same join run
    as one batch: every (click, purchase-within-30min) pair, no
    duplicates, no losses, under an availableNow drain."""
    import os

    from spotify_streaming_etl_pipeline_spark.sources.catalog import load_table
    from spotify_streaming_etl_pipeline_spark.streaming.joins import attribution_join

    from tests.conftest import SF_DIR

    sf = "/root/testdata/sf0.01" if os.path.isdir("/root/testdata/sf0.01") else SF_DIR
    # Watermarks require TIMESTAMP (event time); the catalog's events
    # ts is NTZ, so pin the zone interpretation explicitly up front.
    ev = (
        load_table(spark, sf, "events")
        .select("event_id", "user_id", "ts", "event_type")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    clicks_b = ev.filter(F.col("event_type") == "click").drop("event_type")
    purch_b = ev.filter(F.col("event_type") == "purchase").drop("event_type")

    batch_rows = sorted(map(tuple, attribution_join(clicks_b, purch_b).collect()))
    assert len(batch_rows) > 0

    csrc, psrc = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks_b.write.parquet(csrc)
    purch_b.write.parquet(psrc)
    cs = spark.readStream.schema(clicks_b.schema).parquet(csrc)
    ps = spark.readStream.schema(purch_b.schema).parquet(psrc)
    joined = attribution_join(cs, ps)
    assert joined.isStreaming
    # Both sides carry a watermark -> join state is evictable.
    lp = joined._jdf.queryExecution().analyzed().toString()
    assert lp.count("EventTimeWatermark") == 2, lp

    got: list = []
    q = (
        joined.writeStream.foreachBatch(
            lambda bdf, _bid: got.extend(map(tuple, bdf.collect()))
        )
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted(got) == batch_rows


def test_dedup_within_watermark_drops_redeliveries(spark, tmp_path):
    """Native event-time dedup: re-delivered keys inside the watermark
    window emit once; the streaming drain equals batch dropDuplicates
    on the same keys."""
    import datetime as dt

    from spotify_streaming_etl_pipeline_spark.streaming.stateful import (
        dedup_within_watermark,
    )

    base = dt.datetime(2022, 3, 1, 12, 0, 0)
    rows = [
        (1, base, "a"),
        (1, base + dt.timedelta(minutes=5), "a-dup"),   # same key, in window
        (2, base + dt.timedelta(minutes=1), "b"),
        (3, base + dt.timedelta(minutes=2), "c"),
        (3, base + dt.timedelta(minutes=2), "c-dup"),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, payload string")
    src = str(tmp_path / "dedup_src")
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    got: list = []
    q = (
        dedup_within_watermark(stream, ["k"], watermark="1 hour")
        .writeStream.foreachBatch(
            lambda bdf, _bid: got.extend((r["k"],) for r in bdf.collect())
        )
        .option("checkpointLocation", str(tmp_path / "dw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted(got) == [(1,), (2,), (3,)]


def test_fact_ingest_batch_replay_is_idempotent(spark, raw_dir, tmp_path):
    """Review finding r6: foreachBatch is at-least-once — a crash
    between the parquet append and the checkpoint commit replays the
    batch, so the append must be the conflict-ignore writer (replay
    lands zero new rows), not a blind append (which doubled them).
    Simulated by deleting the checkpoint after a drain: the restarted
    query reprocesses every file as a fresh batch."""
    import shutil

    wh = tmp_path / "replay_wh"
    dims = pipeline.run(
        spark, str(raw_dir), str(tmp_path / "seed_wh2"), fetchers=_fake_fetchers()
    ).dims

    def drain(ckpt):
        q = start_fact_tracks_ingest(
            spark,
            str(raw_dir),
            str(wh / "fact_tracks"),
            dims["track"],
            dims["artist"],
            dims["reason"],
            checkpoint_dir=str(wh / ckpt),
            available_now=True,
        )
        q.awaitTermination(120)

    drain("_ckpt_a")
    n_once = spark.read.parquet(str(wh / "fact_tracks")).count()
    assert n_once == 3
    # crash-replay simulation: fresh checkpoint -> every batch re-runs
    drain("_ckpt_b")
    assert spark.read.parquet(str(wh / "fact_tracks")).count() == n_once
