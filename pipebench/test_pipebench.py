"""Self-tests of the benchmark: run with ``python3 -m pytest pipebench -q``
from the root of the repository. The last test drives a traced run of
the ``incremental`` workload and takes about a minute and a half."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

import pandas as pd
import pytest

from pipebench import checks
from pipebench.export import SUBSTRATE, expected_track_plays, generate
from pipebench.tracing import Tracer
from pipebench.webapi import OfflineWebApi, is_dead
from spotify_streaming_etl_pipeline_spark.sources.enrichment import fetch_in_batches

ROOT = Path(__file__).resolve().parent.parent


def _files(directory: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(directory.iterdir())}


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    generate(3).write(tmp_path / "a")
    generate(3).write(tmp_path / "b")
    generate(4).write(tmp_path / "c")
    a, b, c = (_files(tmp_path / d) for d in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[name] != c[name] for name in a)


def test_export_shape():
    e = generate(5)
    p = e.plays
    assert len(p) == 60_000
    assert p.epoch.is_unique and p.ts_msk.is_unique
    assert not p[["ts", "spotify_track_uri"]].duplicated().any()
    # the ten-play stub month is folded into the last full month
    assert len(e.months) == 79 and (p.month == e.months[-1]).sum() > 100
    assert 0.09 < p.spotify_episode_uri.notna().mean() < 0.11
    assert 0.001 < (~p.valid).mean() < 0.005
    assert (p.spotify_track_uri.notna() ^ p.spotify_episode_uri.notna()).all()


def test_fetcher_counters_exact_on_tiny_export():
    sub = pd.read_parquet(SUBSTRATE).head(400)
    e = generate(9, substrate=sub)
    uris = sorted(set(e.plays.spotify_track_uri.dropna()))
    known = set(uris[:30])
    api = OfflineWebApi(9, e.track_artists, {"track": known}, latency_s=0.0, rate_limit_every=2)
    slept = []
    out = fetch_in_batches(uris, api.fetchers()["track"], "track", sleeper=slept.append)
    batches = -(-len(uris) // 50)
    dead = sum(is_dead(9, u) for u in uris)
    assert api.retries == batches // 2 == len(slept)
    assert api.calls == batches + api.retries
    assert api.uris_requested == len(uris)
    assert api.uris_new == len(uris) - 30
    assert api.dead_letters == dead == len(out.failures)
    assert len(out.records) == len(uris) - dead
    assert api.counters()["useful_ratio"] == (len(uris) - 30) / len(uris)


class _FakeContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get((threading.get_ident(), key))

    def setLocalProperty(self, key, value):
        self.props[(threading.get_ident(), key)] = value


def test_self_times_add_up_to_root_spans():
    sc = _FakeContext()
    tracer = Tracer(sc)
    with tracer.span("pipeline"):
        time.sleep(0.01)
        with tracer.span("plans.dims"):
            assert sc.getLocalProperty("spark.jobGroup.id") == "plans.dims"
            time.sleep(0.01)

        def callback():
            with tracer.span("operators.writer"):
                time.sleep(0.01)

        worker = threading.Thread(target=callback)
        worker.start()
        worker.join(timeout=5)
        assert not worker.is_alive()
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    self_s = tracer.self_times()
    assert set(self_s) == {"pipeline", "plans.dims", "operators.writer"}
    assert all(v > 0 for v in self_s.values())
    assert sum(self_s.values()) == pytest.approx(tracer.root_seconds({"pipeline"}))


def test_checks_reject_a_wrong_answer():
    e = generate(6)
    plays = expected_track_plays(e, e.months)
    call = {"kind": "agg", "grain": "year"}
    want, _ = checks.expected_answer(call, plays)
    engine_like = want.assign(
        hours_played=want.hours_played.round(1),
        estimated_streams=want.estimated_streams.round(0),
    ).sort_values("year", ascending=False)
    assert checks.check_answer(call, engine_like, plays, 100) == []
    wrong = engine_like.assign(streams=engine_like.streams + 1)
    assert checks.check_answer(call, wrong, plays, 100)
    assert checks.check_fact_rows(plays, plays, "same") == []
    assert checks.check_fact_rows(plays, plays.assign(ms_played=plays.ms_played + 1), "off")


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "pipebench", tmp_path / "pipebench", ignore=shutil.ignore_patterns("__pycache__"))
    args = ["--workload", "incremental", "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(
        [sys.executable, "pipebench/run.py", *args], cwd=tmp_path, capture_output=True, text=True, timeout=180
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


def test_traced_layer_self_times_sum_to_traced_ingest():
    args = ["--workload", "incremental", "--seed", "2", "--seconds", "1", "--trace", "1"]
    proc = subprocess.run(
        [sys.executable, "pipebench/run.py", *args], cwd=ROOT, capture_output=True, text=True, timeout=600,
        env=os.environ,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    ingest_layers = ["sources.history", "plans.dims", "sources.enrichment", "plans.facts", "pipeline"]
    layer_sum = sum(m[f"{layer}.self_s"] for layer in ingest_layers)
    assert layer_sum == pytest.approx(m["trace.ingest_s"], rel=0.05)
    assert m["pipeline.spark_jobs"] > 0 and m["sources.enrichment.calls"] > 0
    assert m["sources.history.json_read_amplification"] >= 1
