"""Offline stand-in for the Spotify Web API.

Envelopes are built deterministically from the requested URI, so every
run sees the same catalogue. Each request costs a fixed round trip
(``LATENCY_S``); every ``RATE_LIMIT_EVERY``-th first attempt of a batch
is refused with HTTP 429 and ``Retry-After: 1``; a fixed 1 % of URIs
(chosen by a seeded hash) come back null and become dead letters.

One ``OfflineWebApi`` serves one ``pipeline.run``. It reads the URIs the
warehouse already holds before the run, so ``uris_new`` is measured.
"""

from __future__ import annotations

import hashlib
import os
import time
from functools import partial

import pyarrow.parquet as pq

from spotify_streaming_etl_pipeline_spark.sources.enrichment import ApiError

LATENCY_S = 0.1
RATE_LIMIT_EVERY = 25
RETRY_AFTER_S = 1
DEAD_PER_MILLE = 10

#: entity -> (envelope key of the API response, natural key of the dim)
ENTITIES = {
    "track": ("tracks", "spotify_track_uri"),
    "artist": ("artists", "spotify_artist_uri"),
    "episode": ("episodes", "spotify_episode_uri"),
    "podcast": ("shows", "spotify_podcast_uri"),
}


def is_dead(seed: int, uri: str) -> bool:
    """The API returns null for this URI (a dead letter)."""
    digest = hashlib.blake2b(f"{seed}:{uri}".encode(), digest_size=8).digest()
    return int.from_bytes(digest, "little") % 1000 < DEAD_PER_MILLE


def _num(uri: str) -> int:
    return int(uri.rsplit(":", 1)[1])


def track_envelope(uri: str, artists: list[str]) -> dict:
    pk = _num(uri)
    return {
        "uri": uri,
        "name": f"Track {pk}",
        "duration_ms": track_duration_ms(uri),
        "album": {
            "name": f"Album {pk // 8}",
            "id": f"alb{pk // 8}",
            "album_type": "album" if pk % 5 else "single",
            "release_date": f"{1960 + pk % 60}-{1 + pk % 12:02d}-{1 + pk % 28:02d}",
            "release_date_precision": "day",
            "images": [{"url": f"https://i.scdn.co/image/t{pk}"}],
        },
        "artists": [{"name": f"Artist {_num(a)}", "uri": a} for a in artists],
    }


def track_duration_ms(uri: str) -> int:
    return 90_000 + (_num(uri) * 7919) % 240_000


def episode_show(uri: str) -> str:
    return f"spotify:show:{_num(uri) % 20}"


def _artist_envelope(uri: str) -> dict:
    n = _num(uri)
    return {
        "uri": uri,
        "name": f"Artist {n}",
        "images": [{"url": f"https://i.scdn.co/image/a{n}"}],
    }


def _episode_envelope(uri: str) -> dict:
    n = _num(uri)
    show = episode_show(uri)
    return {
        "uri": uri,
        "duration_ms": 600_000 + (n * 104_729) % 3_000_000,
        "release_date": f"{2015 + n % 5}-{1 + n % 12:02d}",
        "release_date_precision": "month",
        "show": {"name": f"Show {_num(show)}", "uri": show},
    }


def _show_envelope(uri: str) -> dict:
    n = _num(uri)
    return {
        "uri": uri,
        "name": f"Show {n}",
        "description": f"Weekly show number {n}",
        "images": [{"url": f"https://i.scdn.co/image/s{n}"}],
    }


def known_uris(warehouse_dir: str) -> dict[str, set[str]]:
    """Natural keys of every dim already stored, read with pyarrow so
    that no Spark job runs."""
    out: dict[str, set[str]] = {}
    for entity, (_, key) in ENTITIES.items():
        path = f"{warehouse_dir}/dim_{entity}"
        if os.path.isdir(path):
            col = pq.read_table(path, columns=[key]).column(key).to_pylist()
            out[entity] = {u for u in col if u is not None}
        else:
            out[entity] = set()
    return out


class OfflineWebApi:
    """Fetchers for ``pipeline.run`` plus the counters of one load."""

    def __init__(
        self,
        seed: int,
        track_artists: dict[str, list[str]],
        known: dict[str, set[str]] | None = None,
        latency_s: float = LATENCY_S,
        rate_limit_every: int = RATE_LIMIT_EVERY,
    ):
        self.seed = seed
        self.track_artists = track_artists
        self.known = known or {e: set() for e in ENTITIES}
        self.latency_s = latency_s
        self.rate_limit_every = rate_limit_every
        self.calls = 0
        self.uris_requested = 0
        self.uris_new = 0
        self.retries = 0
        self.dead_letters = 0
        self.wait_s = 0.0
        self._first_attempts = 0
        self._limited: dict[tuple[str, tuple[str, ...]], float] = {}

    def fetchers(self) -> dict:
        return {entity: partial(self.fetch, entity) for entity in ENTITIES}

    def counters(self) -> dict[str, float]:
        return {
            "calls": self.calls,
            "uris_requested": self.uris_requested,
            "uris_new": self.uris_new,
            "useful_ratio": self.uris_new / self.uris_requested
            if self.uris_requested
            else 1.0,
            "retries": self.retries,
            "dead_letters": self.dead_letters,
            "wait_s": self.wait_s,
        }

    def fetch(self, entity: str, batch: list[str]) -> dict:
        self.calls += 1
        start = time.perf_counter()
        time.sleep(self.latency_s)
        key = (entity, tuple(batch))
        if key in self._limited:
            # The retry of a refused batch: it waited out Retry-After.
            self.wait_s += start - self._limited.pop(key)
        else:
            self._first_attempts += 1
            if self.rate_limit_every and self._first_attempts % self.rate_limit_every == 0:
                self.retries += 1
                self.wait_s += time.perf_counter() - start
                self._limited[key] = time.perf_counter()
                raise ApiError(429, retry_after=RETRY_AFTER_S)
        self.uris_requested += len(batch)
        self.uris_new += len(set(batch) - self.known[entity])
        items = [None if is_dead(self.seed, u) else self._envelope(entity, u) for u in batch]
        self.dead_letters += items.count(None)
        self.wait_s += time.perf_counter() - start
        return {ENTITIES[entity][0]: items}

    def _envelope(self, entity: str, uri: str) -> dict:
        if entity == "track":
            return track_envelope(uri, self.track_artists[uri])
        if entity == "artist":
            return _artist_envelope(uri)
        if entity == "episode":
            return _episode_envelope(uri)
        return _show_envelope(uri)
