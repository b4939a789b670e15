"""Spotify-shaped listening export generated from the frozen substrate,
plus the expected warehouse contents computed in pandas alone.

Mapping (one play per lineitem): order -> listener (platform, country,
IP), ``l_partkey`` -> track, the part's most frequent ``l_suppkey`` ->
the track's lead artist, ``o_orderdate`` + a seeded hash of the line ->
``ts``, ``l_quantity`` -> ``ms_played``. A fixed 10 % hash share of the
plays are podcast episodes and a fixed 0.3 % carry a ``ts`` that does
not parse. ``ts`` is unique (and stays unique as Moscow wall-clock), so
``(ts, spotify_track_uri)`` is a key of the export, as it must be for
the batch append and the idempotent stream append to store the same
rows. One JSON-array file per calendar month; a stub last month (the
TPC-H order calendar ends with ten plays) is folded into the month
before it.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

from .webapi import episode_show, is_dead, track_duration_ms, track_envelope

SUBSTRATE = Path(__file__).resolve().parent / "data" / "sf0.01_plays.parquet"

HISTORY_COLS = [
    "ts", "platform", "ms_played", "conn_country", "ip_addr",
    "master_metadata_track_name", "master_metadata_album_artist_name",
    "master_metadata_album_album_name", "spotify_track_uri", "episode_name",
    "episode_show_name", "spotify_episode_uri", "reason_start", "reason_end",
    "shuffle", "skipped", "offline", "offline_timestamp", "incognito_mode",
]  # fmt: skip

EPISODE_SHARE_PCT = 10
BAD_TS_PER_MILLE = 3
N_EPISODES = 250
STUB_MONTH_MAX_PLAYS = 100
MSK = "Europe/Moscow"

_PLATFORMS = np.array(["android", "ios", "windows", "osx", "web_player"])
_COUNTRIES = np.array(["RU", "DE", "US", "GB", "FR", "NL", "SE", "BR"])
_REASON_START = np.array(["trackdone", "fwdbtn", "clickrow", "playbtn", "backbtn", "appload"])
_REASON_END = np.array(["trackdone", "fwdbtn", "endplay", "logout", "backbtn"])


def _mix(x) -> np.ndarray:
    """splitmix64 finaliser, vectorised; wraps modulo 2**64."""
    x = np.asarray(x).astype(np.uint64)
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


@dataclass
class Export:
    """One generated export: ``plays`` holds the 19 export fields plus
    ``month`` (its file), ``valid`` (ts parses), ``epoch`` (UTC
    seconds), ``ts_msk`` (Moscow wall-clock string) and
    ``year``/``month_num`` of ``ts_msk``."""

    seed: int
    plays: pd.DataFrame
    months: list[str]
    track_artists: dict[str, list[str]]

    def write(self, out_dir: Path, months: list[str] | None = None) -> list[Path]:
        """One JSON array per month, named like Spotify's own files."""
        out_dir.mkdir(parents=True, exist_ok=True)
        wanted = set(months or self.months)
        paths = []
        for month, rows in self.plays.groupby("month", sort=True):
            if month not in wanted:
                continue
            path = out_dir / f"Streaming_History_{month.replace('-', '_')}.json"
            path.write_text(rows[HISTORY_COLS].to_json(orient="records"))
            paths.append(path)
        return paths


def track_artists(substrate: pd.DataFrame) -> dict[str, list[str]]:
    """Lead artist = the part's most frequent supplier (ties: lowest);
    every seventh track also credits a featured artist."""
    counts = substrate.groupby(["partkey", "suppkey"]).size().rename("n").reset_index()
    lead = counts.sort_values(["partkey", "n", "suppkey"], ascending=[True, False, True])
    lead = lead.drop_duplicates("partkey")
    out = {}
    for pk, sk in zip(lead.partkey.tolist(), lead.suppkey.tolist()):
        artists = [f"spotify:artist:{sk}"]
        if pk % 7 == 0:
            artists.append(f"spotify:artist:{(sk + 50) % 100}")
        out[f"spotify:track:{pk}"] = artists
    return out


def generate(seed: int, substrate: pd.DataFrame | None = None) -> Export:
    sub = pd.read_parquet(SUBSTRATE) if substrate is None else substrate
    key = sub.orderkey.to_numpy(np.uint64) * np.uint64(8) + sub.linenumber.to_numpy(np.uint64)
    h = _mix(key ^ _mix(seed))
    h1, h2, h3, h4 = (_mix(h + np.uint64(i)) for i in range(1, 5))

    artists = track_artists(sub)
    day = pd.to_datetime(sub.day).to_numpy("datetime64[s]").astype(np.int64)
    ts = day + (h1 % np.uint64(86400)).astype(np.int64)
    ts = _unique_instants(ts)
    utc = pd.to_datetime(ts, unit="s", utc=True)
    msk = utc.tz_convert(MSK).tz_localize(None)

    valid = (h2 % np.uint64(1000)) >= BAD_TS_PER_MILLE
    iso = np.datetime_as_string(ts.astype("datetime64[s]"), unit="s")
    ts_str = np.where(valid, np.char.add(iso, "Z"), np.char.replace(iso, "T", " "))
    episode = (h3 % np.uint64(100)) < EPISODE_SHARE_PCT
    pk = sub.partkey.to_numpy()
    track_uri = pd.Series([f"spotify:track:{p}" for p in pk])
    lead_num = track_uri.map(lambda u: int(artists[u][0].rsplit(":", 1)[1]))
    ep_num = pk % N_EPISODES
    ep_uri = pd.Series([f"spotify:episode:{e}" for e in ep_num])
    ms = sub.quantity.to_numpy(np.int64) * 6000
    cust = sub.custkey.to_numpy()
    offline = (h4 % np.uint64(40)) == 0

    def when(mask, values):
        return pd.Series(values).where(pd.Series(mask), None)

    plays = pd.DataFrame(
        {
            "ts": ts_str,
            "platform": _PLATFORMS[cust % len(_PLATFORMS)],
            "ms_played": ms,
            "conn_country": _COUNTRIES[cust % len(_COUNTRIES)],
            "ip_addr": [
                f"10.{c % 256}.{o % 256}.{ln}"
                for c, o, ln in zip(cust, sub.orderkey, sub.linenumber)
            ],
            "master_metadata_track_name": when(~episode, [f"Track {p}" for p in pk]),
            "master_metadata_album_artist_name": when(
                ~episode, [f"Artist {a}" for a in lead_num]
            ),
            "master_metadata_album_album_name": when(
                ~episode, [f"Album {p // 8}" for p in pk]
            ),
            "spotify_track_uri": when(~episode, track_uri),
            "episode_name": when(episode, [f"Episode {e}" for e in ep_num]),
            "episode_show_name": when(
                episode, [f"Show {e % 20}" for e in ep_num]
            ),
            "spotify_episode_uri": when(episode, ep_uri),
            "reason_start": _REASON_START[(h4 >> np.uint64(8)) % np.uint64(len(_REASON_START))],
            "reason_end": _REASON_END[(h4 >> np.uint64(16)) % np.uint64(len(_REASON_END))],
            "shuffle": ((h4 >> np.uint64(24)) & np.uint64(1)).astype(bool),
            "skipped": ms < 30_000,
            "offline": offline,
            "offline_timestamp": pd.array(np.where(offline, ts - 3600, 0), dtype="Int64"),
            "incognito_mode": False,
        }
    )
    plays.loc[~offline, "offline_timestamp"] = pd.NA
    plays["valid"] = valid
    plays["ts_msk"] = np.char.replace(
        np.datetime_as_string(msk.to_numpy("datetime64[s]"), unit="s"), "T", " "
    )
    plays["year"] = msk.year
    plays["month_num"] = msk.month
    plays["month"] = iso.astype("U7")
    plays["epoch"] = ts
    months = sorted(plays.month.unique())
    if (plays.month == months[-1]).sum() <= STUB_MONTH_MAX_PLAYS:
        plays.loc[plays.month == months[-1], "month"] = months[-2]
        months = months[:-1]
    plays = plays.sort_values("epoch", ignore_index=True)
    return Export(seed, plays, months, artists)


def _unique_instants(ts: np.ndarray) -> np.ndarray:
    """Bump colliding seconds until every instant is unique both in
    UTC and as Moscow wall-clock (the autumn DST fold maps two UTC
    hours onto one wall-clock hour)."""
    ts = ts.copy()
    while True:
        wall = (
            pd.to_datetime(ts, unit="s", utc=True).tz_convert(MSK).tz_localize(None)
        )
        dup = pd.Series(ts).duplicated().to_numpy() | wall.duplicated()
        if not dup.any():
            return ts
        ts[dup] += 1


# ---------------------------------------------------------------------------
# Expected warehouse contents, computed without the engine
# ---------------------------------------------------------------------------


def _half_up(x, digits: int):
    scale = 10.0**digits
    return np.floor(np.asarray(x, dtype=float) * scale + 0.5) / scale


def expected_track_plays(export: Export, months: list[str]) -> pd.DataFrame:
    """What ``fact_tracks`` holds after loading ``months``, resolved
    back to natural keys: one row per valid track play with the
    envelope fields the marts read. Dead-lettered entities resolve to
    None, as the engine's left joins leave them."""
    p = export.plays
    p = p[p.month.isin(months) & p.valid & p.spotify_track_uri.notna()]
    seed = export.seed
    uris = p.spotify_track_uri.unique()
    env = {}
    for uri in uris:
        if is_dead(seed, uri):
            continue
        e = track_envelope(uri, export.track_artists[uri])
        lead = e["artists"][0]
        env[uri] = {
            "track_title": e["name"],
            "album_name": e["album"]["name"],
            "artist_name": lead["name"],
            "cover_art_url": e["album"]["images"][0]["url"],
            "lead_uri": lead["uri"],
            "duration_ms": track_duration_ms(uri),
        }
    live = p.spotify_track_uri.map(lambda u: u in env)
    info = pd.DataFrame([env.get(u, {}) for u in p.spotify_track_uri], index=p.index)
    out = pd.DataFrame(
        {
            "ts_msk": p.ts_msk,
            "year": p.year,
            "month_num": p.month_num,
            "ms_played": p.ms_played,
            "sec_played": p.ms_played // 1000,
            "track_uri": p.spotify_track_uri.where(live, None),
        }
    )
    for col in ("track_title", "album_name", "artist_name", "cover_art_url"):
        out[col] = info.get(col)
    lead = info.get("lead_uri")
    out["artist_uri"] = [
        a if isinstance(a, str) and not is_dead(seed, a) else None for a in lead
    ]
    out["artist_cover_url"] = [
        f"https://i.scdn.co/image/a{a.rsplit(':', 1)[1]}" if a else None
        for a in out.artist_uri
    ]
    out["percent_played"] = _half_up(out.ms_played / info.get("duration_ms") * 100, 1)
    return out.reset_index(drop=True)


def expected_podcast_plays(export: Export, months: list[str]) -> int:
    p = export.plays
    return int((p.month.isin(months) & p.valid & p.spotify_episode_uri.notna()).sum())


def expected_dim_uris(export: Export, months: list[str]) -> dict[str, set[str]]:
    """Natural keys each dim must hold: every live entity the loaded
    plays reach (artists and shows through their live parents)."""
    p = export.plays
    p = p[p.month.isin(months) & p.valid]
    seed = export.seed
    tracks = {u for u in p.spotify_track_uri.dropna() if not is_dead(seed, u)}
    episodes = {u for u in p.spotify_episode_uri.dropna() if not is_dead(seed, u)}
    artists = {
        a for t in tracks for a in export.track_artists[t] if not is_dead(seed, a)
    }
    shows = {episode_show(e) for e in episodes}
    return {
        "track": tracks,
        "artist": artists,
        "episode": episodes,
        "podcast": {s for s in shows if not is_dead(seed, s)},
    }


def dead_uris(export: Export) -> set[str]:
    p = export.plays
    seed = export.seed
    uris = set(p.spotify_track_uri.dropna()) | set(p.spotify_episode_uri.dropna())
    uris |= {a for arts in export.track_artists.values() for a in arts}
    uris |= {episode_show(e) for e in p.spotify_episode_uri.dropna()}
    return {u for u in uris if is_dead(seed, u)}


def export_bytes(paths) -> int:
    return sum(Path(p).stat().st_size for p in paths)
