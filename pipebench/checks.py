"""Output checks: the engine's results against values computed from the
generated export in pandas alone (export.py). Stored tables are read
back with pyarrow, not through the engine. Each check returns a list of
problems; an empty list means the output is correct.

Rounded measures are compared with the unrounded expected value: a
value the engine rounds to ``step`` must lie within ``step / 2`` of it.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from .export import Export, expected_dim_uris, expected_podcast_plays
from .webapi import ENTITIES

EPS = 1e-6


def read_parquet_dir(path) -> pd.DataFrame:
    """Every part file under a table directory (partition directories
    included), read with pyarrow so that no Spark job runs."""
    files = sorted(Path(path).rglob("part-*.parquet"))
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def resolved_facts(fact: pd.DataFrame, dim_track: pd.DataFrame, dim_artist: pd.DataFrame) -> pd.DataFrame:
    """fact_tracks rows resolved back to natural keys."""
    t = dim_track.set_index("track_id").spotify_track_uri
    a = dim_artist.set_index("artist_id").spotify_artist_uri
    return pd.DataFrame(
        {
            "ts_msk": fact.ts_msk.dt.strftime("%Y-%m-%d %H:%M:%S"),
            "track_uri": _or_none(fact.track_fk.map(t)),
            "artist_uri": _or_none(fact.artist_fk.map(a)),
            "ms_played": fact.ms_played.astype("int64"),
        }
    )


def _or_none(s: pd.Series) -> pd.Series:
    return s.astype(object).where(s.notna(), None)


def check_fact_rows(actual: pd.DataFrame, expected: pd.DataFrame, what: str) -> list[str]:
    if len(actual) != len(expected):
        return [f"{what}: {len(actual)} fact rows, expected {len(expected)}"]
    cols = ["ts_msk", "track_uri", "artist_uri", "ms_played"]
    a, b = (
        df[cols].sort_values("ts_msk", ignore_index=True).astype(str)
        for df in (actual, expected)
    )
    if not a.equals(b):
        return [f"{what}: fact rows differ from the expected plays"]
    return []


def check_warehouse(wh: str, export: Export, months: list[str]) -> list[str]:
    """Dims hold exactly the live entities (no dead letters, no
    duplicates) and fact_podcasts the expected number of plays."""
    problems = []
    want = expected_dim_uris(export, months)
    for entity, (_, key) in ENTITIES.items():
        got = [u for u in read_parquet_dir(f"{wh}/dim_{entity}")[key] if u != "Unknown"]
        if len(got) != len(set(got)):  # "Unknown": the sentinel rows
            problems.append(f"dim_{entity}: duplicate natural keys")
        if set(got) != want[entity]:
            problems.append(
                f"dim_{entity}: {len(set(got) - want[entity])} unexpected, "
                f"{len(want[entity] - set(got))} missing keys"
            )
    n_pod = len(read_parquet_dir(f"{wh}/fact_podcasts"))
    if n_pod != expected_podcast_plays(export, months):
        problems.append(f"fact_podcasts: {n_pod} rows, expected {expected_podcast_plays(export, months)}")
    return problems


# ---------------------------------------------------------------------------
# Dashboard answers
# ---------------------------------------------------------------------------


def _measures(g) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "hours_played": g.sec_played.sum() / 3600.0,
            "streams": g.size(),
            "non_skip_streams": g.sec_played.apply(lambda s: int((s > 10).sum())),
            "estimated_streams": g.percent_played.sum() / 100.0,
            "unique_tracks": g.track_uri.nunique(),
            "unique_artists": g.artist_uri.nunique(),
        }
    )


def expected_answer(call: dict, plays: pd.DataFrame) -> tuple[pd.DataFrame, list[str]]:
    """(expected frame with unrounded measures, key columns)."""
    kind = call["kind"]
    if kind == "agg":
        grain = call["grain"]
        if grain == "year":
            return _measures(plays.groupby("year")).reset_index(), ["year"]
        if grain == "month":
            out = _measures(plays.groupby(["year", "month_num"])).reset_index()
            out["month_start"] = [
                dt.date(y, m, 1) for y, m in zip(out.year, out.month_num)
            ]
            return out, ["year", "month_num"]
        out = _measures(plays.assign(k=0).groupby("k")).reset_index(drop=True)
        out["days_played"] = out.hours_played / 24.0
        return out.drop(columns="hours_played"), []
    p = plays
    if call.get("year") is not None:
        p = p[p.year == call["year"]]
        if call.get("month") is not None:
            p = p[p.month_num == call["month"]]
    if kind == "album_stats":
        p = p[(p.album_name == call["album"]) & (p.artist_name == call["artist"])]
        g = p.groupby("track_title")
        out = pd.DataFrame(
            {"min_listened": g.sec_played.sum() / 60.0, "estimated_streams": g.percent_played.sum() / 100.0}
        )
        return out.reset_index(), ["track_title"]
    item = call["item"]
    if item == "artist":
        p, keys, cover = p[p.artist_uri.notna()], ["artist_name"], "artist_cover_url"
    else:
        p = p[p.track_uri.notna()]
        keys = ["track_title" if item == "track" else "album_name", "artist_name"]
        cover = "cover_art_url"
    g = p.groupby(keys)
    out = pd.DataFrame(
        {
            "hours_played": g.sec_played.sum() / 3600.0,
            "streams": g.size(),
            "estimated_streams": g.percent_played.sum() / 100.0,
            "cover_art_url": g[cover].max(),
        }
    )
    if item != "album":
        out["full_real_streams"] = g.percent_played.apply(lambda s: int((s == 100.0).sum()))
    return out.reset_index(), keys


#: rounding step of each rounded measure (the engine rounds, the
#: expected frame does not)
_STEPS = {
    "hours_played": 0.1, "days_played": 0.1, "min_listened": 0.1,
    "estimated_streams": 1.0,
}  # fmt: skip
_ORDER = {"hours_played", "min_listened"}


def check_answer(call: dict, got: pd.DataFrame, plays: pd.DataFrame, limit: int) -> list[str]:
    want, keys = expected_answer(call, plays)
    label = repr(call)
    if not keys:
        want, got = want.assign(_k=0), got.assign(_k=0)
        keys = ["_k"]
    want = want.set_index(keys)
    got_idx = got.set_index(keys)
    if got_idx.index.has_duplicates:
        return [f"{label}: duplicate rows"]
    missing = got_idx.index.difference(want.index)
    if len(missing):
        return [f"{label}: {len(missing)} unexpected groups"]
    problems = []
    if call["kind"] == "chart":
        if len(got) != min(limit, len(want)):
            return [f"{label}: {len(got)} rows, expected {min(limit, len(want))}"]
        # Top-N membership: nothing left out may beat what was kept
        # by more than the rounding that decides ties.
        left_out = want.drop(index=got_idx.index, errors="ignore")
        if len(left_out) and left_out.hours_played.max() > want.loc[got_idx.index].hours_played.min() + 0.1 + EPS:
            problems.append(f"{label}: top-N misses a larger group")
    elif set(got_idx.index) != set(want.index):
        return [f"{label}: groups differ from expected"]
    w = want.loc[got_idx.index]
    for col in want.columns:
        if col not in got_idx.columns:
            problems.append(f"{label}: column {col} missing")
            continue
        a, b = got_idx[col], w[col]
        if col in _STEPS:
            bad = ~(np.abs(a.astype(float) - b.astype(float)) <= _STEPS[col] / 2 + 0.01)
        elif col == "month_start":
            bad = a.astype(str) != b.astype(str)
        else:
            bad = a.astype(object) != b.astype(object)
        if bad.any():
            problems.append(f"{label}: {int(bad.sum())} wrong {col}")
    order = ["year"] if call["kind"] == "agg" else sorted(_ORDER & set(got.columns))
    for col in order:
        if col in got.columns and not got[col].is_monotonic_decreasing:
            problems.append(f"{label}: not ordered by {col}")
    return problems
