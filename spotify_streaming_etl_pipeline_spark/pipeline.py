"""End-to-end batch pipeline runner (reference scripts/etl/etl.py:14-26
and scripts/main.py:5-10): raw export JSON -> enrichment -> dims ->
facts, in one call.

One run is one incremental load that does the least work the delta
needs, and that a crash at any point cannot corrupt:

- **Discovery** is the reference's set difference ``new = history −
  core − staged`` (J7, extractor.py:227-252; ``dims.new_entities``)
  against the stored dims, so the fetchers only see URIs the warehouse
  has never stored. Stage order preserves the reference's data
  dependency (extractor.py:317): **tracks before artists, episodes
  before podcasts**, because artist/podcast URIs are mined FROM the
  track/episode envelopes (plans/dims.py A5). The lead artists of the
  stored tracks and the shows of the stored episodes are candidates
  too, so an artist or podcast whose fetch dead-lettered is retried.
- **Dims** are rebuilt and rewritten only when they changed; an
  unchanged dim is the stored table as is.
- **Write order:** changed dims first, each after the dims its
  envelopes name (artist, track, podcast, episode, reason), then the
  star joins over the stored dims, and the fact appends last. Each
  fact table's high-water mark only moves with its own append, so a
  crash before an append leaves that table's plays in the next run's
  delta, and the dims already written keep the keys the rerun's facts
  resolve to.

Every stage is the same builder the query layer uses — the runner only
sequences them and handles warehouse I/O (crash-safe dim swaps,
appends, delta cutoff). ``fetchers`` injects the API clients per
entity type, so runs are fully testable offline; None skips enrichment
(the stored dims stand as they are).

A fetcher may be a plain callable or a ``"module:attr"`` string.  The
string form unlocks the planned-source scale path: above
``enrich_collect_max`` new URIs the runner stages the URI set as
parquet and reads it back through the ``rest_enrichment`` DataSource
(``uris_path`` option), so the fetch is a real scan — planned,
UI-visible, partition-scheduled — and the URI set never materializes
on the driver (the DataSource plans row-range partitions from parquet
footers alone).  A plain callable above the threshold falls back to
the ``mapInPandas`` wrapper (same distributed loop, opaque stage);
below the threshold both forms use the reference-shaped driver loop.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans import dims as dims_mod
from .plans.facts import build_fact_podcasts, build_fact_tracks, write_fact
from .sources.enrichment import enrich_partitions, fetch_in_batches
from .sources.history import delta_filter, max_loaded_ts, read_history


@dataclass
class RunResult:
    """Outcome of one incremental load. After a persisted run, ``dims``
    and ``facts`` are re-read from the warehouse (full tables, fresh
    file listings); ``n_fact_rows`` counts the rows THIS run appended."""

    dims: dict[str, DataFrame] = field(default_factory=dict)
    facts: dict[str, DataFrame] = field(default_factory=dict)
    dead_letters: list[tuple[str, str, str]] = field(default_factory=list)
    n_history_rows: int = 0
    n_fact_rows: dict[str, int] = field(default_factory=dict)
    compacted: dict[str, dict[str, int]] = field(default_factory=dict)


def _read_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table at ``path``, or None when it holds no parquet
    file: a partitioned append of zero rows leaves only ``_SUCCESS``,
    from which Spark cannot infer a schema."""
    for _, _, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return spark.read.parquet(path)
    return None


def _overwrite_parquet_safe(df: DataFrame, path: str) -> None:
    """Overwrite a parquet dir that ``df``'s plan may itself be reading
    (incremental dim loads union the existing table): write the new
    snapshot to a sibling temp dir first, then swap. A plain
    mode('overwrite') deletes the input files before the plan has read
    them -> FAILED_READ_FILE. With a table format (Delta/Iceberg) the
    transaction log makes this dance unnecessary.

    The swap renames the current dir ASIDE before promoting the new one
    (the compact_parquet shape) — rmtree-then-rename would leave NO
    table at all on a crash between the two, and the next run would
    silently treat the table as empty. Crash residue recovers on the
    next call: a missing live dir restores from the retired copy."""
    import shutil

    parent, base = os.path.split(os.path.normpath(path))
    tmp = os.path.join(parent, f".swap_tmp_{base}")
    old = os.path.join(parent, f".swap_old_{base}")
    if os.path.isdir(old) and not os.path.isdir(path):
        os.rename(old, path)  # crashed between the renames: restore
    if os.path.isdir(old):
        shutil.rmtree(old)
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.isdir(old):
        shutil.rmtree(old)
    # Spark's shared FileStatusCache still holds the old listing for
    # this path; invalidate it or later reads hit deleted part files.
    df.sparkSession.catalog.refreshByPath(path)


def run(
    spark: SparkSession,
    raw_dir: str,
    warehouse_dir: str,
    fetchers: dict[str, Callable[[list[str]], dict] | str] | None = None,
    write: bool = True,
    enrich_collect_max: int = 10_000,
    compact_facts: bool = False,
) -> RunResult:
    """Execute one incremental load. Returns the resulting dim/fact
    frames (also written under ``warehouse_dir`` when ``write``).

    The export is parsed once per run: the delta-filtered history is
    cached, materialized by the ``n_history_rows`` count, and every
    later stage (discovery, ``dim_reason``, both star joins) reads the
    cache. Each fact table has its own high-water mark: track plays are
    kept when newer than the latest stored ``fact_tracks`` row, episode
    plays when newer than the latest ``fact_podcasts`` row.

    Discovery is the reference's J7 rule, ``dims.new_entities``: only
    URIs the stored dims lack reach the fetchers. Artist candidates are
    the artists of this run's track envelopes plus the lead artists of
    the stored ``dim_track``; podcast candidates likewise come from the
    episode envelopes plus the stored ``dim_episode``. So an artist or
    podcast whose fetch dead-lettered is requested again by the next
    run. A dead-lettered track or episode is never stored, so it is
    requested again whenever a later delta plays it.

    Only a dim that changed is rebuilt and rewritten: one that got an
    envelope in this run (on the distributed fetch path, any dim that
    was fetched at all), and ``dim_reason`` when the delta holds a
    reason it lacks. Any other dim is the stored table, neither
    re-keyed nor rewritten. On the first run every dim is built.

    ``write=True`` writes the changed dims first, each after the dims
    its envelopes name (artist, track, podcast, episode, reason), each
    by a crash-safe swap; it then builds both star joins over the stored
    dim parquet and appends the facts last. A crash at any point leaves
    the high-water mark of every fact table not yet appended where it
    was, so the rerun reloads those plays; the dims the crashed run
    wrote already hold its new entities, which the rerun neither
    re-fetches nor re-keys, so the rerun's warehouse equals that of one
    clean run. Because an artist is written before its track and a
    show before its episode, a crash never leaves a stored track whose
    artists are not stored yet, nor a stored episode whose show is not.
    The cached history and envelopes are released once the written
    tables are re-read. ``write=False`` builds the facts over the lazy
    dims and keeps the caches alive, because the returned frames are
    still plans over them.

    ``n_fact_rows`` comes from the write pass's own observation
    (``write_fact``), not from a second run of each star join. A fact
    table that holds no rows yet (say, no podcast play was ever
    loaded) is absent from ``facts``.

    ``compact_facts`` folds small-file maintenance into the load: after
    this run's appends land, each fact table's year partitions are
    compacted to ~target-size files (operators/maintenance.py). Safe
    here by construction — the runner is the table's only writer and
    its appends have finished before compaction starts."""
    import json

    out = RunResult()
    fetchers = fetchers or {}
    # entity -> (cleaner, natural key, surrogate key, sentinel row or None)
    cleaners = {
        "track": (dims_mod.clean_tracks, "spotify_track_uri", "track_id", None),
        "artist": (dims_mod.clean_artists, "spotify_artist_uri", "artist_id", None),
        "episode": (
            dims_mod.clean_episodes, "spotify_episode_uri", "episode_id",
            dims_mod.sentinel_episode,
        ),
        "podcast": (
            dims_mod.clean_podcasts, "spotify_podcast_uri", "podcast_id",
            dims_mod.sentinel_podcast,
        ),
    }  # fmt: skip
    stored = {
        entity: _read_if_exists(spark, f"{warehouse_dir}/dim_{entity}")
        for entity in (*cleaners, "reason")
    }

    # -- 1. ingest history with the delta cutoff (S1/S2/A6) ----------------
    # Each fact table is its own sink with its own high-water mark, so a
    # crash between the two appends cannot let one table's newer plays
    # hide the other's unloaded ones.
    cutoff_tracks = max_loaded_ts(
        _read_if_exists(spark, f"{warehouse_dir}/fact_tracks"), None, None
    )
    cutoff_podcasts = max_loaded_ts(
        None, _read_if_exists(spark, f"{warehouse_dir}/fact_podcasts"), None
    )
    episode_play = F.col("spotify_episode_uri").isNotNull() & (
        F.col("spotify_episode_uri") != ""
    )
    cutoff = F.when(episode_play, F.lit(cutoff_podcasts)).otherwise(
        F.lit(cutoff_tracks)
    )
    history = delta_filter(read_history(spark, raw_dir), cutoff).persist()
    out.n_history_rows = history.count()  # materializes the cache

    # -- 2. entity discovery + enrichment (A4/A5/J7, S3/S4/S7) --------------
    # ORDER MATTERS: artist URIs come from track envelopes, podcast URIs
    # from episode envelopes (reference extractor.py:317).
    envelopes: dict[str, DataFrame | None] = {}
    persisted_envelopes: list[DataFrame] = []

    def new_uris(entity: str, *sources: tuple[DataFrame | None, str]) -> DataFrame:
        """J7: the distinct URIs of ``sources`` that the stored dim lacks."""
        found = [df.select(F.col(c).alias("uri")) for df, c in sources if df is not None]
        if not found:
            return spark.createDataFrame([], "uri string")
        candidates = dims_mod.distinct_uris(
            functools.reduce(DataFrame.unionByName, found), "uri"
        )
        existing = stored[entity]
        core = None if existing is None else existing.select(
            F.col(cleaners[entity][1]).alias("uri")
        )
        return dims_mod.new_entities(candidates, core, None)

    def enrich_datasource(entity: str, uris: DataFrame, fetch_path: str) -> DataFrame:
        """The planned-source scale path: stage the URI set as parquet
        (repartitioned so each staging file ≈ one fetch partition —
        the DataSource plans one partition per row group), scan it
        back through the rest_enrichment DataSource.  The URI set
        rides executor-to-executor — no driver-side list at any size.
        Staging lives under the warehouse (executors must reach it);
        ``write=True`` runs clean it up after the envelopes
        re-materialize from the warehouse, ``write=False`` keeps it
        (the returned frames' lineage still reads it)."""
        from .sources.restsource import RestEnrichmentDataSource

        spark.dataSource.register(RestEnrichmentDataSource)
        staging = f"{warehouse_dir}/_staging/enrich_uris/{entity}"
        n = uris.count()
        n_parts = max(1, -(-n // 200))
        uris.select("uri").repartition(n_parts).write.mode(
            "overwrite"
        ).parquet(staging)
        return (
            spark.read.format("rest_enrichment")
            .option("uris_path", staging)
            .option("entity", entity)
            .option("fetch", fetch_path)
            .load()
            .select(
                "uri",
                F.coalesce(F.col("error_reason"), F.lit("ok")).alias("status"),
                "raw_data",
            )
        )

    def enrich(entity: str, uris: DataFrame) -> DataFrame | None:
        """Envelopes of the new ``uris``, or None when the dim gets
        nothing from this run: no fetcher, or (on the driver path) no
        envelope came back for a dim that is already stored."""
        fetch = fetchers.get(entity)
        if fetch is None:
            return None
        # Size-switch: the typical NEW-entity set (history minus
        # warehouse) is dim-sized and a driver-side collect is correct
        # (the reference materializes the same list, extractor.py:250).
        # Past ``enrich_collect_max`` the fetch moves onto executors:
        # the planned DataSource scan when the fetcher is importable
        # ("module:attr"), else the mapInPandas wrapper — either way
        # only the (rare) dead letters ever reach the driver.
        # One bounded collect both sizes the set and, below the
        # threshold, is the set; the distributed path re-plans uris,
        # which is cheap over the cached history.
        head = uris.limit(enrich_collect_max + 1).collect()
        if len(head) > enrich_collect_max:
            if isinstance(fetch, str):
                enriched = enrich_datasource(entity, uris, fetch).persist()
            else:
                enriched = enrich_partitions(uris, fetch, entity).persist()
            persisted_envelopes.append(enriched)
            # The dead-letter collect materializes (and caches)
            # every partition of enriched — after it, the ok-split
            # below reads the cache, never re-fetching.
            out.dead_letters.extend(
                (r["uri"], entity, r["status"])
                for r in enriched.filter(F.col("status") != "ok").collect()
            )
            return enriched.filter(F.col("status") == "ok").select(
                "uri", "raw_data"
            )
        uri_list = sorted(r["uri"] for r in head)
        if isinstance(fetch, str):
            from .sources.restsource import _resolve_fetch

            fetch = _resolve_fetch(fetch)
        result = fetch_in_batches(uri_list, fetch, entity)
        out.dead_letters.extend(result.failures)
        if not result.records and stored[entity] is not None:
            return None
        return spark.createDataFrame(
            [(u, json.dumps(p, sort_keys=True)) for u, p in result.records],
            "uri string, raw_data string",
        )

    envelopes["track"] = enrich(
        "track", new_uris("track", (history, "spotify_track_uri"))
    )
    envelopes["artist"] = enrich(
        "artist",
        new_uris(
            "artist",
            (
                dims_mod.artist_uris_from_track_envelopes(envelopes["track"])
                if envelopes["track"] is not None
                else None,
                "uri",
            ),
            (stored["track"], "spotify_artist_uri"),
        ),
    )
    envelopes["episode"] = enrich(
        "episode", new_uris("episode", (history, "spotify_episode_uri"))
    )
    envelopes["podcast"] = enrich(
        "podcast",
        new_uris(
            "podcast",
            (
                dims_mod.podcast_uris_from_episode_envelopes(envelopes["episode"])
                if envelopes["episode"] is not None
                else None,
                "uri",
            ),
            (stored["episode"], "spotify_podcast_uri"),
        ),
    )

    # -- 3. clean envelopes -> idempotent loads of the changed dims ---------
    # (§2.10, J10, F23). An unchanged dim is the stored table as is: no
    # current_max_key action, no rewrite, no re-read.
    changed: set[str] = set()
    for entity, (clean, natural_key, key_name, sentinel) in cleaners.items():
        if envelopes[entity] is None:
            if stored[entity] is not None:
                out.dims[entity] = stored[entity]
            continue
        dim = dims_mod.load_dim(
            clean(envelopes[entity]), natural_key, key_name, stored[entity]
        )
        if sentinel is not None:
            # Sentinel row for fact lookups that miss (dummy_values.sql).
            dim = sentinel(spark).unionByName(dim.filter(F.col(key_name) != 0))
        out.dims[entity] = dim
        changed.add(entity)

    if stored["reason"] is None or (
        dims_mod.build_dim_reason(history)
        .join(stored["reason"], ["reason_type", "reason_group"], "left_anti")
        .limit(1)
        .collect()
    ):
        out.dims["reason"] = dims_mod.build_dim_reason(history, stored["reason"])
        changed.add("reason")
    else:
        out.dims["reason"] = stored["reason"]

    # -- 4. facts: the two star joins (J1/J2) -------------------------------
    def star_joins(dims: dict[str, DataFrame]) -> dict[str, DataFrame]:
        facts = {}
        if {"track", "artist"} <= dims.keys():
            facts["tracks"] = build_fact_tracks(
                history, dims["track"], dims["artist"], dims["reason"]
            )
        if {"episode", "podcast"} <= dims.keys():
            facts["podcasts"] = build_fact_podcasts(
                history, dims["episode"], dims["podcast"], dims["reason"]
            )
        return facts

    if not write:
        out.facts = star_joins(out.dims)
        return out

    # -- 5. persist: changed dims (named entities first), then facts ------
    # The appends move the high-water marks, so they come last: a crash
    # before them leaves the delta for the rerun.
    for entity in ("artist", "track", "podcast", "episode", "reason"):
        if entity in changed:
            path = f"{warehouse_dir}/dim_{entity}"
            _overwrite_parquet_safe(out.dims[entity], path)
            out.dims[entity] = spark.read.parquet(path)
    # The star joins broadcast the stored dim parquet; the append's own
    # observation counts its rows: no extra pass.
    facts = star_joins(out.dims)
    for name, df in facts.items():
        out.n_fact_rows[name] = write_fact(df, f"{warehouse_dir}/fact_{name}")["n_rows"]
    if compact_facts:
        from .operators.maintenance import compact_partitioned

        for name in facts:
            out.compacted[name] = compact_partitioned(
                spark, f"{warehouse_dir}/fact_{name}"
            )
    # Callers get the full stored fact tables, freshly listed.
    for name in facts:
        table = _read_if_exists(spark, f"{warehouse_dir}/fact_{name}")
        if table is not None:
            out.facts[name] = table
    # Every returned frame now reads parquet, so the cached history and
    # enrichment envelopes are no longer reachable — release their
    # executor storage instead of leaking it across runs. (write=False
    # keeps them cached: the returned dims/facts are still lazy plans
    # over them, and a recompute would re-parse the export and re-hit
    # the REST source.)
    history.unpersist()
    for df in persisted_envelopes:
        df.unpersist()
    # The URI staging parquet is likewise unreachable now — drop it
    # so repeated runs don't accumulate stale snapshots beside the
    # real tables. (write=False keeps it: returned frames' lineage
    # may still read it on cache eviction.)
    import shutil

    shutil.rmtree(f"{warehouse_dir}/_staging/enrich_uris", ignore_errors=True)
    return out
