"""Predicate / filter operators F1–F7 (SURVEY.md §2.2).

The reference threads a ``query`` object ``{service_id[], route_id,
direction_id, shape_id}`` through every table read and runs one query
per output file (src/lib/gtfs-to-geojson.ts:122-127,149-151,192-196).
Its equality keys only ever select trips, so here a file's query is a
*group of trips*: the query carries a small group table and trips join
to it, tagging each trip with the id ``g`` of every group it belongs to.
Every trip-derived relation keeps ``g`` in its keys, so one plan serves
every output file of a run. The service window is a broadcast
left-semi join built once and reused.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


@dataclass
class BaseQuery:
    """The reference's threaded query predicate (its only IR), plus the
    run context every feature carries.

    ``groups`` is the output's group table: an int ``g`` per file and the
    trip columns that select its trips — ``route_id`` and an optional
    ``g_dir`` (null = every direction) for route output, ``shape_id`` for
    shape output. None is the agency output: one group, ``g = 0``."""

    service_ids: DataFrame | None = None  # F1 result, or None = no date filter
    groups: DataFrame | None = None
    agency_name: str | None = None  # the first agency's name (feature props)


def service_window(calendar: DataFrame, start_date: str | None, end_date: str | None) -> DataFrame | None:
    """F1 — interval-overlap service filter
    (reference src/lib/gtfs-to-geojson.ts:49-71):
    ``start_date <= :endDate AND end_date >= :startDate``, each side
    optional; lexicographic compare on fixed-width YYYYMMDD strings.
    Returns a DataFrame of matching service_id, or None when no window
    was requested (the reference skips the filter entirely)."""
    if start_date is None and end_date is None:
        return None
    df = calendar
    if end_date is not None:
        df = df.filter(F.col("start_date") <= F.lit(str(end_date)))
    if start_date is not None:
        df = df.filter(F.col("end_date") >= F.lit(str(start_date)))
    return df.select("service_id").distinct()


def apply_query(trips: DataFrame, q: BaseQuery) -> DataFrame:
    """F2 (service semi-join) + F3 (group membership) on the trips table
    — the reference's baseQuery applied to its trip reads. Adds ``g``;
    a trip in several groups (a route's null-direction group and one of
    its direction groups) appears once per group."""
    out = trips
    if q.service_ids is not None:
        out = out.join(broadcast(q.service_ids), "service_id", "left_semi")
    if q.groups is None:
        return out.withColumn("g", F.lit(0))
    keys = [c for c in q.groups.columns if c in out.columns]
    out = out.join(broadcast(q.groups), keys)
    if "g_dir" in q.groups.columns:
        out = out.filter(
            F.col("g_dir").isNull() | (F.col("direction_id") == F.col("g_dir"))
        ).drop("g_dir")
    return out


def used_stop_ids(stop_times: DataFrame, trips: DataFrame, q: BaseQuery) -> DataFrame:
    """F4 — "Only stops which are used in one or more routes will be
    output" (README.md:231; CHANGELOG v3.4.0). Distinct (g, stop_id) of
    stop_times whose trips survive the query."""
    t = apply_query(trips, q).select("trip_id", "g")
    return stop_times.join(t, "trip_id").select("g", "stop_id").distinct()


def filter_used_stops(stops: DataFrame, stop_times: DataFrame, trips: DataFrame, q: BaseQuery) -> DataFrame:
    """Stops restricted to used ones (F4), keeping parent stations whose
    children are used (observed in examples/stops.geojson: parent
    stations appear with empty routes). One row per (g, stop)."""
    used = used_stop_ids(stop_times, trips, q)
    direct = stops.join(used, "stop_id")
    parents = stops.join(
        direct.select("g", F.col("parent_station").alias("stop_id")).where(F.col("stop_id").isNotNull()).distinct(),
        "stop_id",
    ).filter(F.col("location_type") == 1)
    return direct.unionByName(parents).dropDuplicates(["g", "stop_id"])
