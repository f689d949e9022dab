"""Relation cache in tables.table: session pinning and stale eviction."""

from __future__ import annotations

import os

from laser_hadoop_spark import tables


def test_events_table_pins_utc_on_cache_hit(spark, sf_dir):
    """The events read pins the session time zone to UTC on every call,
    not only on the cache miss that first builds the relation."""
    prior = spark.conf.get("spark.sql.session.timeZone")
    try:
        tables.table(spark, sf_dir, "events")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        tables.table(spark, sf_dir, "events")  # cache hit
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


def test_relation_cache_evicts_stopped_sessions(spark, sf_dir):
    """A cache miss drops every relation cached for another
    application id: those sessions are stopped and no lookup can hit."""
    app_id = spark.sparkContext.applicationId
    stale = ("app-stopped-session", os.path.abspath(sf_dir), "nation")
    live = (app_id, os.path.abspath(sf_dir), "nation")
    tables._RELATION_CACHE[stale] = spark.range(1)
    tables._RELATION_CACHE.pop(live, None)  # force a miss
    tables.table(spark, sf_dir, "nation")
    assert stale not in tables._RELATION_CACHE
    assert live in tables._RELATION_CACHE
    assert all(k[0] == app_id for k in tables._RELATION_CACHE)
