"""Headway stats: hand-computed gaps, hour attribution, type isolation."""

import datetime

from osm_to_netex_spark.functions.portable import SPARK
from osm_to_netex_spark.operators import temporal


def _mk(spark, rows):
    df = spark.createDataFrame(
        [(i, datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s), t)
         for i, (s, t) in enumerate(rows)],
        "event_id: long, ts: timestamp_ntz, event_type: string",
    )
    df.createOrReplaceTempView("hw_events")
    return df


def test_known_gaps(spark):
    # bus departures at 0, 600, 1800 s -> gaps 600 and 1200, both in hour 0
    _mk(spark, [(0, "bus"), (600, "bus"), (1800, "bus")])
    got = {(r["event_type"], r["hour"]): r for r in spark.sql(temporal.headway_sql(SPARK, "hw_events")).collect()}
    r = got[("bus", 0)]
    assert r["n_gaps"] == 2
    assert r["mean_s"] == (600 + 1200) / 2
    assert r["max_s"] == 1200.0


def test_gap_attributed_to_later_hour(spark):
    # departure at 3500 s (hour 0) then 3700 s (hour 1): the 200 s gap
    # belongs to hour 1
    _mk(spark, [(3500, "bus"), (3700, "bus")])
    got = {(r["event_type"], r["hour"]): r for r in spark.sql(temporal.headway_sql(SPARK, "hw_events")).collect()}
    assert ("bus", 1) in got and ("bus", 0) not in got
    assert got[("bus", 1)]["mean_s"] == 200.0


def test_types_are_isolated(spark):
    _mk(spark, [(0, "bus"), (100, "tram"), (300, "bus"), (900, "tram")])
    got = {(r["event_type"], r["hour"]): r for r in spark.sql(temporal.headway_sql(SPARK, "hw_events")).collect()}
    assert got[("bus", 0)]["mean_s"] == 300.0
    assert got[("tram", 0)]["mean_s"] == 800.0
