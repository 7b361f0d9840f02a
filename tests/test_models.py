"""M1 GWR and M2 GP structural checks (SURVEY §5: rows-only oracles —
shape, determinism, finiteness, statistical sanity; not value parity)."""

from __future__ import annotations

import datetime as dt

import numpy as np
from pyspark.sql import functions as F

from lswms_forage_etl_spark.models.gp import (
    HORIZON_DAYS,
    gp_forecast,
    gp_posterior_mean,
)
from lswms_forage_etl_spark.models.gwr import gwr_fit_score
from lswms_forage_etl_spark.operators.hindcast import (
    MAX_REFITS,
    hindcast_tall,
    lag_matrix,
    tail_k_per_group,
)


def _series(spark, zones=3, n=24, with_nulls=True):
    rows = []
    for z in range(zones):
        for i in range(n):
            d = dt.date(2023, 1, 1) + dt.timedelta(days=16 * i)
            v = None if (with_nulls and i % 11 == 5) else \
                float(1.0 + 0.5 * np.sin(i / 3) + 0.05 * z)
            rows.append((f"Z{z}", d, v))
    return spark.createDataFrame(rows, "zone_id string, date date, biomass double")


def test_gp_forecast_shape_and_determinism(spark):
    out1 = gp_forecast(_series(spark)).orderBy("zone_id", "horizon_days")
    rows1 = out1.collect()
    # exactly 4 rows per zone: last in-sample + 3 horizons
    assert len(rows1) == 3 * 4
    per_zone = {}
    for r in rows1:
        per_zone.setdefault(r["zone_id"], []).append(r["horizon_days"])
        assert r["mean"] is not None and np.isfinite(r["mean"])
    assert all(sorted(h) == [0, 16, 32, 48] for h in per_zone.values())
    rows2 = gp_forecast(_series(spark)).orderBy("zone_id", "horizon_days").collect()
    assert [r["mean"] for r in rows1] == [r["mean"] for r in rows2]


def test_gp_posterior_interpolates():
    # at observed points with tiny noise the posterior ~ the data
    x = np.arange(0, 160, 16.0)
    y = np.sin(x / 60.0)
    m = gp_posterior_mean(x, y, x)
    assert np.max(np.abs(m - y)) < 0.05


def test_hindcast_tall_and_lag_matrix(spark):
    tall = hindcast_tall(_series(spark, zones=2, n=12, with_nulls=False))
    rows = tall.collect()
    # per zone: n=12 -> start=6, refits=min(100, 12-6)=6 -> 6*4 rows
    assert len(rows) == 2 * 6 * 4
    wide = lag_matrix(tall)
    assert set(wide.columns) == {
        "zone_id", "date", "lag_0_day", "lag_16_day", "lag_32_day", "lag_48_day"}
    # a mid-series date reached by all four horizons has all lags populated
    full = wide.where(
        F.col("lag_0_day").isNotNull() & F.col("lag_16_day").isNotNull()
        & F.col("lag_32_day").isNotNull() & F.col("lag_48_day").isNotNull())
    assert full.count() > 0


def _ragged_series(spark):
    """Zones with 1, 2, 3, 4 and 9 observations (some NULL), each starting
    on its own date, rows shuffled."""
    rows = []
    for z, (n, start, null_at) in enumerate([
            (1, dt.date(2023, 3, 1), ()),
            (3, dt.date(2023, 1, 5), (1,)),      # 2 points after F6
            (3, dt.date(2022, 12, 20), ()),
            (5, dt.date(2023, 2, 2), (0,)),      # 4 points after F6
            (9, dt.date(2023, 1, 1), (2, 6))]):  # 7 points after F6
        for i in range(n):
            d = start + dt.timedelta(days=16 * i + (i % 3))
            v = None if i in null_at else float(0.3 + 0.1 * np.cos(i + z))
            rows.append((f"Z{z}", d, v))
    rows.append(("Z5", dt.date(2023, 1, 1), None))     # all-NULL zone
    rows = [rows[i] for i in np.random.RandomState(1).permutation(len(rows))]
    return spark.createDataFrame(
        rows, "zone_id string, date date, biomass double"), rows


def _reference_fits(rows):
    """Per-zone gp_posterior_mean calls on the sorted non-NULL series:
    (forecast rows, tall hindcast rows)."""
    zones = {}
    for z, d, v in rows:
        if v is not None:
            zones.setdefault(z, []).append((d, v))
    fc, hc = set(), set()
    steps = (0, *HORIZON_DAYS)
    for z, pts in zones.items():
        pts.sort()
        t0 = pts[0][0]
        x = np.array([(d - t0).days for d, _ in pts], dtype=float)
        y = np.array([v for _, v in pts])
        n = len(pts)
        if n >= 2:
            xs = np.array([x[-1] + h for h in steps])
            m = np.round(gp_posterior_mean(x, y, xs), 4)
            fc |= {(z, t0 + dt.timedelta(days=int(a)), h, float(b))
                   for a, h, b in zip(xs, steps, m)}
        if n >= 4:
            for cut in range(n // 2, n // 2 + min(MAX_REFITS, n - n // 2)):
                xs = np.array([x[cut - 1] + h for h in steps])
                m = gp_posterior_mean(x[:cut], y[:cut], xs)
                hc |= {(z, t0 + dt.timedelta(days=int(a)), h, float(b))
                       for a, h, b in zip(xs, steps, m)}
    return fc, hc


def test_zone_models_bit_identical_to_per_zone_reference(spark):
    df, rows = _ragged_series(spark)
    want_fc, want_hc = _reference_fits(rows)
    got_fc = [tuple(r) for r in gp_forecast(df).collect()]
    got_hc = [tuple(r) for r in hindcast_tall(df).collect()]
    # zones with >= 2 / >= 4 non-NULL points only, no duplicate rows
    assert {r[0] for r in got_fc} == {"Z1", "Z2", "Z3", "Z4"}
    assert {r[0] for r in got_hc} == {"Z3", "Z4"}
    assert len(got_fc) == len(set(got_fc)) == 16
    assert len(got_hc) == len(set(got_hc)) == 4 * (2 + 4)
    assert set(got_fc) == want_fc          # exact float equality
    assert set(got_hc) == want_hc
    empty = df.where(F.lit(False))
    assert gp_forecast(empty).collect() == []
    assert hindcast_tall(empty).collect() == []


def test_tail_k(spark):
    df = _series(spark, zones=2, n=10, with_nulls=False)
    out = tail_k_per_group(df, k=4)
    assert out.count() == 8
    last = out.groupBy("zone_id").agg(F.max("date").alias("m")).collect()
    exp = dt.date(2023, 1, 1) + dt.timedelta(days=16 * 9)
    assert all(r["m"] == exp for r in last)


def test_gwr_recovers_linear_signal(spark):
    # ndvi = 0.3*sm + 0.1*preci + small spatial term -> distributed scoring
    # should track the signal closely everywhere
    rng = np.random.RandomState(0)
    n = 800
    lon = rng.uniform(36, 49, n)
    lat = rng.uniform(0, 15, n)
    sm = rng.uniform(0, 1, n)
    preci = rng.uniform(0, 1, n)
    ndvi = 0.3 * sm + 0.1 * preci + 0.01 * np.sin(lon) + rng.normal(0, 0.005, n)
    df = spark.createDataFrame(
        [tuple(map(float, t)) for t in zip(lon, lat, sm, preci, ndvi)],
        "lon double, lat double, sm double, preci double, ndvi double")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    scored = gwr_fit_score(df, bandwidth=60)
    # VERDICT r1: calibration is ONE collect (hash-ordered top-k), not
    # count + sample + collect
    assert len(tracker.getJobIdsForGroup(None)) - before <= 2
    out = scored.withColumn(
        "err", F.abs(F.col("pred") - F.col("ndvi")))
    rmse = out.agg(F.sqrt(F.avg(F.col("err") ** 2))).collect()[0][0]
    assert rmse < 0.05
