"""M2 — Gaussian-process time-series forecast, per zone.

Reference (GaussianProcesses.py:12-54): pyro GPRegression with an RBF kernel
(lengthscale 60, variance 0.5), noise 0.01, mean-centered y, 10 SVI/Adam
steps, predictions at X ∪ {max+16, max+32, max+48} days.

Engine form: an EXACT GP posterior mean with the same kernel/noise
hyperparameters, computed in closed form with numpy (pyro is not a public
dependency of this engine; 10 SVI steps barely move the reference's
hyperparameters, so the fixed-hyperparameter exact posterior is the cleaner,
deterministic statistical equivalent — rows-only oracle per SURVEY §5).
MEASURED deviation vs an SVI-drift replay (10 Adam steps on the exact lml,
which is what SVI does for an exact GPR) on the reference's own 151-zone
woredas.csv series: hyperparameters drift ~10%, posterior means differ by
0.0155 mean / 0.018 max at the last in-sample point (biomass scale 0.434),
growing to 0.16 max at the +48-day extrapolation horizon — see
tests/test_model_parity.py.

Distribution: one independent GP per zone, in one-row-per-zone form:
`zone_series_arrays` groups the non-NULL series into one row per zone
(zone_id, dates, biomass — both arrays sorted by date), and `fit_zones`
fits every zone of an Arrow batch in a numpy loop, in one `mapInPandas`
pass (shared with the hindcast, `operators/hindcast.py`).
151 zones of a few points each are one Python call, not 151 pandas
group calls (measured ~0.7 s of Python for the per-group form); at
scale, millions of series still parallelize embarrassingly — each zone
is a few-hundred-row numpy solve, no cross-zone state.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from lswms_forage_etl_spark.schemas import FORECAST

RBF_LENGTHSCALE = 60.0
RBF_VARIANCE = 0.5
NOISE = 0.01
HORIZON_DAYS = (16, 32, 48)


def _rbf(a: np.ndarray, b: np.ndarray,
         ls: float = RBF_LENGTHSCALE, var: float = RBF_VARIANCE) -> np.ndarray:
    d = a[:, None] - b[None, :]
    return var * np.exp(-0.5 * (d / ls) ** 2)


def gp_posterior_mean(x: np.ndarray, y: np.ndarray, x_star: np.ndarray,
                      noise: float = NOISE) -> np.ndarray:
    """Exact GP regression posterior mean with mean-centered y
    (reference GaussianProcesses.py:28,52 re-adds the mean)."""
    mu = float(np.mean(y))
    k = _rbf(x, x) + noise * np.eye(len(x))
    alpha = np.linalg.solve(k, y - mu)
    return _rbf(x_star, x) @ alpha + mu


def zone_series_arrays(zone_series: DataFrame) -> DataFrame:
    """F6 null-filter, then one row per zone: (zone_id, dates, biomass)
    with both arrays in date order — the input of the per-zone fits."""
    s = F.sort_array(F.collect_list(F.struct("date", "biomass")))
    return (zone_series.where(F.col("biomass").isNotNull())
            .groupBy("zone_id").agg(s.alias("_s"))
            .select("zone_id", F.col("_s.date").alias("dates"),
                    F.col("_s.biomass").alias("biomass")))


def fit_zones(zone_series: DataFrame, fit, schema: StructType) -> DataFrame:
    """Run `fit` on every zone's series in one `mapInPandas` pass over
    `zone_series_arrays`. `fit(x, y)` gets the zone's days since its first
    date (C4, float) and biomass, and returns [(x_star, mean), ...], each
    pair over the 4 steps (0, *HORIZON_DAYS); every pair becomes 4 rows
    (zone_id, date, horizon_days, mean) in `schema`'s column order."""
    steps = (0, *HORIZON_DAYS)

    def batches(frames):
        for pdf in frames:
            rows = []
            for zone, dates, biomass in zip(pdf["zone_id"], pdf["dates"],
                                            pdf["biomass"]):
                t0 = dates[0]
                x = np.array([(d - t0).days for d in dates], dtype=float)
                for x_star, mean in fit(x, np.asarray(biomass, dtype=float)):
                    rows += [(zone, t0 + dt.timedelta(days=int(d)), h, m)
                             for d, h, m in zip(x_star, steps, mean.tolist())]
            if rows:   # an empty frame would lose its dtypes
                yield pd.DataFrame(rows, columns=schema.fieldNames())

    return zone_series_arrays(zone_series).mapInPandas(batches, schema)


def _forecast_fit(x: np.ndarray, y: np.ndarray) -> list:
    """Last in-sample point + 3 horizons (reference BiomassForecast.py:78
    keeps the tail-4); zones with fewer than 2 points emit nothing."""
    if len(x) < 2:
        return []
    x_star = x[-1] + np.array([0, *HORIZON_DAYS])
    # S15 rounds to 4 dp (BiomassForecast.py:121)
    return [(x_star, np.round(gp_posterior_mean(x, y, x_star), 4))]


def gp_forecast(zone_series: DataFrame) -> DataFrame:
    """F6 null-filter -> per-zone GP -> FORECAST rows."""
    return fit_zones(zone_series, _forecast_fit, FORECAST)
