"""The `forage_period` workload: the forage pipeline on one seeded
production run, every hand-off written, and the exported GeoTIFFs read
back and aggregated per zone as the forecasting half reads its archive.

The inputs are generated from the seed with numpy and written as files
under the run's work directory; the library gets only those files (or
DataFrames read from them). Every output is checked against independent
numpy computations outside the timed sections.
"""

from __future__ import annotations

import datetime as dt
import glob
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from lswms_forage_etl_spark import lifecycle, schemas
from lswms_forage_etl_spark.operators.zonal import zone_series
from lswms_forage_etl_spark.plans import forage_pipeline
from lswms_forage_etl_spark.sources.geometry import zone_coverage_from_wkt
from lswms_forage_etl_spark.sources.geotiff import (
    decode_geotiff_bytes,
    geotiff_to_cells_distributed,
)
from lswms_forage_etl_spark.sources.sinks import geotiff_export, write_legacy_csv

N_ROWS, N_COLS = schemas.GRID_N_ROWS, schemas.GRID_N_COLS
NODATA = schemas.RASTER_NODATA
N_ZONES = 151
GWR_BANDWIDTH = 60


def square_zones(n: int = N_ZONES) -> list[tuple[str, str]]:
    """`n` square zones tiling the AOI row-major, as (zone_id, WKT)."""
    side = int(math.ceil(math.sqrt(n)))
    dlon, dlat = 13.0 / side, 15.0 / side
    zones = []
    for i in range(n):
        r, c = divmod(i, side)
        lo, la = 36.0 + c * dlon, 15.0 - r * dlat
        zones.append((f"ET{i:04d}",
                      f"POLYGON (({lo} {la}, {lo + dlon} {la}, {lo + dlon} "
                      f"{la - dlat}, {lo} {la - dlat}, {lo} {la}))"))
    return zones


def zone_of_cells(n: int = N_ZONES) -> np.ndarray:
    """(N_ROWS, N_COLS) zone index of each cell centre, -1 outside all
    zones, for the same tiling as `square_zones`."""
    side = int(math.ceil(math.sqrt(n)))
    dlon, dlat = 13.0 / side, 15.0 / side
    lon = schemas.GRID_ORIGIN_LON + (np.arange(N_COLS) + 0.5) * schemas.GRID_CELL_DEG
    lat = schemas.GRID_ORIGIN_LAT - (np.arange(N_ROWS) + 0.5) * schemas.GRID_CELL_DEG
    zc = np.floor((lon - 36.0) / dlon).astype(int)
    zr = np.floor((15.0 - lat) / dlat).astype(int)
    z = zr[:, None] * side + zc[None, :]
    return np.where(z < n, z, -1)


def zone_means(arrays: dict) -> dict[tuple[str, str], float]:
    """{(zone_id, ISO date): mean of the zone's valid cells} over
    {date: (N_ROWS, N_COLS) array with NaN for nodata}; zones without a
    valid cell are left out."""
    zones = zone_of_cells()
    means = {}
    for date, arr in arrays.items():
        ok = ~np.isnan(arr) & (zones >= 0)
        sums = np.bincount(zones[ok], weights=arr[ok].astype(np.float64),
                           minlength=N_ZONES)
        counts = np.bincount(zones[ok], minlength=N_ZONES)
        for z in np.nonzero(counts)[0]:
            means[(f"ET{z:04d}", date.isoformat())] = sums[z] / counts[z]
    return means


def _reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _read_csv_dir(path: str) -> pa.Table:
    """Read the single part file `write_legacy_csv` leaves in `path`."""
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    if len(parts) != 1:
        raise ValueError(f"{path}: expected one CSV part, found {len(parts)}")
    return pacsv.read_csv(parts[0])


def _date_strings(col: pa.ChunkedArray) -> list[str]:
    return [str(v)[:10] for v in col.to_pylist()]


class ForagePeriod:
    """One reference production run: two complete 16-day composites plus a
    4-day tail that the period walk drops, then every hand-off written and
    the exported GeoTIFFs read back into zone means."""

    name = "forage_period"
    nominal_s = 10.0
    n_points = 1000
    n_periods = 2
    n_days = 16 * n_periods + 4
    obs_every_days = 16
    start = dt.date(2024, 1, 1)

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.in_dir = os.path.join(work_dir, "inputs")
        self.out_dir = os.path.join(work_dir, "outputs")

    def out(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def isolate(self) -> list[str]:
        """Release every tracked persist, clear the cache, delete the sink
        outputs, then report a leaked cache as a problem."""
        lifecycle.release_tracked()
        self.spark.catalog.clearCache()
        shutil.rmtree(self.out_dir, ignore_errors=True)
        try:
            lifecycle.assert_no_cached_rdds(self.spark, context=self.name)
        except AssertionError as exc:
            return [str(exc)]
        return []

    def generate(self) -> dict:
        rng = np.random.default_rng(self.seed)
        _reset_dir(self.in_dir)
        obs_dates = [self.start + dt.timedelta(days=d)
                     for d in range(0, self.n_days, self.obs_every_days)]
        rr, cc = np.meshgrid(np.arange(N_ROWS, dtype=np.int32),
                             np.arange(N_COLS, dtype=np.int32), indexing="ij")
        n_cells = rr.size
        paths = {}
        for var, scale in (("ndvi", 1.0), ("sm", 0.6), ("preci", 20.0)):
            values = rng.random(n_cells * len(obs_dates)) * scale
            table = pa.table({
                "date": pa.array(np.repeat(np.array(obs_dates,
                                                    dtype="datetime64[D]"),
                                           n_cells)),
                "row": pa.array(np.tile(rr.ravel(), len(obs_dates))),
                "col": pa.array(np.tile(cc.ravel(), len(obs_dates))),
                "value": pa.array(values),
            })
            paths[var] = os.path.join(self.in_dir, f"{var}_cells.parquet")
            pq.write_table(table, paths[var])
        lon, lat = self._points(rng)
        paths["points"] = os.path.join(self.in_dir, "points.parquet")
        pq.write_table(pa.table({"lon": lon, "lat": lat}), paths["points"])

        read = self.spark.read.parquet
        coverage, centroids = zone_coverage_from_wkt(self.spark, square_zones())
        self.inputs = {f"{v}_cells": read(paths[v]).select(
            "date", "row", "col", "value") for v in ("ndvi", "sm", "preci")}
        self.inputs.update(points=read(paths["points"]), coverage=coverage,
                           centroids=centroids)
        self.current_date = self.start + dt.timedelta(days=self.n_days - 1)
        return {"grid": [N_ROWS, N_COLS], "obs_dates": len(obs_dates),
                "cells": 3 * n_cells * len(obs_dates),
                "points": self.n_points, "zones": N_ZONES,
                "periods": self.n_periods, "gwr_bandwidth": GWR_BANDWIDTH}

    def _points(self, rng: np.random.Generator) -> tuple:
        """`n_points` (lon, lat): one inside a random cell of each zone, so
        every zone has a cell of its own in the sparse raster, and the
        rest uniform over the grid; rounded to 3 decimals as the
        reference's points are, and never on a cell edge."""
        zones = zone_of_cells()
        picks = [rng.choice(np.flatnonzero(zones == z)) for z in range(N_ZONES)]
        n_rest = self.n_points - N_ZONES
        rows = np.concatenate([np.array(picks) // N_COLS,
                               rng.integers(0, N_ROWS, n_rest)])
        cols = np.concatenate([np.array(picks) % N_COLS,
                               rng.integers(0, N_COLS, n_rest)])
        frac = 0.1 + 0.8 * rng.random((2, self.n_points))
        cell = schemas.GRID_CELL_DEG
        lon = schemas.GRID_ORIGIN_LON + (cols + frac[0]) * cell
        lat = schemas.GRID_ORIGIN_LAT - (rows + frac[1]) * cell
        return np.round(lon, 3), np.round(lat, 3)

    def iteration(self, meter, tracer) -> list[tuple[str, list[str]]]:
        with meter.timed():
            pipe = forage_pipeline(self.start, self.current_date,
                                   gwr_bandwidth=GWR_BANDWIDTH)
            tracer.wrap_stages(pipe)
            with tracer.span("pipeline"):
                out = pipe.run(self.spark, dict(self.inputs))
            with tracer.span("sink.combined"):
                write_legacy_csv(out["combined"], self.out("combined"))
            with tracer.span("sink.results"):
                write_legacy_csv(out["results"], self.out("results"))
            with tracer.span("sink.geotiff"):
                geotiff_export(out["raster_cells"],
                               self.out("geotiff")).collect()
            with tracer.span("archive.zonal"):
                cells = geotiff_to_cells_distributed(
                    self.spark, os.path.join(self.out("geotiff"), "*.tif"))
                write_legacy_csv(zone_series(cells, self.inputs["coverage"],
                                             self.inputs["centroids"]),
                                 self.out("archive"))
            with tracer.span("sink.woredas"):
                write_legacy_csv(out["zone_series"], self.out("woredas"))
            with tracer.span("sink.hindcast"):
                write_legacy_csv(out["hindcast_wide"], self.out("hindcast"))
            with tracer.span("sink.forecast"):
                write_legacy_csv(out["forecast"], self.out("forecast"))
        problems = [f"stage {r.name} {r.status}: {r.reason}"
                    for r in pipe.results if r.status != "ok"]
        problems += self.check(out)
        return [("forage_pipeline", problems + self.isolate())]

    def layers(self, facts: dict) -> dict[str, float]:
        """The empty-guard share: pipeline time outside the stage fns."""
        if "pipeline" not in facts:
            return {}
        stages = sum(f.wall for n, f in facts.items()
                     if n.startswith("stage."))
        return {"pipeline.guard_s": facts["pipeline"].wall - stages,
                "pipeline.guard_jobs": facts["pipeline"].jobs}

    def check(self, out) -> list[str]:
        """Check the written hand-offs against independent numpy
        computations; returns one line per problem."""
        problems = []
        combined = _read_csv_dir(self.out("combined"))
        results = _read_csv_dir(self.out("results"))
        woredas = _read_csv_dir(self.out("woredas"))
        forecast = _read_csv_dir(self.out("forecast"))
        if woredas.num_rows != N_ZONES * self.n_periods:
            problems.append(f"woredas rows {woredas.num_rows} != "
                            f"{N_ZONES} x {self.n_periods}")
        if forecast.num_rows != N_ZONES * 4:
            problems.append(f"forecast rows {forecast.num_rows} != "
                            f"{N_ZONES} x 4")
        if results.num_rows != combined.num_rows:
            problems.append(f"results rows {results.num_rows} != combined "
                            f"rows {combined.num_rows}")
        pred = results["pred"].to_numpy()
        biom = results["biom"].to_numpy()
        if not np.allclose(biom, (6480.2 * pred - 958.6) / 1000.0,
                           rtol=0, atol=1e-9):
            problems.append("biom != (6480.2 * pred - 958.6) / 1000")
        problems += self._check_gwr(combined, results)
        arrays = self._decoded_geotiffs()
        problems += self._check_geotiffs(arrays, out["raster_cells"])
        problems += self._check_archive(arrays)
        return problems

    def _check_gwr(self, combined: pa.Table, results: pa.Table) -> list[str]:
        """`pred` at 200 fixed points against a per-point numpy
        adaptive-Gaussian WLS over the whole calibration set."""
        def arr(t, c):
            return np.nan_to_num(t[c].to_numpy(zero_copy_only=False), nan=0.0)
        xy = np.column_stack([arr(combined, "lon"), arr(combined, "lat")])
        x = np.column_stack([np.ones(len(xy)), arr(combined, "sm"),
                             arr(combined, "preci")])
        y = arr(combined, "ndvi")
        k = min(GWR_BANDWIDTH, len(xy) - 1)
        pick = np.random.default_rng(0).choice(
            results.num_rows, size=min(200, results.num_rows), replace=False)
        rxy = np.column_stack([arr(results, "lon"), arr(results, "lat")])[pick]
        rx = np.column_stack([np.ones(len(pick)), arr(results, "sm")[pick],
                              arr(results, "preci")[pick]])
        got = arr(results, "pred")[pick]
        want = np.empty(len(pick))
        for i in range(len(pick)):
            d = np.sqrt(((xy - rxy[i]) ** 2).sum(axis=1))
            h = max(np.sort(d)[k], 1e-9)
            sw = np.exp(-0.25 * (d / h) ** 2)          # sqrt of the weight
            beta = np.linalg.lstsq(x * sw[:, None], y * sw, rcond=None)[0]
            want[i] = rx[i] @ beta
        err = float(np.max(np.abs(got - want)))
        return [] if err <= 1e-6 else [f"GWR pred off by {err:.3g} > 1e-6"]

    def _decoded_geotiffs(self) -> dict:
        """{date: array} of the exported GeoTIFFs, named biomass_YYYYMMDD."""
        arrays = {}
        for path in glob.glob(os.path.join(self.out("geotiff"), "*.tif")):
            stamp = os.path.basename(path)[len("biomass_"):-len(".tif")]
            with open(path, "rb") as fh:
                arrays[dt.datetime.strptime(stamp, "%Y%m%d").date()] = \
                    decode_geotiff_bytes(fh.read(), path)[0]
        return arrays

    def _check_geotiffs(self, arrays: dict, raster_cells) -> list[str]:
        """Each exported GeoTIFF decodes to the engine's raster_cells."""
        cells = raster_cells.toPandas()
        problems = []
        dates = sorted(set(cells["date"]))
        if sorted(arrays) != dates:
            return [f"GeoTIFFs for {sorted(arrays)}, raster dates {dates}"]
        for date in dates:
            arr = arrays[date]
            want = np.full((N_ROWS, N_COLS), NODATA, dtype=np.float32)
            day = cells[cells["date"] == date]
            want[day["row"].to_numpy(), day["col"].to_numpy()] = \
                day["value"].to_numpy(np.float32)
            got = np.where(np.isnan(arr), NODATA, arr)
            if not np.array_equal(got, want):
                problems.append(f"GeoTIFF of {date} differs from "
                                f"raster_cells in {(got != want).sum()} cells")
        return problems

    def _check_archive(self, arrays: dict) -> list[str]:
        """The read-back zone series against numpy means per zone of the
        decoded GeoTIFFs."""
        table = _read_csv_dir(self.out("archive"))
        got = dict(zip(zip(table["zone_id"].to_pylist(),
                           _date_strings(table["date"])),
                       table["biomass"].to_numpy()))
        want = zone_means(arrays)
        if set(got) != set(want):
            return [f"read-back zone_series keys differ: {len(got)} rows, "
                    f"{len(want)} expected"]
        err = max(abs(got[k] - v) / max(abs(v), 1e-12)
                  for k, v in want.items())
        return [] if err <= 1e-9 else [
            f"read-back zone means off by {err:.3g} (relative)"]
