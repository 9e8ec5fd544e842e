"""Independent numpy/pandas oracles for the workload outputs.

Each check returns ``(rows_checked, rows_mismatched, notes)``. Outputs are
read with pyarrow, never through Spark. The zonal, kNN and PIP values are
exact integers or correctly rounded doubles of integers, so every
comparison is exact.
"""

from __future__ import annotations

import glob
import math

import numpy as np
import pyarrow.parquet as pq

from air_health_gis_tools_spark import geo_synth as G


def read_parquet(path: str, columns=None):
    files = sorted(glob.glob(f"{path}/**/*.parquet", recursive=True))
    if not files:
        return None
    import pyarrow as pa
    return pa.concat_tables(
        [pq.read_table(f, columns=columns) for f in files]).to_pandas()


def _count(name: str, got: int, want: int, notes: list) -> int:
    if got != want:
        notes.append(f"{name}: {got} rows, expected {want}")
        return 1
    return 0


def zonal_expected(x: np.ndarray, y: np.ndarray,
                   buffers_m) -> dict[str, np.ndarray]:
    """Brute force: every pixel with dr² + dc² <= ceil(B / 1000)² around
    the containing pixel."""
    r0 = y.astype(np.int64) // G.XRES
    c0 = x.astype(np.int64) // G.XRES
    out = {}
    for b in buffers_m:
        rp = max(math.ceil(b / G.XRES), 1)
        d = np.arange(-rp, rp + 1)
        dr, dc = np.meshgrid(d, d, indexing="ij")
        keep = dr * dr + dc * dc <= rp * rp
        dr, dc = dr[keep], dc[keep]
        v = G.raster_value_np(r0[:, None] + dr[None, :],
                              c0[:, None] + dc[None, :])
        ok = ~np.isnan(v)
        cnt = ok.sum(axis=1)
        s = np.where(ok, v, 0.0).sum(axis=1)
        has = cnt > 0
        out[f"n_valid_{b}"] = cnt
        out[f"mean_{b}"] = np.where(has, s / np.maximum(cnt, 1), np.nan)
        out[f"min_{b}"] = np.where(has, np.where(ok, v, np.inf).min(axis=1),
                                   np.nan)
        out[f"max_{b}"] = np.where(has, np.where(ok, v, -np.inf).max(axis=1),
                                   np.nan)
    return out


def check_zonal(df, ids, x, y, buffers_m, sample: int, rng, name: str):
    """Row count plus a seeded sample of points against the brute force."""
    notes: list[str] = []
    bad = _count(name, len(df), len(ids), notes)
    bad += _count(f"{name} distinct ids", df["doc_id"].nunique(), len(ids),
                  notes)
    pos = rng.choice(len(ids), size=min(sample, len(ids)), replace=False)
    want = zonal_expected(x[pos], y[pos], buffers_m)
    got = df.set_index("doc_id").reindex(ids[pos])
    rows_bad = np.zeros(len(pos), dtype=bool)
    for col, w in want.items():
        g = got[col].to_numpy(dtype=np.float64)
        same = (g == w) | (np.isnan(g) & np.isnan(w))
        rows_bad |= ~same
    if rows_bad.any():
        notes.append(f"{name}: {int(rows_bad.sum())} of {len(pos)} sampled "
                     f"points differ, e.g. doc_id "
                     f"{int(ids[pos][rows_bad][0])}")
    return len(pos) + 2, bad + int(rows_bad.sum()), notes


def check_knn(df, ids, x, y, sample: int, rng):
    """Nearest of the monitors within the bound, ties to the lower id."""
    notes: list[str] = []
    bad = _count("knn", len(df), len(ids), notes)
    pos = rng.choice(len(ids), size=min(sample, len(ids)), replace=False)
    mids = np.arange(G.N_MONITORS, dtype=np.int64)
    mx, my = G.monitor_xy_np(mids)
    dx = x[pos][:, None] - mx[None, :]
    dy = y[pos][:, None] - my[None, :]
    d2 = dx * dx + dy * dy
    best = d2.argmin(axis=1)            # first minimum = lowest monitor id
    bd2 = d2[np.arange(len(pos)), best]
    hit = bd2 <= G.KNN_BOUND_M ** 2
    got = df.set_index("doc_id").reindex(ids[pos])
    gm = got["monitor_id"].to_numpy(dtype=np.float64)
    gd = got["dist_m"].to_numpy(dtype=np.float64)
    wm = np.where(hit, mids[best], np.nan).astype(np.float64)
    wd = np.where(hit, np.sqrt(bd2.astype(np.float64)), np.nan)
    same = (((gm == wm) | (np.isnan(gm) & np.isnan(wm)))
            & ((gd == wd) | (np.isnan(gd) & np.isnan(wd))))
    if not same.all():
        notes.append(f"knn: {int((~same).sum())} of {len(pos)} sampled "
                     "points differ")
    return len(pos) + 1, bad + int((~same).sum()), notes


def check_pip(df, x, y):
    """Points per circular polygon, all points, all polygons."""
    notes: list[str] = []
    pids = np.arange(G.N_POLYS, dtype=np.int64)
    cx, cy, r = G.poly_circle_np(pids)
    want = np.zeros(len(pids), dtype=np.int64)
    for k in range(len(pids)):
        dx, dy = x - cx[k], y - cy[k]
        want[k] = int(np.count_nonzero(dx * dx + dy * dy <= r[k] * r[k]))
    bad = _count("pip", len(df), len(pids), notes)
    got = (df.set_index("poly_id")["n_points"].reindex(pids)
           .fillna(-1).to_numpy(np.int64))
    diff = int((got != want).sum())
    if diff:
        notes.append(f"pip: {diff} of {len(pids)} polygon counts differ")
    return len(pids) + 1, bad + diff, notes


def check_curated(df, expected):
    """Curated count against the pandas dedup, text byte-identical per url."""
    notes: list[str] = []
    bad = _count("curated", len(df), len(expected), notes)
    got = df.set_index("url_norm")["text"]
    got = got[~got.index.duplicated()].reindex(expected.index)
    same = (got == expected).to_numpy()
    if not same.all():
        notes.append(f"curated: {int((~same).sum())} of {len(expected)} "
                     "urls have other text or are missing")
    return len(expected) + 1, bad + int((~same).sum()), notes
