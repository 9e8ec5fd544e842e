"""Bounded nearest-neighbor (kNN, k=1) — the reference's ``coregPoint``.

Reference semantics (Archived_scripts/exploration.ipynb ``coregPoint``;
KDTree build Archived_scripts/utils.py:177-206): nearest monitor with
``distance_upper_bound``; no neighbor within the bound → 'inf' (we emit NULL).

Physical strategies:

1. ``knn_cell_join`` (default, fully distributed — the 100 TB plan):
   both sides are keyed by a square cell of pitch = bound; the point side
   explodes its 3×3 cell neighborhood (any monitor within ``bound`` of the
   point lies in one of those 9 cells); hash equi-join on cell; exact
   integer d² predicate; argmin per point via ``min(struct(d2, monitor_id))``
   — lexicographic struct ordering gives the deterministic monitor_id
   tie-break. The monitor side is a dim table → Catalyst broadcasts it
   (O12); the point side never shuffles (cell keys are computed columns).

2. ``knn_broadcast_np`` (kernel variant): monitors collected to a driver
   ndarray, chunked brute-force argmin inside an Arrow kernel — the numpy
   re-expression of the KDTree query; used to cross-validate strategy 1 and
   as the fast path when |monitors| is tiny.

3. ``knn_ring_np`` (index kernel, scale path for large monitor sets that
   still fit an executor): monitors pre-bucketed by cell; per-point cell-ring
   expansion (north_star's "cell-ring expansion kNN") that stops only when
   the next ring cannot beat the best hit — expanding one ring past the
   first hit, since the true nearest may sit in ring k+1
   (SURVEY.md §7.4 risk 6).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T


def _neighbor_cells(df: DataFrame, cell_m: int, x_col: str, y_col: str,
                    rings: int = 1) -> DataFrame:
    """Explode each point to its (2*rings+1)² neighbor cell keys."""
    # one array literal: a Column per offset costs ~30 py4j calls per call
    offs = ", ".join(f"named_struct('di', {di}, 'dj', {dj})"
                     for di in range(-rings, rings + 1)
                     for dj in range(-rings, rings + 1))
    off_col = F.expr(f"array({offs})")
    ci = (F.col(x_col) / cell_m).cast("long")
    cj = (F.col(y_col) / cell_m).cast("long")
    return (df.withColumn("_o", F.explode(off_col))
            .withColumn("cell",
                        (ci + F.col("_o.di")) * F.lit(1 << 32)
                        + (cj + F.col("_o.dj")))
            .drop("_o"))


def knn_cell_join(points: DataFrame, monitors: DataFrame, bound_m: int,
                  id_col: str = "doc_id", mon_id_col: str = "monitor_id",
                  x_col: str = "x", y_col: str = "y",
                  mx_col: str = "mx", my_col: str = "my") -> DataFrame:
    """Distributed bounded 1-NN; returns (id, monitor_id, dist_m) with NULLs
    when nothing lies within ``bound_m``. Exact integer d² math."""
    cell_m = bound_m
    pts = _neighbor_cells(points.select(id_col, x_col, y_col),
                          cell_m, x_col, y_col, rings=1)
    mons = monitors.select(
        mon_id_col, mx_col, my_col,
        ((F.col(mx_col) / cell_m).cast("long") * F.lit(1 << 32)
         + (F.col(my_col) / cell_m).cast("long")).alias("cell"))

    dx = F.col(x_col) - F.col(mx_col)
    dy = F.col(y_col) - F.col(my_col)
    d2 = dx * dx + dy * dy
    # LEFT join keeps no-match points in-flow (no join-back stage needed);
    # candidates outside the bound collapse to NULL structs that min()
    # skips. The min(struct) is partial-aggregable, and the 9 exploded rows
    # of a point are co-located, so the map-side partial agg collapses them
    # BEFORE the shuffle: exactly one row per point crosses the wire.
    cand = (pts.join(F.broadcast(mons), "cell", "left")
            .select(id_col, x_col, y_col,
                    F.when(d2 <= F.lit(bound_m) ** 2,
                           F.struct(d2.alias("d2"), F.col(mon_id_col)))
                    .alias("c")))
    return (cand.groupBy(id_col)
            .agg(F.first(x_col).alias(x_col), F.first(y_col).alias(y_col),
                 F.min("c").alias("b"))
            .select(id_col, x_col, y_col,
                    F.col(f"b.{mon_id_col}").alias(mon_id_col),
                    F.sqrt(F.col("b.d2")).alias("dist_m")))


BROADCAST_KERNEL_MAX_DIM = 100_000  # monitors beyond this → cell join


def knn_auto(points: DataFrame, monitors: DataFrame, bound_m: int,
             n_monitors: int | None = None, **kw) -> DataFrame:
    """Strategy chooser (O12): tiny monitor dim → collect + broadcast
    vectorized kernel (no row amplification); large dim → distributed cell
    equi-join. Mirrors Catalyst's broadcast-vs-shuffle join gate, applied
    to the kernel formulation."""
    n_monitors = n_monitors or monitors.count()
    if n_monitors <= BROADCAST_KERNEL_MAX_DIM:
        rows = monitors.select("monitor_id", "mx", "my").collect()
        import numpy as _np
        mids = _np.array([r[0] for r in rows], dtype=_np.int64)
        mxs = _np.array([r[1] for r in rows], dtype=_np.int64)
        mys = _np.array([r[2] for r in rows], dtype=_np.int64)
        return knn_broadcast_np(points, (mxs, mys, mids), bound_m, **kw)
    return knn_cell_join(points, monitors, bound_m, **kw)


def knn_broadcast_np(points: DataFrame, mon_xy_ids: tuple[np.ndarray, ...],
                     bound_m: int, id_col: str = "doc_id",
                     x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Arrow-kernel brute-force 1-NN against a broadcast monitor array."""
    mxs, mys, mids = (np.asarray(a, dtype=np.int64) for a in mon_xy_ids)
    # sort by id so np.argmin's first-match rule IS the deterministic
    # (d2, monitor_id) tie-break — no packed-key pass needed
    order = np.argsort(mids, kind="stable")
    mxs, mys, mids = mxs[order], mys[order], mids[order]
    schema = T.StructType([T.StructField("monitor_id", T.DoubleType()),
                           T.StructField("dist_m", T.DoubleType())])

    @F.pandas_udf(schema)
    def _nn(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        xs = x.to_numpy().astype(np.int64)
        ys = y.to_numpy().astype(np.int64)
        out_id = np.empty(len(xs), dtype=np.float64)
        out_d = np.empty(len(xs), dtype=np.float64)
        b2 = bound_m * bound_m
        # 1024-row chunks keep the (chunk x monitors) int64
        # temporaries cache-resident: 1.7x faster than 4096 and
        # near-linear under 8 concurrent workers (measured)
        for s in range(0, len(xs), 1024):
            e = min(s + 1024, len(xs))
            dx = xs[s:e, None] - mxs[None, :]
            dy = ys[s:e, None] - mys[None, :]
            d2 = dx * dx + dy * dy
            j = np.argmin(d2, axis=1)
            rows = np.arange(e - s)
            dbest = d2[rows, j]
            ok = dbest <= b2
            out_id[s:e] = np.where(ok, mids[j], np.nan)
            out_d[s:e] = np.where(ok, np.sqrt(dbest.astype(np.float64)),
                                  np.nan)
        return pd.DataFrame({"monitor_id": out_id, "dist_m": out_d})

    out = points.withColumn("_nn", _nn(F.col(x_col), F.col(y_col)))
    return (out.withColumn("monitor_id", F.col("_nn.monitor_id").cast("long"))
            .withColumn("dist_m", F.col("_nn.dist_m")).drop("_nn"))


def build_cell_index(mxs: np.ndarray, mys: np.ndarray, mids: np.ndarray,
                     cell_m: int) -> dict:
    """Monitor cell index: cell -> (xs, ys, ids) arrays."""
    ci = mxs // cell_m
    cj = mys // cell_m
    key = ci * (1 << 32) + cj
    order = np.argsort(key, kind="stable")
    key_s = key[order]
    starts = np.flatnonzero(np.r_[True, key_s[1:] != key_s[:-1]])
    idx = {}
    bounds = np.r_[starts, len(key_s)]
    for a, b in zip(bounds[:-1], bounds[1:]):
        sel = order[a:b]
        # each cell's monitors sorted by id: np.argmin's first-match rule
        # then IS the deterministic (d2, monitor_id) tie-break — no packed
        # key, no id-range assumption (matches knn_broadcast_np)
        sel = sel[np.argsort(mids[sel], kind="stable")]
        idx[int(key_s[a])] = (mxs[sel], mys[sel], mids[sel])
    return idx


def knn_ring_np(points: DataFrame, mon_xy_ids: tuple[np.ndarray, ...],
                bound_m: int, cell_m: int | None = None,
                id_col: str = "doc_id",
                x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Cell-ring-expansion 1-NN kernel (north_star operator).

    Points are grouped by their own cell inside each Arrow batch, the ring
    walk runs per *distinct cell* (never per row); expansion continues until
    ``(k-1)*cell_m > sqrt(best_d2)`` for every point of the cell — i.e. one
    full ring beyond the first hit — or the bound is exhausted.
    """
    mxs, mys, mids = (np.asarray(a, dtype=np.int64) for a in mon_xy_ids)
    cell_m = cell_m or bound_m
    index = build_cell_index(mxs, mys, mids, cell_m)
    max_ring = -(-bound_m // cell_m) + 1
    b2 = bound_m * bound_m
    schema = T.StructType([T.StructField("monitor_id", T.DoubleType()),
                           T.StructField("dist_m", T.DoubleType())])

    @F.pandas_udf(schema)
    def _nn(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        xs = x.to_numpy().astype(np.int64)
        ys = y.to_numpy().astype(np.int64)
        n = len(xs)
        best_d2 = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
        best_id = np.full(n, -1, dtype=np.int64)
        pci = xs // cell_m
        pcj = ys // cell_m
        pkey = pci * (1 << 32) + pcj
        for key in np.unique(pkey):
            sel = np.flatnonzero(pkey == key)
            ci, cj = int(key >> 32), int(key & 0xFFFFFFFF)
            sx, sy = xs[sel], ys[sel]
            sb_d2 = best_d2[sel]
            sb_id = best_id[sel]
            for k in range(0, max_ring + 1):
                # stop when ring k cannot contain anything closer than the
                # current best for ANY point in this cell (expand one past
                # the first hit: ring floor distance (k-1)*cell_m)
                floor_d = max(k - 1, 0) * cell_m
                if (sb_d2 < np.int64(floor_d) ** 2).all():
                    break
                if k == 0:
                    ring = [(ci, cj)]
                else:
                    ring = [(ci + di, cj + dj)
                            for di in range(-k, k + 1)
                            for dj in range(-k, k + 1)
                            if max(abs(di), abs(dj)) == k]
                for (ri, rj) in ring:
                    hit = index.get(ri * (1 << 32) + rj)
                    if hit is None:
                        continue
                    hx, hy, hid = hit
                    dx = sx[:, None] - hx[None, :]
                    dy = sy[:, None] - hy[None, :]
                    d2 = dx * dx + dy * dy
                    # ids ascend within a cell ⇒ argmin's first match is
                    # the smallest-id among equal-d2 candidates
                    j = np.argmin(d2, axis=1)
                    rows = np.arange(len(sel))
                    dd = d2[rows, j]
                    better = (dd < sb_d2) | ((dd == sb_d2) & (hid[j] < sb_id))
                    sb_d2 = np.where(better, dd, sb_d2)
                    sb_id = np.where(better, hid[j], sb_id)
            best_d2[sel] = sb_d2
            best_id[sel] = sb_id
        ok = best_d2 <= b2
        return pd.DataFrame({
            "monitor_id": np.where(ok, best_id.astype(np.float64), np.nan),
            "dist_m": np.where(ok, np.sqrt(best_d2.astype(np.float64)),
                               np.nan),
        })

    out = points.withColumn("_nn", _nn(F.col(x_col), F.col(y_col)))
    return (out.withColumn("monitor_id", F.col("_nn.monitor_id").cast("long"))
            .withColumn("dist_m", F.col("_nn.dist_m")).drop("_nn"))
