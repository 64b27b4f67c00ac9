"""Density clustering operators: DBSCAN (2-D geodesic), DBCAN (1-D),
DBRCAN (modular 1-D) — analogs of the reference's analysis package
(analysis/DBSCAN.java:37-154, DBCAN.java:28-218, DBRCAN.java:52-477).

DBCAN is pure SQL-window logic (gap analysis), so it runs entirely in
Catalyst and has an exact DuckDB oracle. DBSCAN builds the ε-neighbor
graph with the same cell-bucketed radius-join pattern as the spatial
joins, then resolves clusters by large-star/small-star connected
components (graphx.components_star_nodes, O(log^2 n) rounds).
DBRCAN rotates the ring at the largest gap and reuses DBCAN.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .. import cells, geo


def _bucket_boundaries(values: DataFrame, value_col: str, eps: float,
                       n_buckets: int) -> list[float]:
    """Range-partition boundaries from approximate quantiles, thinned so
    consecutive boundaries are >= 2*eps apart (then any eps-neighborhood
    spans at most two adjacent buckets, which is what the ghost-row
    replication in dbcan_1d_core relies on). Driver-side B scalars —
    bucket METADATA, not row data."""
    if n_buckets <= 1:
        return []
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cand = values.approxQuantile(value_col, qs, 0.001)
    out: list[float] = []
    for b in cand:
        if not out or float(b) - out[-1] >= 2 * eps:
            out.append(float(b))
    return out


def _bucket_expr(value_col: str, bounds: list[float]):
    """bucket k = number of boundaries <= value (0..B). Higher-order
    function — runs JVM-side, O(B) per row."""
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    return F.size(F.filter(arr, lambda b: b <= F.col(value_col)))


def _default_buckets(values: DataFrame) -> int:
    return max(2, values.sparkSession.sparkContext.defaultParallelism)


def dbcan_1d_global(values: DataFrame, eps: float, min_pts: int,
                    value_col="value", id_col="id") -> DataFrame:
    """Single-window 1-D gap clustering — the oracle-shaped reference
    path. One global ORDER BY == one task: use dbcan_1d (bucketed +
    stitched, same results) for anything beyond small data."""
    w = Window.orderBy(value_col, id_col)
    gapped = values.select(
        F.col(id_col), F.col(value_col),
        (F.col(value_col) - F.lag(value_col).over(w)).alias("gap"))
    grp = gapped.withColumn(
        "new_cluster",
        F.when(F.col("gap").isNull() | (F.col("gap") > eps), 1).otherwise(0))
    grp = grp.withColumn("cluster_seq", F.sum("new_cluster").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    counts = Window.partitionBy("cluster_seq")
    return (grp
            .withColumn("cluster_size", F.count("*").over(counts))
            .withColumn("cluster_id",
                        F.when(F.col("cluster_size") >= min_pts,
                               F.min(id_col).over(counts)))
            .select(id_col, value_col, "cluster_id"))


def dbcan_1d(values: DataFrame, eps: float, min_pts: int,
             value_col="value", id_col="id",
             n_buckets: int | None = None,
             materialize: str = "local", ckpt_runner=None,
             stage_prefix: str = "") -> DataFrame:
    """1-D density clustering: maximal runs of sorted values where each
    gap <= eps; clusters need >= min_pts members (DBCAN semantics:
    epsilon-neighborhood density over ordered doubles). Returns
    (id, value, cluster_id) with cluster_id = min id in cluster, or
    NULL for noise.

    Scale shape: values are range-partitioned into quantile buckets and
    clustered with PARTITIONED windows (no single-task global sort);
    clusters cut by a bucket boundary are re-merged by stitching bucket
    summaries (B rows collected to the driver — metadata, not row data:
    a cross-boundary merge happens iff the boundary gap <= eps, exactly
    the global rule, so results are identical to dbcan_1d_global —
    proven by tests/test_analysis.py boundary-straddling cases)."""
    if n_buckets is None:
        n_buckets = _default_buckets(values)
    bounds = _bucket_boundaries(values, value_col, eps, n_buckets)
    if not bounds:
        return dbcan_1d_global(values, eps, min_pts, value_col, id_col)
    spark = values.sparkSession

    df = values.select(id_col, value_col).withColumn(
        "_bkt", _bucket_expr(value_col, bounds))
    w = Window.partitionBy("_bkt").orderBy(value_col, id_col)
    grp = (df.withColumn("gap",
                         F.col(value_col) - F.lag(value_col).over(w))
           .withColumn("new_cluster",
                       F.when(F.col("gap").isNull() | (F.col("gap") > eps),
                              1).otherwise(0))
           .withColumn("cluster_seq", F.sum("new_cluster").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    # local mode: localCheckpoint, not persist — blocks are reclaimed by
    # the ContextCleaner once the result DF is dropped (persist would
    # leak a cache entry per invocation); reliable mode: parquet commit
    from .. import ckpt as CK
    grp = CK.materialize(grp, materialize, ckpt_runner,
                         f"{stage_prefix}dbcan_seg")

    summ = grp.groupBy("_bkt").agg(
        F.min(value_col).alias("lo"), F.max(value_col).alias("hi"),
        F.max("cluster_seq").alias("nseq")).collect()

    # driver stitch over B bucket summaries: walk buckets in value
    # order; the last local cluster of the previous non-empty bucket
    # merges with the first local cluster of the next iff the boundary
    # gap <= eps. Chains propagate through single-cluster buckets.
    merge: dict[tuple, tuple] = {}   # (bkt, seq) -> root (bkt, seq)
    prev = None                      # (bkt, hi, nseq)
    for r in sorted(summ, key=lambda r: r["_bkt"]):
        if prev is not None and r["lo"] - prev[1] <= eps:
            pkey = (prev[0], prev[2])
            merge[(r["_bkt"], 1)] = merge.get(pkey, pkey)
        prev = (r["_bkt"], r["hi"], r["nseq"])

    if merge:
        mrows = [(int(b), int(s), int(rb), int(rs))
                 for (b, s), (rb, rs) in merge.items()]
        mdf = spark.createDataFrame(
            mrows, "_bkt INT, cluster_seq BIGINT, _rb INT, _rs BIGINT")
        grp = grp.join(F.broadcast(mdf), ["_bkt", "cluster_seq"], "left")
    else:
        grp = grp.withColumn("_rb", F.lit(None).cast("int")) \
                 .withColumn("_rs", F.lit(None).cast("bigint"))
    grp = (grp.withColumn("_gb", F.coalesce("_rb", "_bkt"))
           .withColumn("_gs", F.coalesce("_rs", "cluster_seq")))

    counts = Window.partitionBy("_gb", "_gs")
    return (grp
            .withColumn("cluster_size", F.count("*").over(counts))
            .withColumn("cluster_id",
                        F.when(F.col("cluster_size") >= min_pts,
                               F.min(id_col).over(counts)))
            .select(id_col, value_col, "cluster_id"))


def dbcan_1d_oracle_sql(table: str, eps: float, min_pts: int,
                        value_col="value", id_col="id") -> str:
    """DuckDB twin of dbcan_1d."""
    return f"""
        WITH g AS (
            SELECT {id_col} AS id, {value_col} AS value,
                   {value_col} - lag({value_col}) OVER
                       (ORDER BY {value_col}, {id_col}) AS gap
            FROM {table}
        ), c AS (
            SELECT id, value,
                   sum(CASE WHEN gap IS NULL OR gap > {eps!r}e0 THEN 1 ELSE 0 END)
                       OVER (ORDER BY value, id ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cluster_seq
            FROM g
        )
        SELECT id, value,
               CASE WHEN count(*) OVER (PARTITION BY cluster_seq) >= {min_pts}
                    THEN min(id) OVER (PARTITION BY cluster_seq) END AS cluster_id
        FROM c
    """


def haversine_np(alat, alon, blat, blon):
    """Spherical haversine distance (meters) in the exact IEEE op order
    of entry_queries.seg_dist_expr's SQL text (R = 6371008.8) — the
    oracle-parity metric for dbscan_2d(metric="haversine"): identical
    doubles in numpy and DuckDB mean the eps-edge set (a discrete
    outcome) matches between engines."""
    return 2.0 * 6371008.8 * np.arcsin(np.sqrt(
        np.sin(np.radians(blat - alat) / 2.0) ** 2
        + np.cos(np.radians(alat)) * np.cos(np.radians(blat))
        * np.sin(np.radians(blon - alon) / 2.0) ** 2))


def dbscan_2d(points: DataFrame, eps_m: float, min_pts: int,
              id_col="point_id", max_rounds: int = 30,
              metric: str = "geodesic") -> DataFrame:
    """Geodesic DBSCAN. Stages:
    1. self radius-join via cell buckets (cover each point's eps
       envelope, equi-join on cell, exact geodesic refine in a pandas
       kernel) -> ε-neighbor edge list;
    2. core points = count(neighbors)+1 >= min_pts;
    3. clusters = connected components of the core-core subgraph via
       large-star/small-star (graphx.components_star_nodes);
    4. border points attach to the min core-neighbor label.
    Returns (point_id, cluster_id NULL for noise).

    metric: "geodesic" (Vincenty — the reference's DBSCAN.java:66-82
    semantics) or "haversine" (spherical, haversine_np — SQL-twinnable
    for the DuckDB value oracle; the cell cover is padded 1% since the
    envelope prefilter is geodesic and sphere/ellipsoid distances can
    differ by up to ~0.6%, over-coverage being harmless)."""
    res = cells.res_for_edge_m(max(eps_m, 1.0) * 2)
    # localCheckpoint, not .cache(): pts/edges feed 3+ branches of the
    # RETURNED lazy plan, so an unpersist() before the caller executes
    # would defeat the reuse and a cache entry would leak for the
    # session — checkpoint blocks are GC-reclaimed with the DataFrame
    pts = points.select(id_col, "lat", "lon").localCheckpoint(eager=True)
    cover_m = eps_m * 1.01 if metric == "haversine" else eps_m
    dist_fn = haversine_np if metric == "haversine" else geo.distance

    # 1. candidate pairs: points sharing a cell of the eps-cover
    def cover(pdf_iter):
        for pdf in pdf_iter:
            lat = pdf["lat"].to_numpy(np.float64)
            lon = pdf["lon"].to_numpy(np.float64)
            row, cell = cells.cover_radius(lat, lon, cover_m, res)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy()[row],
                "lat": lat[row], "lon": lon[row], "cell": cell})

    import pyspark.sql.types as T
    id_type = points.schema[id_col].dataType
    cov_schema = T.StructType([
        T.StructField(id_col, id_type), T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()), T.StructField("cell", T.LongType())])
    cov = pts.mapInPandas(cover, cov_schema)
    home = pts.mapInPandas(
        lambda it: (pd.DataFrame({
            id_col: p[id_col],
            "lat": p["lat"], "lon": p["lon"],
            "cell": cells.latlng_to_cell(p["lat"].to_numpy(), p["lon"].to_numpy(), res)})
            for p in it), cov_schema)

    cand = (cov.alias("l").join(home.alias("r"), "cell")
            .filter(F.col(f"l.{id_col}") != F.col(f"r.{id_col}"))
            .select(F.col(f"l.{id_col}").alias("a"), F.col("l.lat").alias("alat"),
                    F.col("l.lon").alias("alon"), F.col(f"r.{id_col}").alias("b"),
                    F.col("r.lat").alias("blat"), F.col("r.lon").alias("blon"))
            .dropDuplicates(["a", "b"]))

    def refine(pdf_iter):
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            d = dist_fn(pdf["alat"].to_numpy(), pdf["alon"].to_numpy(),
                        pdf["blat"].to_numpy(), pdf["blon"].to_numpy())
            keep = d <= eps_m
            yield pdf.loc[keep, ["a", "b"]]

    edge_schema = T.StructType([T.StructField("a", id_type), T.StructField("b", id_type)])
    edges = cand.mapInPandas(refine, edge_schema).localCheckpoint(eager=True)

    # 2. core points
    deg = edges.groupBy("a").agg(F.count("*").alias("nbrs"))
    core = (pts.join(deg, pts[id_col] == deg["a"], "left")
            .select(F.col(id_col),
                    (F.coalesce(F.col("nbrs"), F.lit(0)) + 1 >= min_pts).alias("is_core")))

    # 3. components of the core-core subgraph via large-star/small-star
    # (graphx.components_star_nodes — O(log^2 n) rounds instead of the
    # O(diameter) min-label propagation this used to run: at sf0.01 the
    # chain-shaped clusters took ~25 rounds x 2 blocking jobs each)
    from .. import graphx
    core_ids = core.filter("is_core").select(F.col(id_col).alias("node"))
    # no .cache() here: components_star_nodes localCheckpoints its
    # symmetrized copy immediately, so a cache entry would be consumed
    # once and then leak for the session (cache entries are never
    # auto-unpersisted — the exact leak the localCheckpoint pattern in
    # graphx avoids)
    cc_edges = (edges.join(core_ids.withColumnRenamed("node", "a"), "a")
                .join(core_ids.withColumnRenamed("node", "b"), "b")
                .select("a", "b"))
    star = graphx.components_star_nodes(cc_edges, max_rounds)
    # isolated cores (no core-core edge) and component roots label
    # themselves (components_star_nodes omits roots by construction)
    labels = (core_ids.join(star.withColumnRenamed("vtx", "node"),
                            "node", "left")
              .select("node", F.coalesce("label", "node").alias("label")))

    # 4. border points: min label among core neighbors
    core_lbl = labels.withColumnRenamed("node", "cid").withColumnRenamed("label", "cluster_id")
    border = (edges.join(core_lbl, edges["b"] == core_lbl["cid"])
              .groupBy("a").agg(F.min("cluster_id").alias("border_label")))
    out = (pts.select(id_col)
           .join(core_lbl.withColumnRenamed("cid", id_col), id_col, "left")
           .join(border.withColumnRenamed("a", id_col), id_col, "left")
           .select(F.col(id_col),
                   F.coalesce("cluster_id", "border_label").alias("cluster_id")))
    return out


def dbcan_1d_core(values: DataFrame, eps: float, min_pts: int,
                  value_col="value", id_col="id",
                  n_buckets: int | None = None,
                  materialize: str = "local", ckpt_runner=None,
                  stage_prefix: str = "") -> DataFrame:
    """Exact-DBSCAN 1-D clustering (the reference's DBCAN semantics,
    analysis/DBCAN.java:48-100): an element is *core* iff >= min_pts
    elements (incl. itself, with multiplicity) lie within [v-eps, v+eps];
    clusters are maximal chains of core elements with consecutive core
    gap <= eps; non-core elements within eps of a core join the cluster
    of the nearest core (tie -> the lower/left core — a deterministic
    rule replacing Java's HashSet iteration order). Noise -> NULL.

    Scale shape: quantile range-buckets (boundaries >= 2*eps apart) +
    PARTITIONED windows. Rows within eps of a boundary are replicated
    into the adjacent bucket ("ghosts") so the eps-range neighbor count
    and the nearest-core border attachment see exactly the global
    neighborhood; core chains cut by a boundary are re-merged by
    stitching B bucket summaries on the driver (metadata, not row
    data). Identical results to dbcan_1d_core_global — proven by
    boundary-straddling equality tests."""
    if n_buckets is None:
        n_buckets = _default_buckets(values)
    bounds = _bucket_boundaries(values, value_col, eps, n_buckets)
    if not bounds:
        return dbcan_1d_core_global(values, eps, min_pts, value_col, id_col)
    return _dbcan_1d_core_bucketed(values, eps, min_pts, value_col, id_col,
                                   bounds, materialize, ckpt_runner,
                                   stage_prefix)


def _dbcan_1d_core_bucketed(values: DataFrame, eps: float, min_pts: int,
                            value_col: str, id_col: str,
                            bounds: list[float],
                            materialize: str = "local",
                            ckpt_runner=None,
                            stage_prefix: str = "") -> DataFrame:
    spark = values.sparkSession
    nb = len(bounds)

    base = values.select(id_col, value_col).withColumn(
        "_bkt", _bucket_expr(value_col, bounds))

    # ghost replication: a row within eps of its bucket's lower/upper
    # boundary is visible to the adjacent bucket's eps-range windows.
    # Boundaries are >= 2*eps apart, so one hop suffices.
    #
    # The gate thresholds MUST be computed in the same IEEE op order as
    # the consumers they feed — the RANGE frame evaluates `v - eps` /
    # `v + eps` on the home value, NOT `boundary - value`.  (The old
    # form `high_b - value <= eps` dropped donors sitting exactly eps
    # below a boundary: fl(1.56-1.55)=0.010000000000000231 > 0.01 while
    # the frame's fl(1.56-0.01)=1.5499999999999998 <= 1.55 — the
    # round-2 red dbcan_core_events row.)  Thresholds are additionally
    # widened by one ulp (nextafter) so the gate is at-least-as-
    # permissive as every home row's frame bound for ANY v >= boundary;
    # over-replication is harmless because ghosts only enter counts /
    # attachment through the exact same comparisons the global
    # computation uses.
    thr_up = [float(np.nextafter(np.float64(b) - np.float64(eps), -np.inf))
              for b in bounds]
    thr_dn = [float(np.nextafter(np.float64(b) + np.float64(eps), np.inf))
              for b in bounds]
    arr_up = F.array(*[F.lit(t) for t in thr_up])
    arr_dn = F.array(*[F.lit(t) for t in thr_dn])
    ghost_down = (F.col("_bkt") >= 1) & \
        (F.col(value_col) <= F.element_at(arr_dn, F.col("_bkt")))
    ghost_up = (F.col("_bkt") <= nb - 1) & \
        (F.col(value_col) >= F.element_at(arr_up, F.col("_bkt") + 1))

    def with_ghosts(df):
        home = df.withColumn("_ghost", F.lit(False))
        down = (df.filter(ghost_down)
                .withColumn("_bkt", F.col("_bkt") - 1)
                .withColumn("_ghost", F.lit(True)))
        up = (df.filter(ghost_up)
              .withColumn("_bkt", F.col("_bkt") + 1)
              .withColumn("_ghost", F.lit(True)))
        return home.unionByName(down).unionByName(up)

    # phase A: exact core flags for home rows (ghosts complete the
    # eps-neighborhood counts at bucket edges)
    d = (with_ghosts(base)
         .withColumn("n_eps", F.expr(
             f"count(*) OVER (PARTITION BY _bkt ORDER BY {value_col} "
             f"RANGE BETWEEN {eps!r} PRECEDING AND {eps!r} FOLLOWING)"))
         .filter(~F.col("_ghost"))
         .withColumn("is_core", F.col("n_eps") >= min_pts)
         .drop("n_eps", "_ghost"))

    # phase B1: per-bucket core-chain segmentation over home rows
    wo = Window.partitionBy("_bkt").orderBy(value_col, id_col)
    core_val = F.when(F.col("is_core"), F.col(value_col))
    seg = (d.withColumn("prev_core", F.last(core_val, ignorenulls=True).over(
               wo.rowsBetween(Window.unboundedPreceding, -1)))
           .withColumn("core_break",
                       F.when(F.col("is_core") &
                              (F.col("prev_core").isNull() |
                               (F.col(value_col) - F.col("prev_core") > eps)),
                              1).otherwise(0))
           .withColumn("core_seq", F.sum("core_break").over(
               wo.rowsBetween(Window.unboundedPreceding, 0))))
    # local: localCheckpoint (GC-reclaimed, no cache leak);
    # reliable: resumable parquet commit for cluster fault tolerance
    from .. import ckpt as CK
    seg = CK.materialize(seg, materialize, ckpt_runner,
                         f"{stage_prefix}dbcan_core_seg")

    summ = seg.groupBy("_bkt").agg(
        F.min(core_val).alias("fc"), F.max(core_val).alias("lc"),
        F.max(F.when(F.col("is_core"), F.col("core_seq"))).alias("ls")
    ).collect()

    # driver stitch: first local core chain of a bucket joins the last
    # core chain of the previous core-bearing bucket iff the core gap
    # <= eps (chains propagate through single-chain buckets)
    merge: dict[tuple, tuple] = {}
    prev = None   # (bkt, last_core_val, last_seq)
    for r in sorted(summ, key=lambda r: r["_bkt"]):
        if r["fc"] is None:
            continue
        if prev is not None and r["fc"] - prev[1] <= eps:
            pkey = (prev[0], prev[2])
            merge[(r["_bkt"], 1)] = merge.get(pkey, pkey)
        prev = (r["_bkt"], r["lc"], r["ls"])

    # phase B2: border attachment — nearest core within eps on either
    # side (ghost cores carry their HOME chain key across boundaries)
    segk = (seg.withColumn("_ck_b", F.when(F.col("is_core"), F.col("_bkt")))
            .withColumn("_ck_s", F.when(F.col("is_core"), F.col("core_seq"))))
    att = with_ghosts(segk.select(id_col, value_col, "_bkt", "is_core",
                                  "_ck_b", "_ck_s"))
    wo2 = Window.partitionBy("_bkt").orderBy(value_col, id_col)
    prevf = wo2.rowsBetween(Window.unboundedPreceding, -1)
    nextf = wo2.rowsBetween(1, Window.unboundedFollowing)
    cval = F.when(F.col("is_core"), F.col(value_col))
    att = (att
           .withColumn("lc_val", F.last(cval, ignorenulls=True).over(prevf))
           .withColumn("lc_b", F.last(F.when(F.col("is_core"), F.col("_ck_b")),
                                      ignorenulls=True).over(prevf))
           .withColumn("lc_s", F.last(F.when(F.col("is_core"), F.col("_ck_s")),
                                      ignorenulls=True).over(prevf))
           .withColumn("rc_val", F.first(cval, ignorenulls=True).over(nextf))
           .withColumn("rc_b", F.first(F.when(F.col("is_core"), F.col("_ck_b")),
                                       ignorenulls=True).over(nextf))
           .withColumn("rc_s", F.first(F.when(F.col("is_core"), F.col("_ck_s")),
                                       ignorenulls=True).over(nextf))
           .filter(~F.col("_ghost")))
    ld = F.col(value_col) - F.col("lc_val")
    rd = F.col("rc_val") - F.col(value_col)
    take_left = (ld <= eps) & ((rd > eps) | F.col("rc_val").isNull()
                               | (ld <= rd))
    out = att.select(
        id_col, value_col, "is_core",
        F.when(F.col("is_core"), F.col("_ck_b"))
         .when(take_left, F.col("lc_b"))
         .when(rd <= eps, F.col("rc_b")).alias("kb"),
        F.when(F.col("is_core"), F.col("_ck_s"))
         .when(take_left, F.col("lc_s"))
         .when(rd <= eps, F.col("rc_s")).alias("ks"))

    # remap stitched chain keys, then label = min id among the chain's
    # core members (partitioned agg join — no global window)
    if merge:
        mrows = [(int(b), int(s), int(rb), int(rs))
                 for (b, s), (rb, rs) in merge.items()]
        mdf = spark.createDataFrame(
            mrows, "kb INT, ks BIGINT, _rb INT, _rs BIGINT")
        out = out.join(F.broadcast(mdf), ["kb", "ks"], "left")
    else:
        out = out.withColumn("_rb", F.lit(None).cast("int")) \
                 .withColumn("_rs", F.lit(None).cast("bigint"))
    out = (out.withColumn("_gb", F.coalesce("_rb", "kb"))
           .withColumn("_gs", F.coalesce("_rs", "ks")))
    lbl = (out.filter("is_core").groupBy("_gb", "_gs")
           .agg(F.min(id_col).alias("cluster_id")))
    return (out.join(lbl, ["_gb", "_gs"], "left")
            .select(id_col, value_col, "cluster_id"))


def dbcan_1d_core_global(values: DataFrame, eps: float, min_pts: int,
                         value_col="value", id_col="id") -> DataFrame:
    """Single-window exact-DBSCAN 1-D clustering — the oracle-shaped
    reference path (global ORDER BY == one task; use dbcan_1d_core for
    real data).

    Pure window functions (RANGE frames), no UDF — so it has an exact
    DuckDB oracle twin (dbcan_1d_core_oracle_sql).
    """
    # fractional RANGE frame: PySpark's rangeBetween only takes ints, so
    # the eps-neighbor count goes through the SQL window expression
    wo = Window.orderBy(value_col, id_col)
    d = (values
         .withColumn("n_eps", F.expr(
             f"count(*) OVER (ORDER BY {value_col} RANGE BETWEEN {eps!r} "
             f"PRECEDING AND {eps!r} FOLLOWING)"))
         .withColumn("is_core", F.col("n_eps") >= min_pts))
    # cluster segmentation over cores: running count of core-gap breaks
    core_val = F.when(F.col("is_core"), F.col(value_col))
    d = d.withColumn("prev_core", F.last(core_val, ignorenulls=True).over(
        wo.rowsBetween(Window.unboundedPreceding, -1)))
    d = d.withColumn(
        "core_break",
        F.when(F.col("is_core") &
               (F.col("prev_core").isNull() |
                (F.col(value_col) - F.col("prev_core") > eps)), 1).otherwise(0))
    d = d.withColumn("core_seq", F.sum("core_break").over(
        wo.rowsBetween(Window.unboundedPreceding, 0)))
    # cluster id = min element id among the cluster's core members
    wc = Window.partitionBy("core_seq")
    d = d.withColumn("core_cluster",
                     F.when(F.col("is_core"),
                            F.min(F.when(F.col("is_core"), F.col(id_col))).over(wc)))
    # border attachment: nearest core left/right within eps; tie -> left
    d = d.withColumn("lc_val", F.last(core_val, ignorenulls=True).over(
        wo.rowsBetween(Window.unboundedPreceding, -1)))
    d = d.withColumn("lc_lbl", F.last(F.when(F.col("is_core"), F.col("core_cluster")),
                                      ignorenulls=True).over(
        wo.rowsBetween(Window.unboundedPreceding, -1)))
    d = d.withColumn("rc_val", F.first(core_val, ignorenulls=True).over(
        wo.rowsBetween(1, Window.unboundedFollowing)))
    d = d.withColumn("rc_lbl", F.first(F.when(F.col("is_core"), F.col("core_cluster")),
                                       ignorenulls=True).over(
        wo.rowsBetween(1, Window.unboundedFollowing)))
    ld = F.col(value_col) - F.col("lc_val")
    rd = F.col("rc_val") - F.col(value_col)
    border = (F.when((ld <= eps) & ((rd > eps) | F.col("rc_val").isNull()
                                    | (ld <= rd)), F.col("lc_lbl"))
              .when(rd <= eps, F.col("rc_lbl")))
    return d.select(
        id_col, value_col,
        F.when(F.col("is_core"), F.col("core_cluster")).otherwise(border)
        .alias("cluster_id"))


def dbcan_1d_core_oracle_sql(table: str, eps: float, min_pts: int,
                             value_col="value", id_col="id") -> str:
    """DuckDB twin of dbcan_1d_core (same window algebra)."""
    e = f"{eps!r}e0"
    return f"""
        WITH b AS (
            SELECT {id_col} AS id, {value_col} AS value,
                   count(*) OVER (ORDER BY {value_col}
                       RANGE BETWEEN {e} PRECEDING AND {e} FOLLOWING)
                       >= {min_pts} AS is_core
            FROM {table}
        ), s AS (
            SELECT id, value, is_core,
                   last_value(CASE WHEN is_core THEN value END IGNORE NULLS) OVER
                       (ORDER BY value, id ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS prev_core
            FROM b
        ), g AS (
            SELECT *, sum(CASE WHEN is_core AND (prev_core IS NULL
                          OR value - prev_core > {e}) THEN 1 ELSE 0 END) OVER
                       (ORDER BY value, id ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS core_seq
            FROM s
        ), c AS (
            SELECT *, CASE WHEN is_core THEN
                       min(CASE WHEN is_core THEN id END) OVER
                           (PARTITION BY core_seq) END AS core_cluster
            FROM g
        ), n AS (
            SELECT *,
                   last_value(CASE WHEN is_core THEN value END IGNORE NULLS) OVER
                       (ORDER BY value, id ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS lc_val,
                   last_value(CASE WHEN is_core THEN core_cluster END IGNORE NULLS) OVER
                       (ORDER BY value, id ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS lc_lbl,
                   first_value(CASE WHEN is_core THEN value END IGNORE NULLS) OVER
                       (ORDER BY value, id ROWS BETWEEN 1 FOLLOWING
                        AND UNBOUNDED FOLLOWING) AS rc_val,
                   first_value(CASE WHEN is_core THEN core_cluster END IGNORE NULLS) OVER
                       (ORDER BY value, id ROWS BETWEEN 1 FOLLOWING
                        AND UNBOUNDED FOLLOWING) AS rc_lbl
            FROM c
        )
        SELECT id, value,
               CASE WHEN is_core THEN core_cluster
                    WHEN value - lc_val <= {e} AND (rc_val IS NULL
                         OR rc_val - value > {e} OR value - lc_val <= rc_val - value)
                         THEN lc_lbl
                    WHEN rc_val - value <= {e} THEN rc_lbl
               END AS cluster_id
        FROM n
    """


# ---------------------------------------------------------------------------
# DBRCAN numpy kernels: exact cluster / bounds / log-density function
# (semantics of analysis/DBRCAN.java:303-477; used per-group via
# applyInPandas — the per-partition kernel pattern, no per-row Python)
# ---------------------------------------------------------------------------

_EPS10 = 1e-10


def _eps_round(v: float) -> float:
    # DBRCAN.epsilonRound (DBRCAN.java:89-95)
    f = math.floor(v)
    return f + round((v - f) * 1e10) / 1e10


def _ring_cluster(values: np.ndarray, modulo: float, eps: float,
                  minimum: int) -> list[np.ndarray]:
    """Exact DBCAN over the residue ring (DBRCAN.cluster,
    DBRCAN.java:303-307 + DBCAN.java:48-100): returns clusters as arrays
    of ORIGINAL values (multiplicity kept). Vectorized neighbor counts
    via sorted residues + searchsorted; seed expansion over unique
    residues (cores chain when ring-gap <= eps)."""
    if len(values) == 0:
        return []
    resid = np.mod(np.mod(values, modulo) + modulo, modulo)
    order = np.argsort(resid, kind="stable")
    rs = resid[order]
    uniq, inv, counts = np.unique(np.round(rs, 12), return_inverse=True,
                                  return_counts=True)
    m = len(uniq)
    # neighbor count within ring distance eps (inclusive, eps-tolerant)
    tol = eps + _EPS10
    ext = np.concatenate([uniq, uniq + modulo, uniq + 2 * modulo])
    cext = np.concatenate([counts, counts, counts])
    cum = np.concatenate([[0], np.cumsum(cext)])
    lo = np.searchsorted(ext, uniq + modulo - tol, side="left")
    hi = np.searchsorted(ext, uniq + modulo + tol, side="right")
    n_eps = cum[hi] - cum[lo]
    core = n_eps >= minimum
    if not core.any():
        return []
    # segment cores into chains: ring-gap between consecutive cores
    core_idx = np.flatnonzero(core)
    cu = uniq[core_idx]
    gaps = np.diff(cu)
    breaks = np.flatnonzero(gaps > tol) + 1
    chains = np.split(np.arange(len(core_idx)), breaks)
    # wrap: if first and last core chain connect around the ring, merge
    if len(chains) > 1 and (cu[0] + modulo - cu[-1]) <= tol:
        chains[0] = np.concatenate([chains[-1], chains[0]])
        chains = chains[:-1]
    label = np.full(m, -1, dtype=np.int64)
    for ci, chain in enumerate(chains):
        label[core_idx[chain]] = ci
    # borders: non-core within eps of a core -> nearest core (tie: lower
    # residue; deterministic replacement for Java iteration order)
    non_core = np.flatnonzero(~core)
    if len(non_core) and len(core_idx):
        cu_ext = np.concatenate([cu, cu + modulo, cu + 2 * modulo])
        lbl_ext = np.concatenate([label[core_idx]] * 3)
        pos = np.searchsorted(cu_ext, uniq[non_core] + modulo)
        left = np.clip(pos - 1, 0, len(cu_ext) - 1)
        right = np.clip(pos, 0, len(cu_ext) - 1)
        dl = uniq[non_core] + modulo - cu_ext[left]
        dr = cu_ext[right] - (uniq[non_core] + modulo)
        use_left = (dl <= tol) & ((dr > tol) | (dl <= dr))
        use_right = (~use_left) & (dr <= tol)
        label[non_core[use_left]] = lbl_ext[left[use_left]]
        label[non_core[use_right]] = lbl_ext[right[use_right]]
    out = []
    row_label = label[inv]          # per sorted element
    orig = values[order]
    for ci in range(len(chains)):
        out.append(orig[row_label == ci])
    return out


def dbrcan_bounds(cluster_values, modulo: float, eps: float,
                  buffer: float = 0.0):
    """Left/right border of a ring density cluster (DBRCAN.bounds,
    DBRCAN.java:331-367): the maximal internal ring-gap > eps defines
    the cut; bounds = (right_of_gap - buffer, left_of_gap + buffer),
    eps-rounded. Returns None when no gap > eps exists (cluster covers
    the whole ring)."""
    vals = np.asarray(cluster_values, dtype=np.float64)
    resid = np.unique(np.round(np.mod(np.mod(vals, modulo) + modulo, modulo), 12))
    if len(resid) == 1:
        v = resid[0]
        return (_eps_round((v - buffer) % modulo), _eps_round((v + buffer) % modulo))
    gaps = np.diff(resid)
    wrap = resid[0] + modulo - resid[-1]
    all_gaps = np.concatenate([[wrap], gaps])   # gap[i] = dist(prev, resid[i])
    best, left, right = None, None, None
    for i in range(len(resid)):
        d = all_gaps[i]
        prev = resid[-1] if i == 0 else resid[i - 1]
        if (best is None or d - best >= _EPS10) and (d - eps >= _EPS10):
            best, left, right = d, prev, resid[i]
    if left is None:
        return None
    return (_eps_round((right - buffer) % modulo), _eps_round((left + buffer) % modulo))


def dbrcan_function(values, modulo: float, eps: float, buffer: float = 0.0):
    """Log-scaled density step function over the residue ring
    (DBRCAN.function, DBRCAN.java:395-477): cluster at minimum =
    1,2,4,... until empty; each cluster contributes a step [start] =
    max(minimum) and [end] = min(minimum/2); ring-covering clusters
    raise the global floor. Returns [(x, minimum), ...] sorted by x
    (same tuple order as the reference)."""
    vals = np.asarray(values, dtype=np.float64)
    clusters = []
    minimum = 1
    while True:
        found = _ring_cluster(vals, modulo, eps, minimum)
        for c in found:
            clusters.append((c, minimum))
        if not found:
            break
        minimum *= 2
    starts: dict = {}
    ends: dict = {}
    floor = 0

    def _key(x):
        return round(x, 10)

    for cvals, mini in clusters:
        b = dbrcan_bounds(cvals, modulo, eps, buffer)
        if b is None:
            floor = mini
        else:
            s, e = b
            ks, ke = _key(s), _key(e)
            starts[ks] = max(starts.get(ks, mini), mini)
            ends[ke] = min(ends.get(ke, mini // 2), mini // 2)
    fn = [(k, max(floor, v)) for k, v in starts.items()]
    fn += [(k, max(floor, v)) for k, v in ends.items()
           if buffer == 0 or k not in starts]
    fn.sort(key=lambda t: (t[0], -t[1]))
    if not fn:
        fn = [(0.0, floor)]
    elif abs(fn[0][0]) >= _EPS10:
        fn.insert(0, (0.0, max(floor, fn[-1][1])))
    return fn


def dbrcan_function_df(values: DataFrame, modulo: float, eps: float,
                       buffer: float = 0.0, group_col="group_id",
                       value_col="value") -> DataFrame:
    """Distributed DBRCAN density functions: one step function per
    group key via applyInPandas (groups shuffle once on group_col; the
    kernel is the numpy hierarchy above). Returns
    (group_id, x, minimum)."""
    import pyspark.sql.types as T

    gtype = values.schema[group_col].dataType
    schema = T.StructType([
        T.StructField(group_col, gtype), T.StructField("x", T.DoubleType()),
        T.StructField("minimum", T.IntegerType())])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        fn = dbrcan_function(pdf[value_col].to_numpy(np.float64),
                             modulo, eps, buffer)
        return pd.DataFrame({
            group_col: [pdf[group_col].iloc[0]] * len(fn),
            "x": [x for x, _ in fn],
            "minimum": [m for _, m in fn]})

    return values.groupBy(group_col).applyInPandas(kernel, schema)


def dbrcan_mod(values: DataFrame, modulus: float, eps: float, min_pts: int,
               value_col="value", id_col="id",
               n_buckets: int | None = None) -> DataFrame:
    """Modular 1-D clustering (DBRCAN): residues on a ring of given
    modulus; clusters may wrap. Implemented with the rotate-at-largest-
    gap trick (SURVEY.md §2.6): shift all residues so the largest gap
    sits at the ring cut, then ordinary 1-D gap clustering; cluster ids
    reported as min original id.

    Scale shape: the cut search runs on PARTITIONED windows (per-bucket
    max gap) and ONE B-row summary collect combines in-bucket, boundary
    and wrap gaps on the driver; the clustering itself is the bucketed
    dbcan_1d."""
    resid = values.select(
        F.col(id_col), F.col(value_col),
        F.pmod(F.col(value_col), F.lit(modulus)).alias("residue"))
    if n_buckets is None:
        n_buckets = _default_buckets(values)
    bounds = _bucket_boundaries(resid, "residue", eps, n_buckets)
    bkt = _bucket_expr("residue", bounds) if bounds else F.lit(0)
    rb = resid.withColumn("_bkt", bkt)
    w = Window.partitionBy("_bkt").orderBy("residue", id_col)
    gaps = rb.withColumn("gap", F.col("residue") - F.lag("residue").over(w))
    summ = gaps.groupBy("_bkt").agg(
        F.min("residue").alias("lo"), F.max("residue").alias("hi"),
        F.max(F.when(F.col("gap").isNotNull(),
                     F.struct(F.col("gap").alias("g"),
                              (-F.col("residue")).alias("nr")))).alias("mx")
    ).collect()

    summ = sorted(summ, key=lambda r: r["_bkt"])
    best = None          # (gap, right-endpoint residue); tie -> smaller residue
    prev_hi = None
    for r in summ:
        if prev_hi is not None:
            g = r["lo"] - prev_hi
            if best is None or (g, -r["lo"]) > (best[0], -best[1]):
                best = (g, r["lo"])
        if r["mx"] is not None:
            g, rres = r["mx"]["g"], -r["mx"]["nr"]
            if best is None or (g, -rres) > (best[0], -best[1]):
                best = (g, rres)
        prev_hi = r["hi"]
    lo_all = min(r["lo"] for r in summ) if summ else 0.0
    hi_all = max(r["hi"] for r in summ) if summ else 0.0
    wrap_gap = lo_all + modulus - hi_all
    cut = lo_all if (best is None or wrap_gap >= best[0]) else best[1]
    rotated = resid.withColumn(
        "rot", F.pmod(F.col("residue") - F.lit(float(cut)), F.lit(modulus)))
    clustered = dbcan_1d(rotated.select(id_col, F.col("rot").alias("value")),
                         eps, min_pts, value_col="value", id_col=id_col)
    return (clustered.withColumnRenamed("value", "rotated_residue")
            .join(resid.select(id_col, "residue"), id_col))
