"""The benchmark's workloads. BENCHMARK.json runs ``match`` and
``probe``; ``pyramid`` stays runnable by hand (README.md says why the
driver's runs leave it out).

Each workload makes its inputs from the seed (outside every timed
region), loads them into Spark as a cached DataFrame, runs its pipeline
through the engine's public DataFrame operators, reduces the collected
output to a digest, and checks the output against an oracle that does
not share the code path under test. ``resume`` re-runs the pipeline
through ``ckpt.StageRunner`` against a committed directory. ``pyramid``
commits in every timed repetition; ``match`` commits the rows a
timed repetition collected; ``probe`` computes its pipeline once more
into the directory, which is cheaper than sending its collected Arrow
tables back to the JVM.

Why these (see README.md): ``match`` is kernel-bound Python that
bypasses the Arrow pipe, ``probe`` is bound by the pipe and the index
refine and does no routing, and ``pyramid`` is the shuffle and
checkpoint write path with no Python UDF at all, so a Python-side change
should predict no change on it.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pyarrow as pa

from barefoot_spark import cells, ckpt, geo, roads
from barefoot_spark.index import RoadIndex
from barefoot_spark.operators import joins as J, match as M, tiles as T
from barefoot_spark.sources import images as IM, samples as SS

GRID_N = 24          # 24 x 24 street grid, 1,200 road segments
INDEX_RES = 16
RADIUS_M = 100.0
ARROW_BATCH = 65536  # spark.sql.execution.arrow.maxRecordsPerBatch


def _digest_rows(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


def _row_tuple(row) -> tuple:
    return tuple(tuple(v) if isinstance(v, list) else v for v in row)


class Workload:
    name = ""
    stages: tuple = ()
    run_commits = False   # whether run() already commits a checkpoint
    # resumes: untimed ones that warm the read path, then timed ones; fixed
    # counts, so that a slower host does not also run a colder JVM
    resume_warmup, resume_reps = 15, 15

    def __init__(self, scale: float):
        self.scale = scale

    def roads_pdf(self, seed: int):
        return roads.grid_pdf(GRID_N, seed=seed)

    def load(self, spark, raw):
        df = spark.createDataFrame(self.table(raw)).cache()
        df.count()
        return df

    def _staged(self, ctx, ckpt_dir: str, sources):
        """``run_stage`` per stage: reads a committed stage back, else
        commits ``sources[stage]``."""
        runner = ckpt.StageRunner(ctx.spark, ckpt_dir)
        return self.collect([runner.run_stage(s, sources[s]) for s in self.stages])

    def commit(self, ctx, ckpt_dir: str, out):
        self._staged(ctx, ckpt_dir, self.output_frames(ctx, out))

    def resume(self, ctx, ckpt_dir: str):
        return self._staged(ctx, ckpt_dir, self.stage_builds(ctx))


class Match(Workload):
    """``match.match_traces`` over seeded ``samples.synth_traces``."""
    name = "match"
    stages = ("match",)
    FLOAT_FIELDS = {5, 6, 7, 8, 10, 11, 12}   # MATCH_SCHEMA doubles

    def make_inputs(self, seed: int):
        roads_pdf = self.roads_pdf(seed)
        traces = SS.synth_traces(RoadIndex(roads_pdf, res=INDEX_RES),
                                 n_traces=max(2, round(50 * self.scale)),
                                 samples_per_trace=60, seed=seed)
        return roads_pdf, traces

    def warmup(self, ctx, ckpt_dir):
        traces = ctx.raw
        small = traces[traces["trace_id"].isin(traces["trace_id"].unique()[:2])]
        M.match_traces(ctx.spark.createDataFrame(small), ctx.bc).collect()

    def table(self, traces):
        return pa.Table.from_pandas(traces, preserve_index=False)

    def stage_builds(self, ctx):
        return {"match": lambda: M.match_traces(ctx.data, ctx.bc)}

    def output_frames(self, ctx, out):
        return {"match": ctx.spark.createDataFrame(out, M.MATCH_SCHEMA)}

    def run(self, ctx, ckpt_dir):
        return self.collect([M.match_traces(ctx.data, ctx.bc)])

    def collect(self, dfs):
        return [_row_tuple(r) for r in dfs[0].collect()]

    def digest(self, out) -> str:
        return _digest_rows(out)

    def replay(self, ctx, tracer=None):
        """In-process ``match_trace`` over every trace, sharing one route
        cache as the Spark kernel shares it within its one partition.
        Returns (rows, counters)."""
        rows, cache = [], {}
        params = M.MatcherParams()
        for n, (tid, g) in enumerate(ctx.raw.groupby("trace_id", sort=True)):
            args = (ctx.idx, tid, g["sample_id"].to_numpy(),
                    g["time"].to_numpy(np.int64), g["lat"].to_numpy(np.float64),
                    g["lon"].to_numpy(np.float64),
                    g["azimuth"].to_numpy(np.float64), params)
            if tracer is None:
                rows.extend(M.match_trace(*args, route_cache=cache))
            else:
                with tracer.span("match.match_trace", trace_id=n):
                    rows.extend(M.match_trace(*args, route_cache=cache))
        return rows, {"match.route_cache_entries": len(cache)}

    def check(self, ctx, out):
        """Spark rows equal the in-process replay row for row: discrete
        fields exactly, doubles to 1e-9 relative (the shared route cache
        may see traces in another order, and the cached Dijkstra replay
        is only ulp-exact across cache states)."""
        got = sorted(out, key=lambda r: (r[0], r[1]))
        want = sorted(self.replay(ctx)[0], key=lambda r: (r[0], r[1]))
        if len(got) != len(want):
            return [f"match: {len(got)} Spark rows vs {len(want)} replayed"]
        for g, w in zip(got, want):
            for i, (a, b) in enumerate(zip(g, _row_tuple(w))):
                same = math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12) \
                    if i in self.FLOAT_FIELDS else a == b
                if not same:
                    return [f"match: row {g[:2]} field {i}: {a!r} != {b!r}"]
        return []


class Probe(Workload):
    """``tiles.assign_tiles`` then the exact ``joins.radius_join`` over
    seeded uniform points covering the grid."""
    name = "probe"
    resume_warmup, resume_reps = 5, 10
    stages = ("cells", "hits")

    def make_inputs(self, seed: int):
        n = max(1000, round(200_000 * self.scale))
        rng = np.random.default_rng(seed)
        span = GRID_N * 0.005
        pts = {"point_id": np.arange(n, dtype=np.int64),
               "lat": 48.0 - 0.002 + rng.random(n) * (span + 0.004),
               "lon": 11.0 - 0.002 + rng.random(n) * (span + 0.004)}
        return self.roads_pdf(seed), pts

    def table(self, pts):
        return pa.table(pts)

    def warmup(self, ctx, ckpt_dir):
        small = ctx.spark.createDataFrame(self.table(ctx.raw).slice(0, 10_000))
        self.collect(self.pipeline(small, ctx.bc))

    @staticmethod
    def tiles(data):
        return T.assign_tiles(data, res=15, parent_res=7).select("point_id", "cell", "cell_p7")

    def pipeline(self, data, bc):
        return [self.tiles(data), J.radius_join(data, bc, RADIUS_M)]

    def stage_builds(self, ctx):
        # callables: a resume skips building the plans, as run_stage
        # calls a build only for a stage with no committed output
        return {"cells": lambda: self.tiles(ctx.data),
                "hits": lambda: J.radius_join(ctx.data, ctx.bc, RADIUS_M)}

    def commit(self, ctx, ckpt_dir, out):
        # recomputing the pipeline into the directory takes half the time
        # of sending the collected Arrow tables back to the JVM
        self._staged(ctx, ckpt_dir, self.stage_builds(ctx))

    def run(self, ctx, ckpt_dir):
        return self.collect(self.pipeline(ctx.data, ctx.bc))

    def collect(self, dfs):
        return [df.toArrow() for df in dfs]

    @staticmethod
    def _sorted(out):
        tiles, hits = ({c: t.column(c).to_numpy() for c in t.column_names}
                       for t in out)
        o = np.argsort(tiles["point_id"], kind="stable")
        tiles = {c: v[o] for c, v in tiles.items()}
        o = np.lexsort((hits["edge_id"], hits["point_id"]))
        hits = {c: v[o] for c, v in hits.items()}
        return tiles, hits

    def digest(self, out) -> str:
        h = hashlib.sha256()
        for part in self._sorted(out):
            for c in sorted(part):
                h.update(np.ascontiguousarray(part[c]).tobytes())
        return h.hexdigest()

    def replay(self, ctx, tracer=None, batches=4):
        """``RoadIndex.radius`` + ``split`` over the first Arrow batches
        of the input, as ``radius_join`` calls them on an executor."""
        idx, pts = ctx.idx, ctx.raw
        for b in range(batches):
            s = slice(b * ARROW_BATCH, (b + 1) * ARROW_BATCH)
            lat, lon = pts["lat"][s], pts["lon"][s]
            if not len(lat):
                break
            if tracer is None:
                pt, base, frac, _d = idx.radius(lat, lon, RADIUS_M)
                idx.split(pt, base, frac)
                continue
            with tracer.span("probe.batch", trace_id=b):
                pt, base, frac, _d = idx.radius(lat, lon, RADIUS_M)
                idx.split(pt, base, frac)
        return None, {}

    def check(self, ctx, out):
        idx, pts = ctx.idx, ctx.raw
        fails = []
        tiles, hits = self._sorted(out)
        n = len(pts["point_id"])
        if not np.array_equal(tiles["point_id"], pts["point_id"]):
            return [f"probe: tile rows {len(tiles['point_id'])} != {n} points"]
        for col, res in (("cell", 15), ("cell_p7", 7)):
            want = cells.latlng_to_cell(pts["lat"], pts["lon"], res)
            bad = np.count_nonzero(tiles[col] != want)
            if bad:
                fails.append(f"probe: {bad} {col} values differ from the numpy oracle")

        rng = np.random.default_rng(ctx.seed + 1)
        # hits vs the in-process index on sampled points
        sample = np.sort(rng.choice(n, size=min(n, 2000), replace=False))
        pt, base, frac, dist = idx.radius(pts["lat"][sample], pts["lon"][sample], RADIUS_M)
        spt, eidx, sfrac, src = idx.split(pt, base, frac)
        want = np.stack([sample[spt].astype(np.float64),
                         idx.edge_id[eidx].astype(np.float64), sfrac, dist[src]])
        sel = np.isin(hits["point_id"], sample)
        got = np.stack([hits["point_id"][sel].astype(np.float64),
                        hits["edge_id"][sel].astype(np.float64),
                        hits["fraction"][sel], hits["distance"][sel]])
        want = want[:, np.lexsort((want[1], want[0]))]
        if got.shape != want.shape or not np.array_equal(got, want):
            fails.append(f"probe: hits of {len(sample)} sampled points differ "
                         f"from RoadIndex.radius+split ({got.shape[1]} vs {want.shape[1]})")

        # brute force: every point against every segment, no cell prefilter
        few = np.sort(rng.choice(n, size=min(n, 200), replace=False))
        nseg = len(idx.gid)
        p_of = np.repeat(np.arange(len(few)), nseg)
        b_of = np.tile(np.arange(nseg), len(few))
        bfrac, bdist = geo.polyline_intercept(
            idx.coords, idx.offsets, pts["lat"][few][p_of], pts["lon"][few][p_of],
            poly_for_point=b_of)
        near = bdist < RADIUS_M
        spt, eidx, _f, _s = idx.split(p_of[near], b_of[near], bfrac[near])
        want_pairs = set(zip(few[spt].tolist(), idx.edge_id[eidx].tolist()))
        sel = np.isin(hits["point_id"], few)
        got_pairs = set(zip(hits["point_id"][sel].tolist(), hits["edge_id"][sel].tolist()))
        if got_pairs != want_pairs:
            fails.append(f"probe: brute-force intercept finds {len(want_pairs)} "
                         f"pairs for {len(few)} points, the join {len(got_pairs)}")
        return fails


class Pyramid(Workload):
    """``tiles.tile_rollup_pyramid(mode="reliable")`` over seeded
    ``images.synth_geo_frames_pdf`` frames (one planted hot cell)."""
    name = "pyramid"
    LEVELS = (8, 4)

    def make_inputs(self, seed: int):
        frames = IM.synth_geo_frames_pdf(n_traj=max(5, round(200 * self.scale)),
                                         frames=64, seed=seed)
        return self.roads_pdf(seed), frames

    def table(self, frames):
        return pa.Table.from_pandas(frames, preserve_index=False)

    def warmup(self, ctx, ckpt_dir):
        small = ctx.spark.createDataFrame(ctx.raw.head(500))
        T.tile_rollup_pyramid(small, fine_res=8, coarse_levels=(), mode="reliable",
                              runner=ckpt.StageRunner(ctx.spark, ckpt_dir)).collect()

    def run(self, ctx, ckpt_dir):
        out = T.tile_rollup_pyramid(
            ctx.data, fine_res=self.LEVELS[0], coarse_levels=self.LEVELS[1:],
            salt_n=16, scene_bits=12, mode="reliable",
            runner=ckpt.StageRunner(ctx.spark, ckpt_dir))
        return [_row_tuple(r) for r in out.collect()]

    # each timed rep commits into a fresh directory; resume re-runs the
    # same call on a committed one
    resume = run
    run_commits = True
    resume_warmup, resume_reps = 1, 4

    def replay(self, ctx, tracer=None):
        """One more pipeline run into a fresh directory; with a tracer,
        its ``StageRunner.run_stage`` calls are the spans."""
        return self.run(ctx, ctx.new_dir()), {}

    def digest(self, out) -> str:
        return _digest_rows(out)

    def check(self, ctx, out):
        """Every level's n_frames sums to the input rows, and the levels
        equal a DuckDB GROUP BY on ``tiles.cell_expr_sql`` per level."""
        import duckdb

        from barefoot_spark.entry_queries import _scene_bucket_sql

        frames = ctx.raw
        fails = []
        for res in self.LEVELS:
            total = sum(r[2] for r in out if r[0] == res)
            if total != len(frames):
                fails.append(f"pyramid: level {res} n_frames sums to {total}, "
                             f"input has {len(frames)} rows")
        scene = _scene_bucket_sql(12)
        sql = " UNION ALL ".join(f"""
            SELECT {res}, {T.cell_expr_sql("lat", "lon", res)}, count(*),
                   count(DISTINCT traj_id), count(DISTINCT {scene}), min(t), max(t)
            FROM frames GROUP BY 2""" for res in self.LEVELS)
        con = duckdb.connect()
        try:
            con.register("frames", frames)
            want = sorted(tuple(int(v) for v in r) for r in con.execute(sql).fetchall())
        finally:
            con.close()
        if sorted(out) != want:
            fails.append(f"pyramid: {len(out)} rows differ from the DuckDB "
                         f"oracle's {len(want)}")
        return fails


WORKLOADS = {w.name: w for w in (Match, Probe, Pyramid)}
