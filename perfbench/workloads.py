"""The benchmark workloads: seeded inputs, the timed calls into the
engine's public API, and the checks on their outputs.

Each workload generates its inputs from ``--seed`` with numpy and writes
them as parquet directories; the engine only ever sees those files.  A
workload object exposes:

* ``input_rows``      rows of generated input (the base of ``rows_per_s``)
* ``iterate(...)``    one timed pass; returns the seconds the user waited
                      and one ``Op`` per checked public call
* ``layers(...)``     traced run only: per-layer metrics, from the traced
                      pass's spans and from extra calls on the same
                      inputs that isolate one layer each

Reference answers come from numpy brute force over the generated arrays,
never from the engine, except the point-in-polygon reference, which is the
closed-form floor rule of ``sources.layers.admin_assign_oracle_sql`` run
as plain Spark SQL (it shares no code with the ray-casting probe).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from spans import join_nodes, node_sum

#: the engine's distance metric: planar degrees x this factor (the FAGI
#: reference's own constant), with the longitude delta wrapped at +-180
DEG_TO_M = 111195.0
#: parquet part files per generated table: several files give the scan
#: parallelism a Spark-written table would have, independent of the host
PARTS = 8


@dataclass
class Op:
    """One checked public call: ``ok`` is False when it raised or its
    output failed the check; ``found``/``expected`` feed ``recall``."""

    name: str
    ok: bool
    detail: str = ""
    found: int = 0
    expected: int = 0


@dataclass
class Pass:
    """One timed pass of a workload."""

    wall_s: float
    ops: list[Op]
    extra: dict = field(default_factory=dict)


def write_parts(table: pa.Table, path: str, parts: int = PARTS) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(parts):
        lo, hi = n * i // parts, n * (i + 1) // parts
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))


def planar_dist_m(ax, ay, bx, by):
    """The engine's refine metric, evaluated in the same IEEE order."""
    dlon_abs = np.abs(ax - bx)
    dlon = np.minimum(dlon_abs, 360.0 - dlon_abs)
    dlat = ay - by
    return np.sqrt(dlon * dlon + dlat * dlat) * DEG_TO_M


def pairs_within(ax, ay, bx, by, radius_m, block=1024):
    """All (i, j) with planar_dist_m(a_i, b_j) <= radius_m, by a square
    grid of radius-sized cells (no lon wrap: inputs stay inside a 2x2
    degree window).  Returns two int64 index arrays."""
    cell = radius_m / DEG_TO_M * 1.0001
    bcx = np.floor(bx / cell).astype(np.int64)
    bcy = np.floor(by / cell).astype(np.int64)
    key = bcx * (1 << 32) + bcy
    order = np.argsort(key, kind="stable")
    skey = key[order]
    acx = np.floor(ax / cell).astype(np.int64)
    acy = np.floor(ay / cell).astype(np.int64)
    out_a, out_b = [], []
    for s in range(0, len(ax), block):
        e = min(s + block, len(ax))
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                k = (acx[s:e] + dx) * (1 << 32) + (acy[s:e] + dy)
                lo = np.searchsorted(skey, k, "left")
                hi = np.searchsorted(skey, k, "right")
                cnt = hi - lo
                tot = int(cnt.sum())
                if tot == 0:
                    continue
                ia = np.repeat(np.arange(s, e), cnt)
                starts = np.repeat(lo - np.concatenate(([0], np.cumsum(cnt)[:-1])), cnt)
                jb = order[starts + np.arange(tot)]
                keep = planar_dist_m(ax[ia], ay[ia], bx[jb], by[jb]) <= radius_m
                out_a.append(ia[keep])
                out_b.append(jb[keep])
    if not out_a:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(out_a), np.concatenate(out_b)


def _agg_row(df, key_cols, sample_col=None, sample_keys=None, sample_fields=None):
    """One action that forces the whole result and returns what the check
    needs: row count, two order-independent hashes over ``key_cols``, and
    (optionally) the rows whose ``sample_col`` is in ``sample_keys``."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in key_cols])
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(1 << 31))).alias("s"),
    ]
    if sample_col is not None:
        aggs.append(
            F.collect_list(
                F.when(
                    F.col(sample_col).isin(list(sample_keys)),
                    F.struct(*[F.col(c) for c in sample_fields]),
                )
            ).alias("sample")
        )
    return df.agg(*aggs).collect()[0]


def timed_noop(tracer, name: str, df):
    """Force ``df`` through the noop sink inside a span: (seconds, span)."""
    t0 = time.perf_counter()
    with tracer.span(name):
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, name


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def python_ms(stats: dict) -> float:
    return node_sum(stats, "time to run Python workers") * 1e3


def python_bytes(stats: dict) -> float:
    return (node_sum(stats, "data sent to Python workers")
            + node_sum(stats, "data returned from Python workers"))


#: per-layer metrics of the traced run, name -> unit.  README.md names the
#: end-to-end metric each should move.  A workload reports 0 for the
#: layers it never calls.
LAYER_METRICS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.derive_s": "s", "sources.rows": "count",
    "dedup_precedence.s": "s", "dedup_precedence.rows_dropped": "count",
    "index.tile_encode_s": "s", "index.hex_encode_s": "s", "index.s2_encode_s": "s",
    "index.s2_python_bytes": "bytes",
    "spatial_join.hot_detect_s": "s", "spatial_join.hot_detect_uniform_s": "s",
    "spatial_join.hot_cells": "count", "spatial_join.hot_row_share": "ratio",
    "spatial_join.probe_fanout": "ratio", "spatial_join.broadcast_build": "count",
    "spatial_join.broadcast_ms": "ms", "spatial_join.shuffle_bytes": "bytes",
    "spatial_join.candidates": "count", "spatial_join.refine_keep": "ratio",
    "spatial_join.task_skew": "ratio", "spatial_join.join_s.tile": "s",
    "spatial_join.join_s.hex": "s", "spatial_join.join_s.s2": "s", "spatial_join.knn_s": "s",
    "geometry.pip_s": "s", "geometry.pip_python_ms": "ms", "geometry.pip_rows_out": "count",
    "fusion.s": "s", "fusion.rows": "count",
    "tiling.s": "s", "tiling.rows_out": "count",
    "lineage.stage_s.ingest_a": "s", "lineage.stage_s.ingest_b": "s",
    "lineage.stage_s.conflate": "s", "lineage.stage_s.fuse": "s", "lineage.stage_s.tiles": "s",
    "lineage.bytes_written": "bytes", "lineage.resumed_stages": "count",
    "lineage.resume_read_s": "s",
    "dedup.signature_s": "s", "dedup.python_ms": "ms", "dedup.python_bytes": "bytes",
    "dedup.driver_collect_bytes": "bytes", "dedup.candidates": "count",
    "dedup.verify_keep": "ratio", "dedup.components_s": "s",
    "sideinput.bytes_written": "bytes", "sideinput.files": "count",
    "ann.topk_s": "s", "ann.broadcast_path": "count", "ann.python_ms": "ms",
    "spark.task_s": "s", "spark.cpu_util": "ratio", "spark.gc_s": "s",
    "spark.spill_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "trace.overhead_s": "s",
}


# ---------------------------------------------------------------------------
# the conflation pipeline (uniform layers)
# ---------------------------------------------------------------------------


class ConflatePipeline:
    """FAGI end to end: ingest -> 150 m conflate -> fuse keep_a -> z7-11
    tiles into an empty out dir, then the same call again over the
    completed dir, where every stage resumes.  The layers come from
    ``sources.layers`` over a seeded ``orders.parquet`` of distinct keys,
    so they are uniform and the hot-cell set is empty."""

    name = "conflate_pipeline"
    N_ORDERS = 6_000
    RADIUS_M = 150.0
    #: brute-force check window (lon0, lat0, lon1, lat1)
    WINDOW = (-0.2, 50.8, 0.2, 51.2)
    RESUMES = 1
    STAGES = ("ingest_a", "ingest_b", "conflate", "fuse", "tiles")

    def __init__(self, seed: int, root: str):
        rng = np.random.default_rng(seed)
        # distinct keys < 2^31 keep k * 2654435761 inside BIGINT
        keys = rng.choice(np.int64(2**31 - 2), self.N_ORDERS, replace=False).astype(np.int64) + 1
        self.sf_dir = os.path.join(root, "sf")
        write_parts(pa.table({"o_orderkey": keys}), os.path.join(self.sf_dir, "orders.parquet"))
        self.input_rows = int(keys.size)
        self.sizes = {"orders": self.input_rows}
        self._reference(keys)

    def _reference(self, k):
        """Links inside WINDOW by brute force over the closed-form layer
        coordinates of sources.layers (A at (hx, hy), B displaced)."""
        hx = (k * 2654435761) % 2000000
        hy = (k * 2246822519) % 2000000
        dx = ((k * 97 + 13) % 2001) - 1000
        dy = ((k * 57 + 7) % 2001) - 1000
        alon, alat = (hx - 1000000) / 1e6, 50.0 + hy / 1e6
        blon, blat = (hx - 1000000 + dx) / 1e6, 50.0 + (hy + dy) / 1e6
        x0, y0, x1, y1 = self.WINDOW
        m = 0.01
        ina = (alon >= x0) & (alon < x1) & (alat >= y0) & (alat < y1)
        inb = (blon >= x0 - m) & (blon < x1 + m) & (blat >= y0 - m) & (blat < y1 + m)
        ia, ib = pairs_within(alon[ina], alat[ina], blon[inb], blat[inb], self.RADIUS_M)
        ka, kb = k[ina][ia], k[inb][ib]
        self.ref_links = {(f"a:{a}", f"b:{b}") for a, b in zip(ka.tolist(), kb.tolist())}

    def _manifests(self, out_dir):
        out = {}
        for s in self.STAGES:
            with open(os.path.join(out_dir, s, "_MANIFEST.json")) as f:
                out[s] = json.load(f)
        return out

    def iterate(self, spark, tracer, scratch: str, first: bool) -> Pass:
        from pyspark.sql import functions as F

        from fagi_gis_spark.pipeline.runner import PipelineConfig, run_pipeline

        out_dir = os.path.join(scratch, "pipeline")
        cfg = PipelineConfig(sf_dir=self.sf_dir, out_dir=out_dir, radius_m=self.RADIUS_M)
        t_start = time.time()
        t0 = time.perf_counter()
        with tracer.span("pipeline.run_pipeline"):
            run_pipeline(spark, cfg)
        wall = time.perf_counter() - t0

        man = self._manifests(out_dir)
        rows = {s: man[s]["rows"] for s in self.STAGES}
        links = rows["conflate"]
        x0, y0, x1, y1 = self.WINDOW
        got = {
            (r.node_a, r.node_b)
            for r in spark.read.parquet(os.path.join(out_dir, "conflate", "data"))
            .filter((F.col("l_lon") >= x0) & (F.col("l_lon") < x1)
                    & (F.col("l_lat") >= y0) & (F.col("l_lat") < y1))
            .select("node_a", "node_b")
            .collect()
        }
        problems = []
        if got != self.ref_links:
            problems.append(f"window links {len(got)} != brute force {len(self.ref_links)}")
        if rows["fuse"] != links:
            problems.append(f"fused {rows['fuse']} != links {links}")
        if rows["tiles"] != 5 * links:
            problems.append(f"tiles {rows['tiles']} != 5 x links {links}")
        ops = [Op("run_pipeline", not problems, "; ".join(problems),
                  len(got & self.ref_links), len(self.ref_links))]

        resume_s, resumed = [], 0
        for i in range(self.RESUMES):
            t0 = time.perf_counter()
            with tracer.span("pipeline.resume"):
                res = run_pipeline(spark, cfg)
            resume_s.append(time.perf_counter() - t0)
            after = self._manifests(out_dir)
            kept = [s for s in self.STAGES if after[s] == man[s]]
            resumed = len(kept)
            problems = [f"stage {s} re-ran" for s in self.STAGES if s not in kept]
            if first and i == 0:
                counts = dict(zip(self.STAGES, (res[k].count() for k in
                                                ("poi_a", "poi_b", "links", "fused", "tiles"))))
                problems += [f"{s} resumed {counts[s]} rows != {rows[s]}"
                             for s in self.STAGES if counts[s] != rows[s]]
            ops.append(Op("resume", not problems, "; ".join(problems)))
        stage_s, prev = {}, t_start
        for s in self.STAGES:
            stage_s[s] = man[s]["committed_at"] - prev
            prev = man[s]["committed_at"]
        return Pass(wall, ops, {"call_s": {"run_pipeline": wall}, "resume_s": resume_s,
                                "resumed_stages": resumed, "stage_rows": rows,
                                "stage_s": stage_s, "out_dir": out_dir})

    def layers(self, spark, tracer, p: Pass):
        """Isolate the pipeline's layers with extra calls on the traced
        pass's own inputs and stage outputs."""
        from pyspark.sql import functions as F

        from fagi_gis_spark.operators.dedup_precedence import precedence_dedup
        from fagi_gis_spark.operators.fusion import fuse_all
        from fagi_gis_spark.operators.spatial_join import build_hot_cells
        from fagi_gis_spark.operators.tiling import assign_tiles
        from fagi_gis_spark.sources.layers import spark_layers

        out_dir, rows = p.extra["out_dir"], p.extra["stage_rows"]

        def stage(s):
            return spark.read.parquet(os.path.join(out_dir, s, "data"))

        m = {}
        layer = spark_layers(spark, self.sf_dir)
        t_a, span = timed_noop(tracer, "sources.spark_layers", layer["poi_a_raw"])
        t_b, _ = timed_noop(tracer, "sources.spark_layers", layer["poi_b"])
        raw = layer["poi_a_raw"].count()
        m["sources.derive_s"] = (t_a + t_b, span)
        m["sources.rows"] = (raw + layer["poi_b"].count(), span)
        m["dedup_precedence.s"] = timed_noop(tracer, "operators.precedence_dedup",
                                             precedence_dedup(layer["poi_a_raw"]))
        m["dedup_precedence.rows_dropped"] = (raw - rows["ingest_a"], "operators.precedence_dedup")
        name = "spatial_join.build_hot_cells.uniform"
        t0 = time.perf_counter()
        with tracer.span(name):
            build_hot_cells(stage("ingest_b"), self.RADIUS_M)
        m["spatial_join.hot_detect_uniform_s"] = (time.perf_counter() - t0, name)
        links = stage("conflate")
        m["fusion.s"] = timed_noop(tracer, "operators.fuse_all", fuse_all(
            links.select("node_a", "node_b"), stage("ingest_a"), stage("ingest_b"), "keep_a"))
        m["fusion.rows"] = (rows["fuse"], "operators.fuse_all")
        tiles_in = stage("fuse").join(
            links.select(F.col("node_a").alias("subject_a"), F.col("node_b").alias("subject_b"),
                         F.col("l_lon").alias("lon"), F.col("l_lat").alias("lat")),
            ["subject_a", "subject_b"], "inner")
        m["tiling.s"] = timed_noop(tracer, "operators.assign_tiles", assign_tiles(tiles_in))
        m["tiling.rows_out"] = (rows["tiles"], "operators.assign_tiles")
        for s in self.STAGES:
            m[f"lineage.stage_s.{s}"] = (p.extra["stage_s"][s], "pipeline.run_pipeline")
        m["lineage.bytes_written"] = (dir_size(out_dir)[0], "pipeline.run_pipeline")
        m["lineage.resumed_stages"] = (p.extra["resumed_stages"], "pipeline.resume")
        m["lineage.resume_read_s"] = (statistics.median(p.extra["resume_s"]), "pipeline.resume")
        return m, []


# ---------------------------------------------------------------------------
# the hot-spot queries (skewed layers)
# ---------------------------------------------------------------------------


class HotspotJoin:
    """Read-only spatial queries over two skewed POI layers.  The timed
    pass runs the square-tile radius join, whose hot cells engage
    salting, and point-in-polygon; the traced run adds the hex and S2
    joins and bounded kNN as calls of their own."""

    name = "hotspot_join"
    N_SIDE = 12_000
    CENTRES = 2
    HOT_SHARE = 0.12
    SIGMA_M = 70.0
    RADIUS_M = 150.0
    KNN_K, KNN_RADIUS_M = 3, 300.0
    SAMPLE = 200
    PAIR_KEYS = ["l_key", "r_key"]
    KNN_KEYS = ["l_key", "r_key", "knn_rank"]

    def __init__(self, seed: int, root: str):
        rng = np.random.default_rng(seed)
        cx = rng.uniform(-0.9, 0.9, self.CENTRES)
        cy = rng.uniform(50.1, 51.9, self.CENTRES)
        self.dirs = {}
        self.xy = {}
        for side in ("a", "b"):
            n_hot = int(self.N_SIDE * self.HOT_SHARE)
            c = rng.integers(0, self.CENTRES, n_hot)
            sd = self.SIGMA_M / DEG_TO_M
            lon = np.concatenate([cx[c] + rng.normal(0, sd, n_hot),
                                  rng.uniform(-1, 1, self.N_SIDE - n_hot)])
            lat = np.concatenate([cy[c] + rng.normal(0, sd, n_hot),
                                  rng.uniform(50, 52, self.N_SIDE - n_hot)])
            # micro-degree lattice, strictly inside the window: the admin
            # grid is offset half a micro-degree, so no point sits on an edge
            lon = np.clip(np.round(lon * 1e6), -999_999, 999_999) / 1e6
            lat = np.clip(np.round(lat * 1e6), 50_000_001, 51_999_999) / 1e6
            perm = rng.permutation(self.N_SIDE)
            lon, lat = lon[perm], lat[perm]
            subj = np.array([f"{side}:{i}" for i in range(self.N_SIDE)], dtype=object)
            self.dirs[side] = os.path.join(root, f"poi_{side}")
            write_parts(pa.table({"subject": subj, "lon": lon, "lat": lat}), self.dirs[side])
            self.xy[side] = (lon, lat)
        self.input_rows = 2 * self.N_SIDE
        self.sizes = {"poi_a": self.N_SIDE, "poi_b": self.N_SIDE, "centres": self.CENTRES}
        self.sample = rng.choice(self.N_SIDE, self.SAMPLE, replace=False)
        self.sample_keys = [f"a:{i}" for i in self.sample.tolist()]
        self._reference()
        self.pip_ref = None

    def _reference(self):
        (alon, alat), (blon, blat) = self.xy["a"], self.xy["b"]
        sx, sy = alon[self.sample], alat[self.sample]
        self.ref_pairs = set()
        self.ref_knn = set()
        for i, x, y in zip(self.sample.tolist(), sx, sy):
            d = planar_dist_m(np.full(blon.size, x), np.full(blon.size, y), blon, blat)
            near = np.nonzero(d <= self.RADIUS_M)[0]
            self.ref_pairs.update((f"a:{i}", f"b:{j}") for j in near.tolist())
            cand = np.nonzero(d <= self.KNN_RADIUS_M)[0]
            ranked = sorted(((d[j], f"b:{j}") for j in cand.tolist()))[: self.KNN_K]
            self.ref_knn.update((f"a:{i}", r, rank + 1) for rank, (_, r) in enumerate(ranked))

    def frames(self, spark):
        return spark.read.parquet(self.dirs["a"]), spark.read.parquet(self.dirs["b"])

    def _pip_reference(self, spark, a):
        from fagi_gis_spark.sources.layers import admin_assign_oracle_sql

        a.createOrReplaceTempView("poi_a")
        return _agg_row(spark.sql(admin_assign_oracle_sql()), ["subject", "polygon_id"])

    def iterate(self, spark, tracer, scratch: str, first: bool) -> Pass:
        from fagi_gis_spark.operators.spatial_join import pip_join, radius_join
        from fagi_gis_spark.sources.layers import admin_polygons_pdf

        a, b = self.frames(spark)
        if self.pip_ref is None:
            self.pip_ref = self._pip_reference(spark, a)
        calls = [
            ("radius_join", lambda: radius_join(a, b, self.RADIUS_M), self.PAIR_KEYS),
            ("pip_join", lambda: pip_join(a, admin_polygons_pdf()), None),
        ]
        wall, ops, call_s, call_rows = 0.0, [], {}, {}
        for name, call, keys in calls:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"spatial_join.{name}"):
                    if keys:
                        row = _agg_row(call(), keys, "l_key", self.sample_keys, keys)
                    else:
                        row = _agg_row(call(), ["subject", "polygon_id"])
            except Exception as e:  # an engine failure is a failed op, not a crash
                ops.append(Op(name, False, f"raised {type(e).__name__}: {e}"))
                continue
            finally:
                call_s[name] = time.perf_counter() - t0
                wall += call_s[name]
            call_rows[name] = row.n
            ops.append(self._check(name, row))
        return Pass(wall, ops, {"call_s": call_s, "call_rows": call_rows})

    def _check(self, name: str, row) -> Op:
        """pip: the whole output equals the floor rule.  Radius joins:
        every strategy returns the pair set of the square-tile join, and
        the sampled probes' pairs equal brute force.  kNN: the sampled
        probes' ranks equal brute force."""
        if name.startswith("pip"):
            ok = (row.n, row.x, row.s) == (self.pip_ref.n, self.pip_ref.x, self.pip_ref.s)
            return Op(name, ok, "" if ok else f"{row.n} rows vs floor rule {self.pip_ref.n}")
        if name.startswith("knn"):
            sample = {(r.l_key, r.r_key, r.knn_rank) for r in row.sample}
            ref = self.ref_knn
        else:
            sample = {(r.l_key, r.r_key) for r in row.sample}
            ref = self.ref_pairs
        problems = []
        if sample != ref:
            problems.append(f"sampled probes: {len(sample)} rows vs brute force {len(ref)}")
        if not name.startswith("knn"):
            sig = (row.n, row.x, row.s)
            if name == "radius_join":
                self._pair_sig = sig
            elif sig != getattr(self, "_pair_sig", sig):
                problems.append(f"pair set differs from radius_join ({row.n} rows)")
        return Op(name, not problems, "; ".join(problems), len(sample & ref), len(ref))

    def layers(self, spark, tracer, p: Pass):
        """Encode-only noops per cell index, the hot-cell pass alone, each
        radius join with that pass precomputed, bounded kNN, and the
        point-in-polygon probe's own Python time."""
        from pyspark.sql import functions as F

        from fagi_gis_spark.functions.geo_udfs import u_s2_cell_at
        from fagi_gis_spark.index.tiles import cell_id_col
        from fagi_gis_spark.operators import spatial_join as sj

        a, b = self.frames(spark)
        r = self.RADIUS_M
        z, res, level = sj.join_res_for_radius(r), sj.hex_res_for_radius(r), sj.s2_level_for_radius(r)
        lon, lat = F.col("lon"), F.col("lat")
        hq, hr = sj._hex_qr_cols(lon, lat, res)
        m = {
            "index.tile_encode_s": timed_noop(tracer, "index.tile_encode",
                                              b.select(cell_id_col(lon, lat, z))),
            "index.hex_encode_s": timed_noop(tracer, "index.hex_encode",
                                             b.select(sj._hex_pack(hq, hr, res))),
            "index.s2_encode_s": timed_noop(tracer, "index.s2_encode",
                                            b.select(u_s2_cell_at(level)(lon, lat))),
        }
        m["index.s2_python_bytes"] = (
            python_bytes(tracer.stats(tracer.find("index.s2_encode")[-1])), "index.s2_encode")
        ops = []
        joins = {"tile": sj.radius_join, "hex": sj.hex_radius_join, "s2": sj.s2_radius_join}
        for strategy, join in joins.items():
            hname, jname = (f"spatial_join.build_hot_cells.{strategy}",
                            f"spatial_join.join.{strategy}")
            t0 = time.perf_counter()
            with tracer.span(hname):
                hot = sj.build_hot_cells(b, r, strategy=strategy)
            detect_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            with tracer.span(jname):
                row = _agg_row(join(a, b, r, hot_cells=hot), self.PAIR_KEYS, "l_key",
                               self.sample_keys, self.PAIR_KEYS)
            m[f"spatial_join.join_s.{strategy}"] = (time.perf_counter() - t0, jname)
            ops.append(self._check(f"{strategy}_join_precomputed_hot", row))
            if strategy != "tile":
                continue
            m["spatial_join.hot_detect_s"] = (detect_s, hname)
            m["spatial_join.hot_cells"] = (hot.count() if hot is not None else 0, hname)
            in_hot = (b.select(cell_id_col(lon, lat, z).alias("cell")).join(hot, "cell").count()
                      if hot is not None else 0)
            m["spatial_join.hot_row_share"] = (in_hot / self.N_SIDE, hname)
            st = tracer.stats(tracer.find(jname)[-1])
            # the refine predicate runs inside the join node, so its
            # output rows are pairs; candidates are the cell-equi-join rows
            cand = sj._ring1_probe(a, ("subject", "lon", "lat"), z).join(
                b.select(cell_id_col(lon, lat, z).alias("cell")), "cell").count()
            cand_node = max(join_nodes(st), key=lambda x: x[1], default=("", 0.0))[0]
            generated = [ms.get("number of output rows", 0.0)
                         for e in st["execs"] for n, ms in e if n == "Generate"]
            m.update({
                "spatial_join.candidates": (cand, jname),
                "spatial_join.refine_keep": (row.n / cand if cand else 0.0, jname),
                "spatial_join.probe_fanout": (max(generated, default=0.0) / self.N_SIDE, jname),
                "spatial_join.broadcast_build": (float(cand_node.startswith("Broadcast")), jname),
                "spatial_join.broadcast_ms": (node_sum(st, "time to broadcast") * 1e3, jname),
                "spatial_join.shuffle_bytes": (st["shuffle_write_bytes"], jname),
                "spatial_join.task_skew": (st["task_skew"], jname),
            })
        t0 = time.perf_counter()
        with tracer.span("spatial_join.knn_join"):
            row = _agg_row(sj.knn_join(a, b, self.KNN_K, self.KNN_RADIUS_M), self.KNN_KEYS,
                           "l_key", self.sample_keys, self.KNN_KEYS)
        m["spatial_join.knn_s"] = (time.perf_counter() - t0, "spatial_join.knn_join")
        ops.append(self._check("knn_join", row))
        pip = tracer.find("spatial_join.pip_join")[-1]
        m["geometry.pip_s"] = (pip["wall_s"], pip["name"])
        m["geometry.pip_python_ms"] = (python_ms(tracer.stats(pip)), pip["name"])
        m["geometry.pip_rows_out"] = (p.extra["call_rows"].get("pip_join", 0), pip["name"])
        return m, ops


class GeoConflation:
    """The spatial workload: the conflation pipeline over uniform layers,
    then the hot-spot queries over skewed ones, in one timed pass."""

    name = "geo_conflation"

    def __init__(self, seed: int, root: str):
        self.parts = (ConflatePipeline(seed, os.path.join(root, "pipeline")),
                      HotspotJoin(seed, os.path.join(root, "hotspot")))
        self.input_rows = sum(p.input_rows for p in self.parts)
        self.sizes = {k: v for p in self.parts for k, v in p.sizes.items()}

    def iterate(self, spark, tracer, scratch: str, first: bool) -> Pass:
        out = Pass(0.0, [], {"call_s": {}})
        for part in self.parts:
            p = part.iterate(spark, tracer, os.path.join(scratch, part.name), first)
            out.wall_s += p.wall_s
            out.ops += p.ops
            out.extra["call_s"].update(p.extra.pop("call_s"))
            out.extra.update(p.extra)
        return out

    def layers(self, spark, tracer, p: Pass):
        m, ops = {}, []
        for part in self.parts:
            pm, pops = part.layers(spark, tracer, p)
            m.update(pm)
            ops += pops
        return m, ops


# ---------------------------------------------------------------------------
# near_dup_corpus
# ---------------------------------------------------------------------------


def _random_words(rng, n, lo=3, hi=10):
    lens = rng.integers(lo, hi + 1, n)
    letters = rng.integers(0, 26, int(lens.sum())).astype(np.uint8) + ord("a")
    buf = letters.tobytes().decode("ascii")
    ends = np.cumsum(lens)
    words = [buf[e - l:e] for e, l in zip(ends.tolist(), lens.tolist())]
    return list(dict.fromkeys(words))  # drop the rare duplicates


class NearDupCorpus:
    """Training-data cleaning: MinHash/LSH near-duplicate pairs, their
    connected components and the surviving documents, plus exact cosine
    top-k over an embedding table."""

    name = "near_dup_corpus"
    N_DOCS = 5_000
    COPY_SHARE = 0.10
    EDIT_SHARE = 0.05
    VOCAB = 30_000
    ZIPF_S = 1.0
    JACCARD = 0.35
    N_EMB, DIM, EMB_NEAR_SHARE, K = 3_000, 64, 0.05, 5
    SAMPLE = 100
    TOPK_KEYS = ["vec_id", "neighbor_id", "rank"]

    def __init__(self, seed: int, root: str):
        rng = np.random.default_rng(seed)
        vocab = np.array(_random_words(rng, self.VOCAB), dtype=object)
        p = 1.0 / np.arange(1, vocab.size + 1) ** self.ZIPF_S
        p /= p.sum()
        n_copy = int(self.N_DOCS * self.COPY_SHARE)
        n_base = self.N_DOCS - n_copy
        lens = rng.integers(40, 301, n_base)
        toks = rng.choice(vocab.size, int(lens.sum()), p=p)
        offs = np.concatenate(([0], np.cumsum(lens)))
        docs = [toks[offs[i]:offs[i + 1]] for i in range(n_base)]
        src = rng.choice(n_base, n_copy, replace=False)
        for s in src.tolist():
            t = docs[s].copy()
            edit = rng.random(t.size) < self.EDIT_SHARE
            t[edit] = rng.choice(vocab.size, int(edit.sum()), p=p)
            docs.append(t)
        ids = rng.permutation(self.N_DOCS).astype(np.int64) * 7 + 3
        text = [" ".join(vocab[t]) for t in docs]
        self.doc_ids = ids
        self.planted = {
            (min(ids[s], ids[n_base + i]), max(ids[s], ids[n_base + i]))
            for i, s in enumerate(src.tolist())
        }
        self.docs_dir = os.path.join(root, "docs")
        write_parts(pa.table({"doc_id": ids, "text": text}), self.docs_dir)

        e = rng.normal(size=(self.N_EMB, self.DIM))
        n_near = int(self.N_EMB * self.EMB_NEAR_SHARE)
        tgt = rng.choice(self.N_EMB, n_near, replace=False)
        srcv = rng.integers(0, self.N_EMB, n_near)
        e[tgt] = e[srcv] + rng.normal(scale=0.05, size=(n_near, self.DIM))
        e = (e / np.linalg.norm(e, axis=1, keepdims=True)).astype(np.float32)
        vids = np.arange(self.N_EMB, dtype=np.int64)
        self.emb_dir = os.path.join(root, "emb")
        values = pa.array(e.ravel(), type=pa.float32())
        offsets = pa.array(np.arange(0, e.size + 1, self.DIM, dtype=np.int32))
        write_parts(
            pa.table({"vec_id": vids, "embedding": pa.ListArray.from_arrays(offsets, values)}),
            self.emb_dir,
        )
        self.input_rows = self.N_DOCS + self.N_EMB
        self.sizes = {"docs": self.N_DOCS, "planted_pairs": len(self.planted),
                      "embeddings": self.N_EMB, "dim": self.DIM}
        self.sample = rng.choice(self.N_EMB, self.SAMPLE, replace=False)
        self._topk_reference(e, vids)

    def _topk_reference(self, e, vids):
        """Exact quantized cosine top-k for the sampled queries: integer
        dot products of round-half-away(x * 1000), ties by id ascending."""
        q = e.astype(np.float64) * 1000
        q = np.where(q >= 0, np.floor(q + 0.5), np.ceil(q - 0.5)).astype(np.int64)
        n = (q * q).sum(axis=1)
        ref = set()
        for i in self.sample.tolist():
            cos = (q @ q[i]).astype(np.float64) / np.sqrt(n.astype(np.float64) * float(n[i]))
            cos[i] = -np.inf
            order = np.lexsort((vids, -cos))[: self.K]
            ref.update((int(vids[i]), int(vids[j]), r + 1) for r, j in enumerate(order.tolist()))
        self.ref_topk = ref

    def iterate(self, spark, tracer, scratch: str, first: bool) -> Pass:
        from pyspark.sql import functions as F

        from fagi_gis_spark.functions.ann import cosine_topk
        from fagi_gis_spark.functions.dedup import (
            connected_components, dedup_survivors, minhash_lsh_pairs, minhash_signatures,
        )

        docs = spark.read.parquet(self.docs_dir)
        emb = spark.read.parquet(self.emb_dir)
        t0 = time.perf_counter()
        with tracer.span("dedup.minhash_signatures"):
            sigs = minhash_signatures(docs)
        with tracer.span("dedup.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(sigs, jaccard_threshold=self.JACCARD)
        with tracer.span("dedup.connected_components"):
            comps = connected_components(pairs)
        with tracer.span("dedup.dedup_survivors"):
            surv = dedup_survivors(docs, comps).agg(
                F.collect_list("doc_id").alias("ids")).collect()[0].ids
        t1 = time.perf_counter()
        with tracer.span("ann.cosine_topk"):
            top = _agg_row(cosine_topk(emb, k=self.K), self.TOPK_KEYS, "vec_id",
                           self.sample.tolist(), self.TOPK_KEYS)
        t2 = time.perf_counter()

        # checks, untimed: pairs and components are a few thousand rows
        pair_rows = pairs.collect()
        comp_rows = comps.collect()
        problems = []
        low = [r for r in pair_rows if r.jaccard_est < self.JACCARD]
        if low:
            problems.append(f"{len(low)} pairs below jaccard {self.JACCARD}")
        absorbed = {r.doc_id for r in comp_rows if r.doc_id != r.component_id}
        expect = set(self.doc_ids.tolist()) - absorbed
        if len(surv) != len(expect) or set(surv) != expect:
            problems.append(f"{len(surv)} survivors, expected {len(expect)}")
        found = sum(1 for r in pair_rows if (r.doc_a, r.doc_b) in self.planted)
        ops = [Op("minhash_dedup", not problems, "; ".join(problems), found, len(self.planted))]
        sample = {(r.vec_id, r.neighbor_id, r.rank) for r in top.sample}
        ok = sample == self.ref_topk and top.n == self.N_EMB * self.K
        ops.append(Op("cosine_topk", ok, "" if ok else f"top-k differs ({top.n} rows)"))
        return Pass(t2 - t0, ops, {"call_s": {"minhash_dedup": t1 - t0, "cosine_topk": t2 - t1},
                                   "pairs": len(pair_rows)})

    def layers(self, spark, tracer, p: Pass):
        """The signature UDF alone; the rest is read from the traced
        pass's spans: Python time and bytes, what the driver collected,
        band-join candidates, the components rounds and the ANN path."""
        from fagi_gis_spark.functions.dedup import minhash_signatures

        m = {"dedup.signature_s": timed_noop(tracer, "dedup.minhash_signatures.noop",
                                             minhash_signatures(spark.read.parquet(self.docs_dir)))}
        names = ("dedup.minhash_lsh_pairs", "dedup.connected_components", "dedup.dedup_survivors")
        stats = {n: tracer.stats(tracer.find(n)[-1]) for n in names}
        lsh = "dedup.minhash_lsh_pairs"
        cand = max((rows for st in stats.values() for _, rows in join_nodes(st, "MapInPandas")),
                   default=0.0)
        m.update({
            "dedup.python_ms": (sum(python_ms(st) for st in stats.values()), lsh),
            "dedup.python_bytes": (sum(python_bytes(st) for st in stats.values()), lsh),
            "dedup.driver_collect_bytes": (sum(st["result_bytes"] for st in stats.values()), lsh),
            "dedup.candidates": (cand, lsh),
            "dedup.verify_keep": (p.extra["pairs"] / cand if cand else 0.0, lsh),
            "dedup.components_s": (stats["dedup.connected_components"]["wall_s"],
                                   "dedup.connected_components"),
            "sideinput.bytes_written": (p.extra["side_bytes"], lsh),
            "sideinput.files": (p.extra["side_files"], lsh),
        })
        top = tracer.find("ann.cosine_topk")[-1]
        st = tracer.stats(top)
        blocked = any(n.startswith("FlatMapCoGroups") for e in st["execs"] for n, _ in e)
        m.update({
            "ann.topk_s": (top["wall_s"], top["name"]),
            "ann.broadcast_path": (0.0 if blocked else 1.0, top["name"]),
            "ann.python_ms": (python_ms(st), top["name"]),
        })
        return m, []


WORKLOADS = {w.name: w for w in (GeoConflation, NearDupCorpus)}
