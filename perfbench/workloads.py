"""The benchmark workloads.

Each workload builds its inputs from the seed, sets up its sources in
the Spark session (timed as ``setup_s``), then runs its operations in a
closed loop with one client for the measured seconds, checking every
output against expectations computed without the engine.  With tracing
on it also runs each operation under spans (``spans.py``) and reports
the per-layer metrics named in ``perfbench/README.md``.

Every timed call builds its DataFrame plan afresh, so Spark cannot reuse
a previous call's shuffle or broadcast.
"""

from __future__ import annotations

import json
import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from openelevationservice_spark.api import ApiError, ElevationService, parse_geometry
from openelevationservice_spark.constants import PX, WORLD_X0, WORLD_Y0
from openelevationservice_spark.functions import dissolve
from openelevationservice_spark.operators import (color, dedup, line, point,
                                                  polygon, similarity)
from openelevationservice_spark.operators.sample import pixel_index
from openelevationservice_spark.plans.cache import release
from openelevationservice_spark.sources import fixtures as fx
from openelevationservice_spark.sources.tiles import tile_index

import inputs
from spans import Tracer, gc_seconds, plan_metrics

#: set-up repetitions per run; setup_s reports their median.  More do not
#: fit the benchmark's run-time budget on a 4-core host.
SETUP_REPS = 2


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return {"pct": None, "value": None, "n": n}
    return {"pct": int(100 * (n - 10) / n), "value": sorted(xs)[n - 11], "n": n}


def consume(df):
    """Cheapest aggregate that still needs every output column: sums of
    numbers, lengths of strings/binaries, sizes of arrays."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for f in df.schema.fields:
        t = f.dataType
        if isinstance(t, (T.ArrayType, T.MapType)):
            aggs.append(F.sum(F.size(f.name)))
        elif isinstance(t, (T.BinaryType, T.StringType)):
            aggs.append(F.sum(F.length(f.name)))
        elif isinstance(t, T.NumericType):
            aggs.append(F.sum(f.name))
    return df.agg(*aggs)


def with_pixel(df, lon, lat):
    """Add the global pixel (_gx, _gy) containing (lon, lat)."""
    return df.withColumn("_gx", F.floor((F.col(lon) - F.lit(WORLD_X0)) / F.lit(PX))) \
             .withColumn("_gy", F.floor((F.lit(WORLD_Y0) - F.col(lat)) / F.lit(PX)))


def bad_z():
    """Count of rows whose ``z`` differs from the tile world's defining
    field at pixel (_gx, _gy)."""
    expect = F.expr(fx.z_sql_expr("_gx", "_gy"))
    return F.sum(F.when(F.col("z").isNotNull() & (F.col("z") != expect), 1).otherwise(0))


class Workload:
    """Common to all workloads: set-up repetitions, the timed loop and
    the traced loop.  Subclasses define ``make_inputs``, ``load``, ``ops`` and
    ``traced``."""

    uses_tiles = True

    def __init__(self, spark, seed: int, input_dir: Path):
        self.spark = spark
        self.sc = spark.sparkContext
        self.rng = np.random.default_rng(seed)
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.gc_s = 0.0
        self.setup_parts: dict[str, list[float]] = {}
        self.layer_plan: dict[str, dict] = {}
        self._cached = []
        self.last_plan = None
        self.tracer = Tracer(spark)
        self.input_dir = input_dir
        self.make_inputs()

    # -- set-up ------------------------------------------------------------
    def cache(self, part: str, df, trace: bool):
        """Persist ``df`` and fill the cache, timed under ``part``; when
        tracing, keep the SQL metrics of the plan that filled it."""
        t0 = time.perf_counter()
        df.persist()
        agg = df.agg(F.count(F.lit(1)))
        agg.collect()
        self.setup_parts.setdefault(part, []).append(time.perf_counter() - t0)
        if trace:
            self.layer_plan[part] = plan_metrics(self.sc, agg._jdf, into_cache=True)
        self._cached.append(df)
        return df

    def setup(self, trace: bool) -> float:
        """Repeat the data set-up ``SETUP_REPS`` times (dropping the
        previous generation's caches, so each repetition does the work)
        and return the median wall time of one repetition."""
        reps = []
        for i in range(SETUP_REPS):
            for df in self._cached:
                df.unpersist(blocking=True)
            self._cached = []
            t0 = time.perf_counter()
            self.load(trace and i == SETUP_REPS - 1)
            reps.append(time.perf_counter() - t0)
        return median(reps)

    def write_input(self, name: str, pdf) -> None:
        """Write a generated query table as parquet, two files per core,
        so set-up reads it the way a table on disk is read."""
        path = self.input_dir / name
        path.mkdir(parents=True)
        parts = 2 * self.sc.defaultParallelism
        for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), parts)):
            pq.write_table(pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False),
                           path / f"part-{i:03d}.parquet")

    def source(self, name: str):
        return self.spark.read.parquet(str(self.input_dir / name))

    def load_tiles(self, trace: bool) -> None:
        self.images = self.cache("sources.tiles_generate",
                                 fx.make_images_df(self.spark, inputs.WORLD), trace)
        self.pix = self.cache("sample.pixel_index", pixel_index(self.images), trace)

    # -- timed loop --------------------------------------------------------
    def check(self, name: str, ok: bool, why: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{name}: {why}")

    @staticmethod
    def attempt(fn):
        """``fn()`` → (rows, ok, why); an exception is a failed operation,
        counted, not fatal."""
        try:
            return fn()
        except Exception as exc:
            return 0, False, f"{type(exc).__name__}: {str(exc)[:300]}"

    def call(self, name: str, fn) -> None:
        t0 = time.perf_counter()
        _, ok, why = self.attempt(fn)
        dt = time.perf_counter() - t0
        self.samples.setdefault(name, []).append(dt)
        self.check(name, ok, why)

    def warmup(self) -> None:
        for name, fn in self.ops():
            self.call(name, fn)
        self.samples.clear()

    def timed(self, seconds: float) -> None:
        """Rounds of every operation, one call each, until ``seconds``
        have passed; at least one round."""
        end = time.perf_counter() + seconds
        while True:
            for name, fn in self.ops():
                self.call(name, fn)
            if time.perf_counter() >= end:
                return

    def trace_loop(self, seconds: float) -> None:
        """As ``timed``, but each operation untraced, then traced, so the
        two see the same warm state; the untraced calls are the baseline
        of ``trace.overhead_frac`` and the calls ``gc_s`` is measured on."""
        end = time.perf_counter() + seconds
        while True:
            for name, fn in self.ops():
                gc0 = gc_seconds(self.sc)
                self.call(name, fn)
                self.gc_s += gc_seconds(self.sc) - gc0
                self.traced(name, fn)
            if time.perf_counter() >= end:
                return

    def top(self, name: str, fn, children=()):
        """Traced operator call: materialise each child layer's output,
        then run the operator itself, all as spans of one call.  The
        whole traced call, plan walks included, is its ``traced:``
        sample."""
        tr = self.tracer
        call = tr.new_call()
        t0 = time.perf_counter()
        kids = [self._child(call, *c) for c in children]
        span, (rows, ok, why) = tr.run(name, call, lambda: self.attempt(fn))
        self.check(name, ok, why)
        span.rows = rows
        if ok:
            span.metrics = plan_metrics(self.sc, self.last_plan)
        self.samples.setdefault("traced:" + name, []).append(time.perf_counter() - t0)
        for k in kids:
            k.parent = span.id

    def _child(self, call, name, make, grand):
        tr = self.tracer
        sub = [self._child(call, g, m, gg) for g, m, gg in grand]
        agg = consume(make())
        span, res = tr.run(name, call, agg.collect, read_plan=lambda _: agg._jdf)
        span.rows = int(res[0]["n"])
        for s in sub:
            s.parent = span.id
        return span

    # -- reporting ---------------------------------------------------------
    def spans_named(self, name):
        return [s for s in self.tracer.spans if s.name == name]

    def med(self, name, attr="dur"):
        """Median of a span attribute (or of self time) over the spans
        called ``name``."""
        spans = self.spans_named(name)
        if attr == "self":
            return median([self.tracer.self_time(s) for s in spans])
        return median([getattr(s, attr) for s in spans])

    def med_metric(self, name, key, minus: str | None = None):
        vals = []
        for s in self.spans_named(name):
            v = s.metrics.get(key, 0)
            if minus:
                v -= sum(c.metrics.get(key, 0) for c in self.tracer.children(s)
                         if c.name == minus)
            vals.append(v)
        return median(vals)


# --------------------------------------------------------------------------
class Requests:
    """Per-request calls to ``api.ElevationService`` riding along a batch
    workload, on seeded single geometries of a fixed size: per round one
    request of each of ``KINDS`` inside coverage and one outside it."""

    KINDS: tuple[str, ...] = ()
    FORMAT_IN = {"point": "point", "line": "geojson", "polygon": "polygon",
                 "colorpolygon": "polygon"}

    def make_requests(self):
        self.rounds = inputs.requests(self.rng, 200, self.KINDS)
        self.next = 0
        self.current = {}
        self.last_resp = None
        self.parse_s, self.format_s = [], []

    def start_service(self):
        # the service persists its own pixel index; its plan equals the
        # one set-up cached, so it reuses that cache
        self.svc = ElevationService(self.spark, self.images)

    def request(self, kind, outside, geom, n_pixels):
        self.last_resp = None
        try:
            resp = getattr(self.svc, kind)(geom)
        except ApiError as exc:
            return 0, outside and exc.code == 4002, f"ApiError {exc.code}: {exc.message}"
        if outside:
            return 0, False, "outside coverage but no 4002"
        self.last_resp = resp
        g = resp["geometry"]
        if kind == "point":
            lon, lat, z = g["coordinates"]
            want = int(fx.z_field(*inputs.pixel_of(lon, lat)))
            return 1, z == want, f"z {z} != {want}"
        if kind == "colorpolygon":
            feats = g["features"]
            ok = len(feats) > 0 and all(
                isinstance(f["properties"]["heightBase"], int) for f in feats)
            return len(feats), ok, "empty or malformed FeatureCollection"
        xyz = np.asarray(g["coordinates"] if kind == "line" else g, dtype=np.float64)
        zs = fx.z_field(*inputs.pixel_of(xyz[:, 0], xyz[:, 1]))
        ok = bool(np.array_equal(zs, xyz[:, 2].astype(np.int64)))
        if kind == "polygon":
            ok = ok and len(xyz) == n_pixels
        return len(xyz), ok, "a sampled z differs from the tile field, or pixel count wrong"

    def request_ops(self):
        rnd = self.rounds[self.next % len(self.rounds)]
        self.next += 1
        self.current = {name: (kind, geom) for name, kind, _, geom, _ in rnd}
        return [(name, lambda r=rest: self.request(*r)) for name, *rest in rnd]

    def traced_request(self, name, fn):
        kind, geom = self.current[name]
        tr = self.tracer
        t_call = t0 = time.perf_counter()
        parse_geometry(geom, self.FORMAT_IN[kind])
        self.parse_s.append(time.perf_counter() - t0)
        span, (rows, ok, why) = tr.run("api." + kind, tr.new_call(), lambda: self.attempt(fn))
        self.check(name, ok, why)
        span.rows = rows
        if self.last_resp is not None:
            t0 = time.perf_counter()
            json.dumps(self.last_resp)
            self.format_s.append(time.perf_counter() - t0)
        self.samples.setdefault("traced:" + name, []).append(time.perf_counter() - t_call)

    def api_metrics(self):
        spans = [s for s in self.tracer.spans if s.name.startswith("api.")]
        action = sum(s.job_s for s in spans)
        req = sum(s.dur for s in spans)
        return {
            "api.parse_us": median(self.parse_s) * 1e6,
            "api.action_s": median([s.job_s for s in spans]),
            "api.format_us": median(self.format_s) * 1e6,
            "api.overhead_frac": 1 - action / req if req else 0.0,
        }


class Elevation(Requests, Workload):
    """The elevation service's query shapes on the 1024-tile world:
    point_elevation + line_vertices_elevation batches (the JVM-only path),
    polygon_pixels + polygon_color_invariants batches (rasterizer, Arrow
    boundary, band exchange, dissolve kernel), and the same operators per
    request through the service's point, line, polygon and colorpolygon
    calls."""

    KINDS = ("point", "line", "polygon", "colorpolygon")
    OPS = ("point_replay", "line_replay", "polygon_dump", "color_dissolve",
           "point_request", "line_request", "polygon_request", "colorpolygon_request",
           "outside_request")

    def make_inputs(self):
        points, self.points_expect = inputs.replay_points(self.rng)
        lines = inputs.replay_lines(self.rng)
        polys, self.expect = inputs.area_polygons(self.rng)
        self.write_input("points", points)
        self.write_input("lines", lines)
        self.write_input("polygons", polys)
        self.line_expect = inputs.line_vertex_sums(lines)
        self.band_args, self.band_area = inputs.dissolve_bands(self.rng)
        self.make_requests()

    def load(self, trace):
        self.load_tiles(trace)
        self.points = self.cache("sources.cache", self.source("points"), trace)
        self.lines = self.cache("sources.cache", self.source("lines"), trace)
        self.polys = self.cache("sources.cache", self.source("polygons"), trace)
        self.start_service()

    def point_call(self):
        out = point.point_elevation(self.points, self.images, how="left",
                                    pix_index_df=self.pix)
        agg = with_pixel(out, "lon", "lat").agg(
            F.count(F.lit(1)).alias("n"), F.count("z").alias("matched"),
            F.sum("z").alias("sum_z"), bad_z().alias("bad"))
        self.last_plan = agg._jdf
        r = agg.collect()[0]
        e = self.points_expect
        got = (int(r["n"]), int(r["matched"]), int(r["sum_z"] or 0), int(r["bad"] or 0))
        self.unmatched_frac = 1 - got[1] / max(got[0], 1)
        want = (e["rows"], e["matched"], e["sum_z"], 0)
        return got[0], got == want, f"(rows, matched, sum_z, bad) {got} != {want}"

    def line_call(self):
        out = line.line_vertices_elevation(self.lines, self.images, pix_index_df=self.pix)

        def quant(offset):
            """``offset`` in 1/QUANT pixels, as ``inputs.line_vertex_sums``"""
            return F.floor(offset / F.lit(PX) * F.lit(inputs.QUANT)).cast("long")

        agg = with_pixel(out, "x", "y").agg(
            F.count(F.lit(1)).alias("vertices"), F.sum("seq").alias("sum_seq"),
            F.sum(F.col("line_id") * F.col("seq")).alias("sum_id_seq"),
            F.sum(quant(F.col("x") - F.lit(WORLD_X0))).alias("sum_qx"),
            F.sum(quant(F.lit(WORLD_Y0) - F.col("y"))).alias("sum_qy"),
            F.count("z").alias("nz"), bad_z().alias("bad"))
        self.last_plan = agg._jdf
        r = agg.collect()[0]
        keys = ("vertices", "sum_seq", "sum_id_seq", "sum_qx", "sum_qy")
        got = tuple(int(r[k] or 0) for k in keys) + (int(r["nz"]), int(r["bad"] or 0))
        want = tuple(self.line_expect[k] for k in keys) + (self.line_expect["vertices"], 0)
        return got[0], got == want, (f"({', '.join(keys)}, with z, wrong z) "
                                     f"{got} != {want}")

    def polygon_call(self):
        out = polygon.polygon_pixels(self.polys, self.images)
        agg = out.withColumnsRenamed({"gx": "_gx", "gy": "_gy"}).agg(
            F.count(F.lit(1)).alias("n"), F.sum("z").alias("sum_z"),
            F.sum("_gx").alias("sum_gx"), F.sum("_gy").alias("sum_gy"), bad_z().alias("bad"))
        self.last_plan = agg._jdf
        r = agg.collect()[0]
        e = self.expect
        got = tuple(int(r[k] or 0) for k in ("n", "sum_z", "sum_gx", "sum_gy", "bad"))
        want = (e["pixels"], e["sum_z"], e["sum_gx"], e["sum_gy"], 0)
        return got[0], got == want, f"(pixels, sum_z, sum_gx, sum_gy, bad) {got} != {want}"

    def color_call(self):
        out = color.polygon_color_invariants(self.polys, self.images).select("poly_id", "area_px")
        self.last_plan = out._jdf
        pdf = out.toPandas()
        per_poly = pdf.groupby("poly_id")["area_px"].sum()
        want = self.expect["pixels_per_poly"]
        got = np.zeros(len(want), dtype=np.int64)
        got[per_poly.index.to_numpy()] = per_poly.to_numpy()
        bad = np.flatnonzero(got != want)
        return len(pdf), len(bad) == 0, (f"{len(bad)} polygons whose band areas do not "
                                         f"sum to their pixel count, e.g. poly {bad[:3]}")

    def dissolve_direct(self):
        t0 = time.perf_counter()
        _, _, area2, *_ = dissolve.batch_invariants(*self.band_args)
        dt = time.perf_counter() - t0
        self.samples.setdefault("dissolve.batch_invariants", []).append(dt)
        self.check("dissolve.batch_invariants", bool(np.array_equal(area2 // 2, self.band_area)),
                   "band areas differ from band cell counts")

    def ops(self):
        return [("point_replay", self.point_call), ("line_replay", self.line_call),
                ("polygon_dump", self.polygon_call), ("color_dissolve", self.color_call),
                *self.request_ops()]

    def traced(self, name, fn):
        if name.endswith("_request"):
            self.traced_request(name, fn)
        elif name == "point_replay":
            self.top(name, fn, [("point.join_tiles", lambda: point.join_tiles(
                self.points, self.pix, how="left", extra_cols=("pix",)), ())])
        elif name == "line_replay":
            # the densify shape line_vertices_elevation uses by default
            densify = getattr(line, "densify_lines_explode", line.densify_lines)
            self.top(name, fn, [("line.densify_lines", lambda: densify(self.lines), ())])
        elif name == "polygon_dump":
            tile_join = ("polygon.polygon_tile_join", lambda: polygon.polygon_tile_join(
                self.polys.select("poly_id", "ring"), tile_index(self.images, with_bytes=True)),
                ())
            self.top(name, fn, [("polygon.polygon_pixel_runs", lambda: polygon.polygon_pixel_runs(
                self.polys, self.images), [tile_join])])
        else:
            # the colour operator leases (persists) its run blobs; drop the
            # previous call's lease so the child below computes them afresh
            release("color_invariants")
            self.top(name, fn, [("color.polygon_pixel_run_blobs",
                                 lambda: polygon.polygon_pixel_run_blobs(self.polys, self.images),
                                 ())])
            self.dissolve_direct()

    def layer_metrics(self):
        d = median(self.samples.get("dissolve.batch_invariants", []))
        blob = "color.polygon_pixel_run_blobs"
        return {
            "point.join_s": self.med("point.join_tiles"),
            "point.gather_self_s": self.med("point_replay", "self"),
            "point.rows_out": self.med("point_replay", "rows"),
            "point.unmatched_frac": self.unmatched_frac,
            "line.densify_s": self.med("line.densify_lines"),
            "line.vertices_out": self.med("line_replay", "rows"),
            "line.sample_self_s": self.med("line_replay", "self"),
            "polygon.tile_pairs": self.med("polygon.polygon_tile_join", "rows"),
            "polygon.raster_s": self.med("polygon.polygon_pixel_runs", "self"),
            "polygon.arrow_bytes_sent": self.med_metric("polygon_dump", "py_sent_bytes"),
            "polygon.arrow_bytes_recv": self.med_metric("polygon_dump", "py_recv_bytes"),
            "polygon.py_boot_s": self.med_metric("polygon_dump", "py_boot_s"),
            "polygon.py_init_s": self.med_metric("polygon_dump", "py_init_s"),
            "polygon.py_total_s": self.med_metric("polygon_dump", "py_total_s"),
            "polygon.runs_out": self.med("polygon.polygon_pixel_runs", "rows"),
            "polygon.explode_self_s": self.med("polygon_dump", "self"),
            "color.blob_s": self.med(blob),
            "color.exchange_rows": self.med_metric("color_dissolve", "exchange_rows", blob),
            "color.exchange_bytes": self.med_metric("color_dissolve", "exchange_bytes", blob),
            "color.shuffle_write_s": self.med_metric("color_dissolve", "shuffle_write_s", blob),
            "color.spill_bytes": self.med_metric("color_dissolve", "spill_bytes", blob),
            "color.py_total_s": self.med_metric("color_dissolve", "py_total_s", blob),
            "color.bands_out": self.med("color_dissolve", "rows"),
            "dissolve.batch_invariants_s": d,
            "dissolve.bands_per_s": self.band_args[3] / d if d else 0.0,
            **self.api_metrics(),
        }


class Dedup(Workload):
    """MinHash-LSH candidate pairs, near-duplicate clusters and ANN top-k."""

    OPS = ("minhash_lsh", "dedup_clusters", "ann_topk")
    uses_tiles = False

    def make_inputs(self):
        docs, self.expect = inputs.documents(self.rng)
        corpus, queries = inputs.embeddings(self.rng)
        self.write_input("docs", docs)
        self.write_input("corpus", corpus)
        self.write_input("queries", queries)
        self.n_queries = len(queries)

    def load(self, trace):
        self.docs = self.cache("sources.cache", self.source("docs"), trace)
        self.emb = self.cache("sources.cache",
                              similarity.pack_vectors(self.source("corpus"), "embedding"), trace)
        self.queries = self.cache("sources.cache", self.source("queries"), trace)

    def lsh_call(self):
        n = inputs.SIZES["docs"]     # replica r holds ids r * n ..
        cross = F.floor(F.col("id_a") / n) != F.floor(F.col("id_b") / n)
        agg = dedup.lsh_candidate_pairs(self.docs, n_hashes=8, bands=4).agg(
            F.count(F.lit(1)).alias("pairs"), F.sum("id_a").alias("sum_id_a"),
            F.sum("id_b").alias("sum_id_b"),
            F.sum(F.when(cross, 1).otherwise(0)).alias("cross"))
        self.last_plan = agg._jdf
        r = agg.collect()[0]
        e = self.expect
        keys = ("pairs", "sum_id_a", "sum_id_b")
        got = tuple(int(r[k] or 0) for k in keys) + (int(r["cross"] or 0),)
        want = tuple(e[k] for k in keys) + (0,)
        return got[0], got == want, (f"(pairs, sum id_a, sum id_b, cross-replica pairs) "
                                     f"{got} != {want}")

    def clusters_call(self):
        out = dedup.dedup_clusters(self.docs, n_hashes=8, bands=4)
        multi = F.col("cluster_size") >= 2
        agg = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(multi & (F.col("doc_id") == F.col("rep_id")), 1).otherwise(0)).alias("c"),
            F.sum(F.when(multi, 1).otherwise(0)).alias("m"), F.sum("rep_id").alias("s"))
        self.last_plan = agg._jdf
        r = agg.collect()[0]
        e = self.expect
        got = tuple(int(r[k] or 0) for k in "ncms")
        self.clusters_out = got[1]
        want = (e["docs"], e["clusters"], e["clustered_docs"], e["sum_rep_id"])
        return got[0], got == want, (f"(docs, clusters, clustered docs, sum rep_id) "
                                     f"{got} != {want}")

    def ann_call(self):
        out = similarity.cosine_topk(self.emb, self.queries, k=10)
        self.last_plan = out._jdf
        pdf = out.toPandas()
        top1 = pdf[pdf["rank"] == 1]
        nq = self.n_queries
        ok = len(pdf) == 10 * nq and len(top1) == nq and bool((top1.q_id == top1.vec_id).all())
        return len(pdf), ok, "a query's top-1 is not itself"

    def ops(self):
        return list(zip(self.OPS, (self.lsh_call, self.clusters_call, self.ann_call)))

    def traced(self, name, fn):
        sig = ("dedup.minhash_signature", lambda: dedup.minhash_signature(
            self.docs, n_hashes=8), ())
        if name == "minhash_lsh":
            self.top(name, fn, [sig])
        elif name == "dedup_clusters":
            self.top(name, fn, [("dedup.lsh_candidate_pairs", lambda: dedup.lsh_candidate_pairs(
                self.docs, n_hashes=8, bands=4), ())])
        else:
            self.top(name, fn)

    def layer_metrics(self):
        return {
            "dedup.signature_s": self.med("dedup.minhash_signature"),
            "dedup.py_boot_s": self.med_metric("minhash_lsh", "py_boot_s"),
            "dedup.py_init_s": self.med_metric("minhash_lsh", "py_init_s"),
            "dedup.py_total_s": self.med_metric("minhash_lsh", "py_total_s"),
            "dedup.lsh_pairs": self.med("minhash_lsh", "rows"),
            "dedup.exchange_bytes": self.med_metric("minhash_lsh", "exchange_bytes"),
            "dedup.cc_s": self.med("dedup_clusters", "self"),
            "dedup.clusters_out": self.clusters_out,
            "similarity.topk_s": self.med("ann_topk"),
            "similarity.arrow_bytes_sent": self.med_metric("ann_topk", "py_sent_bytes"),
            "similarity.py_total_s": self.med_metric("ann_topk", "py_total_s"),
        }


WORKLOADS = {"elevation": Elevation, "dedup": Dedup}
