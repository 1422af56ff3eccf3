"""Workload ``geo_ingest``: the reference's own job, the write path.

Each closed-loop step lands one seeded delivery (EXIF-GPS JPEGs, GeoTIFFs,
JPEGs without GPS, ~5% re-deliveries) into its own folder of the landing
dir, then runs ``streaming.ingest.start_file_ingest`` (binaryFile source,
one checkpoint across batches) to completion. The catalog-row mapper
chains ``sources.binary.extract_image_meta`` → GeoTIFF extent centroid
(``functions.geo``) → ``operators.spatial.classify_points`` against ~2,000
seeded parcels → the ``CODIGO_SECCION_TIPOUSO_APL`` indice. An operation
is one batch; its latency runs from the batch being fully landed to it
being catalog-visible (the ingest query has terminated). The first batch
is the cold operation, the next an unreported warm-up; the measured
window opens after it and holds a fixed number of batches.
"""

from __future__ import annotations

import os
import sys
import time

import gen
import harness
import model

#: new images per delivery; re-deliveries come on top
BATCH = 40
SETUP_REPEATS = 5
#: batches after the cold one that are run but not reported
WARMUP = 1
KEEP = ("id_predio", "nombre", "codigo", "seccion", "tipouso", "apl", "especie")
BINARY_SCHEMA = "path string, modificationTime timestamp, length long, content binary"


class TimedStore:
    """Timing proxy around the ``CatalogStore`` handed to the ingest: the
    calls the stream makes into the catalog layer become spans, and (when
    traced) each insert's new parquet files are counted."""

    def __init__(self, store, tracer: harness.Tracer) -> None:
        self.store = store
        self.tracer = tracer
        self.batch = 0  # set by the loop; the op id of the spans
        self.files_added: dict[int, int] = {}
        self.run_ids: list[int] = []

    def start_run(self, *args, **kwargs):
        with self.tracer.span("catalog.start_run", op=self.batch, jobs=True):
            run_id = self.store.start_run(*args, **kwargs)
        self.run_ids.append(run_id)
        return run_id

    def insert_catalog(self, rows, run_id):
        before = _parquet_files(self.store.root) if self.tracer.enabled else 0
        with self.tracer.span("catalog.insert", op=self.batch, jobs=True):
            out = self.store.insert_catalog(rows, run_id)
        if self.tracer.enabled:
            self.files_added[self.batch] = self.files_added.get(self.batch, 0) + _parquet_files(self.store.root) - before
        return out

    def __getattr__(self, name):
        return getattr(self.store, name)


def _parquet_files(root: str) -> int:
    return sum(1 for _, _, fs in os.walk(root) for f in fs if f.endswith(".parquet"))


def make_mapper(parcels):
    """The catalog-row mapper: raw binaryFile batch → CATALOG columns."""
    from pyspark.sql import functions as F

    from datalake_imagenes_georreferenciadas_spark.functions.geo import affine_extent, extent_centroid
    from datalake_imagenes_georreferenciadas_spark.operators.spatial import classify_points
    from datalake_imagenes_georreferenciadas_spark.sources.binary import extract_image_meta

    def to_rows(batch):
        meta = extract_image_meta(batch)
        cen = extent_centroid(affine_extent(F.col("gt"), F.col("cols"), F.col("rows")))
        tif = F.col("clase") == "TIF"
        pts = meta.select(
            F.regexp_extract("path", r"([^/]+)$", 1).alias("img"),
            F.when(tif, cen["x"]).otherwise(F.col("lon")).alias("lon"),
            F.when(tif, cen["y"]).otherwise(F.col("lat")).alias("lat"),
        )
        cls = classify_points(pts, parcels, point_id="img", keep=KEEP)
        indice = F.concat_ws("_", "codigo", "seccion", "tipouso", "apl")
        return cls.select(
            indice.alias("indice"),
            "codigo",
            F.col("nombre").alias("nombre_predio"),
            "seccion",
            "especie",
            "apl",
            F.when(F.col("img").endswith(".tif"), 3).otherwise(0).cast("int").alias("id_tipo_img"),
            F.lit(0).cast("int").alias("id_proceso"),
            F.concat(F.lit("lake/"), indice, F.lit("/"), F.col("img")).alias("ruta_resultado"),
            F.current_timestamp().alias("fecha"),
        )

    return to_rows


def _join_output_rows(df) -> int:
    """numOutputRows of the nested-loop join in ``df``'s executed plan
    (walking into adaptive plans and their query stages)."""
    todo, total = [df._jdf.queryExecution().executedPlan()], 0
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(node.plan())
        if "NestedLoopJoin" in name:
            total += node.metrics().apply("numOutputRows").value()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total


def _probes(ctx, store, parcels, batch_dir: str, points: list[tuple], lookup: tuple[str, set]) -> dict:
    """Isolated probes run on a batch after it is catalog-visible, outside
    its latency: decode of its files, classification of its points, and
    one catalog lookup (checked against the model's paths)."""
    from datalake_imagenes_georreferenciadas_spark.operators.spatial import classify_points
    from datalake_imagenes_georreferenciadas_spark.sources.binary import extract_image_meta, read_binary_dir

    t, spark = ctx.tracer, ctx.spark
    with t.span("sources.decode", jobs=True):
        harness.materialize(extract_image_meta(read_binary_dir(spark, batch_dir)))
    pts = spark.createDataFrame(points, "img string, lon double, lat double")
    folded = harness.reduced(classify_points(pts, parcels, point_id="img", keep=KEEP))
    with t.span("operators.classify", jobs=True):
        folded.collect()
    indice, paths = lookup
    files = _parquet_files(store.root)
    with t.span("catalog.lookup_plan", jobs=True):
        df = store.filtered_paths(0, [0, 3], indice)
    with t.span("catalog.lookup_exec", jobs=True):
        got = [r["ruta_resultado"] for r in df.collect()]
    return {
        "pairs": _join_output_rows(folded),
        "points": len(points),
        "files": files,
        "lookup_ok": len(got) == len(set(got)) and set(got) == paths,
    }


def run(ctx) -> harness.Result:
    polys = gen.parcels(ctx.seed)
    classify = model.Classifier(polys, KEEP)
    parcel_path = os.path.join(ctx.data, "parcels.parquet")
    import pyarrow.parquet as pq

    pq.write_table(gen.parcels_table(polys), parcel_path)

    from datalake_imagenes_georreferenciadas_spark.catalog.store import CatalogStore
    from datalake_imagenes_georreferenciadas_spark.streaming.ingest import start_file_ingest

    setups = []
    for k in range(SETUP_REPEATS):
        s = ctx.start_session()
        t0 = time.perf_counter()
        parcels = ctx.spark.read.parquet(parcel_path)
        store = CatalogStore(ctx.spark, os.path.join(ctx.data, f"store{k}"))
        setups.append(s + time.perf_counter() - t0)

    proxy = TimedStore(store, ctx.tracer)
    mapper = make_mapper(parcels)
    landing = os.path.join(ctx.data, "landing")
    ckpt = os.path.join(ctx.data, "ckpt")
    os.makedirs(landing)

    expected: dict[str, str] = {}  # image name → expected ruta_resultado
    points: dict[str, tuple[float, float]] = {}
    batch_new: list[list[str]] = []  # images first delivered by each batch
    batch_run: list[int | None] = []  # catalog run id created by each batch
    latency: dict[int, float] = {}
    failed: set[int] = set()
    landed: list[int] = []  # images landed by each batch, re-deliveries included
    # per batch, traced run: streaming durationMs of each trigger, stream
    # start time, the stream's own jobs, and the probe results
    progress: dict[int, list[dict]] = {}
    starts: dict[int, float] = {}
    stream_jobs: dict[int, int] = {}
    probes: dict[int, dict] = {}
    # Batch latency keeps falling for ten or more batches while the JVM's
    # code warms up, so the window is a fixed count of batches (the same
    # stretch of that curve in every run), not whatever fits the clock.
    b, n_ops = 0, 1 + WARMUP + harness.window_ops(ctx.seconds)
    t_loop = None  # the measured window opens after the cold and warm-up batches
    while b < n_ops and (t_loop is None or time.perf_counter() - t_loop < harness.WINDOW_CAP * ctx.seconds):
        stage, bdir = os.path.join(ctx.data, "staging"), os.path.join(landing, f"b{b:05d}")
        os.makedirs(stage)
        new, plan = [], gen.delivery_plan(ctx.seed, b, BATCH, len(expected))
        for k in plan:
            name, data, spec = gen.image(ctx.seed, k)
            if name not in expected:
                points[name] = model.image_point(spec, data)
                parcel, _ = classify(*points[name])
                expected[name] = f"lake/{model.indice(parcel)}/{name}"
                new.append(name)
            with open(os.path.join(stage, name), "wb") as f:
                f.write(data)
        landed.append(len(plan))
        os.rename(stage, bdir)  # the batch appears whole
        batch_new.append(new)
        runs_before = len(proxy.run_ids)
        proxy.batch = b
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("streaming.batch", op=b):
                with ctx.tracer.span("streaming.start"):
                    q = start_file_ingest(
                        ctx.spark, os.path.join(landing, "b*"), ckpt, proxy, BINARY_SCHEMA, mapper, fmt="binaryFile"
                    )
                starts[b] = time.perf_counter() - t0
                q.awaitTermination()
            latency[b] = time.perf_counter() - t0
            progress[b] = [p.durationMs for p in q.recentProgress]
            if ctx.tracer.enabled:
                stream_jobs[b] = harness.spark_counters(ctx.spark.sparkContext, str(q.runId))["jobs"]
        except Exception as e:  # noqa: BLE001 - a failed batch is counted, the loop goes on
            print(f"# batch {b} failed: {e!r}", file=sys.stderr, flush=True)
            failed.add(b)
        batch_run.append(proxy.run_ids[-1] if len(proxy.run_ids) > runs_before else None)
        if ctx.tracer.enabled and b > WARMUP and b not in failed:  # only measured batches are probed
            indice = expected[new[0]].split("/")[1]
            paths = {p for p in expected.values() if p.split("/")[1] == indice}
            probe = _probes(ctx, store, parcels, bdir, [(n, *points[n]) for n in new], (indice, paths))
            probes[b] = probe
            if not probe["lookup_ok"]:
                print(f"# batch {b}: lookup of {indice} disagrees with the model", file=sys.stderr)
                failed.add(b)
        b += 1
        if b == 1 + WARMUP:
            t_loop = time.perf_counter()

    failed |= _check(store, expected, batch_new, batch_run)
    res = harness.Result(attempted=b, failed=len(failed))
    warm = [i for i in latency if i > WARMUP]
    if 0 not in latency or not warm:
        return res
    lat = [latency[i] for i in warm]
    p90 = harness.percentile(lat, 0.9)
    res.e2e = {
        "setup_s": harness.median(setups),
        "items_per_s": sum(len(batch_new[i]) for i in warm) / sum(lat),
        "op_s_p50": harness.median(lat),
    }
    # A run holds a few measured batches, so no percentile above the median
    # has ten samples beyond it; the p90 goes to the record, not the metrics,
    # and so does the single cold batch.
    res.notes = {
        "batches": b,
        "cold_op_s": latency[0],
        "latencies": [latency.get(i) for i in range(b)],
        "op_s_p90": p90.value,
        "op_s_p90_n": p90.n,
        "op_s_p90_beyond": p90.beyond,
    }
    if ctx.tracer.enabled:
        res.layers = _layers(ctx.tracer, warm, progress, starts, stream_jobs, proxy, probes, store)
        res.layers["catalog.insert_yield"] = sum(len(batch_new[i]) for i in warm) / sum(landed[i] for i in warm)
        res.layers["catalog.store_bytes_per_row"] = _bytes(store.root) / len(expected)
    return res


def _layers(t, warm, progress, starts, stream_jobs, proxy, probes, store) -> dict:
    """Per measured batch averages of the layer spans, streaming phases and
    probes; the cold and warm-up batches are left out, as in the
    end-to-end metrics."""

    def per_batch(name, key=None):
        spans = [s for s in t.spans if s.name == name and s.op in warm]
        if key is None:
            return sum(s.end - s.start for s in spans) / len(warm)
        return sum(s.counters.get(key, 0) for s in spans) / len(warm)

    def dur(key):
        return sum(p.get(key, 0) for i in warm for p in progress[i]) / 1000.0 / len(warm)

    pr = [probes[i] for i in warm if i in probes]

    def per_probe(name, key=None):
        return sum(s.end - s.start if key is None else s.counters.get(key, 0) for s in t.spans if s.name == name) / len(pr)

    return {
        "catalog.start_run_s": per_batch("catalog.start_run"),
        "catalog.insert_s": per_batch("catalog.insert"),
        "catalog.insert_jobs": per_batch("catalog.insert", "jobs"),
        "catalog.files_per_insert": sum(proxy.files_added.get(i, 0) for i in warm) / len(warm),
        "catalog.lookup_plan_s": per_probe("catalog.lookup_plan"),
        "catalog.lookup_exec_s": per_probe("catalog.lookup_exec"),
        "catalog.lookup_jobs": per_probe("catalog.lookup_plan", "jobs") + per_probe("catalog.lookup_exec", "jobs"),
        "catalog.files_per_lookup": sum(p["files"] for p in pr) / len(pr),
        "streaming.start_s": sum(starts[i] for i in warm) / len(warm),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.commit_s": dur("walCommit") + dur("commitOffsets"),
        "streaming.latest_offset_s": dur("latestOffset"),
        "streaming.get_batch_s": dur("getBatch"),
        "streaming.triggers_per_batch": sum(len(progress[i]) for i in warm) / len(warm),
        "streaming.jobs": sum(stream_jobs[i] for i in warm) / len(warm),
        "sources.decode_s": per_probe("sources.decode"),
        "operators.classify_s": per_probe("operators.classify"),
        "operators.pairs_per_point": sum(p["pairs"] for p in pr) / sum(p["points"] for p in pr),
    }


def _bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


def _check(store, expected: dict[str, str], batch_new, batch_run) -> set[int]:
    """Compare the final catalog with the model; return the failed batches.

    Expected: one catalog row per distinct image, at the path of the
    model's classification, with the right ``id_tipo_img`` and attributed
    (through lineage) to the run of the batch that first delivered it;
    unique dense ids; one lineage row per catalog row; one run per batch."""
    cat = {
        r["ruta_resultado"]: r
        for r in store.catalog().select("id", "ruta_resultado", "id_tipo_img").collect()
    }
    lin = {r["id_imagen_fuente"]: r["id_ejecucion"] for r in store.lineage().collect()}
    n_runs = store.runs().count()
    ids = sorted(r["id"] for r in cat.values())
    if (
        ids != list(range(1, len(ids) + 1))
        or set(lin) != set(ids)
        or n_runs != len(batch_run)
        or len(cat) != len(expected)
    ):
        print(f"# catalog invariants broken: {len(ids)} ids, {len(lin)} lineage, {n_runs} runs", file=sys.stderr)
        return set(range(len(batch_new)))
    failed = set()
    for b, names in enumerate(batch_new):
        for name in names:
            row = cat.get(expected[name])
            tipo = 3 if name.endswith(".tif") else 0
            if row is None or row["id_tipo_img"] != tipo or lin.get(row["id"]) != batch_run[b]:
                failed.add(b)
                break
    return failed
