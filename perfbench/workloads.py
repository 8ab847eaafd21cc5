"""The two workloads. Each is one client in a closed loop: it generates
an op's inputs (untimed), runs the op through the library's public
functions, and starts the next op when that one returns. Outputs are
checked against :mod:`oracle` after the loop, outside every timed
interval.
"""

from __future__ import annotations

import glob
import math
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np

import inputs
import oracle
from spans import EventLog, Tracer, straggler_ratio

FQ, BATCH = "feature_queries", "batch"

#: Spark width: local[2] on a 4-core host held tighter per-op spreads than
#: local[4] (knn p50 0.59-0.66 s vs 0.66-0.84 s over the same runs)
WIDTH = 2
DRIVER_MEM = "2g"

#: input sizes per workload; the self-check runs at TINY. The batch
#: workload's catalog op costs ~5.5 s of work that does not grow with the
#: layout (Spark jobs, zone prep) plus ~1.1 us per layout point; 500k
#: points keep its set-up and op count inside a one-minute run. See
#: NOTES.md.
SIZES = {FQ: {"points": 200_000},
         BATCH: {"points": 500_000, "zones": 60, "images": 8_000}}
TINY = {"points": 20_000, "zones": 8, "images": 400}

#: warm-up rounds of every op kind before timing. The first round is cold
#: (class loading, JIT, Spark's caches) and 2-5x slower; rounds two to six
#: are still 15-25% slower than where queries settle, and with fewer warm
#: rounds a run's medians depended on how many ops the host let it make.
#: Batch warm-up runs one catalog op at full size (after a small one the
#: next three full ones still sped up from 7.2 to 5.2 s) and one tilejob
#: op at TINY size (enough: the timed ones after it are flat).
WARM_ROUNDS = {FQ: 6, BATCH: 1}
K = 50

#: Latin-hypercube block: about the number of timed ops of each kind a
#: feature_queries run makes (5-7), so each run's sample covers every
#: parameter's range evenly
STRATA_BLOCK = 6

#: end-to-end metrics, name -> unit. Every workload reports every one, so
#: they are the quantities both op streams have. Op cost is CPU seconds,
#: not wall: on a shared host wall time swings with CPU steal (see
#: NOTES.md); op wall times go to the context line.
END_TO_END = {
    "setup_s": "s", "cpu_s_per_op": "s", "kind_cpu_p50_gmean_s": "s",
    "peak_pss_mb": "MB", "stored_bytes_per_input_byte": "B/B"}

#: per-layer metric -> (unit, workloads on which it must be non-zero).
#: Every metric is reported on every workload; 0 there means the layer
#: is not exercised.
PER_LAYER = {
    "session.start_s": ("s", {FQ, BATCH}),
    "sources.write_gol_layout_s": ("s", {FQ, BATCH}),
    "sources.layout_files": ("count", {FQ, BATCH}),
    "sources.scan_rows_per_result_row": ("ratio", {FQ}),
    "sources.scan_files_per_op": ("count", {FQ}),
    "geom.prepare_zone_s": ("s", {FQ}),
    "spatial_join.join_zones_s": ("s", {FQ}),
    "spatial_join.jobs_per_op": ("count", {FQ, BATCH}),
    "spatial_join.refine_rows_per_output_row": ("ratio", {FQ, BATCH}),
    "spatial_join.catalog_join_s": ("s", {BATCH}),
    "spatial_join.catalog_shuffle_bytes": ("B", {BATCH}),
    "spatial_join.catalog_task_max_over_p50": ("ratio", {BATCH}),
    "knn.s_per_op": ("s", {FQ}),
    "knn.jobs_per_op": ("count", {FQ}),
    "knn.rounds_per_op": ("count", {FQ}),
    "knn.rows_scanned_per_op": ("count", {FQ}),
    "zoneprep.s_per_op": ("s", {BATCH}),
    "zoneprep.task_max_over_p50": ("ratio", {BATCH}),
    "zoneprep.artifact_bytes_per_zone": ("B", {BATCH}),
    "tileagg.s_per_op": ("s", {BATCH}),
    "tileagg.shuffle_bytes_per_op": ("B", {BATCH}),
    "tileagg.python_rows_per_op": ("count", {BATCH}),
    "tileagg.task_max_over_p50": ("ratio", {BATCH}),
    "tileagg.cpu_share": ("ratio", {BATCH}),
    "media.kernel_load_s": ("s", {BATCH}),
    "media.c_kernel": ("bool", set()),
    "plans.tilejob_driver_s": ("s", {BATCH}),
    "spark.jobs_per_op": ("count", {FQ, BATCH}),
    "spark.gc_s_per_op": ("s", set()),
    "spark.spill_bytes": ("B", set()),
    "trace.s_per_op": ("s", {FQ, BATCH}),
    "trace.layer_share": ("ratio", {FQ, BATCH}),
}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(file count, total bytes) of the parquet files under ``path``."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


class Run:
    """State of one benchmark run: the session, the tracer, the ops."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, sizes: dict[str, int]):
        self.workload = workload
        self.rng = np.random.default_rng(seed)
        #: the warm-up's own stream, so it leaves the timed draws untouched
        self.warm_rng = np.random.default_rng([seed, 1])
        self.seconds = seconds
        self.work = work
        self.sizes = sizes
        self.tracer = Tracer(trace)
        self.spark = None
        self.events_dir = os.path.join(work, "events")
        self.excluded = 0.0          # generation and checks during set-up
        self.setup_end = None        # (perf_counter, excluded) at op 0
        self.layer: dict[str, float] = {}
        self.ops: list[dict] = []
        self.timed_wall = 0.0
        self.extra: dict = {}            # context and per-op side results
        #: CPU seconds used so far by the run's process tree
        self.cpu_s = lambda: 0.0

    def size(self, key: str) -> int:
        return self.sizes[key]

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @contextmanager
    def untimed(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.excluded += time.perf_counter() - t

    # -- set-up -----------------------------------------------------------

    def start(self) -> None:
        from libgeodesk_spark.session import build_session
        conf = {"spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false"}
        if self.tracer.enabled:
            os.makedirs(self.events_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.events_dir,
                         "spark.eventLog.rolling.enabled": "false",
                         "spark.eventLog.compress": "false"})
        t = time.perf_counter()
        with self.tracer.span("session.build_session"):
            self.spark = build_session("perfbench", cpus=WIDTH,
                                       driver_mem=DRIVER_MEM, **conf)
        self.layer["session.start_s"] = time.perf_counter() - t
        self.tracer.sc = self.spark.sparkContext

    def ingest(self, raw: str):
        """The program's ingest: raw points -> cell-partitioned layout."""
        from libgeodesk_spark.sources.writer import read_gol_layout, write_gol_layout
        layout = self.path("layout")
        t = time.perf_counter()
        with self.tracer.span("sources.write_gol_layout"):
            write_gol_layout(self.spark.read.parquet(raw), layout)
        self.layer["sources.write_gol_layout_s"] = time.perf_counter() - t
        n_files, self.layout_bytes = dir_bytes(layout)
        self.layer["sources.layout_files"] = n_files
        return read_gol_layout(self.spark, layout)

    # -- the timed loop ---------------------------------------------------

    def loop(self, next_op, cycle: int) -> None:
        """Closed loop until the ops' summed wall reaches ``seconds``,
        stopping only after a whole ``cycle`` of ops, so every kind runs
        equally often and the mix behind ``cpu_s_per_op`` is the same in
        every run. Each op's CPU seconds are read around its timed call.

        ``next_op(i)`` generates op i's inputs and returns (kind, run,
        check); only ``run()`` is timed."""
        self.setup_end = (time.perf_counter(), self.excluded)
        i = 0
        while self.timed_wall < self.seconds or i % cycle or i == 0:
            kind, run, check = next_op(i)
            c0 = self.cpu_s()
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"op.{kind}", op=i):
                    out, err = run(), None
            except Exception as e:               # counted as a failed op
                out, err = None, f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
            cpu = self.cpu_s() - c0
            self.timed_wall += dt
            self.ops.append({"i": i, "kind": kind, "s": dt, "cpu": cpu,
                             "out": out, "err": err, "check": check})
            i += 1
        for op in self.ops:
            if op["err"] is None:
                try:
                    if not op["check"](op["out"]):
                        op["err"] = "wrong output"
                except Exception as e:
                    op["err"] = f"check raised {type(e).__name__}: {e}"
            op["check"] = None

    # -- results ----------------------------------------------------------

    def setup_s(self, proc_start: float) -> float:
        t, excluded = self.setup_end
        return t - proc_start - excluded

    def failed(self) -> int:
        return sum(op["err"] is not None for op in self.ops)

    def latencies(self, kind: str | None = None, key: str = "s") -> list[float]:
        return [op[key] for op in self.ops
                if op["err"] is None and (kind is None or op["kind"] == kind)]


# ---------------------------------------------------------------------------
# feature_queries
# ---------------------------------------------------------------------------

def feature_queries(run: Run) -> dict:
    from libgeodesk_spark.geom.zones import prepare_zone
    from libgeodesk_spark.operators.knn import knn, max_meters_from
    from libgeodesk_spark.operators.spatial_join import join_zones
    from libgeodesk_spark.sources.writer import scan_window

    T, rng = run.tracer, run.rng
    with run.untimed():
        cols = inputs.points(rng, run.size("points"))
        raw = run.path("points.parquet")
        inputs.write_parquet(cols, raw)
        truth = oracle.Points(cols)
    run.start()
    pts = run.ingest(raw)
    n = len(cols["x"])

    hot = np.nonzero(inputs.in_hot_block(cols["x"], cols["y"]))[0]

    def makers(rng: np.random.Generator, st: inputs.Strata) -> dict:
        """Op makers of each kind, drawing from ``rng`` and ``st``."""

        def where(kind):
            """A stratified point of the data window."""
            return (int(st.between(kind + ".x", inputs.X0, inputs.X0 + inputs.SPAN)),
                    int(st.between(kind + ".y", inputs.Y0, inputs.Y0 + inputs.SPAN)))

        def window():
            w = int(st.between("window.w", 100_000, 600_000))
            h = int(st.between("window.h", 100_000, 600_000))
            cx, cy = where("window")
            box = (cx - w // 2, cy - h // 2, cx + w - w // 2, cy + h - h // 2)

            def go():
                with T.span("sources.scan_window"):
                    return scan_window(pts, *box).count()
            return go, lambda out: out == truth.window_count(*box)

        def radius():
            meters = st.between("radius.m", 500, 3000)
            qx, qy = where("radius")

            def go():
                with T.span("knn.max_meters_from"):
                    return max_meters_from(pts, meters, qx, qy).count()
            return go, lambda out: out == truth.radius_count(meters, qx, qy)

        def nearest():
            qx, qy = where("knn")

            def go():
                with T.span("knn.knn"):
                    rows = knn(pts, qx, qy, K).collect()
                return [(r["sq_dist"], int(r["image_id"][3:])) for r in rows]
            return go, lambda out: sorted(out) == truth.knn(qx, qy, K)

        def within():
            # the anchor vertex is a data point, in the hot block for the
            # hot share of polygons
            pool = hot if st.u("within.hot") < inputs.HOT_SHARE else None
            j = int(pool[rng.integers(0, len(pool))]) if pool is not None \
                else int(rng.integers(0, n))
            ring = inputs.star_polygon(
                rng, (int(cols["x"][j]), int(cols["y"][j])),
                st.between("within.r", 100_000, 500_000),
                int(st.between("within.v", 5, 41)))

            def go():
                with T.span("geom.prepare_zone"):
                    zone = prepare_zone("q", [ring])
                with T.span("spatial_join.join_zones"):
                    return join_zones(pts, [zone], predicate="within",
                                      columns=["image_id"]).count()
            return go, lambda out: out == truth.within_count(ring)

        return {"window": window, "radius": radius, "knn": nearest,
                "within": within}

    warm = makers(run.warm_rng, inputs.Strata(run.warm_rng))
    t = time.perf_counter()
    for _ in range(WARM_ROUNDS[FQ]):
        for make in warm.values():
            make()[0]()
    run.layer["warmup_s"] = time.perf_counter() - t
    kinds = makers(rng, inputs.Strata(rng, STRATA_BLOCK))
    order = list(kinds)

    def next_op(i):
        kind = order[i % len(order)]
        return (kind, *kinds[kind]())

    run.loop(next_op, cycle=len(order))
    run.extra["input_bytes"] = inputs.input_bytes(cols)
    run.extra["rows"] = n
    return {"stored": run.layout_bytes / inputs.input_bytes(cols)}


# ---------------------------------------------------------------------------
# batch: zone-catalog joins alternating with tile re-encode jobs
# ---------------------------------------------------------------------------

def batch(run: Run) -> dict:
    from libgeodesk_spark.operators.spatial_join import join_zones_catalog
    from libgeodesk_spark.operators.tileagg import synth_reencode_metrics
    from libgeodesk_spark.operators.zoneprep import prepared_zones_df
    from libgeodesk_spark.plans.lineage import TileJob

    T, rng = run.tracer, run.rng
    with run.untimed():
        cols = inputs.points(rng, run.size("points"))
        raw = run.path("points.parquet")
        inputs.write_parquet(cols, raw)
        truth = oracle.Points(cols)
        images = inputs.tile_slice(rng, run.size("images"))
        raw_images = run.path("images.parquet")
        inputs.write_parquet(images, raw_images)
        warm_images = run.path("warm_images.parquet")
        inputs.write_parquet(inputs.tile_slice(run.warm_rng, TINY["images"]),
                             warm_images)
    run.start()
    pts = run.ingest(raw)
    t = time.perf_counter()
    with T.span("media.kernel_load"):
        from libgeodesk_spark.media import _fastcodec
        lib = _fastcodec.load()
    run.layer["media.kernel_load_s"] = time.perf_counter() - t
    run.layer["media.c_kernel"] = int(lib is not None)
    spark = run.spark
    src = spark.read.parquet(raw_images)
    pt_bytes = inputs.input_bytes(cols)

    def catalog(rng: np.random.Generator, i: int, n_zones: int):
        ids, wkbs, rings = inputs.catalog(rng, n_zones, cols)
        cat = run.path(f"catalog{i}.parquet")
        art = run.path(f"prepared{i}")
        inputs.write_parquet({"zone_id": np.array(ids),
                              "wkb": np.array(wkbs, dtype=object)}, cat)
        cat_bytes = sum(len(z) + len(w) for z, w in zip(ids, wkbs))

        def go():
            with T.span("zoneprep.prepared_zones_df"):
                prepared_zones_df(spark.read.parquet(cat),
                                  n_slices=WIDTH).write.parquet(art)
            with T.span("spatial_join.join_zones_catalog"):
                rows = join_zones_catalog(
                    pts, spark.read.parquet(art), predicate="within",
                    columns=["image_id"]).groupBy("zone_id").count().collect()
            return {r["zone_id"]: r["count"] for r in rows}

        def check(out):
            art_bytes = dir_bytes(art)[1]
            run.extra.setdefault("artifact_bytes_per_zone", []).append(
                art_bytes / n_zones)
            run.extra.setdefault("stored", []).append(
                (run.layout_bytes + art_bytes) / (pt_bytes + cat_bytes))
            return set(out) <= set(ids) and all(
                out.get(z, 0) == truth.within_count(oracle.merc_ring(r))
                for z, r in zip(ids, rings))
        return go, check

    def transform(df):
        with T.span("tileagg.synth_reencode_metrics"):
            return synth_reencode_metrics(df)

    def tilejob(i: int, df, n_images: int):
        out_dir = run.path(f"tiles{i}")

        def go():
            with T.span("plans.TileJob.run"):
                return TileJob(out_dir, f"job{i}").run(df, transform)

        def check(res):
            import pyarrow.parquet as pq
            files = glob.glob(os.path.join(out_dir, "bucket=*", "*.parquet"))
            tab = pq.ParquetDataset(files).read(columns=["n_images", "min_psnr"])
            return (sorted(res["processed"]) == list(range(16))
                    and sum(tab.column("n_images").to_pylist()) == n_images
                    and min(tab.column("min_psnr").to_pylist()) >= 40.0)
        return go, check

    t = time.perf_counter()
    for r in range(WARM_ROUNDS[BATCH]):
        with run.untimed():
            warm = catalog(run.warm_rng, -1 - r, run.size("zones"))[0]
        warm()
        tilejob(-1 - r, spark.read.parquet(warm_images), TINY["images"])[0]()
    run.layer["warmup_s"] = time.perf_counter() - t

    def next_op(i):
        if i % 2 == 0:
            return ("catalog", *catalog(rng, i, run.size("zones")))
        return ("tilejob", *tilejob(i, src, len(images["pid"])))

    run.loop(next_op, cycle=2)
    run.extra["rows"] = {"catalog": len(cols["x"]), "tilejob": len(images["pid"])}
    return {"stored": median(run.extra.get("stored", []))}


WORKLOADS = {FQ: feature_queries, BATCH: batch}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def end_to_end(run: Run, out: dict, proc_start: float, peak_kb: int) -> dict:
    ok = [op for op in run.ops if op["err"] is None]
    kinds = sorted({op["kind"] for op in run.ops})
    cpu50 = {k: median(run.latencies(k, "cpu")) for k in kinds}
    run.extra.update(
        ops_per_s=len(ok) / run.timed_wall, kind_cpu_p50_s=cpu50,
        kind_p50_s={k: median(run.latencies(k)) for k in kinds})
    m = {"setup_s": run.setup_s(proc_start), "peak_pss_mb": peak_kb / 1024,
         "cpu_s_per_op": sum(op["cpu"] for op in ok) / max(len(ok), 1),
         # 0 when a kind has no successful op: the run is failed anyway
         "kind_cpu_p50_gmean_s": math.prod(cpu50.values()) ** (1 / len(kinds)),
         "stored_bytes_per_input_byte": out["stored"]}
    return {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}


def per_layer(run: Run, ev: EventLog) -> dict:
    T = run.tracer
    ok = {op["i"] for op in run.ops if op["err"] is None}
    outs = {op["i"]: op["out"] for op in run.ops}
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(run.layer)

    def spans(name):
        return T.named(name, ok)

    def jobs(sp):
        return ev.jobs_of(T.groups(sp))

    def wall(s):
        return s["end"] - s["start"]

    def stages(js):
        return [ev.tasks[st] for st in ev.stages_of(js)]

    # sources: scans of the window and radius ops
    win, rad = spans("sources.scan_window"), spans("knn.max_meters_from")
    if win or rad:
        execs = ev.execs_of(jobs(win + rad))
        returned = sum(outs[s["op"]] for s in win + rad)
        m["sources.scan_rows_per_result_row"] = ev.node_metric(
            execs, "Scan parquet", "number of output rows") / max(returned, 1)
    if win:
        m["sources.scan_files_per_op"] = ev.node_metric(
            ev.execs_of(jobs(win)), "Scan parquet", "number of files read") / len(win)

    # geom + spatial_join
    m["geom.prepare_zone_s"] = median([wall(s) for s in spans("geom.prepare_zone")])
    jz, cat = spans("spatial_join.join_zones"), spans("spatial_join.join_zones_catalog")
    m["spatial_join.join_zones_s"] = median([wall(s) for s in jz])
    if jz or cat:
        m["spatial_join.jobs_per_op"] = len(jobs(jz + cat)) / len(jz + cat)
        members = sum(outs[s["op"]] if isinstance(outs[s["op"]], int)
                      else sum(outs[s["op"]].values()) for s in jz + cat)
        m["spatial_join.refine_rows_per_output_row"] = ev.python_input_rows(
            ev.execs_of(jobs(jz + cat))) / max(members, 1)
    if cat:
        m["spatial_join.catalog_join_s"] = median([wall(s) for s in cat])
        m["spatial_join.catalog_shuffle_bytes"] = median(
            [sum(t["shuffle_write"] for t in ev.tasks_of(jobs([s]))) for s in cat])
        m["spatial_join.catalog_task_max_over_p50"] = median(
            [straggler_ratio(stages(jobs([s]))) for s in cat])

    # knn
    kn = spans("knn.knn")
    if kn:
        m["knn.s_per_op"] = median([wall(s) for s in kn])
        m["knn.jobs_per_op"] = len(jobs(kn)) / len(kn)
        m["knn.rounds_per_op"] = len(ev.execs_of(jobs(kn))) / len(kn)
        m["knn.rows_scanned_per_op"] = ev.node_metric(
            ev.execs_of(jobs(kn)), "Scan parquet", "number of output rows") / len(kn)

    # zoneprep
    zp = spans("zoneprep.prepared_zones_df")
    if zp:
        m["zoneprep.s_per_op"] = median([wall(s) for s in zp])
        m["zoneprep.task_max_over_p50"] = median(
            [straggler_ratio(stages(jobs([s]))) for s in zp])
        m["zoneprep.artifact_bytes_per_zone"] = median(
            run.extra.get("artifact_bytes_per_zone", []))

    # tileagg runs inside TileJob.run's staging write: its jobs are the
    # ones whose plan holds the Python group node
    tj = spans("plans.TileJob.run")
    if tj:
        per = []
        for s in tj:
            js = jobs([s])
            tile = [j for j in js if ev.jobs[j]["exec"] is not None
                    and ev.has_python_node(ev.jobs[j]["exec"])]
            tasks = ev.tasks_of(tile)
            per.append({
                "s": ev.job_wall_s(tile),
                "shuffle": sum(t["shuffle_write"] for t in tasks),
                "rows": ev.python_input_rows(ev.execs_of(tile)),
                "ratio": straggler_ratio(stages(tile)),
                "cpu_ms": sum(t["cpu_ns"] for t in tasks) / 1e6,
                "run_ms": sum(t["run_ms"] for t in tasks),
                "driver": wall(s) - ev.job_wall_s(js)})
        m["tileagg.s_per_op"] = median([p["s"] for p in per])
        m["tileagg.shuffle_bytes_per_op"] = median([p["shuffle"] for p in per])
        m["tileagg.python_rows_per_op"] = median([p["rows"] for p in per])
        m["tileagg.task_max_over_p50"] = median([p["ratio"] for p in per])
        m["tileagg.cpu_share"] = (sum(p["cpu_ms"] for p in per)
                                  / max(sum(p["run_ms"] for p in per), 1))
        m["plans.tilejob_driver_s"] = median([p["driver"] for p in per])

    # whole ops
    roots = [s for s in T.spans if s["parent"] is None and s["op"] in ok]
    if roots:
        js = jobs(roots)
        tasks = ev.tasks_of(js)
        m["spark.jobs_per_op"] = len(js) / len(roots)
        m["spark.gc_s_per_op"] = sum(t["gc_ms"] for t in tasks) / 1000 / len(roots)
        m["spark.spill_bytes"] = sum(t["spill"] for t in tasks)
        op_wall = sum(wall(s) for s in roots)
        m["trace.s_per_op"] = op_wall / len(roots)
        m["trace.layer_share"] = 1 - sum(T.self_time(s) for s in roots) / op_wall
    return {k: {"value": float(m[k]), "unit": PER_LAYER[k][0]} for k in PER_LAYER}
