"""Traced run: per-layer metrics measured from outside the engine.

Each layer's public function is called with its upstream already
materialized (persisted and counted, untimed) and its output goes to the
noop sink. Around each call the tracer records a span {name, start, end,
parent, run_id}, the process-tree CPU (JVM plus Python workers, and the
Python workers alone) and the Spark stage metrics of that call's jobs,
read from the UI REST API by job group. Spans stay in memory and are
written once, at the end, to the work directory.

The same run also times the untraced pipeline (the coverage and
overhead baseline), one undecomposed traced pipeline run (engine
totals) and the kernel microbenches; then the local[1] serial rate on
the text workload, and the checkpointed write path on the image one.
"""

import json
import math
import os
import shutil
import statistics
import time
import urllib.request
import uuid
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import functions as F

import host
import kernels
import workloads

MB = 1024.0 ** 2
# Optional steps start only if they should end by this many seconds after
# process start (estimated as 3 untraced walls); a run must end within 180.
DEADLINE_S = 160
CHECKPOINT_BUCKETS = 64


class Tracer:
    """Spans plus per-span stage metrics for one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.t0 = time.perf_counter()
        self.spans = []
        self._stack = []
        self._attach()

    def _attach(self):
        self.sc = self.spark.sparkContext
        ui = self.sc.uiWebUrl
        apps = self._get(ui + "/api/v1/applications", base=False)
        self.base = f"{ui}/api/v1/applications/{apps[0]['id']}"

    def rebind(self, spark):
        """Follow a restarted session (new SparkContext, new UI)."""
        self.spark = spark
        self._attach()

    def _get(self, url, base=True):
        with urllib.request.urlopen(self.base + url if base else url,
                                    timeout=30) as r:
            return json.load(r)

    @contextmanager
    def span(self, name, **attrs):
        """Time the body; attach CPU and the stage metrics of every job it
        ran (tagged with a job group named after the span)."""
        group = f"{self.run_id}:{name}:{len(self.spans)}"
        rec = {"name": name, "parent": self._stack[-1][0] if self._stack else None,
               "run_id": self.run_id, **attrs}
        self._stack.append((name, group))
        self.sc.setJobGroup(group, name)
        cpu0, py0 = host.tree_cpu()
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            cpu1, py1 = host.tree_cpu()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1][1], self._stack[-1][0])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["wall_s"] = rec["end"] - rec["start"]
            rec["cpu_s"], rec["py_cpu_s"] = cpu1 - cpu0, py1 - py0
            rec["jobs"], rec["stages"] = self._group_stages(group)
            self.spans.append(rec)

    def _group_stages(self, group, timeout=15):
        """Completed stages of the group's jobs, once the UI has seen every
        job the status tracker knows about finish."""
        want = set(self.sc.statusTracker().getJobIdsForGroup(group))
        if not want:
            return 0, []
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] in want]
            done = [j for j in jobs if j["status"] != "RUNNING"]
            if len(done) == len(want) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        ids = {s for j in jobs for s in j["stageIds"]}
        return len(want), [s for s in self._get("/stages?status=complete")
                           if s["stageId"] in ids]

    def task_skew(self, stages):
        """max / median task run time of the stage that ran longest."""
        if not stages:
            return 0.0
        s = max(stages, key=lambda s: s["executorRunTime"])
        q = self._get(f"/stages/{s['stageId']}/{s['attemptId']}"
                      "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 1.0

    def write(self, path, extra):
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f,
                      indent=1, default=str)


def stage_totals(stages, key):
    return sum(s.get(key, 0) for s in stages)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def persist(df):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def write_and_fingerprint(wl, df, name):
    """Write ``df`` to parquet (untimed) and fingerprint what was written."""
    path = workloads.fresh_dir("output", name)
    df.write.parquet(path)
    return workloads.output_fingerprint(wl, path)


def untraced_reference(spark, wl, cores):
    """The timed loop's cold rep and its shortest run of timed reps; the
    median of their walls is what coverage and overhead are taken
    against."""
    cold, reps, _ = workloads.measure(spark, wl, 0, cores)
    return statistics.median(r["wall_s"] for r in reps), [cold, *reps]


def engine_totals(tr, wl, cores, ref_wall, m):
    """One undecomposed pipeline run into the parquet sink the untraced
    reps write to."""
    spark = tr.spark
    spark.catalog.clearCache()
    host.jvm_system_gc(spark)
    path = workloads.fresh_dir("output", "pipeline")
    with tr.span("pipeline") as rec:
        wl.run_once().write.parquet(path)
    got = workloads.output_fingerprint(wl, path)
    st = rec["stages"]
    m["spark.jobs"] = rec["jobs"]
    m["spark.stages"] = len(st)
    m["spark.tasks"] = stage_totals(st, "numCompleteTasks")
    m["spark.exec_run_s"] = stage_totals(st, "executorRunTime") / 1000.0
    m["spark.cpu_s"] = stage_totals(st, "executorCpuTime") / 1e9
    m["spark.py_cpu_s"] = rec["py_cpu_s"]
    m["spark.gc_s"] = stage_totals(st, "jvmGcTime") / 1000.0
    m["spark.shuffle_mb"] = stage_totals(st, "shuffleWriteBytes") / MB
    m["spark.spill_mb"] = stage_totals(st, "diskBytesSpilled") / MB
    m["spark.busy_frac"] = m["spark.exec_run_s"] / (rec["wall_s"] * cores)
    m["trace.overhead_s"] = rec["wall_s"] - ref_wall
    return workloads.failed_units(wl, got)


def text_layers(tr, spark, wl, m):
    """scan -> profiles -> model fit + repair -> assign+pack -> offsets."""
    from pdftabextract_spark.operators.clustering import page_profiles
    from pdftabextract_spark.operators.grid import assign_and_pack
    from pdftabextract_spark.operators.model import (
        fit_column_model_pooled, repair_page_centers)
    from pdftabextract_spark.plans.pipeline import result_spans_packed
    from pdftabextract_spark.sources.spans import (
        explode_spans, textboxes_from_spans)

    pipe, span_docs = wl.pipe, wl.tables["span_docs"]
    with tr.span("spans") as rec:
        noop(textboxes_from_spans(span_docs))
    m["spans.wall_s"], m["spans.cpu_s"] = rec["wall_s"], rec["cpu_s"]
    m["spans.rows_in"] = explode_spans(span_docs).where(F.col("kind") == "text").count()
    boxes = persist(textboxes_from_spans(span_docs))
    m["spans.rows_out"] = boxes.count()
    m["spans.dropped"] = m["spans.rows_in"] - m["spans.rows_out"]

    with tr.span("profiles") as rec:
        noop(page_profiles(boxes, pipe.col_break_dist, pipe.row_break_dist,
                           num_partitions=pipe.profile_partitions))
    layer_metrics("profiles", rec, m)
    m["profiles.task_skew"] = tr.task_skew(rec["stages"])
    profiles = persist(page_profiles(boxes, pipe.col_break_dist,
                                     pipe.row_break_dist,
                                     num_partitions=pipe.profile_partitions))
    m["profiles.pages"] = profiles.count()

    # pooled centers exactly as positions_fused builds them
    pooled = persist(profiles.select(F.explode(F.transform(
        "col_centers", lambda c: c - F.element_at("col_centers", 1)))
        .alias("center_norm")))
    m["model.pooled_centers"] = pooled.count()
    with tr.span("model.fit") as rec:
        model = fit_column_model_pooled(pooled, pipe.n_cols, pipe.model_break_dist)
    m["model.fit_s"] = rec["wall_s"]

    def repaired():
        return repair_page_centers(
            profiles, model, centers_col="col_centers",
            same_size_use_model_arr_diff_thresh=pipe.same_size_use_model_arr_diff_thresh)

    with tr.span("model.repair") as rec:
        noop(repaired())
    m["model.repair_s"] = rec["wall_s"]
    m["model.pages_repaired"] = profiles.where(
        F.size("col_centers") != pipe.n_cols).count()

    # page borders exactly as positions_fused assembles them
    pad_x, pad_y = float(pipe.pad_x), float(pipe.pad_y)
    positions = persist(repaired().select(
        "doc_id", "page",
        F.concat(F.transform("centers_fixed", lambda c: c - F.lit(pad_x)),
                 F.array(F.greatest(
                     F.col("max_right") + F.lit(pad_x),
                     F.element_at("centers_fixed", -1) + F.lit(2 * pad_x)))
                 ).alias("col_positions"),
        F.concat(F.transform("row_tops", lambda t: t - F.lit(pad_y)),
                 F.array(F.col("max_bottom") + F.lit(pad_y))
                 ).alias("row_positions")))
    with tr.span("grid") as rec:
        noop(assign_and_pack(boxes, positions, page_contiguous=True))
    layer_metrics("grid", rec, m)
    packed = persist(assign_and_pack(boxes, positions, page_contiguous=True))
    agg = packed.agg(F.sum("n_unmatched").alias("u"),
                     F.sum(F.size("cells")).alias("c")).first()
    m["grid.unmatched_boxes"], m["grid.cells"] = agg["u"], agg["c"]

    with tr.span("offsets") as rec:
        noop(result_spans_packed(packed))
    m["offsets.wall_s"] = rec["wall_s"]
    m["offsets.shuffle_mb"] = stage_totals(rec["stages"], "shuffleWriteBytes") / MB
    got = write_and_fingerprint(wl, result_spans_packed(packed), "layers")
    m["offsets.spans_out"] = sum(rows for rows, _ in got.values())
    failed = workloads.failed_units(wl, got)
    spark.catalog.clearCache()
    return ["spans", "profiles", "model.fit", "model.repair", "grid",
            "offsets"], failed


def image_layers(tr, spark, wl, m):
    """detect (decode+Canny+Hough+rotation) -> rotate boxes -> border
    centers -> model fit + repair -> row profiles -> grid."""
    from pdftabextract_spark.operators.clustering import page_profiles
    from pdftabextract_spark.operators.grid import assign_cells_joined, cell_texts
    from pdftabextract_spark.operators.imgstage import (
        apply_rotation_to_lines, detect_lines_with_rotation,
        line_border_centers, rotate_boxes_back)
    from pdftabextract_spark.operators.model import (
        fit_column_model, repair_page_centers)

    pipe = wl.pipe
    boxes, pages, media = (wl.tables[k] for k in ("boxes", "pages", "media"))
    boxes = boxes.where((F.col("width") > 0) & (F.col("height") > 0))
    # extract_cells_image_path's defaults: 0.5 / 1.0 / 0.5 degrees
    rotations, filtered = detect_lines_with_rotation(
        pages, media, math.radians(0.5), math.radians(1.0),
        omit_on_rot_thresh=math.radians(0.5), persist="persist",
        kernel_partitions=pipe.image_kernel_partitions)
    with tr.span("imgstage.detect") as rec:
        noop(rotations)
    m["imgstage.detect_s"] = rec["wall_s"]
    m["imgstage.detect_cpu_s"], m["imgstage.detect_py_cpu_s"] = rec["cpu_s"], rec["py_cpu_s"]
    m["imgstage.lines"] = filtered.count()
    counts = {r["rot_type"]: r["count"]
              for r in rotations.groupBy("rot_type").count().collect()}
    m["imgstage.rot_none"] = counts.get(None, 0)
    m["imgstage.rot_rotation"] = counts.get("r", 0)
    m["imgstage.rot_skew"] = counts.get("sx", 0) + counts.get("sy", 0)

    with tr.span("imgstage.rotate_boxes") as rec:
        noop(rotate_boxes_back(boxes, rotations))
    m["imgstage.rotate_boxes_s"] = rec["wall_s"]
    boxes_fixed = persist(rotate_boxes_back(boxes, rotations))

    lines_fixed = apply_rotation_to_lines(filtered)
    with tr.span("imgstage.border_centers") as rec:
        noop(line_border_centers(lines_fixed, pages, "v", pipe.col_break_dist))
    m["imgstage.border_centers_s"] = rec["wall_s"]
    centers = persist(line_border_centers(lines_fixed, pages, "v",
                                          pipe.col_break_dist))

    n_borders = pipe.n_cols + 1
    m["model.pooled_centers"] = centers.count()
    with tr.span("model.fit") as rec:
        model = fit_column_model(centers, n_borders, pipe.model_break_dist)
    m["model.fit_s"] = rec["wall_s"]
    # per-page centers exactly as fit_and_repair groups them
    per_page = persist(centers.groupBy("doc_id", "page").agg(
        F.array_sort(F.collect_list("center")).alias("centers")))
    with tr.span("model.repair") as rec:
        noop(repair_page_centers(per_page, model))
    m["model.repair_s"] = rec["wall_s"]
    m["model.pages_repaired"] = per_page.where(F.size("centers") != n_borders).count()
    cols = persist(repair_page_centers(per_page, model).select(
        "doc_id", "page", F.col("centers_fixed").alias("col_positions")))

    with tr.span("profiles") as rec:
        noop(page_profiles(boxes_fixed, pipe.col_break_dist, pipe.row_break_dist,
                           num_partitions=pipe.profile_partitions))
    layer_metrics("profiles", rec, m)
    m["profiles.task_skew"] = tr.task_skew(rec["stages"])
    prof = persist(page_profiles(boxes_fixed, pipe.col_break_dist,
                                 pipe.row_break_dist,
                                 num_partitions=pipe.profile_partitions))
    m["profiles.pages"] = prof.count()
    pad_y = float(pipe.pad_y)
    rows = prof.select("doc_id", "page", F.concat(
        F.transform("row_tops", lambda t: t - F.lit(pad_y)),
        F.array(F.col("max_bottom") + F.lit(pad_y))).alias("row_positions"))
    positions = persist(cols.join(rows, ["doc_id", "page"]))

    with tr.span("grid") as rec:
        noop(cell_texts(assign_cells_joined(boxes_fixed, positions), positions))
    layer_metrics("grid", rec, m)
    assigned = persist(assign_cells_joined(boxes_fixed, positions))
    m["grid.unmatched_boxes"] = assigned.where(F.col("row_idx") < 0).count()
    cells = persist(cell_texts(assigned, positions))
    m["grid.cells"] = cells.count()
    failed = workloads.failed_units(wl, write_and_fingerprint(wl, cells, "layers"))
    spark.catalog.clearCache()
    return ["imgstage.detect", "imgstage.rotate_boxes",
            "imgstage.border_centers", "model.fit", "model.repair",
            "profiles", "grid"], failed


def layer_metrics(name, rec, m):
    m[f"{name}.wall_s"] = rec["wall_s"]
    m[f"{name}.cpu_s"], m[f"{name}.py_cpu_s"] = rec["cpu_s"], rec["py_cpu_s"]
    m[f"{name}.shuffle_mb"] = stage_totals(rec["stages"], "shuffleWriteBytes") / MB


def checkpoint_path(tr, spark, wl, m):
    """The image corpus through run_with_checkpoint_image: the docs of half
    the buckets, a resume over the full corpus, then a call with nothing
    pending. Returns the pages of the merged output that differ."""
    from pdftabextract_spark.plans.checkpoint import run_with_checkpoint_image

    base = os.path.join(host.WORK_DIR, "checkpoint")
    shutil.rmtree(base, ignore_errors=True)
    out, progress = os.path.join(base, "out"), os.path.join(base, "progress")
    boxes, pages, media = (wl.tables[k] for k in ("boxes", "pages", "media"))
    # the bucket function run_with_checkpoint_image partitions by
    first = F.pmod(F.xxhash64("doc_id"), F.lit(CHECKPOINT_BUCKETS)) \
        < CHECKPOINT_BUCKETS // 2
    for name, b, p in (("first", boxes.where(first), pages.where(first)),
                       ("resume", boxes, pages), ("probe", boxes, pages)):
        spark.catalog.clearCache()
        with tr.span("checkpoint." + name) as rec:
            run_with_checkpoint_image(spark, b, p, media, wl.pipe, out,
                                      progress, n_buckets=CHECKPOINT_BUCKETS)
        m[f"checkpoint.{name}_s"] = rec["wall_s"]
    files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
             if f.endswith(".parquet")]
    m["checkpoint.files"] = len(files)
    m["checkpoint.write_mb"] = sum(os.path.getsize(f) for f in files) / MB
    m["checkpoint.progress_rows"] = spark.read.parquet(progress).count()
    return workloads.failed_units(wl, workloads.output_fingerprint(wl, out))


def serial_rate(tr, spark, wl, heap, m, ref_docs_per_s, cores):
    """Same corpus and call at local[1] in a new SparkContext (same JVM)."""
    spark.stop()
    spark = host.start_session(1, heap, ui=True)
    tr.rebind(spark)
    workloads.bind(spark, wl)
    # one rep: the JVM is warm, the new context's Python workers are not,
    # so the serial rate errs low and the efficiency high
    rep = workloads.timed_rep(spark, wl)
    m["scaling.serial_docs_per_s"] = wl.n_docs / rep["wall_s"]
    m["scaling.eff"] = ref_docs_per_s / (cores * m["scaling.serial_docs_per_s"])
    return spark, rep["failed"]


def run(spark, wl, args, cores, heap, t_start, per_layer):
    """The traced tour; ``per_layer`` maps every declared metric to its
    unit. Layers a workload does not use report 0."""
    tr = Tracer(spark)
    m, skipped = {}, []
    ref_wall, reps = untraced_reference(spark, wl, cores)
    info = {"untraced_rep_wall_s": [r["wall_s"] for r in reps],
            "rep_gc_s": [r["gc_s"] for r in reps]}
    attempted = wl.n_units * len(reps)
    failed = sum(r["failed"] for r in reps)
    m["trace.e2e_wall_s"] = ref_wall

    failed += engine_totals(tr, wl, cores, ref_wall, m)
    attempted += wl.n_units
    spark.catalog.clearCache()  # layers must not read the pipeline's cache
    layers = text_layers if wl.name == "text" else image_layers
    names, f = layers(tr, spark, wl, m)
    attempted, failed = attempted + wl.n_units, failed + f
    walls = {s["name"]: s["wall_s"] for s in tr.spans}
    m["trace.coverage"] = sum(walls[n] for n in names) / ref_wall

    with tr.span("kernels"):
        m.update(kernels.run())
    # the serial rep and the three checkpoint calls each cost about three
    # untraced walls; skip rather than overrun the time limit
    if time.perf_counter() - t_start + 3 * ref_wall > DEADLINE_S:
        skipped.append("scaling" if wl.name == "text" else "checkpoint")
    elif wl.name == "text":
        spark, f = serial_rate(tr, spark, wl, heap, m, wl.n_docs / ref_wall,
                               cores)
        attempted, failed = attempted + wl.n_units, failed + f
    else:
        f = checkpoint_path(tr, spark, wl, m)
        attempted, failed = attempted + wl.n_units, failed + f

    metrics = {k: {"value": float(m.get(k, 0.0)), "unit": u}
               for k, u in per_layer.items()}
    info["skipped"] = skipped
    os.makedirs(host.WORK_DIR, exist_ok=True)
    tr.write(os.path.join(host.WORK_DIR, f"trace-{args.workload}-{args.seed}.json"),
             {"workload": args.workload, "seed": args.seed, "cores": cores,
              "driver_heap_gb": heap, "metrics": m, **info})
    return {"spark": spark, "metrics": metrics, "attempted": attempted,
            "failed": failed, "info": info}
