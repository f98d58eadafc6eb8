"""Kernel microbenches: the engine's numpy kernels timed alone, without
Spark, on fixed inputs built from the synthetic generator (seed 0, so
every workload and seed times the same inputs).

Each metric is the median milliseconds per call, with the pixels or
elements one call handles beside it.
"""

import math
import statistics
import time

import numpy as np

KERNEL_SEED = 0
MIN_CALLS = 3
BUDGET_S = 0.25  # per kernel, after MIN_CALLS


def _median_ms(fn, args_list):
    """Median wall ms over calls cycling through ``args_list``."""
    times, t_end, i = [], None, 0
    while len(times) < MIN_CALLS or time.perf_counter() < t_end:
        args = args_list[i % len(args_list)]
        t0 = time.perf_counter()
        fn(*args)
        times.append((time.perf_counter() - t0) * 1000.0)
        if t_end is None:
            t_end = time.perf_counter() + BUDGET_S
        i += 1
    return statistics.median(times)


def _image_inputs():
    from pdftabextract_spark.kernels.png import encode_png
    from pdftabextract_spark.sources import synth
    params = synth.CorpusParams(seed=KERNEL_SEED, n_docs=4, n_cols=5,
                                with_images=True, rotation_deg=1.0,
                                page_dist=((1, 1.0),))
    cols = synth.family_layout(params)
    pages = [synth.gen_doc(i, params, cols)[1][0] for i in range(params.n_docs)]
    return [encode_png(synth.render_page_image(p, cols)) for p in pages]


def _text_pages():
    from pdftabextract_spark.sources import synth
    params = synth.CorpusParams(seed=KERNEL_SEED, n_docs=20, n_cols=6)
    cols = synth.family_layout(params)
    out = []
    for i in range(params.n_docs):
        for p in synth.gen_doc(i, params, cols)[1]:
            boxes = np.array([b[:4] for b in p["boxes"] if b[2] > 0], dtype=float)
            out.append((boxes, cols, p["row_positions"]))
    return out


def _repair_case(n_centers, n_model=6, seed=KERNEL_SEED):
    """A 6-column model and a page whose detected centers hold the model's
    columns plus surplus spurious ones (the brute-force deletion search)."""
    rng = np.random.RandomState(seed + n_centers)
    model = np.concatenate([[0.0], np.cumsum(rng.randint(80, 201, n_model - 1))]).astype(float)
    extra = rng.uniform(model[0] + 5, model[-1] - 5, n_centers - n_model)
    base = np.sort(np.concatenate([model + rng.uniform(-4, 4, n_model), extra]))
    return base + 50.0, model


def run():
    from pdftabextract_spark.kernels import imgproc as K
    from pdftabextract_spark.kernels.clustering import (
        find_best_matching_array, find_clusters_1d_break_dist)
    from pdftabextract_spark.kernels.gridfit import assign_boxes_to_cells
    from pdftabextract_spark.kernels.raster import decode_raster

    m = {}
    pngs = _image_inputs()
    grays = [decode_raster(b, luma_only=True) for b in pngs]
    px = statistics.median(g.size for g in grays)
    m["kernels.decode_png_ms"] = _median_ms(
        lambda b: decode_raster(b, luma_only=True), [(b,) for b in pngs])
    m["kernels.decode_png_px"] = px
    edges = [K.canny_edges(g, 50, 150) for g in grays]
    m["kernels.canny_ms"] = _median_ms(K.canny_edges, [(g, 50, 150) for g in grays])
    m["kernels.canny_px"] = px
    # votes threshold as the image stage sets it: 0.2 x image width
    hough_args = [(e, 1.0, math.pi / 500, max(2, round(0.2 * e.shape[1])))
                  for e in edges]
    m["kernels.hough_ms"] = _median_ms(K.hough_lines, hough_args)
    m["kernels.hough_px"] = px
    lines = [K.classify_hough_lines(K.hough_lines(*a)) for a in hough_args]
    rot_args = [(lh, math.radians(0.5), math.radians(1.0), math.radians(0.5))
                for lh in lines]
    m["kernels.find_rotation_ms"] = _median_ms(
        lambda lh, a, b, c: K.find_rotation_or_skew(lh, a, b, omit_on_rot_thresh=c),
        rot_args)
    m["kernels.find_rotation_lines"] = statistics.median(len(lh) for lh in lines)

    pages = _text_pages()
    lefts = [(b[:, 0].copy(), 40.0) for b, _, _ in pages]
    m["kernels.cluster_1d_ms"] = _median_ms(find_clusters_1d_break_dist, lefts)
    m["kernels.cluster_1d_elems"] = statistics.median(len(v) for v, _ in lefts)
    ltrb = [(np.column_stack([b[:, 0], b[:, 1], b[:, 0] + b[:, 2], b[:, 1] + b[:, 3]]),
             cols - 10.0, rows - 8.0) for b, cols, rows in pages]
    m["kernels.assign_boxes_ms"] = _median_ms(assign_boxes_to_cells, ltrb)
    m["kernels.assign_boxes_elems"] = statistics.median(
        len(b) * (len(c) - 1) * (len(r) - 1) for b, c, r in ltrb)

    for n in (12, 18):
        m[f"kernels.repair_{n}c_ms"] = _median_ms(
            find_best_matching_array, [_repair_case(n)])
    return m
