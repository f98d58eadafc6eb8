"""Workload inputs, output fingerprints and the untraced timed loop.

Inputs come from the engine's synthetic generator (sources/synth.py)
seeded by ``--seed``, generated in a child process while the JVM starts and
written to parquet inside the work directory before anything is timed,
so the timed job reads parquet the way production reads its span table.
The pipeline sees only those files and engine-default ``PipelineParams``.

Correctness: every timed rep writes the pipeline output to parquet.
Outside the timed region the driver reads it back and compares, per unit
(doc for spans, page for cells), the row count and a sum of null-safe
md5 row hashes with the same fingerprint of the generator's ground
truth. A unit whose fingerprint differs, is missing or is extra counts
as failed.
"""

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from host import (REPO_ROOT, WORK_DIR, cpu_steal_s, jvm_gc_seconds,
                  jvm_system_gc, peak_rss_gb, reset_peak_rss, tree_cpu)

sys.path.insert(0, REPO_ROOT)

# Corpus sizes fit one run (session start, inputs, cold rep, timed reps,
# shutdown) into about a minute on a 4-core host, so that ten seeds per
# workload, twice over, fit in an hour.
# pages per doc -> docs. The text mix is the generator's 80/15/5 % page
# distribution, the image mix bench.py's 1-2 pages per doc; both exactly,
# so every seed gives a corpus of the same size and shape.
TEXT_MIX = {1: 800, 4: 150, 16: 50}
TEXT_FILES = 16
IMAGE_MIX = {1: 60, 2: 60}
IMAGE_FILES = 16
# A steal burst on the shared host slows a rep by about half the stolen
# CPU seconds, more than the steal-adjusted wall takes off, and it slows
# the rep's CPU too. A rep during which more than this share of the
# guest's CPU was stolen is disturbed: it is checked but not measured
# unless every rep is. (Bursts outlast a rep: extra reps run after a
# disturbed one were disturbed too.)
STEAL_LIMIT = 0.10
# The second rep is still 5-12 % slower than the third on a 4-core host.
# With a window that fits one rep or two depending on the host's speed,
# runs would mix medians of one warming rep with medians of two, so every
# run times at least two.
MIN_TIMED_REPS = 2


@dataclass
class Workload:
    name: str
    units: str            # what one failing unit is: "docs" or "pages"
    n_docs: int
    n_pages: int
    n_units: int
    unit_cols: tuple      # fingerprint key of one unit
    value_cols: tuple     # output columns the fingerprint hashes
    expected: dict        # unit key -> (rows, hash sum)
    pipe: object          # PipelineParams
    input_dir: str
    tables: dict = None   # name -> input DataFrame the traced run starts from
    run_once: object = None  # () -> DataFrame of the pipeline output


def fresh_dir(*parts):
    path = os.path.join(WORK_DIR, *parts)
    shutil.rmtree(path, ignore_errors=True)
    return path


def failed_units(wl, got):
    """Units missing, extra or different against the ground truth."""
    keys = set(wl.expected) | set(got)
    return sum(1 for k in keys if wl.expected.get(k) != got.get(k))


def pipeline_params(params):
    from pdftabextract_spark.plans.pipeline import PipelineParams
    return PipelineParams(n_cols=params.n_cols,
                          min_col_width=params.min_col_width,
                          min_row_height=params.min_row_height)


class _CaptureSession:
    """Stands in for a SparkSession so that a ``synth.*_df`` builder hands
    back its generator function and output schema instead of a DataFrame:
    the inputs come from the engine's own generator code, run outside
    Spark while the JVM starts."""

    def range(self, n):
        self.n = n
        return self

    def mapInPandas(self, fn, schema):
        return fn, schema, self.n


_ARROW = {"string": pa.string(), "int": pa.int32(), "bigint": pa.int64(),
          "long": pa.int64(), "double": pa.float64(), "binary": pa.binary()}


def _split_top(s):
    """Split on commas outside <...>."""
    out, depth, cur = [], 0, ""
    for ch in s:
        depth += (ch == "<") - (ch == ">")
        if ch == "," and depth == 0:
            out.append(cur)
            cur = ""
        else:
            cur += ch
    return out + [cur]


def _arrow_type(t):
    t = t.strip()
    if t.startswith("array<"):
        return pa.list_(_arrow_type(t[6:-1]))
    if t.startswith("struct<"):
        return pa.struct(_arrow_fields(t[7:-1]))
    return _ARROW[t]


def _arrow_fields(ddl):
    fields = []
    for part in _split_top(ddl):
        name, typ = part.strip().split(" ", 1)
        fields.append(pa.field(name, _arrow_type(typ)))
    return fields


def doc_indices(params, mix):
    """The first doc indices of the seed's generator stream whose page
    counts fill ``mix`` (pages per doc -> docs). A corpus of the first
    n docs would vary in pages by about 5 % from seed to seed."""
    from pdftabextract_spark.sources import synth
    need, out, i = dict(mix), [], 0
    while any(need.values()):
        n = synth._n_pages(synth._doc_rng(params, i), params.page_dist)
        if need.get(n):
            need[n] -= 1
            out.append(i)
        i += 1
    return np.array(out)


def _generate(builder, params, ids):
    fn, ddl, _ = builder(_CaptureSession(), params)
    frames = list(fn(iter([pd.DataFrame({"id": ids})])))
    return pd.concat(frames, ignore_index=True), ddl


def _write_parquet(pdf, ddl, path, n_files):
    """Contiguous row slices, one parquet file each, typed by the DDL."""
    table = pa.Table.from_pandas(pdf, schema=pa.schema(_arrow_fields(ddl)),
                                 preserve_index=False)
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _row_hash(values):
    s = "\x1f".join("\x00" if v is None else str(v) for v in values)
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def fingerprint(table, unit_cols, value_cols):
    """unit key -> (rows, sum of md5 row hashes) over an Arrow table, so
    the ground truth and the parquet the pipeline wrote are compared as
    the same Python values (nulls hashed distinctly)."""
    cols = [table.column(c).to_pylist() for c in (*unit_cols, *value_cols)]
    n_key, out = len(unit_cols), {}
    for row in zip(*cols):
        key = row[:n_key]
        rows, hsum = out.get(key, (0, 0))
        out[key] = (rows + 1, hsum + _row_hash(row[n_key:]))
    return out


def output_fingerprint(wl, path):
    """Fingerprint of the parquet output under ``path`` (hive bucket
    directories included), read in the driver without Spark."""
    cols = [*wl.unit_cols, *wl.value_cols]
    return fingerprint(pq.read_table(path, columns=cols), wl.unit_cols,
                       wl.value_cols)


def text_params(seed):
    from pdftabextract_spark.sources import synth
    return synth.CorpusParams(seed=seed, n_docs=sum(TEXT_MIX.values()),
                              n_cols=6)


def image_params(seed):
    """Upright pages. With a 1 degree rotation injected, the engine gets
    some pages wrong on about one seed in ten (README.md, "Failures the
    benchmark shows"); with 2 degrees, about a quarter of all pages.
    Every operation of a workload must succeed, so the rotation is left
    out until the engine handles it."""
    from pdftabextract_spark.sources import synth
    return synth.CorpusParams(seed=seed, n_docs=sum(IMAGE_MIX.values()),
                              n_cols=5, with_images=True, rotation_deg=0.0,
                              page_dist=((1, 0.5), (2, 0.5)))


UNITS = {  # kind: (unit name, unit key, hashed output columns)
    "text": ("docs", ("doc_id",), ("kind", "text", "media_ref", "offset")),
    "image": ("pages", ("doc_id", "page"), ("row_idx", "col_idx", "cell_text")),
}


def start_generation(kind, seed):
    """Start ``generate_inputs`` in a child process (it needs no JVM, so
    it overlaps the session start)."""
    return subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), kind, str(seed)],
        stdout=subprocess.PIPE, text=True)


def finish_generation(proc):
    out, _ = proc.communicate()
    if proc.returncode != 0:
        raise RuntimeError(f"input generation failed (exit {proc.returncode})")
    g = json.loads(out)
    n_key = len(UNITS[g["kind"]][1])
    g["expected"] = {tuple(e[:n_key]): (e[n_key], e[n_key + 1])
                     for e in g["expected"]}
    return g


def generate_inputs(kind, seed):
    """The set-up half that needs no JVM. Writes every input table to
    parquet under the work directory and returns the counts and the
    ground-truth fingerprint."""
    from pdftabextract_spark.sources import synth

    base = fresh_dir("inputs", kind)
    _, unit, values = UNITS[kind]
    if kind == "text":
        params, mix = text_params(seed), TEXT_MIX
        tables = (("span_docs", synth.span_docs_df, TEXT_FILES),)
        truth = synth.expected_spans_df
    else:
        params, mix = image_params(seed), IMAGE_MIX
        tables = (("boxes", synth.textboxes_df, IMAGE_FILES),
                  ("pages", synth.pages_df, 4),
                  ("media", synth.media_df, IMAGE_FILES))
        truth = synth.gt_cells_df
    ids = doc_indices(params, mix)
    for name, builder, files in tables:
        pdf, ddl = _generate(builder, params, ids)
        _write_parquet(pdf, ddl, os.path.join(base, name), files)
    expected, ddl = _generate(truth, params, ids)
    n_pages = sum(n * docs for n, docs in mix.items())
    n_units = params.n_docs if kind == "text" else n_pages
    expected = pa.Table.from_pandas(expected, schema=pa.schema(_arrow_fields(ddl)),
                                    preserve_index=False)
    return {"kind": kind, "n_docs": params.n_docs, "n_pages": n_pages,
            "n_units": n_units, "input_dir": base,
            "expected": [[*k, rows, hsum] for k, (rows, hsum)
                         in fingerprint(expected, unit, values).items()]}


def make_workload(spark, kind, seed, generated):
    params = text_params(seed) if kind == "text" else image_params(seed)
    units, unit, values = UNITS[kind]
    wl = Workload(
        name=kind, units=units, n_docs=generated["n_docs"],
        n_pages=generated["n_pages"], n_units=generated["n_units"],
        unit_cols=unit, value_cols=values, pipe=pipeline_params(params),
        input_dir=generated["input_dir"],
        expected=generated["expected"])
    bind(spark, wl)
    return wl


def bind(spark, wl):
    """Point the workload's pipeline at its input files through ``spark``."""
    from pdftabextract_spark.plans.pipeline import (
        extract_cells_image_path, extract_from_span_table)
    names = ("span_docs",) if wl.name == "text" else ("boxes", "pages", "media")
    wl.tables = {n: spark.read.parquet(os.path.join(wl.input_dir, n))
                 for n in names}
    t, pipe = wl.tables, wl.pipe
    if wl.name == "text":
        wl.run_once = lambda: extract_from_span_table(t["span_docs"], pipe)
    else:
        wl.run_once = lambda: extract_cells_image_path(
            t["boxes"], t["pages"], t["media"], pipe)


def timed_rep(spark, wl):
    """One rep. Untimed before it: cache cleared, heap collected, peak RSS
    reset. Timed: the pipeline written to parquet, as production writes
    its output (wall, process-tree CPU, JVM GC, hypervisor steal).
    Untimed after it: the written output read back and checked."""
    spark.catalog.clearCache()
    jvm_system_gc(spark)
    reset_peak_rss()
    out = fresh_dir("output", wl.name)
    gc0, steal0 = jvm_gc_seconds(spark), cpu_steal_s()
    cpu0 = tree_cpu()[0]
    t0 = time.perf_counter()
    wl.run_once().write.parquet(out)
    wall = time.perf_counter() - t0
    rep = {"start": t0, "cpu_start": cpu0, "wall_s": wall,
           "cpu_s": tree_cpu()[0] - cpu0,
           "gc_s": jvm_gc_seconds(spark) - gc0,
           "steal_s": cpu_steal_s() - steal0, "rss_gb": peak_rss_gb()}
    rep["failed"] = failed_units(wl, output_fingerprint(wl, out))
    return rep


def disturbed(rep, cores):
    """The hypervisor stole more than STEAL_LIMIT of the guest's CPU
    capacity during the rep."""
    return rep["steal_s"] > STEAL_LIMIT * cores * rep["wall_s"]


def measure(spark, wl, seconds, cores):
    """One cold rep, always discarded: it pays JIT compilation, Python
    worker start and imports, and first touch of memory. Then timed reps
    until ``seconds`` have passed since the first of them started, and at
    least MIN_TIMED_REPS of them.
    Returns (cold rep, timed reps, the undisturbed ones or, if none, all)."""
    cold = timed_rep(spark, wl)
    timed = [timed_rep(spark, wl)]
    while (len(timed) < MIN_TIMED_REPS
           or time.perf_counter() - timed[0]["start"] < seconds):
        timed.append(timed_rep(spark, wl))
    clean = [r for r in timed if not disturbed(r, cores)]
    return cold, timed, clean or timed


def steal_adjusted_wall(rep, cores):
    """Rep wall minus the guest's stolen CPU time spread over its cores."""
    return rep["wall_s"] - rep["steal_s"] / cores


def e2e_metrics(wl, cold, reps, cores):
    """Wall rates (what a user waits for, less hypervisor steal), CPU
    cost per page, peak memory and set-up CPU (see README.md)."""
    wall = statistics.median(steal_adjusted_wall(r, cores) for r in reps)
    cpu = statistics.median(r["cpu_s"] for r in reps)
    return {
        "docs_per_s": {"value": wl.n_docs / wall, "unit": "docs/s"},
        "pages_per_s": {"value": wl.n_pages / wall, "unit": "pages/s"},
        "pages_per_cpu_s": {"value": wl.n_pages / cpu, "unit": "pages/cpu-s"},
        "peak_rss_gb": {"value": max(r["rss_gb"] for r in reps), "unit": "GB"},
        # process-tree CPU from process start to the end of the cold rep
        "setup_s": {"value": cold["cpu_start"] + cold["cpu_s"], "unit": "s"},
    }


if __name__ == "__main__":
    print(json.dumps(generate_inputs(sys.argv[1], int(sys.argv[2]))))
