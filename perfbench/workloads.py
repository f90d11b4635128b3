"""The three workloads: the job each timed repetition runs, its output check,
and the traced run that splits the job into its layers.

Every repetition is one closed-loop job through the pipeline's public entry
points (``plans.pipeline.run_full_job`` / ``run_spans_job``) on the workload's
generated parquet, written to a fresh output directory.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

from autoextract.operators import layout
from autoextract.operators.extract import extract_fields
from autoextract.plans import checkpoint
from autoextract.plans.pipeline import run_full_job, run_spans_job
from autoextract.schema import SHIPPING_SCHEMA
from autoextract.sources import pdf as pdfsrc

from . import checks

_CHECKPOINT_CALLS = ("done_buckets", "mark_done", "append_lineage")


def _noop(df) -> None:
    """Materialize ``df`` without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One workload bound to a session and its generated input directory."""

    name = ""
    n_buckets = 8

    def __init__(self, spark, data_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.input = os.path.join(data_dir, "input.parquet")
        with open(os.path.join(data_dir, "meta.json")) as f:
            self.n_docs = json.load(f)["docs"]

    def oracle(self, name: str):
        return pq.read_table(os.path.join(self.data_dir, f"{name}.parquet"))

    def words(self):
        """The ``ocr_words`` frame the job consumes (lazy)."""
        raise NotImplementedError

    def rep(self, out_dir: str) -> dict:
        raise NotImplementedError

    def check(self, out_dir: str, info: dict) -> tuple[set[str], list[str]]:
        """(ids of failed documents, run-level invariant violations)."""
        raise NotImplementedError

    # -- traced run ----------------------------------------------------
    def traced(self, tr, stats, work_dir: str) -> tuple[dict[str, float], set[str], list[str]]:
        """Run the job once with spans, then each layer call alone on
        materialized inputs. Returns (per-layer metrics, failed document ids,
        invariant violations). ``trace.traced_wall_s`` is the traced job's
        wall; ``trace.layer_spans_s`` sums the layer spans that split it (see
        ``_split``)."""
        raise NotImplementedError

    @contextmanager
    def _traced_checkpoints(self, tr, stats):
        """Spans (and job groups) around every ``CheckpointStore`` public call
        made while the pipeline runs; the job's other Spark jobs run under the
        ``plans.pipeline.job`` group."""
        store = checkpoint.CheckpointStore
        saved = {m: getattr(store, m) for m in _CHECKPOINT_CALLS}

        def wrapped(name, fn):
            def call(*args, **kwargs):
                stats.set_group(name)
                try:
                    with tr.span(name):
                        return fn(*args, **kwargs)
                finally:
                    stats.set_group("plans.pipeline.job")

            return call

        for m, fn in saved.items():
            setattr(store, m, wrapped(f"plans.checkpoint.{m}", fn))
        stats.set_group("plans.pipeline.job")
        try:
            yield
        finally:
            for m, fn in saved.items():
                setattr(store, m, fn)

    def _noop_rerun(self, tr, job) -> tuple[float, list[str]]:
        """Rerun the job over its finished output, which must process no
        bucket. ``job`` returns the buckets it processed per stage."""
        with tr.span("plans.pipeline.noop_rerun") as s:
            buckets = job()
        return s.duration, [f"rerun over finished output processed {buckets}"] if any(buckets) else []

    def _solo(self, tr, stats, name: str, action) -> float:
        """Time one layer call alone under its own span and job group."""
        stats.set_group(name)
        with tr.span(name) as s:
            action()
        return s.duration

    def _bucket_scan(self, tr, stats, df, bucket_sets) -> float:
        """``with_bucket`` plus the pending filter, materialized alone."""

        def scan():
            for b in bucket_sets:
                _noop(checkpoint.with_bucket(df, self.n_buckets)
                      .where(F.col("bucket").isin(sorted(b))).drop("bucket"))

        return self._solo(tr, stats, "plans.pipeline.bucket_scan", scan)

    def _split(self, tr, m: dict, jobs: list, layers: list[str]) -> None:
        """Split the traced job into layers. ``jobs`` are the spans of the
        pipeline calls one repetition makes; their children are the checkpoint
        spans. ``layers`` are the metrics of the solo layer calls that
        together redo the job's operator work. ``trace.layer_spans_s`` is the
        solo layers plus the job's checkpoint spans, and
        ``plans.pipeline.write_s`` is the residual: the job's self time minus
        the solo layers."""
        solo = sum(m[k] for k in layers)
        job_self = sum(tr.self_time(j) for j in jobs)
        m["trace.layer_spans_s"] = solo + sum(j.duration for j in jobs) - job_self
        m["plans.pipeline.write_s"] = job_self - solo

    def _spark_metrics(self, tr, stats, out_dir: str, calls, layout_call: str) -> dict[str, float]:
        """Spark's metrics for each timed call's job group, the checkpoint
        span totals, and the Python-boundary and shuffle metrics of the layout
        operator's call."""
        calls = [*calls, "plans.pipeline.job", *(f"plans.checkpoint.{c}" for c in _CHECKPOINT_CALLS)]
        groups = {c: stats.group(c) for c in calls}
        m = {}
        for call, g in groups.items():
            if g["failed_jobs"]:
                raise RuntimeError(f"{call}: {int(g['failed_jobs'])} Spark job(s) failed")
            m.update({f"{call}.{k}": g[k] for k in _CALL_KEYS})
        m.update({f"operators.layout.{k}": groups[layout_call][k] for k in _PY_KEYS + ("shuffle_write_mb",)})
        if "operators.extract.extract_fields" in groups:
            g = groups["operators.extract.extract_fields"]
            m.update({f"operators.extract.{k}": g[k] for k in ("python_total_s", "python_sent_mb")})
        for c in _CHECKPOINT_CALLS:
            total, n = tr.totals(f"plans.checkpoint.{c}")
            m[f"plans.checkpoint.{c}_s"], m[f"plans.checkpoint.{c}_calls"] = total, float(n)
        m["plans.checkpoint.files"] = float(sum(
            n.endswith(".parquet")
            for sub in ("_checkpoint", "_lineage")
            for _root, _dirs, names in os.walk(os.path.join(out_dir, sub))
            for n in names
        ))
        return m


_CALL_KEYS = ("cpu_s", "gc_s", "spill_mb", "records_in", "records_out")
_PY_KEYS = ("python_total_s", "python_boot_s", "python_sent_mb", "python_received_mb")


def page_metrics(words) -> dict[str, float]:
    """Reading-order kernel cost and input repetition, in process.

    Pages are keyed the way the kernel's geometry memo keys them: the page's
    (x0, y0, x1, y1) float64 bytes and its word_seq int32 bytes, in
    (doc, page, word_seq) order, after the empty-word filter.
    ``page_reading_order`` then runs once per distinct page, without a memo."""
    keep = pc.or_(
        pc.not_equal(words["kind"], "text"),
        pc.greater(pc.utf8_length(pc.utf8_trim_whitespace(words["content"])), 0),
    )
    w = words.filter(pc.fill_null(keep, True)).sort_by(
        [("doc_id", "ascending"), ("page", "ascending"), ("word_seq", "ascending")]
    )
    if "points" in w.column_names:
        pts = w["points"].combine_chunks()
        xy = np.asarray(pts.flatten().flatten(), dtype=np.float64).reshape(-1, 4, 2)
        boxes = np.stack(
            [xy[:, :, 0].min(1), xy[:, :, 1].min(1), xy[:, :, 0].max(1), xy[:, :, 1].max(1)], axis=1
        )
    else:
        boxes = np.stack([w[c].to_numpy().astype(np.float64) for c in ("x0", "y0", "x1", "y1")], axis=1)
    seqs = w["word_seq"].to_numpy().astype(np.int32)
    ids = w["doc_id"].to_numpy(zero_copy_only=False)
    pages = w["page"].to_numpy()
    n = len(seqs)
    cut = np.flatnonzero((ids[1:] != ids[:-1]) | (pages[1:] != pages[:-1])) + 1
    bounds = np.concatenate(([0], cut, [n]))
    distinct: dict = {}
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        key = (boxes[lo:hi].tobytes(), seqs[lo:hi].tobytes())
        distinct.setdefault(key, (boxes[lo:hi], seqs[lo:hi]))
    t0 = time.perf_counter()
    for sub, tb in distinct.values():
        layout.page_reading_order(sub, tiebreak=tb)
    kernel_s = time.perf_counter() - t0
    n_pages = len(bounds) - 1
    return {
        "operators.layout.pages": float(n_pages),
        "operators.layout.page_repeat_share": (n_pages - len(distinct)) / max(n_pages, 1),
        "operators.layout.kernel_us_per_page": kernel_s / max(len(distinct), 1) * 1e6,
    }


# ----------------------------------------------------------------------
class FormsFull(Workload):
    """Shipping forms → ``run_full_job``: order_words → persist →
    assemble_spans + extract_fields, two bucketed writes."""

    name = "forms_full"

    def words(self):
        return self.spark.read.parquet(self.input)

    def rep(self, out_dir: str) -> dict:
        r_s, r_e = run_full_job(self.spark, self.words(), SHIPPING_SCHEMA, out_dir, self.n_buckets)
        return {"buckets": [r_s.buckets_processed, r_e.buckets_processed]}

    def check(self, out_dir, info):
        failed = checks.span_failures(checks.read_table(out_dir, "spans"), self.oracle("oracle_spans"))
        failed |= checks.extracted_failures(
            checks.read_table(out_dir, "extracted"), self.oracle("oracle_extracted")
        )
        problems = []
        if info["buckets"] != [self.n_buckets] * 2:
            problems.append(f"processed buckets {info['buckets']}")
        return failed, problems

    def traced(self, tr, stats, work_dir):
        out_dir = os.path.join(work_dir, "traced")
        with self._traced_checkpoints(tr, stats):
            with tr.span("plans.pipeline.run_full_job") as job:
                info = self.rep(out_dir)
            rerun_s, problems = self._noop_rerun(tr, lambda: self.rep(out_dir)["buckets"])
        failed, probs = self.check(out_dir, info)
        words = self.words()
        m = {
            "trace.traced_wall_s": job.duration,
            "plans.pipeline.noop_rerun_s": rerun_s,
            "plans.pipeline.bucket_scan_s": self._bucket_scan(tr, stats, words, [range(self.n_buckets)]),
        }
        ordered = layout.order_words(words).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            m["operators.layout.order_words_s"] = self._solo(
                tr, stats, "operators.layout.order_words", ordered.count
            )
            m["plans.pipeline.persist_mb"] = stats.cached_mb()
            m["operators.layout.assemble_spans_s"] = self._solo(
                tr, stats, "operators.layout.assemble_spans", lambda: _noop(layout.assemble_spans(ordered))
            )
            m["operators.extract.extract_fields_s"] = self._solo(
                tr, stats, "operators.extract.extract_fields",
                lambda: _noop(extract_fields(ordered, SHIPPING_SCHEMA)),
            )
        finally:
            ordered.unpersist()
        self._split(tr, m, [job], [
            "operators.layout.order_words_s", "operators.layout.assemble_spans_s",
            "operators.extract.extract_fields_s",
        ])
        m.update(self._spark_metrics(tr, stats, out_dir, [
            "plans.pipeline.bucket_scan", "operators.layout.order_words",
            "operators.layout.assemble_spans", "operators.extract.extract_fields",
        ], "operators.layout.order_words"))
        m.update(page_metrics(pq.read_table(self.input)))
        return m, failed, problems + probs


class GridResume(Workload):
    """Word-grid documents → ``run_spans_job`` in ``only_buckets`` increments
    (a kill and resume), then one rerun over the finished output."""

    name = "grid_resume"
    n_buckets = 16
    steps = 2

    def words(self):
        import __spark_entry__ as entry

        return entry._docs_to_word_boxes(self.spark.read.parquet(self.input))

    def increments(self):
        per = self.n_buckets // self.steps
        return [set(range(k * per, (k + 1) * per)) for k in range(self.steps)]

    def rep(self, out_dir: str) -> dict:
        src = self.words()
        runs = [run_spans_job(self.spark, src, out_dir, self.n_buckets, only_buckets=b)
                for b in self.increments()]
        rerun = run_spans_job(self.spark, src, out_dir, self.n_buckets)
        return {"buckets": [r.buckets_processed for r in runs], "rerun_buckets": rerun.buckets_processed}

    def check(self, out_dir, info):
        oracle = self.oracle("oracle_text")
        failed = checks.grid_failures(checks.read_table(out_dir, "spans"), oracle)
        problems = []
        if info["rerun_buckets"] != 0:
            problems.append(f"rerun over finished output processed {info['rerun_buckets']} buckets")
        ckpt = checks.read_table(out_dir, "_checkpoint").to_pandas()
        if sorted(ckpt["bucket"]) != list(range(self.n_buckets)):
            problems.append(f"checkpointed buckets {sorted(ckpt['bucket'])}")
        lineage = checks.read_table(out_dir, "_lineage").to_pandas()
        n_words = int(pc.sum(pc.add(pc.count_substring(oracle["text"], " "), 1)).as_py())
        if int(lineage["input_rows"].sum()) != n_words:
            problems.append(f"lineage input_rows {int(lineage['input_rows'].sum())} != {n_words} words")
        if int(lineage["output_rows"].sum()) != self.n_docs:
            problems.append(f"lineage output_rows {int(lineage['output_rows'].sum())} != {self.n_docs} docs")
        return failed, problems

    def traced(self, tr, stats, work_dir):
        out_dir = os.path.join(work_dir, "traced")
        src = self.words()
        with self._traced_checkpoints(tr, stats):
            with tr.span("plans.pipeline.resume_job") as job:
                runs = []
                for b in self.increments():
                    with tr.span("plans.pipeline.run_spans_job"):
                        runs.append(run_spans_job(self.spark, src, out_dir, self.n_buckets, only_buckets=b))
                with tr.span("plans.pipeline.noop_rerun") as rerun_span:
                    rerun = run_spans_job(self.spark, src, out_dir, self.n_buckets)
        failed, problems = self.check(out_dir, {"buckets": [r.buckets_processed for r in runs],
                                                "rerun_buckets": rerun.buckets_processed})
        m = {
            "trace.traced_wall_s": job.duration,
            "plans.pipeline.noop_rerun_s": rerun_span.duration,
            "plans.pipeline.bucket_scan_s": self._bucket_scan(tr, stats, src, self.increments()),
        }
        grid_words = os.path.join(work_dir, "grid_words.parquet")
        stats.set_group("input.grid_words")
        src.write.mode("overwrite").parquet(grid_words)
        m["operators.layout.spans_table_s"] = self._solo(
            tr, stats, "operators.layout.spans_table",
            lambda: _noop(layout.spans_table(self.spark.read.parquet(grid_words))),
        )
        jobs = [s for s in tr.spans if s.name == "plans.pipeline.run_spans_job"] + [rerun_span]
        self._split(tr, m, jobs, ["plans.pipeline.bucket_scan_s", "operators.layout.spans_table_s"])
        m.update(self._spark_metrics(tr, stats, out_dir, [
            "plans.pipeline.bucket_scan", "operators.layout.spans_table",
        ], "operators.layout.spans_table"))
        m.update(page_metrics(pq.read_table(grid_words)))
        return m, failed, problems


#: payloads parsed in process for ``sources.pdf.parse_us_per_doc``
PARSE_SAMPLE = 1000


class PdfSpans(Workload):
    """Generated PDFs plus planned garbage, empty and over-cap payloads →
    ``run_spans_job(pdf_words_table(src))``."""

    name = "pdf_spans"

    def words(self):
        return pdfsrc.pdf_words_table(self.spark.read.parquet(self.input))

    def rep(self, out_dir: str) -> dict:
        r = run_spans_job(self.spark, self.words(), out_dir, self.n_buckets)
        return {"buckets": r.buckets_processed}

    def planned_rejections(self) -> int:
        return int(pc.sum(pc.not_equal(self.oracle("oracle_plan")["plan"], "ok")).as_py())

    def check(self, out_dir, info):
        failed = checks.span_failures(checks.read_table(out_dir, "spans"), self.oracle("oracle_spans"))
        problems = [] if info["buckets"] == self.n_buckets else [f"processed {info['buckets']} buckets"]
        return failed, problems

    def traced(self, tr, stats, work_dir):
        out_dir = os.path.join(work_dir, "traced")
        with self._traced_checkpoints(tr, stats):
            with tr.span("plans.pipeline.run_spans_job") as job:
                info = self.rep(out_dir)
            rerun_s, problems = self._noop_rerun(tr, lambda: [self.rep(out_dir)["buckets"]])
        failed, probs = self.check(out_dir, info)
        m = {"trace.traced_wall_s": job.duration, "plans.pipeline.noop_rerun_s": rerun_s}
        # the word table's solo call materializes it into the cache, and the
        # downstream calls read it from there
        words = self.words().persist(StorageLevel.MEMORY_AND_DISK)
        try:
            m["sources.pdf.words_table_s"] = self._solo(tr, stats, "sources.pdf.words_table", words.count)
            m["plans.pipeline.bucket_scan_s"] = self._bucket_scan(tr, stats, words, [range(self.n_buckets)])
            m["operators.layout.spans_table_s"] = self._solo(
                tr, stats, "operators.layout.spans_table", lambda: _noop(layout.spans_table(words))
            )
            stats.set_group("input.pdf_words")
            word_rows = words.toArrow()
        finally:
            words.unpersist()
        self._split(tr, m, [job], ["sources.pdf.words_table_s", "operators.layout.spans_table_s"])
        m.update(self._spark_metrics(tr, stats, out_dir, [
            "plans.pipeline.bucket_scan", "sources.pdf.words_table", "operators.layout.spans_table",
        ], "operators.layout.spans_table"))
        m.update(page_metrics(word_rows))
        # a payload the table contained yields no word rows
        rejected = self.n_docs - len(pc.unique(word_rows["doc_id"]))
        m["sources.pdf.rejected_docs"] = float(rejected)

        # the parser alone, in process, over the first PARSE_SAMPLE payloads
        src = pq.read_table(self.input).slice(0, PARSE_SAMPLE)
        with tr.span("sources.pdf.pdf_word_rows") as parse:
            for doc_id, payload in zip(src["doc_id"].to_pylist(), src["payload"].to_pylist()):
                try:
                    pdfsrc.pdf_word_rows(doc_id, payload or b"")
                except Exception:  # the pipeline contains these the same way
                    pass
        m["sources.pdf.parse_us_per_doc"] = parse.duration / len(src) * 1e6
        if rejected != self.planned_rejections():
            probs.append(f"{rejected} payloads rejected, {self.planned_rejections()} planned")
        return m, failed, problems + probs


WORKLOADS = {w.name: w for w in (FormsFull, GridResume, PdfSpans)}


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
