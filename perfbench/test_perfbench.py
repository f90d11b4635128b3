"""The benchmark's own tests: the output checks catch corrupted outputs, and the
metric plumbing reads what it should. No Spark session is needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from perfbench import checks, inputs, run, workloads
from perfbench.sparkstats import metric_value
from perfbench.tracing import Tracer

SPANS_TYPE = pa.list_(
    pa.struct([("kind", pa.string()), ("text", pa.string()),
               ("media_ref", pa.string()), ("offset", pa.int32())])
)


def _as_output(flat: pa.Table) -> pa.Table:
    """Oracle flat rows → the (doc_id, spans) table the pipeline writes."""
    docs: dict[str, list] = {}
    for r in flat.to_pylist():
        docs.setdefault(r.pop("doc_id"), []).append(r)
    return pa.table({"doc_id": list(docs), "spans": pa.array(list(docs.values()), SPANS_TYPE)})


@pytest.fixture(scope="module")
def forms(tmp_path_factory):
    d = inputs.materialize(str(tmp_path_factory.mktemp("cache")), "forms_full", 3, 6)
    load = lambda n: pa.parquet.read_table(os.path.join(d, f"{n}.parquet"))  # noqa: E731
    return load("oracle_spans"), load("oracle_extracted")


def test_exact_output_passes(forms):
    spans, extracted = forms
    assert checks.span_failures(_as_output(spans), spans) == set()
    assert checks.extracted_failures(extracted, extracted) == set()


def test_permuted_span_list_is_failed(forms):
    spans, _ = forms
    out = _as_output(spans).to_pylist()
    victim = out[2]
    victim["spans"][0], victim["spans"][1] = victim["spans"][1], victim["spans"][0]
    got = pa.Table.from_pylist(out, schema=pa.schema([("doc_id", pa.string()), ("spans", SPANS_TYPE)]))
    assert checks.span_failures(got, spans) == {victim["doc_id"]}


def test_missing_extra_and_duplicate_documents_are_failed(forms):
    spans, _ = forms
    out = _as_output(spans).to_pylist()
    missing = out.pop(0)["doc_id"]
    extra = dict(out[0], doc_id="not-in-input")
    dup = out[1]
    got = pa.Table.from_pylist(out + [extra, dup],
                               schema=pa.schema([("doc_id", pa.string()), ("spans", SPANS_TYPE)]))
    assert checks.span_failures(got, spans) == {missing, "not-in-input", dup["doc_id"]}


def test_changed_extracted_value_is_failed(forms):
    _, extracted = forms
    rows = extracted.to_pylist()
    rows[4]["word_ids"] = [rows[4]["word_ids"][0] + 1]
    rows.append(dict(rows[0], field_path="order_date", value="", word_ids=[7], confidence=0.0))
    got = pa.Table.from_pylist(rows, schema=extracted.schema)
    assert checks.extracted_failures(got, extracted) == {rows[4]["doc_id"], rows[0]["doc_id"]}


def test_grid_text_and_offsets():
    oracle = pa.table({"doc_id": ["1", "2", "3"], "text": ["a b  c", "d e", "f"]})
    spans = [[{"kind": "text", "text": t, "media_ref": None, "offset": i}
              for i, t in enumerate(s.split())] for s in ("a b c", "e d", "f")]
    spans[2][0]["offset"] = 1
    got = pa.table({"doc_id": ["1", "2", "3"], "spans": pa.array(spans, SPANS_TYPE)})
    assert checks.grid_failures(got, oracle) == {"2", "3"}


def test_planned_pdf_rejections_have_no_oracle_rows(tmp_path):
    d = inputs.materialize(str(tmp_path), "pdf_spans", 5, 60)
    plan = pa.parquet.read_table(os.path.join(d, "oracle_plan.parquet")).to_pandas()
    spans = pa.parquet.read_table(os.path.join(d, "oracle_spans.parquet")).to_pandas()
    assert set(spans["doc_id"]) == set(plan.loc[plan["plan"] == "ok", "doc_id"])
    # a rejected document that shows up in the output is counted as failed
    rejected = plan.loc[plan["plan"] != "ok", "doc_id"].iloc[0]
    out = _as_output(pa.Table.from_pandas(spans, schema=inputs.SPANS_FLAT, preserve_index=False))
    bogus = pa.table({"doc_id": [rejected], "spans": pa.array([[{"kind": "text", "text": "x",
                      "media_ref": None, "offset": 0}]], SPANS_TYPE)})
    assert checks.span_failures(pa.concat_tables([out, bogus]), pa.Table.from_pandas(
        spans, schema=inputs.SPANS_FLAT, preserve_index=False)) == {rejected}


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = inputs.materialize(str(tmp_path / "a"), "grid_resume", 9, 50)
    b = inputs.materialize(str(tmp_path / "b"), "grid_resume", 9, 50)
    c = inputs.materialize(str(tmp_path / "c"), "grid_resume", 10, 50)
    read = lambda d: pa.parquet.read_table(os.path.join(d, "input.parquet"))  # noqa: E731
    assert read(a).equals(read(b))
    assert not read(a).equals(read(c))


def test_self_time_subtracts_covered_child_time():
    tr = Tracer("r")
    with tr.span("root") as root:
        pass
    root.start, root.end = 0.0, 10.0
    for lo, hi in ((1.0, 3.0), (2.0, 4.0), (6.0, 7.0)):
        with tr.span("child") as c:
            pass
        c.parent, c.start, c.end = root.id, lo, hi
    assert tr.self_time(root) == pytest.approx(6.0)
    assert tr.totals("child") == (pytest.approx(5.0), 3)


def test_split_counts_checkpoint_spans_and_leaves_write_as_residual():
    tr = Tracer("r")
    with tr.span("plans.pipeline.run_spans_job") as job:
        with tr.span("plans.checkpoint.mark_done") as ck:
            pass
    job.start, job.end, ck.start, ck.end = 0.0, 10.0, 8.0, 9.0
    with tr.span("plans.checkpoint.done_buckets") as other:  # outside the job
        pass
    other.start, other.end = 11.0, 14.0
    m = {"operators.layout.spans_table_s": 6.0}
    workloads.Workload._split(None, tr, m, [job], ["operators.layout.spans_table_s"])
    assert m["trace.layer_spans_s"] == pytest.approx(7.0)
    assert m["plans.pipeline.write_s"] == pytest.approx(3.0)


@pytest.mark.parametrize("text,value", [
    ("total (min, med, max (stageId: taskId))\n5.0 s (456 ms, 2.0 s, 2.1 s (stage 3.0: task 2))", 5.0),
    ("total (min, med, max (stageId: taskId))\n1798.3 KiB (413.7 KiB, 464.5 KiB)", 1798.3 / 1024),
    ("738 ms", 0.738),
    ("2.2 MiB", 2.2),
])
def test_metric_value(text, value):
    assert metric_value(text) == pytest.approx(value)


def test_benchmark_json_matches_printed_metrics():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} <= set(inputs.SIZES)
