"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q

They pin that BENCHMARK.json and ``spec.py`` agree, that inputs are a
pure function of the seed, and that a corrupted output is counted as a
failed job.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import inputs, jobs, run, spec
from perfbench.trace import Span, Tracer, parse_metric

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_spec():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in b["workloads"]} <= set(spec.WORKLOADS)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in b["workloads"])
    assert [m["name"] for m in b["end_to_end"]] == list(spec.END_TO_END)
    assert all(spec.PER_LAYER[m["name"]][0] == m["unit"] for m in b["per_layer"])
    # every workload and every traced layer is benchmarked and reported
    assert [w["name"] for w in b["workloads"]] == list(spec.WORKLOADS)
    listed = {m["name"] for m in b["per_layer"]}
    assert listed == set(spec.PER_LAYER)
    assert {f"{mod}.self_s" for mod in spec.TRACED} <= listed
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert set(spec.LAYER_MAP) == {"core.session", "streaming.stream", *spec.TRACED}


def test_inputs_are_a_function_of_the_seed():
    a_docs, a_emb, a_props = inputs.make_documents(7, 400)
    b_docs, b_emb, _ = inputs.make_documents(7, 400)
    c_docs, _, _ = inputs.make_documents(8, 400)
    assert a_docs.equals(b_docs) and a_emb.equals(b_emb)
    assert not a_docs.equals(c_docs)
    for k, share in inputs.DOC_SHARES.items():
        assert a_props["shares_measured"][k] == pytest.approx(share, abs=0.005)
    ev1, p1 = inputs.make_events(7, 5000, 300)
    ev2, _ = inputs.make_events(7, 5000, 300)
    assert ev1.equals(ev2)
    assert p1["hot_entity_share"] == pytest.approx(inputs.HOT_ENTITY_SHARE, abs=0.001)


def test_tokenizer_matches_engine_spec():
    # (ord('a')*131 + 1*7 + ord('a')) % 32768 for the one-letter word 'a'
    assert inputs.tokenize("a  bc ") == [(97 * 131 + 7 + 97) % 32768, (98 * 131 + 14 + 99) % 32768]
    assert inputs.tokenize("   ") == []


def test_parse_metric():
    assert parse_metric("1,234") == 1234
    assert parse_metric("0.0 B") == 0
    assert parse_metric("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, ...)") == 2048
    assert parse_metric("total (min, med, max)\n1.5 s (0.5 s)") == 1.5
    assert parse_metric("880 ms") == pytest.approx(0.88)


def test_self_time_subtracts_children():
    spans = [
        Span(id=0, name="a.f", job=1, parent=None, start=0.0, end=10.0),
        Span(id=1, name="b.g", job=1, parent=0, start=1.0, end=4.0),
        Span(id=2, name="b.h", job=1, parent=0, start=5.0, end=6.0, excluded_s=0.5),
    ]
    assert Tracer.self_times(spans) == {0: 10.0 - 3.0 - 0.5, 1: 3.0, 2: 0.5}


# -- corrupted outputs are failures -----------------------------------------

def _extract_case():
    toks = {"doc_1": list(range(40)), "doc_2": [5, 9, 5, 9, 1]}
    sampled = {
        d: [(f["frame_id"], f["frame_tokens"], f["features"])
            for f in jobs.oracle.frame_features(t, spec.FRAME_LEN, spec.HOP)]
        for d, t in toks.items()
    }
    return {d: list(t) for d, t in toks.items()}, toks, (1, 1), sampled


def test_check_extract_accepts_correct_and_rejects_corrupt():
    rec, exp, n_bad, sampled = _extract_case()
    assert jobs.check_extract(rec, exp, n_bad, sampled) == []
    rec["doc_1"][3] += 1
    assert jobs.check_extract(rec, exp, n_bad, sampled)
    rec, exp, n_bad, sampled = _extract_case()
    fid, ft, feat = sampled["doc_2"][0]
    sampled["doc_2"][0] = (fid, ft, [x + 1.0 for x in feat])
    assert jobs.check_extract(rec, exp, n_bad, sampled)
    rec, exp, n_bad, sampled = _extract_case()
    assert jobs.check_extract(rec, exp, (0, 1), sampled)


def _pit_case():
    # (ts_us, event_id, value, is_view)
    events = [(10, 3, 1.5, False), (20, 1, None, True), (30, 2, 2.25, False),
              (40, 0, None, True), (40 + 1801 * 10**6, 4, None, True)]
    states = [(7, t, s, v) for t, s, v, iv in events if not iv]
    probes = [(t, s) for t, s, _, iv in events if iv]
    asof_out = {s: jobs.oracle.asof([(7, t)], states)[0] for t, s in probes}
    rows = [(7, t, s, v) for t, s, v, _ in events]
    backfill = dict(zip([r[2] for r in rows], jobs.oracle.backfill(rows)))
    sessions = jobs.expected_sessions([(t, s, v) for t, s, v, _ in events])
    ent = {7: {"events": events, "probes": probes, "asof_auto": dict(asof_out),
               "asof_range": dict(asof_out), "backfill": backfill, "sessions": sessions}}
    counts = {"asof_auto": 3, "asof_range": 3, "backfill": 5, "sessions": 2}
    return counts, dict(counts), ent


def test_check_pit_accepts_correct_and_rejects_corrupt():
    counts, want, ent = _pit_case()
    assert jobs.check_pit(counts, want, ent) == []
    assert len(ent[7]["sessions"]) == 2
    counts["backfill"] = 4
    assert jobs.check_pit(counts, want, ent)
    counts, want, ent = _pit_case()
    ent[7]["asof_range"][0] = 9.0
    assert jobs.check_pit(counts, want, ent)
    counts, want, ent = _pit_case()
    ent[7]["backfill"][1] = None
    assert jobs.check_pit(counts, want, ent)
    counts, want, ent = _pit_case()
    s = ent[7]["sessions"][0]
    ent[7]["sessions"][0] = (*s[:4], 9.99)
    assert jobs.check_pit(counts, want, ent)


def test_check_corpus_rejects_resume_drift_and_twin_mismatch():
    report = {"after_exact_dedup": 3, "packed": 2, "resumed_stages": []}
    ref = {"stages": {"after_exact_dedup": 3, "packed": 2}, "digest": "d"}
    ids = {"doc_1", "doc_2", "doc_3"}
    assert jobs.check_corpus(report, "d", ref, ids, set(ids)) == []
    assert jobs.check_corpus({**report, "resumed_stages": ["packed"]}, "d", ref, ids, ids)
    assert jobs.check_corpus(report, "other", ref, ids, ids)
    assert jobs.check_corpus({**report, "packed": 1}, "d", ref, ids, ids)
    assert jobs.check_corpus(report, "d", ref, ids, ids - {"doc_2"})


def test_check_stream_rejects_missing_and_corrupt_frames():
    twin = {("doc_1", 0): ([1, 2, 3], [0.5, 1.0]), ("doc_1", 1): ([3, 4, 5], [0.25, 2.0])}
    assert jobs.check_stream(dict(twin), twin) == []
    assert jobs.check_stream({("doc_1", 0): twin[("doc_1", 0)]}, twin)
    assert jobs.check_stream({**twin, ("doc_1", 1): ([3, 4, 6], [0.25, 2.0])}, twin)
    assert jobs.check_stream({**twin, ("doc_1", 1): ([3, 4, 5], [0.25, 2.5])}, twin)


def test_stream_counts_uncommitted_files_and_failed_checks():
    created = {0: 1.0, 1: 2.0, 2: 3.0}
    assert run.stream_failed(created, {0: 1.5, 1: 2.5, 2: 3.5}, []) == 0
    assert run.stream_failed(created, {0: 1.5, 1: 2.5}, []) == 1
    assert run.stream_failed(created, {0: 1.5, 1: 2.5, 2: 3.5}, ["corrupted"]) == 3


class _Catalog:
    def clearCache(self):  # noqa: N802
        pass


class _Spark:
    catalog = _Catalog()


class _Ctx:
    spark = _Spark()

    def __init__(self, tmp):
        self.tmp = str(tmp)


class _Workload:
    rows = 10

    def __init__(self, corrupt):
        self.corrupt = corrupt

    def job(self, ctx, out):
        os.makedirs(out)
        return {"out_bytes": 100}

    def check(self, ctx, out, res):
        assert os.path.isdir(out)  # checks read the job's own output
        return ["corrupted"] if self.corrupt else []


def test_failed_check_counts_as_failed_job(tmp_path):
    ctx = _Ctx(tmp_path)
    good = run.run_batch_job(_Workload(False), ctx, 0)
    bad = run.run_batch_job(_Workload(True), ctx, 1)
    assert good["ok"] and not bad["ok"]
    assert not os.path.exists(os.path.join(ctx.tmp, "jobs", "1"))  # removed after its check
    metrics, attempted, failed = run.batch_metrics(_Workload(False), [good, bad, good], [bad, good])
    assert (attempted, failed) == (3, 1)
    assert metrics["job_p50_s"] == good["wall_s"]  # failed jobs are not timed


def test_raising_job_counts_as_failed(tmp_path):
    class Boom(_Workload):
        def job(self, ctx, out):
            raise RuntimeError("boom")

    rec = run.run_batch_job(Boom(False), _Ctx(tmp_path), 0)
    assert not rec["ok"] and "boom" in rec["errors"][0]
