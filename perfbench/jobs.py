"""The user jobs and the checks of their outputs.

Each workload has ``prepare`` (inputs and expected values, before any
timing), ``job`` (the timed user job, writing into a fresh directory)
and ``check`` (run after the job and outside its time; returns a list of
problems, empty when the output is correct). The streaming leg of
``extract`` has ``prepare``, ``run`` (the whole open loop) and ``check``. The ``check_*`` functions
take plain Python data so the benchmark's tests can feed them corrupted
outputs.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import threading
import time
from urllib.parse import unquote

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from perfbench import inputs, spec
from tests import oracle

from audio_feature_extraction_spark.core.config import FrameSpec
from audio_feature_extraction_spark.operators import (
    asof,
    dedup,
    framing,
    sessionize,
    temporal,
    validate,
)
from audio_feature_extraction_spark.plans import corpus
from audio_feature_extraction_spark.sinks import snapshots, writers
from audio_feature_extraction_spark.sources import tokens as token_source
from audio_feature_extraction_spark.streaming import stream


def _read(path: str, columns=None, filt=None):
    return pads.dataset(path, format="parquet").to_table(columns=columns, filter=filt)


FRAME = FrameSpec(frame_len=spec.FRAME_LEN, hop=spec.HOP)


def _ts_us(col) -> list:
    return pc.cast(col, "int64").to_pylist()


# ---------------------------------------------------------------------------
# extract: load -> validate -> frame_features -> write_dataset -> reconstruct
# ---------------------------------------------------------------------------

def check_extract(
    reconstructed: dict, expected: dict, n_bad: int, sampled: dict
) -> list[str]:
    """``reconstructed``/``expected``: doc_id -> token list for every valid
    doc; ``n_bad``: (seen, expected) invalid-row counts; ``sampled``:
    doc_id -> list of (frame_id, frame_tokens, features) read back from
    the dataset, compared with ``tests/oracle.frame_features``."""
    errs = []
    if n_bad[0] != n_bad[1]:
        errs.append(f"validation dropped {n_bad[0]} rows, expected {n_bad[1]}")
    if reconstructed.keys() != expected.keys():
        errs.append(
            f"reconstructed {len(reconstructed)} docs, expected {len(expected)}"
        )
    bad = [d for d in expected if reconstructed.get(d) != expected[d]]
    if bad:
        errs.append(f"{len(bad)} docs reconstruct to other tokens, e.g. {bad[0]}")
    for d, frames in sampled.items():
        want = oracle.frame_features(expected[d], spec.FRAME_LEN, spec.HOP)
        got = sorted(frames)
        if [f[0] for f in got] != [w["frame_id"] for w in want]:
            errs.append(f"{d}: frame ids differ")
            continue
        for (fid, ftok, feat), w in zip(got, want):
            if list(ftok) != w["frame_tokens"] or not np.allclose(
                feat, w["features"], rtol=1e-6, atol=1e-6
            ):
                errs.append(f"{d} frame {fid}: features differ from the oracle")
                break
    return errs


class Extract:
    name = "extract"

    def __init__(self):
        self.stream = Stream()

    def prepare(self, ctx) -> None:
        n = spec.WORKLOADS["extract"]["size"]["docs"]
        self.src, props = inputs.ensure_documents(ctx.inputs_root, ctx.seed, n)
        ctx.input_props["documents"] = props
        docs = _read(os.path.join(self.src, "documents.parquet"), ["doc_id", "text"])
        toks = {
            f"doc_{i}": inputs.tokenize(t)
            for i, t in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist())
        }
        self.expected = {d: t for d, t in toks.items() if t}
        self.n_bad = len(toks) - len(self.expected)
        self.rows = len(toks)
        rng = np.random.default_rng([ctx.seed, 3])
        ids = sorted(self.expected)
        longest = max(ids, key=lambda d: len(self.expected[d]))
        self.sample = sorted(set(rng.choice(ids, 24, replace=False)) | {longest})

    def job(self, ctx, out: str) -> dict:
        ts = token_source.load_token_sequences(ctx.spark, self.src)
        valid, bad = validate.validate_token_sequences(ts)
        n_bad = bad.count()
        feats = framing.frame_features(valid)
        ds = os.path.join(out, "dataset")
        writers.write_dataset(feats, ds, frame_len=spec.FRAME_LEN, hop=spec.HOP)
        rec = writers.reconstruct_from_dataset(ctx.spark, ds)
        rec.write.parquet(os.path.join(out, "reconstructed"))
        return {"out_bytes": inputs.dir_bytes(ds), "n_bad": n_bad}

    def read_outputs(self, out: str, res: dict):
        rec = _read(os.path.join(out, "reconstructed"))
        reconstructed = dict(zip(rec.column("doc_id").to_pylist(), rec.column("tokens").to_pylist()))
        ds = _read(
            os.path.join(out, "dataset"),
            ["doc_id", "frame_id", "frame_tokens", "channels"],
            pc.field("doc_id").isin(self.sample),
        )
        sampled: dict = {d: [] for d in self.sample}
        mags = pc.struct_field(ds.column("channels"), [0]).to_pylist()
        for d, fid, ft, mag in zip(
            ds.column("doc_id").to_pylist(), ds.column("frame_id").to_pylist(),
            ds.column("frame_tokens").to_pylist(), mags,
        ):
            sampled[d].append((fid, ft, mag))
        return reconstructed, (res["n_bad"], self.n_bad), sampled

    def check(self, ctx, out: str, res: dict) -> list[str]:
        rec, n_bad, sampled = self.read_outputs(out, res)
        return check_extract(rec, self.expected, n_bad, sampled)


# ---------------------------------------------------------------------------
# pit: asof_join_auto, asof_join_range, session_summary, backfill
# ---------------------------------------------------------------------------

def expected_sessions(rows: list[tuple]) -> list[tuple]:
    """rows: (ts_us, event_id, value) of one entity -> session summaries
    (session_id, n_events, start_us, end_us, value_sum) via the oracle."""
    ids = oracle.sessionize([(0, t, s) for t, s, _ in rows], 1800.0)
    agg: dict = {}
    for (t, _, v), sid in zip(rows, ids):
        a = agg.setdefault(sid, [0, t, t, None])
        a[0] += 1
        a[1], a[2] = min(a[1], t), max(a[2], t)
        if v is not None:
            a[3] = (a[3] or 0) + round(v * 100)
    return [
        (sid, n, lo, hi, None if c is None else c / 100.0)
        for sid, (n, lo, hi, c) in sorted(agg.items())
    ]


def check_pit(counts: dict, expected_counts: dict, entities: dict) -> list[str]:
    """``counts``: output -> rows; ``entities``: entity -> dict with the
    entity's events, probes to check, and the outputs read back."""
    errs = [
        f"{k}: {counts.get(k)} rows, expected {v}"
        for k, v in expected_counts.items()
        if counts.get(k) != v
    ]
    for e, d in entities.items():
        states = [(e, t, s, v) for t, s, v, is_view in d["events"] if not is_view]
        for out in ("asof_auto", "asof_range"):
            got = d[out]
            for t, s in d["probes"]:
                want = oracle.asof([(e, t)], states)[0]
                if got.get(s, "missing") != want:
                    errs.append(f"{out} entity {e} probe {s}: {got.get(s, 'missing')} != {want}")
                    break
        rows = [(e, t, s, v) for t, s, v, _ in d["events"]]
        filled = oracle.backfill(rows)
        if any(d["backfill"].get(r[2], "missing") != f for r, f in zip(rows, filled)):
            errs.append(f"backfill entity {e} differs from the oracle")
        want = expected_sessions([(t, s, v) for t, s, v, _ in d["events"]])
        got = sorted(d["sessions"])
        if len(got) != len(want) or any(
            g[:4] != w[:4]
            or (g[4] is None) != (w[4] is None)
            or (g[4] is not None and abs(g[4] - w[4]) > 1e-6)
            for g, w in zip(got, want)
        ):
            errs.append(f"session_summary entity {e} differs from the oracle")
    return errs


class Pit:
    name = "pit"
    OUTPUTS = ("asof_auto", "asof_range", "sessions", "backfill")

    def prepare(self, ctx) -> None:
        size = spec.WORKLOADS["pit"]["size"]
        self.src, props = inputs.ensure_events(
            ctx.inputs_root, ctx.seed, size["events"], size["users"]
        )
        ctx.input_props["events"] = props
        ev = _read(os.path.join(self.src, "events.parquet"))
        users = ev.column("user_id").to_numpy()
        is_view = pc.equal(ev.column("event_type"), "view").to_numpy(zero_copy_only=False)
        self.rows = ev.num_rows
        by_user: dict = {}
        for u, t, s, v, iv in zip(
            users.tolist(), _ts_us(ev.column("ts")), ev.column("event_id").to_pylist(),
            ev.column("value").to_pylist(), is_view.tolist(),
        ):
            by_user.setdefault(u, []).append((t, s, v, iv))
        n_sessions = sum(
            len(expected_sessions([(t, s, v) for t, s, v, _ in rows]))
            for rows in by_user.values()
        )
        self.expected_counts = {
            "asof_auto": int(is_view.sum()), "asof_range": int(is_view.sum()),
            "backfill": self.rows, "sessions": n_sessions,
        }
        rng = np.random.default_rng([ctx.seed, 4])
        cold = sorted(u for u, r in by_user.items() if u != 0 and len(r) >= 5)
        self.entities = {}
        for u in [0, *rng.choice(cold, 8, replace=False).tolist()]:
            rows = by_user[u]
            probes = [(t, s) for t, s, _, iv in rows if iv]
            if len(probes) > 40:  # the oracle as-of is quadratic per entity
                probes = [probes[i] for i in sorted(rng.choice(len(probes), 40, replace=False))]
            self.entities[u] = {"events": rows, "probes": probes}

    def job(self, ctx, out: str) -> dict:
        from pyspark.sql import functions as F

        ev = ctx.spark.read.parquet(os.path.join(self.src, "events.parquet"))
        probes = ev.where(F.col("event_type") == "view")
        states = ev.where(F.col("event_type") != "view")
        asof.asof_join_auto(probes, states).write.parquet(os.path.join(out, "asof_auto"))
        asof.asof_join_range(probes, states).write.parquet(os.path.join(out, "asof_range"))
        sessionize.session_summary(ev).write.parquet(os.path.join(out, "sessions"))
        temporal.backfill(ev).write.parquet(os.path.join(out, "backfill"))
        return {"out_bytes": inputs.dir_bytes(out)}

    def read_outputs(self, out: str):
        counts = {
            k: pads.dataset(os.path.join(out, k), format="parquet").count_rows()
            for k in self.OUTPUTS
        }
        filt = pc.field("user_id").isin(list(self.entities))
        ents = {e: dict(d) for e, d in self.entities.items()}
        for k in ("asof_auto", "asof_range"):
            t = _read(os.path.join(out, k), ["user_id", "event_id", "asof_value"], filt)
            for e in ents:
                ents[e][k] = {}
            for u, s, v in zip(*(t.column(c).to_pylist() for c in ("user_id", "event_id", "asof_value"))):
                ents[u][k][s] = v
        t = _read(os.path.join(out, "backfill"), ["user_id", "event_id", "filled"], filt)
        for e in ents:
            ents[e]["backfill"], ents[e]["sessions"] = {}, []
        for u, s, v in zip(*(t.column(c).to_pylist() for c in ("user_id", "event_id", "filled"))):
            ents[u]["backfill"][s] = v
        t = _read(os.path.join(out, "sessions"), None, filt)
        for u, sid, n, lo, hi, vs in zip(
            t.column("user_id").to_pylist(), t.column("session_id").to_pylist(),
            t.column("n_events").to_pylist(), _ts_us(t.column("session_start")),
            _ts_us(t.column("session_end")), t.column("value_sum").to_pylist(),
        ):
            ents[u]["sessions"].append((sid, n, lo, hi, vs))
        return counts, ents

    def check(self, ctx, out: str, res: dict) -> list[str]:
        counts, ents = self.read_outputs(out)
        return check_pit(counts, self.expected_counts, ents)


# ---------------------------------------------------------------------------
# corpus: prepare_corpus in snapshot mode
# ---------------------------------------------------------------------------

def check_corpus(report: dict, digest: str, reference: dict | None, exact_ids: set, twin_ids: set) -> list[str]:
    """``reference``: the first job's stage counts and output digest;
    every job of a run must reproduce them exactly."""
    errs = []
    if report.get("resumed_stages") != []:
        errs.append(f"resumed stages {report.get('resumed_stages')}: resume_dir was not fresh")
    if exact_ids != twin_ids:
        errs.append(
            f"exact-dedup stage has {len(exact_ids)} docs, DuckDB twin "
            f"{len(twin_ids)} ({len(exact_ids ^ twin_ids)} differ)"
        )
    if reference is not None:
        stages = {k: v for k, v in report.items() if isinstance(v, int)}
        if stages != reference["stages"]:
            errs.append("stage row counts differ from the run's first job")
        if digest != reference["digest"]:
            errs.append("output hash differs from the run's first job")
    return errs


def table_digest(path: str) -> str:
    t = _read(path)
    rows = sorted(json.dumps(r, sort_keys=True, default=str) for r in t.to_pylist())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


class Corpus:
    name = "corpus"

    def prepare(self, ctx) -> None:
        w = spec.WORKLOADS["corpus"]
        self.src, props = inputs.ensure_documents(
            ctx.inputs_root, ctx.seed, w["size"]["docs"], k=w["config"]["substring_k"]
        )
        ctx.input_props["documents"] = props
        self.rows = props["docs"]
        self.reference = None
        docs_glob = os.path.join(self.src, "documents.parquet", "*.parquet")
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_glob}')")
            groups = f"({dedup.exact_dup_oracle_sql('documents')})"
            self.twin_ids = {
                r[0]
                for r in con.execute(
                    f"SELECT 'doc_' || doc_id FROM documents WHERE md5(text) NOT IN "
                    f"(SELECT text_hash FROM {groups}) "
                    f"UNION ALL SELECT 'doc_' || keep_doc_id FROM {groups}"
                ).fetchall()
            }
        finally:
            con.close()

    def job(self, ctx, out: str) -> dict:
        cfg = corpus.CorpusConfig(
            resume_dir=os.path.join(out, "resume"), **spec.WORKLOADS["corpus"]["config"]
        )
        mixed, blocks, report = corpus.prepare_corpus(ctx.spark, self.src, cfg)
        mixed.write.parquet(os.path.join(out, "corpus"))
        blocks.write.parquet(os.path.join(out, "blocks"))
        return {"out_bytes": inputs.dir_bytes(out), "report": report}

    def check(self, ctx, out: str, res: dict) -> list[str]:
        report = res["report"]
        digest = table_digest(os.path.join(out, "corpus")) + table_digest(os.path.join(out, "blocks"))
        stage = snapshots.read_snapshot(
            ctx.spark, os.path.join(out, "resume", "stage=after_exact_dedup")
        )
        exact_ids = {r.doc_id for r in stage.select("doc_id").collect()}
        errs = check_corpus(report, digest, self.reference, exact_ids, self.twin_ids)
        if self.reference is None and not errs:
            self.reference = {
                "stages": {k: v for k, v in report.items() if isinstance(v, int)},
                "digest": digest,
            }
        return errs


# ---------------------------------------------------------------------------
# extract's streaming leg: stream_feature_extract fed by an open-loop
# file generator
# ---------------------------------------------------------------------------

def check_stream(streamed: dict, twin: dict) -> list[str]:
    """``streamed``/``twin``: (doc_id, frame_id) -> (frame_tokens,
    features). The stream never flushes a doc's ragged tail, so ``twin``
    holds only the full-length frames of the batch twin."""
    errs = []
    if streamed.keys() != twin.keys():
        errs.append(
            f"stream emitted {len(streamed)} frames, batch twin {len(twin)} "
            f"({len(streamed.keys() ^ twin.keys())} differ)"
        )
    for k in sorted(streamed.keys() & twin.keys()):
        (gt, gf), (wt, wf) = streamed[k], twin[k]
        if list(gt) != list(wt) or not np.allclose(gf, wf, rtol=1e-9, atol=1e-9):
            errs.append(f"{k}: streamed frame differs from the batch twin")
            break
    return errs


def _frames(df) -> dict:
    t = df.select("doc_id", "frame_id", "frame_tokens", "features").toArrow()
    return {
        (d, f): (ft, feat)
        for d, f, ft, feat in zip(*(t.column(c).to_pylist() for c in t.column_names))
    }


class Stream:
    """Chunk files arrive at a fixed rate (open loop); the query
    consumes whatever has arrived at each trigger (no per-trigger cap)."""

    def prepare(self, ctx) -> None:
        w = spec.WORKLOADS["extract"]["stream"]
        self.src, props = inputs.ensure_documents(ctx.inputs_root, ctx.seed, w["docs"])
        ctx.input_props["stream_documents"] = props
        valid, _ = validate.validate_token_sequences(
            token_source.load_token_sequences(ctx.spark, self.src)
        )
        chunks = stream.chunk_table(valid, w["chunk_tokens"]).toArrow()
        # chunk k of every doc before chunk k+1 of any, so each doc's
        # chunks arrive in order whichever files a trigger picks up
        chunks = chunks.sort_by([("chunk_id", "ascending"), ("doc_id", "ascending")])
        # file 0 alone, then n_warm untimed files, then the timed ones,
        # all at the same rate
        self.rate, self.n_warm = w["files_per_s"], w["warm_files"]
        self.n_files = self.n_warm + w["timed_files"]
        step = -(-chunks.num_rows // (self.n_files + 1))
        self.files = [chunks.slice(i * step, step) for i in range(self.n_files + 1)]
        self.rows = sum(f.num_rows for f in self.files[self.n_warm + 1 :])
        ctx.input_props["chunks"] = {
            "rows": chunks.num_rows, "files": self.n_files + 1, "warm_files": self.n_warm,
            "rows_per_file": step, "files_per_s": self.rate,
        }

    def _write(self, i: int) -> float:
        """Write chunk file ``i`` where the query sees it only complete;
        return its creation stamp."""
        tmp = os.path.join(self.staging, f"chunks-{i:05d}.parquet")
        pq.write_table(self.files[i], tmp)
        os.rename(tmp, os.path.join(self.inbox, os.path.basename(tmp)))
        return time.time()

    def run(self, ctx, out: str) -> dict:
        """Start the query, run file 0 through it (the cold job), then
        write the other files on a fixed schedule (the first ``n_warm``
        warm the query up and are not timed) and wait until every one is
        committed. Returns the samples the metrics are made of."""
        self.inbox, self.staging = os.path.join(out, "inbox"), os.path.join(out, "staging")
        self.ckpt, self.sink = os.path.join(out, "checkpoint"), os.path.join(out, "frames")
        os.makedirs(self.inbox)
        os.makedirs(self.staging)
        spark = ctx.spark
        created: dict = {}
        late: dict = {}  # how far behind its schedule the generator wrote each file
        t0 = time.time()
        chunks = spark.readStream.schema(stream.CHUNK_SCHEMA).parquet(self.inbox)
        query = stream.stream_feature_extract(chunks, self.sink, self.ckpt, FRAME)
        try:
            created[0] = self._write(0)
            query.processAllAvailable()
            cold_s = time.time() - t0

            def generator():
                start = time.time()
                for i in range(1, self.n_files + 1):
                    due = start + (i - 1) / self.rate
                    time.sleep(max(0.0, due - time.time()))
                    created[i] = self._write(i)
                    late[i] = created[i] - due

            gen = threading.Thread(target=generator, daemon=True)
            gen.start()
            gen.join()
            deadline = time.time() + 90
            while time.time() < deadline:
                if query.exception() is not None:
                    break
                if set(self.committed()) >= set(created):
                    break
                time.sleep(0.2)
            time.sleep(0.2)  # the last progress report follows its commit
            progress = [json.loads(p.json) for p in query.recentProgress]
        finally:
            query.stop()
        done = self.committed()
        # the micro-batches from the first one that read a timed file
        first = min((b for i, (b, _) in done.items() if i > self.n_warm), default=0)
        return {
            "cold_s": cold_s, "created": created,
            "commit": {i: t for i, (_, t) in done.items()},
            "generator_late_ms": 1000 * max(late.values(), default=0.0),
            "progress": [p for p in progress if p["batchId"] >= first],
            "out_bytes": inputs.dir_bytes(self.sink),
        }

    def committed(self) -> dict:
        """Chunk file index -> (id, commit time) of the micro-batch that
        read it, from the checkpoint's source and commit logs."""
        commits = {}
        for f in glob.glob(os.path.join(self.ckpt, "commits", "*")):
            if os.path.basename(f).isdigit():
                commits[int(os.path.basename(f))] = os.path.getmtime(f)
        out = {}
        for f in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            if os.path.basename(f).startswith("."):
                continue
            with open(f) as fh:
                for line in fh.read().splitlines()[1:]:
                    e = json.loads(line)
                    name = os.path.basename(unquote(e["path"]))
                    b = e["batchId"]
                    if b in commits and name.startswith("chunks-"):
                        out[int(name[7:12])] = (b, commits[b])
        return out

    def check(self, ctx, out: str, res: dict) -> list[str]:
        spark = ctx.spark
        streamed = _frames(spark.read.parquet(self.sink))
        delivered = spark.read.schema(stream.CHUNK_SCHEMA).parquet(self.inbox)
        twin = framing.featurize_frames_sql(
            stream.chunked_frame_features(delivered, FRAME), FRAME
        ).where(f"size(frame_tokens) = {spec.FRAME_LEN}")
        return check_stream(streamed, _frames(twin))


WORKLOADS = {w.name: w for w in (Extract, Pit, Corpus)}
