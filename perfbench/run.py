"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload corpus --steady 10 --seed 1 --seconds 5

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer metrics of a separate traced run.
The last stdout line is the result object; the full run record (seed,
source digest, machine, versions, every job's samples, input
properties, check results, and with ``--trace 1`` the spans) is written
under ``.perfbench_work/runs/``.

``--steady K`` runs the workload K times in fresh processes with seeds
``seed .. seed+K-1`` and reports each end-to-end metric's median and
quartile spread against its bound in ``BENCHMARK.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MAX_RUN_S = 150  # stop starting jobs past this point; runs must end < 180 s
DRIVER_MEM = "2g"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# process bookkeeping
# ---------------------------------------------------------------------------

def _children() -> dict[int, int]:
    """pid -> ppid for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def _tree(root: int) -> list[int]:
    parent = _children()
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _rss_kb(pid: int) -> int:
    """Proportional RSS (Pss): pages shared by forked Python workers are
    split among them instead of counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Samples the memory of the JVM and its descendants (Python workers).
    The process tree is re-read only every fourth sample, to keep the
    sampler's own CPU use small."""

    def __init__(self, jvm_pid: int, every_s: float = 0.5):
        super().__init__(daemon=True)
        self.jvm_pid, self.every_s = jvm_pid, every_s
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        n, tree = 0, []
        while not self._stop_evt.is_set():
            if n % 4 == 0:
                tree = _tree(self.jvm_pid)
            n += 1
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in tree))
            self._stop_evt.wait(self.every_s)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(5)
        return self.peak_kb / 1024


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

class Ctx:
    def __init__(self, seed: int, seconds: int, tmp: str):
        self.seed, self.seconds, self.tmp = seed, seconds, tmp
        self.inputs_root = os.path.join(WORK, "inputs")
        self.input_props: dict = {}
        self.spark = None


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "audio_feature_extraction_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def start_session(tmp: str, n: int):
    from audio_feature_extraction_spark.core.session import get_spark

    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # no JVM writes outside the run's directory (hsperfdata goes to /tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return get_spark(
        f"local[{n}]",
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # a fixed-size heap, so peak RSS does not follow the
            # collector's heap-resizing decisions from run to run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
            ),
            "spark.sql.ui.retainedExecutions": "5000",
        },
    )


def warm_up(spark) -> None:
    """The fixed warm-up job of the set-up phase (see spec.WARMUP_POLICY)."""

    def ident(batches):
        yield from batches

    df = spark.range(0, 20_000, numPartitions=4).selectExpr("id", "id % 97 as k")
    df.mapInPandas(ident, df.schema).groupBy("k").count().collect()


def stop_session(spark) -> None:
    """Stop Spark, its JVM and the JVM's Python workers, and wait for them."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = _tree(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") and _rss_kb(p) for p in tree):
        time.sleep(0.1)


def run_batch_job(wl, ctx, i: int, tracer=None) -> dict:
    out = os.path.join(ctx.tmp, "jobs", str(i))
    ctx.spark.catalog.clearCache()
    rec = {"job": i, "traced": tracer is not None, "ok": False}
    try:
        if tracer is not None:
            tracer.begin_job(i)
        t = time.perf_counter()
        try:
            res = wl.job(ctx, out)
        finally:
            rec["wall_s"] = time.perf_counter() - t
            if tracer is not None:
                tracer.end_job()
        rec["out_bytes"] = res["out_bytes"]
        if "report" in res:
            rec["report"] = res["report"]
        t = time.perf_counter()
        rec["errors"] = wl.check(ctx, out, res)
        rec["check_s"] = time.perf_counter() - t
        rec["ok"] = not rec["errors"]
    except Exception:  # a failing job is counted, and the run goes on
        rec["errors"] = [traceback.format_exc(limit=5)]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return rec


def batch_run(wl, ctx, traced: bool, tracer, min_warm: int) -> tuple[list, list]:
    """Cold job, then warm jobs back to back until ``seconds`` of job time
    and at least ``min_warm`` warm jobs. With tracing, warm jobs alternate
    untraced and traced, and at least one of each kind runs: a traced run
    reports only per-layer metrics, which have no bound. Past MAX_RUN_S
    no further job starts, but never before that minimum."""
    jobs = [run_batch_job(wl, ctx, 0)]
    warm_s, i = 0.0, 1
    while True:
        use_trace = traced and i % 2 == 0
        rec = run_batch_job(wl, ctx, i, tracer if use_trace else None)
        jobs.append(rec)
        warm_s += rec["wall_s"]
        enough = i >= (2 if traced else min_warm)
        late = time.time() - T_PROCESS + rec["wall_s"] * (2.5 if traced else 1.2) > MAX_RUN_S
        i += 1
        if enough and (warm_s >= ctx.seconds or late):
            break
    return jobs, [j for j in jobs[1:] if not j["traced"]]


def p90(xs: list) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def batch_metrics(wl, jobs, warm) -> tuple[dict, int, int]:
    ok_warm = [j["wall_s"] for j in warm if j["ok"]] or [float("nan")]
    m = {
        "cold_job_s": jobs[0]["wall_s"],
        "job_p50_s": statistics.median(ok_warm),
        "rows_per_s": wl.rows * len(ok_warm) / sum(ok_warm),
        "out_bytes_per_row": statistics.median(
            [j["out_bytes"] for j in jobs if j["ok"]] or [float("nan")]
        ) / wl.rows,
        # closed loop with one client: a request's latency is its job
        "latency_p50_ms": 1000 * statistics.median(ok_warm),
        "latency_p90_ms": 1000 * p90(ok_warm),
    }
    return m, len(jobs), sum(not j["ok"] for j in jobs)


def stream_failed(created: dict, commit: dict, errors: list) -> int:
    """Chunk files that count as failed: those no committed micro-batch
    read, or every file when the output check failed."""
    return len(created) if errors else len(set(created) - set(commit))


def stream_run(leg, ctx) -> tuple[dict, int, int]:
    """One open-loop streaming leg; returns (samples, attempted, failed),
    counted in chunk files."""
    out = os.path.join(ctx.tmp, "jobs", "stream")
    ctx.spark.catalog.clearCache()
    t = time.perf_counter()
    leg.prepare(ctx)  # after the batch jobs, so it warms none of them
    phases = {"prepare_s": time.perf_counter() - t}
    try:
        t = time.perf_counter()
        res = leg.run(ctx, out)
        phases["run_s"] = time.perf_counter() - t
        t = time.perf_counter()
        errors = leg.check(ctx, out, res)
        phases["check_s"] = time.perf_counter() - t
    finally:
        shutil.rmtree(out, ignore_errors=True)
    created, commit = res["created"], res["commit"]
    timed = [i for i in created if i > leg.n_warm]
    lat = [1000 * (commit[i] - created[i]) for i in timed if i in commit]
    batches = [p for p in res["progress"] if p["numInputRows"] > 0]
    last_state = (batches[-1].get("stateOperators") or [{}])[0] if batches else {}

    def med(xs):
        return statistics.median(xs) if xs else float("nan")

    span = max((commit[i] for i in timed if i in commit), default=float("nan")) - created[timed[0]]
    samples = {
        "latency_ms": lat, "errors": errors, "batches": len(batches), "phases": phases,
        "latency_p50_ms": med(lat),
        "latency_p90_ms": p90(lat) if lat else float("nan"),
        "start_s": res["cold_s"],
        "rows_per_s": leg.rows / span,
        "out_bytes": res["out_bytes"],
        "durations_ms": [p["durationMs"] for p in batches],
        "generator_late_ms": res["generator_late_ms"],
        "trigger_ms": med([p["durationMs"]["triggerExecution"] for p in batches]),
        "add_batch_ms": med([p["durationMs"].get("addBatch", 0) for p in batches]),
        "state_rows": last_state.get("numRowsTotal", 0),
        "state_bytes": last_state.get("memoryUsedBytes", 0),
        "input_rows_per_trigger": med([p["numInputRows"] for p in batches]),
    }
    return samples, len(created), stream_failed(created, commit, errors)


def install_tracer(spark, ctx):
    from perfbench import inputs, spec
    from perfbench.trace import Tracer
    from pyspark.sql import functions as F

    from audio_feature_extraction_spark.plans import corpus

    tr = Tracer(spark)
    threshold = corpus.CorpusConfig().jaccard_threshold

    def count_into(key):
        return lambda t, a, kw, out, sp: t.probe(key, out.count)

    def gram_share(t, a, kw, out, sp):
        t.probe("hot_position_share", lambda: inputs.hot_position_share(
            [r.tokens for r in a[0].select("tokens").collect()],
            kw.get("k", 16), kw.get("min_count", 2)))

    def snapshot(t, a, kw, out, sp):
        stage = (kw.get("properties") or {}).get("stage")
        if stage:
            t.probes[f"stage.{stage}.busy_s"] = sp.call_s + sp.force_s
        t.probe("snapshot_bytes", lambda: inputs.dir_bytes(a[1]))

    def report(t, a, kw, out, sp):
        for st in spec.CORPUS_STAGES:
            t.probes[f"stage.{st}.rows"] = out[2].get(st, 0)

    after = {
        "sources.tokens.load_token_sequences": count_into("token_rows"),
        "operators.framing.frame_features": count_into("frames"),
        "sinks.writers.write_dataset": lambda t, a, kw, out, sp: t.probe(
            "dataset_bytes", lambda: inputs.dir_bytes(a[1])),
        "operators.dedup.lsh_candidate_pairs": count_into("candidate_pairs"),
        "operators.dedup.jaccard_on_pairs": lambda t, a, kw, out, sp: t.probe(
            "confirmed_pairs", out.where(F.col("jaccard") >= threshold).count),
        "operators.dedup.duplicate_gram_spans": gram_share,
        "sinks.snapshots.write_snapshot": snapshot,
        "plans.corpus.prepare_corpus": report,
    }
    for module, fns in spec.TRACED.items():
        for fn in fns:
            name = f"{module}.{fn}"
            tr.wrap(module, fn, force=name not in spec.NOT_FORCED, after=after.get(name))
    return tr


def layer_metrics(tr, job: int, wall_s: float, extra: dict, stream: dict | None) -> dict:
    """Per-layer metrics of one traced job; ``stream`` holds the samples
    of extract's streaming leg, taken from its progress reports."""
    from perfbench import spec

    spans = tr.job_spans(job)
    selfs = tr.self_times(spans)
    agg: dict = {}
    totals = {"python_s": 0.0, "exchange_bytes": 0.0, "spill_bytes": 0.0, "tasks_failed": 0}
    for s in spans:
        a = agg.setdefault(s.name, {"busy_s": 0.0, "call_s": 0.0})
        a["busy_s"] += s.call_s + s.force_s
        a["call_s"] += s.call_s
        for k, v in s.counters.items():
            a[k] = a.get(k, 0) + v
            totals[k] += v
    probes = dict(tr.probes)
    cand = probes.get("candidate_pairs", 0)
    probes["pair_yield"] = probes.get("confirmed_pairs", 0) / cand if cand else 0.0
    probes["unattributed_s"] = wall_s - sum(selfs.values())
    probes.update(extra)
    out = {}
    for name, (_, src) in spec.PER_LAYER.items():
        kind = src[0]
        if kind == "span":
            v = agg.get(src[1], {}).get(src[2], 0.0)
        elif kind == "module":
            v = sum(a.get(src[2], 0.0) for n, a in agg.items() if n.startswith(src[1] + "."))
        elif kind == "self":
            v = sum(selfs[s.id] for s in spans if s.name.startswith(src[1] + "."))
        elif kind == "total":
            v = totals[src[1]]
        elif kind == "stream":
            v = (stream or {}).get(src[1], 0.0)
        else:
            v = probes.get(src[1], 0.0)
        out[name] = float(v)
    return out


def run_once(args) -> int:
    try:
        t = time.perf_counter()
        sys.path.insert(0, ROOT)
        import pyspark  # noqa: F401

        import audio_feature_extraction_spark  # noqa: F401
        from perfbench import jobs, spec
        import_s = time.perf_counter() - t
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in jobs.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    bench = load_spec()
    n = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    load0, cpu0 = os.getloadavg(), cpu_times()
    ctx = Ctx(args.seed, args.seconds, tmp)
    wl = jobs.WORKLOADS[args.workload]()
    record: dict = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "git_commit": git_commit(), "source_digest": source_digest(),
        "nproc": n, "master": f"local[{n}]", "loadavg_start": load0,
        "python": platform.python_version(), "warmup_policy": spec.WARMUP_POLICY,
        "loop": spec.WORKLOADS[args.workload]["loop"],
    }
    spark = sampler = None
    try:
        t = time.perf_counter()
        spark = ctx.spark = start_session(tmp, n)
        session_s = time.perf_counter() - t
        from pyspark import SparkContext

        sampler = RssSampler(SparkContext._gateway.proc.pid)
        sampler.start()
        t = time.perf_counter()
        warm_up(spark)
        warmup_s = time.perf_counter() - t
        setup = {"import_s": import_s, "session_s": session_s, "warmup_s": warmup_s}
        setup_s = import_s + session_s + warmup_s
        import duckdb
        import pyarrow

        record["versions"] = {
            "spark": spark.version, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
        }
        t = time.perf_counter()
        wl.prepare(ctx)
        record["prepare_s"] = time.perf_counter() - t
        record["inputs"] = ctx.input_props
        tracer = install_tracer(spark, ctx) if args.trace else None
        min_warm = spec.WORKLOADS[args.workload]["min_warm"]
        all_jobs, warm = batch_run(wl, ctx, bool(args.trace), tracer, min_warm)
        metrics, attempted, failed = batch_metrics(wl, all_jobs, warm)
        record["jobs"] = all_jobs
        record["warm_samples"] = len(warm)
        stream = None
        if getattr(wl, "stream", None) is not None:
            stream, s_attempted, s_failed = stream_run(wl.stream, ctx)
            metrics["latency_p50_ms"] = stream["latency_p50_ms"]
            metrics["latency_p90_ms"] = stream["latency_p90_ms"]
            attempted, failed = attempted + s_attempted, failed + s_failed
            record["stream"] = stream
        if args.trace:
            untraced = statistics.median([j["wall_s"] for j in warm])
            traced = [
                (j["job"], j["wall_s"] - tracer.excluded_by_job.get(j["job"], 0.0))
                for j in all_jobs if j["traced"]
            ]
            overhead = statistics.median([w for _, w in traced]) / untraced - 1
            layers = [
                layer_metrics(tracer, job, wall, {
                    "session_start_s": session_s, "trace_overhead": overhead,
                }, stream)
                for job, wall in traced
            ]
            layer = {k: statistics.median([m[k] for m in layers]) for k in layers[0]}
            record["spans"] = tracer.dump()
        metrics["setup_s"] = setup_s
        metrics["peak_rss_mb"] = sampler.stop()
        sampler = None
        record["setup"] = setup
        record["metrics_e2e"] = metrics
        record["fail_ratio"] = failed / attempted
    finally:
        if sampler is not None:
            sampler.stop()
        t = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        record["stop_s"] = time.perf_counter() - t
        shutil.rmtree(tmp, ignore_errors=True)
    record["loadavg_end"] = os.getloadavg()
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    record["cpu_steal_share"] = cpu[7] / max(sum(cpu), 1)
    record["run_s"] = time.time() - T_PROCESS
    if args.trace:
        record["metrics_layer"] = layer
        chosen = {m["name"]: (layer[m["name"]], m["unit"]) for m in bench["per_layer"]}
    else:
        chosen = {m["name"]: (metrics[m["name"]], m["unit"]) for m in bench["end_to_end"]}
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    path = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"perfbench: run record in {os.path.relpath(path, ROOT)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    print(json.dumps(result))
    return 0


# ---------------------------------------------------------------------------
# steadiness mode
# ---------------------------------------------------------------------------

def steady(args) -> int:
    bench = load_spec()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict = {k: [] for k in bounds}
    walls = []
    for s in range(args.seed, args.seed + args.steady):
        t = time.time()
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(s), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        walls.append(time.time() - t)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-3000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        print(f"seed {s}: {walls[-1]:.1f}s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              file=sys.stderr)
    summary = {}
    for k, vs in values.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        spread = (q3 - q1) / med
        summary[k] = {
            "median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bounds[k],
            "steady": spread < bounds[k] / 3,
        }
        print(f"{k:18s} median={med:10.4g} spread={spread:7.2%} bound={bounds[k]:.0%} "
              f"{'ok' if summary[k]['steady'] else 'UNSTEADY'}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "runs": len(walls),
                      "run_wall_s": walls, "metrics": summary}))
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=load_spec()["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steady", type=int, default=0, help="run K seeds and report spreads")
    args = p.parse_args()
    if args.steady:
        return steady(args)
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
