"""What the benchmark runs and reports: workloads, sizes, metrics.

``BENCHMARK.json`` at the repository root holds the fields its format
allows (benchmarked workload names and reasons, metric names, units,
directions and bounds); this module holds the rest: input sizes, loop
types, the warm-up policy and the map from each layer metric to the
end-to-end metric it should move. ``perfbench/test_perfbench.py`` keeps
the two in step.
"""

from __future__ import annotations

FRAME_LEN, HOP = 16, 8  # FrameSpec defaults: the CLI's extract settings

# min_warm: warm jobs per run, however long they take. Pit's warm jobs
# still speed up by up to 40 % from the first to the third, so its median
# is taken over four; a corpus job alone outlasts --seconds, so it gets
# the median of two.
# extract's streaming leg: a generator writes chunk files at files_per_s;
# the first warm_files warm the query up and are not timed, the next
# timed_files are. The rate is low enough that a trigger (about 1 s)
# reads only about a dozen files, so the files that arrive while one
# runs do not make the next one slower.
WORKLOADS = {
    "extract": {
        "loop": "closed, 1 client: jobs back to back on one driver thread; "
        "then the streaming leg, open at a fixed rate: a generator thread "
        "writes files_per_s chunk files a second, whatever the query does",
        "size": {"docs": 2000},
        "min_warm": 2,
        "stream": {
            "docs": 200, "chunk_tokens": 32, "files_per_s": 12.5,
            "warm_files": 12, "timed_files": 100,
        },
    },
    "pit": {
        "loop": "closed, 1 client: jobs back to back on one driver thread",
        "size": {"events": 25_000, "users": 1500},
        "min_warm": 4,
    },
    "corpus": {
        "loop": "closed, 1 client: jobs back to back on one driver thread",
        "size": {"docs": 250},
        "min_warm": 2,
        "config": {
            "substring_k": 12,
            "semdedup_threshold": 0.9,
            "nb_min_score": -3_000_000,
            "dsir_k": 150,
            "bpe_merges": 100,
        },
    },
}

WARMUP_POLICY = (
    "setup_s = package import + get_spark(local[N]) + one fixed warm-up job "
    "(20k synthetic rows through mapInPandas and a shuffle), so Python "
    "workers are running before the first job. No workload code runs during "
    "set-up: the first job of a run is cold_job_s, every later job is warm. "
    "Inputs and expected values are prepared after set-up and before the "
    "cold job, outside every timed phase. The streaming leg of extract runs "
    "after the batch jobs: its chunk table is cut by the engine's "
    "chunk_table (untimed), then its query is started, one chunk file is "
    "run through it alone, and warm_files more arrive at the leg's rate "
    "before the timed files (their latencies are not counted). Every job "
    "writes into a fresh directory that is removed after its check, and "
    "spark.catalog.clearCache() runs between jobs."
)

# end-to-end metrics as printed with --trace 0, and how each workload
# defines them (units and bounds live in BENCHMARK.json)
END_TO_END = {
    "setup_s": "process start until the session is ready and warm-up is done",
    "cold_job_s": "wall time of the first job",
    "job_p50_s": "median wall time of the warm jobs",
    "rows_per_s": "input rows (docs; events for pit) completed per second "
    "of warm-job time",
    "out_bytes_per_row": "bytes committed to the sink per input row",
    "latency_p50_ms": "extract: median time from a chunk file's creation to "
    "the commit of the streaming micro-batch that consumed it; pit and "
    "corpus (closed loop, one client, so a request is a job): median "
    "warm-job wall time",
    "latency_p90_ms": "the same, 90th percentile (statistics.quantiles, "
    "inclusive)",
    "peak_rss_mb": "peak resident memory of the driver JVM plus its Python "
    "workers (sum of proportional RSS, sampled every 0.5 s from /proc)",
}

# which end-to-end metric each layer metric should move, per workload
LAYER_MAP = {
    "core.session": "setup_s on every workload",
    "sources.tokens": "job_p50_s on extract and corpus; nothing on pit",
    "operators.validate": "job_p50_s on extract",
    "operators.framing": "rows_per_s / job_p50_s on extract (Arrow kernel) "
    "and its latency_p50_ms (SQL featurizer); nothing on pit or corpus",
    "sinks.writers": "job_p50_s and out_bytes_per_row on extract",
    "operators.inverse": "job_p50_s on extract",
    "operators.asof": "job_p50_s / cold_job_s on pit; nothing elsewhere",
    "operators.sessionize": "job_p50_s on pit",
    "operators.temporal": "job_p50_s on pit",
    "operators.dedup": "job_p50_s on corpus",
    "operators.similarity": "job_p50_s on corpus",
    "operators.textstats": "job_p50_s on corpus",
    "operators.mixing": "job_p50_s on corpus",
    "operators.bpe": "job_p50_s on corpus",
    "plans.corpus": "job_p50_s on corpus",
    "sinks.snapshots": "out_bytes_per_row and job_p50_s on corpus",
    "streaming.stream": "latency_p50_ms / latency_p90_ms on extract",
}

# public functions the traced run wraps, per layer module. A lazy
# result is forced with a noop sink inside the span; prepare_corpus is
# the root of the corpus job and is not forced (its stages are).
TRACED = {
    "sources.tokens": ["load_token_sequences"],
    "operators.validate": ["validate_token_sequences"],
    "operators.framing": ["frame_features"],
    "sinks.writers": ["write_dataset", "reconstruct_from_dataset"],
    "operators.inverse": ["reconstruct"],
    "operators.asof": ["asof_join_auto", "asof_join_range"],
    "operators.sessionize": ["session_summary"],
    "operators.temporal": ["backfill"],
    "operators.dedup": [
        "exact_dedup", "lsh_candidate_pairs", "jaccard_on_pairs",
        "strip_duplicate_spans", "duplicate_gram_spans", "contamination",
    ],
    "operators.similarity": ["semdedup_pairs"],
    "operators.textstats": ["repetition_stats", "nb_quality"],
    "operators.mixing": ["dsir_sample", "sample_by_rates", "pack_blocks"],
    "operators.bpe": ["train_bpe", "bpe_encode"],
    "sinks.snapshots": ["write_snapshot"],
    "plans.corpus": ["prepare_corpus"],
}
NOT_FORCED = {"plans.corpus.prepare_corpus"}

CORPUS_STAGES = (
    "after_exact_dedup", "after_near_dedup", "after_substring_dedup",
    "after_semantic_dedup", "after_quality", "after_nb_quality",
    "after_decontamination", "after_dsir", "after_bpe", "after_mixing",
    "packed",
)

def _span(fn: str, field: str = "busy_s"):
    return ("span", fn, field)


# per-layer metrics printed with --trace 1: name -> (unit, source).
# source: ("span", "<module>.<function>", field) sums that field over
# the job's spans of the function; ("probe", key) is a count taken
# outside the timed spans; ("self", module) sums the module's self time;
# ("stream", key) is read from the streaming query's progress reports.
PER_LAYER: dict[str, tuple[str, tuple]] = {
    "core.session.start_s": ("s", ("probe", "session_start_s")),
    "sources.tokens.busy_s": ("s", _span("sources.tokens.load_token_sequences")),
    "sources.tokens.rows": ("rows", ("probe", "token_rows")),
    "operators.validate.busy_s": ("s", _span("operators.validate.validate_token_sequences")),
    "operators.framing.busy_s": ("s", _span("operators.framing.frame_features")),
    "operators.framing.frames": ("count", ("probe", "frames")),
    "operators.framing.python_s": ("s", _span("operators.framing.frame_features", "python_s")),
    "sinks.writers.write_s": ("s", _span("sinks.writers.write_dataset")),
    "sinks.writers.read_s": ("s", _span("sinks.writers.reconstruct_from_dataset")),
    "sinks.writers.bytes": ("B", ("probe", "dataset_bytes")),
    "sinks.writers.exchange_bytes": ("B", _span("sinks.writers.write_dataset", "exchange_bytes")),
    "operators.inverse.busy_s": ("s", _span("operators.inverse.reconstruct")),
    "operators.asof.call_s": ("s", _span("operators.asof.asof_join_auto", "call_s")),
    "operators.asof.auto_busy_s": ("s", _span("operators.asof.asof_join_auto")),
    "operators.asof.range_busy_s": ("s", _span("operators.asof.asof_join_range")),
    "operators.asof.exchange_bytes": ("B", ("module", "operators.asof", "exchange_bytes")),
    "operators.asof.spill_bytes": ("B", ("module", "operators.asof", "spill_bytes")),
    "operators.asof.python_s": ("s", _span("operators.asof.asof_join_range", "python_s")),
    "operators.sessionize.busy_s": ("s", _span("operators.sessionize.session_summary")),
    "operators.sessionize.exchange_bytes": ("B", _span("operators.sessionize.session_summary", "exchange_bytes")),
    "operators.sessionize.spill_bytes": ("B", _span("operators.sessionize.session_summary", "spill_bytes")),
    "operators.temporal.busy_s": ("s", _span("operators.temporal.backfill")),
    "operators.temporal.exchange_bytes": ("B", _span("operators.temporal.backfill", "exchange_bytes")),
    "operators.temporal.spill_bytes": ("B", _span("operators.temporal.backfill", "spill_bytes")),
    "operators.dedup.exact_dedup.busy_s": ("s", _span("operators.dedup.exact_dedup")),
    "operators.dedup.lsh_candidate_pairs.busy_s": ("s", _span("operators.dedup.lsh_candidate_pairs")),
    "operators.dedup.jaccard_on_pairs.busy_s": ("s", _span("operators.dedup.jaccard_on_pairs")),
    "operators.dedup.duplicate_gram_spans.busy_s": ("s", _span("operators.dedup.duplicate_gram_spans")),
    "operators.dedup.duplicate_gram_spans.call_s": ("s", _span("operators.dedup.duplicate_gram_spans", "call_s")),
    "operators.dedup.strip_duplicate_spans.busy_s": ("s", _span("operators.dedup.strip_duplicate_spans")),
    "operators.dedup.contamination.busy_s": ("s", _span("operators.dedup.contamination")),
    "operators.dedup.candidate_pairs": ("count", ("probe", "candidate_pairs")),
    "operators.dedup.confirmed_pairs": ("count", ("probe", "confirmed_pairs")),
    "operators.dedup.pair_yield": ("ratio", ("probe", "pair_yield")),
    "operators.dedup.hot_position_share": ("ratio", ("probe", "hot_position_share")),
    "operators.dedup.exchange_bytes": ("B", ("module", "operators.dedup", "exchange_bytes")),
    "operators.similarity.semdedup_pairs.busy_s": ("s", _span("operators.similarity.semdedup_pairs")),
    "operators.textstats.repetition_stats.busy_s": ("s", _span("operators.textstats.repetition_stats")),
    "operators.textstats.nb_quality.busy_s": ("s", _span("operators.textstats.nb_quality")),
    "operators.mixing.dsir_sample.busy_s": ("s", _span("operators.mixing.dsir_sample")),
    "operators.mixing.sample_by_rates.busy_s": ("s", _span("operators.mixing.sample_by_rates")),
    "operators.mixing.pack_blocks.busy_s": ("s", _span("operators.mixing.pack_blocks")),
    "operators.bpe.train_s": ("s", _span("operators.bpe.train_bpe")),
    "operators.bpe.encode_s": ("s", _span("operators.bpe.bpe_encode")),
    "sinks.snapshots.commit_s": ("s", _span("sinks.snapshots.write_snapshot")),
    "sinks.snapshots.bytes": ("B", ("probe", "snapshot_bytes")),
    **{
        f"plans.corpus.{st}.{f}": (u, ("probe", f"stage.{st}.{f}"))
        for st in CORPUS_STAGES
        for f, u in (("rows", "rows"), ("busy_s", "s"))
    },
    "streaming.stream.start_s": ("s", ("stream", "start_s")),
    "streaming.stream.trigger_ms": ("ms", ("stream", "trigger_ms")),
    "streaming.stream.add_batch_ms": ("ms", ("stream", "add_batch_ms")),
    "streaming.stream.state_rows": ("rows", ("stream", "state_rows")),
    "streaming.stream.state_bytes": ("B", ("stream", "state_bytes")),
    "streaming.stream.input_rows_per_trigger": ("rows", ("stream", "input_rows_per_trigger")),
    **{f"{mod}.self_s": ("s", ("self", mod)) for mod in TRACED},
    "python_s": ("s", ("total", "python_s")),
    "exchange_bytes": ("B", ("total", "exchange_bytes")),
    "spill_bytes": ("B", ("total", "spill_bytes")),
    "tasks_failed": ("count", ("total", "tasks_failed")),
    "unattributed_s": ("s", ("probe", "unattributed_s")),
    "trace_overhead": ("ratio", ("probe", "trace_overhead")),
}
