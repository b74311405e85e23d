"""Workload table and metric names (no engine imports: the CLI reads this
before it has checked that it runs inside a checkout of the engine)."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineMix:
    slow_frac: float
    turns: int  # turn target; whole conversations, so slightly above
    mean_turns: int = 20
    hot_per_dialect: int = 0  # planted hot conversations per dialect
    hot_share: float = 0.0  # share of the turn target each hot one holds
    resume: bool = False


# Sizes are chosen so that a run, including JVM start and the warm-up job,
# fits the benchmark's time budget on 4 cores.
PIPELINE_TURNS = 48_000
CORPUS_DOCS = 500
CORPUS_VECS = 500
# The curation corpus is fixed, like the `sf` test tables the queries were
# written for; its pinned results are checked against the DuckDB oracles.
CORPUS_SEED = 42

PIPELINE_MIXES = {
    # error-log parse, entry assembly, GELF and the fan-out write do the work
    "error_batch": PipelineMix(slow_frac=0.0, turns=PIPELINE_TURNS),
    # slow-log FSM, metric grok and fingerprint do the work
    "slow_batch": PipelineMix(slow_frac=1.0, turns=PIPELINE_TURNS),
    # both branches, hot keys (4 conversations hold ~1/4 of the turns) and
    # the resume join against a half-way lineage table
    "mixed_resume": PipelineMix(
        slow_frac=0.4, turns=PIPELINE_TURNS, hot_per_dialect=2, hot_share=1 / 16,
        resume=True,
    ),
}
CURATION = "curation_guarded"
WORKLOADS = (*PIPELINE_MIXES, CURATION)

# the operator queries whose engines carry collect-or-distribute guards
CURATION_QUERIES = (
    "winnow_overlap",
    "containment_pairs",
    "dedup_groups",
    "dedup_lsh_verified",
    "embed_neardup_lsh",
    "knn_ivf_trained",
    "semantic_dedup",
    "knn_pq",
    "knn_ivfpq",
)

END_TO_END = {
    "job_s": "s",
    "turns_per_s": "1/s",
    "setup_s": "s",
    "driver_py_peak_mb": "MB",
    "ok_ratio": "ratio",
}

PIPELINE_LAYERS = {
    "sources.transcripts.read_s": "s",
    "sources.transcripts.resume_kept_ratio": "ratio",
    "sources.transcripts.lineage_s": "s",
    "plans.pipeline.split_s": "s",
    "plans.pipeline.split_shuffle_mb": "MB",
    "plans.pipeline.split_task_skew": "ratio",
    "plans.pipeline.error_rows": "count",
    "plans.pipeline.slow_rows": "count",
    "operators.errorlog.parse_s": "s",
    "operators.errorlog.well_formed_ratio": "ratio",
    "operators.assembly.assemble_s": "s",
    "operators.assembly.entries": "count",
    "operators.slowlog.classify_s": "s",
    "operators.slowlog.assemble_s": "s",
    "operators.slowlog.entries": "count",
    "operators.fingerprint.fingerprint_s": "s",
    "plans.pipeline.enrich_s": "s",
    "functions.gelf.bytes_mb": "MB",
    "operators.routing.route_s": "s",
    "operators.routing.write_s": "s",
    "operators.routing.written_mb": "MB",
    "operators.routing.http_ratio": "ratio",
    "operators.routing.dropped_ratio": "ratio",
    "operators.aggregates.counts_s": "s",
}
SPARK_LAYERS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_share": "ratio",
    "spark.max_task_s": "s",
}
QUERY_FIELDS = {"noop_s": "s", "build_jobs": "count", "action_jobs": "count", "result_mb": "MB"}
TRACE_LAYERS = {"trace.full_s": "s", "trace.residual_s": "s", "trace.overhead_s": "s"}

PER_LAYER = {
    **PIPELINE_LAYERS,
    **SPARK_LAYERS,
    **{
        f"entry_queries.{q}.{f}": u
        for q in CURATION_QUERIES
        for f, u in QUERY_FIELDS.items()
    },
    **TRACE_LAYERS,
}


def pin_key(workload: str) -> str:
    """Pins hold only for the sizes they were taken at."""
    if workload == CURATION:
        return f"{workload}:docs={CORPUS_DOCS}:vecs={CORPUS_VECS}"
    return f"{workload}:{PIPELINE_MIXES[workload]}"
