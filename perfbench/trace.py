"""Traced run: spans around the public calls, noop cut points, event-log
stage metrics, and the per-layer metrics derived from them.

Spans are recorded here, in the benchmark, around calls into the engine's
public functions; the engine itself is not instrumented.  Each span holds its
name, start and end (epoch ms), parent span, run id and the Spark jobs that
ran under it (one ``statusTracker`` job group per span).  Counts come from
``DataFrame.observe`` on the DataFrame a call returns, so they ride the cut's
own action.  Stage, shuffle, GC, spill and task-result bytes come from the
Spark event log, parsed once after the session stops with
``tools/stage_metrics.parse_event_log`` over each span's time window.

Pipeline cut points, each materializing one more public call to a noop sink:

  read      read_transcripts (+ resume_filter)      T
  split     split_dialects(T)                       E, S
  parse     parse_error_log_lines(E)                P
  assemble  assemble_error_entries(P)               A
  classify  classify_slow_log_lines(S)              C
  slow_asm  assemble_slow_entries(C)                SA
  enrich    enrich(events(A) union events(SA))      N
  route     route(N)                                R
  write     write_fanout(R)
  counts    combined_counts(written) -> metrics
  lineage   build_lineage + write_lineage

A layer's self time is its cut's time minus the time of the cut it extends
(the two branches are timed separately, so the slow branch's cut is not
re-run while the error branch advances).  The self times therefore add up to
the last cut; the residual is the traced full ``run_pipeline.main`` job minus
the last cut (whole-stage codegen fuses layers, so a cut is approximate).
"""

from __future__ import annotations

import contextlib
import json
import statistics
import sys
import time
from pathlib import Path

import stage_metrics

from perfbench.spec import CURATION, CURATION_QUERIES, PER_LAYER

# each cut sequence runs this often; cut times are per-cut medians, and the
# first repetition also warms the cut plans' code generation
CUT_REPS = 3


class Tracer:
    """In-memory spans; jobs are attributed through one job group per span."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = f"{self.run_id}/{len(self.spans)}:{name}"
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start_ms": time.time() * 1000,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(sid, name)
        t = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t
            rec["end_ms"] = time.time() * 1000
            self._stack.pop()
            rec["jobs"] = sorted(self.sc.statusTracker().getJobIdsForGroup(sid))
            self.sc.setJobGroup(self._stack[-1] if self._stack else "untraced", "")

    def by_name(self, name: str) -> dict:
        """The latest span of that name."""
        return next(s for s in reversed(self.spans) if s["name"] == name)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def pipeline_trace(spark, wl, tr: Tracer) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    import run_pipeline
    from mariadb_to_graylog_spark.operators.aggregates import combined_counts
    from mariadb_to_graylog_spark.operators.assembly import assemble_error_entries
    from mariadb_to_graylog_spark.operators.errorlog import parse_error_log_lines
    from mariadb_to_graylog_spark.operators.fingerprint import fingerprint_col
    from mariadb_to_graylog_spark.operators.routing import route, write_fanout
    from mariadb_to_graylog_spark.operators.slowlog import (
        assemble_slow_entries,
        classify_slow_log_lines,
    )
    from mariadb_to_graylog_spark.plans import pipeline as pl
    from mariadb_to_graylog_spark.sources import transcripts as src

    # main's session settings, and main's defaults as a PipelineConfig
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    args = run_pipeline.parse_args(wl.argv(wl.fresh_dirs("cfg")))
    cfg = pl.PipelineConfig(
        hostname=args.hostname, mode=args.mode, serializer=args.serializer,
        emit_trailing=args.emit_trailing, scalable=args.scalable_entry_ids,
    )
    counts: dict[str, dict] = {}

    def cut(name, df, **exprs):
        obs = Observation()
        if exprs:
            df = df.observe(obs, *[e.alias(k) for k, e in exprs.items()])
        with tr.span(f"cut.{name}") as s:
            _noop(df)
        cut_s[name] = s["dur_s"]
        counts[name] = obs.get if exprs else {}

    def timed(name, fn):
        with tr.span(f"cut.{name}") as s:
            fn()
        cut_s[name] = s["dur_s"]

    n = F.count(F.lit(1))
    sink = F.col("sink")
    reps: list[dict[str, float]] = []
    for rep in range(CUT_REPS):
        cut_s = {}
        dirs = wl.fresh_dirs(f"cuts{rep}")
        t = src.read_transcripts(spark, wl.inp.input_dir)
        if wl.mix.resume:
            t = src.resume_filter(t, src.read_lineage(spark, dirs["lineage"]))
        cut("read", t, rows=n)
        e, s = pl.split_dialects(t, share_scan=cfg.share_scan)
        cut("split_error", e, rows=n)
        cut("split_slow", s, rows=n)
        p = parse_error_log_lines(e)
        cut("parse", p, well_formed=F.avg(F.col("is_entry_start").cast("double")))
        a = assemble_error_entries(p, mode=cfg.mode, scalable=cfg.scalable)
        cut("assemble", a, rows=n)
        c = classify_slow_log_lines(s)
        cut("classify", c)
        sa = assemble_slow_entries(
            c, emit_trailing=cfg.emit_trailing, use_pandas_udf=cfg.use_pandas_udf_metrics
        )
        cut("slow_assemble", sa, rows=n)
        events = pl.error_entries_to_events(a).unionByName(pl.slow_entries_to_events(sa, cfg))
        enriched = pl.enrich(events, cfg)
        cut("enrich", enriched, gelf_bytes=F.sum(F.octet_length("gelf_json")))
        routed = route(enriched, cfg=cfg.router)
        cut(
            "route", routed, rows=n,
            http=F.sum((sink == "http").cast("long")),
            dropped=F.sum((sink == "dropped").cast("long")),
        )
        timed("write", lambda: write_fanout(routed, dirs["output"]))
        written = spark.read.parquet(dirs["output"])
        timed("counts", lambda: combined_counts(written).write.parquet(dirs["metrics"]))
        timed(
            "lineage",
            lambda: src.write_lineage(
                src.build_lineage(t, written, run_id="trace"), f"{dirs['lineage']}/run=trace"
            ),
        )
        reps.append(cut_s)
    cut_s = {k: statistics.median(r[k] for r in reps) for k in reps[0]}
    written_mb = _dir_mb(Path(dirs["output"]))

    # fingerprint column over cached slow entries vs the bare column
    cached = sa.persist()
    with tr.span("fingerprint.cache"):
        _noop(cached)
    bare, fp = [], []
    for _ in range(3):
        with tr.span("fingerprint.bare") as sp:
            _noop(cached.select("query_text"))
        bare.append(sp["dur_s"])
        with tr.span("fingerprint.column") as sp:
            _noop(cached.select(fingerprint_col(F.col("query_text")).alias("fp")))
        fp.append(sp["dur_s"])
    cached.unpersist()

    full_dirs = wl.fresh_dirs("full")
    with tr.span("full") as sp, contextlib.redirect_stdout(sys.stderr):
        run_pipeline.main(wl.argv(full_dirs))
    full_s = sp["dur_s"]

    self_s = {
        "sources.transcripts.read_s": cut_s["read"],
        "plans.pipeline.split_s": cut_s["split_error"] + cut_s["split_slow"] - cut_s["read"],
        "operators.errorlog.parse_s": cut_s["parse"] - cut_s["split_error"],
        "operators.assembly.assemble_s": cut_s["assemble"] - cut_s["parse"],
        "operators.slowlog.classify_s": cut_s["classify"] - cut_s["split_slow"],
        "operators.slowlog.assemble_s": cut_s["slow_assemble"] - cut_s["classify"],
        "plans.pipeline.enrich_s": cut_s["enrich"] - cut_s["assemble"] - cut_s["slow_assemble"],
        "operators.routing.route_s": cut_s["route"] - cut_s["enrich"],
        "operators.routing.write_s": cut_s["write"] - cut_s["route"],
        "operators.aggregates.counts_s": cut_s["counts"],
        "sources.transcripts.lineage_s": cut_s["lineage"],
    }
    last_cut = cut_s["write"] + cut_s["counts"] + cut_s["lineage"]
    routed_rows = counts["route"]["rows"] or 1
    layers = {
        **self_s,
        "sources.transcripts.resume_kept_ratio": counts["read"]["rows"] / wl.inp.turns,
        "plans.pipeline.error_rows": counts["split_error"]["rows"],
        "plans.pipeline.slow_rows": counts["split_slow"]["rows"],
        "operators.errorlog.well_formed_ratio": counts["parse"]["well_formed"] or 0.0,
        "operators.assembly.entries": counts["assemble"]["rows"],
        "operators.slowlog.entries": counts["slow_assemble"]["rows"],
        "operators.fingerprint.fingerprint_s": statistics.median(fp) - statistics.median(bare),
        "functions.gelf.bytes_mb": (counts["enrich"]["gelf_bytes"] or 0) / 1e6,
        "operators.routing.written_mb": written_mb,
        "operators.routing.http_ratio": (counts["route"]["http"] or 0) / routed_rows,
        "operators.routing.dropped_ratio": (counts["route"]["dropped"] or 0) / routed_rows,
        "trace.full_s": full_s,
        "trace.residual_s": full_s - last_cut,
    }
    return {"cut_s": cut_s, "cut_reps": reps, "counts": counts, "last_cut_s": last_cut,
            "layers": layers, "skew_spans": ["cut.split_error", "cut.split_slow"],
            "full_span": "full"}


def curation_trace(spark, wl, tr: Tracer) -> dict:
    with tr.span("full") as sp:
        for q in CURATION_QUERIES:
            with tr.span(q):
                wl.run_query(spark, q, tr.span)
    full_s = sp["dur_s"]
    in_queries = sum(tr.by_name(q)["dur_s"] for q in CURATION_QUERIES)
    layers = {}
    for q in CURATION_QUERIES:
        layers[f"entry_queries.{q}.noop_s"] = tr.by_name(q)["dur_s"]
        layers[f"entry_queries.{q}.build_jobs"] = len(tr.by_name(f"{q}.build")["jobs"])
        layers[f"entry_queries.{q}.action_jobs"] = len(tr.by_name(f"{q}.action")["jobs"])
    layers["trace.full_s"] = full_s
    layers["trace.residual_s"] = full_s - in_queries
    return {"layers": layers, "full_span": "full"}


def run_traced(spark, wl, args, work: Path) -> dict:
    tr = Tracer(spark, run_id=f"{args.workload}-seed{args.seed}")
    if args.workload == CURATION:
        out = curation_trace(spark, wl, tr)
    else:
        out = pipeline_trace(spark, wl, tr)
    out["tracer"] = tr
    return out


def _dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 1e6


def task_records(path: Path) -> tuple[dict[int, float], list[dict]]:
    """(stage -> submission ms, per-task run ms and result bytes)."""
    submitted, tasks = {}, []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                si = ev["Stage Info"]
                submitted[si["Stage ID"]] = si.get("Submission Time", 0)
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "run_ms": tm.get("Executor Run Time", 0),
                    "result_bytes": tm.get("Result Size", 0),
                })
    return submitted, tasks


def _in(span: dict, submitted: dict, stage: int) -> bool:
    return span["start_ms"] <= submitted.get(stage, -1) <= span["end_ms"]


def finish(traced: dict, work: Path, args) -> dict:
    """Parse the closed event log, write the artifact, return PER_LAYER values."""
    tr: Tracer = traced.pop("tracer")
    logs = [p for p in (work / "eventlog").iterdir() if p.is_file()]
    log = max(logs, key=lambda p: p.stat().st_mtime)
    submitted, tasks = task_records(log)
    for s in tr.spans:
        s["stages"] = stage_metrics.parse_event_log(str(log), (s["start_ms"], s["end_ms"]))

    layers = {k: 0.0 for k in PER_LAYER}
    layers.update(traced["layers"])
    full = tr.by_name(traced["full_span"])
    tot = stage_metrics.totals(full["stages"])
    layers.update({
        "spark.jobs": len([j for s in tr.spans if _descends(tr, s, full) for j in s["jobs"]]),
        "spark.stages": len(full["stages"]),
        "spark.tasks": tot["tasks"],
        "spark.shuffle_read_mb": tot["shuffle_read_mb"],
        "spark.shuffle_write_mb": tot["shuffle_write_mb"],
        "spark.spill_mb": tot["spill_mb"],
        "spark.gc_share": tot["gc_share"],
        "spark.max_task_s": max((st["max_task_ms"] for st in full["stages"]), default=0) / 1000,
        "trace.overhead_s": layers["trace.full_s"] - traced["job_s"],
    })
    if "skew_spans" in traced:
        spans = [tr.by_name(n) for n in traced["skew_spans"]]
        layers["plans.pipeline.split_shuffle_mb"] = sum(
            st["shuffle_write_mb"] for sp in spans for st in sp["stages"]
        )
        skews = []
        for sp in spans:
            for st in sp["stages"]:
                runs = [t["run_ms"] for t in tasks if t["stage"] == st["stage"]]
                if len(runs) >= 2 and statistics.median(runs) > 0:
                    skews.append(max(runs) / statistics.median(runs))
        layers["plans.pipeline.split_task_skew"] = max(skews, default=1.0)
    else:
        for q in CURATION_QUERIES:
            sp = tr.by_name(q)
            layers[f"entry_queries.{q}.result_mb"] = sum(
                t["result_bytes"] for t in tasks if _in(sp, submitted, t["stage"])
            ) / 1e6

    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "job_s": traced["job_s"],
        "spans": tr.spans,
        **{k: v for k, v in traced.items() if k not in ("layers", "job_s")},
        "per_layer": layers,
    }
    out = work.parent / "trace" / f"{args.workload}-seed{args.seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(artifact, indent=1, default=str))
    print(f"traced artifact: {out}")
    return layers


def _descends(tr: Tracer, span: dict, root: dict) -> bool:
    while span is not None:
        if span["id"] == root["id"]:
            return True
        span = next((s for s in tr.spans if s["id"] == span["parent"]), None)
    return False
