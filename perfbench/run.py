#!/usr/bin/env python3
"""Repository benchmark: the checked log-pipeline job and the guarded
curation queries, each a closed loop of one client running one job at a time
on ``local[nproc]``.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root.  The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they are
the per-layer ones, and the full traced artifact is written to
``.perfbench_work/trace/<workload>-seed<n>.json``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

T0 = time.perf_counter()
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import spec  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
REQUIRED = (
    "mariadb_to_graylog_spark/__init__.py",
    "jobs/run_pipeline.py",
    "tests/reference_sim.py",
    "tools/stage_metrics.py",
)
WORK_ROOT = ROOT / ".perfbench_work"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_pin(workload: str, seed: int | None):
    """The pinned values for this workload and seed, or None (see pin.py)."""
    pins = json.loads((ROOT / "perfbench" / "pins.json").read_text()).get(spec.pin_key(workload))
    if pins is None or workload == spec.CURATION:  # one fixed corpus, one pin
        return pins
    return pins.get(str(seed))


def start_spark(work: Path, event_log: Path | None = None):
    """The benchmark's own session: local[nproc], scratch inside ``work``.

    ``jobs/run_pipeline.main`` calls ``getOrCreate`` and so runs on it."""
    from mariadb_to_graylog_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # Python workers (datagen's mapInPandas) import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log.as_uri()
        # one plain-text file, as tools/stage_metrics reads it
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark(app_name="perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class PipelineWorkload:
    """One ``run_pipeline.main`` job per trial, each into fresh directories."""

    def __init__(self, spark, work: Path, name: str, seed: int):
        from perfbench import gen

        self.name, self.seed, self.work = name, seed, work
        self.mix = spec.PIPELINE_MIXES[name]
        self.inp = gen.make_pipeline_input(spark, str(work / "gen"), seed, self.mix)

    @property
    def input_rows(self) -> int:
        return self.inp.consumed

    def fresh_dirs(self, tag: str) -> dict[str, str]:
        d = self.work / f"trial-{tag}"
        dirs = {k: str(d / k) for k in ("output", "metrics", "lineage")}
        if self.inp.lineage_base:
            # read_lineage reads every run= directory: start from the base only
            shutil.copytree(self.inp.lineage_base, dirs["lineage"])
        return dirs

    def argv(self, dirs: dict[str, str]) -> list[str]:
        a = ["--input", self.inp.input_dir]
        for k in ("output", "metrics", "lineage"):
            a += [f"--{k}", dirs[k]]
        return a + (["--resume"] if self.mix.resume else [])

    def run_once(self, tag: str):
        """Returns (seconds, output dir)."""
        import run_pipeline

        dirs = self.fresh_dirs(tag)
        argv = self.argv(dirs)
        t = time.perf_counter()
        with contextlib.redirect_stdout(sys.stderr):
            run_pipeline.main(argv)
        return time.perf_counter() - t, dirs["output"]

    def check(self, outputs: list[str]) -> list[list[str]]:
        from perfbench import check

        convs = check.conversations(self.inp.input_dir, self.inp.hwm)
        exp = check.reference(convs, check.sample_ids(convs, self.seed, self.inp.hot_ids))
        pin = load_pin(self.name, self.seed)
        return [check.check_pipeline_output(o, exp, pin) for o in outputs]


class CurationWorkload:
    """One pass over the guarded curation queries per trial, noop sink."""

    def __init__(self, work: Path):
        from perfbench import gen

        self.corpus = gen.make_corpus(
            str(work / "corpus"), spec.CORPUS_SEED, spec.CORPUS_DOCS, spec.CORPUS_VECS
        )
        self.first_pass: dict | None = None

    @property
    def input_rows(self) -> int:
        return spec.CORPUS_DOCS + spec.CORPUS_VECS

    def run_query(self, spark, name: str, span=None):
        """Build the query, write it to a noop sink; (rows, checksum)."""
        from pyspark.sql import Observation

        from mariadb_to_graylog_spark.entry_queries import ALL_QUERIES
        from perfbench.check import checksum_exprs

        span = span or (lambda _n: contextlib.nullcontext())
        with span(f"{name}.build"):
            df = ALL_QUERIES[name](spark, self.corpus)
        obs = Observation(f"check_{name}")
        with span(f"{name}.action"):
            df.observe(obs, *checksum_exprs(df)).write.format("noop").mode("overwrite").save()
        got = obs.get
        return int(got["rows"]), str(got["checksum"])

    def run_pass(self, spark, span=None) -> tuple[float, dict, int]:
        """Returns (seconds, query -> result or None when it raised, failures)."""
        results, t = {}, time.perf_counter()
        for q in spec.CURATION_QUERIES:
            try:
                results[q] = self.run_query(spark, q, span)
            except Exception:
                traceback.print_exc()
                results[q] = None
        return time.perf_counter() - t, results, sum(r is None for r in results.values())

    def check(self, passes: list[dict]) -> list[list[str]]:
        """Per query execution: equal to the pin (if pinned) and to the
        warm-up pass of this run."""
        pin = load_pin(spec.CURATION, seed=None)
        out = []
        for results in passes:
            for q, got in results.items():
                problems = []
                if got is None:
                    problems.append(f"{q}: raised")
                if pin is not None and got is not None and list(got) != pin[q]:
                    problems.append(f"{q}: {got} != pinned {pin[q]}")
                if got != self.first_pass.get(q):
                    problems.append(f"{q}: {got} != warm-up pass {self.first_pass.get(q)}")
                out.append(problems)
        return out


def measure(args, work: Path) -> dict:
    spark = start_spark(work)
    try:
        return _measure(spark, args, work)
    finally:
        # the traced run replaces the session; stop whichever is current
        from pyspark.sql import SparkSession

        stop_spark(SparkSession.getActiveSession() or spark)


def _measure(spark, args, work: Path) -> dict:
    from perfbench import trace

    print(f"perfbench: session up at {time.perf_counter() - T0:.2f} s", file=sys.stderr)
    curation = args.workload == spec.CURATION
    wl = CurationWorkload(work) if curation else PipelineWorkload(
        spark, work, args.workload, args.seed
    )

    print(f"perfbench: input ready at {time.perf_counter() - T0:.2f} s", file=sys.stderr)
    # warm-up: the first job on a cold JVM costs about twice a warm one
    if curation:
        _, wl.first_pass, _ = wl.run_pass(spark)
    else:
        wl.run_once("warm")
    setup_s = time.perf_counter() - T0

    times, outputs, raised, passes = [], [], 0, []
    deadline = time.perf_counter() + args.seconds
    i = 0
    while True:
        try:
            if curation:
                dt, results, n_raised = wl.run_pass(spark)
                passes.append(results)
                raised += n_raised
                if not n_raised:
                    times.append(dt)
            else:
                dt, out = wl.run_once(str(i))
                times.append(dt)
                outputs.append(out)
        except Exception:
            traceback.print_exc()
            raised += 1
        i += 1
        if time.perf_counter() >= deadline:
            break
    driver_peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    traced = None
    if args.trace:
        # per-layer numbers come from a second context with the event log on;
        # the untraced trials above give the job_s the overhead is taken from
        spark.stop()  # the context only: the JVM and its JIT state stay
        spark = start_spark(work, event_log=work / "eventlog")
        traced = trace.run_traced(spark, wl, args, work)
    spark.stop()  # closes the event log before it is parsed

    if curation:
        problems = wl.check(passes)
        attempted = len(problems)
    else:
        problems = wl.check(outputs) + [["raised"]] * raised
        attempted = i
    failed = sum(bool(p) for p in problems)
    for p in problems:
        for line in p[:5]:
            print(f"CHECK FAILED: {line}", file=sys.stderr)

    job_s = statistics.median(times) if times else float("nan")
    print(
        f"{args.workload} seed={args.seed}: job_s median {job_s:.4f} s over "
        f"{len(times)} trials {[round(x, 3) for x in times]}; setup {setup_s:.3f} s; "
        f"{wl.input_rows} input rows; {failed}/{attempted} failed"
    )
    if traced is not None:
        traced["job_s"] = job_s
        metrics = trace.finish(traced, work, args)
        units = spec.PER_LAYER
    else:
        metrics = {
            "job_s": job_s,
            "turns_per_s": wl.input_rows / job_s,
            "setup_s": setup_s,
            "driver_py_peak_mb": driver_peak,
            "ok_ratio": 1.0 - failed / attempted,
        }
        units = spec.END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    for p in (ROOT / "jobs", ROOT / "tests", ROOT / "tools"):
        sys.path.insert(0, str(p))
    work = WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
