#!/usr/bin/env python3
"""Record the checker's pinned values at the current commit.

  python3 perfbench/pin.py --workload mixed_resume --seeds 0-31
  python3 perfbench/pin.py --workload curation_guarded

Pipeline pins are one run's whole-output per-sink counts, (source, severity)
histogram and routed total per seed, recorded only after that run passes the
simulator checks.  The curation pin is each query's (rows, checksum) on the
fixed corpus, recorded only after every query's rows equal its DuckDB oracle
(``tools/check_oracle.check_one``) on that corpus.  Re-pin after changing
sizes in spec.py: pins are keyed by the sizes they were taken at.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import run  # noqa: E402
from perfbench.spec import CURATION, WORKLOADS, pin_key  # noqa: E402


def pin_pipeline(spark, name: str, seeds: list[int], work: Path) -> dict:
    from perfbench import check

    out = {}
    for seed in seeds:
        wdir = work / f"seed{seed}"
        wl = run.PipelineWorkload(spark, wdir, name, seed)
        _, output = wl.run_once("pin")
        convs = check.conversations(wl.inp.input_dir, wl.inp.hwm)
        exp = check.reference(convs, check.sample_ids(convs, seed, wl.inp.hot_ids))
        problems = check.check_pipeline_output(output, exp, None)
        if problems:
            raise SystemExit(f"seed {seed}: output fails the simulator checks: {problems[:3]}")
        out[str(seed)] = check.aggregates(check.read_output(output))
        print(f"{name} seed {seed}: {out[str(seed)]}")
        shutil.rmtree(wdir, ignore_errors=True)
    return out


def pin_curation(spark, work: Path) -> dict:
    import check_oracle
    import duckdb

    from mariadb_to_graylog_spark.entry_queries import ALL_ORACLES, ALL_QUERIES

    wl = run.CurationWorkload(work)
    con = duckdb.connect()
    for table in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM '{wl.corpus}/{table}.parquet'"
        )
    _, results, raised = wl.run_pass(spark)
    if raised:
        raise SystemExit(f"{raised} curation queries raised")
    for q in results:
        failure = check_oracle.check_one(q, ALL_QUERIES, ALL_ORACLES, spark, con, wl.corpus)
        if failure:
            raise SystemExit(f"{q}: differs from its DuckDB oracle: {failure}")
    return {q: list(v) for q, v in results.items()}


def main() -> int:
    ap = argparse.ArgumentParser(prog="perfbench-pin")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seeds", default="0-31", help="inclusive range a-b (pipeline workloads)")
    args = ap.parse_args()
    for p in ("jobs", "tests", "tools"):
        sys.path.insert(0, str(run.ROOT / p))
    work = run.WORK_ROOT / f"pin-{args.workload}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = run.start_spark(work)
    try:
        if args.workload == CURATION:
            pinned = pin_curation(spark, work)
        else:
            lo, hi = (int(x) for x in args.seeds.split("-"))
            pinned = pin_pipeline(spark, args.workload, list(range(lo, hi + 1)), work)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    path = run.ROOT / "perfbench" / "pins.json"
    pins = json.loads(path.read_text())
    pins[pin_key(args.workload)] = pinned
    path.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
