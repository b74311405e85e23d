"""The benchmark's own tests: generator determinism, the checker catching a
perturbed output, metric and workload names against BENCHMARK.json, tiny-size
smoke runs, and the refusal to run outside a checkout of the engine.

  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
for p in (ROOT, ROOT / "jobs", ROOT / "tests", ROOT / "tools"):
    sys.path.insert(0, str(p))

from perfbench import check, gen, run, spec  # noqa: E402

TINY = spec.PipelineMix(slow_frac=0.4, turns=700, hot_per_dialect=1, hot_share=0.2, resume=True)


def _digest(spark, path: str, order: list[str]) -> str:
    """sha256 over a table's rows in ``order``: equal digests = equal rows."""
    h = hashlib.sha256()
    for row in spark.read.parquet(path).orderBy(*order).toLocalIterator():
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()


def _benchmark_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = run.start_spark(tmp_path_factory.mktemp("spark"))
    yield s
    s.stop()


def test_names_match_benchmark_json():
    bench = _benchmark_json()
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == spec.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == spec.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(spec.WORKLOADS)


def test_generator_same_seed_same_rows(spark, tmp_path):
    digests = []
    for i, seed in enumerate((5, 5, 6)):
        inp = gen.make_pipeline_input(spark, str(tmp_path / f"g{i}"), seed, TINY)
        digests.append(
            (
                _digest(spark, inp.input_dir, ["conv_id", "turn_idx"]),
                _digest(spark, inp.lineage_base, ["conv_id"]),
                inp.hot_ids,
            )
        )
    assert digests[0] == digests[1]
    assert digests[0][0] != digests[2][0]
    assert digests[0][2] == ("hot-error-0", "hot-slow-0")


def test_corpus_same_seed_same_rows(spark, tmp_path):
    a = gen.make_corpus(str(tmp_path / "a"), 3, 40, 30)
    b = gen.make_corpus(str(tmp_path / "b"), 3, 40, 30)
    c = gen.make_corpus(str(tmp_path / "c"), 4, 40, 30)
    for table, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        da, db, dc = (_digest(spark, f"{d}/{table}.parquet", [key]) for d in (a, b, c))
        assert da == db != dc


@pytest.fixture(scope="module")
def pipeline_output(spark, tmp_path_factory):
    """One real resume run on a tiny input and its reference expectations."""
    import run_pipeline

    work = tmp_path_factory.mktemp("pipe")
    inp = gen.make_pipeline_input(spark, str(work / "gen"), 9, TINY)
    lineage = work / "lineage"
    shutil.copytree(inp.lineage_base, lineage)
    out = work / "out"
    run_pipeline.main(["--input", inp.input_dir, "--output", str(out),
                       "--lineage", str(lineage), "--resume"])
    convs = check.conversations(inp.input_dir, inp.hwm)
    exp = check.reference(convs, check.sample_ids(convs, 9, inp.hot_ids))
    return out, exp


def _rewrite(out: Path, edit) -> Path:
    """Copy of a fan-out output with ``edit`` applied to its largest file."""
    copy = out.parent / f"perturbed-{edit.__name__}"
    shutil.copytree(out, copy)
    f = max(copy.rglob("*.parquet"), key=lambda p: p.stat().st_size)
    pq.write_table(edit(pq.read_table(f)), f)
    return copy


def test_checker_accepts_the_real_output(pipeline_output):
    out, exp = pipeline_output
    assert exp.error_rows and exp.slow_texts  # the sample covers both dialects
    assert check.check_pipeline_output(str(out), exp, None) == []


def test_checker_flags_a_missing_row(pipeline_output):
    out, exp = pipeline_output

    def drop_last_row(t):
        return t.slice(0, t.num_rows - 1)

    problems = check.check_pipeline_output(str(_rewrite(out, drop_last_row)), exp, None)
    assert any(p.startswith("n_routed") for p in problems)
    assert any(p.startswith("sinks") for p in problems)


def test_checker_flags_one_changed_gelf_byte(pipeline_output):
    out, exp = pipeline_output
    sampled = set(exp.error_rows)

    def change_one_byte(t):
        rows = t.to_pylist()
        i = next(i for i, r in enumerate(rows) if r["conv_id"] in sampled and r["source"] == "error")
        g = rows[i]["gelf_json"]
        rows[i]["gelf_json"] = g[:-2] + ("x" if g[-2] != "x" else "y") + g[-1]
        return pa.Table.from_pylist(rows, schema=t.schema)

    problems = check.check_pipeline_output(str(_rewrite(out, change_one_byte)), exp, None)
    assert any("error GELF rows differ" in p for p in problems)


def test_checker_flags_a_wrong_pin(pipeline_output):
    out, exp = pipeline_output
    pin = check.aggregates(check.read_output(str(out)))
    assert check.check_pipeline_output(str(out), exp, pin) == []
    pin["n_routed"] += 1
    assert check.check_pipeline_output(str(out), exp, pin)


def _run_tiny(workload: str, trace: int, tmp_path: Path) -> dict:
    """run.py at tiny sizes, in a child process like the real command."""
    script = tmp_path / "tiny_run.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {str(ROOT)!r})\n"
        "from dataclasses import replace\n"
        "from perfbench import run, spec\n"
        "spec.PIPELINE_MIXES = {k: replace(m, turns=800)"
        " for k, m in spec.PIPELINE_MIXES.items()}\n"
        "spec.CORPUS_DOCS, spec.CORPUS_VECS = 60, 60\n"
        "raise SystemExit(run.main(sys.argv[1:]))\n"
    )
    proc = subprocess.run(
        [sys.executable, str(script), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_smoke_pipeline_run(tmp_path):
    res = _run_tiny("mixed_resume", 0, tmp_path)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert res["metrics"]["ok_ratio"]["value"] == 1.0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]
    }


def test_smoke_traced_pipeline_run(tmp_path):
    res = _run_tiny("mixed_resume", 1, tmp_path)
    assert res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]
    }
    art = json.loads((run.WORK_ROOT / "trace" / "mixed_resume-seed1.json").read_text())
    layers = art["per_layer"]
    self_times = [v for k, v in layers.items() if k in spec.PIPELINE_LAYERS and k.endswith("_s")]
    assert sum(self_times) - layers["operators.fingerprint.fingerprint_s"] + layers[
        "trace.residual_s"
    ] == pytest.approx(layers["trace.full_s"])
    assert layers["spark.jobs"] > 0 and layers["plans.pipeline.slow_rows"] > 0


def test_smoke_curation_run(tmp_path):
    res = _run_tiny("curation_guarded", 0, tmp_path)
    assert res["correct"] and res["attempted"] == len(spec.CURATION_QUERIES)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mixed_resume", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
