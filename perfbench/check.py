"""Output checker: the engine's output against the reference semantics.

Pipeline workloads (run outside the timed section, on every trial's output):

* sample conversations (a seed-keyed hash picks about one in sixteen, plus
  every planted hot one): the error path's GELF strings and sinks must equal
  ``tests/reference_sim.simulate_error_log`` (ASCII -> ``udp``, else
  ``http``); the slow path's entry count and raw query text must equal
  ``simulate_slow_log``;
* the whole output: per-sink counts, the (source, severity) histogram and the
  routed total must equal the simulator run over every conversation.  The
  simulator does not model the engine's slow-event severity (``NOTE`` or
  ``WARNING`` from ``query_time``), so slow events are compared as one total
  there, and the full histogram is compared against ``pins.json`` when the
  seed is pinned;
* with ``--resume``, "every conversation" means the turns past the
  conversation's lineage high-water mark.

The curation workload's checks ride the timed action itself: an
``observe`` on each query's result gives its row count and an
order-independent checksum, compared with the pin for the seed (when pinned)
and with the warm-up pass of the same run.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.dataset as ds
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

import reference_sim as sim

HOST = "sparkhost"  # run_pipeline's --hostname default


def is_slow_conv(lines: list[str]) -> bool:
    """The engine's dialect rule (plans/pipeline.split_dialects)."""
    return any(line.rstrip().startswith("# Time:") for line in lines)


def sink_of(gelf: str) -> str:
    return "udp" if gelf.isascii() else "http"


def _severity(gelf_msg: dict[str, str]) -> str:
    level_raw = gelf_msg["short_message"].split(" ", 1)[0]
    return level_raw.replace("[", "").replace("]", "").upper()


def conversations(input_dir: str, hwm: dict[str, int]) -> dict[str, list[str]]:
    """conv_id -> lines in turn order, past the high-water mark if any."""
    t = ds.dataset(input_dir, format="parquet").to_table(
        columns=["conv_id", "turn_idx", "text"]
    )
    pdf = t.to_pandas().sort_values(["conv_id", "turn_idx"], kind="stable")
    out: dict[str, list[str]] = {}
    for conv, turn, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
        if turn > hwm.get(conv, -1):
            out.setdefault(conv, []).append(text)
    return out


def sample_ids(convs, seed: int, hot: tuple[str, ...]) -> list[str]:
    def picked(c: str) -> bool:
        return int(hashlib.sha1(f"{seed}:{c}".encode()).hexdigest(), 16) % 16 == 0

    return sorted(c for c in convs if c in hot or picked(c))


@dataclass
class Expected:
    sinks: Counter = field(default_factory=Counter)
    hist: Counter = field(default_factory=Counter)  # slow severities as "*"
    n_routed: int = 0
    error_rows: dict[str, list[tuple[str, str]]] = field(default_factory=dict)
    slow_texts: dict[str, list[str]] = field(default_factory=dict)


def reference(convs: dict[str, list[str]], sample: list[str]) -> Expected:
    """Simulator output for every conversation (aggregates) and the sample."""
    exp = Expected()
    keep = set(sample)
    for conv, lines in convs.items():
        if is_slow_conv(lines):
            texts = [e["query_text"] for e in sim.simulate_slow_log(lines)]
            for text in texts:
                exp.sinks[sink_of(text)] += 1
            exp.hist[("slow", "*")] += len(texts)
            exp.n_routed += len(texts)
            if conv in keep:
                exp.slow_texts[conv] = texts
        else:
            msgs = sim.simulate_error_log(lines, host=HOST, mode="strict")
            gelfs = [sim.gelf_to_string(m) for m in msgs]
            rows = [(g, sink_of(g)) for g in gelfs]
            for (_, s), m in zip(rows, msgs):
                exp.sinks[s] += 1
                exp.hist[("error", _severity(m))] += 1
            exp.n_routed += len(rows)
            if conv in keep:
                exp.error_rows[conv] = rows
    return exp


def read_output(out_dir: str):
    cols = ["conv_id", "source", "entry_id", "start_turn_idx", "severity", "text",
            "gelf_json", "sink"]
    t = ds.dataset(out_dir, format="parquet", partitioning="hive").to_table(columns=cols)
    return t.to_pandas()


def aggregates(pdf) -> dict:
    hist = Counter(f"{s}|{v}" for s, v in zip(pdf["source"], pdf["severity"]))
    return {
        "sinks": dict(sorted(Counter(pdf["sink"]).items())),
        "hist": dict(sorted(hist.items())),
        "n_routed": int(len(pdf)),
    }


def check_pipeline_output(out_dir: str, exp: Expected, pin: dict | None) -> list[str]:
    """Problems found in one run's fan-out output (empty list = correct)."""
    pdf = read_output(out_dir)
    got = aggregates(pdf)
    problems = []
    if got["n_routed"] != exp.n_routed:
        problems.append(f"n_routed {got['n_routed']} != {exp.n_routed}")
    if got["sinks"] != dict(sorted(exp.sinks.items())):
        problems.append(f"sinks {got['sinks']} != {dict(exp.sinks)}")
    collapsed = Counter()
    for key, n in got["hist"].items():
        source, sev = key.split("|", 1)
        collapsed[(source, "*" if source == "slow" else sev)] += n
    if collapsed != exp.hist:
        problems.append(f"histogram {dict(collapsed)} != {dict(exp.hist)}")
    if pin is not None and got != pin:
        problems.append(f"aggregates {got} != pinned {pin}")

    by_conv = {c: g for c, g in pdf.groupby("conv_id")}
    empty = pdf.iloc[0:0]
    for conv, rows in exp.error_rows.items():
        g = by_conv.get(conv, empty)
        g = g[g["source"] == "error"].sort_values("entry_id")
        if list(zip(g["gelf_json"], g["sink"])) != rows:
            problems.append(f"{conv}: error GELF rows differ from the simulator")
    for conv, texts in exp.slow_texts.items():
        g = by_conv.get(conv, empty)
        g = g[g["source"] == "slow"].sort_values("start_turn_idx")
        raw = ["\n" + t if t else "" for t in g["text"]]
        if raw != texts:
            problems.append(
                f"{conv}: {len(raw)} slow entries vs {len(texts)} simulated, or text differs"
            )
    return problems


def checksum_exprs(df: DataFrame) -> list[Column]:
    """Row count + order-independent checksum (sum of per-row xxhash64 over
    the columns in name order; floats rounded to 6 digits)."""
    by_name = {f.name: f.dataType for f in df.schema.fields}
    vals = [
        F.round(F.col(c), 6) if isinstance(by_name[c], (DoubleType, FloatType)) else F.col(c)
        for c in sorted(by_name)
    ]
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.xxhash64(*vals).cast("decimal(38,0)")), F.lit(0))
        .cast("string")
        .alias("checksum"),
    ]
