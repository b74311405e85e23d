"""Workload inputs, all derived from the ``--seed`` argument.

Pipeline workloads get a transcripts parquet table made by
``datagen.generate_transcripts``; the program under test only ever sees the
written rows.  Two properties are controlled here rather than left to the
generator's Zipf draw:

* the turn count: whole conversations are kept in id order until a fixed
  turn target is reached, so ``job_s`` and ``turns_per_s`` compare equal
  amounts of work across seeds;
* planted hot conversations (``mixed_resume``): runs of consecutive
  conversations of one dialect are re-keyed into one ``conv_id`` with
  continuing ``turn_idx``, so one key holds a large share of the turns.

``mixed_resume`` also gets a base lineage table that marks roughly the first
half of every conversation as consumed.

The curation workload gets ``documents`` and ``embeddings`` tables shaped like
the repository's `sf` test tables (31-word vocabulary, 10-99 words per document; random
unit 64-d vectors) so ``entry_queries`` reads them unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mariadb_to_graylog_spark.datagen import conv_lines_py, generate_transcripts
from mariadb_to_graylog_spark.sources.transcripts import LINEAGE_SCHEMA
from perfbench.spec import PipelineMix


@dataclass(frozen=True)
class PipelineInput:
    input_dir: str
    turns: int  # rows in the input table
    consumed: int  # rows a run reads (past the lineage marks when resuming)
    hot_ids: tuple[str, ...]
    lineage_base: str | None
    hwm: dict[str, int]  # conv_id -> lineage high-water mark (resume only)


def _conv_summary(seed: int, mix: PipelineMix) -> pd.DataFrame:
    """Size and dialect of generated conversations 0, 1, ... until the turn
    target is reached (driver-side twin of the generator, same lines)."""
    rows, total, conv = [], 0, 0
    while total < mix.turns:
        lines = conv_lines_py(conv, seed, mix.mean_turns, mix.slow_frac)
        slow = int(any(line.startswith("# Time:") for line in lines))
        rows.append((f"conv-{conv:06d}", len(lines), slow))
        total += len(lines)
        conv += 1
    return pd.DataFrame(rows, columns=["conv_id", "n", "slow"])


def _plan_keys(keep: pd.DataFrame, mix: PipelineMix) -> pd.DataFrame:
    """conv_id -> (new_conv_id, turn offset) for the kept conversations."""
    new_id = keep["conv_id"].tolist()
    offset = [0] * len(keep)
    hot_turns = int(mix.turns * mix.hot_share)
    for dialect in (0, 1) if mix.hot_per_dialect else ():
        rows = [i for i, s in enumerate(keep["slow"].tolist()) if s == dialect]
        group, filled, pos = 0, 0, 0
        for i in rows:
            if group == mix.hot_per_dialect:
                break
            new_id[i] = f"hot-{'slow' if dialect else 'error'}-{group}"
            offset[i] = pos
            n = int(keep["n"].iloc[i])
            pos += n
            filled += n
            if filled >= hot_turns:
                group, filled, pos = group + 1, 0, 0
    return pd.DataFrame(
        {"conv_id": keep["conv_id"].tolist(), "_new_id": new_id, "_off": offset}
    )


def make_pipeline_input(
    spark: SparkSession, work: str, seed: int, mix: PipelineMix
) -> PipelineInput:
    summary = _conv_summary(seed, mix)
    keys = _plan_keys(summary, mix)
    input_dir = f"{work}/input"
    (
        generate_transcripts(
            spark, n_convs=len(summary), mean_turns=mix.mean_turns, seed=seed,
            slow_frac=mix.slow_frac,
        )
        .join(F.broadcast(spark.createDataFrame(keys)), "conv_id")
        .select(
            F.col("_new_id").alias("conv_id"),
            (F.col("turn_idx") + F.col("_off")).cast("int").alias("turn_idx"),
            "role", "text", "tool", "ts",
        )
        .write.parquet(input_dir)
    )

    sizes = keys.merge(summary, on="conv_id").groupby("_new_id")["n"].sum()
    sizes = {c: int(n) for c, n in sizes.items()}
    turns = sum(sizes.values())
    hot = tuple(sorted(c for c in sizes if c.startswith("hot-")))
    if not mix.resume:
        return PipelineInput(input_dir, turns, turns, hot, None, {})

    hwm = {c: n // 2 - 1 for c, n in sorted(sizes.items())}
    base = f"{work}/lineage_base"
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [("base", c, m, m + 1, None, ts) for c, m in hwm.items()]
    spark.createDataFrame(rows, LINEAGE_SCHEMA).coalesce(1).write.parquet(
        f"{base}/run=base"
    )
    consumed = sum(sizes[c] - (m + 1) for c, m in hwm.items())
    return PipelineInput(input_dir, turns, consumed, hot, base, hwm)


_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]


def make_corpus(work: str, seed: int, n_docs: int, n_vecs: int) -> str:
    """documents + embeddings parquet in ``work``; returns that directory."""
    rng = np.random.default_rng([seed, 7])
    words = rng.integers(0, len(_VOCAB), size=(n_docs, 99))
    lens = rng.integers(10, 100, size=n_docs)
    texts = [" ".join(_VOCAB[w] for w in words[i, : lens[i]]) for i in range(n_docs)]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, size=n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, size=n_vecs).astype("int32"),
        }
    )
    # one parquet file per table, like the `sf` test tables (entry_queries
    # repartitions them); written with pyarrow, no Spark job
    os.makedirs(work, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), f"{work}/documents.parquet")
    emb_schema = pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
    )
    pq.write_table(pa.Table.from_pandas(emb, schema=emb_schema, preserve_index=False),
                   f"{work}/embeddings.parquet")
    return work
