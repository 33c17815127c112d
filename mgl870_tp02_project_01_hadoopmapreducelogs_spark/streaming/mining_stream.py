"""Structured Streaming surface (SURVEY §2.9).

The reference's Drain3 loop is already stream-shaped: lines arrive one
at a time, state snapshots every minute (process_logs_v10.py:11-13,65),
and the persisted miner accumulates across runs (drain3_state.bin,
process_logs_v10.py:39-40). Here that becomes first-class Structured
Streaming over the batch pipeline's own code: ``readStream.text``
ingest of a growing log directory, parsed by ``logs.parse_lines`` and
counted by ``mining.count_templates`` — the same functions the batch
path calls — with the aggregation's state store in the role of
drain3_state.bin, checkpointed and exactly-once. Each epoch persists
the catalog through the batch writer, ``sinks.write_catalog``.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.preprocess import MASKED_COL
from ..sources import sinks
from ..sources.logs import CONTAINER_GLOB


def read_log_stream(
    spark: SparkSession, logs_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S1 as a stream: new ``container_*.log`` files appearing under
    ``logs_dir`` are ingested incrementally."""
    reader = (
        spark.readStream.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", CONTAINER_GLOB)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.text(logs_dir)
    return raw.withColumn("file", F.input_file_name())


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Drive a (bounded) stream to completion into a memory sink — the
    synchronous harness of the registry's streaming entries and the
    tests. The sink table is ``<name>_<uuid>``, so repeated calls never
    collide with an earlier table of the session."""
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(f"{name}_{uuid.uuid4().hex}")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.table(q.name)


def new_template_feed_stream(parsed: DataFrame) -> DataFrame:
    """T3 as a stateful stream: emit each template exactly once — the
    first time it is ever seen — with its first-batch count (the
    reference prints new templates as Drain discovers them,
    process_logs_v10.py:67-78).

    Custom stateful operator via ``applyInPandasWithState``: state is
    one running total per template key, partitioned by template hash —
    the state store scales horizontally with executors and survives
    restarts through the checkpoint, which is exactly the role
    drain3_state.bin played single-node.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def emit_first_sighting(key, pdfs, state: GroupState):
        count = 0
        for pdf in pdfs:
            count += len(pdf)
        if state.exists:
            (total,) = state.get
            state.update((total + count,))
            return iter([])
        state.update((count,))
        return iter([pd.DataFrame({"template": [key[0]], "first_size": [count]})])

    return (
        parsed.groupBy(F.col(MASKED_COL))
        .applyInPandasWithState(
            emit_first_sighting,
            outputStructType="template string, first_size long",
            stateStructType="total long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def drain_mining_stream(parsed: DataFrame) -> DataFrame:
    """T1(c) as a faithful ONLINE stream: Drain's fixed-depth tree,
    decomposed onto the state store.

    Drain routes a line by (token_count, first tokens) to a leaf, then
    similarity-merges within the leaf (He et al. 2017). That routing
    key IS a shuffle key: group the stream by the prefix
    ``(token_count, head)`` and keep each leaf's cluster list as that
    key's state — the tree becomes horizontally partitioned state, one
    leaf per key, exactly the role drain3_state.bin played single-node.
    Within a leaf the batch miner's own rule (``DrainMiner.absorb``)
    applies, with the cap counted per leaf (``drain.LEAF_CAP``). Each
    micro-batch emits the leaf's updated clusters (latest emission per
    (leaf, cluster_idx) wins — an upsert change feed).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.drain import LEAF_CAP, Cluster, DrainMiner

    miner = DrainMiner()

    def update_leaf(key, pdfs, state: GroupState):
        n_toks, head = key
        # leaf state: parallel lists of (template, size)
        if state.exists:
            templates, sizes = state.get
            leaf = [Cluster(t.split(" "), s) for t, s in zip(templates, sizes)]
        else:
            leaf = []
        touched = False
        for pdf in pdfs:
            for msg in pdf[MASKED_COL]:
                toks = miner._tokens(msg)
                if miner.absorb(leaf, toks, 1, full=len(leaf) >= LEAF_CAP) is None:
                    leaf.append(Cluster(toks, 1))
                touched = True
        if not touched:
            return iter([])
        rendered = [" ".join(c.tokens) for c in leaf]
        sizes = [c.size for c in leaf]
        state.update((rendered, sizes))
        return iter(
            [
                pd.DataFrame(
                    {
                        "n_toks": [int(n_toks)] * len(leaf),
                        "head": [head] * len(leaf),
                        "cluster_idx": list(range(len(leaf))),
                        "template": rendered,
                        "size": sizes,
                    }
                )
            ]
        )

    keyed = parsed.select(
        F.size(F.split(F.col(MASKED_COL), " ")).alias("n_toks"),
        F.split(F.col(MASKED_COL), " ").getItem(0).alias("head"),
        MASKED_COL,
    )
    return keyed.groupBy("n_toks", "head").applyInPandasWithState(
        update_leaf,
        outputStructType=(
            "n_toks int, head string, cluster_idx int, template string, size long"
        ),
        stateStructType="templates array<string>, sizes array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def latest_drain_catalog(emissions: DataFrame) -> DataFrame:
    """Collapse the drain change feed to the current catalog: the
    latest emission per (leaf, cluster_idx) is the newest template/size
    (sizes only grow, so max(size) identifies it)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("n_toks", "head", "cluster_idx")
        .orderBy(F.col("size").desc())
    )
    return (
        emissions.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("template", "size")
    )


def write_catalog_stream(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = False,
):
    """S5 streaming sink: checkpointed foreachBatch persistence of the
    template catalog to Parquet (the drain3_state.bin replacement).

    Complete mode: every epoch carries the FULL catalog — bounded by
    template cardinality, not line count — and ``sinks.write_catalog``
    stages and swaps it in, so a replayed epoch rewrites the same
    catalog and a crash mid-swap is repaired on the next read or write.
    """

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        sinks.write_catalog(batch_df, path)

    writer = (
        stream_df.writeStream.outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(sink)
    )
    if available_now:
        # one-shot catch-up: process every file not yet recorded in the
        # checkpoint, emit, and stop — the CLI's incremental-run trigger
        writer = writer.trigger(availableNow=True)
    return writer.start()
