"""The one way this engine starts a file-source stream.

Every micro-batch topology here (the spike detector, the store-backed
sessionize / attribution / curation processors, the CMS and mixture
gates) is the same shape: a parquet file source read with a fixed
schema and a per-trigger file cap, handed to ``foreachBatch``,
checkpointed, and started with one trigger. What differs is only the
per-batch body, so the body is the one argument that carries meaning.
The runner knows nothing about stores: store-backed processor
factories recover a crashed compaction when they are built
(streaming/store.py), before this function can start a first epoch.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def start_file_stream(
    spark: SparkSession,
    *,
    data_root: str,
    schema,
    process: Callable[[DataFrame, int], None],
    checkpoint: str,
    max_files_per_trigger: int = 1,
    trigger: tuple[str, object] | None = ("availableNow", True),
):
    """Start parquet files under `data_root` -> foreachBatch(`process`)
    and return the StreamingQuery.

    `max_files_per_trigger=1` (the default) makes every input file its
    own micro-batch. `trigger` is one ``DataStreamWriter.trigger``
    keyword as a (name, value) pair — the default
    ``("availableNow", True)`` drains what is in the source and stops
    (the bounded replay every gate and test runs);
    ``("processingTime", "10 seconds")`` is the long-running cadence;
    None keeps Spark's default (the next micro-batch starts as soon as
    the previous one ends and a new file is there)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(data_root)
    )
    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger is not None:
        name, value = trigger
        writer = writer.trigger(**{name: value})
    return writer.start()
