"""Incremental index refresh via Structured Streaming.

The reference is strictly batch (CLI main at reference
import_dart_data.py:682-719); its only "incremental" behavior is the
skip-if-present resume loop (:543-550). This module is the Spark-native
generalization: a file-source stream over a landing directory of transcript
parquet files, consumed exactly-once (checkpointed offsets), with each
micro-batch appended to the index's corpus table and only the segments whose
input fingerprint changed rebuilt (the lineage check of
``index.build.build_index``).

Append contract (documented, asserted in tests): new conv_ids must sort
after all existing ones (time-ordered ingestion — natural for transcript
streams with timestamp-prefixed conversation ids). Under that contract the
stable (conv_id, turn_idx) rank of every existing document is unchanged, so
already-committed segments stay valid byte-for-byte; block-max metadata is
avgdl-independent by construction, and query-time scoring always reads the
republished global N / avgdl / df, so scores stay exact after every refresh.

Exactly-once: the stream checkpoint guarantees each landing file is consumed
once; the micro-batch is staged to ``corpus/batch=<id>`` with overwrite, so
a replayed batch rewrites the same partition (idempotent), and the segment
rebuild is itself fingerprint-guarded.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..index.build import BuildConfig, append_index, build_index
from ..index.commit import commit_meta, lineage_entry, read_meta


def corpus_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "corpus")


def read_corpus(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(corpus_dir(index_dir))


def _commit_dangling_appends(index_dir: str, current_tag: str | None = None) -> list[str]:
    """After a successful torn-repair rebuild, mark every ``pending`` append
    tag of the commit record ``committed``. Without this the torn state is
    permanent — ``_append_state`` would see the dangling pending tag forever
    and force a full O(corpus) rebuild on every subsequent batch, silently
    defeating the O(batch) append design. The rebuild ran over the corpus
    table (which the batch was staged to before its append attempt), so the
    torn batches' data IS in the rebuilt index and marking them committed
    is truthful."""
    meta = read_meta(index_dir)
    lineage = dict(meta["lineage"])
    dangling = sorted(
        s for s, e in lineage.items()
        if s.startswith("append-") and e["status"] != "committed"
    )
    if current_tag is not None and f"append-{current_tag}" not in lineage:
        # the batch that TRIGGERED the repair was folded into the rebuild
        # (it was staged to corpus first); commit its tag so a checkpoint
        # replay of this batch skips instead of rebuilding again
        dangling.append(f"append-{current_tag}")
    if dangling:
        for tag in dangling:
            lineage[tag] = lineage_entry(tag, -2, "committed")
        commit_meta(index_dir, {**meta, "lineage": lineage})
    return dangling


def _append_state(meta: dict, tag: str) -> str:
    """'applied' if this batch tag already committed (checkpoint replay),
    'torn' if ANY append tag is still pending (crash mid-append -> data
    files may be partially written), else 'clean'."""
    appends = {
        s: e["status"] for s, e in meta["lineage"].items() if s.startswith("append-")
    }
    if appends.get(f"append-{tag}") == "committed":
        return "applied"
    if any(st != "committed" for st in appends.values()):
        return "torn"
    return "clean"


def incremental_refresh(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    schema: T.StructType,
    config: BuildConfig | None = None,
    checkpoint_dir: str | None = None,
    on_batch: Callable[[int, dict], None] | None = None,
    **build_kwargs,
) -> list[dict]:
    """Drain all currently-available landing files into the index.

    Runs with Trigger.AvailableNow (drain-and-stop — call again on a
    schedule or keep a long-lived query by swapping the trigger). Returns
    the per-batch build metrics.
    """
    cfg = config or BuildConfig()
    if checkpoint_dir is None:
        checkpoint_dir = os.path.join(index_dir, "_stream_checkpoint")
    metrics: list[dict] = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # stage to corpus/batch=<id> (overwrite => replays are idempotent);
        # the corpus table is the source of truth for full rebuilds
        staged = os.path.join(corpus_dir(index_dir), f"batch={batch_id}")
        batch_df.write.mode("overwrite").parquet(staged)
        tag = f"b{batch_id:08d}"
        meta = read_meta(index_dir)
        first = meta is None
        state = "clean" if first else _append_state(meta, tag)
        append_kwargs = {
            k: v for k, v in build_kwargs.items() if k != "force"
        }
        if state == "applied":  # checkpoint replay of a committed batch
            m = {"batch_id": batch_id, "skipped_replay": True}
            metrics.append(m)
            if on_batch is not None:
                on_batch(batch_id, m)
            return
        if first:
            m = build_index(
                spark, read_corpus(spark, index_dir), index_dir, cfg, **build_kwargs
            )
            m["mode"] = "initial_build"
        elif state == "torn":
            # a previous append died between its pending and committed
            # commits — data files may be half-written; repair with a
            # full rebuild from the corpus table (dynamic partition
            # overwrite replaces every partition)
            m = build_index(
                spark, read_corpus(spark, index_dir), index_dir, cfg,
                force=True, **append_kwargs,
            )
            m["mode"] = "torn_repair_rebuild"
            # close out the dangling pending tags so the NEXT batch appends
            # in O(batch) again instead of rebuilding forever
            m["repaired_append_tags"] = _commit_dangling_appends(
                index_dir, current_tag=tag
            )
        else:
            try:
                # O(batch): only the new files are tokenized/encoded
                m = append_index(
                    spark, spark.read.parquet(staged), index_dir,
                    batch_tag=tag, **append_kwargs,
                )
                m["mode"] = "append"
            except ValueError:
                # monotone-append contract violated (ADVICE r01): shifted
                # ranks would corrupt doc_ids silently — full rebuild instead
                m = build_index(
                    spark, read_corpus(spark, index_dir), index_dir, cfg,
                    force=True, **append_kwargs,
                )
                m["mode"] = "monotone_violation_rebuild"
        m["batch_id"] = batch_id
        metrics.append(m)
        if on_batch is not None:
            on_batch(batch_id, m)

    stream = spark.readStream.schema(schema).parquet(landing_dir)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return metrics
