"""Structured-Streaming incremental ingestion into the lakehouse table.

The reference has no streams (SURVEY.md §2.3: batch-only decision for
the engine core) — but its append+compact habit
(/root/reference/fupi/embedders.py:124-128) maps naturally onto an
incremental micro-batch ingest: a file-source ``readStream`` feeds
``foreachBatch``, each micro-batch commits one atomic snapshot through
the metadata layer, and compaction runs periodically to fold the
resulting small files.

Semantics: exactly-once table state per micro-batch. The streaming
checkpoint records which source files each batch consumed; the sink
side is idempotent against re-delivery because a re-run of batch N
under the same job id finds its snapshot already committed (the
append's job-id guard, lineage.Rewrite) — the classic foreachBatch +
transactional-sink recipe.

Scale notes: this is the 100 TB continuous-ingest path — executors
scale with source file arrival rate; the per-batch commit is O(files),
not O(rows); watermarking/windowed aggs compose upstream of
foreachBatch if the pipeline needs them (none of the reference's
semantics do).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import meta
from .schema import CLIPS_SCHEMA


def stream_clips_into_table(
    spark: SparkSession,
    source_dir: str,
    table: meta.Table,
    checkpoint_dir: str,
    max_files_per_trigger: int = 16,
    available_now: bool = True,
    audit_fn=None,
    publish_tag: str | None = None,
):
    """Incrementally append parquet clip files landing in ``source_dir``
    into ``table``; one snapshot per micro-batch.

    ``audit_fn``: when given, each micro-batch goes through
    Write-Audit-Publish instead of a bare append (wap.audited_append):
    the batch's rows are audited in isolation, consumers reading via
    the publish tag never see a bad batch, and a rejected batch's files
    are surgically removed (r5 WAP semantics — interleaved commits
    survive). The job-id guard covers BOTH outcomes: a redelivered batch
    whose append snapshot already exists in the chain (published or
    rejected) is skipped, keeping the sink exactly-once under
    checkpoint replay."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        job_id = f"stream-b{batch_id:08d}"
        if audit_fn is None:
            # a redelivered batch that already committed (failure
            # between commit and checkpoint advance) is a no-op:
            # append's job-id guard returns the committed snapshot
            meta.append(table, batch_df, job_id=job_id)
            return
        from .wap import PUBLISHED_TAG, audited_append, publish_init

        tag = publish_tag or PUBLISHED_TAG
        # the tag is set before a batch's first append, so a redelivered
        # batch always finds it; audited_append's job-id guard returns a
        # redelivered batch's committed candidate and audits it only if
        # a crash left it unresolved
        if tag not in table.tags():
            publish_init(table, tag)
        audited_append(table, batch_df, audit_fn, job_id=job_id, tag=tag)

    reader = (
        spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    writer = reader.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_quality_monitor(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "codec_quality",
    available_now: bool = True,
):
    """Custom stateful streaming operator (applyInPandasWithState): a
    per-codec running quality monitor over the clip stream — decode +
    SNR-verify each micro-batch (the same vectorized kernel as the
    batch engine), fold per-codec (clips, failures, worst SNR) into
    keyed state, and emit the updated totals every batch.

    The per-group state is a 3-tuple (counts + running min), so state
    size is O(codecs) regardless of stream volume — the shape every
    production quality tracker needs at 10^12-clip scale."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .schema import CLIPS_SCHEMA

    out_schema = T.StructType(
        [
            T.StructField("codec", T.StringType()),
            T.StructField("n_clips", T.LongType()),
            T.StructField("n_bad", T.LongType()),
            T.StructField("min_snr_db", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_clips", T.LongType()),
            T.StructField("n_bad", T.LongType()),
            T.StructField("min_snr_db", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, bad, mn = state.get if state.exists else (0, 0, float("inf"))
        for pdf in pdfs:
            n += len(pdf)
            bad += int((~pdf["pcm_ok"]).sum())
            if len(pdf):
                mn = min(mn, float(pdf["snr_db"].min()))
        state.update((n, bad, mn))
        yield pd.DataFrame(
            {"codec": [key[0]], "n_clips": [n], "n_bad": [bad], "min_snr_db": [mn]}
        )

    import pandas as pd

    from .audio import _BLOCK_SAMPLES, _row_chunks, _verify_chunk

    clips = (
        spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", "2")
        .parquet(source_dir)
    )

    ver_schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType()),
            T.StructField("snr_db", T.DoubleType()),
            T.StructField("pcm_ok", T.BooleanType()),
            T.StructField("codec", T.StringType()),
        ]
    )

    # verify with codec carried through (a stream-stream self-join back
    # to the source would need watermarks; the UDF keeps row order, so
    # the column rides along instead)
    def ver_batches(it):
        for full in it:
            if len(full) == 0:
                continue
            for pdf in _row_chunks(full, 2 * _BLOCK_SAMPLES):
                out = _verify_chunk(pdf)
                out = out[["clip_id", "snr_db", "pcm_ok"]].copy()
                out["codec"] = pdf["codec"].to_numpy()
                yield out

    verified = clips.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec").mapInPandas(
        ver_batches, ver_schema
    )
    monitored = verified.groupBy("codec").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    writer = (
        monitored.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
