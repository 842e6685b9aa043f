"""Streaming document-ingest curation.

A continuously-ingesting corpus (crawler output landing as files) runs
its arrival-time curation as a stream: quality-gate each document, scan
and redact PII, attach token stats — all STATELESS narrow expressions,
so the streaming plan is the batch plan under ``readStream`` and the
results match row-for-row with no watermark or state store involved
(asserted by the batch-parity test). Cross-document work (dedup,
boilerplate, packing) stays in scheduled batch passes over the
accumulated corpus — that split (stateless on arrival, corpus-wide in
batch) is how production ingest pipelines are actually layered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def curate_documents_batch(docs: DataFrame) -> DataFrame:
    """The arrival-time curation pass as a batch expression:
    ``(doc_id, source, n_tokens, n_pii, keep, text_redacted)`` where
    ``keep`` = Gopher rules AND pii-free-after-redaction is not
    required (redaction handles PII; the gate is quality-only).
    One narrow projection chain — no shuffle, no UDF.
    """
    from ..operators.pii import PATTERNS, pii_count_col, redact_pii
    from ..operators.quality import with_gopher_keep
    from ..operators.text import token_count_col

    gated = with_gopher_keep(docs, "text")
    red = redact_pii(gated, "text", out_col="text_redacted")
    n_pii = None
    for kind in PATTERNS:
        c = pii_count_col(F.col("text"), kind)
        n_pii = c if n_pii is None else n_pii + c
    return red.select(
        "doc_id",
        "source",
        token_count_col(F.col("text")).alias("n_tokens"),
        n_pii.alias("n_pii"),
        "keep",
        "text_redacted",
    )


def curate_documents_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming twin: the same stateless expression chain over a file
    stream. Append-mode safe (no aggregation), so micro-batch output
    equals the batch run over the same files.

    Kept without a catalog caller: the streaming twin of the batch
    curation chain; no catalog row runs a stream."""
    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(path)
    return curate_documents_batch(docs)


def admit_documents_batch(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    *,
    threshold: float = 0.8,
) -> DataFrame:
    """Arrival curation PLUS standing-corpus admission — one batch of
    newly-landed documents quality-gated, PII-redacted, AND checked for
    near-duplication against the persisted corpus index
    (:func:`~..operators.dedup.build_minhash_index`):
    ``(doc_id, source, n_tokens, n_pii, n_corpus_dups, admit,
    text_redacted)`` with ``admit`` = quality-keep AND no corpus
    near-dup (exact jaccard ≥ ``threshold``).

    This is the batch twin :func:`admit_documents_stream` runs per
    micro-batch inside ``foreachBatch`` — the corpus contributes only
    its two index scans, so per-epoch cost is proportional to the
    epoch (the incremental production shape the round-5 streaming
    curation deliberately deferred to batch; with the persisted index
    the cross-doc check IS affordable at arrival time)."""
    from ..operators.dedup import incremental_near_dup_filter_indexed

    curated = curate_documents_batch(docs)
    adm = incremental_near_dup_filter_indexed(
        spark, index_path, docs, "doc_id", "text", threshold=threshold
    ).select("doc_id", "n_corpus_dups")
    return curated.join(adm, "doc_id").select(
        "doc_id",
        "source",
        "n_tokens",
        "n_pii",
        "n_corpus_dups",
        (F.col("keep") & (F.col("n_corpus_dups") == 0)).alias("admit"),
        "text_redacted",
    )


def admit_documents_stream(
    spark: SparkSession,
    src_path: str,
    index_path: str,
    out_path: str,
    *,
    threshold: float = 0.8,
    checkpoint: str | None = None,
    update_index: bool = False,
    max_files_per_trigger: int | None = None,
):
    """Streaming ingest with standing-corpus admission: a file stream of
    arriving documents runs :func:`admit_documents_batch` per
    micro-batch via ``foreachBatch`` with per-epoch idempotent parquet
    output (``out_path/epoch=N``, overwrite-on-retry — the exactly-once
    pattern from tests/test_streaming.py). Cross-doc state lives
    entirely in the persisted index, so the stream itself stays
    stateless (no watermark, no state store) and drained output equals
    the batch twin row-for-row. Returns the started StreamingQuery;
    callers ``awaitTermination`` (the availableNow trigger stops the
    query once the source is drained).

    ``update_index=True`` closes the incremental loop: each epoch's
    ADMITTED documents are folded into the index
    (:func:`~..operators.dedup.append_to_minhash_index`) after the
    epoch output lands, so a duplicate arriving in a LATER epoch is
    rejected against today's admissions, not just the base corpus —
    self-maintaining admission. Within one epoch docs are only checked
    against the index, not each other (the batch-internal dedup stays
    a batch-pass concern). ``max_files_per_trigger`` bounds each
    micro-batch (availableNow honors it, splitting the backlog into
    multiple epochs — how the tests drive a genuinely multi-epoch
    drain).

    Replay safety: the EPOCH DECISIONS themselves are replay-stable,
    not just the index append. If a micro-batch re-runs after its
    output landed (crash between the epoch body and the streaming
    checkpoint commit), recomputing admission would reject the
    replayed docs against their OWN just-appended fingerprints and
    overwrite ``epoch=N`` with every admit flipped false — silently
    losing admitted documents in exactly the recovery scenario the
    idempotent append exists for. So the epoch body first checks for
    ``epoch=N/_SUCCESS``: when present it SKIPS recomputation and
    only re-derives the index append from the EXISTING output (the
    append itself is idempotent via ``on_existing='skip'``, so this
    also covers a crash that landed the output but not the append).
    Corollary: ``out_path`` must be owned by this checkpoint lineage —
    a stale ``epoch=N`` from an unrelated earlier run would be trusted
    as this epoch's decisions."""
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(src_path)

    def _epoch_output_exists(epoch_id: int) -> bool:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(
            f"{out_path}/epoch={epoch_id}/_SUCCESS"
        )
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))

    def _fold_admitted_into_index(
        batch_df: DataFrame, epoch_id: int
    ) -> None:
        from ..operators.dedup import append_to_minhash_index

        admitted_ids = (
            spark.read.parquet(f"{out_path}/epoch={epoch_id}")
            .filter(F.col("admit"))
            .select("doc_id")
        )
        # the index fingerprints the ORIGINAL text, taken from the
        # micro-batch itself (a replayed batch_df is byte-identical —
        # file-source epochs are deterministic from checkpoint offsets)
        append_to_minhash_index(
            spark,
            index_path,
            batch_df.join(admitted_ids, "doc_id", "left_semi"),
            "doc_id",
            "text",
            on_existing="skip",
        )

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if not _epoch_output_exists(epoch_id):
            out = admit_documents_batch(
                spark, batch_df, index_path, threshold=threshold
            )
            out.write.mode("overwrite").parquet(
                f"{out_path}/epoch={epoch_id}"
            )
        # else: replayed epoch — the decisions already landed; do NOT
        # recompute them against an index that may already contain this
        # batch's own fingerprints. Either way, ensure the (idempotent)
        # append ran.
        if update_index:
            _fold_admitted_into_index(batch_df, epoch_id)

    writer = docs.writeStream.foreachBatch(_epoch).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
