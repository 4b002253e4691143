"""End-to-end streaming ingestion: the composition of every online
piece in this package into one running job set.

The reference (ErwinGoneMad/MarketDataPipeline) polls HTTP with sleeps
(src/data/ingestion.py:231-239); this is that ingestion loop rebuilt as
Structured Streaming. One call wires:

* **ticks → online RSI/MACD and anchored VWAP**: ONE query on the fused
  operator ``online_ticks`` (streaming/combined.py, engine-managed
  per-symbol state), whose ``foreachBatch`` sink appends the indicator
  columns to ``<out>/indicators`` and the VWAP columns to ``<out>/vwap``;
* **documents → incremental LSH dedup** (textops/incremental.py) via
  ``foreachBatch``: each micro-batch is deduplicated against the
  persisted store (and itself), verdicts land in ``<out>/verdicts``,
  and only accepted docs land in the curated ``<out>/corpus``.

Correctness story: each leg is pinned to its batch twin elsewhere
(tests/test_streaming.py, tests/test_incremental.py); the composition
test (tests/test_pipeline_streaming.py) drives several file drops
through ALL legs at once and re-checks every sink against the batch
computation over the union of the drops.

Scale notes. Sharing one tick query means each dropped file is read,
parsed, and shuffled once (r7 ran a query per leg, paying source I/O
twice), with O(symbols) state in one state store. The trade-off: the
legs share offsets/backpressure, and the tick parquet appends are
at-least-once per retried batch rather than the file sink's
exactly-once. The dedup leg runs inside ``foreachBatch`` because the
store is an external table (parquet keys/sets), not engine state. Its
append-then-verdict write is idempotent only per completed batch: a
retried micro-batch re-ingests (at-least-once semantics) — exactly the
contract documented on LSHDedupStore; a table format with atomic
commits is the production upgrade, same as the store's own caveat.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from marketdatapipeline_spark.streaming.combined import online_ticks
from marketdatapipeline_spark.streaming.ingestion import read_tick_stream
from marketdatapipeline_spark.textops.incremental import (
    LSHDedupStore,
    build_lsh_store,
)

__all__ = ["DOC_SCHEMA", "IngestionPipeline", "start_ingestion"]

#: file-drop document schema (matches the documents table)
DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


@dataclass
class IngestionPipeline:
    """Handle over the running queries; ``process_all()`` drains every
    source (the test/driver hook), ``stop()`` shuts the job set down."""

    queries: list[StreamingQuery] = field(default_factory=list)
    store: LSHDedupStore | None = None

    def process_all(self) -> None:
        for q in self.queries:
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self.queries:
            q.stop()

    def await_any_termination(self, timeout: float | None = None):
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError(
                "no active SparkSession — await_any_termination must run "
                "on the driver that started the ingestion queries"
            )
        # PySpark's awaitAnyTermination takes SECONDS (it converts to
        # ms internally) — passing ms here blocked 1000x too long
        return spark.streams.awaitAnyTermination(timeout)


def start_ingestion(
    spark: SparkSession,
    out_dir: str,
    tick_dir: str | None = None,
    docs_dir: str | None = None,
    anchor: str = "day",
    dedup_threshold: float = 0.5,
    dedup_num_hashes: int = 16,
    dedup_bands: int = 4,
    dedup_ngram: int = 3,
    state_ttl: str | None = None,
) -> IngestionPipeline:
    """Start the composed ingestion job set. Pass ``tick_dir`` and/or
    ``docs_dir`` (file-drop directories); legs without a source are
    simply not started. The dedup store lives at ``<out>/dedup_store``
    — reused across restarts if present, freshly initialized (empty)
    otherwise."""
    if tick_dir is None and docs_dir is None:
        raise ValueError("need at least one of tick_dir / docs_dir")
    pipe = IngestionPipeline()

    if tick_dir is not None:
        # ONE query for both tick legs (see "Scale notes" above):
        # foreachBatch projects the two sink schemas from the same
        # micro-batch of the fused operator.
        ticks = read_tick_stream(spark, tick_dir)
        ind_path = os.path.join(out_dir, "indicators")
        vwap_path = os.path.join(out_dir, "vwap")

        def _tick_batch(batch: DataFrame, batch_id: int) -> None:
            batch.persist()
            try:
                batch.select(
                    "symbol",
                    "ts",
                    F.col("price").alias("close"),
                    "rsi",
                    "macd",
                    "macd_signal",
                    "macd_histogram",
                ).write.mode("append").parquet(ind_path)
                batch.select(
                    "symbol", "ts", "price", "size", "vwap", "vwap_dev"
                ).write.mode("append").parquet(vwap_path)
            finally:
                batch.unpersist()

        pipe.queries.append(
            online_ticks(ticks, anchor=anchor, state_ttl=state_ttl)
            .writeStream.foreachBatch(_tick_batch)
            .option(
                "checkpointLocation", os.path.join(out_dir, "_chk", "ticks")
            )
            .queryName("ingest_ticks")
            .start()
        )

    if docs_dir is not None:
        store_path = os.path.join(out_dir, "dedup_store")
        try:
            store = LSHDedupStore.load(store_path, spark)
        except Exception:
            store = build_lsh_store(
                spark.createDataFrame([], DOC_SCHEMA),
                store_path,
                threshold=dedup_threshold,
                num_hashes=dedup_num_hashes,
                bands=dedup_bands,
                n=dedup_ngram,
            )
        pipe.store = store
        corpus_path = os.path.join(out_dir, "corpus")
        verdict_path = os.path.join(out_dir, "verdicts")

        def _dedup_batch(batch: DataFrame, batch_id: int) -> None:
            from marketdatapipeline_spark.caching import release_caches

            if batch.isEmpty():
                return
            try:
                verdicts = store.ingest(batch)
                (
                    verdicts.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("append")
                    .parquet(verdict_path)
                )
                accepted = batch.join(
                    verdicts.filter(~F.col("is_duplicate")).select(
                        store.id_col
                    ),
                    store.id_col,
                    "left_semi",
                )
                accepted.write.mode("append").parquet(corpus_path)
            finally:
                # ingest scope-persists its doc table / verdict frames;
                # a long-running stream must not accumulate one cache
                # per micro-batch
                release_caches()

        docs = spark.readStream.schema(DOC_SCHEMA).parquet(docs_dir)
        pipe.queries.append(
            docs.writeStream.foreachBatch(_dedup_batch)
            .option(
                "checkpointLocation", os.path.join(out_dir, "_chk", "dedup")
            )
            .queryName("ingest_dedup")
            .start()
        )

    return pipe
