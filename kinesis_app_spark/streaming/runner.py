"""Checkpointed stream execution + the Processor API.

Reference parity:
- ``Processor`` (src/Kinesis/Coordination.hs:51-53) is the reference's
  entire computation surface: a callback receiving each record plus an ack
  action; acks advance a max-sequence checkpoint that is unsafe under
  out-of-order acks (src/Kinesis/Coordination.hs:331-332 — `max` can skip
  unacked records). Here the processor is a ``foreachBatch`` callable
  ``(DataFrame, batch_id) -> None``; the epoch commit IS the ack, which is
  strictly stronger (exactly-once per batch) — an intentional behavioral
  improvement, documented in SURVEY.md §7.4.
- ``masterLoop``'s forever-tick (src/Kinesis/Coordination.hs:100-107) is
  the driver's MicroBatchExecution loop; ``configLoopDelay`` maps to the
  trigger interval.
- kill/restart resume (src/Kinesis/Kinesis.hs:62-65) is the
  checkpointLocation offset+commit log, tested in tests/test_streaming.py.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row
from pyspark.sql.streaming import StreamingQuery

#: the Processor type: called once per micro-batch epoch with the batch
#: DataFrame and the epoch id. Epoch commit = ack.
Processor = Callable[[DataFrame, int], None]

#: record-at-a-time Processor: called once per record on the executors.
RecordProcessor = Callable[[Row], None]


@dataclass
class StreamRunner:
    """Builds and starts checkpointed streaming queries."""

    checkpoint_dir: str

    def run(
        self,
        df: DataFrame,
        sink_format: str = "memory",
        query_name: str = "kinesis_app_query",
        output_mode: str = "append",
        trigger_interval: str | None = None,
        available_now: bool = False,
        path: str | None = None,
        partition_by: list[str] | None = None,
    ) -> StreamingQuery:
        writer = (
            df.writeStream.outputMode(output_mode)
            .format(sink_format)
            .queryName(query_name)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if path:
            writer = writer.option("path", path)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if available_now:
            # drain-everything-then-stop: the deterministic test trigger
            writer = writer.trigger(availableNow=True)
        elif trigger_interval:
            # reference: masterLoop tick / 1 s poll pacing
            writer = writer.trigger(processingTime=trigger_interval)
        return writer.start()

    def run_processor(
        self,
        df: DataFrame,
        processor: Processor,
        query_name: str = "kinesis_app_processor",
        output_mode: str = "update",
        available_now: bool = False,
        trigger_interval: str | None = None,
    ) -> StreamingQuery:
        """The reference's Processor surface: user code sees every batch;
        the epoch commit in the checkpoint log is the ack."""
        writer = (
            df.writeStream.outputMode(output_mode)
            .queryName(query_name)
            .option("checkpointLocation", self.checkpoint_dir)
            .foreachBatch(processor)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_interval:
            writer = writer.trigger(processingTime=trigger_interval)
        return writer.start()

    def run_record_processor(
        self,
        df: DataFrame,
        process_record: RecordProcessor,
        query_name: str = "kinesis_app_record_processor",
        available_now: bool = False,
        trigger_interval: str | None = None,
        open_fn: Callable[[int, int], None] | None = None,
        close_fn: Callable[[Exception | None], None] | None = None,
    ) -> StreamingQuery:
        """Record-at-a-time Processor: exact delivery-granularity parity
        with the reference, which hands the callback ONE record plus an ack
        action (src/Kinesis/Coordination.hs:51-53).

        Idempotence caveat (document-level contract, not fixable by any
        engine): delivery is at-least-once per record — a task retry
        re-delivers the failed partition's records within the epoch, and a
        restart re-delivers the last uncommitted epoch. ``process_record``
        must therefore be idempotent (keyed upsert / dedup on
        sequenceNumber). The reference is strictly weaker on the same
        point: its ack advances a max-sequence watermark, so a crash
        between process and ack re-delivers AND out-of-order acks can skip
        records entirely (src/Kinesis/Coordination.hs:329-337).

        ``open_fn(partition_id, epoch_id)`` / ``close_fn(error)`` run on
        the executors around each partition, mirroring ForeachWriter.
        """

        class _Writer:
            def open(self, partition_id: int, epoch_id: int) -> bool:
                if open_fn is not None:
                    open_fn(partition_id, epoch_id)
                return True

            def process(self, row: Row) -> None:
                process_record(row)

            def close(self, error) -> None:
                if close_fn is not None:
                    close_fn(error)

        writer = (
            df.writeStream.queryName(query_name)
            .option("checkpointLocation", self.checkpoint_dir)
            .foreach(_Writer())
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_interval:
            writer = writer.trigger(processingTime=trigger_interval)
        return writer.start()


def run_stream(
    df: DataFrame,
    checkpoint_dir: str,
    **kwargs,
) -> StreamingQuery:
    return StreamRunner(checkpoint_dir).run(df, **kwargs)


def drain(query: StreamingQuery, what: str, timeout_s: int = 300) -> None:
    """Wait for a bounded (``availableNow``) query to finish. A drain
    that outlives ``timeout_s`` stops the query and raises
    ``TimeoutError`` naming ``what`` — a stuck stream fails its caller
    instead of hanging it (a query that FAILED re-raises its error, as
    ``awaitTermination`` does)."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(f"{what} did not finish within {timeout_s} s")
