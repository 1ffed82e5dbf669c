package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.sources.CommitLog

/** X36d streaming face: an exactly-once `foreachBatch` sink over the
  * [[CommitLog]] optimistic-commit table. Structured Streaming's
  * `foreachBatch` guarantees at-least-once delivery with a monotonic
  * `batchId`; pairing it with [[CommitLog.commitIdempotent]] upgrades the
  * sink to exactly-once — a redelivered micro-batch finds its id among the
  * committed manifests and becomes a no-op, the same txnAppId/txnVersion
  * contract Delta's streaming writer implements. Readers get snapshot
  * isolation and as-of reads over micro-batch history for free (each
  * micro-batch is one committed version).
  *
  * Usage: `stream.writeStream.foreachBatch(TransactionalSink.into(table))`.
  */
object TransactionalSink {

  /** foreachBatch body: commit each micro-batch as one log version,
    * idempotent on `batchId` across failure/replay. */
  def into(table: String): (DataFrame, Long) => Unit =
    (df, batchId) => {
      CommitLog.commitIdempotent(df.sparkSession, table, df, batchId)
      ()
    }

  /** X36i: the same exactly-once contract INTO THE DELTA WIRE FORMAT —
    * each micro-batch becomes one `_delta_log` version via
    * [[graft.sources.DeltaLite.commitIdempotent]], so the sink output is
    * a standard Delta table (versioned, time-travelable, incrementally
    * consumable via `readChanges`) rather than the private CommitLog
    * layout. Redelivered batches no-op on their logged batch marker. */
  def intoDelta(table: String): (DataFrame, Long) => Unit =
    (df, batchId) => {
      graft.sources.DeltaLite.commitIdempotent(df.sparkSession, df, table, batchId)
      ()
    }

  /** [[intoDelta]] landing each micro-batch PARTITIONED by `partCol` —
    * the streaming-ingest-into-partitioned-table composition: sink output
    * is a standard partitioned Delta table whose add actions carry
    * partitionValues (log-only pruning for downstream readers), with the
    * same SetTransaction exactly-once ledger. */
  def intoDeltaPartitioned(table: String, partCol: String)
      : (DataFrame, Long) => Unit =
    (df, batchId) => {
      graft.sources.DeltaLite.commitIdempotentPartitioned(
        df.sparkSession, df, table, partCol, batchId)
      ()
    }

  /** X261f: the exactly-once contract INTO THE ICEBERG FORMAT — each
    * micro-batch commits as one snapshot whose summary carries the batch
    * id (the snapshot list is the dedup ledger), so the sink output is a
    * standard versioned Iceberg table; redelivered batches return their
    * original snapshot without writing. */
  def intoIceberg(table: String): (DataFrame, Long) => Unit =
    (df, batchId) => {
      graft.sources.IcebergLite.commitIdempotent(df.sparkSession, df, table, batchId)
      ()
    }

  /** X261v: STREAMING WRITE-AUDIT-PUBLISH — [[intoIceberg]]'s exactly-once
    * contract landing every micro-batch on a BRANCH
    * ([[graft.sources.IcebergLite.write]]`(toBranch)`): the stream
    * accumulates snapshots production readers never see (main is
    * untouched), an audit job reads the branch via `readRef`, and
    * `fastForward` publishes the whole audited window atomically — the
    * staging discipline streaming ingest at 100 TB runs so a bad batch
    * never reaches consumers. Redelivered batches still no-op on the
    * snapshot-summary ledger (branch snapshots live in the same list). */
  def intoIcebergBranch(table: String, branch: String)
      : (DataFrame, Long) => Unit =
    (df, batchId) => {
      graft.sources.IcebergLite.commitIdempotent(df.sparkSession, df, table,
        batchId, toBranch = Some(branch))
      ()
    }
}
