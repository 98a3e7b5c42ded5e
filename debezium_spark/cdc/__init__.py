"""Change-data-capture core: envelope, SMTs, state materialization.

Public-semantics parity targets (Debezium v2.x docs, debezium.io):
- change-event envelope {before, after, source, op, ts_ms, transaction}
- op codes: c=create, u=update, d=delete, r=snapshot read, t=truncate
- SMTs: ExtractNewRecordState, filter, ContentBasedRouter, RegexRouter,
  ByLogicalTableRouter, outbox EventRouter, MaskField/TruncateField
- incremental snapshot (DBLog watermark windows)
- tombstones, transaction metadata, heartbeats
"""
