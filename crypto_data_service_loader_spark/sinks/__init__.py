"""Sinks: exactly-once per batch id — local per-batch parquet overwrite by
default, ClickHouse over HTTP for the reference's store — behind one
interface (`writers.Sink`), so every pipeline runs hermetically on testdata."""
