"""Iceberg exactly-once sink — the north rule's production sink
("idempotent exactly-once Iceberg sink keyed (doc_id, window)").

This sandbox image carries no Iceberg runtime jars (no network, no jar
installs), so — like the multimodal decoders — the Spark-side plumbing is
REAL and tested while the engine-specific dependency is gated:

- :func:`iceberg_available` probes the session for the Iceberg SQL
  extensions;
- :class:`IcebergMergeSink` implements the same duck-typed Sink protocol
  as :class:`~parallel_dataflow_spark.streaming.sink.IdempotentKeyedSink`
  (``foreach_batch() / read() / compact()``) on top of ``MERGE INTO``:
  each micro-batch upserts by key, and a committed ``batch_id`` ledger
  table makes replays after checkpoint restarts NO-OPS — the classic
  idempotent-foreachBatch pattern, expressed transactionally;
- the MERGE/DDL text generation is pure and unit-tested here; the
  end-to-end test auto-skips without the jars and runs on a real cluster
  image.

Exactly-once argument (same as the reference's idempotent keyed result
sink, impls/src/passes.rs:109-120): Spark Structured Streaming replays a
micro-batch only with the SAME batch_id and the same deterministic rows.
The ledger SELECT, the MERGE, and the ledger INSERT are three separate
Spark SQL statements — Spark/Iceberg offers no multi-statement
transaction — so a crash between MERGE and ledger INSERT replays the
MERGE on restart. Exactly-once therefore rests on MERGE idempotency:
re-merging the identical keyed rows converges to the same table state
(upsert-by-key is a projection fixpoint), and the ledger row merely
short-circuits the common replay path. This is the standard idempotent
foreachBatch guarantee, not a transactional one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when the session can plan Iceberg DDL (runtime jars +
    SQL extensions present)."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        )
        return True
    except Exception:
        return False


class IcebergMergeSink:
    """Exactly-once keyed sink over an Iceberg table via MERGE INTO.

    Same protocol as IdempotentKeyedSink: ``foreach_batch()`` for
    writeStream, ``read()`` for the resolved view, ``compact()`` maps to
    Iceberg maintenance (rewrite_data_files).
    """

    def __init__(self, table: str, key_cols: list[str]):
        assert all(c.isidentifier() for c in key_cols), key_cols
        assert all(part.isidentifier() for part in table.split(".")), table
        self.table = table
        self.ledger = table + "_epochs"
        self.key_cols = list(key_cols)

    # -- SQL generation (pure; unit-tested in-sandbox) ---------------------
    def create_ddl(self, schema_sql: str, partition_by: str | None = None) -> str:
        part = f" PARTITIONED BY ({partition_by})" if partition_by else ""
        return (
            f"CREATE TABLE IF NOT EXISTS {self.table} ({schema_sql}) "
            f"USING iceberg{part}"
        )

    def ledger_ddl(self) -> str:
        return (
            f"CREATE TABLE IF NOT EXISTS {self.ledger} "
            "(batch_id BIGINT) USING iceberg"
        )

    def merge_sql(self, source_view: str, value_cols: list[str]) -> str:
        on = " AND ".join(f"t.{k} = s.{k}" for k in self.key_cols)
        cols = ", ".join(self.key_cols + value_cols)
        vals = ", ".join(f"s.{c}" for c in self.key_cols + value_cols)
        if value_cols:
            sets = ", ".join(f"t.{c} = s.{c}" for c in value_cols)
            matched = f"WHEN MATCHED THEN UPDATE SET {sets} "
        else:
            # key-only rows: a match already holds the full row; an
            # UPDATE SET with no assignments would be malformed SQL
            matched = ""
        return (
            f"MERGE INTO {self.table} t USING {source_view} s ON {on} "
            f"{matched}"
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
        )

    def already_committed_sql(self, batch_id: int) -> str:
        return f"SELECT 1 FROM {self.ledger} WHERE batch_id = {int(batch_id)}"

    def commit_ledger_sql(self, batch_id: int) -> str:
        return f"INSERT INTO {self.ledger} VALUES ({int(batch_id)})"

    # -- streaming hooks ---------------------------------------------------
    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if spark.sql(self.already_committed_sql(batch_id)).limit(1).count() > 0:
            return  # replayed batch after a checkpoint restart: no-op
        value_cols = [c for c in batch_df.columns if c not in self.key_cols]
        view = f"__ice_batch_{batch_id}"
        batch_df.createOrReplaceTempView(view)
        spark.sql(self.merge_sql(view, value_cols))
        spark.sql(self.commit_ledger_sql(batch_id))
        spark.catalog.dropTempView(view)

    def foreach_batch(self):
        return lambda df, batch_id: self.write_batch(df, batch_id)

    # -- read side ---------------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        return spark.table(self.table)

    def compact(self, spark: SparkSession) -> None:
        catalog = self.table.split(".")[0]
        spark.sql(
            f"CALL {catalog}.system.rewrite_data_files(table => '{self.table}')"
        )
