"""Change-data capture: the mutation log and its per-transaction
coalescing.

Reference pipeline: Postgres WAL logical replication → ``EventData``
records → coalescing → CloudEvents → sinks
(``src/AgeDigitalTwins.Events/Core/Services/AgeDigitalTwinsReplication.cs:194-530``,
``EventData`` shape at ``Core/Events/EventData.cs:5-14``).

Spark-native shape: every mutation through the client appends rows to an
append-only change log (the stand-in for Delta Change Data Feed — same
old/new-image semantics as REPLICA IDENTITY FULL).  Feed-attached
(``attach_feed``), capture is write-through: point mutations land as
small ND-JSON files (WAL-record appends), bulk operations as
executor-side DataFrame writes (``append_df``) — nothing accumulates on
the driver.  Unattached, the log buffers in a driver list for the unit
path / explicit ``drain_to_feed`` bridging.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

EVENT_DATA_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("graph_name", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("old_value", T.StringType(), True),
        T.StructField("new_value", T.StringType(), True),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("txn_id", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
        # Stamped by the commit log at stage time (the committed version);
        # 0/NULL on feed rows that never passed through a commit.  CDF
        # consumers (replica) filter and order on THIS, never on txn_id —
        # txn_id is a session-local WAL-transaction stand-in whose values
        # restart per session and are meaningless across commits.
        T.StructField("commit_version", T.LongType(), True),
    ]
)


@dataclass
class EventData:
    """One captured change (``EventData.cs:5-14``), plus (txn_id, seq)
    standing in for (WAL transaction, intra-transaction order)."""

    entity_id: str
    graph_name: str
    table_name: str  # 'Twin' | relationship name | 'Model'
    old_value: dict[str, Any] | None
    new_value: dict[str, Any] | None
    event_type: str  # 'Insert' | 'Update' | 'Delete'
    timestamp: str  # ISO-8601
    txn_id: int = 0
    seq: int = 0
    commit_version: int = 0

    @property
    def entity_kind(self) -> str:
        """Twin / Relationship / Model classification
        (``AgeDigitalTwinsReplication.cs:586-616``: by key presence)."""
        doc = self.new_value or self.old_value or {}
        if "$relationshipId" in doc:
            return "Relationship"
        if self.table_name == "Model":
            return "Model"
        return "Twin"


class ChangeLog:
    """Append-only mutation log with transaction grouping.

    Two capture modes:

    * **Buffered** (default): events accumulate in ``self.events`` and
      are handed to the pipeline by ``drain()`` / ``drain_to_feed()``.
    * **Write-through** (``attach_feed(dir)``): every captured change
      goes straight to the ND-JSON feed directory that
      ``run_change_stream`` tails — point mutations as one small file
      per transaction (exactly a WAL record append), bulk operations as
      executor-side DataFrame writes via ``append_df`` — and
      ``self.events`` stays empty, so a million-row import never
      accumulates driver-side state.  This is the Spark stand-in for
      the reference's out-of-process logical-replication source
      (``AgeDigitalTwinsReplication.cs:81-192``)."""

    def __init__(self, graph_name: str = "digitaltwins"):
        self.graph_name = graph_name
        self.events: list[EventData] = []
        self.feed_dir: str | None = None
        # True while ``events`` hold every change since the last commit:
        # a drain hands events on uncommitted, and a store swap no event
        # describes (a job, a reset of the graph) clears it too
        self.complete = True
        self._txn = 0
        self._seq = 0

    def attach_feed(self, feed_dir: str) -> None:
        """Switch to write-through capture into ``feed_dir`` (created if
        missing).  Any already-buffered events are flushed first so no
        change is lost across the mode switch."""
        import os

        os.makedirs(feed_dir, exist_ok=True)
        if self.events:
            self.drain_to_feed(feed_dir)
        self.feed_dir = feed_dir

    def begin(self) -> int:
        """Start a new transaction; every API call is one transaction
        (matching one Cypher statement = one WAL transaction)."""
        self._txn += 1
        return self._txn

    def append(
        self,
        table_name: str,
        entity_id: str,
        old: dict[str, Any] | None,
        new: dict[str, Any] | None,
        event_type: str,
        timestamp: str,
        txn_id: int | None = None,
    ) -> EventData:
        self._seq += 1
        ev = EventData(
            entity_id=entity_id,
            graph_name=self.graph_name,
            table_name=table_name,
            old_value=old,
            new_value=new,
            event_type=event_type,
            timestamp=timestamp,
            txn_id=self._txn if txn_id is None else txn_id,
            seq=self._seq,
        )
        if self.feed_dir is not None:
            self._write_feed_file([ev])
        else:
            self.events.append(ev)
        return ev

    def append_df(self, events: DataFrame) -> None:
        """Bulk change capture: write an ``EVENT_DATA_SCHEMA``-shaped
        DataFrame straight into the feed, executor-side (one part-file
        per partition — never materialized on the driver).  This is how
        the import job emits its per-row change events at scale."""
        if self.feed_dir is None:
            raise ValueError("append_df requires attach_feed(feed_dir)")
        if "commit_version" not in events.columns:
            events = events.withColumn(
                "commit_version", F.lit(0).cast("long")
            )
        (
            events.select([f.name for f in EVENT_DATA_SCHEMA.fields])
            .write.mode("append")
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSS")
            .json(self.feed_dir)
        )

    # ------------------------------------------------------------------
    def to_df(self, spark: SparkSession, events: Iterable[EventData] | None = None) -> DataFrame:
        rows = [
            (
                e.entity_id,
                e.graph_name,
                e.table_name,
                None if e.old_value is None else json.dumps(e.old_value, separators=(",", ":")),
                None if e.new_value is None else json.dumps(e.new_value, separators=(",", ":")),
                e.event_type,
                _ts(e.timestamp),
                e.txn_id,
                e.seq,
                e.commit_version,
            )
            for e in (self.events if events is None else events)
        ]
        return spark.createDataFrame(rows, EVENT_DATA_SCHEMA)

    def drain(self) -> list[EventData]:
        out, self.events = self.events, []
        if out:
            self.complete = False
        return out

    def committed(self) -> None:
        """Forget the buffered events once they are durably committed."""
        self.events.clear()
        self.complete = True

    def drain_to_feed(self, feed_dir: str) -> int:
        """Drain the log into an ND-JSON feed directory — the bridge
        from OLTP mutations to ``run_change_stream``'s readStream source
        (one file per drain = one clean micro-batch; file sources only
        pick up whole new files).  This is the WAL→stream hand-off of
        the reference's replication loop, minus the Postgres slot."""
        import os
        import uuid

        events = self.drain()
        if not events:
            return 0
        self._write_feed_file(events, feed_dir)
        return len(events)

    def _write_feed_file(self, events: list[EventData], feed_dir: str | None = None) -> None:
        """Write events as ONE new ND-JSON file (atomic rename so the
        file-stream source never reads a half-written file)."""
        import os
        import uuid

        feed_dir = feed_dir or self.feed_dir
        os.makedirs(feed_dir, exist_ok=True)
        tmp = os.path.join(feed_dir, f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            for e in events:
                f.write(
                    json.dumps(
                        {
                            "entity_id": e.entity_id,
                            "graph_name": e.graph_name,
                            "table_name": e.table_name,
                            "old_value": None
                            if e.old_value is None
                            else json.dumps(e.old_value, separators=(",", ":")),
                            "new_value": None
                            if e.new_value is None
                            else json.dumps(e.new_value, separators=(",", ":")),
                            "event_type": e.event_type,
                            "timestamp": _ts(e.timestamp).isoformat(
                                sep="T", timespec="milliseconds"
                            ),
                            "txn_id": e.txn_id,
                            "seq": e.seq,
                            "commit_version": e.commit_version,
                        },
                        separators=(",", ":"),
                    )
                    + "\n"
                )
        final = os.path.join(feed_dir, f"batch-{uuid.uuid4().hex}.ndjson")
        os.rename(tmp, final)


def _ts(iso: str):
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).replace(tzinfo=None)


def coalesce_events(changes: DataFrame) -> DataFrame:
    """S3: merge consecutive WAL rows for the same entity within one
    transaction into a single event — first OldValue, last NewValue;
    event type Insert wins over Update, Delete wins over everything if
    it is last (``AgeDigitalTwinsReplication.cs:324-351,396-423``).

    Distributed: groupBy (commit, txn, entity) with min/max-by — one
    shuffle, partial aggregation map-side.  At scale this is the CDF
    ``groupBy(entity, commit_version)`` pattern (SURVEY.md §2.4 S3).

    The group key leads with ``commit_version``: ``txn_id`` counters are
    session-local and restart at 1 per session, so a micro-batch that
    spans commits from two sessions would otherwise merge unrelated
    transactions that happen to share a txn number.  Feed rows that never
    passed through a commit carry commit_version 0/NULL (normalized to 0)
    and keep the original per-txn behavior.
    """
    if "commit_version" in changes.columns:
        changes = changes.withColumn(
            "commit_version",
            F.coalesce(F.col("commit_version"), F.lit(0)).cast("long"),
        )
    else:
        changes = changes.withColumn(
            "commit_version", F.lit(0).cast("long")
        )
    w_first = F.min_by(F.col("old_value"), F.col("seq"))
    w_last = F.max_by(F.col("new_value"), F.col("seq"))
    coalesced = (
        changes.groupBy(
            "commit_version", "txn_id", "entity_id", "graph_name", "table_name"
        )
        .agg(
            w_first.alias("old_value"),
            w_last.alias("new_value"),
            F.min_by(F.col("event_type"), F.col("seq")).alias("first_type"),
            F.max_by(F.col("event_type"), F.col("seq")).alias("last_type"),
            F.max(F.col("timestamp")).alias("timestamp"),
            F.max(F.col("seq")).alias("seq"),
        )
        .withColumn(
            "event_type",
            F.when(F.col("last_type") == "Delete", F.lit("Delete"))
            .when(F.col("first_type") == "Insert", F.lit("Insert"))
            .otherwise(F.col("last_type")),
        )
        .drop("first_type", "last_type")
    )
    return coalesced
