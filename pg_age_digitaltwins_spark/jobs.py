"""Import / delete jobs (SURVEY.md §2.3 D12-D14).

Reference: ``src/AgeDigitalTwins/Jobs/ImportJob.cs`` — ND-JSON stream
with ``{"Section": "Header"|"Models"|"Twins"|"Relationships"}`` marker
lines, ``fileVersion`` 1.0.0, batch size 50, checkpoint per batch +
section boundary, per-line error log; ``DeleteJob.cs`` — delete all
relationships, then twins, then models; ``JobService.cs`` — job records
with status/heartbeats.

Two execution paths:

* ``ImportJob.run`` — line-at-a-time with checkpoint/resume and
  per-line error records: behavioral parity with the reference
  (resumable, per-item error isolation).
* ``import_file_distributed`` — the 100 TB shape: ``spark.read.text``
  the whole file, assign sections by marker-line positions (markers are
  a handful of rows — the only driver-side data), then bulk-validate +
  MERGE each section as ONE vectorized operation.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Iterable

from pyspark.sql import SparkSession, functions as F

from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient


class ImportError_(ValueError):
    pass


@dataclass
class ImportCheckpoint:
    """``ImportJobCheckpoint``: section + line offset + per-section
    progress; enough to resume mid-file."""

    job_id: str
    section: str = "None"  # None | Header | Models | Twins | Relationships
    line_number: int = 0
    models_processed: int = 0
    twins_processed: int = 0
    relationships_processed: int = 0
    error_count: int = 0


@dataclass
class JobRecord:
    id: str
    job_type: str = "import"
    status: str = "Running"  # Running | Succeeded | PartiallySucceeded | Failed
    models_created: int = 0
    twins_created: int = 0
    relationships_created: int = 0
    error_count: int = 0
    errors: list[dict[str, Any]] = field(default_factory=list)
    # deletion-job counters (``DeleteJobCheckpoint.cs:29-39`` surface)
    models_deleted: int = 0
    twins_deleted: int = 0
    relationships_deleted: int = 0
    # version stamped by the table-format bulk path (commit_root)
    committed_version: "int | None" = None
    # lifecycle timestamps (job_records columns created_at/updated_at/
    # finished_at/purge_at, ``JobService.cs:61-63,576``) — epoch seconds
    # on the owning JobService's clock; purge_at drives retention
    created_at: "float | None" = None
    updated_at: "float | None" = None
    finished_at: "float | None" = None
    purge_at: "float | None" = None


@dataclass
class DeleteJobCheckpoint:
    """``DeleteJobCheckpoint.cs``: phase cursor + per-phase counters and
    completion flags, enough to resume a killed delete job at its
    phase boundary (relationships → twins → models)."""

    job_id: str
    section: str = "Relationships"  # Relationships | Twins | Models | Completed
    relationships_deleted: int = 0
    twins_deleted: int = 0
    models_deleted: int = 0
    error_count: int = 0
    relationships_completed: bool = False
    twins_completed: bool = False
    models_completed: bool = False


class FileLeaseStore:
    """Durable lease backend: one JSON file per job lock under ``path``,
    so two DRIVERS (separate JobService instances / processes) sharing a
    filesystem actually contend.  Mutations run under an ``flock``-held
    guard file (read-modify-write CAS), and the lease file itself is
    replaced by atomic rename, so readers never see a torn write.

    This is the reference's Postgres lock-service contract
    (``src/AgeDigitalTwins/Jobs/JobService.cs``: acquire-with-TTL,
    heartbeat renewal, stale takeover) on files instead of a DB table.
    Expiry timestamps are wall-clock values supplied by the caller —
    multi-driver deployments need the same clock discipline the
    reference needs (its DB supplies the time)."""

    def __init__(self, path: str):
        import os

        os.makedirs(path, exist_ok=True)
        self.path = path

    def _lease_file(self, job_id: str) -> str:
        import os

        return os.path.join(self.path, f"{job_id}.lease.json")

    def transact(self, job_id: str, fn):
        """Run ``fn(current) -> (new_state, result)`` atomically, where
        state is ``(owner, expiry) | None``; persists ``new_state`` if
        it differs and returns ``result``."""
        import fcntl
        import os
        import uuid

        guard = os.path.join(self.path, ".guard")
        with open(guard, "a+") as g:
            fcntl.flock(g, fcntl.LOCK_EX)
            cur = None
            try:
                with open(self._lease_file(job_id)) as f:
                    d = json.load(f)
                cur = (d["owner"], float(d["expiry"]))
            except (FileNotFoundError, json.JSONDecodeError, KeyError):
                pass
            new, result = fn(cur)
            if new != cur:
                lease = self._lease_file(job_id)
                if new is None:
                    try:
                        os.unlink(lease)
                    except FileNotFoundError:
                        pass
                else:
                    tmp = os.path.join(self.path, f".{uuid.uuid4().hex}.tmp")
                    with open(tmp, "w") as f:
                        json.dump({"owner": new[0], "expiry": new[1]}, f)
                    os.rename(tmp, lease)
            return result


class JobService:
    """D14: job records + lease-based locks with heartbeats.

    The lock SEMANTICS mirror the reference's Postgres lock service
    (``JobService.cs``: acquire-with-TTL, heartbeat renewal, stale-lock
    takeover).  Default backend is an in-process dict (one Spark driver
    needs nothing more); pass ``lease_store=FileLeaseStore(path)`` to
    make two services on one path genuinely contend.  ``clock`` is
    injectable for tests — it defaults to monotonic for the dict
    backend and wall-clock for a shared store (cross-process leases
    need a shared timebase)."""

    def __init__(
        self,
        lock_ttl_s: float = 60.0,
        clock=None,
        lease_store=None,
        job_retention_s: float = 24 * 3600.0,
    ):
        import time as _time

        self.records: dict[str, JobRecord] = {}
        self.checkpoints: dict[str, ImportCheckpoint] = {}
        self.delete_checkpoints: dict[str, DeleteJobCheckpoint] = {}
        self.locks: dict[str, tuple[str, float]] = {}  # job_id -> (owner, expiry)
        self.lock_ttl_s = lock_ttl_s
        self.lease_store = lease_store
        # _defaultJobRetention = 24 h (JobService.cs:21): every record
        # gets purge_at = created_at + retention at registration
        self.job_retention_s = job_retention_s
        self.clock = clock or (_time.time if lease_store is not None else _time.monotonic)
        # record timestamps are wall-clock epochs (they serialize to the
        # ISO createdAt/updatedAt/... fields); the LOCK clock may stay
        # monotonic in-process
        self.record_clock = clock or _time.time

    # -- record lifecycle (job_records timestamps + retention,
    #    JobService.cs:40-105 CreateJobAsync / :950-974 PurgeExpiredJobs)
    def register(self, rec: JobRecord) -> JobRecord:
        """Stamp creation/update/purge timestamps and store the record."""
        now = self.record_clock()
        rec.created_at = now
        rec.updated_at = now
        rec.purge_at = now + self.job_retention_s
        self.records[rec.id] = rec
        return rec

    def finish(self, rec: JobRecord) -> JobRecord:
        """Stamp terminal-state timestamps (finished_at + updated_at)."""
        now = self.record_clock()
        rec.updated_at = now
        rec.finished_at = now
        return rec

    def purge_expired_jobs(self, now: float | None = None) -> int:
        """Drop every record whose ``purge_at`` has passed (terminal or
        not — the reference's DELETE is unconditional on purge_at) along
        with its checkpoints; returns the purged count."""
        now = self.record_clock() if now is None else now
        expired = [
            jid
            for jid, r in self.records.items()
            if r.purge_at is not None and r.purge_at < now
        ]
        for jid in expired:
            del self.records[jid]
            self.checkpoints.pop(jid, None)
            self.delete_checkpoints.pop(jid, None)
        return len(expired)

    # -- delete-job checkpoints (durable when a lease store is present,
    #    so a restarted JobService resumes where the dead one stopped —
    #    DeleteJobCheckpointTests.cs::..._ShouldSurvive_JobServiceRestart)
    def _delete_cp_file(self, job_id: str) -> str | None:
        import os

        if self.lease_store is None:
            return None
        return os.path.join(self.lease_store.path, f"{job_id}.delete.cp.json")

    def save_delete_checkpoint(self, cp: DeleteJobCheckpoint) -> None:
        import dataclasses
        import os
        import uuid

        self.delete_checkpoints[cp.job_id] = cp
        path = self._delete_cp_file(cp.job_id)
        if path is None:
            return
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(dataclasses.asdict(cp), f)
        os.rename(tmp, path)

    def load_delete_checkpoint(self, job_id: str) -> DeleteJobCheckpoint | None:
        cp = self.delete_checkpoints.get(job_id)
        if cp is not None:
            return cp
        path = self._delete_cp_file(job_id)
        if path is None:
            return None
        try:
            with open(path) as f:
                d = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None
        cp = DeleteJobCheckpoint(**d)
        self.delete_checkpoints[job_id] = cp
        return cp

    def drop_delete_checkpoint(self, job_id: str) -> None:
        import os

        self.delete_checkpoints.pop(job_id, None)
        path = self._delete_cp_file(job_id)
        if path is not None:
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass

    def acquire_lock(self, job_id: str, owner: str) -> bool:
        """Take (or renew) the lease; a lock held by another owner is
        claimable only once its lease expired without a heartbeat."""
        now = self.clock()
        if self.lease_store is not None:
            def txn(cur):
                if cur is not None and cur[0] != owner and cur[1] > now:
                    return cur, False
                return (owner, now + self.lock_ttl_s), True

            return self.lease_store.transact(job_id, txn)
        held = self.locks.get(job_id)
        if held is not None and held[0] != owner and held[1] > now:
            return False
        self.locks[job_id] = (owner, now + self.lock_ttl_s)
        return True

    def heartbeat(self, job_id: str, owner: str) -> bool:
        """Renew the lease mid-run; False = lease lost (expired and
        taken, or never held) — the runner must stop writing."""
        now = self.clock()
        if self.lease_store is not None:
            def txn(cur):
                if cur is None or cur[0] != owner:
                    return cur, False
                return (owner, now + self.lock_ttl_s), True

            return self.lease_store.transact(job_id, txn)
        held = self.locks.get(job_id)
        if held is None or held[0] != owner:
            return False
        self.locks[job_id] = (owner, now + self.lock_ttl_s)
        return True

    def release_lock(self, job_id: str, owner: str) -> None:
        if self.lease_store is not None:
            def txn(cur):
                if cur is not None and cur[0] == owner:
                    return None, None
                return cur, None

            self.lease_store.transact(job_id, txn)
            return
        held = self.locks.get(job_id)
        if held is not None and held[0] == owner:
            del self.locks[job_id]


class ImportJob:
    """D12: sectioned ND-JSON import with checkpoint/resume."""

    def __init__(
        self,
        client: DigitalTwinsSparkClient,
        job_service: JobService | None = None,
        batch_size: int = 50,
        checkpoint_interval: int = 50,
    ):
        self.client = client
        self.jobs = job_service or JobService()
        self.batch_size = batch_size
        self.checkpoint_interval = checkpoint_interval

    # ------------------------------------------------------------------
    def run(
        self,
        lines: Iterable[str],
        job_id: str,
        resume_from: ImportCheckpoint | None = None,
    ) -> JobRecord:
        rec = JobRecord(id=job_id)
        cp = resume_from or ImportCheckpoint(job_id)
        if resume_from is not None:
            rec.models_created = cp.models_processed
            rec.twins_created = cp.twins_processed
            rec.relationships_created = cp.relationships_processed
            rec.error_count = cp.error_count
        prev = self.jobs.records.get(job_id)
        self.jobs.register(rec)
        if resume_from is not None and prev is not None and prev.created_at is not None:
            # a resume continues the ORIGINAL job: creation and purge
            # deadlines stay anchored to the first registration
            # (JobService.cs stamps CreatedAt once at creation)
            rec.created_at = prev.created_at
            rec.purge_at = prev.purge_at

        try:
            it = iter(enumerate(lines, start=1))
            # Header validation (ValidateStreamHeaderAsync, ImportJob.cs:429-457)
            if resume_from is None:
                self._validate_header(it)
                cp.section = "Header"
                cp.line_number = 2

            section = cp.section
            batch: list[dict[str, Any]] = []
            for lineno, raw in it:
                if lineno <= cp.line_number:
                    continue  # resume: skip already-processed lines
                raw = raw.strip()
                if not raw:
                    continue
                try:
                    node = json.loads(raw)
                except json.JSONDecodeError as exc:
                    self._error(rec, cp, lineno, f"invalid JSON: {exc}")
                    continue
                if isinstance(node, dict) and "Section" in node:
                    self._flush(section, batch, rec, cp)
                    section = node["Section"]
                    cp.section = section
                    cp.line_number = lineno
                    continue
                batch.append(node)
                if len(batch) >= self.batch_size:
                    self._flush(section, batch, rec, cp, lineno)
            self._flush(section, batch, rec, cp)
        except Exception as exc:  # noqa: BLE001 — no stuck-Running records
            # The reference marks the job Failed when stream-header
            # validation (or any mid-stream fault) escapes; mirror
            # import_file_distributed's wrapper so the job id isn't
            # 409-blocked until the 24 h purge (ImportJob.cs:429-457).
            rec.status = "Failed"
            rec.error_count += 1
            rec.errors.append({"error": str(exc)})
            self.jobs.finish(rec)
            raise
        rec.status = (
            "Succeeded"
            if rec.error_count == 0
            else ("PartiallySucceeded" if (rec.models_created + rec.twins_created + rec.relationships_created) else "Failed")
        )
        self.jobs.finish(rec)
        return rec

    # ------------------------------------------------------------------
    def _validate_header(self, it) -> None:
        try:
            _, first = next(it)
            marker = json.loads(first)
        except (StopIteration, json.JSONDecodeError) as exc:
            raise ImportError_("First section must be 'Header'") from exc
        if marker.get("Section") != "Header":
            raise ImportError_("First section must be 'Header'")
        try:
            _, second = next(it)
            header = json.loads(second)
        except (StopIteration, json.JSONDecodeError) as exc:
            raise ImportError_("Header data line missing") from exc
        if header.get("fileVersion") != "1.0.0":
            raise ImportError_(
                f"Unsupported file version: {header.get('fileVersion')}"
            )

    def _error(self, rec: JobRecord, cp: ImportCheckpoint, lineno: int, msg: str) -> None:
        rec.error_count += 1
        cp.error_count += 1
        rec.errors.append({"line": lineno, "error": msg})

    def _flush(
        self,
        section: str,
        batch: list[dict[str, Any]],
        rec: JobRecord,
        cp: ImportCheckpoint,
        lineno: int | None = None,
    ) -> None:
        if not batch:
            return
        items, batch[:] = list(batch), []
        if section == "Models":
            try:
                self.client.create_models(items)
                rec.models_created += len(items)
                cp.models_processed += len(items)
            except Exception as exc:  # noqa: BLE001 — per-batch error record
                self._error(rec, cp, lineno or cp.line_number, str(exc))
        elif section == "Twins":
            results = self.client.create_or_replace_digital_twins(
                items, max_batch=max(len(items), 100)
            )
            for r in results:
                if r["status"] == "ok":
                    rec.twins_created += 1
                    cp.twins_processed += 1
                else:
                    self._error(rec, cp, lineno or cp.line_number, r["error"])
        elif section == "Relationships":
            results = self.client.create_or_replace_relationships(items)
            for r in results:
                if r["status"] == "ok":
                    rec.relationships_created += 1
                    cp.relationships_processed += 1
                else:
                    self._error(rec, cp, lineno or cp.line_number, r["error"])
        if lineno is not None:
            cp.line_number = lineno
        self.jobs.checkpoints[cp.job_id] = cp


# ----------------------------------------------------------------------
# distributed import (the scale path)
# ----------------------------------------------------------------------

def sectioned_lines_df(spark: SparkSession, path: str):
    """``spark.read.text`` + section assignment.

    Marker lines are O(sections) — they are the only rows collected to
    the driver; every data line keeps its section via a range lookup
    pushed back as a CASE expression, so the pass over the (arbitrarily
    large) file stays fully distributed."""
    lines = (
        spark.read.text(path)
        .withColumn("pos", F.monotonically_increasing_id())
        .withColumn("value", F.trim("value"))
        .filter(F.length("value") > 0)
    )
    markers = (
        lines.filter(F.col("value").rlike(r'^\{\s*"Section"'))
        .select("pos", F.get_json_object("value", "$.Section").alias("section"))
        .collect()
    )
    if not markers or markers[0]["section"] != "Header":
        raise ImportError_("First section must be 'Header'")
    markers = sorted(markers, key=lambda r: r["pos"])
    expr = F.lit("None")
    for m in markers:  # later markers override earlier: build bottom-up
        expr = F.when(F.col("pos") >= m["pos"], F.lit(m["section"])).otherwise(expr)
    data = lines.withColumn("section", expr).filter(
        ~F.col("value").rlike(r'^\{\s*"Section"')
    )
    return data


_ERROR_SAMPLE_CAP = 100  # per section; the reference streams per-line
# errors to blob storage (ImportJob.cs:625-700) — we keep counts plus a
# bounded sample so a billion-line import can't flood the driver.


def _twin_parse_fn(registry, ts: str, user_id: str | None):
    """mapInPandas worker: ND-JSON twin line → validated, stamped twin
    row (+ error column).  Per-document JSON validation/stamping is
    genuinely row-wise work (the reference runs the same loop in C#,
    ``DigitalTwins.cs:268-463``), so an Arrow-batched Pandas stage is
    the right Spark tool — it runs on executors, scales with the input,
    and nothing funnels through the driver."""
    import pandas as pd

    from pg_age_digitaltwins_spark import crud
    from pg_age_digitaltwins_spark.store.graph_store import _twin_row
    from pg_age_digitaltwins_spark.validation import ValidationError, validate_twin

    cols = ["pos", "dt_id", "model_id", "etag", "last_update_time", "doc", "error"]

    def fn(batches):
        for pdf in batches:
            rows = []
            for pos, line in zip(pdf["pos"], pdf["value"]):
                try:
                    doc = json.loads(line)
                    dt_id = doc.get("$dtId")
                    if not dt_id:
                        raise ValidationError("Twin document requires $dtId")
                    validate_twin(registry, doc)
                    stamped = crud.stamp_twin(doc, dt_id, ts, user_id)
                    rows.append((pos, *_twin_row(stamped), None))
                except Exception as exc:  # noqa: BLE001 — per-line error record
                    rows.append((pos, None, None, None, None, None, str(exc)[:500]))
            yield pd.DataFrame(rows, columns=cols)

    return fn


def _rel_parse_fn(ts: str):
    import pandas as pd

    from pg_age_digitaltwins_spark import crud
    from pg_age_digitaltwins_spark.store.graph_store import _rel_row
    from pg_age_digitaltwins_spark.validation import validate_relationship

    cols = [
        "pos", "relationship_id", "source_id", "target_id", "name", "etag", "doc",
        "error",
    ]

    def fn(batches):
        for pdf in batches:
            rows = []
            for pos, line in zip(pdf["pos"], pdf["value"]):
                try:
                    doc = json.loads(line)
                    validate_relationship(doc)
                    doc = dict(doc)
                    doc["$etag"] = crud.generate_etag(doc["$relationshipId"], ts)
                    rows.append((pos, *_rel_row(doc), None))
                except Exception as exc:  # noqa: BLE001
                    rows.append((pos, None, None, None, None, None, None, str(exc)[:500]))
            yield pd.DataFrame(rows, columns=cols)

    return fn


def _collect_errors(
    rec: JobRecord, bad, label: str, output_path: str | None = None
) -> None:
    n = bad.count()
    if n:
        rec.error_count += n
        for r in bad.limit(_ERROR_SAMPLE_CAP).collect():
            rec.errors.append({"section": label, "error": r["error"]})
        if output_path:
            # full per-line error log, written by executors (the
            # reference streams these to the output blob,
            # ImportJob.cs:625-700; at scale the log itself is big data)
            (
                bad.select(
                    F.lit(label).alias("section"),
                    F.col("pos").alias("line"),
                    "error",
                ).write.mode("append").json(output_path)
            )


def import_file_distributed(
    client: DigitalTwinsSparkClient,
    spark: SparkSession,
    path: str,
    user_id: str | None = None,
    ts: str | None = None,
    output_path: str | None = None,
    commit_root: str | None = None,
    job_service: "JobService | None" = None,
) -> JobRecord:
    """The 100 TB import shape: one distributed pass per section, no
    data-row ``collect()``.

    * Models: driver-side (a tiny dimension — SURVEY.md §7's only
      allowed driver loop).
    * Twins / Relationships: ``mapInPandas`` parse+validate+stamp on
      executors → last-line-wins dedup per key (window on the file
      position) → MERGE as ``left_anti`` + ``unionByName`` against the
      store — the Delta ``MERGE INTO`` plan shape.
    * Relationship endpoints are join-validated against the merged
      twins table (``left_semi`` keep / ``left_anti`` error count), not
      per-row point reads.
    * Only error samples (capped) and counts reach the driver.

    Change capture: when the client's ChangeLog is feed-attached
    (``attach_feed``), per-row Insert/Update events for the merged twins
    and relationships are written to the feed **executor-side** as
    DataFrame part-files (``ChangeLog.append_df``) — driver-side
    ``events`` stays empty no matter the import size.  Unattached, this
    path emits no per-row events (at that point change capture belongs
    to the storage layer — Delta CDF — not a per-row driver log).
    Reference semantics: ``ImportJob.cs:442-604``."""
    rec = JobRecord(id=f"import-{path.rsplit('/', 1)[-1]}")
    if job_service is not None:
        job_service.register(rec)
    try:
        _import_file_distributed_body(
            client, spark, path, rec, user_id, ts, output_path, commit_root
        )
    except Exception as exc:  # noqa: BLE001 — no stuck-Running records
        rec.status = "Failed"
        rec.error_count += 1
        rec.errors.append({"error": str(exc)})
        if job_service is not None:
            job_service.finish(rec)
        raise
    if job_service is not None:
        job_service.finish(rec)
    return rec


def _import_file_distributed_body(
    client: DigitalTwinsSparkClient,
    spark: SparkSession,
    path: str,
    rec: JobRecord,
    user_id: str | None,
    ts: str | None,
    output_path: str | None,
    commit_root: str | None,
) -> JobRecord:
    from pg_age_digitaltwins_spark import crud
    from pg_age_digitaltwins_spark.store.graph_store import with_vdoc
    from pyspark.sql import Window

    data = sectioned_lines_df(spark, path)
    header = [
        json.loads(r["value"])
        for r in data.filter(F.col("section") == "Header").orderBy("pos").take(1)
    ]
    if not header or header[0].get("fileVersion") != "1.0.0":
        raise ImportError_(
            f"Unsupported file version: {header[0].get('fileVersion') if header else None}"
        )
    ts = ts or crud.now_iso()

    model_docs = [
        json.loads(r["value"])
        for r in data.filter(F.col("section") == "Models").orderBy("pos").collect()
    ]
    if model_docs:
        client.create_models(model_docs, ts=ts)
        rec.models_created = len(model_docs)

    store = client.store

    # --- twins: parse/validate/stamp on executors, MERGE once ---------
    twin_lines = data.filter(F.col("section") == "Twins").select("pos", "value")
    parsed = twin_lines.mapInPandas(
        _twin_parse_fn(client.registry, ts, user_id),
        schema="pos long, dt_id string, model_id string, etag string, "
        "last_update_time timestamp, doc string, error string",
    ).persist()
    # persist: the parse feeds three consumers (error sample, count,
    # merge) — without it the Python parse stage re-runs per action.
    try:
        _collect_errors(
            rec, parsed.filter(F.col("error").isNotNull()), "Twins", output_path
        )
        good = parsed.filter(F.col("error").isNull())
        rec.twins_created = good.count()
        last_wins = Window.partitionBy("dt_id").orderBy(F.col("pos").desc())
        new_twins = (
            good.withColumn("__rn", F.row_number().over(last_wins))
            .filter(F.col("__rn") == 1)
            .select("dt_id", "model_id", "etag", "last_update_time", "doc")
        )
        if "vdoc" in store.twins.columns:
            new_twins = with_vdoc(new_twins)
        # Cut the merge's lineage off the cached parse so the cache can
        # be dropped NOW (it would otherwise accumulate across imports
        # in one session) without every later store action re-running
        # the Python parse stage.
        new_twins = new_twins.localCheckpoint(eager=True)
    finally:
        parsed.unpersist()
    pre_twins = store.twins
    merged_twins = pre_twins.join(new_twins, "dt_id", "left_anti").unionByName(
        new_twins
    )
    store = crud._replace(store, twins=merged_twins)

    # --- relationships: parse on executors, join-validate endpoints ---
    rel_lines = data.filter(F.col("section") == "Relationships").select("pos", "value")
    parsed_r = rel_lines.mapInPandas(
        _rel_parse_fn(ts),
        schema="pos long, relationship_id string, source_id string, "
        "target_id string, name string, etag string, doc string, error string",
    ).persist()
    try:
        _collect_errors(
            rec, parsed_r.filter(F.col("error").isNotNull()), "Relationships", output_path
        )
        good_r = parsed_r.filter(F.col("error").isNull())
        twin_ids = merged_twins.select("dt_id")
        with_src = good_r.join(
            twin_ids.withColumnRenamed("dt_id", "source_id"), "source_id", "left_semi"
        )
        valid_r = with_src.join(
            twin_ids.withColumnRenamed("dt_id", "target_id"), "target_id", "left_semi"
        )
        n_good, n_valid = good_r.count(), valid_r.count()
        rec.relationships_created = n_valid
        if n_valid < n_good:
            rec.error_count += n_good - n_valid
            rec.errors.append(
                {
                    "section": "Relationships",
                    "error": f"{n_good - n_valid} rows reference missing source/target twins",
                }
            )
        rel_last = Window.partitionBy("source_id", "relationship_id").orderBy(
            F.col("pos").desc()
        )
        new_rels = (
            valid_r.withColumn("__rn", F.row_number().over(rel_last))
            .filter(F.col("__rn") == 1)
            .select("relationship_id", "source_id", "target_id", "name", "etag", "doc")
        )
        if "vdoc" in store.relationships.columns:
            new_rels = with_vdoc(new_rels)
        new_rels = new_rels.localCheckpoint(eager=True)
    finally:
        parsed_r.unpersist()
    pre_rels = store.relationships
    merged_rels = pre_rels.join(
        new_rels, ["source_id", "relationship_id"], "left_anti"
    ).unionByName(new_rels)
    store = crud._replace(store, relationships=merged_rels)

    client._swap(store, logged=False)
    if client.changes.feed_dir is not None:
        _emit_import_changes(client, new_twins, pre_twins, new_rels, pre_rels, ts)
    if commit_root is not None:
        # Bulk path through the table format: COW-commit ONLY the
        # partitions the import touched (distinct model ids / edge
        # names — two tiny aggregates), with the per-row change batch
        # staged executor-side in the same commit.  The stream tailing
        # ``commit_root`` picks the batch up atomically.
        from pg_age_digitaltwins_spark.store.commit_log import commit_cow
        from pg_age_digitaltwins_spark.streaming.changes import _ts as parse_ts

        changed: dict = {}
        if model_docs:
            changed["models"] = True
            changed["model_edges"] = True
        t_vals = [r["model_id"] for r in new_twins.select("model_id").distinct().collect()]
        r_vals = [r["name"] for r in new_rels.select("name").distinct().collect()]
        if t_vals:
            changed["twins"] = t_vals
        if r_vals:
            changed["relationships"] = r_vals
        when = parse_ts(ts)
        ev_twins = _import_event_df(
            client.changes.graph_name, new_twins,
            pre_twins.select("dt_id", F.col("doc").alias("__old_doc")),
            ["dt_id"], F.col("dt_id"), F.lit("Twin"), 1, when,
        )
        ev_rels = _import_event_df(
            client.changes.graph_name, new_rels,
            pre_rels.select("source_id", "relationship_id", F.col("doc").alias("__old_doc")),
            ["source_id", "relationship_id"],
            F.col("relationship_id"), F.col("name"), 2, when,
        )
        rec.committed_version = commit_cow(
            store, commit_root, changed=changed,
            events=ev_twins.unionByName(ev_rels),
        )
    rec.status = "Succeeded" if rec.error_count == 0 else (
        "PartiallySucceeded"
        if (rec.models_created + rec.twins_created + rec.relationships_created)
        else "Failed"
    )
    return rec


def _emit_import_changes(
    client: DigitalTwinsSparkClient,
    new_twins,
    pre_twins,
    new_rels,
    pre_rels,
    ts: str,
) -> None:
    """Write per-row change events for an import to the attached feed,
    executor-side.  Old images come from a left join against the
    PRE-merge snapshot (REPLICA IDENTITY FULL semantics); Insert vs
    Update is decided by old-image presence, exactly like the point
    mutation path in ``client.create_or_replace_digital_twin``."""
    from pg_age_digitaltwins_spark.streaming.changes import _ts as parse_ts

    log = client.changes
    when = parse_ts(ts)
    log.append_df(
        _import_event_df(
            log.graph_name,
            new_twins,
            pre_twins.select("dt_id", F.col("doc").alias("__old_doc")),
            ["dt_id"],
            F.col("dt_id"),
            F.lit("Twin"),
            log.begin(),
            when,
        )
    )
    log.append_df(
        _import_event_df(
            log.graph_name,
            new_rels,
            pre_rels.select(
                "source_id", "relationship_id", F.col("doc").alias("__old_doc")
            ),
            ["source_id", "relationship_id"],
            F.col("relationship_id"),
            F.col("name"),
            log.begin(),
            when,
        )
    )


def _import_event_df(
    graph_name: str, df, old, keys, entity_id_col, table_name_col, txn: int, when
):
    """EventData rows for a merged import batch: old images via a left
    join against the PRE-merge snapshot (REPLICA IDENTITY FULL), Insert
    vs Update by old-image presence."""
    return df.join(old, keys, "left").select(
        entity_id_col.alias("entity_id"),
        F.lit(graph_name).alias("graph_name"),
        table_name_col.alias("table_name"),
        F.col("__old_doc").alias("old_value"),
        F.col("doc").alias("new_value"),
        F.when(F.col("__old_doc").isNull(), F.lit("Insert"))
        .otherwise(F.lit("Update"))
        .alias("event_type"),
        F.lit(when).alias("timestamp"),
        F.lit(txn).cast("long").alias("txn_id"),
        # every entity appears once post-dedup, so seq only has to be
        # distinct, not ordered
        F.monotonically_increasing_id().alias("seq"),
    )


# ----------------------------------------------------------------------
# delete job (D13)
# ----------------------------------------------------------------------

def export_graph_ndjson(
    store,
    path: str,
    header: dict | None = None,
    single_file: bool = True,
    ordered: bool = True,
) -> dict[str, int]:
    """Export the graph as Import-Jobs ND-JSON — the exact format
    ``ImportJob`` / ``import_file_distributed`` consume (and the
    reference's documented bulk-migration interchange:
    ``docs/how-to-guides/migration-guide.mdx:247-305`` — Header marker,
    header object, then Models / Twins / Relationships sections, one
    JSON document per line).

    ``single_file=True`` writes ONE import-ready file: the header and
    the models section are driver-side (models are a tiny dimension —
    the §7 allowance), twin and relationship documents STREAM through
    ``toLocalIterator`` (one partition in memory at a time, never a
    ``collect``).  ``single_file=False`` is the 100 TB shape: EVERY
    section — header+models and the Relationships marker included —
    lands as part-files under ``<path>/0{0..3}_<section>/`` (the tiny
    driver-side sections as single-part directories), so the ONE glob
    ``cat <path>/*/part-*`` in lexicographic order IS the valid
    ND-JSON import stream, without the data ever visiting the driver.
    Section counts come from ``Observation`` metrics captured by the
    write jobs themselves — no post-write re-scan of either table.

    ``ordered`` sorts documents by key inside each section — byte-
    deterministic exports for diffing/round-trip tests; turn it off at
    scale to skip the global sorts (the import is order-insensitive
    within a section: last-line-wins dedup handles collisions).

    Returns section counts.  Round-trip contract (tested): export →
    import into an empty store ⇒ identical twins / relationships /
    models."""
    hdr = header or {
        "fileVersion": "1.0.0",
        "author": "pg_age_digitaltwins_spark",
        "organization": "export",
    }
    twins = store.twins.select("dt_id", "doc")
    rels = store.relationships.select("relationship_id", "doc")
    if ordered:
        twins = twins.orderBy("dt_id")
        rels = rels.orderBy("relationship_id")
    models = [
        r["model"]
        for r in store.models.select("id", "model").orderBy("id").collect()
    ]
    counts = {"models": len(models), "twins": 0, "relationships": 0}
    if single_file:
        with open(path, "w", encoding="utf-8") as f:
            f.write(json.dumps({"Section": "Header"}) + "\n")
            f.write(json.dumps(hdr) + "\n")
            f.write(json.dumps({"Section": "Models"}) + "\n")
            for m in models:
                f.write(m.strip().replace("\n", "") + "\n")
            f.write(json.dumps({"Section": "Twins"}) + "\n")
            for row in twins.select("doc").toLocalIterator():
                f.write(row["doc"] + "\n")
                counts["twins"] += 1
            f.write(json.dumps({"Section": "Relationships"}) + "\n")
            for row in rels.select("doc").toLocalIterator():
                f.write(row["doc"] + "\n")
                counts["relationships"] += 1
        return counts
    import os

    from pyspark.sql import Observation

    os.makedirs(path, exist_ok=True)
    head_lines = [
        json.dumps({"Section": "Header"}),
        json.dumps(hdr),
        json.dumps({"Section": "Models"}),
        *[m.strip().replace("\n", "") for m in models],
        json.dumps({"Section": "Twins"}),
    ]
    # driver-side sections as SINGLE-PART DIRECTORIES so the documented
    # `cat <path>/*/part-*` glob reconstructs the full stream (ADVICE
    # r14: top-level .ndjson files fell outside that glob and the
    # reconstruction lost the Header/Models sections)
    for dirname, lines in (
        ("00_header", head_lines),
        ("02_relationships_marker", [json.dumps({"Section": "Relationships"})]),
    ):
        os.makedirs(os.path.join(path, dirname), exist_ok=True)
        with open(os.path.join(path, dirname, "part-00000.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")
    # section counts ride the write jobs as Observation metrics —
    # a post-write count() would re-scan each table (two extra full
    # scans at 100 TB; r14 verdict)
    obs_t, obs_r = Observation("export_twins"), Observation("export_rels")
    twins.select("doc").observe(obs_t, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).text(os.path.join(path, "01_twins"))
    rels.select("doc").observe(obs_r, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).text(os.path.join(path, "03_relationships"))
    counts["twins"] = obs_t.get["n"]
    counts["relationships"] = obs_r.get["n"]
    return counts


def delete_job(client: DigitalTwinsSparkClient) -> dict[str, int]:
    """DeleteJob (one-shot form): all relationships, then twins, then
    models (the reference loops ``MATCH ... LIMIT n`` deletes; an
    immutable-snapshot store replaces each table wholesale — trivially
    parallel)."""
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    store = client.store
    counts = {
        "relationships": store.relationships.count(),
        "twins": store.twins.count(),
        "models": store.models.count(),
    }
    client._swap(GraphStore.empty(store.spark), logged=False)
    client._registry = None
    return counts


class DeleteJob:
    """Checkpointed delete job (``DeleteJob.cs::ExecuteWithCheckpointAsync``
    + ``ProcessDeleteWithCheckpointAsync``, ``:195-245``): three phases
    — relationships, twins, models — each a wholesale table swap in the
    snapshot store (the Spark-idiomatic form of the reference's batched
    LIMIT-delete loops), with the checkpoint saved at every phase
    boundary so a killed job resumes at its phase, under the same
    lease-lock contract as imports."""

    def __init__(self, client: DigitalTwinsSparkClient, job_service: JobService):
        self.client = client
        self.jobs = job_service

    def _phase_hook(self, section: str) -> None:
        """Test seam: raising here simulates a crash inside a phase."""

    def run(self, job_id: str, owner: str = "worker-1") -> JobRecord:
        from pg_age_digitaltwins_spark import crud
        from pg_age_digitaltwins_spark.store.graph_store import GraphStore

        if not self.jobs.acquire_lock(job_id, owner):
            raise RuntimeError(f"Delete job {job_id} is locked by another worker")
        rec = self.jobs.records.get(job_id)
        if rec is None or rec.job_type != "deletion":
            rec = JobRecord(id=job_id, job_type="deletion")
            self.jobs.register(rec)
        rec.status = "Running"
        cp = self.jobs.load_delete_checkpoint(job_id) or DeleteJobCheckpoint(job_id)
        store = self.client.store
        try:
            if not cp.relationships_completed:
                self._phase_hook("Relationships")
                cp.relationships_deleted = store.relationships.count()
                store = crud._replace(
                    store, relationships=store.relationships.limit(0)
                )
                self.client._swap(store, logged=False)
                cp.relationships_completed = True
                cp.section = "Twins"
                self.jobs.save_delete_checkpoint(cp)
            if not cp.twins_completed:
                self._phase_hook("Twins")
                cp.twins_deleted = store.twins.count()
                store = crud._replace(store, twins=store.twins.limit(0))
                self.client._swap(store, logged=False)
                cp.twins_completed = True
                cp.section = "Models"
                self.jobs.save_delete_checkpoint(cp)
            if not cp.models_completed:
                self._phase_hook("Models")
                cp.models_deleted = store.models.count()
                self.client._swap(GraphStore.empty(store.spark), logged=False)
                self.client._registry = None
                cp.models_completed = True
                cp.section = "Completed"
                self.jobs.save_delete_checkpoint(cp)
            rec.status = "Succeeded"
        except Exception as exc:  # noqa: BLE001 — failed phase: resumable
            cp.error_count += 1
            rec.status = "Failed"
            rec.errors.append({"error": str(exc), "section": cp.section})
            self.jobs.save_delete_checkpoint(cp)
            return rec
        finally:
            rec.relationships_deleted = cp.relationships_deleted
            rec.twins_deleted = cp.twins_deleted
            rec.models_deleted = cp.models_deleted
            rec.error_count = cp.error_count
            if rec.status in ("Succeeded", "PartiallySucceeded", "Failed"):
                self.jobs.finish(rec)
            self.jobs.release_lock(job_id, owner)
        return rec
