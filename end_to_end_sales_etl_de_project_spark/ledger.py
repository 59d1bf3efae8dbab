"""Processing ledger: the reference's staging/audit table as an
append-only parquet event log, folded on the driver.

Reference behavior (``/root/reference/src/staging/staging.py`` +
``src/main_1.py:45-86``): a MySQL table
``(file_name, file_location, created_date, status)`` with status in
{START, COMPLETED}; three operations — crash check (any file stuck in
START ⇒ abort), idempotency filter (COMPLETED files are skipped),
insert START / update COMPLETED. Cursor SQL with f-string interpolation
(an injection wart, staging.py:42) and a None-return bug on the empty
case (main_1.py:242-247) — both fixed here by construction.

Implementation: an append-only parquet event log; current state =
latest event per file. Append-only makes every transition atomic at the
file level (no read-modify-write), which is exactly what object stores
give you at scale; compaction is a normal maintenance job.

Why the control plane runs on the driver, not in Spark: the ledger holds
O(files) rows — a few START/COMPLETED events per delivered CSV, never
data. Evaluating them as Spark jobs (a ``row_number()`` window per read,
a ``createDataFrame().write`` per append) paid the fixed per-job cost
for a few hundred rows: in a traced ``etl_daily`` batch of the
repository benchmark (``perfbench/``, 4 vCPUs, ``local[4]``) it was 6 of
the batch's 18 Spark jobs and about half (48-54 %) of its wall time,
against 0 jobs and ~12 % (0.06 s per ledger call) folded on the
driver. Here every read lists the log, parses with pyarrow only the
files this ``Ledger`` has not parsed before, and folds the events in
Python; every append is one pyarrow file renamed into place,
so Spark readers and file globs only ever see complete files. The
on-disk format is the same as a Spark-written log: Spark reads these
files and this class reads Spark-written ones. For streaming ingestion
the same guarantees come from Structured Streaming checkpoints
(``streaming/events.py``) — this ledger is the batch-mode equivalent.
"""

from __future__ import annotations

import datetime as _dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from end_to_end_sales_etl_de_project_spark.config import STATUS_COMPLETED, STATUS_START
from end_to_end_sales_etl_de_project_spark.writers import heal, swap_in

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType()),
        T.StructField("file_location", T.StringType()),
        T.StructField("created_date", T.TimestampType()),
        T.StructField("status", T.StringType()),
        T.StructField("seq", T.LongType()),  # monotonic per append batch
    ]
)
_ARROW_SCHEMA = to_arrow_schema(LEDGER_SCHEMA)


def _write_file(rows: list[dict], directory: str) -> None:
    """Write ``rows`` as one parquet file in ``directory``: a hidden
    temp name first (Spark and ``*.parquet`` globs skip it), then one
    rename, so no reader ever sees a partial file."""
    os.makedirs(directory, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=_ARROW_SCHEMA), tmp)
    os.replace(tmp, os.path.join(directory, name))


class Ledger:
    """Parquet-backed append-only processing ledger."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # parsed events per log file, keyed by (name, size, mtime_ns): a
        # pipeline batch folds the log 4 times, and re-reading every file
        # on each fold grows with the ledger's history
        self._parsed: dict[tuple[str, int, int], list[dict]] = {}

    # -- reads ---------------------------------------------------------

    def _recover(self) -> None:
        """A compact() that died between its two renames leaves the log
        only in .bak; without this restore, every read would see an
        empty ledger and the crash check + idempotency filter would
        silently wave through double-processing."""
        heal(self.path)

    def _state(self) -> dict[str, dict]:
        """Latest event per file_name: highest seq wins; an equal-seq
        tie — possible only in pre-fix ledgers — resolves to COMPLETED,
        the safe direction for idempotency. Folds every ``*.parquet``
        file of the log (Spark-written INT96/ns timestamps are cast to
        the declared schema), but parses only the files this instance
        has not parsed yet; files that are gone (a ``compact()`` swap)
        drop out of the memo."""
        self._recover()
        parsed: dict[tuple[str, int, int], list[dict]] = {}
        if os.path.exists(self.path):
            for entry in os.scandir(self.path):
                if entry.name.endswith(".parquet") and not entry.name.startswith((".", "_")):
                    st = entry.stat()
                    key = (entry.name, st.st_size, st.st_mtime_ns)
                    if key not in self._parsed:
                        table = pq.read_table(entry.path)
                        self._parsed[key] = (
                            table.select(_ARROW_SCHEMA.names).cast(_ARROW_SCHEMA).to_pylist()
                        )
                    parsed[key] = self._parsed[key]
        self._parsed = parsed
        events = [e for file_events in parsed.values() for e in file_events]
        latest: dict[str, dict] = {}
        for e in sorted(events, key=lambda e: (-e["seq"], e["status"] != STATUS_COMPLETED)):
            latest.setdefault(e["file_name"], e)
        return latest

    def events(self) -> DataFrame:
        self._recover()
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], LEDGER_SCHEMA)
        return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)

    def current_state(self) -> DataFrame:
        """Latest status per file_name, as a DataFrame view of the fold."""
        return self.spark.createDataFrame(list(self._state().values()), LEDGER_SCHEMA)

    def stuck_in_start(self) -> list[str]:
        """Crash check (main_1.py:45-86): files whose latest status is
        START. A non-empty result means a previous run died mid-flight.

        It checks the WHOLE ledger — the correct scope for a pipeline
        preflight: a crashed run may have already archived its inputs
        out of the landing dir, so filtering by currently-present files
        would wave the crash through."""
        return sorted(
            n for n, e in self._state().items() if e["status"] == STATUS_START
        )

    def split_processed(self, file_names: list[str]) -> tuple[list[str], list[str]]:
        """Idempotency filter (staging.py:51-113): returns
        (to_process, already_completed). Always returns two lists —
        never None (the reference's empty-case bug)."""
        if not file_names:
            return [], []
        state = self._state()
        completed = {
            n for n in file_names if n in state and state[n]["status"] == STATUS_COMPLETED
        }
        to_process = [f for f in file_names if f not in completed]
        done = [f for f in file_names if f in completed]
        return to_process, done

    # -- writes --------------------------------------------------------

    def _max_seq(self) -> int | None:
        """Max existing seq: the latest event per file carries its
        file's highest seq, so the fold's max is the log's max."""
        return max((e["seq"] for e in self._state().values()), default=None)

    def _append(self, records: list[tuple[str, str, str]]) -> None:
        now = _dt.datetime.now(_dt.timezone.utc)
        # seq must be strictly monotonic per ledger even across clock
        # steps (NTP backwards jump, sub-quantum appends) — otherwise
        # the latest-event fold could tie/flip between a START and its
        # COMPLETED. Anchor on max(existing)+1.
        clock_us = int(now.timestamp() * 1_000_000)
        seq = max(clock_us, (self._max_seq() or 0) + 1)
        # one file per append batch: tiny control-plane writes must not
        # fan out into per-partition files
        rows = [
            dict(zip(_ARROW_SCHEMA.names, (name, loc, now, status, seq + i)))
            for i, (name, loc, status) in enumerate(records)
        ]
        _write_file(rows, self.path)

    def mark_start(self, files: dict[str, str]) -> None:
        """files: name → location. Reference staging.py:13-28."""
        if files:
            self._append([(n, loc, STATUS_START) for n, loc in files.items()])

    def mark_completed(self, file_names: list[str]) -> None:
        """Reference staging.py:31-48 (UPDATE → append here)."""
        if file_names:
            self._append([(n, "", STATUS_COMPLETED) for n in file_names])

    # -- maintenance ---------------------------------------------------

    def compact(self) -> int:
        """Fold the append-only event log down to one event per file
        (the latest). Routine maintenance for long-lived ledgers —
        state reads stay O(live files) instead of O(all appends).
        Returns the number of retained rows. The folded log is written
        to a staged sibling and swapped in with
        :func:`~end_to_end_sales_etl_de_project_spark.writers.swap_in`;
        a crash between its two renames is healed by ``_recover()`` on
        the next read, never leaving an empty ledger that would wave
        through double-processing."""
        import shutil

        state = list(self._state().values())
        staged = self.path + ".compact"
        shutil.rmtree(staged, ignore_errors=True)
        _write_file(state, staged)
        swap_in(staged, self.path)
        return len(state)
