"""Validated CSV ingestion for the sales fact.

Reference behavior being re-expressed (SURVEY §3.2,
``/root/reference/src/transform/transform.py:19-83`` +
``src/main_1.py:157-212``): per file — reject non-CSV, reject empty,
quarantine files missing mandatory columns, fold extra columns into a
string ``additional_column``, normalize column order, union all valid
files.

Spark-native differences (deliberate, SURVEY §4 'do not port' list):

- **One pass, explicit schema.** The reference reads every file 2-3x
  (inferSchema + count). Here the header is checked with a driver-side
  1-line read (cheap, file-count-bound — not data-bound), then ALL
  valid files are read in a single ``spark.read.csv(paths)`` with the
  declared schema. At 100 TB the data is scanned exactly once.
- **Union by position is safe** because every file is projected to the
  canonical column order first (the reference relies on the same
  invariant); ``additional_column`` is typed string everywhere,
  avoiding the reference's string-vs-void union wart (SURVEY §1.2).
- The eager ``count()==0`` probe becomes a header+first-row peek.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from end_to_end_sales_etl_de_project_spark.config import (
    MANDATORY_COLUMNS,
    ROUTE_BAD_SCHEMA,
    ROUTE_EMPTY,
    ROUTE_VALID,
    ROUTE_WRONG_TYPE,
    SALES_SCHEMA,
)


@dataclass
class ValidationReport:
    """File-router outcome: path → route, per reference semantics."""

    valid: list[str] = field(default_factory=list)
    wrong_type: list[str] = field(default_factory=list)
    bad_schema: list[str] = field(default_factory=list)
    empty: list[str] = field(default_factory=list)
    # full header per valid file (single source of truth — the reader
    # groups by these instead of re-peeking files, so validate and read
    # cannot drift even if a file changes in between)
    headers: dict[str, list[str]] = field(default_factory=dict)

    def routes(self) -> dict[str, str]:
        out: dict[str, str] = {}
        for p in self.valid:
            out[p] = ROUTE_VALID
        for p in self.wrong_type:
            out[p] = ROUTE_WRONG_TYPE
        for p in self.bad_schema:
            out[p] = ROUTE_BAD_SCHEMA
        for p in self.empty:
            out[p] = ROUTE_EMPTY
        return out


def _peek_header(path: str) -> tuple[list[str], bool]:
    """Read the header line + whether a data row exists. O(1) per file
    regardless of file size — this is control-plane work like the
    reference's file listing, not a data scan."""
    with open(path, newline="") as f:
        reader = csv.reader(f)
        try:
            header = next(reader)
        except StopIteration:
            return [], False
        has_data = next(reader, None) is not None
    return [h.strip() for h in header], has_data


def validate_files(file_paths: list[str]) -> ValidationReport:
    """Route each file per the reference's validation rules
    (transform.py:37-68, main_1.py:174-178)."""
    report = ValidationReport()
    for path in file_paths:
        if not path.lower().endswith(".csv"):
            report.wrong_type.append(path)
            continue
        header, has_data = _peek_header(path)
        if not header or not has_data:
            report.empty.append(path)
            continue
        missing = set(MANDATORY_COLUMNS) - set(header)
        if missing:
            report.bad_schema.append(path)
            continue
        report.valid.append(path)
        report.headers[path] = header
    return report


def read_sales_csv(
    spark: SparkSession, report: ValidationReport
) -> DataFrame | None:
    """Read all valid files into one DataFrame with the canonical
    schema + ``additional_column`` (extra columns concat_ws-folded, per
    transform.py:51-56). Returns None when nothing is valid — callers
    must handle it (the reference returned a bare ``[]`` and crashed
    downstream; SURVEY §3.2 'do not port')."""
    if not report.valid:
        return None

    # Group files by their exact header shape so extra columns keep
    # their per-file semantics; each group is ONE multi-path read.
    # Headers come from the validation report — no second peek.
    by_shape: dict[tuple[str, ...], list[str]] = {}
    for path in report.valid:
        by_shape.setdefault(tuple(report.headers[path]), []).append(path)

    frames: list[DataFrame] = []
    for header, paths in by_shape.items():
        extras = [c for c in header if c not in MANDATORY_COLUMNS]
        # extend the declared schema with the extra string columns, in
        # header order, so the read is still schema'd (single pass)
        fields = {f.name: f for f in SALES_SCHEMA.fields}
        read_schema = T.StructType(
            [
                fields[c] if c in fields else T.StructField(c, T.StringType())
                for c in header
            ]
        )
        df = spark.read.csv(paths, header=True, schema=read_schema)
        addl = (
            F.concat_ws(", ", *[F.col(c) for c in extras])
            if extras
            else F.lit(None).cast("string")
        )
        frames.append(
            df.select(*MANDATORY_COLUMNS, addl.alias("additional_column"))
        )

    out = frames[0]
    for f in frames[1:]:
        out = out.union(f)  # positional — columns pre-normalized above
    return out


def quarantine(report: ValidationReport, base_dir: str) -> dict[str, str]:
    """Move routed files into their quarantine directories (the
    reference's local move router, move.py:7-65). Returns path→new
    location."""
    import shutil

    moved: dict[str, str] = {}
    for path, route in report.routes().items():
        if route == ROUTE_VALID:
            continue
        dest_dir = os.path.join(base_dir, route)
        os.makedirs(dest_dir, exist_ok=True)
        dest = os.path.join(dest_dir, os.path.basename(path))
        shutil.move(path, dest)
        moved[path] = dest
    return moved


def read_csv_permissive(
    spark: SparkSession,
    paths: list[str],
    schema: T.StructType,
    *,
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Row-level malformed-record routing for any CSV schema — the
    scale-grade complement to the reference's whole-file quarantine.

    The reference rejects entire files; at 100 TB a single bad row
    must not quarantine a 1 GB file. PERMISSIVE mode parses what it
    can and captures the raw text of unparseable rows (wrong token
    count, type-cast failures) in ``_corrupt_record``; returns
    (good_rows, bad_rows). One pass, explicit schema.
    """
    read_schema = T.StructType(
        [*schema.fields, T.StructField("_corrupt_record", T.StringType())]
    )
    df = spark.read.csv(
        paths,
        header=header,
        schema=read_schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    ).cache()  # required: corrupt-record column is only reliable on a
    # materialized frame (Spark rescans otherwise and the filter on the
    # internal column can be pushed below the parse). The cache lives
    # until LRU eviction or spark.catalog.clearCache(); batch callers
    # should clear between ingestion rounds — unpersisting here would
    # defeat the lazily-returned children.
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, bad


def read_sales_csv_permissive(
    spark: SparkSession, paths: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Sales-fact instantiation of :func:`read_csv_permissive` (the
    schema the reference's whole-file router guards)."""
    return read_csv_permissive(spark, paths, SALES_SCHEMA, header=True)


def read_jsonl_permissive(
    spark: SparkSession, paths: list[str], schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Row-level malformed-record routing for JSON-Lines — the same
    contract as :func:`read_sales_csv_permissive` on the interchange
    format LLM-data pipelines ingest most. PERMISSIVE JSON parsing
    keeps schema-valid rows and captures the raw line of anything
    unparseable (truncated writes, encoding damage, wrong-typed
    fields) in ``_corrupt_record``; returns (good_rows, bad_rows).
    Explicit schema — no inference pass over 100 TB.
    """
    read_schema = T.StructType(
        [*schema.fields, T.StructField("_corrupt_record", T.StringType())]
    )
    df = spark.read.json(
        paths,
        schema=read_schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    ).cache()  # same materialization requirement as the CSV path
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, bad
