"""File readers S1-S6 (SURVEY.md §2.1).

The reference normalizes every landed file to snappy parquet via
pandas (reference handlers/convert_to_parquet.py:181-208); here each
format is a native Spark reader returning a lazy DataFrame — there is
no separate "convert" step because every downstream operator consumes
the DataFrame directly, and the bronze write (Warehouse.write_batch)
lands snappy parquet anyway.

  read_csv      S1: header, every column a string; bronze types
                come from the ingest mapping (sources/mapping.py),
                not from inference [convert_to_parquet.py:184].  The
                header line is read in Python, with Spark's renaming
                of empty and duplicate names, so the read starts no
                Spark job; a header Python might split differently
                (non-UTF-8 bytes, control characters, backslashes,
                quotes inside a field) goes to Spark's inference.
  read_excel    S2: no core Spark reader; driver-side pandas bridge
                when an engine is available, else the stdlib ZIP+XML
                xlsx parser (sources/xlsx.py); legacy .xls gets a
                typed UnsupportedSourceError [convert_to_parquet.py:186]
  read_json     S3: JSONL first, whole-document fallback
                [convert_to_parquet.py:188-191]
  read_parquet  S4: native, with a file's schema resolved once
                [convert_to_parquet.py:193]: the first read of a
                regular file runs Spark's own inference (one footer
                job); later reads of the same file pass that
                StructType and start no job.  Cached per path under
                the file's identity (st_mtime_ns, st_size, st_ino),
                so a file rewritten in place is inferred again; a
                directory dataset is inferred on every read.
  read_schema   S5: metadata-only column listing
                [validate_mapping.py:365-366]
  read_orc      interchange format beyond the reference surface
  read_text     raw line-corpus ingestion (one row per line)
  read_binary   whole-file binary ingestion (one row per file:
                path, modificationTime, length, content)

Scale: csv/json/parquet readers are distributed scans with pushdown;
Excel is driver-side by design — in the reference's contract xlsx
files are small pre-ingest landing files, never warehouse-scale data
(the same assumption the reference's pandas conversion makes).
"""

from __future__ import annotations

import csv
import os
import re
import stat
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType


class UnsupportedSourceError(RuntimeError):
    """Raised when a source format has no available reader engine."""


# A header field that is unquoted, or quoted with no quote inside it:
# the fields on which Python's csv module and Spark's parser agree.
_PLAIN_QUOTED = re.compile(r'(?:^|(?<=,))"[^"]*"(?=,|$)')
_LINE_END = re.compile(rb"\r\n|\r|\n")
_HEADER_BYTES = 1 << 16


def _csv_header(path: str) -> list[str] | None:
    """The raw header fields of a CSV file, read in Python as Spark
    reads them: a UTF-8 BOM dropped, empty and spaces-only lines
    skipped, the first other line split on commas.  None where the
    file might parse differently in Spark: no header line in the first
    64 KiB, bytes that are not UTF-8, a control character, a backslash,
    or a quote that does not wrap a whole field."""
    try:
        with open(path, "rb") as f:
            head = f.read(_HEADER_BYTES)
    except OSError:
        return None
    lines = _LINE_END.split(head.removeprefix(b"\xef\xbb\xbf"))
    if len(head) == _HEADER_BYTES:
        lines.pop()  # may be cut short
    line = next((ln for ln in lines if ln.strip(b" ")), None)
    if line is None:
        return None
    try:
        text = line.decode("utf-8")
    except UnicodeDecodeError:
        return None
    if min(text) < " " or "\\" in text or '"' in _PLAIN_QUOTED.sub("", text):
        return None
    return next(csv.reader([text]))


def _safe_header(names: list[str], case_sensitive: bool) -> list[str]:
    """Spark's own renaming of a CSV header: an empty name becomes
    `_c<i>`, and every name that occurs twice (ignoring case unless
    case_sensitive) gets its index as a suffix."""
    key = (lambda n: n) if case_sensitive else str.lower
    seen = Counter(key(n) for n in names if n)
    return [
        f"{n}{i}" if n and seen[key(n)] > 1 else n or f"_c{i}"
        for i, n in enumerate(names)
    ]


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV with a header, every column a string.  The header line is
    read in Python and the data with that schema, so the read starts
    no Spark job; a file whose header Python might read differently
    from Spark goes to Spark's own header inference."""
    names = _csv_header(path) if os.path.isfile(path) else None
    reader = spark.read.option("header", True)
    if names is not None:
        case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
        reader = reader.schema(
            StructType(
                [
                    StructField(n, StringType())
                    for n in _safe_header(names, case_sensitive)
                ]
            )
        )
    return reader.csv(path)


def read_json(spark: SparkSession, path: str) -> DataFrame:
    """JSONL natively; whole-document arrays via multiLine fallback
    (the reference tries lines=True then falls back the same way)."""
    df = spark.read.json(path)
    if "_corrupt_record" in df.columns and len(df.columns) == 1:
        df = spark.read.option("multiLine", True).json(path)
    return df


# path -> (file identity, Spark's inferred schema).  No lock: two
# threads that miss on one file together both infer it and store the
# same schema; the cost is one repeated footer job.  The cached schema
# holds because the confs that steer parquet inference keep one value:
# session.build_session sets spark.sql.legacy.parquet.nanosAsLong once.
_PARQUET_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan that infers a regular file's schema once per file
    identity.  A directory, or a path that cannot be stat'ed, goes to
    Spark uncached: a file rewritten inside a directory leaves the
    directory's own stat unchanged, and a missing path raises Spark's
    own error."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    ident = (st.st_mtime_ns, st.st_size, st.st_ino)
    hit = _PARQUET_SCHEMAS.get(path)
    if hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _PARQUET_SCHEMAS[path] = (ident, df.schema)
    return df


def read_excel(spark: SparkSession, path: str) -> DataFrame:
    """First-sheet Excel read (reference convert_to_parquet.py:186,
    pd.read_excel(src, sheet_name=0)).

    Engine order: pandas with an installed Excel engine when
    available (full style/date fidelity), else the stdlib parsers —
    sources/xlsx.py (ZIP+XML) for .xlsx, sources/xls.py (CFB+BIFF8)
    for legacy binary .xls — so every Excel landing file the
    reference ingests through pd.read_excel reads here with no
    third-party engine at all."""
    import pandas as pd

    try:
        pdf = pd.read_excel(path, sheet_name=0)
        return spark.createDataFrame(pdf)
    except (ImportError, ValueError) as e:
        # ImportError: engine package missing; ValueError("... specify
        # an engine manually"): pandas can't even sniff the format
        # with zero engines installed.  Same capability gap.
        if isinstance(e, ValueError) and "engine" not in str(e):
            raise
    from .xls import read_first_sheet_xls
    from .xlsx import read_first_sheet

    try:
        with open(path, "rb") as f:
            magic = f.read(8)
        if magic.startswith(b"\xd0\xcf\x11\xe0"):  # OLE2: legacy .xls
            header, rows = read_first_sheet_xls(path)
        else:
            header, rows = read_first_sheet(path)
    except Exception as e:  # neither a zip xlsx nor a CFB xls
        raise UnsupportedSourceError(
            f"no Excel engine available to read {path!r} and the "
            f"stdlib xlsx/xls fallbacks could not parse it: {e}"
        ) from e
    pdf = pd.DataFrame(rows, columns=header)
    return spark.createDataFrame(pdf)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — native columnar reader with the same pushdown/prune
    behavior as parquet (vectorized, predicate pushdown, column
    pruning).  The reference's single landing format is parquet; ORC
    rounds out the warehouse-interchange formats Spark ships built-in."""
    return spark.read.orc(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text scan: one `value` string column per line —
    the raw-corpus ingestion path (a documents table before parsing).
    Distributed: files split by line ranges like any other scan."""
    return spark.read.text(path)


def read_binary(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file binary scan (`binaryFile`): path, modificationTime,
    length, content columns — turns a directory of blobs into one
    binary-column table.  Each file is one row; parallelism comes from
    many files, and `pathGlobFilter` scopes the listing."""
    return spark.read.format("binaryFile").load(path)


READERS = {
    "csv": read_csv,
    "json": read_json,
    "parquet": read_parquet,
    "xlsx": read_excel,
    "xls": read_excel,
    "excel": read_excel,
    "orc": read_orc,
    "text": read_text,
    "txt": read_text,
    "binary": read_binary,
    "bin": read_binary,
}


def read_source(spark: SparkSession, path: str, fmt: str) -> DataFrame:
    fmt = fmt.lower().lstrip(".")
    if fmt not in READERS:
        raise UnsupportedSourceError(
            f"unsupported source format {fmt!r}; supported: {sorted(READERS)}"
        )
    return READERS[fmt](spark, path)


def read_schema(spark: SparkSession, path: str, fmt: str = "parquet") -> list[str]:
    """S5: metadata-only column listing (no data scan for parquet)."""
    return read_source(spark, path, fmt).columns
