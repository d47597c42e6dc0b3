"""File discovery: multi-format readers, type palette, metadata, and the
end-to-end DQ discovery pipeline (reference S1-S6, F13, SURVEY.md §3.2).

Parity target: ``DQ_DISCOVERY_AND_CHECKS(FILE_PATH)``
(Data_Discovery_File.sql:317-433) — load a csv/xlsx/json/xml/parquet
file, infer its schema into the 6-type palette, build a file-metadata
document, run the five-pillar DQ sweep, and return the combined
envelope with an audit log.

Spark-first notes:

* CSV/JSON/parquet read natively distributed (``spark.read``) — at
  100 TB these are the formats that matter; schema inference samples,
  predicate pushdown and column pruning reach the scan.
* Excel/XML are inherently small-file, driver-side formats; they load
  via stdlib-only readers (sources/office.py: zipfile + xml.etree —
  this container has no openpyxl/lxml) and promote to a typed
  DataFrame. The reference loaded every format driver-side via pandas
  (Data_Discovery_File.sql:317-349); we keep driver-side parsing only
  where Spark has no native reader.
* The reference copied stage files to local disk first
  (``session.file.get``, :363). Spark reads paths (local/S3/HDFS)
  directly, so S6 is a no-op here.
* Beyond-reference interchange formats ride their natural parallel
  unit: Arrow IPC by record batch (sources/arrowipc.py), Avro object
  containers by sync-delimited block (sources/avrofile.py, S14) —
  driver reads headers only, executors seek straight to their slices.
* The DQ sweep runs on the Spark DataFrame as ONE collect over a
  grouping-sets value-count cube (:func:`run_file_dq_distributed`)
  instead of whole-file pandas or one Spark action per rule family.
  Its rule records match the per-family engines in operators/dq.py.
"""

from __future__ import annotations

import datetime as _dt
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

AGENT_NAME = "DataDiscoveryAgent"

#: The reference's 6-type palette (Data_Discovery_File.sql:27-53),
#: keyed by Spark type instead of pandas dtype.
_PALETTE: list[tuple[type, str]] = [
    (T.StringType, "VARCHAR"),
    (T.LongType, "NUMBER"),
    (T.IntegerType, "NUMBER"),
    (T.ShortType, "NUMBER"),
    (T.ByteType, "NUMBER"),
    (T.DoubleType, "FLOAT"),
    (T.FloatType, "FLOAT"),
    (T.DecimalType, "FLOAT"),
    (T.BooleanType, "BOOLEAN"),
    (T.TimestampType, "TIMESTAMP"),
    (T.TimestampNTZType, "TIMESTAMP"),
    (T.DateType, "TIMESTAMP"),
]


def map_type_to_palette(dtype: T.DataType) -> str:
    """Spark type → reference palette name; anything unmapped (arrays,
    maps, structs, binary) is VARIANT, like the reference's fallback."""
    for spark_type, name in _PALETTE:
        if isinstance(dtype, spark_type):
            return name
    return "VARIANT"


def format_file_size(n_bytes: int) -> str:
    """Human file size, B/KB/MB tiers (Data_Discovery_File.sql:57-69)."""
    if n_bytes < 1024:
        return f"{n_bytes} B"
    if n_bytes < 1024**2:
        return f"{round(n_bytes / 1024, 2)} KB"
    return f"{round(n_bytes / 1024 ** 2, 2)} MB"


def read_any(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """S1-S5 dispatch: load a file of any supported format as a
    DataFrame. ``fmt`` overrides extension sniffing."""
    ext = (fmt or os.path.splitext(path)[1].lstrip(".")).lower()
    if ext == "csv":
        return (
            spark.read.option("header", True).option("inferSchema", True).csv(path)
        )
    if ext in ("json", "ndjson", "jsonl"):
        df = spark.read.json(path)
        if df.columns == ["_corrupt_record"] or not df.columns:
            df = spark.read.option("multiLine", True).json(path)
        return df
    if ext == "parquet":
        from ..session import _set_read_confs

        # Same read-time confs as session.load_table: a TIMESTAMP(NANOS)
        # column (e.g. a copy of events.parquet) must not blow up just
        # because it arrived through the generic file entry point.
        _set_read_confs(spark)
        return spark.read.parquet(path)
    if ext == "orc":
        return spark.read.orc(path)
    if ext in ("txt", "text"):
        # one row per line, column "value" — the raw-corpus entry point
        return spark.read.text(path)
    if ext == "xlsx":
        from .office import read_xlsx  # stdlib zipfile+ElementTree reader

        return read_xlsx(spark, path)
    if ext == "xls":
        from .office import read_xls  # stdlib MS-CFB + BIFF8 reader

        return read_xls(spark, path)
    if ext == "xml":
        from .office import read_xml  # stdlib ElementTree record inference

        return read_xml(spark, path)
    if ext == "avro":
        from .avrofile import read_avro  # stdlib spec-path container reader

        return read_avro(spark, path)  # block-parallel
    if ext == "tar":
        from .tar import read_tar  # stdlib-free POSIX ustar reader

        return read_tar(spark, path)  # member-parallel (WebDataset shards)
    if ext in ("arrow", "feather", "ipc"):
        from .arrowipc import read_arrow_ipc, read_arrow_stream, sniff_ipc_kind

        if sniff_ipc_kind(path) == "file":
            return read_arrow_ipc(spark, path)  # batch-parallel
        return read_arrow_stream(spark, path)  # no footer: driver-side
    raise ValueError(f"Unsupported file format: {ext!r} ({path})")


def write_any(
    df: DataFrame, path: str, fmt: str | None = None, mode: str = "overwrite"
) -> None:
    """S1-S5 write-side counterpart of :func:`read_any`: csv (with
    header), json (ndjson), parquet, orc, text — distributed writers;
    Excel/XML are read-only formats here (nothing at 100 TB should be
    written as either; export small results via
    ``.toPandas().to_excel``)."""
    ext = (fmt or os.path.splitext(path)[1].lstrip(".")).lower()
    if ext == "csv":
        df.write.mode(mode).option("header", True).csv(path)
        return
    if ext in ("json", "ndjson", "jsonl"):
        df.write.mode(mode).json(path)
        return
    if ext == "parquet":
        df.write.mode(mode).parquet(path)
        return
    if ext == "orc":
        df.write.mode(mode).orc(path)
        return
    if ext in ("txt", "text"):
        df.write.mode(mode).text(path)  # single string column required
        return
    raise ValueError(f"Unsupported write format: {ext!r} ({path})")


def _hidden(name: str) -> bool:
    """Spark's reader rule for files that are not data: ``_SUCCESS``,
    ``_temporary``, ``.crc`` checksums (``_k=v`` partition dirs count)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _data_size(path: str) -> int | None:
    """Bytes of data at ``path``: the file's size, or for a dataset
    directory (what Spark writers produce) the sum of the data files
    under it. ``None`` if absent."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    if not os.path.isdir(path):
        return None
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        total += sum(
            os.path.getsize(os.path.join(root, f)) for f in files if not _hidden(f)
        )
    return total


def file_metadata(path: str, df: DataFrame, row_count: int | None = None) -> dict:
    """File-definition document (Data_Discovery_File.sql:73-93 shape):
    name, type, size, row/column counts, palette-typed column list.
    A directory dataset's size is its data files' (:func:`_data_size`)."""
    size = _data_size(path)
    return {
        "file_name": os.path.basename(path),
        "file_type": os.path.splitext(path)[1].lstrip(".").lower(),
        "file_size": format_file_size(size) if size is not None else None,
        "row_count": row_count if row_count is not None else df.count(),
        "column_count": len(df.columns),
        "columns": [
            {"column_name": f.name, "type": map_type_to_palette(f.dataType)}
            for f in df.schema.fields
        ],
    }


#: Spark's grouping-set limit (GROUPING_SIZE_LIMIT_EXCEEDED) is 64 key
#: columns; one fewer keeps ``grouping_id()`` a non-negative long.
_CUBE_KEYS = 63


class FileDQRules(list):
    """The rule records of one file-DQ sweep (a plain list), plus the
    ``row_count`` the sweep counted on the way, so callers need no
    separate ``df.count()``."""

    row_count: int = 0


def _value_count_cube(
    df: DataFrame,
    chunk: list[int],
    deps: dict[int, list[int]],
    numeric: set[int],
    strings: set[int],
) -> DataFrame:
    """One-row summary of the columns at positions ``chunk`` (see
    :func:`run_file_dq_distributed`). Output columns are keyed by
    column position, so the summaries of several chunks cross-join
    into one row without name clashes."""
    from ..operators.dq import RARE_FREQ, ZSCORE

    cols = df.columns
    dep_pos = sorted({j for i in chunk for j in deps.get(i, [])})
    # Keys are aliased apart from the aggregate inputs: in a grouping
    # set a key reads NULL outside its own set, the inputs never do.
    src = df.select(
        *[F.col(cols[i]).alias(f"k{i}") for i in chunk],
        *[F.col(c).alias(f"v{j}") for j, c in enumerate(cols)],
    )
    cube = src.groupingSets(
        [[]] + [[f"k{i}"] for i in chunk], *[f"k{i}" for i in chunk]
    ).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.count(f"v{i}").alias(f"nn{i}") for i in chunk],
        *[F.min(f"v{j}").alias(f"lo{j}") for j in dep_pos],
        *[F.max(f"v{j}").alias(f"hi{j}") for j in dep_pos],
        *[F.avg(f"v{i}").alias(f"mu{i}") for i in chunk if i in numeric],
        *[F.stddev(f"v{i}").alias(f"sd{i}") for i in chunk if i in numeric],
        F.grouping_id().alias("gid"),
    )
    # gid has bit (m-1-p) set when the key at chunk position p is not
    # grouped: the () row has every bit set, column p's set all but one.
    m = len(chunk)
    everything = (1 << m) - 1
    top = cube.filter(F.col("gid") == everything).select(
        F.col("n").alias("t_n"),
        *[F.col(f"nn{i}").alias(f"t_nn{i}") for i in chunk],
        *[F.col(f"mu{i}").alias(f"t_mu{i}") for i in chunk if i in numeric],
        *[F.col(f"sd{i}").alias(f"t_sd{i}") for i in chunk if i in numeric],
    )
    aggs = [F.coalesce(F.max("t_n"), F.lit(0)).alias("n_all")]
    for p, i in enumerate(chunk):
        # a non-null group of column i's own set: one distinct value
        group = (F.col("gid") == everything - (1 << (m - 1 - p))) & F.col(
            f"k{i}"
        ).isNotNull()
        tot = F.col(f"t_nn{i}")
        aggs += [
            F.coalesce(F.max(tot), F.lit(0)).alias(f"nn{i}"),
            F.count(F.when(group, 1)).alias(f"nd{i}"),
        ]
        if i in strings:
            # CASE, not AND: ANSI division must never see an all-null
            # column's zero total
            rare = F.when(group, F.col("n") / tot < RARE_FREQ)
            aggs.append(
                F.coalesce(F.sum(F.when(rare, F.col("n")).otherwise(0)), F.lit(0))
                .alias(f"rare{i}")
            )
        if i in numeric:
            far = group & (
                F.abs(F.col(f"k{i}") - F.col(f"t_mu{i}")) > ZSCORE * F.col(f"t_sd{i}")
            )
            aggs.append(
                F.coalesce(F.sum(F.when(far, F.col("n")).otherwise(0)), F.lit(0))
                .alias(f"far{i}")
            )
        for j in deps.get(i, []):
            # min != max over the non-null dependents is exactly
            # countDistinct > 1: both ignore NULLs and Spark orders and
            # compares NaN = NaN and -0.0 = 0.0 the way grouping does
            split = group & (F.col(f"lo{j}") != F.col(f"hi{j}"))
            aggs.append(
                F.coalesce(F.sum(F.when(split, 1).otherwise(0)), F.lit(0))
                .alias(f"fd{i}_{j}")
            )
    return cube.crossJoin(F.broadcast(top)).agg(*aggs)


def run_file_dq_distributed(
    df: DataFrame, max_pairs: int | None = None
) -> FileDQRules:
    """Five-pillar DQ sweep on a Spark DataFrame, returning the
    reference's flat rule-record shape (Data_Discovery_File.sql:217-313)
    from ONE collect over a value-count cube.

    The cube is a grouping-sets aggregate: the ``()`` set (row count,
    per-column non-null count, numeric mean/stddev) plus one set per
    column whose groups are that column's distinct values with their
    row count and, for every functional-dependency dependent, the
    group's min/max. One global aggregate over the cube, cross-joined
    with its broadcast ``()`` row (which the optimizer plans as a small
    aggregate of its own over the same scan), derives every rule:
    distinct count = the column's non-null groups; rare mass = Σ n over
    groups below ``RARE_FREQ`` of the non-null count; z-score outliers
    = Σ n over groups further than ``ZSCORE``·σ from the mean; pair
    c1→c2 = the non-null c1 groups with ``min(c2) != max(c2)``.
    Results match the per-family engines in operators/dq.py
    (``zscore_accuracy_long``, ``rare_value_accuracy_long``,
    ``fd_consistency_long``) rule for rule. Frames wider than Spark's grouping-set limit are cut into
    chunks of ``_CUBE_KEYS`` key columns, one cube each, whose one-row
    summaries cross-join into the same single collect.

    Validity is schema-level here: a typed DataFrame column cannot hold
    mixed types, so a column is valid iff its type maps into the
    palette (VARIANT → failed, mirroring the reference's "values must
    match the inferred type" intent on data Spark could not type).
    The returned list carries the sweep's row count as ``row_count``.
    """
    from decimal import ROUND_HALF_UP, Decimal

    from ..operators.dq import PASS_THRESHOLD
    from ..operators.profile import is_numeric

    def _round6(x: float) -> float:
        # Spark's round() is HALF_UP; Python's round() is banker's —
        # match Spark so driver-side records agree with the engines.
        return float(Decimal(str(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    results = FileDQRules()
    schema = {f.name: f.dataType for f in df.schema.fields}
    cols = df.columns
    pos = {c: i for i, c in enumerate(cols)}
    pairs = [(c1, c2) for c1 in cols for c2 in cols if c1 != c2]
    if max_pairs is not None:
        pairs = pairs[:max_pairs]
    deps: dict[int, list[int]] = {}
    for c1, c2 in pairs:
        deps.setdefault(pos[c1], []).append(pos[c2])
    numeric = {i for i, c in enumerate(cols) if is_numeric(schema[c])}
    strings = {i for i, c in enumerate(cols) if isinstance(schema[c], T.StringType)}

    # max(…, 1): a zero-column frame still gets its () row count
    summaries = [
        _value_count_cube(
            df, list(range(s, min(s + _CUBE_KEYS, len(cols)))), deps, numeric, strings
        )
        for s in range(0, max(len(cols), 1), _CUBE_KEYS)
    ]
    wide = summaries[0]
    for part in summaries[1:]:
        wide = wide.crossJoin(part)
    # Accuracy results are rounded in Spark, as the per-family engines
    # round them; completeness/uniqueness below round driver-side.
    finals = []
    for i in sorted(numeric):
        tot = F.col(f"nn{i}")
        result = F.when(tot > 0, 1.0 - F.col(f"far{i}") / tot.cast("double")).otherwise(
            F.lit(1.0)
        )
        finals += [
            F.round(result, 6).alias(f"z{i}"),
            (result >= PASS_THRESHOLD).alias(f"z_ok{i}"),
        ]
    for i in sorted(strings):
        tot = F.col(f"nn{i}")
        result = F.when(
            tot > 0, F.round(1.0 - F.col(f"rare{i}").cast("double") / tot, 6)
        )
        finals += [result.alias(f"r{i}"), (result >= PASS_THRESHOLD).alias(f"r_ok{i}")]
    row = wide.select(*finals, "*").collect()[0]

    results.row_count = int(row["n_all"])
    total = float(max(results.row_count, 1))
    for i, c in enumerate(cols):
        completeness = row[f"nn{i}"] / total
        uniqueness = row[f"nd{i}"] / total
        for pillar, result in (("completeness", completeness), ("uniqueness", uniqueness)):
            results.append(
                {
                    "pillar": pillar,
                    "column": c,
                    "result": _round6(result),
                    "rule": f"{pillar.capitalize()} of {c}",
                    "status": "passed" if result >= PASS_THRESHOLD else "failed",
                }
            )
    for col, dtype in schema.items():
        valid = map_type_to_palette(dtype) != "VARIANT"
        results.append(
            {
                "pillar": "validity",
                "column": col,
                "result": valid,
                "rule": f"Validity of {col}",
                "status": "passed" if valid else "failed",
            }
        )
    for i in sorted(numeric):
        results.append(
            {
                "pillar": "accuracy",
                "column": cols[i],
                "result": float(row[f"z{i}"]),
                "rule": f"Outlier check on {cols[i]} (z-score > 3)",
                "status": "passed" if row[f"z_ok{i}"] else "failed",
            }
        )
    for i in sorted(strings):
        if row[f"r{i}"] is None:
            continue  # all-null column: no value frequencies to judge
        results.append(
            {
                "pillar": "accuracy",
                "column": cols[i],
                "result": float(row[f"r{i}"]),
                "rule": f"Rare value check on {cols[i]} (<1% frequency)",
                "status": "passed" if row[f"r_ok{i}"] else "failed",
            }
        )
    for c1, c2 in pairs:
        bad = int(row[f"fd{pos[c1]}_{pos[c2]}"])
        results.append(
            {
                "pillar": "consistency",
                "column": f"{c1}->{c2}",
                "result": 1.0 if bad == 0 else 0.0,
                "rule": f"Functional dependency {c1}->{c2}",
                "status": "passed" if bad == 0 else "failed",
            }
        )
    return results


def summarize_rules(results: list[dict[str, Any]]) -> dict[str, Any]:
    """Pass/fail partition of rule records
    (Data_Discovery_File.sql:379-405 shape)."""
    passed = [r for r in results if r["status"] == "passed"]
    failed = [r for r in results if r["status"] == "failed"]
    return {
        "total_rules": len(results),
        "passed_rules": len(passed),
        "failed_rules": len(failed),
        "failed_details": failed,
    }


def discover_and_run_dq(
    spark: SparkSession,
    file_path: str,
    fmt: str | None = None,
    max_pairs: int | None = None,
) -> dict[str, Any]:
    """End-to-end `DQ_DISCOVERY_AND_CHECKS` parity
    (Data_Discovery_File.sql:353-433): read → metadata → DQ sweep →
    envelope with audit log."""
    start = _dt.datetime.now(_dt.timezone.utc)
    try:
        df = read_any(spark, file_path, fmt=fmt)
        rules = run_file_dq_distributed(df, max_pairs=max_pairs)
        definition = file_metadata(file_path, df, row_count=rules.row_count)
        end = _dt.datetime.now(_dt.timezone.utc)
        return {
            "status": "SUCCESS",
            "file_definition": definition,
            "dq_auto_check_result": {
                "summary": summarize_rules(rules),
                "rules": rules,
            },
            "audit_log": {
                "agent_name": AGENT_NAME,
                "input_file": file_path,
                "start_time": start.isoformat(),
                "end_time": end.isoformat(),
                "duration_seconds": round((end - start).total_seconds(), 4),
            },
        }
    except Exception as exc:  # noqa: BLE001 — error envelope (X7)
        return {
            "status": "FAILED",
            "error": str(exc),
            "agent_name": AGENT_NAME,
            "input_file": file_path,
        }


@dataclass
class QuarantineSplit:
    """The PERMISSIVE ingest split's result: ``clean`` (corrupt column
    dropped) and ``corrupt`` (raw offending text, one row per bad
    record), plus an explicit :meth:`release` for the cache the split
    reads through — an attribute monkey-patched onto ``clean`` would be
    lost on the first transformation (ADVICE r5). Unpacks as the
    historical ``(clean, corrupt)`` 2-tuple."""

    clean: DataFrame
    corrupt: DataFrame
    _cached: DataFrame | None = None

    def release(self) -> None:
        """Unpersist the split's cached read (idempotent)."""
        if self._cached is not None:
            self._cached.unpersist()
            self._cached = None

    def __iter__(self) -> Iterator[DataFrame]:
        return iter((self.clean, self.corrupt))


def read_with_quarantine(
    spark: SparkSession, path: str, fmt: str | None = None
) -> QuarantineSplit:
    """PERMISSIVE ingest split for the structured-text formats
    (csv / ndjson) — the 100 TB ingest contract where malformed rows
    are DATA to count and route (the file-DQ completeness pillar's
    upstream), never exceptions that kill the job.

    CSV needs TWO passes: with ``inferSchema`` Spark never adds the
    corrupt-record column to a CSV schema (unlike JSON), so a
    single-pass read silently reports corrupt files clean (ADVICE r5).
    Pass 1 infers the data schema; pass 2 re-reads with that schema
    extended by an explicit ``_corrupt_record`` string field, under
    which malformed/short/broken-quote rows ARE flagged. At 100 TB the
    inference pass is bounded with ``samplingRatio`` by the caller's
    conventions; here files are test-sized.

    Note: Spark disallows queries referencing ONLY the internal
    corrupt-record column on raw file reads, so the split reads
    through a cache — release it via :meth:`QuarantineSplit.release`
    (:func:`quarantine_report`, the intended counting entry point,
    does)."""
    ext = (fmt or os.path.splitext(path)[1].lstrip(".")).lower()
    if ext == "csv":
        inferred = (
            spark.read.option("header", True)
            .option("inferSchema", True)
            .option("mode", "DROPMALFORMED")
            .csv(path)
        )
        schema = T.StructType(
            [f for f in inferred.schema.fields if f.name != "_corrupt_record"]
            + [T.StructField("_corrupt_record", T.StringType())]
        )
        df = (
            spark.read.option("header", True)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .schema(schema)
            .csv(path)
        )
    elif ext in ("json", "ndjson", "jsonl"):
        df = (
            spark.read.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(path)
        )
    else:
        raise ValueError(
            f"quarantine split supports csv/json text formats, not {ext!r}"
        )
    if "_corrupt_record" not in df.columns:
        return QuarantineSplit(
            clean=df,
            corrupt=spark.createDataFrame([], "_corrupt_record STRING"),
        )
    df = df.cache()
    clean = df.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    corrupt = df.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return QuarantineSplit(clean=clean, corrupt=corrupt, _cached=df)


def quarantine_report(
    spark: SparkSession, path: str, fmt: str | None = None
) -> dict[str, Any]:
    """Count-level corrupt-record report for a structured text file:
    ``{"n_clean", "n_corrupt", "corrupt_fraction", "samples"}`` (up to
    5 raw offending lines). Materializes both counts, then releases
    the split's cache — no session-lifetime blocks."""
    split = read_with_quarantine(spark, path, fmt)
    n_clean = split.clean.count()
    bad_rows = [r["_corrupt_record"] for r in split.corrupt.limit(5).collect()]
    n_corrupt = split.corrupt.count()
    split.release()
    total = n_clean + n_corrupt
    return {
        "n_clean": int(n_clean),
        "n_corrupt": int(n_corrupt),
        "corrupt_fraction": round(n_corrupt / total, 6) if total else 0.0,
        "samples": bad_rows,
    }


def read_fixed_width(
    spark: SparkSession,
    path: str,
    colspecs: Sequence[tuple[str, int, int, str]],
) -> DataFrame:
    """Fixed-width text reader (the mainframe/COBOL export format the
    reference's file-discovery surface never reached): each spec is
    ``(name, start_1based, length, spark_type)``; fields are sliced
    with ``substring``, trimmed, empty→NULL, and cast — all native
    Column expressions over a distributed ``spark.read.text`` scan, so
    a 100 TB fixed-width dump parses with whole-stage codegen and no
    Python. Rows shorter than a field's window yield NULL for that
    field (substring past end is empty), never an error — quarantine
    by ``WHERE col IS NULL`` if strictness is needed."""
    raw = spark.read.text(path)
    cols = [
        F.nullif(F.trim(F.substring(F.col("value"), start, length)), F.lit(""))
        .cast(dtype)
        .alias(name)
        for name, start, length, dtype in colspecs
    ]
    return raw.select(*cols)


def write_fixed_width(
    df: DataFrame,
    path: str,
    widths: Sequence[tuple[str, int]],
    mode: str = "overwrite",
) -> None:
    """Fixed-width writer: each column renders via ``rpad`` to its
    width (left-aligned, the common convention; values longer than the
    window are truncated explicitly rather than corrupting downstream
    offsets) and concatenates into one text column — a distributed
    ``text`` write, the round-trip partner of :func:`read_fixed_width`."""
    rendered = F.concat(
        *[
            F.rpad(
                F.substring(F.coalesce(F.col(c).cast("string"), F.lit("")), 1, w),
                w,
                " ",
            )
            for c, w in widths
        ]
    ).alias("value")
    df.select(rendered).write.mode(mode).text(path)
