"""Five-pillar data-quality rule engine (reference Q1-Q6, SURVEY.md §2.10).

Two engines, mirroring the reference:

* **Table engine** (``run_table_dq``) — parity with
  ``DISCOVER_AND_RUN_DQ_AUTO_RULES`` (Data_Quality_Table.sql:106-189):
  completeness = 1 - null_ratio, uniqueness = distinct_ratio, validity
  from the numeric AVG sign (1.0 / 0.5), accuracy = 1 - future-date
  ratio for date-like columns, consistency hardcoded 1.0 (the
  reference's stub, kept faithfully), column score = mean of the five
  *unrounded* pillar values rounded to 3 decimals, table score = mean
  of rounded column scores rounded to 3.

* **File engine** (``run_file_dq`` / distributed variants) — parity
  with ``DQ_DISCOVERY_AND_CHECKS`` (Data_Discovery_File.sql:97-313):
  pass/fail at 0.95 thresholds, numeric z-score(>3σ) outlier accuracy,
  string rare-value (<1% frequency) accuracy, pairwise
  functional-dependency consistency. Divergence from the reference
  (documented): validity ``result`` is a proper boolean, not the
  reference's ``str(valid)`` (Data_Discovery_File.sql:297).

Scale design: every full-column statistic comes from the single-pass
profile (operators/profile.py). The file engine's per-column and
per-pair checks are expressed as one unioned DataFrame plan per family
(the ``*_long`` functions below) instead of the reference's O(cols) /
O(cols²) separate scans; pair count is capped (``max_pairs``) for wide
tables. The discovery sweep (sources/discovery.py
``run_file_dq_distributed``) computes all families from one
grouping-sets value-count cube with a single collect; these per-family
plans stay as the composable DataFrame API and its parity reference.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .profile import is_datelike, is_numeric, profile_aggregates, profile_table

PASS_THRESHOLD = 0.95
RARE_FREQ = 0.01
ZSCORE = 3.0


# --------------------------------------------------------------------------
# Table engine (Data_Quality_Table.sql semantics)
# --------------------------------------------------------------------------


def score_table_pillars(
    prof: dict[str, Any], dtype_numeric: bool, dtype_datelike: bool
) -> dict[str, float]:
    """Pillar scores for one column from its profile (pure arithmetic,
    unit-testable; mirrors Data_Quality_Table.sql:109-173)."""
    completeness = 1.0 - prof["null_ratio"]
    uniqueness = prof["distinct_ratio"]
    if dtype_numeric and prof.get("numeric_stats"):
        avg_raw = prof["numeric_stats"]["AVG_VAL"]
        avg_val = float(avg_raw) if avg_raw not in (None, "None") else 0.0
        validity = 1.0 if avg_val >= 0 else 0.5
    else:
        validity = 1.0
    if dtype_datelike and "count_future" in prof:
        total = prof["count_all"]
        accuracy = 1.0 - (prof["count_future"] / total if total > 0 else 0.0)
    else:
        accuracy = 1.0
    consistency = 1.0
    column_score = (completeness + uniqueness + validity + accuracy + consistency) / 5
    return {
        "completeness": completeness,
        "uniqueness": uniqueness,
        "validity": validity,
        "accuracy": accuracy,
        "consistency": consistency,
        "column_score": column_score,
    }


def run_table_dq(
    df: DataFrame,
    table_name: str = "",
    now: _dt.datetime | str | None = None,
    approx: bool = False,
    related: dict[str, tuple[DataFrame, str]] | None = None,
) -> dict[str, Any]:
    """Full table DQ report in the reference's shape
    (Data_Quality_Table.sql:183-189): columns, profiling, dq_results
    with rule text + 3-decimal scores, table_score.

    One Spark job total (the profile pass) versus the reference's
    1 + N + numeric + date queries. ``now`` pins the future-date
    reference point; defaults to the current UTC time like the
    reference's CURRENT_TIMESTAMP().

    ``related`` upgrades the consistency pillar from the reference's
    hardcoded 1.0 stub (documented divergence, opt-in): map an FK
    column to ``(parent_df, pk_col)`` and its consistency score
    becomes the referential-integrity ratio (share of distinct child
    keys present in the parent) — one distinct-key anti-join per
    declared relation.
    """
    now = now or _dt.datetime.now(_dt.timezone.utc)
    schema = {f.name: f.dataType for f in df.schema.fields}
    profiling = profile_table(df, now=now, approx=approx)
    integrity: dict[str, float] = {}
    if related:
        from .integrity import referential_integrity

        for fk, (parent, pk) in related.items():
            row = referential_integrity(df, parent, fk, pk).collect()[0]
            integrity[fk] = float(row["integrity_ratio"])
    dq_results: dict[str, Any] = {}
    for col, prof in profiling.items():
        pillars = score_table_pillars(
            prof, is_numeric(schema[col]), is_datelike(schema[col])
        )
        if col in integrity:
            pillars["consistency"] = integrity[col]
            pillars["column_score"] = (
                pillars["completeness"]
                + pillars["uniqueness"]
                + pillars["validity"]
                + pillars["accuracy"]
                + pillars["consistency"]
            ) / 5
        dq_results[col] = {
            "completeness": {
                "rule": f"{col} should have minimal nulls",
                "score": round(pillars["completeness"], 3),
            },
            "uniqueness": {
                "rule": f"{col} values should be unique or diverse",
                "score": round(pillars["uniqueness"], 3),
            },
            "validity": {
                "rule": f"{col} must be within valid value ranges",
                "score": round(pillars["validity"], 3),
            },
            "accuracy": {
                "rule": f"{col} values should be correct (e.g., no future dates)",
                "score": round(pillars["accuracy"], 3),
            },
            "consistency": {
                "rule": f"{col} should align consistently with related columns",
                "score": round(pillars["consistency"], 3),
            },
            "column_score": round(pillars["column_score"], 3),
        }
    col_scores = [dq_results[c]["column_score"] for c in dq_results]
    table_score = sum(col_scores) / len(col_scores) if col_scores else 0.0
    return {
        "target_table": table_name,
        "columns": [
            {
                "COLUMN_NAME": f.name,
                "DATA_TYPE": f.dataType.simpleString(),
                "IS_NULLABLE": "YES" if f.nullable else "NO",
            }
            for f in df.schema.fields
        ],
        "profiling": profiling,
        "dq_results": dq_results,
        "table_score": round(table_score, 3),
    }


def table_dq_long(df: DataFrame, now: str) -> DataFrame:
    """Table-engine pillar scores as a pure DataFrame plan: one row per
    column ``(column_name, completeness, uniqueness, validity,
    accuracy, consistency, column_score)``, all 3-decimal. Single-pass
    wide aggregate exploded into per-column structs — no driver-side
    arithmetic, so it is directly oracle-comparable."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    cols = df.columns
    wide = df.agg(*profile_aggregates(df, cols, now=now))
    total = F.greatest(F.col("count_all"), F.lit(1)).cast("double")
    structs = []
    for c in cols:
        completeness = 1.0 - F.col(f"{c}__count_nulls") / total
        uniqueness = F.col(f"{c}__count_distinct") / total
        if is_numeric(schema[c]):
            validity = F.when(
                F.coalesce(F.col(f"{c}__avg"), F.lit(0.0)) >= 0, F.lit(1.0)
            ).otherwise(F.lit(0.5))
        else:
            validity = F.lit(1.0)
        if is_datelike(schema[c]):
            accuracy = F.when(
                F.col("count_all") > 0,
                1.0 - F.col(f"{c}__count_future") / F.col("count_all").cast("double"),
            ).otherwise(F.lit(1.0))
        else:
            accuracy = F.lit(1.0)
        consistency = F.lit(1.0)
        column_score = (
            completeness + uniqueness + validity + accuracy + consistency
        ) / F.lit(5.0)
        structs.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.round(completeness, 3).alias("completeness"),
                F.round(uniqueness, 3).alias("uniqueness"),
                F.round(validity, 3).alias("validity"),
                F.round(accuracy, 3).alias("accuracy"),
                F.round(consistency, 3).alias("consistency"),
                F.round(column_score, 3).alias("column_score"),
            )
        )
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


# --------------------------------------------------------------------------
# File engine (Data_Discovery_File.sql semantics), distributed
# --------------------------------------------------------------------------


def completeness_uniqueness_long(df: DataFrame) -> DataFrame:
    """File-engine completeness + uniqueness rule rows
    ``(column_name, pillar, result, status)`` — one aggregate pass
    (Data_Discovery_File.sql:217-273 semantics, 0.95 threshold)."""
    cols = df.columns
    wide = df.agg(*profile_aggregates(df, cols))
    total = F.greatest(F.col("count_all"), F.lit(1)).cast("double")
    structs = []
    for c in cols:
        completeness = (F.col("count_all") - F.col(f"{c}__count_nulls")) / total
        uniqueness = F.col(f"{c}__count_distinct") / total
        for pillar, result in (("completeness", completeness), ("uniqueness", uniqueness)):
            structs.append(
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.lit(pillar).alias("pillar"),
                    F.round(result, 6).alias("result"),
                    F.when(result >= PASS_THRESHOLD, F.lit("passed"))
                    .otherwise(F.lit("failed"))
                    .alias("status"),
                )
            )
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def zscore_accuracy_long(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Numeric accuracy: share of values within 3 sample-stddevs of the
    mean (Data_Discovery_File.sql:147-183). Two passes — one for
    mean/std/count, one counting outliers — both full aggregates, no
    per-column scans. ``result`` rounded to 6 for cross-engine hashing.
    """
    schema = {f.name: f.dataType for f in df.schema.fields}
    cols = cols or [c for c in df.columns if is_numeric(schema[c])]
    stats_row = df.agg(
        *[
            agg
            for c in cols
            for agg in (
                F.avg(c).alias(f"{c}__mean"),
                F.stddev(c).alias(f"{c}__std"),
                F.count(F.col(c)).alias(f"{c}__n"),
            )
        ]
    ).collect()[0]
    outlier_aggs = []
    for c in cols:
        mean, std = stats_row[f"{c}__mean"], stats_row[f"{c}__std"]
        if mean is None or std is None:
            outlier_aggs.append(F.lit(0).alias(f"{c}__outliers"))
        else:
            outlier_aggs.append(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.abs(F.col(c) - F.lit(mean)) > ZSCORE * F.lit(std), 1
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias(f"{c}__outliers")
            )
    wide = df.agg(*outlier_aggs)
    structs = []
    for c in cols:
        n = stats_row[f"{c}__n"]
        if n and n > 0:
            result = 1.0 - F.col(f"{c}__outliers") / F.lit(float(n))
        else:
            result = F.lit(1.0)
        structs.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.round(result, 6).alias("result"),
                F.when(result >= PASS_THRESHOLD, F.lit("passed"))
                .otherwise(F.lit("failed"))
                .alias("status"),
            )
        )
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def rare_value_accuracy_long(df: DataFrame, cols: list[str]) -> DataFrame:
    """String accuracy: 1 - Σ(frequency of values rarer than 1%)
    (Data_Discovery_File.sql:185-211). One groupBy per column, unioned
    into a single plan; each group-by shuffles only (value, count)
    pairs. Frequencies are over non-null values (pandas
    ``value_counts`` semantics)."""
    parts = []
    for c in cols:
        counts = (
            df.filter(F.col(c).isNotNull())
            .groupBy(F.col(c).alias("v"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # Whole-frame window to attach the non-null total; post-groupBy
        # cardinality is the column's distinct count, small for the
        # categorical columns this rule targets.
        parts.append(
            counts.select(
                F.lit(c).alias("column_name"),
                F.col("cnt"),
                F.sum("cnt").over(_whole()).alias("tot"),
            )
            .groupBy("column_name")
            .agg(
                # sum the INTEGER counts of rare values and divide once:
                # summing per-row cnt/tot floats is partition-order
                # dependent and can land at 1.0 +/- 1ulp, flipping the
                # sign of the rounded zero (a real flake caught by the
                # sign-sensitive oracle comparator)
                F.round(
                    1.0
                    - F.coalesce(
                        F.sum(
                            F.when(
                                F.col("cnt") / F.col("tot") < RARE_FREQ,
                                F.col("cnt"),
                            ).otherwise(F.lit(0))
                        ).cast("double")
                        / F.max("tot"),
                        F.lit(0.0),
                    ),
                    6,
                ).alias("result")
            )
            .select(
                "column_name",
                "result",
                F.when(F.col("result") >= PASS_THRESHOLD, F.lit("passed"))
                .otherwise(F.lit("failed"))
                .alias("status"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _whole():
    from pyspark.sql.window import Window

    return Window.partitionBy()


def fd_consistency_long(
    df: DataFrame,
    cols: list[str] | None = None,
    max_pairs: int | None = None,
    profile_keylike: bool = False,
) -> DataFrame:
    """Pairwise functional-dependency consistency
    (Data_Discovery_File.sql:97-143): for every ordered column pair
    (c1, c2), passed iff no c1 value maps to more than one distinct c2
    value. Output ``(pair, inconsistent_keys, result, status)``.

    The reference runs O(cols²) full pandas scans; here each
    DETERMINANT is one groupBy subplan computing every dependent's
    countDistinct at once (r11 — N scans/shuffles instead of N²) and
    all determinants union into ONE Spark plan. ``max_pairs`` caps the
    quadratic blowup on wide tables.

    **Key-like pre-filter** (SURVEY §4; VERDICT r3 #7): a pair whose
    determinant c1 is UNIQUE over its non-null rows passes with
    certainty — each c1 value labels at most one row, hence at most one
    c2 value (and the both-non-null FD subset only shrinks that). Such
    pairs are emitted as literal passed rows with ZERO scan work, so an
    N-column table with k key-like columns drops k·(N−1) grouped-agg
    subplans. ``profile_keylike=True`` derives the unique set with one
    extra count/countDistinct pass. Answers are bit-identical either
    way — the skip is exact, not a heuristic. (The file-DQ sweep,
    sources/discovery.py, needs no pre-filter: its value-count cube
    judges every pair from the same single pass.)"""
    cols = cols or df.columns
    pairs = [(c1, c2) for c1 in cols for c2 in cols if c1 != c2]
    if max_pairs is not None:
        pairs = pairs[:max_pairs]
    unique_cols: set[str] = set()
    if profile_keylike and pairs:
        determinants = sorted({c1 for c1, _ in pairs})
        prow = df.agg(
            *[F.count(F.col(c)).alias(f"__n_{i}") for i, c in enumerate(determinants)],
            *[
                F.countDistinct(F.col(c)).alias(f"__d_{i}")
                for i, c in enumerate(determinants)
            ],
        ).collect()[0]
        unique_cols = {
            c
            for i, c in enumerate(determinants)
            if prow[f"__n_{i}"] == prow[f"__d_{i}"]
        }
    skipped_schema = (
        "pair STRING, inconsistent_keys BIGINT, result DOUBLE, status STRING"
    )
    # Batch ALL skipped pairs into ONE local relation: a per-pair
    # createDataFrame would add k*(N-1) LocalRelations to the union
    # plan on a wide table with k unique determinants, partially
    # offsetting the scan savings the pre-filter exists for
    # (ADVICE r4 #5).
    skipped_rows = [
        (f"{c1}->{c2}", 0, 1.0, "passed")
        for c1, c2 in pairs
        if c1 in unique_cols
    ]
    parts = []
    if skipped_rows:
        parts.append(df.sparkSession.createDataFrame(skipped_rows, skipped_schema))
    # r11 (guide §1.2 fewer passes, §2.4 fewer shuffles): every
    # dependent of one determinant shares the SAME groupBy(c1), so one
    # subplan per DETERMINANT computes all its countDistinct(c2)
    # columns at once — N scans/shuffles instead of N² — and the single
    # wide summary row unpivots to the per-pair contract rows. Counts
    # are identical to the old per-pair subplans: count_distinct
    # ignores NULL c2 (the only effect the old both-non-null filter had
    # on the aggregate), and a c1 value whose c2 are all NULL yields
    # n=0 (not > 1) exactly like the old pre-filtered groupBy that
    # never formed the group.
    by_det: dict[str, list[str]] = {}
    for c1, c2 in pairs:
        if c1 in unique_cols:
            continue
        by_det.setdefault(c1, []).append(c2)
    for c1, deps in by_det.items():
        g = (
            df.filter(F.col(c1).isNotNull())
            .groupBy(c1)
            .agg(
                *[
                    F.countDistinct(F.col(c2)).alias(f"__n_{j}")
                    for j, c2 in enumerate(deps)
                ]
            )
        )
        # coalesce: an all-NULL determinant column leaves g empty and
        # sum() NULL — the old empty count was 0 ("passed")
        wide = g.agg(
            *[
                F.coalesce(
                    F.sum((F.col(f"__n_{j}") > 1).cast("long")), F.lit(0)
                ).alias(f"__k_{j}")
                for j in range(len(deps))
            ]
        )
        unpivot = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f"{c1}->{c2}").alias("pair"),
                        F.col(f"__k_{j}").cast("long").alias("ik"),
                    )
                    for j, c2 in enumerate(deps)
                ]
            )
        ).alias("s")
        parts.append(
            wide.select(unpivot).select(
                F.col("s.pair").alias("pair"),
                F.col("s.ik").alias("inconsistent_keys"),
                F.when(F.col("s.ik") == 0, F.lit(1.0))
                .otherwise(F.lit(0.0))
                .alias("result"),
                F.when(F.col("s.ik") == 0, F.lit("passed"))
                .otherwise(F.lit("failed"))
                .alias("status"),
            )
        )
    if not parts:
        # single-column (or empty) frame: no pairs to check — return an
        # empty result with the contract schema instead of crashing
        return df.sparkSession.createDataFrame(
            [],
            "pair STRING, inconsistent_keys BIGINT, result DOUBLE, status STRING",
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def run_file_dq(pdf, max_pairs: int | None = None) -> list[dict[str, Any]]:
    """Exact file-engine DQ sweep on an in-memory pandas DataFrame —
    the reference's operating mode for discovered files
    (Data_Discovery_File.sql:217-313). Returns the flat rule-record
    list (completeness, uniqueness, validity, consistency, accuracy).

    Kept pandas-native for small discovered files; use the ``*_long``
    DataFrame variants for warehouse-scale tables. Validity ``result``
    is a real bool (reference emitted ``str(valid)``)."""
    import pandas as pd

    results: list[dict[str, Any]] = []
    total = len(pdf)
    for col in pdf.columns:
        nulls = int(pdf[col].isnull().sum())
        completeness = (total - nulls) / total if total else 1.0
        status = "passed" if completeness >= PASS_THRESHOLD else "failed"
        results.append(
            {
                "pillar": "completeness",
                "column": col,
                "result": float(completeness),
                "rule": f"Completeness of {col}",
                "status": status,
                "reason": f"{nulls} nulls out of {total} rows"
                if status == "failed"
                else "Less than 5% nulls",
            }
        )
        nunique = int(pdf[col].nunique())
        uniqueness = nunique / total if total else 1.0
        status = "passed" if uniqueness >= PASS_THRESHOLD else "failed"
        results.append(
            {
                "pillar": "uniqueness",
                "column": col,
                "result": float(uniqueness),
                "rule": f"Uniqueness of {col}",
                "status": status,
                "reason": f"{nunique} unique values out of {total}"
                if status == "failed"
                else "High uniqueness",
            }
        )
        dtype = str(pdf[col].dtype)
        if dtype == "object":
            valid = bool(pdf[col].dropna().map(lambda x: isinstance(x, str)).all())
        else:
            valid = bool(pd.api.types.is_numeric_dtype(pdf[col])) or (
                "datetime" in dtype or dtype == "bool"
            )
        status = "passed" if valid else "failed"
        results.append(
            {
                "pillar": "validity",
                "column": col,
                "result": valid,
                "rule": f"Validity of {col}",
                "status": status,
                "reason": "All values match expected type"
                if valid
                else "Some values do not match expected type",
            }
        )
    # Consistency: ordered-pair functional dependencies.
    cols = list(pdf.columns)
    pairs = [(a, b) for a in cols for b in cols if a != b]
    if max_pairs is not None:
        pairs = pairs[:max_pairs]
    for c1, c2 in pairs:
        mapping = pdf[[c1, c2]].dropna().drop_duplicates()
        grouped = mapping.groupby(c1)[c2].nunique()
        n_bad = int((grouped > 1).sum())
        status = "passed" if n_bad == 0 else "failed"
        results.append(
            {
                "pillar": "consistency",
                "column": f"{c1}->{c2}",
                "result": 1.0 if n_bad == 0 else 0.0,
                "rule": f"Each {c1} maps to a consistent {c2}",
                "status": status,
                "reason": f"Each value in {c1} maps to one value in {c2}"
                if status == "passed"
                else f"{n_bad} values in {c1} map to multiple values in {c2}",
            }
        )
    # Accuracy: numeric z-score outliers; string rare values.
    for col in pdf.columns:
        if pd.api.types.is_numeric_dtype(pdf[col]):
            series = pdf[col].dropna()
            if len(series) > 0:
                mean, std = series.mean(), series.std()
                outliers = series[(series - mean).abs() > ZSCORE * std]
                result = 1.0 - len(outliers) / len(series)
            else:
                result, outliers = 1.0, []
            status = "passed" if result >= PASS_THRESHOLD else "failed"
            results.append(
                {
                    "pillar": "accuracy",
                    "column": col,
                    "result": float(result),
                    "rule": f"Outlier check on {col} (z-score > 3)",
                    "status": status,
                    "reason": f"{len(outliers)} outliers detected in {col}"
                    if status == "failed"
                    else "Outliers within acceptable range",
                }
            )
        elif pd.api.types.is_string_dtype(pdf[col]) or pdf[col].dtype == object:
            # pandas ≥2 is_string_dtype no longer accepts plain object
            # columns; the reference ran where object ⇒ string, so an
            # object column must still get the rare-value rule
            value_counts = pdf[col].value_counts(normalize=True)
            rare = value_counts[value_counts < RARE_FREQ]
            result = 1.0 - float(rare.sum())
            status = "passed" if result >= PASS_THRESHOLD else "failed"
            results.append(
                {
                    "pillar": "accuracy",
                    "column": col,
                    "result": float(result),
                    "rule": f"Rare value check on {col} (<1% frequency)",
                    "status": status,
                    "reason": f"{len(rare)} rare values (<1%) in {col}"
                    if status == "failed"
                    else "Rare values within acceptable range",
                }
            )
    return results
