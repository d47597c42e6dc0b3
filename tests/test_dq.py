import pytest
import pandas as pd

from data_pipelines_snowflake_procedures_spark.operators.dq import (
    run_file_dq,
    run_table_dq,
    score_table_pillars,
)
from data_pipelines_snowflake_procedures_spark.operators.profile import profile_table
from data_pipelines_snowflake_procedures_spark.session import load_table


def test_profile_table_shape(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    prof = profile_table(cust)
    assert set(prof) == set(cust.columns)
    p = prof["c_custkey"]
    assert p["count_all"] == 1500
    assert p["count_distinct"] == 1500
    assert p["count_nulls"] == 0
    assert p["null_ratio"] == 0.0
    assert p["distinct_ratio"] == 1.0
    assert p["numeric_stats"] is not None
    assert prof["c_mktsegment"]["numeric_stats"] is None


def test_profile_approx_close(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    prof = profile_table(cust, approx=True)
    exact = 1500
    approx = prof["c_custkey"]["count_distinct"]
    assert abs(approx - exact) / exact < 0.06


def test_score_table_pillars_arithmetic():
    prof = {
        "null_ratio": 0.1,
        "distinct_ratio": 0.5,
        "count_all": 100,
        "count_future": 10,
        "numeric_stats": {"AVG_VAL": "-5.0"},
    }
    s = score_table_pillars(prof, dtype_numeric=True, dtype_datelike=True)
    assert abs(s["completeness"] - 0.9) < 1e-12
    assert abs(s["uniqueness"] - 0.5) < 1e-12
    assert s["validity"] == 0.5  # negative average
    assert abs(s["accuracy"] - 0.9) < 1e-12
    assert s["consistency"] == 1.0
    assert abs(s["column_score"] - (0.9 + 0.5 + 0.5 + 0.9 + 1.0) / 5) < 1e-12


def test_run_table_dq_report_shape(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    rep = run_table_dq(orders, "orders", now="1995-06-01 00:00:00")
    assert rep["target_table"] == "orders"
    assert set(rep["dq_results"]) == set(orders.columns)
    okey = rep["dq_results"]["o_orderkey"]
    assert okey["completeness"]["score"] == 1.0
    assert okey["uniqueness"]["score"] == 1.0
    # o_orderdate: some orders are after 1995-06-01 → accuracy < 1
    assert rep["dq_results"]["o_orderdate"]["accuracy"]["score"] < 1.0
    assert 0 < rep["table_score"] <= 1.0


def test_run_file_dq_reference_semantics():
    pdf = pd.DataFrame(
        {
            "k": [1, 2, 3, 4, 5, 6, 7, 8, 9, 10],
            "cat": ["a"] * 9 + [None],
            "dup": ["x", "x", "x", "x", "x", "x", "x", "x", "y", "x"],
        }
    )
    results = run_file_dq(pdf)
    by = {(r["pillar"], r["column"]): r for r in results}
    # completeness: cat has 1 null of 10 → 0.9 → failed at 0.95
    assert abs(by[("completeness", "cat")]["result"] - 0.9) < 1e-12
    assert by[("completeness", "cat")]["status"] == "failed"
    # uniqueness: k is fully unique → passed
    assert by[("uniqueness", "k")]["result"] == 1.0
    assert by[("uniqueness", "k")]["status"] == "passed"
    # validity is a real bool (reference emitted str(valid))
    assert by[("validity", "k")]["result"] is True
    # consistency: cat→dup: 'a' maps to both x and y → failed
    assert by[("consistency", "cat->dup")]["result"] == 0.0
    assert by[("consistency", "dup->cat")]["result"] == 1.0
    # accuracy on k: no 3σ outliers in a uniform ramp
    assert by[("accuracy", "k")]["result"] == 1.0


def test_run_file_dq_rare_values():
    # 200 rows: one dominant value + 2 singleton (0.5% < 1%) values
    vals = ["common"] * 198 + ["rare1", "rare2"]
    pdf = pd.DataFrame({"s": vals})
    results = run_file_dq(pdf)
    acc = [r for r in results if r["pillar"] == "accuracy" and r["column"] == "s"][0]
    assert abs(acc["result"] - (1.0 - 2 / 200)) < 1e-12


def test_approx_profile_within_tolerance(spark, sf_dir):
    """HLL approx_count_distinct profiling (the 100 TB path) tracks the
    exact distinct counts within the configured 2% rsd (3 sigma)."""
    from data_pipelines_snowflake_procedures_spark.operators.profile import (
        profile_long,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_returnflag"
    )
    exact = {
        r["column_name"]: r["count_distinct"]
        for r in profile_long(li).collect()
    }
    approx = {
        r["column_name"]: r["count_distinct"]
        for r in profile_long(li, approx=True).collect()
    }
    for col, ex in exact.items():
        ap = approx[col]
        assert abs(ap - ex) <= max(0.06 * ex, 2), (col, ex, ap)


def test_file_dq_engines_agree(spark):
    """The pandas parity engine (run_file_dq) and the distributed
    engine (run_file_dq_distributed) must produce the same
    completeness / uniqueness / accuracy / consistency results on the
    same data (validity intentionally differs: value-level vs
    schema-level — SURVEY.md §2.10 note)."""
    import pandas as pd

    from data_pipelines_snowflake_procedures_spark.sources.discovery import (
        run_file_dq_distributed,
    )

    pdf = pd.DataFrame(
        {
            "k": list(range(1, 21)),
            "cat": ["a"] * 10 + ["b"] * 9 + [None],
            "dep": ["x"] * 10 + ["y"] * 9 + ["x"],
        }
    )
    sdf = spark.createDataFrame(pdf)
    pandas_rules = {
        (r["pillar"], r["column"]): round(float(r["result"]), 6)
        for r in run_file_dq(pdf)
        if r["pillar"] != "validity"
    }
    spark_rules = {
        (r["pillar"], r["column"]): round(float(r["result"]), 6)
        for r in run_file_dq_distributed(sdf)
        if r["pillar"] != "validity"
    }
    assert pandas_rules.keys() == spark_rules.keys()
    diffs = {
        k: (pandas_rules[k], spark_rules[k])
        for k in pandas_rules
        if abs(pandas_rules[k] - spark_rules[k]) > 1e-9
    }
    assert not diffs, diffs


def _sweep_fixture(spark):
    """250 rows exercising every rule family's edge: NULLs in FD
    determinants and dependents, rare string values, an all-NULL
    string and an all-NULL double column, NaN / -0.0 / 0.0 doubles
    (``z`` is a function of ``d`` only once -0.0 = 0.0 and NaN = NaN),
    double and decimal outliers, and booleans."""
    from decimal import Decimal

    rows = []
    for i in range(250):
        d = None if i % 17 == 0 else i % 40
        if d is None or d % 4 == 0:
            z = float("nan")
        elif d % 4 == 1:
            z = -0.0 if (i // 40) % 2 else 0.0
        else:
            z = float(d)
        rows.append(
            (
                d,
                "rare" if i == 3 else "twice" if i in (5, 6) else (
                    None if i % 11 == 0 else f"s{i % 5}"
                ),
                None if i % 13 == 0 else f"t{(i % 40) % 7}",
                1e6 if i == 7 else [float("nan"), -0.0, 0.0, None, 1.5, 2.5][i % 6],
                z,
                Decimal("9999.99") if i == 8 else (
                    None if i % 19 == 0 else Decimal(f"{i % 9}.25")
                ),
                None if i % 23 == 0 else i % 3 == 0,
                None,
                None,
            )
        )
    return spark.createDataFrame(
        rows,
        "d INT, s STRING, t STRING, x DOUBLE, z DOUBLE, m DECIMAL(10,2), "
        "b BOOLEAN, none_s STRING, none_x DOUBLE",
    )


def _engine_rules(df, max_pairs):
    """The sweep's non-validity records rebuilt from the per-family
    DataFrame engines, as (pillar, column, result, status) tuples."""
    from data_pipelines_snowflake_procedures_spark.operators.dq import (
        completeness_uniqueness_long,
        fd_consistency_long,
        rare_value_accuracy_long,
        zscore_accuracy_long,
    )
    from data_pipelines_snowflake_procedures_spark.operators.profile import (
        is_numeric,
    )
    from pyspark.sql import types as T

    schema = {f.name: f.dataType for f in df.schema.fields}
    numeric = [c for c in df.columns if is_numeric(schema[c])]
    strings = [c for c in df.columns if isinstance(schema[c], T.StringType)]
    out = [
        (r["pillar"], r["column_name"], float(r["result"]), r["status"])
        for r in completeness_uniqueness_long(df).collect()
    ]
    for frame in (zscore_accuracy_long(df, numeric), rare_value_accuracy_long(df, strings)):
        out += [
            ("accuracy", r["column_name"], float(r["result"]), r["status"])
            for r in frame.collect()
        ]
    out += [
        ("consistency", r["pair"], float(r["result"]), r["status"])
        for r in fd_consistency_long(df, max_pairs=max_pairs).collect()
    ]
    return out


def _rule_tuples(rules):
    """Multiset of a sweep's non-validity records."""
    from collections import Counter

    return Counter(
        (r["pillar"], r["column"], float(r["result"]), r["status"])
        for r in rules
        if r["pillar"] != "validity"
    )


@pytest.mark.parametrize("max_pairs", [None, 5])
def test_file_dq_sweep_matches_family_engines(spark, max_pairs):
    """The one-collect value-count cube returns exactly the rule
    multiset of the per-family engines (z-score, rare values, FD
    pairs, completeness/uniqueness) on NULL,
    NaN, -0.0, decimal, boolean and all-NULL columns, and the frame's
    row count; on the columns pandas models the same way it also
    agrees with run_file_dq (validity excluded, as in
    test_file_dq_engines_agree)."""
    from collections import Counter

    from data_pipelines_snowflake_procedures_spark.sources.discovery import (
        run_file_dq_distributed,
    )
    from pyspark.sql import functions as F

    df = _sweep_fixture(spark)
    rules = run_file_dq_distributed(df, max_pairs=max_pairs)
    assert _rule_tuples(rules) == Counter(_engine_rules(df, max_pairs))
    assert rules.row_count == 250
    assert sum(r["pillar"] == "validity" for r in rules) == len(df.columns)
    accuracy = {r["column"]: r for r in rules if r["pillar"] == "accuracy"}
    assert "none_s" not in accuracy  # no value frequencies, no rare rule
    assert accuracy["none_x"]["result"] == 1.0
    assert accuracy["s"]["result"] == round(1 - 3 / 227, 6)  # 1/227 + 2/227 rare
    assert accuracy["m"]["result"] < 1.0  # the planted decimal outlier
    assert accuracy["x"]["result"] == 1.0  # a NaN mean flags nothing
    if max_pairs is None:
        cons = {r["column"]: r["status"] for r in rules if r["pillar"] == "consistency"}
        assert cons["d->t"] == "passed" and cons["d->s"] == "failed"
        assert cons["d->z"] == "passed"  # NaN = NaN, -0.0 = 0.0

    # pandas reads NULL ints/doubles as NaN, so the doubles lose their
    # own NaNs; -0.0 and 0.0 are one value in both engines
    no_nan = F.lit(None).cast("double")
    sdf = df.select(
        "d",
        "s",
        "t",
        F.nanvl("x", no_nan).alias("x"),
        F.nanvl("z", no_nan).alias("z"),
        "none_s",
    )
    want = {
        (r["pillar"], r["column"]): round(float(r["result"]), 6)
        for r in run_file_dq(sdf.toPandas(), max_pairs=max_pairs)
        if r["pillar"] != "validity"
    }
    have = {
        (r["pillar"], r["column"]): r["result"]
        for r in run_file_dq_distributed(sdf, max_pairs=max_pairs)
        if r["pillar"] != "validity"
    }
    # pandas scores an all-NaN object column's rare mass as 1.0; Spark
    # has no value frequencies to judge
    assert want.pop(("accuracy", "none_s")) == 1.0
    assert want.keys() == have.keys()
    assert all(abs(want[k] - have[k]) <= 1e-9 for k in want), (want, have)


def test_file_dq_sweep_chunks_agree(spark, monkeypatch):
    """Frames wider than Spark's 64-key grouping-set limit are swept in
    chunks whose one-row summaries cross-join; shrinking the chunk to 4
    keys (3 chunks here, FD pairs crossing them) changes no rule."""
    from data_pipelines_snowflake_procedures_spark.sources import discovery

    df = _sweep_fixture(spark)
    whole = discovery.run_file_dq_distributed(df)
    monkeypatch.setattr(discovery, "_CUBE_KEYS", 4)
    chunked = discovery.run_file_dq_distributed(df)
    assert _rule_tuples(chunked) == _rule_tuples(whole)
    assert chunked.row_count == whole.row_count == 250


@pytest.mark.slowtier
def test_fd_keylike_prefilter_skips_exactly_and_identically(spark):
    """VERDICT r3 #7: pairs whose determinant is unique are emitted as
    literal passed rows — answers bit-identical to the full sweep, with
    the unique column's (N-1) grouped-agg subplans gone from the plan."""
    from data_pipelines_snowflake_procedures_spark.operators.dq import (
        fd_consistency_long,
    )

    df = spark.createDataFrame(
        [
            (1, "a", "x", 10),
            (2, "a", "x", 10),
            (3, "b", "y", 20),
            (4, "b", "z", 20),  # b -> {y, z}: cat->sub fails
        ],
        "id BIGINT, cat STRING, sub STRING, price BIGINT",
    )

    def as_map(frame):
        return {
            r["pair"]: (r["inconsistent_keys"], r["result"], r["status"])
            for r in frame.collect()
        }

    full = as_map(fd_consistency_long(df))
    fast = fd_consistency_long(df, profile_keylike=True)
    assert as_map(fast) == full
    # id is unique -> id->* trivially passes; cat->sub genuinely fails
    assert full["id->cat"] == (0, 1.0, "passed")
    assert full["cat->sub"][2] == "failed"
    # the skipped pairs' groupBy subplans are gone: the optimized plan
    # aggregates only the 9 non-id-determinant pairs (12 total pairs,
    # 3 with determinant id)
    plan_full = fd_consistency_long(df)._jdf.queryExecution().optimizedPlan().toString()
    plan_fast = fast._jdf.queryExecution().optimizedPlan().toString()
    assert plan_full.count("Aggregate") > plan_fast.count("Aggregate")


def test_robust_outlier_approx_close_to_exact(spark, sf_dir):
    """The histogram-binned (quantile_disc over integer cents) robust
    profile must track the exact interpolating form: identical groups
    and counts, medians/MADs within the discrete-vs-interpolated gap
    (one central-value step — bounded here by 0.05), outlier counts
    within 2% of the group. Same exact/binned pairing as
    documents_quality_auc / _binned."""
    from data_pipelines_snowflake_procedures_spark.queries import REGISTRY

    exact = {
        r["event_type"]: r
        for r in REGISTRY["events_robust_outlier_profile"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    approx = {
        r["event_type"]: r
        for r in REGISTRY["events_robust_outlier_profile_approx"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    assert set(exact) == set(approx) and exact
    for t, e in exact.items():
        a = approx[t]
        assert a["n_events"] == e["n_events"]
        assert abs(a["median_value"] - e["median_value"]) <= 0.05, t
        assert abs(a["mad"] - e["mad"]) <= 0.05, t
        assert (
            abs(a["n_robust_outliers"] - e["n_robust_outliers"])
            <= max(2, 0.02 * e["n_events"])
        ), t
