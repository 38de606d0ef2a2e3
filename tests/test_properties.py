"""Property-based tests (SURVEY §5 "Property tests"): invariants that
must hold for arbitrary inputs, not just the fixtures — the outlier
filter's subset/bounds contract, the salted-aggregation result
identity, and canonicalization's case-insensitivity.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.canonicalize import canonicalize
from proyecto_final_de_big_data_spark.operators.clean import clip_to_quantiles, quantile_bounds
from proyecto_final_de_big_data_spark.operators.skew import salted_aggregate

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

finite = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False)


@given(vals=st.lists(finite, min_size=5, max_size=60))
@settings(**_SETTINGS)
def test_clip_keeps_subset_within_bounds(spark, vals):
    df = spark.createDataFrame([(float(v),) for v in vals], ["x"])
    lo, hi = quantile_bounds(df, ["x"], 0.1, 0.9, exact=True).collect()[0]
    kept = [r["x"] for r in clip_to_quantiles(df, ["x"], 0.1, 0.9, exact=True).collect()]
    # subset of the input as a multiset
    from collections import Counter

    assert not Counter(kept) - Counter(float(v) for v in vals)
    # every kept value respects the quantile band
    assert all(lo <= k <= hi for k in kept)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["x", "y", "z", "hot"]), finite), min_size=1, max_size=80
    ),
    n_salts=st.integers(min_value=1, max_value=32),
)
@settings(**_SETTINGS)
def test_salted_aggregate_matches_plain_groupby(spark, rows, n_salts):
    df = spark.createDataFrame([(k, float(v)) for k, v in rows], ["k", "v"])
    salted = {
        r["k"]: (r["n"], r["s"])
        for r in salted_aggregate(
            df, ["k"], sums={"s": F.col("v")}, count_alias="n", n_salts=n_salts
        ).collect()
    }
    plain = {
        r["k"]: (r["n"], r["s"])
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()
    }
    assert salted.keys() == plain.keys()
    for k in plain:
        assert salted[k][0] == plain[k][0]
        assert math.isclose(salted[k][1], plain[k][1], rel_tol=1e-9, abs_tol=1e-6)


@given(case_seed=st.integers(min_value=0, max_value=2**16))
@settings(**_SETTINGS)
def test_canonicalize_is_case_insensitive(spark, case_seed):
    """Any per-character casing of a synonym column name canonicalizes to
    the same schema and values."""
    name = "totalprice"
    cased = "".join(
        c.upper() if (case_seed >> (i % 16)) & 1 else c for i, c in enumerate(name)
    )
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["order_key", cased])
    out = canonicalize(
        df,
        synonyms={
            "order_key": ["order_key", "orderkey"],
            "total_price": ["totalprice", "total_price"],
        },
        required=["order_key", "total_price"],
        defaults={},
    )
    assert set(out.columns) == {"order_key", "total_price"}
    assert sorted(r["total_price"] for r in out.collect()) == [10.0, 20.0]


# --- temporal joins: engine plans vs reference implementations --------

_key_ts_payload = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # key
        st.integers(min_value=0, max_value=100_000),  # ts offset seconds
    ),
    min_size=1,
    max_size=25,
)


@given(left=_key_ts_payload, right=_key_ts_payload)
@settings(**_SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    import datetime as dt

    import pandas as pd

    from proyecto_final_de_big_data_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    # unique (key, ts) per side — the operator's documented right-side
    # contract; left duplicates are fine but make pandas comparison
    # fiddly, so dedup both.
    lrows = sorted({(k, base + dt.timedelta(seconds=s)) for k, s in left})
    rrows = sorted({(k, base + dt.timedelta(seconds=s)) for k, s in right})
    ldf = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(lrows)], ["lid", "k", "ts"]
    )
    rdf = spark.createDataFrame(
        [(k, ts, f"p{k}:{ts:%H%M%S}") for k, ts in rrows], ["k", "rts", "payload"]
    )
    got = {
        r["lid"]: r["payload"]
        for r in asof_join(ldf, rdf, "k", "ts", "rts", ["payload"]).collect()
    }
    lp = pd.DataFrame([(i, k, ts) for i, (k, ts) in enumerate(lrows)], columns=["lid", "k", "ts"]).sort_values("ts")
    rp = pd.DataFrame(rrows, columns=["k", "rts"]).sort_values("rts")
    rp["payload"] = [f"p{k}:{ts:%H%M%S}" for k, ts in zip(rp["k"], rp["rts"])]
    want_df = pd.merge_asof(
        lp, rp, left_on="ts", right_on="rts", by="k", direction="backward"
    )
    want = {
        int(r.lid): (None if pd.isna(r.payload) else r.payload)
        for r in want_df.itertuples()
    }
    assert got == want


_intervals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),        # key
        st.integers(min_value=0, max_value=50_000),   # start offset s
        st.integers(min_value=1, max_value=40_000),   # duration s
    ),
    min_size=1,
    max_size=10,
)


@given(points=_key_ts_payload, intervals=_intervals)
@settings(**_SETTINGS)
def test_interval_join_matches_naive_theta_join(spark, points, intervals):
    import datetime as dt

    from proyecto_final_de_big_data_spark.operators.asof import interval_join

    base = dt.datetime(2024, 1, 1)
    prow = [(i, k, base + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(points)]
    irow = [
        (j, k, base + dt.timedelta(seconds=s), base + dt.timedelta(seconds=s + d))
        for j, (k, s, d) in enumerate(intervals)
    ]
    ldf = spark.createDataFrame(prow, ["pid", "k", "ts"])
    rdf = spark.createDataFrame(irow, ["iid", "k", "s", "e"])
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(ldf, rdf, "k", "ts", "s", "e", bucket="1 hour").collect()
    }
    want = {
        (pid, iid)
        for pid, pk, ts in prow
        for iid, ik, s, e in irow
        if pk == ik and s <= ts < e
    }
    assert got == want


# ----------------------------------------------------- PAV calibration
# Pure-Python core (no SparkSession): hypothesis sweeps over random
# (weight, mean) sequences.

from proyecto_final_de_big_data_spark.ml.calibration import pav_fit  # noqa: E402

_pav_pairs = st.lists(
    st.tuples(
        st.floats(min_value=0.1, max_value=100.0, allow_nan=False),
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    ),
    min_size=1,
    max_size=50,
)


@given(_pav_pairs)
@settings(max_examples=200, deadline=None)
def test_pav_output_is_monotone(ps):
    out = pav_fit(ps)
    assert all(a <= b + 1e-12 for a, b in zip(out, out[1:]))


@given(_pav_pairs)
@settings(max_examples=200, deadline=None)
def test_pav_preserves_weighted_mass(ps):
    out = pav_fit(ps)
    got = sum(w * v for (w, _), v in zip(ps, out))
    want = sum(w * m for w, m in ps)
    assert math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-9)


@given(_pav_pairs)
@settings(max_examples=200, deadline=None)
def test_pav_is_idempotent(ps):
    once = pav_fit(ps)
    again = pav_fit([(w, v) for (w, _), v in zip(ps, once)])
    assert all(
        math.isclose(a, b, abs_tol=1e-12) for a, b in zip(once, again)
    )


@given(_pav_pairs)
@settings(max_examples=200, deadline=None)
def test_pav_stays_within_input_range(ps):
    out = pav_fit(ps)
    lo = min(m for _, m in ps)
    hi = max(m for _, m in ps)
    assert all(lo - 1e-12 <= v <= hi + 1e-12 for v in out)


@given(st.lists(st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
                min_size=1, max_size=50))
@settings(max_examples=200, deadline=None)
def test_pav_monotone_input_is_fixed_point(ms):
    ms = sorted(ms)
    out = pav_fit([(1.0, m) for m in ms])
    assert all(math.isclose(a, b, abs_tol=1e-12) for a, b in zip(out, ms))


def test_benford_masses_sum_to_one():
    from proyecto_final_de_big_data_spark.operators.benford import BENFORD_P

    assert math.isclose(sum(BENFORD_P.values()), 1.0)
    assert all(BENFORD_P[d] > BENFORD_P[d + 1] for d in range(1, 9))
