"""Unit tests for incremental dedup and temperature mixing."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.dedup import (
    content_digest,
    exact_dedup,
    incremental_dedup,
)
from proyecto_final_de_big_data_spark.operators.mixing import (
    hash_band,
    temperature_mix,
    temperature_rates,
)


def test_incremental_dedup_drops_historical_then_within(spark):
    hist = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "text"])
    batch = spark.createDataFrame(
        [(10, "a"), (11, "c"), (12, "c"), (13, "d")], ["id", "text"]
    )
    kept = incremental_dedup(batch, hist, ["text"], "id")
    got = sorted((r["id"], r["text"]) for r in kept.collect())
    # "a" is historical (dropped); "c" dups within batch (min id 11 kept).
    assert got == [(11, "c"), (13, "d")]


def test_incremental_dedup_empty_historical(spark):
    hist = spark.createDataFrame([], "id INT, text STRING")
    batch = spark.createDataFrame([(1, "x"), (2, "x")], ["id", "text"])
    assert [r["id"] for r in incremental_dedup(batch, hist, ["text"], "id").collect()] == [1]


def test_content_digest_null_vs_empty(spark):
    df = spark.createDataFrame([(1, None), (2, "")], "id INT, text STRING")
    out = df.select(content_digest(["text"]).alias("d")).collect()
    assert out[0]["d"] != out[1]["d"]


def test_hash_band_range_and_determinism(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], ["k"])
    bands = [r["b"] for r in df.select(hash_band("k").alias("b")).collect()]
    assert all(0 <= b < 1_000_000 for b in bands)
    # ~uniform: both halves populated.
    assert min(bands) < 100_000 and max(bands) > 900_000


def test_temperature_rates_rarest_keeps_all(spark):
    rows = [(i, "big") for i in range(90)] + [(100 + i, "small") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    rates = {r["lang"]: r["scaled_rate"] for r in temperature_rates(df, "lang", 0.5).collect()}
    assert rates["small"] == 1_000_000  # (10/10)^-0.5 == 1
    assert rates["big"] == round(1_000_000 * (90 / 10) ** -0.5)


def test_temperature_mix_alpha_one_is_identity(spark):
    rows = [(i, "a") for i in range(50)] + [(100 + i, "b") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    # alpha=1 -> rate 1.0 everywhere -> every row survives.
    assert temperature_mix(df, "lang", "doc_id", alpha=1.0).count() == 55


def test_temperature_mix_downsamples_common_stratum(spark):
    rows = [(i, "common") for i in range(400)] + [(1000 + i, "rare") for i in range(25)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    kept = temperature_mix(df, "lang", "doc_id", alpha=0.5)
    got = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["rare"] == 25  # rarest stratum keeps 100%
    # common keeps ~ (400/25)^-0.5 = 25% — allow generous hash-noise band.
    assert 60 <= got["common"] <= 140


def test_hash_band_large_and_negative_keys(spark):
    """Regression: key * KNUTH overflowed int64 for keys >= ~3.47e9
    (ANSI crash / silent negative band). The folded two-limb mix must
    stay in [0, 1e6) for any int64 key and agree with the SQL twin."""
    import duckdb

    from proyecto_final_de_big_data_spark.operators.mixing import hash_band_sql

    keys = [0, 1, 3, -3, 999_999, 5_000_000_000, 2**62, -(2**62), 123_456_789_012_345]
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = {r["k"]: r["b"] for r in df.select("k", hash_band("k").alias("b")).collect()}
    for k in keys:
        assert 0 <= got[k] < 1_000_000, (k, got[k])
        oracle = duckdb.sql(f"SELECT {hash_band_sql(str(k))} AS b").fetchone()[0]
        assert got[k] == oracle, (k, got[k], oracle)


def test_temperature_mix_survives_snowflake_ids(spark):
    rows = [(5_000_000_000 + i, "a") for i in range(40)] + [(2**61 + i, "b") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = temperature_mix(df, "lang", "doc_id", alpha=0.5)
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got.get("b") == 10  # rarest stratum keeps 100%
    assert 0 < got.get("a", 0) < 40  # common stratum genuinely downsampled


def test_stratified_sample_null_stratum_follows_default(spark):
    from proyecto_final_de_big_data_spark.operators.split import stratified_hash_sample

    df = spark.createDataFrame(
        [(1, "en"), (2, None), (3, None)], "doc_id INT, lang STRING"
    )
    keep_all = stratified_hash_sample(df, "doc_id", {"en": 1.0}, "lang", default_fraction=1.0)
    assert sorted(r["doc_id"] for r in keep_all.collect()) == [1, 2, 3]
    drop_default = stratified_hash_sample(df, "doc_id", {"en": 1.0}, "lang", default_fraction=0.0)
    assert sorted(r["doc_id"] for r in drop_default.collect()) == [1]


def test_stratified_predicate_sql_short_circuits_extremes(spark):
    from proyecto_final_de_big_data_spark.operators.split import (
        stratified_sample_predicate_sql,
    )

    sql = stratified_sample_predicate_sql("doc_id", {"a": 1.0, "b": 0.0}, "lang", 1.0)
    # frac >= 1.0 must not depend on a hex band ('ffffffff' drops ~2^-32
    # of a keep-everything stratum); frac <= 0 must be a plain FALSE.
    assert "'ffffffff'" not in sql
    assert "TRUE" in sql and "FALSE" in sql
    assert "IS NULL" in sql  # NULL strata follow the default branch


# ---------------------------------------------------------------------------
# Review fixes: string/NULL keys, NULL strata, digest reuse
# ---------------------------------------------------------------------------


def test_temperature_mix_string_keys_not_silently_dropped(spark):
    # A string/uuid id column must NOT produce an empty mix: the old
    # cast('long') path banded every row to NULL and the filter ate the
    # whole corpus silently.
    rows = [(f"doc-{i}", "en") for i in range(200)] + [
        (f"doc-x{i}", "de") for i in range(20)
    ]
    df = spark.createDataFrame(rows, "url_id string, lang string")
    out = temperature_mix(df, "lang", "url_id", alpha=1.0)
    # alpha=1 is identity: every row must survive
    assert out.count() == 220


def test_temperature_mix_null_stratum_gets_own_rate(spark):
    # NULL strata are a stratum: counted AND kept via the null-safe
    # join (previously counted but silently dropped by the equi-join).
    rows = [(i, "en") for i in range(100)] + [(1000 + i, None) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mix(df, "lang", "doc_id", alpha=1.0)
    assert out.count() == 103  # identity at alpha=1, NULL rows included
    assert out.filter(F.col("lang").isNull()).count() == 3


def test_hash_band_null_key_bands_to_zero(spark):
    df = spark.createDataFrame([(None,), (7,)], "k bigint")
    bands = [r["b"] for r in df.select(hash_band("k").alias("b")).collect()]
    assert bands[0] is not None  # NULL key no longer propagates
    from proyecto_final_de_big_data_spark.operators.mixing import hash_band_sql

    import duckdb

    oracle = duckdb.sql(f"SELECT {hash_band_sql('NULL')} AS b").fetchone()[0]
    assert bands[0] == oracle


def test_md5_fold_matches_duckdb(spark):
    from proyecto_final_de_big_data_spark.operators.mixing import (
        key_band,
        key_band_sql,
    )

    import duckdb

    keys = ["abc", "doc-17", "", "ünïcode", None]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = [
        r["b"] for r in df.select(key_band(df, "k").alias("b")).collect()
    ]
    for k, g in zip(keys, got):
        lit = "NULL" if k is None else "'" + k.replace("'", "''") + "'"
        exp = duckdb.sql(
            f"SELECT {key_band_sql(lit, integral=False)} AS b"
        ).fetchone()[0]
        assert g == exp, (k, g, exp)


def test_incremental_dedup_reuses_digest_schema_unchanged(spark):
    hist = spark.createDataFrame([(1, "a")], "id long, text string")
    batch = spark.createDataFrame(
        [(10, "a"), (11, "b"), (12, "b")], "id long, text string"
    )
    out = incremental_dedup(batch, hist, ["text"], "id")
    assert out.columns == ["id", "text"]  # no __digest leakage
    assert sorted(r["id"] for r in out.collect()) == [11]


def test_cap_per_group_exercises_both_branches(spark):
    from proyecto_final_de_big_data_spark.operators.mixing import cap_per_group

    rows = [("big", i, 100 - i) for i in range(10)] + [("small", 100 + i, i) for i in range(3)]
    df = spark.createDataFrame(rows, "src string, doc_id long, score long")
    kept = cap_per_group(df, "src", "doc_id", 5, "score").collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r["src"], []).append(r["doc_id"])
    # over-cap group keeps its 5 best scores (ids 0..4 have scores 100..96)
    assert sorted(by_src["big"]) == [0, 1, 2, 3, 4]
    # under-cap group passes through untouched
    assert sorted(by_src["small"]) == [100, 101, 102]


def test_cap_per_group_tie_breaks_by_id_and_no_score(spark):
    from proyecto_final_de_big_data_spark.operators.mixing import cap_per_group

    df = spark.createDataFrame(
        [("a", 5, 1), ("a", 3, 1), ("a", 9, 1), ("a", 1, 1)],
        "src string, doc_id long, score long",
    )
    # all scores tied -> lowest ids win
    assert sorted(
        r["doc_id"] for r in cap_per_group(df, "src", "doc_id", 2, "score").collect()
    ) == [1, 3]
    # no score at all -> pure ascending-id cap
    assert sorted(
        r["doc_id"] for r in cap_per_group(df, "src", "doc_id", 3).collect()
    ) == [1, 3, 5]


def test_cap_per_group_null_group_is_a_group(spark):
    from proyecto_final_de_big_data_spark.operators.mixing import cap_per_group

    df = spark.createDataFrame(
        [(None, 1, 9), (None, 2, 8), (None, 3, 7), ("x", 4, 1)],
        "src string, doc_id long, score long",
    )
    kept = cap_per_group(df, "src", "doc_id", 2, "score").collect()
    assert sorted(r["doc_id"] for r in kept if r["src"] is None) == [1, 2]
    assert sorted(r["doc_id"] for r in kept if r["src"] == "x") == [4]


def test_cap_per_group_multi_column_group(spark):
    from proyecto_final_de_big_data_spark.operators.mixing import cap_per_group

    df = spark.createDataFrame(
        [("a", "en", 1, 5), ("a", "en", 2, 6), ("a", "de", 3, 1), ("b", "en", 4, 1)],
        "src string, lang string, doc_id long, score long",
    )
    kept = sorted(
        r["doc_id"]
        for r in cap_per_group(df, ["src", "lang"], "doc_id", 1, "score").collect()
    )
    assert kept == [2, 3, 4]


# ------------------------------------------------------- epoch upsample


def _band_py(key: int) -> int:
    span, res = 1_000_000_000_000, 1_000_000
    k = key % span
    return (k % res * 2654435761 + k // res * 1999999973) % res


def test_epoch_upsample_alpha_preserves_every_doc(spark):
    from proyecto_final_de_big_data_spark.operators.mixing import epoch_upsample

    # 'big' 40 docs (1 epoch exactly), 'rare' 10 docs (w = 4^0.5 = 2.0)
    rows = [(i, "big") for i in range(40)] + [(100 + i, "rare") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = epoch_upsample(df, "lang", "doc_id", alpha=0.5).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    assert set(by_doc) == {i for i in range(40)} | {100 + i for i in range(10)}
    for i in range(40):
        assert by_doc[i] == [1]  # largest stratum: exactly one epoch
    for i in range(10):
        assert sorted(by_doc[100 + i]) == [1, 2]  # w=2.0 exact: two epochs


def test_epoch_upsample_fractional_weight_matches_band(spark):
    from proyecto_final_de_big_data_spark.operators.mixing import epoch_upsample

    df = spark.createDataFrame([(i, "s") for i in range(200)], "doc_id long, lang string")
    out = epoch_upsample(df, "lang", "doc_id", alpha=None, weights={"s": 2.25}).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    for i in range(200):
        want = 2 + (1 if _band_py(i) < 250_000 else 0)
        assert sorted(by_doc[i]) == list(range(1, want + 1)), i
    n3 = sum(1 for v in by_doc.values() if len(v) == 3)
    assert 0 < n3 < 200  # the fractional band actually splits the stratum


def test_epoch_upsample_subunit_weight_downsamples(spark):
    from proyecto_final_de_big_data_spark.operators.mixing import epoch_upsample

    df = spark.createDataFrame(
        [(i, "keep" if i % 2 else "thin") for i in range(200)],
        "doc_id long, lang string",
    )
    out = epoch_upsample(df, "lang", "doc_id", alpha=None, weights={"thin": 0.3}).collect()
    kept_thin = {r["doc_id"] for r in out if r["lang"] == "thin"}
    assert kept_thin == {
        i for i in range(0, 200, 2) if _band_py(i) < 300_000
    }  # w<1: 0 full copies + deterministic fractional keep
    assert all(r["epoch"] == 1 for r in out)
    # absent stratum defaults to weight 1.0 — untouched
    assert sum(1 for r in out if r["lang"] == "keep") == 100


def test_epoch_upsample_argument_validation(spark):
    import pytest as _pytest

    from proyecto_final_de_big_data_spark.operators.mixing import epoch_upsample

    df = spark.createDataFrame([(1, "a")], "doc_id long, lang string")
    with _pytest.raises(ValueError, match="at most one"):
        epoch_upsample(df, "lang", "doc_id", alpha=0.5, weights={"a": 2.0})
    with _pytest.raises(ValueError, match=">= 0"):
        epoch_upsample(df, "lang", "doc_id", weights={"a": -1.0})
    # no argument at all defaults to alpha=0.5; weights alone is the
    # natural call and must not be rejected
    assert epoch_upsample(df, "lang", "doc_id").count() == 1
    assert epoch_upsample(df, "lang", "doc_id", weights={"a": 2.0}).count() == 2


def test_cap_megagroup_preprune_is_exact(spark):
    # SCALE.md refinement (VERDICT r7 item 4): forcing the pre-prune
    # (prune_min_rows=1) must give EXACTLY the default path's kept set
    # on a skewed fixture — megagroup + long-tail + under-cap groups,
    # score ties straddling the cut, NULL scores, a NULL group key.
    from proyecto_final_de_big_data_spark.operators.mixing import cap_per_group

    rows = []
    for i in range(400):  # megagroup: many ties so the cut is degenerate
        rows.append(("mega", i, float(i % 7)))
    for i in range(20):  # over-cap, below any sane prune_min_rows
        rows.append(("tail", 1000 + i, float(i)))
    rows += [("tiny", 2000, 9.0), ("tiny", 2001, None), (None, 3000, 1.0)]
    rows.append(("mega", 5000, None))  # NULL score inside the megagroup
    df = spark.createDataFrame(rows, "src string, doc_id long, score double")

    def kept(**kw):
        return sorted(
            ((r["src"] or "", r["doc_id"])
             for r in cap_per_group(
                 df, "src", "doc_id", 5, "score", **kw
             ).collect())
        )

    baseline = kept(prune_min_rows=10**9)  # prune disabled
    assert kept(prune_min_rows=1) == baseline
    assert kept(prune_min_rows=1, prune_accuracy=100) == baseline
    assert kept(prune_min_rows=21) == baseline  # only mega pruned


def test_cap_megagroup_preprune_all_null_scores_no_prune(spark):
    from proyecto_final_de_big_data_spark.operators.mixing import cap_per_group

    df = spark.createDataFrame(
        [("a", i, None) for i in range(30)], "src string, doc_id long, score double"
    )
    got = sorted(
        r["doc_id"]
        for r in cap_per_group(
            df, "src", "doc_id", 3, "score", prune_min_rows=1
        ).collect()
    )
    assert got == [0, 1, 2]  # NULL threshold -> no prune; id tie-break


def test_cap_megagroup_preprune_shapes_the_plan(spark):
    # The window's input must carry the percentile_approx threshold
    # filter when the prune is active — and must NOT when it is off.
    from proyecto_final_de_big_data_spark.operators.mixing import cap_per_group

    df = spark.range(0, 1000).selectExpr(
        "'g' AS src", "id AS doc_id", "CAST(id % 97 AS DOUBLE) AS score"
    )
    pruned = cap_per_group(df, "src", "doc_id", 5, "score", prune_min_rows=10)
    plan = pruned._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile_approx" in plan
    assert "__thr" in plan
    # The prune subtree is data-dependent (group sizes are unknown at
    # plan time), so it is present whenever a score is given and AQE's
    # empty-relation propagation elides it at runtime for non-mega
    # data. Id-ordered capping carries no prune machinery at all.
    off = cap_per_group(df, "src", "doc_id", 5)
    plan_off = off._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile_approx" not in plan_off


_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_word = st.text(alphabet="abcdefg", min_size=1, max_size=4)


@given(
    hist=st.lists(_word, min_size=0, max_size=10),
    batch=st.lists(_word, min_size=1, max_size=12),
)
@settings(**_SETTINGS)
def test_incremental_dedup_set_identity(spark, hist, batch):
    """kept texts == batch texts minus historical texts, one row each —
    and equals exact_dedup(batch) with historical contents filtered out."""
    hdf = spark.createDataFrame([(i, t) for i, t in enumerate(hist)], "id INT, text STRING")
    bdf = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(batch)], "id INT, text STRING"
    )
    kept = incremental_dedup(bdf, hdf, ["text"], "id").collect()
    assert sorted(r["text"] for r in kept) == sorted(set(batch) - set(hist))
    baseline = {
        r["text"]: r["id"]
        for r in exact_dedup(bdf, ["text"], "id").collect()
        if r["text"] not in set(hist)
    }
    assert {r["text"]: r["id"] for r in kept} == baseline


@given(
    weights=st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.floats(min_value=0.0, max_value=4.0, allow_nan=False),
        min_size=1,
        max_size=3,
    ),
    n=st.integers(min_value=1, max_value=40),
)
@settings(**_SETTINGS)
def test_epoch_upsample_copy_count_invariants(spark, weights, n):
    """Every surviving row has floor(w) or ceil(w) copies numbered 1..k,
    and rows of weight-1.0 (or absent) strata are exactly preserved."""
    from proyecto_final_de_big_data_spark.operators.mixing import epoch_upsample

    strata = ["a", "b", "c", "d"]  # 'd' is never in weights -> 1.0
    df = spark.createDataFrame(
        [(i, strata[i % 4]) for i in range(n)], "doc_id long, lang string"
    )
    out = epoch_upsample(df, "lang", "doc_id", alpha=None, weights=weights).collect()
    by_doc: dict[int, list[int]] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    import math

    for i in range(n):
        w = weights.get(strata[i % 4], 1.0)
        k = len(by_doc.get(i, []))
        lo, hi = math.floor(round(w * 1e6) / 1e6), math.ceil(round(w * 1e6) / 1e6)
        assert lo <= k <= hi, (i, w, k)
        if k:
            assert sorted(by_doc[i]) == list(range(1, k + 1))
        if strata[i % 4] == "d":
            assert k == 1  # absent stratum: untouched
