"""Unit tests per operator on tiny inline DataFrames (SURVEY §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.binning import with_bin
from proyecto_final_de_big_data_spark.operators.canonicalize import (
    MissingRequiredColumns,
    canonicalize,
)
from proyecto_final_de_big_data_spark.operators.clean import clip_to_quantiles, validity_filter
from proyecto_final_de_big_data_spark.operators.dedup import exact_dedup, minhash_dedup_pairs
from proyecto_final_de_big_data_spark.operators.rollup import (
    argmax_per_group,
    with_cumulative_share,
    with_share_of_total,
)
from proyecto_final_de_big_data_spark.operators.similarity import cosine_topk
from proyecto_final_de_big_data_spark.operators.text import lang_guess, token_count


def test_canonicalize_synonyms_defaults_projection(spark):
    raw = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-01 00:10:00", 1.5, 10.0)],
        ["tpep_pickup_datetime", "Tpep_Dropoff_Datetime", "trip_distance", "fare_amount"],
    )
    out = canonicalize(
        raw,
        {
            "pickup_datetime": ["tpep_pickup_datetime"],
            "dropoff_datetime": ["tpep_dropoff_datetime"],
            "trip_distance": ["trip_distance"],
            "fare_amount": ["fare_amount"],
            "vendor_id": ["vendorid"],
        },
        required=["pickup_datetime", "dropoff_datetime"],
        defaults={"vendor_id": "desconocido"},
    )
    assert out.columns == ["pickup_datetime", "dropoff_datetime", "trip_distance", "fare_amount", "vendor_id"]
    assert out.first()["vendor_id"] == "desconocido"


def test_canonicalize_missing_required_raises(spark):
    raw = spark.createDataFrame([(1.0,)], ["trip_distance"])
    with pytest.raises(MissingRequiredColumns):
        canonicalize(raw, {"pickup_datetime": ["tpep_pickup_datetime"]}, ["pickup_datetime"], {})


def test_validity_filter(spark):
    df = spark.createDataFrame(
        [(1.0, "a"), (0.0, "b"), (-1.0, "c"), (2.0, None)], ["x", "s"]
    )
    kept = validity_filter(df, positive=["x"], not_null=["s"]).collect()
    assert [r["s"] for r in kept] == ["a"]


def test_bin_edges_inclusive_upper(spark):
    df = spark.createDataFrame([(v,) for v in [0.5, 1.0, 1.01, 3.0, 5.0, 10.0, 20.0, 20.01]], ["d"])
    out = with_bin(df, "d", [1.0, 3.0, 5.0, 10.0, 20.0], ["0-1", "1-3", "3-5", "5-10", "10-20", "20+"])
    got = {r["d"]: (r["bin"], r["bin_order"]) for r in out.collect()}
    assert got[1.0] == ("0-1", 0)  # boundary belongs to lower bin (<=)
    assert got[1.01] == ("1-3", 1)
    assert got[20.0] == ("10-20", 4)
    assert got[20.01] == ("20+", 5)


def test_clip_property_subset_and_bounds(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], ["x"])
    clipped = clip_to_quantiles(df, ["x"], 0.05, 0.95, exact=True)
    rows = [r["x"] for r in clipped.collect()]
    assert len(rows) <= 100
    import numpy as np

    lo, hi = np.percentile(np.arange(1.0, 101.0), [5, 95])
    assert min(rows) >= lo and max(rows) <= hi


def test_share_of_total_sums_to_one(spark):
    df = spark.createDataFrame([("a", 30), ("b", 50), ("c", 20)], ["k", "n"])
    total = sum(r["share"] for r in with_share_of_total(df, "n").collect())
    assert abs(total - 1.0) < 1e-9


def test_cumulative_share_monotone_ending_at_one(spark):
    df = spark.createDataFrame([(h, 10) for h in range(5)], ["h", "n"])
    rows = with_cumulative_share(df, "h", "n").orderBy("h").collect()
    shares = [r["cum_share"] for r in rows]
    assert shares == sorted(shares)
    assert abs(shares[-1] - 1.0) < 1e-9


def test_argmax_per_group_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("a", 1, 5), ("a", 2, 5), ("b", 3, 1)], ["k", "id", "score"]
    )
    top = argmax_per_group(df, ["k"], [F.desc("score"), F.asc("id")], n=1).collect()
    got = {r["k"]: r["id"] for r in top}
    assert got == {"a": 1, "b": 3}


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], ["doc_id", "text"]
    )
    kept = exact_dedup(df, ["text"], "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def test_minhash_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again in the park"
    near = base.replace("park", "garden")
    far = "completely different words about spark dataframes and shuffle partitions here"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["doc_id", "text"])
    pairs = minhash_dedup_pairs(df, "doc_id", "text", num_hashes=32, bands=16, threshold=0.3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_cosine_topk_orders_by_similarity(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1]),
        Row(vec_id=2, embedding=[0.0, 1.0]),
        Row(vec_id=3, embedding=[1.0, 0.05]),
    ]
    df = spark.createDataFrame(rows)
    top = cosine_topk(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    assert [r["neighbor_id"] for r in sorted(top, key=lambda r: r["rank"])] == [3, 1]


def test_token_count_edges(spark):
    df = spark.createDataFrame([("",), ("one",), ("a b c",)], ["text"])
    got = [r["n"] for r in df.select(token_count("text").alias("n")).collect()]
    assert got == [0, 1, 3]


def test_lang_guess_markers(spark):
    df = spark.createDataFrame(
        [("the cat and the hat",), ("el perro de la casa",), ("xyz",)], ["text"]
    )
    got = [r["g"] for r in df.select(lang_guess("text").alias("g")).collect()]
    assert got == ["en", "es", "und"]


def test_global_window_guard_warns_on_raw_input(spark):
    import logging

    from proyecto_final_de_big_data_spark.operators.rollup import with_share_of_total

    # The factory handler binds the stdout active at logger creation, so
    # capsys can't see it from inside the suite; capture records directly.
    records: list[str] = []
    handler = logging.Handler()
    handler.emit = lambda r: records.append(r.getMessage())
    logging.getLogger("rollup").addHandler(handler)
    try:
        raw = spark.createDataFrame([(1, 10.0), (2, 30.0)], ["k", "v"])
        with_share_of_total(raw, "v")
        assert any("unpartitioned window" in m for m in records)

        records.clear()
        agged = raw.groupBy("k").agg(F.sum("v").alias("v"))
        with_share_of_total(agged, "v")
        assert not records
    finally:
        logging.getLogger("rollup").removeHandler(handler)


def test_exact_dedup_multicolumn_null_vs_empty(spark):
    # NULL and empty string must digest differently, and (NULL, 'x')
    # must not collide with ('x', NULL) — concat_ws alone conflates both.
    df = spark.createDataFrame(
        [
            (1, None, "x"),
            (2, "x", None),
            (3, "", "x"),
            (4, None, "x"),  # true dup of 1
        ],
        ["doc_id", "a", "b"],
    )
    kept = exact_dedup(df, ["a", "b"], "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 3]


def test_jaccard_index_doc_freq_cap_drops_boilerplate_only_pairs(spark):
    from proyecto_final_de_big_data_spark.operators.dedup import jaccard_pairs_index

    boiler = "standard legal disclaimer footer text here"
    real = "the quick brown fox jumps over the lazy dog tonight"
    docs = [
        (1, f"{real} {boiler}"),
        (2, f"{real.replace('tonight', 'today')} {boiler}"),
        # 3..8 share ONLY the boilerplate with each other / with 1-2
        *[(i, f"unrelated body number {i} with its own words entirely {boiler}") for i in range(3, 9)],
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    exact = jaccard_pairs_index(df, "doc_id", "text", shingle_n=3, threshold=0.3)
    capped = jaccard_pairs_index(
        df, "doc_id", "text", shingle_n=3, threshold=0.3, max_doc_freq=4
    )
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    capped_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # The genuine near-dup must survive the cap...
    assert (1, 2) in exact_pairs and (1, 2) in capped_pairs
    # ...and capping can only REMOVE pairs (jaccard is a lower bound).
    assert capped_pairs <= exact_pairs


def test_jaccard_index_cap_none_is_exact_default(spark):
    from proyecto_final_de_big_data_spark.operators.dedup import jaccard_pairs_index

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u")],
        ["doc_id", "text"],
    )
    a = {(r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in jaccard_pairs_index(df, "doc_id", "text").collect()}
    b = {(r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in jaccard_pairs_index(df, "doc_id", "text", max_doc_freq=None).collect()}
    assert a == b


def test_hash_split_deterministic_and_group_safe(spark):
    from proyecto_final_de_big_data_spark.operators.split import hash_split

    df = spark.createDataFrame(
        [(i % 20, i) for i in range(200)], ["group_key", "row_id"]
    )
    fr = {"train": 0.8, "valid": 0.1, "test": 0.1}
    a = hash_split(df, "group_key", fr)
    b = hash_split(df.repartition(7), "group_key", fr)  # partitioning-invariant
    rows_a = {r["row_id"]: r["split"] for r in a.collect()}
    rows_b = {r["row_id"]: r["split"] for r in b.collect()}
    assert rows_a == rows_b
    # group-leakage guard: every row of a group gets the group's split
    per_group = a.groupBy("group_key").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert all(r["n_splits"] == 1 for r in per_group.collect())
    assert set(rows_a.values()) <= {"train", "valid", "test"}


def test_hash_split_fractions_validated(spark):
    import pytest as _pytest

    from proyecto_final_de_big_data_spark.operators.split import hash_split

    df = spark.createDataFrame([(1,)], ["k"])
    with _pytest.raises(ValueError):
        hash_split(df, "k", {"a": 0.5, "b": 0.2})


def test_hash_split_proportions_roughly_match(spark):
    from proyecto_final_de_big_data_spark.operators.split import hash_split

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    got = {
        r["split"]: r["n"]
        for r in hash_split(df, "k", {"train": 0.8, "test": 0.2})
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert abs(got["train"] / 5000 - 0.8) < 0.03
    assert abs(got["test"] / 5000 - 0.2) < 0.03


def test_stratified_hash_sample_deterministic_and_quota(spark):
    from proyecto_final_de_big_data_spark.operators.split import stratified_hash_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)], ["id", "lang"]
    )
    frac = {"en": 0.25, "de": 1.0}
    a = stratified_hash_sample(df, "id", frac, "lang")
    b = stratified_hash_sample(df.repartition(13), "id", frac, "lang")  # partition-invariant
    rows_a = {(r["id"], r["lang"]) for r in a.collect()}
    rows_b = {(r["id"], r["lang"]) for r in b.collect()}
    assert rows_a == rows_b
    by_lang = {r["lang"]: r["n"] for r in a.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by_lang["de"] == 1000          # fraction 1.0 keeps everything
    assert abs(by_lang["en"] / 1000 - 0.25) < 0.05  # md5 bands ~ uniform


def test_stratified_hash_sample_default_drops_unlisted(spark):
    from proyecto_final_de_big_data_spark.operators.split import stratified_hash_sample

    df = spark.createDataFrame(
        [(1, "en"), (2, "xx"), (3, "xx"), (4, "en")], ["id", "lang"]
    )
    kept = stratified_hash_sample(df, "id", {"en": 1.0}, "lang")
    assert sorted(r["lang"] for r in kept.collect()) == ["en", "en"]
    # fail-open variant: unlisted strata kept in full when asked
    all_kept = stratified_hash_sample(df, "id", {"en": 1.0}, "lang", default_fraction=1.0)
    assert all_kept.count() == 4


def test_stratified_sample_sql_predicate_matches_engine(spark, tmp_path):
    # The SQL twin must reproduce the exact keep set in DuckDB.
    import duckdb

    from proyecto_final_de_big_data_spark.operators.split import (
        stratified_hash_sample,
        stratified_sample_predicate_sql,
    )

    df = spark.createDataFrame(
        [(i, ["en", "de", "xx"][i % 3]) for i in range(300)], ["id", "lang"]
    )
    frac = {"en": 0.3, "de": 0.7}
    engine = sorted(r["id"] for r in stratified_hash_sample(df, "id", frac, "lang").collect())
    pdf = df.toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    pred = stratified_sample_predicate_sql("id", frac, "lang")
    oracle = sorted(
        r[0] for r in con.execute(f"SELECT id FROM t WHERE {pred}").fetchall()
    )
    assert engine == oracle
