"""Bloom-filter join pruning (operators/bloomjoin.py).

The load-bearing property is the Bloom guarantee itself, checked
directly rather than via any oracle restatement: NO false negatives —
every true join match survives the prune — across seeds, key types,
and filter sizes; false positives are bounded and eliminated by the
downstream join. Hand-checked fixtures: the mask table and the
degenerate empty/NULL cases are pinned by construction, independent
of any SQL restatement (VERDICT r7 item 7 discipline)."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.bloomjoin import (
    _MASK_WORDS,
    _next_pow2,
    BloomBits,
    bloom_build,
    bloom_might_contain,
    bloom_prune,
    bloom_pruned_join,
)


def test_mask_table_hand_checked():
    # 64 single-bit masks; bit 63 is the long sign bit.
    assert len(_MASK_WORDS) == 64
    assert _MASK_WORDS[0] == 1
    assert _MASK_WORDS[1] == 2
    assert _MASK_WORDS[62] == 4611686018427387904
    assert _MASK_WORDS[63] == -9223372036854775808
    # Exactly one bit each, all distinct as unsigned patterns.
    assert {m & ((1 << 64) - 1) for m in _MASK_WORDS} == {
        1 << i for i in range(64)
    }


def test_next_pow2():
    assert _next_pow2(1) == 64  # floor at one word
    assert _next_pow2(64) == 64
    assert _next_pow2(65) == 128
    assert _next_pow2(1000) == 1024


@pytest.mark.parametrize("num_bits", [64, 4096, 1 << 14])
def test_no_false_negatives(spark, num_bits):
    keys = spark.range(0, 500).select((F.col("id") * 37 + 11).alias("k"))
    bits = bloom_build(keys, "k", num_bits, num_hashes=5)
    # EVERY inserted key must test positive — the Bloom theorem.
    survivors = bloom_prune(keys, "k", bits).count()
    assert survivors == 500


def test_false_positive_rate_bounded(spark):
    small = spark.range(0, 200).select(F.col("id").alias("k"))
    probe = spark.range(10_000, 30_000).select(F.col("id").alias("k"))
    # m = 16n -> theoretical fp ~0.14% at k=5; assert a loose 5% bound.
    bits = bloom_build(small, "k", _next_pow2(16 * 200), num_hashes=5)
    fp = bloom_prune(probe, "k", bits).count()
    assert fp / 20_000 < 0.05


def test_string_keys(spark):
    small = spark.createDataFrame(
        [(f"user-{i}",) for i in range(100)], ["k"]
    )
    big = spark.createDataFrame(
        [(f"user-{i}",) for i in range(0, 1000, 3)], ["k"]
    )
    bits = bloom_build(small, "k", 4096)
    got = {r["k"] for r in bloom_prune(big, "k", bits).collect()}
    true = {f"user-{i}" for i in range(0, 100, 3)}
    assert true <= got  # no false negatives, fps allowed


def test_null_keys_dropped_both_sides(spark):
    small = spark.createDataFrame([(1,), (None,), (2,)], "k int")
    big = spark.createDataFrame([(1,), (None,), (3,)], "k int")
    bits = bloom_build(small, "k", 64)
    out = bloom_prune(big, "k", bits).collect()
    # NULL never equals a join key: it must not pass the prune.
    assert all(r["k"] is not None for r in out)
    assert {r["k"] for r in out} >= {1}


def test_empty_small_side_prunes_everything(spark):
    small = spark.range(0).select(F.col("id").alias("k"))
    big = spark.range(100).select(F.col("id").alias("k"))
    bits = bloom_build(small, "k", 64)
    assert bits.words == [0]
    assert bits.num_hashes == 5
    assert bloom_prune(big, "k", bits).count() == 0


def test_join_output_invariance(spark):
    small = spark.range(0, 300).select(
        (F.col("id") * 7).alias("sk"), (F.col("id") % 5).alias("grp")
    )
    big = spark.range(0, 5000).select(
        F.col("id").alias("bk"), (F.col("id") % 11).alias("v")
    )
    plain = big.join(small, big["bk"] == small["sk"], "inner")
    pruned = bloom_pruned_join(big, small, "bk", "sk", num_bits=1 << 12)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, pruned.collect())
    )


def test_semi_join_supported(spark):
    small = spark.range(0, 50).select(F.col("id").alias("k"))
    big = spark.range(0, 1000).select(F.col("id").alias("k"))
    out = bloom_pruned_join(big, small, "k", "k", how="left_semi")
    assert out.count() == 50


def test_outer_join_rejected(spark):
    small = spark.range(1).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="inner/left_semi"):
        bloom_pruned_join(small, small, "k", "k", how="left")


def test_param_validation(spark):
    keys = spark.range(4).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="power of two"):
        bloom_build(keys, "k", num_bits=100)
    with pytest.raises(ValueError, match="power of two"):
        bloom_build(keys, "k", num_bits=32)
    with pytest.raises(ValueError, match="num_hashes"):
        bloom_build(keys, "k", num_bits=64, num_hashes=0)


def test_might_contain_null_is_false(spark):
    keys = spark.range(4).select(F.col("id").alias("k"))
    bits = bloom_build(keys, "k", 64)
    row = spark.range(1).select(
        bloom_might_contain(F.lit(None).cast("long"), bits).alias("hit")
    ).first()
    assert row["hit"] is False or row["hit"] is None


def test_build_k_rides_with_the_bitmap(spark):
    # The filter value carries its own num_hashes: probing a k=3-built
    # filter automatically probes 3 positions — a build/probe k
    # mismatch (which would forfeit the no-false-negative guarantee)
    # is unrepresentable in the API.
    keys = spark.range(0, 300).select(F.col("id").alias("k"))
    bits = bloom_build(keys, "k", 4096, num_hashes=3)
    assert bits.num_hashes == 3
    assert bloom_prune(keys, "k", bits).count() == 300


def test_probe_validates_carried_params(spark):
    with pytest.raises(ValueError, match="num_hashes"):
        bloom_might_contain(F.lit(1), BloomBits(words=[0], num_hashes=0))


def test_mixed_int_bigint_keys_no_false_negatives(spark):
    # ADVICE r8 regression: xxhash64 is type-sensitive, so a bigint
    # small side probed by an int big side used to drop EVERY true
    # match. Both must canonicalize to bigint before hashing.
    small = spark.range(0, 50).select(F.col("id").alias("sk"))  # bigint
    big = spark.createDataFrame(
        [(i,) for i in range(200)], "bk int"
    )  # int
    assert dict(small.dtypes)["sk"] == "bigint"
    assert dict(big.dtypes)["bk"] == "int"
    out = bloom_pruned_join(big, small, "bk", "sk", num_bits=1 << 12)
    assert out.count() == 50
    plain = big.join(small, big["bk"] == small["sk"], "inner")
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, out.collect())
    )


def test_mixed_type_prune_coerces_probe_side(spark):
    # bloom_prune on its own must coerce too: int-built filter, bigint
    # probe keys.
    small = spark.createDataFrame([(i,) for i in range(30)], "k int")
    big = spark.range(0, 100).select(F.col("id").alias("k"))  # bigint
    bits = bloom_build(small, "k", 1 << 12)
    assert bits.key_type == "bigint"
    got = {r["k"] for r in bloom_prune(big, "k", bits).collect()}
    assert set(range(30)) <= got  # no false negatives across the coercion


def test_incompatible_key_types_raise(spark):
    small = spark.createDataFrame([("1",), ("2",)], "sk string")
    big = spark.range(10).select(F.col("id").alias("bk"))
    with pytest.raises(ValueError, match="hash-compatible"):
        bloom_pruned_join(big, small, "bk", "sk")


def test_float_double_keys_canonicalize_together(spark):
    small = spark.createDataFrame(
        [(float(i),) for i in range(20)], "sk float"
    )
    big = spark.range(0, 60).select(F.col("id").cast("double").alias("bk"))
    out = bloom_pruned_join(big, small, "bk", "sk", num_bits=1 << 12)
    assert out.count() == 20


# Property checks: the Bloom theorem over ARBITRARY key sets and filter
# geometries. Prune-set monotonicity in num_bits is NOT required
# (different m = different hash layout) but subset-of-build always is.
_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_keys = st.lists(
    st.integers(min_value=-(2**40), max_value=2**40),
    min_size=1,
    max_size=120,
    unique=True,
)


@given(keys=_keys, num_bits_pow=st.integers(min_value=6, max_value=13))
@settings(**_SETTINGS)
def test_bloom_never_drops_an_inserted_key(spark, keys, num_bits_pow):
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    bits = bloom_build(df, "k", 1 << num_bits_pow)
    # The Bloom theorem for arbitrary key sets and any bitmap size —
    # even a saturated 64-bit filter keeps every inserted key.
    assert bloom_prune(df, "k", bits).count() == len(keys)


@given(keys=_keys)
@settings(**_SETTINGS)
def test_bloom_probe_superset_of_small_side(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    probe = spark.createDataFrame(
        [(k,) for k in keys] + [(k + 1, ) for k in keys], "k long"
    ).distinct()
    bits = bloom_build(df, "k", 1 << 12)
    got = {r["k"] for r in bloom_prune(probe, "k", bits).collect()}
    assert set(keys) <= got  # false positives allowed, negatives never
