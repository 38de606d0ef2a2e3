"""Winnowing fingerprint tests: a pure-Python (hashlib) twin plus the
paper's structural guarantees (Schleimer et al. 2003), independent of
the DuckDB oracle restatement."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.winnow import (
    shared_fingerprint_pairs,
    winnowing_fingerprints,
)
from proyecto_final_de_big_data_spark.utils.settings import overridden

K, W = 5, 4


def _norm(t: str) -> str:
    return re.sub(r"[^a-z0-9]", "", t.lower())


def _h(g: str) -> int:
    return int(hashlib.md5(g.encode()).hexdigest()[:15], 16)


def _py_fps(text: str, k: int = K, w: int = W) -> set[int]:
    t = _norm(text)
    if len(t) < k:
        return set()
    hashes = [_h(t[i : i + k]) for i in range(len(t) - k + 1)]
    if len(hashes) < w:
        return {min(hashes)}
    return {min(hashes[i : i + w]) for i in range(len(hashes) - w + 1)}


DOCS = [
    ("d1", "A do run run run, a do run run!"),
    ("d2", "the quick brown fox jumps over the lazy dog"),
    ("d3", "pack my box with five dozen liquor jugs, said the fox"),
    ("d4", "tiny"),
    ("d5", ""),
]


@pytest.fixture(scope="module")
def fps_df(spark):
    df = spark.createDataFrame(DOCS, "doc_id string, text string")
    return winnowing_fingerprints(df, "doc_id", "text", k=K, w=W)


def test_matches_pure_python_twin(fps_df):
    got = {}
    for r in fps_df.collect():
        got.setdefault(r["id"], set()).add(r["fingerprint"])
    for doc_id, text in DOCS:
        want = _py_fps(text)
        assert got.get(doc_id, set()) == want, doc_id


def test_short_doc_single_fingerprint_and_empty_doc_dropped(fps_df):
    rows = [r for r in fps_df.collect() if r["id"] == "d4"]
    # 'tiny' has 4 chars < k=5 -> no k-grams at all -> dropped
    assert rows == []
    assert not [r for r in fps_df.collect() if r["id"] == "d5"]


def test_short_but_fingerprintable_doc_gets_global_min(spark):
    # normalized length 6 -> 2 k-grams < w -> exactly one fp: the min.
    df = spark.createDataFrame([("s", "abcdef")], "doc_id string, text string")
    rows = winnowing_fingerprints(df, "doc_id", "text", k=K, w=W).collect()
    assert len(rows) == 1
    assert rows[0]["fingerprint"] == min(_h("abcde"), _h("bcdef"))


def test_every_window_contains_a_selected_fingerprint(fps_df):
    # The winnowing guarantee's mechanical form: every w-window of the
    # k-gram hash sequence contains at least one selected fingerprint.
    got = {}
    for r in fps_df.collect():
        got.setdefault(r["id"], set()).add(r["fingerprint"])
    for doc_id, text in DOCS:
        t = _norm(text)
        if len(t) < K:
            continue
        hashes = [_h(t[i : i + K]) for i in range(len(t) - K + 1)]
        sel = got[doc_id]
        if len(hashes) < W:
            assert min(hashes) in sel
            continue
        for i in range(len(hashes) - W + 1):
            assert sel & set(hashes[i : i + W]), (doc_id, i)


def test_shared_substring_guarantees_shared_fingerprint(spark):
    # Two documents sharing a normalized substring of length
    # >= w + k - 1 = 8 MUST share a fingerprint (paper theorem); the
    # pair join must surface exactly the overlapping pair.
    shared = "commonpassageofsufficientlength"
    docs = [
        ("a", "left padding here " + shared + " and a tail"),
        ("b", "totally different preamble " + shared),
        ("c", "no overlap with anything else at all zzz"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    fps = winnowing_fingerprints(df, "doc_id", "text", k=K, w=W)
    pairs = shared_fingerprint_pairs(fps).collect()
    keys = {(r["id_a"], r["id_b"]) for r in pairs}
    assert ("a", "b") in keys
    assert all("c" not in pair for pair in keys)


def test_fingerprints_are_subset_of_kgram_hashes(fps_df):
    for r in fps_df.collect():
        doc = dict(DOCS)[r["id"]]
        t = _norm(doc)
        all_hashes = {_h(t[i : i + K]) for i in range(len(t) - K + 1)}
        assert r["fingerprint"] in all_hashes


def test_invalid_params_rejected(spark):
    df = spark.createDataFrame([("d", "x")], "doc_id string, text string")
    with pytest.raises(ValueError, match="k >= 1"):
        winnowing_fingerprints(df, "doc_id", "text", k=0)
    with pytest.raises(ValueError, match="w >= 1"):
        winnowing_fingerprints(df, "doc_id", "text", w=0)


def test_spread_for_fanout_default_never_shrinks_wide_input(spark):
    """r11 verdict item 7: the fan-out rule must be WIDENING-ONLY.
    An input already wider than the session's default parallelism keeps
    (at least) its width; a too-narrow input still spreads up to the
    core count."""
    from proyecto_final_de_big_data_spark.operators.winnow import spread_for_fanout

    cores = spark.sparkContext.defaultParallelism
    wide_n = max(64, cores * 2)
    wide = spark.range(10_000).withColumnRenamed("id", "k").repartition(wide_n)
    assert (
        spread_for_fanout(wide, "k").rdd.getNumPartitions() >= wide_n
    ), "default shrank a wide input"
    narrow = spark.range(100).withColumnRenamed("id", "k").coalesce(1)
    assert spread_for_fanout(narrow, "k").rdd.getNumPartitions() == cores


def _multi_file_scan(spark, path, n_files):
    """A scan of ``n_files`` parquet files that plans one split per file."""
    spark.range(0, 4000, 1, n_files).withColumn("k", F.col("id") % 50).write.parquet(path)
    return spark.read.parquet(path)


def test_spread_for_fanout_sizing_launches_no_job(spark, sf_dir, jobs_launched):
    """The width is read from the physical plan: sizing an input with
    exchanges runs none of its query stages (``df.rdd`` would)."""
    from proyecto_final_de_big_data_spark.operators.winnow import spread_for_fanout

    scan = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    shapes = {
        "repartition(64)": spark.range(1000).repartition(64),
        "scan aggregate": scan.groupBy("l_orderkey").count(),
        "join": scan.join(scan.select("l_orderkey", F.col("l_partkey").alias("p2")), "l_orderkey"),
        "repartition(64).groupBy": spark.range(1000)
        .repartition(64)
        .groupBy((F.col("id") % 3).alias("m"))
        .count(),
    }
    for name, df in shapes.items():
        key = df.columns[0]
        _, jobs = jobs_launched(lambda df=df, key=key: spread_for_fanout(df, key))
        assert jobs == 0, f"{name}: sizing launched {jobs} job(s)"
    wide, _ = jobs_launched(lambda: spread_for_fanout(shapes["repartition(64)"], "id"))
    assert wide.rdd.getNumPartitions() >= 64


def test_spread_for_fanout_broadcast_semi_join_keeps_split_count(spark, tmp_path):
    from proyecto_final_de_big_data_spark.operators.winnow import spread_for_fanout

    cores = spark.sparkContext.defaultParallelism
    with overridden(spark, {"spark.sql.files.openCostInBytes": str(128 << 20)}):
        scan = _multi_file_scan(spark, str(tmp_path / "t"), 2 * cores + 2)
        splits = scan.rdd.getNumPartitions()
        assert splits > cores
        small = spark.range(10).withColumnRenamed("id", "k")
        semi = scan.join(F.broadcast(small), "k", "left_semi")
        assert spread_for_fanout(semi, "k").rdd.getNumPartitions() >= splits


def test_spread_for_fanout_keyless_one_split_scan_spreads_to_cores(spark, tmp_path):
    from proyecto_final_de_big_data_spark.operators.winnow import spread_for_fanout

    spark.range(100).coalesce(1).write.parquet(str(tmp_path / "one"))
    one = spark.read.parquet(str(tmp_path / "one"))
    assert one.rdd.getNumPartitions() == 1
    cores = spark.sparkContext.defaultParallelism
    assert spread_for_fanout(one).rdd.getNumPartitions() == cores
    # An aggregate's shuffle is sized by AQE from its input at run time:
    # its width is the scan's, not spark.sql.shuffle.partitions.
    with overridden(spark, {"spark.sql.shuffle.partitions": "200"}):
        agg = one.groupBy((F.col("id") % 7).alias("m")).count()
        assert spread_for_fanout(agg).rdd.getNumPartitions() == cores


def test_spread_for_fanout_keyless_wide_scan_is_returned_as_is(spark, tmp_path):
    from proyecto_final_de_big_data_spark.operators.winnow import spread_for_fanout

    cores = spark.sparkContext.defaultParallelism
    with overridden(spark, {"spark.sql.files.openCostInBytes": str(128 << 20)}):
        scan = _multi_file_scan(spark, str(tmp_path / "t"), 2 * cores)
        assert scan.rdd.getNumPartitions() >= cores
        assert spread_for_fanout(scan) is scan
