"""Tests for the scale-path operators: mart runner/fusion, skew salting,
SimHash, embedding near-dup, stateful streaming."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.catalog import load_table
from proyecto_final_de_big_data_spark.operators.simhash import simhash_near_dup_pairs, simhash_signatures
from proyecto_final_de_big_data_spark.operators.similarity_ann import embedding_near_dup_pairs
from proyecto_final_de_big_data_spark.operators.skew import salted_aggregate, salted_broadcast_left
from proyecto_final_de_big_data_spark.pipelines.marts import fuse_marts, run_marts


def test_run_marts_shared_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    marts = {
        "by_flag": lambda df: df.groupBy("l_returnflag").count(),
        "by_status": lambda df: df.groupBy("l_linestatus").count(),
    }
    out = run_marts(li, marts)
    assert set(out) == {"by_flag", "by_status"}
    assert out["by_flag"].count() == 3
    assert out["by_status"].count() == 2


def test_fuse_marts_one_pass_matches_direct(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    fused = fuse_marts(
        li,
        ["l_returnflag"],
        {
            "counts": {"n": F.count(F.lit(1))},
            "sums": {"sum_qty": F.sum("l_quantity"), "avg_price": F.avg("l_extendedprice")},
        },
    )
    direct = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty"))
        .collect()
    }
    for r in fused["counts"].collect():
        assert r["n"] == direct[r["l_returnflag"]]["n"]
    for r in fused["sums"].collect():
        assert abs(r["sum_qty"] - direct[r["l_returnflag"]]["sum_qty"]) < 1e-6
    assert set(fused["counts"].columns) == {"l_returnflag", "n"}
    assert set(fused["sums"].columns) == {"l_returnflag", "sum_qty", "avg_price"}


def test_salted_aggregate_matches_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    salted = {
        r["l_returnflag"]: r
        for r in salted_aggregate(
            li, ["l_returnflag"], sums={"sum_qty": F.col("l_quantity")}, count_alias="n"
        ).collect()
    }
    plain = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(salted) == set(plain)
    for k in plain:
        assert salted[k]["n"] == plain[k]["n"]
        assert abs(salted[k]["sum_qty"] - plain[k]["sum_qty"]) < 1e-6


def test_salted_broadcast_left_matches_plain_join(spark, sf_dir):
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    salted = salted_broadcast_left(cu, na, "c_nationkey")
    plain = cu.join(na, "c_nationkey", "inner")
    assert salted.count() == plain.count()


def test_simhash_identical_and_near_texts(spark):
    base = " ".join(f"word{i}" for i in range(40))
    near = base.replace("word7", "word7x")
    far = " ".join(f"other{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], ["doc_id", "text"]
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2]  # identical text → identical simhash
    pairs = simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0
    assert all(4 not in pair for pair in got)


def test_embedding_near_dup_finds_planted_pair(spark):
    import random

    rng = random.Random(7)
    dim = 16
    base = [rng.gauss(0, 1) for _ in range(dim)]
    near = [x + rng.gauss(0, 0.001) for x in base]
    rows = [(0, base), (1, near)] + [
        (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(2, 30)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = embedding_near_dup_pairs(df, dim=dim, threshold=0.99, n_planes=6, n_tables=6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got


def test_ivf_topk_high_recall_on_clustered_data(spark):
    import random

    from proyecto_final_de_big_data_spark.operators.similarity import cosine_topk
    from proyecto_final_de_big_data_spark.operators.similarity_ivf import ivf_cosine_topk

    rng = random.Random(11)
    dim = 16
    rows = []
    # 4 tight clusters of 20 vectors — the regime IVF exploits.
    for c in range(4):
        center = [rng.gauss(0, 1) for _ in range(dim)]
        for i in range(20):
            rows.append(
                (c * 20 + i, [x + rng.gauss(0, 0.05) for x in center])
            )
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id").isin(0, 20, 40, 60))
    exact = set(
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(df, q, "vec_id", "embedding", k=5).collect()
    )
    approx = set(
        (r["query_id"], r["neighbor_id"])
        for r in ivf_cosine_topk(df, q, k=5, n_cells=4, n_probe=2).collect()
    )
    assert len(exact & approx) / len(exact) >= 0.9


def test_stateful_user_profile_stream(spark, tmp_path):
    from proyecto_final_de_big_data_spark.streaming.stateful import user_profile_stream
    from proyecto_final_de_big_data_spark.streaming.windows import read_events_stream

    d = tmp_path / "ev"
    d.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "p0.parquet")
    stream = read_events_stream(spark, str(d))
    q = (
        user_profile_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_state")
        .trigger(availableNow=True)
        .start()
    )
    try:
        # Bounded wait: availableNow must drain and terminate; a hang here
        # is a bug (e.g. a timeout conf that keeps scheduling batches).
        assert q.awaitTermination(300), "stateful stream did not terminate under availableNow"
        assert q.exception() is None, f"stream failed: {q.exception()}"
        got = spark.table("t_state")
        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        want = ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("m"),
            F.max("ts").alias("max_ts"),
        )
        got_map = {r["user_id"]: r for r in got.collect()}
        for r in want.collect():
            assert got_map[r["user_id"]]["n_events"] == r["n"]
            assert abs(got_map[r["user_id"]]["mean_value"] - r["m"]) < 1e-9
            # Event-time must survive the stream path un-corrupted: a
            # mis-scaled timestamp (the round-2 ns/µs bug put streamed
            # windows in 1970) cannot hide behind a ts-free projection.
            assert got_map[r["user_id"]]["last_seen"] == r["max_ts"], (
                f"last_seen mismatch for user {r['user_id']}: "
                f"{got_map[r['user_id']]['last_seen']} != batch max(ts) {r['max_ts']}"
            )
    finally:
        q.stop()


def test_ivf_index_increment_parity_and_skip(spark):
    """Hand fixture: 8 clustered 3-d vectors around two axes; base
    holds ids 0-4, the batch re-offers 3-4 (must be SKIPPED — the
    anti-join) plus new ids 5-7. The incremental index must equal the
    full re-assignment of the union row-for-row (assignment depends
    only on the frozen centroids)."""
    from proyecto_final_de_big_data_spark.operators.similarity_ivf import (
        ivf_assign,
        ivf_centroids,
        ivf_index_increment,
    )

    def vec(axis, eps):
        v = [eps, eps, eps]
        v[axis] = 1.0
        return v

    rows = [(i, vec(i % 2, 0.01 * i)) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = df.filter(F.col("vec_id") < 5)
    batch = df.filter(F.col("vec_id") >= 3)  # 3,4 overlap; 5,6,7 new
    cents = ivf_centroids(base, "vec_id", "embedding", 2)
    index0 = ivf_assign(base, cents, "vec_id", "embedding")
    inc = ivf_index_increment(index0, batch, cents, "vec_id", "embedding")
    got = {r["vec_id"]: r["cell"] for r in inc.collect()}
    assert sorted(got) == list(range(8))  # 3,4 not duplicated
    full = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(df, cents, "vec_id", "embedding").collect()
    }
    assert got == full
    # The two clusters land in different cells (the fixture's point).
    assert got[0] == got[2] == got[4] == got[6]
    assert got[1] == got[3] == got[5] == got[7]
    assert got[0] != got[1]
