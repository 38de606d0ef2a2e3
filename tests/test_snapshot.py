"""Unit tests for corpus snapshot diffing (operators/snapshot.py)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from proyecto_final_de_big_data_spark.operators.snapshot import (
    snapshot_diff,
    snapshot_diff_summary,
)


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], "id long, text string"
    )
    got = {r["id"]: r["status"] for r in snapshot_diff(old, new, "id", ["text"]).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_snapshot_diff_duplicate_id_is_ambiguous(spark):
    # A duplicate id within a snapshot must surface as 'ambiguous', not
    # get a silent content verdict from an arbitrary representative.
    old = spark.createDataFrame([(1, "a"), (1, "a2")], "id long, text string")
    new = spark.createDataFrame([(1, "a")], "id long, text string")
    got = {r["id"]: r["status"] for r in snapshot_diff(old, new, "id", ["text"]).collect()}
    assert got == {1: "ambiguous"}


def test_snapshot_diff_null_content_matches_dedup_semantics(spark):
    # NULL vs empty-string must NOT be conflated (content_digest's
    # sentinel semantics, shared with the dedup family).
    old = spark.createDataFrame([(1, None), (2, "")], "id long, text string")
    new = spark.createDataFrame([(1, ""), (2, "")], "id long, text string")
    got = {r["id"]: r["status"] for r in snapshot_diff(old, new, "id", ["text"]).collect()}
    assert got == {1: "changed", 2: "unchanged"}


def test_snapshot_diff_summary_counts(spark):
    old = spark.createDataFrame([(1, "a"), (2, "b")], "id long, text string")
    new = spark.createDataFrame([(2, "bb"), (3, "c")], "id long, text string")
    got = {
        r["status"]: (r["n_docs"], r["id_sum"])
        for r in snapshot_diff_summary(old, new, "id", ["text"]).collect()
    }
    assert got == {"removed": (1, 1), "changed": (1, 2), "added": (1, 3)}


# ------------------------------------------------------ release manifest


def test_release_manifest_order_and_partitioning_invariant(spark):
    from proyecto_final_de_big_data_spark.operators.snapshot import release_manifest

    rows = [(i, f"doc {i}", "en" if i % 2 else "de") for i in range(100)]
    a = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    b = (
        spark.createDataFrame(list(reversed(rows)), "doc_id long, text string, lang string")
        .repartition(7)
    )
    ma = {r["lang"]: r for r in release_manifest(a, "lang", "doc_id", ["text"]).collect()}
    mb = {r["lang"]: r for r in release_manifest(b, "lang", "doc_id", ["text"]).collect()}
    for lang in ("en", "de"):
        assert ma[lang]["n_rows"] == mb[lang]["n_rows"] == 50
        assert ma[lang]["id_sum"] == mb[lang]["id_sum"]
        assert ma[lang]["content_checksum"] == mb[lang]["content_checksum"]


def test_release_manifest_detects_single_byte_change(spark):
    from proyecto_final_de_big_data_spark.operators.snapshot import release_manifest

    rows = [(i, f"doc {i}", "en") for i in range(50)]
    tampered = [(i, ("doc 7x" if i == 7 else f"doc {i}"), "en") for i in range(50)]
    a = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    b = spark.createDataFrame(tampered, "doc_id long, text string, lang string")
    ca = release_manifest(a, "lang", "doc_id", ["text"]).collect()[0]
    cb = release_manifest(b, "lang", "doc_id", ["text"]).collect()[0]
    assert ca["n_rows"] == cb["n_rows"] and ca["id_sum"] == cb["id_sum"]
    assert ca["content_checksum"] != cb["content_checksum"]


def test_release_manifest_null_content_is_digested_not_skipped(spark):
    from proyecto_final_de_big_data_spark.operators.snapshot import release_manifest

    a = spark.createDataFrame([(1, None, "en"), (2, "x", "en")],
                              "doc_id long, text string, lang string")
    b = spark.createDataFrame([(1, "", "en"), (2, "x", "en")],
                              "doc_id long, text string, lang string")
    ca = release_manifest(a, "lang", "doc_id", ["text"]).collect()[0]
    cb = release_manifest(b, "lang", "doc_id", ["text"]).collect()[0]
    assert ca["content_checksum"] != cb["content_checksum"]  # NULL != ''


def test_release_manifest_null_row_changes_checksum(spark):
    # A NULL-content row must CONTRIBUTE to the checksum (sentinel
    # digest), not vanish — adding one must change the fingerprint.
    from proyecto_final_de_big_data_spark.operators.snapshot import release_manifest

    base = [(1, "x", "en")]
    with_null = base + [(2, None, "en")]
    schema = "doc_id long, text string, lang string"
    ca = release_manifest(spark.createDataFrame(base, schema), "lang", "doc_id", ["text"]).collect()[0]
    cb = release_manifest(spark.createDataFrame(with_null, schema), "lang", "doc_id", ["text"]).collect()[0]
    assert ca["content_checksum"] != cb["content_checksum"]


def test_release_manifest_sql_twins_match_engine_on_nulls(spark):
    import duckdb

    from proyecto_final_de_big_data_spark.operators.snapshot import (
        content_checksum_sql,
        content_digest_sql,
        id_sum_sql,
        release_manifest,
    )

    rows = [(1, None, "en"), (2, "x", "en"), (3, "", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = release_manifest(df, "lang", "doc_id", ["text"]).collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = con.execute(
        f"SELECT {id_sum_sql('doc_id')}, "
        f"{content_checksum_sql(content_digest_sql(['text']))} FROM t"
    ).fetchone()
    assert (got["id_sum"], got["content_checksum"]) == want


_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.text(alphabet="xyz ", max_size=8),
                  st.sampled_from(["g1", "g2"])),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_release_manifest_permutation_invariant_checksum(spark, rows):
    """The manifest is a pure function of the row multiset per group:
    shuffling row order and partitioning never changes any column."""
    from proyecto_final_de_big_data_spark.operators.snapshot import release_manifest

    schema = "doc_id long, text string, grp string"
    a = spark.createDataFrame(rows, schema)
    b = spark.createDataFrame(list(reversed(rows)), schema).repartition(5)
    ka = sorted(map(tuple, release_manifest(a, "grp", "doc_id", ["text"]).collect()))
    kb = sorted(map(tuple, release_manifest(b, "grp", "doc_id", ["text"]).collect()))
    assert ka == kb
