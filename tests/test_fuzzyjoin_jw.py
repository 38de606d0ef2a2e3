"""Jaro-Winkler blocked ER join (operators/fuzzyjoin.py additions).

Two independent evidence sources (VERDICT r7 item 7): textbook
hand-computed JW fixtures (worked in comments), and a 3000-random-pair
value parity sweep against DuckDB's RapidFuzz implementation — the
same function the driver oracle calls, so gate hash-greens are
scorer-exact, not approximately-similar."""

import random
import string

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.fuzzyjoin import (
    _jaro,
    jaro_winkler_py,
    jaro_winkler_self_join,
    multipass_candidates,
)


def test_textbook_values_hand_checked():
    # MARTHA/MARHTA: m=6, mismatched matched positions = 2 -> t=1,
    # jaro = (1 + 1 + 5/6)/3 = 0.944444; prefix 3 ->
    # jw = 0.944444 + 0.3*0.055556 = 0.961111 (Winkler 1990 example).
    assert jaro_winkler_py("MARTHA", "MARHTA") == pytest.approx(0.961111, abs=1e-6)
    # DIXON/DICKSONX: m=4, t=0, jaro = (4/5 + 4/8 + 1)/3 = 0.766667;
    # prefix 2 -> jw = 0.766667 + 0.2*0.233333 = 0.813333.
    assert jaro_winkler_py("DIXON", "DICKSONX") == pytest.approx(0.813333, abs=1e-6)
    # DWAYNE/DUANE: m=4, t=0, jaro = (4/6 + 4/5 + 1)/3 = 0.822222;
    # prefix 1 -> jw = 0.822222 + 0.1*0.177778 = 0.84.
    assert jaro_winkler_py("DWAYNE", "DUANE") == pytest.approx(0.84, abs=1e-6)


def test_edge_conventions_match_duckdb():
    # DuckDB (RapidFuzz) conventions, probed empirically: either side
    # empty -> 0.0 (NOT the both-empty=1.0 variant); equal -> 1.0;
    # boost only above 0.7 (jaro 0.6 with a 4-char common prefix stays
    # unboosted).
    assert jaro_winkler_py("", "") == 0.0
    assert jaro_winkler_py("", "a") == 0.0
    assert jaro_winkler_py("ab", "ab") == 1.0
    assert jaro_winkler_py("abcdxxxxxx", "abcdyyyyyy") == pytest.approx(0.6)


def test_transposition_floor_convention():
    # 'ffccab' vs 'dabadcffc': 3 mismatched matched positions ->
    # RapidFuzz t = 3//2 = 1 (textbook would be 1.5), m = 3,
    # jaro = (3/6 + 3/9 + 2/3)/3 = 0.5 — the case that pinned the
    # floor convention against DuckDB.
    assert _jaro("ffccab", "dabadcffc") == pytest.approx(0.5)


def test_random_parity_with_duckdb():
    con = duckdb.connect()
    rng = random.Random(7)
    for _ in range(3000):
        a = "".join(
            rng.choices(string.ascii_lowercase[:6], k=rng.randint(0, 12))
        )
        b = "".join(
            rng.choices(string.ascii_lowercase[:6], k=rng.randint(0, 12))
        )
        d = con.execute(
            "select jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert jaro_winkler_py(a, b) == pytest.approx(d, abs=1e-12), (a, b)


def test_multipass_candidates_dedup_and_order(spark):
    df = spark.createDataFrame(
        [("abcx",), ("abcy",), ("zzzz",)], ["s"]
    )
    # Two passes that BOTH match the abc pair: it must appear once.
    passes = [F.substring("s", 1, 3), F.substring("s", 1, 2)]
    got = multipass_candidates(df, "s", passes).collect()
    assert len(got) == 1
    assert (got[0]["left_value"], got[0]["right_value"]) == ("abcx", "abcy")


def test_self_join_scores_and_threshold(spark):
    df = spark.createDataFrame(
        [("MARTHA",), ("MARHTA",), ("MARZZZ",)], ["s"]
    )
    passes = [F.substring("s", 1, 3)]
    out = jaro_winkler_self_join(df, "s", passes, threshold=0.96).collect()
    assert len(out) == 1
    assert out[0]["jw"] == pytest.approx(0.961111, abs=1e-6)
    # lower threshold admits the weaker pairs too
    out2 = jaro_winkler_self_join(df, "s", passes, threshold=0.5)
    assert out2.count() == 3


def test_threshold_validation(spark):
    df = spark.createDataFrame([("a",)], ["s"])
    with pytest.raises(ValueError, match="threshold"):
        jaro_winkler_self_join(df, "s", [F.col("s")], threshold=0.0)
    with pytest.raises(ValueError, match="blocking"):
        multipass_candidates(df, "s", [])


# Property check: bounds, symmetry and identity over arbitrary strings.
_name = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    min_size=0,
    max_size=24,
)


@given(a=_name, b=_name)
@settings(max_examples=60, deadline=None)
def test_jaro_winkler_bounds_symmetry_identity(a, b):
    s = jaro_winkler_py(a, b)
    assert 0.0 <= s <= 1.0
    # symmetric: matching is defined over the pooled window both ways
    assert s == pytest.approx(jaro_winkler_py(b, a), abs=1e-12)
    # identity: equal non-empty strings score exactly 1
    if a and a == b:
        assert s == 1.0
    # empty-side convention (DuckDB/RapidFuzz): 0.0
    if not a or not b:
        assert s == 0.0
