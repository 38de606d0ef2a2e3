"""Unit tests for sub-document boilerplate removal."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from proyecto_final_de_big_data_spark.operators.boilerplate import (
    remove_boilerplate,
    segment_frequencies,
)


def _docs(spark):
    # "x y z a b" is a segment-aligned 5-word prefix shared by 3 docs.
    return spark.createDataFrame(
        [
            (1, "x y z a b one two three four five"),
            (2, "x y z a b six seven eight nine ten"),
            (3, "x y z a b alpha beta gamma delta eps"),
            (4, "totally unique words in this doc yes"),
        ],
        ["doc_id", "text"],
    )


def test_segment_frequencies_counts_distinct_docs(spark):
    segs = segment_frequencies(_docs(spark), seg_words=5).collect()
    by = {(r["doc_id"], r["seg_id"]): r for r in segs}
    assert by[(1, 0)]["seg_text"] == "x y z a b"
    assert by[(1, 0)]["seg_df"] == 3
    assert by[(1, 1)]["seg_df"] == 1
    # 7-word doc -> two segments (5 + 2 words)
    assert by[(4, 1)]["seg_text"] == "doc yes"


def test_remove_boilerplate_drops_shared_prefix(spark):
    out = {r["doc_id"]: r["clean_text"] for r in remove_boilerplate(_docs(spark), seg_words=5, max_doc_freq=3).collect()}
    assert out[1] == "one two three four five"
    assert out[2] == "six seven eight nine ten"
    assert out[3] == "alpha beta gamma delta eps"
    assert out[4] == "totally unique words in this doc yes"


def test_remove_boilerplate_all_boilerplate_doc_survives_empty(spark):
    df = spark.createDataFrame(
        [(i, "the same five word text") for i in range(4)], ["doc_id", "text"]
    )
    out = remove_boilerplate(df, seg_words=5, max_doc_freq=3).collect()
    assert len(out) == 4
    assert all(r["clean_text"] == "" for r in out)


def test_remove_boilerplate_reassembles_in_order(spark):
    # 3 segments; the MIDDLE one is boilerplate -> order of survivors
    # must be preserved across the gap.
    common = "shared words appear here often"
    df = spark.createDataFrame(
        [
            (1, f"first seg of doc one {common} last seg of doc one"),
            (2, f"first seg of doc twoo {common} last seg of doc twoo"),
            (3, f"first seg of doc three {common} last seg of doc three"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["clean_text"] for r in remove_boilerplate(df, seg_words=5, max_doc_freq=3).collect()}
    assert out[1] == "first seg of doc one last seg of doc one"


def test_remove_boilerplate_threshold_below_keeps_everything(spark):
    df = _docs(spark)
    out = remove_boilerplate(df, seg_words=5, max_doc_freq=4)
    originals = {r["doc_id"]: r["text"] for r in df.collect()}
    assert {r["doc_id"]: r["clean_text"] for r in out.collect()} == originals


_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_word = st.text(alphabet="abcdefg", min_size=1, max_size=4)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=1, max_size=12).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
@settings(**_SETTINGS)
def test_boilerplate_identity_when_threshold_above_corpus(spark, docs):
    """With max_doc_freq > n_docs nothing is boilerplate: clean_text must
    be the single-space rejoin of the original tokens, in order."""
    from proyecto_final_de_big_data_spark.operators.boilerplate import (
        remove_boilerplate,
    )

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    out = {r["doc_id"]: r["clean_text"] for r in remove_boilerplate(
        df, seg_words=3, max_doc_freq=len(docs) + 1
    ).collect()}
    for i, d in enumerate(docs):
        assert out[i] == " ".join(d.split())
