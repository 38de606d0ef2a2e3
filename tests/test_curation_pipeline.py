"""Composition tests for the document-curation pipeline + its CLI."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.pipelines.curation import (
    CurationConfig,
    curate_documents,
    write_curated_documents,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "mail a@b.io please", "en"),
            (2, "mail a@b.io please", "en"),      # exact dup of 1
            (3, "x x x x x x x x", "en"),          # repetitive
            (4, "a perfectly ordinary sentence with words", "fr"),
            (5, "short", "fr"),
        ],
        ["doc_id", "text", "lang"],
    )


def test_curate_full_pass(spark):
    cfg = CurationConfig(drop_repetitive=True, split_fractions={"train": 0.5, "eval": 0.5})
    out = curate_documents(_docs(spark), cfg).collect()
    ids = sorted(r["doc_id"] for r in out)
    assert ids == [1, 4, 5]  # dup 2 and repetitive 3 dropped
    by_id = {r["doc_id"]: r for r in out}
    assert "<EMAIL>" in by_id[1]["text"] and "a@b.io" not in by_id[1]["text"]
    assert all(r["split"] in {"train", "eval"} for r in out)


def test_curate_redaction_precedes_dedup(spark):
    # Two docs that differ ONLY in their PII must collapse after
    # redaction — stage order is semantic, not cosmetic.
    df = spark.createDataFrame(
        [(1, "mail a@b.io now"), (2, "mail c@d.org now")], ["doc_id", "text"]
    )
    cfg = CurationConfig(split_fractions=None)
    assert curate_documents(df, cfg).count() == 1


def test_curate_incremental_requires_historical(spark):
    with pytest.raises(ValueError, match="historical"):
        curate_documents(_docs(spark), CurationConfig(dedup="incremental"))


def test_curate_incremental_vs_corpus(spark):
    hist = spark.createDataFrame([(0, "mail <EMAIL> please")], ["doc_id", "text"])
    df = _docs(spark).select("doc_id", "text")
    cfg = CurationConfig(dedup="incremental", split_fractions=None)
    out = curate_documents(df, cfg, historical=hist)
    # docs 1/2 redact to the historical text -> dropped entirely.
    assert 1 not in {r["doc_id"] for r in out.collect()}


def test_curate_mixing_drops_no_stratum_col_confusion(spark):
    cfg = CurationConfig(mix_stratum_col="lang", mix_alpha=1.0, split_fractions=None)
    out = curate_documents(_docs(spark), cfg)
    # alpha=1 keeps everything that survived dedup; helper cols dropped.
    assert set(out.columns) == {"doc_id", "text", "lang"}
    assert out.count() == 4


def test_cli_curate_end_to_end(spark, tmp_path):
    from proyecto_final_de_big_data_spark.cli import main

    out_root = str(tmp_path / "curated")
    rc = main(
        [
            "curate",
            "--master", "local[2]",
            "--input", f"{SF}/documents.parquet",
            "--output", out_root,
            "--mix-stratum-col", "lang",
            "--split", "train=0.8,eval=0.2",
        ]
    )
    assert rc == 0
    back = spark.read.parquet(out_root)
    assert {"doc_id", "text", "split"} <= set(back.columns)
    n = back.count()
    assert 0 < n <= 500
    assert back.filter(F.col("split") == "train").count() > 0


def test_write_curated_documents_plain_when_unsplit(spark, tmp_path):
    cfg = CurationConfig(split_fractions=None)
    out = curate_documents(_docs(spark), cfg)
    root = str(tmp_path / "plain")
    write_curated_documents(out, root)
    assert spark.read.parquet(root).count() == out.count()


def _persisted_ids(spark) -> set:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _n_persisted(spark) -> int:
    return len(_persisted_ids(spark))


def test_bad_dedup_mode_raises_before_any_persist(spark):
    before = _n_persisted(spark)
    with pytest.raises(ValueError, match="unknown dedup mode"):
        curate_documents(_docs(spark), CurationConfig(dedup="simhashish"))
    assert _n_persisted(spark) == before  # validation precedes the pin


def test_run_curation_writes_and_releases_pins(spark, tmp_path):
    import gc

    from proyecto_final_de_big_data_spark.pipelines.curation import run_curation

    gc.collect()
    before = _persisted_ids(spark)  # leftovers from other tests are excluded by id
    root = str(tmp_path / "curated_run")
    cfg = CurationConfig(mix_stratum_col="lang", split_fractions={"train": 0.5, "eval": 0.5})
    run_curation(_docs(spark), cfg, root)
    # the write path must leave NOTHING NEW cached — no stage pins, no
    # corpus-sized localCheckpoint.
    assert _persisted_ids(spark) - before == set()
    back = spark.read.parquet(root)
    assert back.count() > 0 and "split" in back.columns


def test_curate_documents_releases_pins(spark):
    import gc

    from proyecto_final_de_big_data_spark.utils.caching import scope

    gc.collect()
    before = _persisted_ids(spark)
    with scope():
        out = curate_documents(_docs(spark), CurationConfig(mix_stratum_col="lang"))
        assert out.count() > 0
    # The caller's scope releases every stage pin the lazy result read.
    assert _persisted_ids(spark) - before == set()


def test_parse_split_errors():
    from proyecto_final_de_big_data_spark.cli import _parse_split

    assert _parse_split("none") is None
    assert _parse_split("train=0.9,eval=0.1") == {"train": 0.9, "eval": 0.1}
    with pytest.raises(ValueError, match="malformed --split part 'train:0.9'"):
        _parse_split("train:0.9,eval:0.1")
    with pytest.raises(ValueError, match="not a number"):
        _parse_split("train=x")
    with pytest.raises(ValueError, match="duplicate --split name 'train'"):
        _parse_split("train=0.9,train=0.05,eval=0.05")


def test_tfidf_caller_supplied_n_docs_matches(spark):
    from proyecto_final_de_big_data_spark.operators.tfidf import top_terms_by_tfidf

    df = spark.createDataFrame(
        [(1, "g", "a b c"), (2, "g", "a b"), (3, "g", "a")], ["doc_id", "grp", "text"]
    )
    auto = top_terms_by_tfidf(df, "grp", k=3)
    manual = top_terms_by_tfidf(df, "grp", k=3, n_docs=3)
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, manual.collect()))


def test_curate_cap_stage_bounds_each_group(spark):
    df = spark.createDataFrame(
        [(i, f"unique document number {i} with plenty of words", "s1" if i < 8 else "s2")
         for i in range(10)],
        ["doc_id", "text", "src"],
    )
    cfg = CurationConfig(
        redact_pii=False,
        dedup="none",
        cap_group_cols=["src"],
        cap_max_rows=3,
        split_fractions=None,
    )
    out = curate_documents(df, cfg).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["src"], []).append(r["doc_id"])
    # over-cap s1 (8 docs) capped to its 3 lowest ids; under-cap s2 intact
    assert sorted(by_src["s1"]) == [0, 1, 2]
    assert sorted(by_src["s2"]) == [8, 9]


def test_curate_cap_requires_positive_max(spark):
    cfg = CurationConfig(cap_group_cols=["lang"], cap_max_rows=0)
    with pytest.raises(ValueError, match="cap_max_rows"):
        curate_documents(_docs(spark), cfg)


def test_cli_curate_with_cap(spark, tmp_path):
    from proyecto_final_de_big_data_spark.cli import main

    out_root = str(tmp_path / "capped")
    rc = main(
        [
            "curate",
            "--master", "local[2]",
            "--input", f"{SF}/documents.parquet",
            "--output", out_root,
            "--cap-group-cols", "source",
            "--cap-max", "5",
            "--split", "none",
        ]
    )
    assert rc == 0
    back = spark.read.parquet(out_root)
    per_src = back.groupBy("source").count().collect()
    assert per_src and all(r["count"] <= 5 for r in per_src)


def _near_dup_docs(spark):
    # Docs 1/2 are near-duplicates (one word differs in a long text),
    # 3 is unrelated, 4 near-dups with nothing.
    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep dark forest tonight")
    return spark.createDataFrame(
        [
            (1, base + " end", "en", 0.2),
            (2, base + " fin", "en", 0.9),
            (3, "completely different content about big data engines and "
                "distributed shuffles running on many machines", "en", 0.5),
            (4, "another standalone document speaking of embeddings and "
                "vector search at corpus scale for training sets", "fr", 0.4),
        ],
        ["doc_id", "text", "lang", "score"],
    )


def test_curate_minhash_dedup_keeps_min_id(spark):
    cfg = CurationConfig(
        redact_pii=False, dedup="minhash", minhash_threshold=0.5,
        split_fractions=None,
    )
    out = curate_documents(_near_dup_docs(spark), cfg).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 3, 4]  # 2 collapsed into 1


def test_curate_minhash_dedup_keep_best_by_score(spark):
    cfg = CurationConfig(
        redact_pii=False, dedup="minhash", minhash_threshold=0.5,
        dedup_score_col="score", split_fractions=None,
    )
    out = curate_documents(_near_dup_docs(spark), cfg).collect()
    assert sorted(r["doc_id"] for r in out) == [2, 3, 4]  # higher-score twin wins


def test_curate_epoch_mixing_preserves_and_repeats(spark):
    docs = spark.createDataFrame(
        [(i, f"unique document text number {i} here", "big" if i < 40 else "rare")
         for i in range(50)],
        ["doc_id", "text", "lang"],
    )
    cfg = CurationConfig(
        redact_pii=False, dedup="none",
        mix_stratum_col="lang", mix_alpha=0.5, mix_mode="epochs",
        split_fractions=None,
    )
    out = curate_documents(docs, cfg).collect()
    assert "epoch" in out[0].asDict()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    assert set(by_doc) == set(range(50))  # nothing discarded
    for i in range(40):
        assert by_doc[i] == [1]  # big stratum: one epoch
    for i in range(40, 50):
        assert sorted(by_doc[i]) == [1, 2]  # (40/10)^0.5 = 2.0 epochs exactly


def test_curate_cluster_safe_split_keeps_near_dups_together(spark):
    cfg = CurationConfig(
        redact_pii=False, dedup="none",
        split_fractions={"train": 0.5, "eval": 0.5},
        split_mode="cluster_safe", minhash_threshold=0.5,
    )
    out = curate_documents(_near_dup_docs(spark), cfg).collect()
    splits = {r["doc_id"]: r["split"] for r in out}
    assert set(splits) == {1, 2, 3, 4}
    assert splits[1] == splits[2]  # the near-dup pair cannot straddle


def test_curate_mode_validation(spark):
    with pytest.raises(ValueError, match="mix mode"):
        curate_documents(_docs(spark), CurationConfig(mix_mode="nope"))
    with pytest.raises(ValueError, match="split mode"):
        curate_documents(_docs(spark), CurationConfig(split_mode="nope"))
    with pytest.raises(ValueError, match="cluster_safe"):
        curate_documents(
            _docs(spark),
            CurationConfig(split_fractions=None, split_mode="cluster_safe"),
        )
    with pytest.raises(ValueError, match="dedup_score_col"):
        curate_documents(
            _docs(spark), CurationConfig(dedup="exact", dedup_score_col="score")
        )


def test_cli_curate_minhash_cluster_safe(spark, tmp_path):
    from proyecto_final_de_big_data_spark.cli import main

    out_root = str(tmp_path / "nd")
    rc = main(
        [
            "curate",
            "--master", "local[2]",
            "--input", f"{SF}/documents.parquet",
            "--output", out_root,
            "--dedup", "minhash",
            "--minhash-threshold", "0.6",
            "--mix-stratum-col", "lang",
            "--mix-mode", "epochs",
            "--split", "train=0.8,eval=0.2",
            "--split-mode", "cluster_safe",
        ]
    )
    assert rc == 0
    back = spark.read.parquet(out_root)
    assert {"split", "epoch"} <= set(back.columns)
    assert back.count() > 0
    assert back.select("split").distinct().count() <= 2


def test_curate_minhash_rejects_string_ids_upfront(spark):
    df = spark.createDataFrame(
        [("a", "some text here for the corpus")], ["doc_id", "text"]
    )
    cfg = CurationConfig(redact_pii=False, dedup="minhash", split_fractions=None)
    with pytest.raises(ValueError, match="integer id column"):
        curate_documents(df, cfg)


def test_curate_half_configured_cap_rejected(spark):
    with pytest.raises(ValueError, match="require cap_group_cols"):
        curate_documents(_docs(spark), CurationConfig(cap_max_rows=5))
    with pytest.raises(ValueError, match="require cap_group_cols"):
        curate_documents(_docs(spark), CurationConfig(cap_score_col="n_chars"))


def test_curate_token_budget_selection_stage(spark):
    # 4 long high-quality docs (~40 tokens each) + junk per lang; a
    # 100-token budget keeps the top-quality bins only.
    def doc(i, lang, good):
        if good:
            text = ("a perfectly ordinary readable sentence with many plain "
                    "words that goes on long enough to clear the length "
                    "bonus threshold and score highly on every axis " * 2)
        else:
            text = "1. 2. 3. 4!!!"  # digit/punct-dense -> low bin
        return (i, text, lang)

    rows = [doc(i, "en", i < 4) for i in range(8)]
    rows += [doc(10 + i, "fr", i < 2) for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    cfg = CurationConfig(
        redact_pii=False,
        dedup="none",
        select_stratum_col="lang",
        select_token_budget=100,
        split_fractions=None,
    )
    out = curate_documents(df, cfg)
    # reserved derived columns are dropped from the output
    assert set(out.columns) == {"doc_id", "text", "lang"}
    kept = sorted(r["doc_id"] for r in out.collect())
    # junk bins fall below every threshold; high bins survive (boundary
    # bin included by default, so the whole top bin stays even though it
    # overshoots 100 tokens)
    assert kept == [0, 1, 2, 3, 10, 11]


def test_curate_selection_config_validation(spark):
    with pytest.raises(ValueError, match="select_token_budget >= 1"):
        curate_documents(
            _docs(spark),
            CurationConfig(select_stratum_col="lang", select_token_budget=0),
        )
    with pytest.raises(ValueError, match="require select_stratum_col"):
        curate_documents(
            _docs(spark), CurationConfig(select_token_budget=100)
        )


def test_cli_curate_with_selection(spark, tmp_path):
    from proyecto_final_de_big_data_spark.cli import main

    out_root = str(tmp_path / "selected")
    rc = main(
        [
            "curate",
            "--master", "local[2]",
            "--input", f"{SF}/documents.parquet",
            "--output", out_root,
            "--dedup", "none",
            "--select-stratum-col", "lang",
            "--select-budget", "500",
            "--split", "none",
        ]
    )
    assert rc == 0
    back = spark.read.parquet(out_root)
    assert back.count() > 0
    # budget bites: every lang's kept token mass is bounded by the
    # budget plus one boundary bin (crudely: well under the full corpus)
    full = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert back.count() < full


def test_curate_strip_spans_hand_fixture(spark):
    # Hand-worked span-strip stage (min_span=10, prefilter on — the
    # scale path): d1 is the gram keeper; d2 = "XYZ " + d1[:12] has dup
    # window starts {5,6,7} (each 10-gram sits in d1) -> merged span
    # [5,16] -> stripped to "XYZ "; d3 is byte-identical to d2 so its
    # prefix grams {1..4} are duplicated against d2 (smaller id) and
    # its quote grams against d1 -> span [1,16] -> stripped to "";
    # d4 = "XYZ " is shorter than min_span -> no grams, kept verbatim.
    # Exact dedup AFTER the strip then collapses d2/d4 (both "XYZ ",
    # min id 2 wins) — the quote-only-variants-collapse property the
    # stage ordering exists for.
    rows = [
        (1, "abcdefghijklmnopqrst"),
        (2, "XYZ abcdefghijkl"),
        (3, "XYZ abcdefghijkl"),
        (4, "XYZ "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = CurationConfig(
        redact_pii=False,
        strip_spans=True,
        span_min_len=10,
        dedup="exact",
        split_fractions=None,
    )
    out = {r["doc_id"]: r["text"] for r in curate_documents(df, cfg).collect()}
    assert out == {1: "abcdefghijklmnopqrst", 2: "XYZ ", 3: ""}
    # Same answer on the brute-force path (prefilter off).
    cfg2 = CurationConfig(
        redact_pii=False,
        strip_spans=True,
        span_min_len=10,
        span_prefilter=False,
        dedup="exact",
        split_fractions=None,
    )
    out2 = {r["doc_id"]: r["text"] for r in curate_documents(df, cfg2).collect()}
    assert out2 == out


def test_curate_strip_spans_validation(spark):
    with pytest.raises(ValueError, match="span_min_len"):
        curate_documents(
            _docs(spark),
            CurationConfig(strip_spans=True, span_min_len=1),
        )


def test_cli_curate_strip_spans(spark, tmp_path):
    from proyecto_final_de_big_data_spark.cli import main

    src = str(tmp_path / "docs")
    dst = str(tmp_path / "curated")
    spark.createDataFrame(
        [
            (1, "abcdefghijklmnopqrst", "en"),
            (2, "XYZ abcdefghijkl", "en"),
        ],
        ["doc_id", "text", "lang"],
    ).write.parquet(src)
    rc = main(
        [
            "curate",
            "--input", src,
            "--output", dst,
            "--no-pii-redaction",
            "--strip-spans",
            "--span-min-len", "10",
            "--dedup", "exact",
            "--split", "none",
            "--master", "local[2]",
        ]
    )
    assert rc == 0
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(dst).collect()}
    assert got == {1: "abcdefghijklmnopqrst", 2: "XYZ "}


def test_curate_strip_spans_prefilter_threshold_guard(spark):
    # span_min_len below the winnowing losslessness threshold (w+k-1=8)
    # with the prefilter on must fail loudly, not silently miss spans.
    with pytest.raises(ValueError, match="span_min_len >= 8"):
        curate_documents(
            _docs(spark),
            CurationConfig(strip_spans=True, span_min_len=5),
        )
    # The brute-force path accepts small spans (prefilter off).
    rows = [(1, "abcde fghij"), (2, "XX abcde YY")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = curate_documents(
        df,
        CurationConfig(
            redact_pii=False,
            strip_spans=True,
            span_min_len=5,
            span_prefilter=False,
            dedup="none",
            split_fractions=None,
        ),
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    # Dup 5-gram windows in doc 2 start at 4 ("abcde") AND 5 ("bcde "
    # — doc 1's positions 2-6 include the trailing space), so the
    # merged span [4, 9] swallows one of the two spaces: "XX YY".
    assert got[2] == "XX YY"
