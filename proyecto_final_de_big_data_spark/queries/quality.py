"""Text-quality / PII / term-scoring queries over ``documents`` —
round-5 additions to the LLM-curation extension surface.

Every query here carries a full DuckDB value-hash oracle: the regex
patterns are restricted to the Java-regex ∩ RE2 common subset, doubles
are rounded identically on both sides before any ranking, and the PII
fixture is injected with the same deterministic expression in both
engines (the synthetic corpus contains no organic PII, so the gate
would otherwise verify only that zero equals zero).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.pii import with_pii_stats
from ..operators.quality import with_repetition_stats
from ..operators.tfidf import top_terms_by_tfidf
from ..utils.caching import pin
from ..utils.settings import STREAM_STATE_PARTITIONS, overridden
from .registry import register


@register(
    "lm_quality_by_lang",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0) AS w
        FROM documents
    ), tok AS (
        SELECT doc_id, lang, unnest(w) AS word FROM toks
    ), counts AS (
        SELECT word, count(*) AS c FROM tok GROUP BY 1
    ), vocab AS (
        SELECT word, c FROM counts ORDER BY c DESC, word ASC LIMIT 20
    ), consts AS (
        SELECT sum(c) AS n_in, count(*) AS v FROM vocab
    ), scored AS (
        SELECT t.doc_id, t.lang,
               ln((coalesce(vb.c, 0) + 1)::DOUBLE / (k.n_in + k.v + 1)) AS lp,
               (vb.c IS NULL)::INT AS oov
        FROM tok t LEFT JOIN vocab vb ON t.word = vb.word
        CROSS JOIN consts k
    ), doc AS (
        SELECT doc_id, lang, count(*) AS n_tokens,
               sum(oov) AS n_oov, -avg(lp) AS nll
        FROM scored GROUP BY 1, 2
    )
    SELECT lang, count(*) AS n_docs,
           round(avg(nll), 4) AS avg_nll,
           round(avg(n_oov::DOUBLE / n_tokens), 4) AS avg_oov_rate,
           round(min(nll), 4) AS min_nll
    FROM doc GROUP BY 1
    """,
    description="CCNet-style corpus-fit LM quality scoring "
    "(operators/lm_score.py): add-one-smoothed unigram model with an "
    "explicit OOV bucket, vocab capped at the top-20 words (count desc, "
    "word asc — deterministic tie-break stated identically on both sides). "
    "The synthetic fixture has 31 distinct words, so the 20-word cap forces "
    "the OOV path to actually fire (measured avg_oov_rate ~0.32). "
    "Per-language mean/min document NLL and OOV rate, rounded to "
    "4 decimals on both sides. Scale shape: vocab fit is one map-side-"
    "combined shuffle, top-K compiles to TakeOrderedAndProject, scoring is "
    "a broadcast join + per-doc partial aggregation — the corpus token "
    "stream never shuffles un-combined.",
)
def q_lm_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm_score import score_documents, unigram_counts, unigram_vocab

    docs = load_table(spark, sf_dir, "documents")
    vocab = unigram_vocab(unigram_counts(docs), vocab_size=20)
    doc_scores = score_documents(docs, vocab, "doc_id", "text", carry_cols=["lang"])
    return doc_scores.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doc_nll"), 4).alias("avg_nll"),
        F.round(F.avg(F.col("n_oov") / F.col("n_tokens")), 4).alias("avg_oov_rate"),
        F.round(F.min("doc_nll"), 4).alias("min_nll"),
    )


@register(
    "pii_redaction_profile",
    oracle=r"""
    WITH inj AS (
        SELECT source, doc_id,
               CASE WHEN doc_id % 3 = 0 THEN
                   text || ' contact u' || doc_id::VARCHAR
                        || '@example.com at 10.1.'
                        || (doc_id % 200)::VARCHAR
                        || '.7 call 555-123-4567'
               ELSE text END AS t
        FROM documents
    ), red AS (
        SELECT source, doc_id, t,
               len(regexp_extract_all(t,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
               len(regexp_extract_all(t,
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
               len(regexp_extract_all(t,
                   '\b\d{3}-\d{3}-\d{4}\b')) AS n_phone,
               regexp_replace(regexp_replace(regexp_replace(t,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                   '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS rt
        FROM inj
    )
    SELECT source,
           count(*) AS n_docs,
           sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_injected,
           sum(n_email)::BIGINT AS n_email,
           sum(n_ipv4)::BIGINT AS n_ipv4,
           sum(n_phone)::BIGINT AS n_phone,
           sum(len(t) - len(rt))::BIGINT AS chars_removed
    FROM red
    GROUP BY source
    """,
    description="PII detect+redact profile per source. The corpus has no "
    "organic PII, so a deterministic doc_id-derived email/IP/phone clause is "
    "appended to every third document by the SAME expression in both engines; "
    "the gate then verifies the regex detection counts and the redaction "
    "byte-shrink agree. Projection-only at scale (operators/pii.py).",
)
def q_pii_redaction_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.1."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".7 call 555-123-4567"),
        ),
    ).otherwise(F.col("text"))
    staged = docs.withColumn("t", injected)
    stats = with_pii_stats(staged, "t")
    return stats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("doc_id") % 3 == 0).cast("long")).alias("n_injected"),
        F.sum("n_email").alias("n_email"),
        F.sum("n_ipv4").alias("n_ipv4"),
        F.sum("n_phone").alias("n_phone"),
        F.sum(F.length("t") - F.length("redacted_text")).alias("chars_removed"),
    )


@register(
    "repetition_profile",
    oracle=r"""
    WITH t AS (
        SELECT source,
               list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS w
        FROM documents
    ), r AS (
        SELECT source,
               CASE WHEN len(w) > 0
                    THEN len(list_distinct(w))::DOUBLE / len(w) END AS d1,
               CASE WHEN len(w) >= 2 THEN
                   len(list_distinct(list_transform(
                       generate_series(1, len(w) - 1),
                       i -> w[i] || ' ' || w[i+1])))::DOUBLE / (len(w) - 1)
               ELSE 1.0 END AS d2
        FROM t
    )
    SELECT source,
           count(*) AS n_docs,
           round(avg(d1), 6) AS avg_distinct_word_ratio,
           round(avg(d2), 6) AS avg_distinct_bigram_ratio,
           sum(CASE WHEN d1 < 0.4 OR d2 < 0.6 THEN 1 ELSE 0 END)::BIGINT
               AS n_repetitive
    FROM r
    GROUP BY source
    """,
    description="Gopher-style repetition signals per source: duplicate-word "
    "and duplicate-bigram fractions computed as higher-order-function "
    "projections (array_distinct/transform — NO explode shuffle), flags at "
    "d1<0.4 / d2<0.6. The scale-correct formulation: at 100 TB each document "
    "is scored inside the scan stage.",
)
def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = with_repetition_stats(docs, "text")
    return stats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("distinct_word_ratio"), 6).alias("avg_distinct_word_ratio"),
        F.round(F.avg("distinct_bigram_ratio"), 6).alias("avg_distinct_bigram_ratio"),
        F.sum(F.col("repetitive").cast("long")).alias("n_repetitive"),
    )


@register(
    "tfidf_top_terms",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(list_filter(string_split_regex(text, '\s+'),
                                  x -> len(x) > 0)) AS word
        FROM documents
    ), tfreq AS (
        SELECT lang, word, count(*) AS tf_count FROM tok GROUP BY 1, 2
    ), dfreq AS (
        SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), scored AS (
        SELECT tfreq.lang, tfreq.word, tfreq.tf_count,
               round(tfreq.tf_count
                     * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 6)
                   AS tfidf
        FROM tfreq JOIN dfreq ON tfreq.word = dfreq.word CROSS JOIN n
    )
    SELECT lang, word, tf_count, tfidf, rn::INT AS rn
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY lang ORDER BY tfidf DESC, word ASC) AS rn
        FROM scored
    )
    WHERE rn <= 5
    """,
    description="Top-5 terms per language by smoothed tf-idf "
    "(idf = ln((N+1)/(df+1)) + 1). Scores are rounded to 6 decimals BEFORE "
    "ranking so the (score DESC, word ASC) tie-break replays identically in "
    "both engines. Map-side-combined aggregations + one term-keyed shuffle "
    "join; corpus size enters as a broadcast one-row frame.",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return top_terms_by_tfidf(docs, "lang", id_col="doc_id", text_col="text", k=5)


@register(
    "boilerplate_removal_profile",
    oracle=r"""
    WITH inj AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 4 = 0
                    THEN 'subscribe to our newsletter today ' || text
               ELSE text END AS t
        FROM documents
    ), w AS (
        SELECT doc_id, source, t,
               list_filter(string_split_regex(t, '\s+'), x -> len(x) > 0) AS wl
        FROM inj
    ), tok AS (
        SELECT doc_id, i, wl[i] AS word, ((i - 1) // 5)::INT AS seg_id
        FROM w, unnest(generate_series(1, len(wl))) AS s(i)
    ), segs AS (
        SELECT doc_id, seg_id, string_agg(word, ' ' ORDER BY i) AS seg_text
        FROM tok GROUP BY 1, 2
    ), dfq AS (
        SELECT seg_text, count(DISTINCT doc_id) AS seg_df FROM segs GROUP BY 1
    ), clean AS (
        SELECT doc_id, string_agg(seg_text, ' ' ORDER BY seg_id) AS ct
        FROM (SELECT s.* FROM segs s JOIN dfq USING (seg_text) WHERE seg_df < 3)
        GROUP BY doc_id
    )
    SELECT w.source,
           count(*) AS n_docs,
           sum(CASE WHEN w.doc_id % 4 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_injected,
           sum(len(w.t) - len(coalesce(clean.ct, '')))::BIGINT AS chars_removed
    FROM w LEFT JOIN clean ON w.doc_id = clean.doc_id
    GROUP BY w.source
    """,
    description="C4-style boilerplate pruning at sub-document granularity: "
    "5-word segments occurring in >= 3 distinct documents are dropped and "
    "survivors reassembled in order. The corpus has no organic boilerplate, "
    "so both engines PREPEND the same deterministic disclaimer to every 4th "
    "document (prepended, not appended, so it lands segment-aligned); the "
    "gate verifies the removal byte-shrink agrees. Document-level dedup "
    "never sees cross-document repeated chrome — this operator is the "
    "missing granularity (operators/boilerplate.py).",
)
def q_boilerplate_removal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.boilerplate import remove_boilerplate

    docs = load_table(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.lit("subscribe to our newsletter today "), F.col("text")),
    ).otherwise(F.col("text"))
    staged = docs.select("doc_id", "source", injected.alias("t"))
    cleaned = remove_boilerplate(staged, "doc_id", "t", seg_words=5, max_doc_freq=3)
    return cleaned.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("doc_id") % 4 == 0).cast("long")).alias("n_injected"),
        F.sum(F.length("t") - F.length("clean_text")).alias("chars_removed"),
    )


def _stream_curation_oracle() -> str:
    from ..operators.pii import PII_PATTERNS

    (em, em_t), (ip, ip_t), (ph, ph_t) = PII_PATTERNS.values()
    return f"""
    WITH inj AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 3 = 0
                    THEN text || ' contact u' || doc_id::VARCHAR || '@example.com'
               ELSE text END AS t
        FROM documents
    ), red AS (
        SELECT source, t,
               regexp_replace(regexp_replace(regexp_replace(t,
                   '{em}', '{em_t}', 'g'),
                   '{ip}', '{ip_t}', 'g'),
                   '{ph}', '{ph_t}', 'g') AS ct
        FROM inj
    )
    SELECT source,
           count(*) AS n_docs,
           sum(CASE WHEN t <> ct THEN 1 ELSE 0 END)::BIGINT AS n_redacted,
           sum(len(t) - len(ct))::BIGINT AS chars_removed
    FROM red
    GROUP BY source
    """


@register(
    "stream_pii_curation_round_trip",
    oracle=_stream_curation_oracle(),
    description="Text curation as a REAL Structured Stream: the documents "
    "fixture arrives through a file source, PII redaction runs as a "
    "stream-safe projection, and curated rows land in a checkpointed parquet "
    "sink (append, availableNow) that is read back and profiled against the "
    "batch SQL oracle — gating that the curation operators compose with the "
    "streaming engine, not just batch. Deterministic email injection on "
    "every 3rd document gives the redaction signal (corpus has no organic "
    "PII).",
)
def q_stream_pii_curation_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.pii import redact_pii

    stage = tempfile.mkdtemp(prefix="docs_stream_")
    out = tempfile.mkdtemp(prefix="docs_curated_sink_")
    ckpt = tempfile.mkdtemp(prefix="docs_curated_ckpt_")
    try:
        shutil.copy(f"{sf_dir}/documents.parquet", f"{stage}/part-0.parquet")
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("source", T.StringType()),
                T.StructField("n_chars", T.LongType()),
            ]
        )
        stream = spark.readStream.schema(schema).parquet(stage)
        injected = F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.col("text"))
        curated = stream.select(
            "doc_id", "source", injected.alias("t")
        ).withColumn("ct", redact_pii("t"))
        # Same state-partition bound as the other stream-mode contracts
        # (conf pinned at stream start, restored for batch queries).
        with overridden(spark, STREAM_STATE_PARTITIONS):
            q = (
                curated.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        back = spark.read.parquet(out)
        result = back.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("t") != F.col("ct")).cast("long")).alias("n_redacted"),
            F.sum(F.length("t") - F.length("ct")).alias("chars_removed"),
        )
        # Eager: the sink/checkpoint dirs are removed on return.
        return pin(result, eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def _blocklist_oracle() -> str:
    from ..operators.content_filter import blocklist_pattern

    pat = blocklist_pattern(["vector", "dup", "spill"])
    return f"""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN regexp_matches(text, '{pat}') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_blocked,
           CAST(sum(CASE WHEN regexp_matches(text, '{pat}') THEN 0 ELSE 1 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN regexp_matches(text, '{pat}') THEN 0 ELSE n_chars END)
                AS BIGINT) AS kept_chars
    FROM documents
    GROUP BY lang
    """


@register(
    "blocklist_filter_profile",
    oracle=_blocklist_oracle(),
    description="Blocklist content filter (operators/content_filter.py): the "
    "whole term list compiles into ONE alternation regex evaluated by a "
    "single codegen'd rlike projection — no UDF, no join, a pure scan "
    "filter regardless of term count (the C4 'bad words' stage shape). The "
    "oracle evaluates the IDENTICAL pattern string (Java-regex ∩ RE2 "
    "subset: escaped literals, \\b boundaries, inline (?i)) so engine and "
    "gate agree on exactly which documents match. Queued for the r6 window "
    "rotation; DuckDB-parity covered by tests/test_oracle_parity.py "
    "meanwhile.",
)
def q_blocklist_filter_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.content_filter import blocked

    docs = load_table(spark, sf_dir, "documents")
    is_hit = blocked("text", ["vector", "dup", "spill"])
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(is_hit.cast("long")).alias("n_blocked"),
        F.sum((~is_hit).cast("long")).alias("n_kept"),
        F.sum(F.when(~is_hit, F.col("n_chars")).otherwise(F.lit(0))).alias("kept_chars"),
    )


@register(
    "text_normalize_profile",
    oracle=r"""
    WITH raw AS (
        SELECT doc_id, lang,
               text || chr(7) || '  cafe' || 'e' || chr(769) AS raw
        FROM documents
    ), norm AS (
        SELECT doc_id, lang,
               trim(regexp_replace(
                   nfc_normalize(regexp_replace(regexp_replace(raw,
                       '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                       '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g')),
                   '[ \t\n\r]+', ' ', 'g')) AS text_norm
        FROM raw
    )
    SELECT lang,
           count(*) AS n_rows,
           CAST(((sum(CAST(doc_id AS HUGEINT)) % 2305843009213693952)
                 + 2305843009213693952) % 2305843009213693952 AS BIGINT) AS id_sum,
           CAST(sum((('0x' || substr(md5(concat_ws(chr(31),
                 coalesce(CAST(text_norm AS VARCHAR), chr(0) || 'NULL' || chr(0)))),
                 1, 15))::BIGINT)::HUGEINT) % 2305843009213693952 AS BIGINT)
               AS content_checksum
    FROM norm
    GROUP BY lang
    """,
    description="Unicode text normalization (operators/normalize_text.py) "
    "through the gate: every document gets a deterministic denormalized "
    "suffix (a BEL control char, doubled spaces, and e + COMBINING ACUTE), "
    "then the canonical strip-controls -> NFC -> collapse-whitespace pass "
    "runs in both engines — Spark via codegen'd regexp_replace around an "
    "Arrow pandas_udf with an ASCII fast path, DuckDB via nfc_normalize — "
    "and the per-lang release-manifest checksum of the NORMALIZED text "
    "must agree. A one-codepoint drift (composition table, regex class "
    "membership, trim semantics) breaks the hash; the checksum machinery "
    "is shared with release_manifest, so 'same text' means the same thing "
    "here as in the publish gate.",
)
def q_text_normalize_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.normalize_text import normalize_text
    from ..operators.snapshot import release_manifest

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "raw",
        F.concat(F.col("text"), F.lit("\x07  cafe"), F.lit("e\u0301")),
    )
    norm = normalize_text(docs, "raw", out_col="text_norm")
    return release_manifest(norm, "lang", "doc_id", ["text_norm"])


@register(
    "drift_psi_contract",
    oracle="""
    WITH ref AS (
        SELECT l_extendedprice AS v FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1996-01-01'
    ),
    cur AS (
        SELECT l_extendedprice AS v FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    ),
    b AS (
        SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q
        FROM ref
    ),
    rbin AS (
        SELECT (CASE WHEN v > q[1] THEN 1 ELSE 0 END + CASE WHEN v > q[2] THEN 1 ELSE 0 END + CASE WHEN v > q[3] THEN 1 ELSE 0 END + CASE WHEN v > q[4] THEN 1 ELSE 0 END + CASE WHEN v > q[5] THEN 1 ELSE 0 END + CASE WHEN v > q[6] THEN 1 ELSE 0 END + CASE WHEN v > q[7] THEN 1 ELSE 0 END + CASE WHEN v > q[8] THEN 1 ELSE 0 END + CASE WHEN v > q[9] THEN 1 ELSE 0 END) AS bin FROM ref, b
    ),
    cbin AS (
        SELECT (CASE WHEN v > q[1] THEN 1 ELSE 0 END + CASE WHEN v > q[2] THEN 1 ELSE 0 END + CASE WHEN v > q[3] THEN 1 ELSE 0 END + CASE WHEN v > q[4] THEN 1 ELSE 0 END + CASE WHEN v > q[5] THEN 1 ELSE 0 END + CASE WHEN v > q[6] THEN 1 ELSE 0 END + CASE WHEN v > q[7] THEN 1 ELSE 0 END + CASE WHEN v > q[8] THEN 1 ELSE 0 END + CASE WHEN v > q[9] THEN 1 ELSE 0 END) AS bin FROM cur, b
    ),
    rc AS (SELECT bin, count(*) AS n_ref FROM rbin GROUP BY 1),
    cc AS (SELECT bin, count(*) AS n_cur FROM cbin GROUP BY 1),
    j AS (
        SELECT coalesce(rc.bin, cc.bin) AS bin,
               coalesce(n_ref, 0) AS n_ref,
               coalesce(n_cur, 0) AS n_cur
        FROM rc FULL OUTER JOIN cc ON rc.bin = cc.bin
    )
    SELECT bin, n_ref, n_cur,
           round((greatest(n_cur / (SELECT count(*)::DOUBLE FROM cur), 1e-6)
                  - greatest(n_ref / (SELECT count(*)::DOUBLE FROM ref), 1e-6))
                 * ln(greatest(n_cur / (SELECT count(*)::DOUBLE FROM cur), 1e-6)
                      / greatest(n_ref / (SELECT count(*)::DOUBLE FROM ref), 1e-6)), 6)
               AS psi_term
    FROM j
    """,
    description="Distribution drift between dataset snapshots "
    "(operators/drift.py): PSI of l_extendedprice across a shipdate "
    "split, with decile bounds fitted on the REFERENCE snapshot only "
    "(fitting per snapshot would hide exactly the drift being "
    "measured) and both sides binned by the same bounds map-only. "
    "Counts are exact integers and the PSI arithmetic is the same "
    "double expression in both engines, so per-bin psi_terms "
    "hash-match at 6 decimals. Each snapshot is scanned once; "
    "everything after the two count aggregations is bin-cardinality.",
)
def q_drift_psi_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import psi_numeric

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_shipdate"
    )
    cutoff = "1996-01-01"
    ref = li.filter(F.col("l_shipdate") < cutoff)
    cur = li.filter(F.col("l_shipdate") >= cutoff)
    profile, _bounds = psi_numeric(ref, cur, "l_extendedprice", n_bins=10)
    return profile.select(
        "bin", "n_ref", "n_cur", F.round("psi_term", 6).alias("psi_term")
    )


# c(alpha=0.05) = sqrt(-ln(alpha/2)/2), precomputed driver-side to ONE
# double literal and embedded in BOTH engines' expressions: ln is
# libm-implementation-dependent (a 1-ULP ln divergence between DuckDB
# and the JVM would flip the hash), while sqrt / the divisions are IEEE
# exact-rounded and therefore engine-portable.
_KS_C_ALPHA = 1.3581015157406195

_KS_ORACLE = """
    WITH ev AS (
        SELECT event_type,
               round(value, 0) AS x,
               CASE WHEN dayofweek(ts) + 1 IN (1, 7)
                    THEN 'weekend' ELSE 'weekday' END AS side
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
          AND event_type IS NOT NULL
    ),
    cells AS (
        SELECT event_type, x,
               sum(CASE WHEN side = 'weekday' THEN 1 ELSE 0 END) AS c_ref,
               sum(CASE WHEN side = 'weekend' THEN 1 ELSE 0 END) AS c_cur
        FROM ev GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, CAST(sum(c_ref) AS BIGINT) AS n_ref,
               CAST(sum(c_cur) AS BIGINT) AS n_cur
        FROM cells GROUP BY 1
    ),
    ecdf AS (
        SELECT g.event_type, g.x,
               sum(c.c_ref) AS cum_ref, sum(c.c_cur) AS cum_cur
        FROM (SELECT DISTINCT event_type, x FROM cells) g
        JOIN cells c ON c.event_type = g.event_type AND c.x <= g.x
        GROUP BY 1, 2
    ),
    d AS (
        SELECT e.event_type,
               max(abs(CAST(e.cum_ref AS DOUBLE) / CAST(t.n_ref AS DOUBLE)
                       - CAST(e.cum_cur AS DOUBLE) / CAST(t.n_cur AS DOUBLE)))
                   AS d_raw
        FROM ecdf e JOIN tot t USING (event_type)
        WHERE t.n_ref > 0 AND t.n_cur > 0
        GROUP BY 1
    )
    SELECT t.event_type, t.n_ref, t.n_cur,
           round(d.d_raw, 6) AS ks_stat,
           round(CASE WHEN t.n_ref > 0 AND t.n_cur > 0 THEN
                 CAST({c} AS DOUBLE)
                 * sqrt((CAST(t.n_ref AS DOUBLE) + CAST(t.n_cur AS DOUBLE))
                        / (CAST(t.n_ref AS DOUBLE) * CAST(t.n_cur AS DOUBLE)))
                 END, 6) AS d_crit,
           d.d_raw > CASE WHEN t.n_ref > 0 AND t.n_cur > 0 THEN
                 CAST({c} AS DOUBLE)
                 * sqrt((CAST(t.n_ref AS DOUBLE) + CAST(t.n_cur AS DOUBLE))
                        / (CAST(t.n_ref AS DOUBLE) * CAST(t.n_cur AS DOUBLE)))
                 END AS drifted
    FROM tot t LEFT JOIN d ON d.event_type = t.event_type
""".format(c=repr(_KS_C_ALPHA))


@register(
    "ks_drift_contract",
    oracle=_KS_ORACLE,
    description="Two-sample Kolmogorov-Smirnov drift test "
    "(operators/hyptest.py:ks_two_sample, Smirnov 1939 / Massey JASA "
    "1951): per event_type, the exact maximum ECDF gap between the "
    "weekday and weekend value distributions (rounded to integers -- "
    "the explicit tie policy), with the asymptotic alpha=0.05 critical "
    "value c(a)*sqrt((n1+n2)/(n1*n2)) and the drifted decision on the "
    "UNROUNDED pair. The distribution-shape sibling of the PSI gate: "
    "PSI reads binned mass shift, KS reads the supremum ECDF distance. "
    "D is exact and bit-reproducible across partitionings -- every "
    "input is an integer cumulative count divided by an integer total "
    "(no float-sum accumulation anywhere); c(alpha) is ONE precomputed "
    "double literal in both engines because ln is libm-dependent while "
    "sqrt/divide are IEEE exact-rounded. Engine shape: ONE (key, "
    "value) contingency agg (map-side combined), per-key cumulative "
    "windows over the ~290-value grid (guarded at max_distinct), "
    "key-cardinality reduce. The oracle is DIFFERENT ALGEBRA by "
    "construction: it evaluates both ECDFs via a non-equi self-join "
    "on the distinct-value grid (no window functions at all), so a "
    "cumsum-window bug cannot self-confirm. Hand-worked D=1/3 fixture "
    "+ pure-Python double-loop twin in tests/test_ks.py.",
)
def q_ks_drift_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hyptest import ks_two_sample

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    sided = ev.withColumn(
        "side",
        F.when(F.dayofweek("ts").isin(1, 7), F.lit("weekend")).otherwise(
            F.lit("weekday")
        ),
    )
    return ks_two_sample(
        sided,
        "value",
        "side",
        "weekday",
        "weekend",
        key_cols=["event_type"],
        round_decimals=0,
    )


@register(
    "k_anonymity_contract",
    oracle="""
    WITH cls AS (
        SELECT lang, source, n_chars // 500 AS size_band,
               count(*) AS c
        FROM documents GROUP BY 1, 2, 3
    )
    SELECT 'raw' AS stage,
           CAST(coalesce(sum(c), 0) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(c) AS BIGINT) AS min_class_size,
           5 AS k,
           CAST(coalesce(sum(CASE WHEN c < 5 THEN c ELSE 0 END), 0)
                AS BIGINT) AS n_rows_at_risk,
           round(sum(CASE WHEN c < 5 THEN c ELSE 0 END)::DOUBLE
                 / sum(c), 6) AS at_risk_frac,
           coalesce(min(c) >= 5, TRUE) AS is_k_anonymous
    FROM cls
    UNION ALL
    SELECT 'suppressed' AS stage,
           CAST(coalesce(sum(c), 0) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(c) AS BIGINT) AS min_class_size,
           5 AS k,
           CAST(coalesce(sum(CASE WHEN c < 5 THEN c ELSE 0 END), 0)
                AS BIGINT) AS n_rows_at_risk,
           round(sum(CASE WHEN c < 5 THEN c ELSE 0 END)::DOUBLE
                 / sum(c), 6) AS at_risk_frac,
           coalesce(min(c) >= 5, TRUE) AS is_k_anonymous
    FROM cls WHERE c >= 5
    """,
    description="k-anonymity risk profile + suppression enforcement "
    "(operators/anonymity.py:k_anonymity_profile,"
    "suppress_small_classes) over the documents release with "
    "quasi-identifiers (lang, source, 500-char size band): the raw "
    "release has singleton equivalence classes (re-identifiable rows), "
    "the suppressed twin drops every class under k=5 and must profile "
    "back as k-anonymous — both stages in one unioned readout. ONE "
    "map-side-combined groupBy per stage at class cardinality, risk "
    "rollup on the class frame; suppression is one agg + one "
    "AQE-chosen join back (deliberately un-hinted: the surviving-class "
    "frame can approach n_rows/k for near-unique quasi-identifiers). "
    "The oracle restates suppression as a class-frame filter — "
    "suppression keeps or drops whole classes, so no join is needed "
    "on the SQL side.",
)
def q_k_anonymity_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.anonymity import (
        k_anonymity_profile,
        suppress_small_classes,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.floor(F.col("n_chars") / F.lit(500)).alias("size_band"),
    )
    quasi = ["lang", "source", "size_band"]
    raw = k_anonymity_profile(docs, quasi, k=5)
    sup = k_anonymity_profile(
        suppress_small_classes(docs, quasi, k=5), quasi, k=5
    )
    return raw.select(F.lit("raw").alias("stage"), "*").unionByName(
        sup.select(F.lit("suppressed").alias("stage"), "*")
    )


@register(
    "l_diversity_contract",
    oracle="""
    WITH cells AS (
        SELECT source, n_chars // 500 AS size_band, lang,
               CAST(count(*) AS BIGINT) AS c
        FROM documents
        WHERE lang IS NOT NULL
        GROUP BY 1, 2, 3
    ), cls AS (
        SELECT source, size_band,
               sum(c) AS n,
               CAST(count(*) AS BIGINT) AS d,
               ln(sum(c)::DOUBLE)
                 - sum(c::DOUBLE * ln(c::DOUBLE)) / sum(c)::DOUBLE AS h
        FROM cells GROUP BY 1, 2
    )
    SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_classes,
           min(d) AS min_distinct_sensitive,
           2 AS l,
           CAST(coalesce(sum(CASE WHEN d < 2 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_classes_below,
           CAST(coalesce(sum(CASE WHEN d < 2 THEN n ELSE 0 END), 0)
                AS BIGINT) AS n_rows_at_risk,
           round(sum(CASE WHEN d < 2 THEN n ELSE 0 END)::DOUBLE
                 / sum(n), 6) AS at_risk_frac,
           coalesce(min(d) >= 2, TRUE) AS is_l_diverse,
           round(min(h), 6) AS min_entropy,
           round(exp(min(h)), 6) AS entropy_l
    FROM cls
    """,
    description="l-diversity risk profile (operators/anonymity.py:"
    "l_diversity_profile, Machanavajjhala et al. ICDE'06): the "
    "documents release profiled with quasi-identifiers (source, "
    "500-char size band) and language as the sensitive attribute — "
    "k-anonymity's blind spot is a big-but-pure class, so the gate "
    "reports the min DISTINCT sensitive count per class (distinct-l), "
    "the violating class/row counts, AND the entropy variant "
    "(min −Σ p·ln p over classes, entropy_l = exp of it) that a "
    "49/1-skewed class fails even with 2 distinct values. Entropy "
    "folds from cell counts as ln(n) − Σ c·ln c / n — no p "
    "materialized. ONE groupBy at (class × sensitive) cell "
    "cardinality, one rollup to classes, one to the answer row; no "
    "joins, no windows over raw rows. NULL sensitive rows are "
    "excluded (they disclose nothing); quasi NULLs group as their own "
    "level (the k-anonymity posture). The oracle restates the "
    "identical two-level rollup; the hand-worked 3-class fixture "
    "(min_entropy 0, entropy_l 1 on a pure class) lives in "
    "tests/test_ldiversity.py.",
)
def q_l_diversity_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.anonymity import l_diversity_profile

    docs = load_table(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.floor(F.col("n_chars") / F.lit(500)).alias("size_band"),
    )
    return l_diversity_profile(
        docs, ["source", "size_band"], "lang", l=2
    )


@register(
    "ccnet_bucket_contract",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\s+'),
                           w -> len(w) > 0) AS w
        FROM documents
    ), tok AS (
        SELECT doc_id, lang, unnest(w) AS word FROM toks
    ), counts AS (
        SELECT word, count(*) AS c FROM tok GROUP BY 1
    ), vocab AS (
        SELECT word, c FROM counts ORDER BY c DESC, word ASC LIMIT 20
    ), consts AS (
        SELECT sum(c) AS n_in, count(*) AS v FROM vocab
    ), scored AS (
        SELECT t.doc_id, t.lang,
               ln((coalesce(vb.c, 0) + 1)::DOUBLE / (k.n_in + k.v + 1)) AS lp,
               (vb.c IS NULL)::INT AS oov
        FROM tok t LEFT JOIN vocab vb ON t.word = vb.word
        CROSS JOIN consts k
    ), doc AS (
        SELECT doc_id, lang,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(oov) AS BIGINT) AS n_oov,
               round(-avg(lp), 6) AS nll
        FROM scored GROUP BY 1, 2
    ), bounds AS (
        SELECT lang,
               quantile_cont(nll, 1.0/3.0) AS b1,
               quantile_cont(nll, 2.0/3.0) AS b2
        FROM doc GROUP BY 1
    ), bucketed AS (
        SELECT d.*,
               CASE WHEN d.nll <= b.b1 THEN 'head'
                    WHEN d.nll <= b.b2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM doc d JOIN bounds b ON d.lang IS NOT DISTINCT FROM b.lang
    )
    SELECT lang, bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(min(nll), 6) AS min_nll,
           round(max(nll), 6) AS max_nll,
           round(avg(nll), 4) AS avg_nll,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_oov) AS BIGINT) AS total_oov
    FROM bucketed GROUP BY 1, 2
    """,
    description="CCNet-style head/middle/tail perplexity partition "
    "(operators/ccnet.py:perplexity_partition, Wenzek et al. LREC'20): "
    "every document scored with the corpus-fit add-one unigram NLL "
    "(top-20 vocab so the OOV bucket actually fires on this fixture — "
    "the lm_quality_by_lang constants), then EACH LANGUAGE split at "
    "its own NLL terciles into the head (most fluent) / middle / tail "
    "buckets downstream pipelines keep, downsample, or drop; readout "
    "is the per-(lang, bucket) census. NLLs round to 6 decimals BEFORE "
    "the quantile fit and the bucket compare so membership is "
    "ULP-stable across engines; exact percentile matches DuckDB "
    "quantile_cont by definition (the binning precedent). Scale shape: "
    "scoring is the lm_score broadcast-vocab join (no corpus shuffle), "
    "bounds are ONE percentile agg at language cardinality broadcast "
    "back, bucketing is a map-only when-chain, the census one "
    "aggregation. The hand-worked 6-doc fixture (p(aa)=13/26, forced "
    "2/2/2 terciles) lives in tests/test_ccnet.py.",
)
def q_ccnet_bucket_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ccnet import perplexity_partition

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    parts = perplexity_partition(docs, vocab_size=20)
    return parts.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("nll"), 6).alias("min_nll"),
        F.round(F.max("nll"), 6).alias("max_nll"),
        F.round(F.avg("nll"), 4).alias("avg_nll"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_oov").alias("total_oov"),
    )
