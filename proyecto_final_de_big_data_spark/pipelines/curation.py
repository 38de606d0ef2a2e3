"""Document-curation pipeline: the training-data analogue of the
trips ETL (``pipelines/etl.py``) — compose the curation operators into
one configured pass: PII redaction → blocklist content filtering →
quality/repetition filtering → duplicate-SPAN stripping (optional,
ExactSubstr posture — repeated substrings survive only in their
smallest-id document, so downstream dedup sees the cleaned text) →
dedup (exact, incremental vs an ingested corpus, or MinHash near-dup
with min-id/keep-best survivors) → per-group contribution cap →
token-budget selection (best-quality bins per stratum until a token
budget fills) → stratum mixing (temperature downsampling or epoch
upsampling) → deterministic split (by id, or cluster-safe by near-dup
component so surviving near-duplicates never straddle train/eval).

Stage order is load-bearing for scale: the projection-only stages
(PII regexes, repetition signals, quality score — all fused into the
scan) run FIRST so the shuffling stages (dedup digest groupBy) see the
already-shrunk corpus; mixing and split are again pure projections on
the survivors.

Cache lifetime (utils/caching.py): dedup references its input twice
(digest groupBy + semi-join back) and mixing references ITS input
twice (rates aggregation + keep filter) — the inputs differ, so each
multi-reference stage pins its own input. A pin lives until the
innermost enclosing ``scope()`` exits:

- ``curate_documents`` returns the curated frame lazily; the caller's
  scope releases the stage pins after its last action on the frame.
- ``run_curation`` (the production/CLI path) opens its own scope around
  the parquet sink write — the one real materialization — so the pins
  are released before it returns. The curated corpus itself is never
  pinned.

Every stage is individually oracle-gated by its own registry query
(pii_redaction_profile, repetition_profile, dedup_exact_*,
incremental_dedup_profile, minhash_recall + cluster_keep_best_profile,
source_cap_profile, token_budget_selection_profile,
temperature_mix_profile, epoch_upsample_profile,
doc_hash_split_profile, cluster_safe_split_profile, and the span
stage by duplicate_span_removal_contract); the composition itself is
gated end-to-end by curate_documents_contract (which runs with the
cap stage enabled) and curate_span_strip_contract (span-strip →
exact dedup → split, pinning that quote-only variants collapse).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.content_filter import drop_blocked
from ..operators.dedup import exact_dedup, incremental_dedup, minhash_dedup_pairs
from ..operators.graph import cluster_dedup_keep, cluster_dedup_keep_best
from ..operators.mixing import cap_per_group, epoch_upsample, temperature_mix
from ..operators.pii import redact_pii
from ..operators.quality import with_repetition_stats
from ..operators.split import cluster_safe_split, hash_split
from ..operators.text import quality_score
from ..utils.caching import pin, scope

_DEDUP_MODES = ("exact", "incremental", "minhash", "none")
_MIX_MODES = ("temperature", "epochs")
_SPLIT_MODES = ("hash", "cluster_safe")


@dataclass
class CurationConfig:
    id_col: str = "doc_id"
    text_col: str = "text"
    redact_pii: bool = True
    min_quality: float | None = None  # drop docs scoring below (0..1)
    # strip cross-document duplicated SPANS (operators/spandedup.py —
    # the Lee et al. 2022 ExactSubstr posture): every repeated raw
    # substring of length >= span_min_len survives in exactly its
    # smallest-id document. Runs AFTER the projection-only filters
    # (the gram index sees the shrunk corpus) and BEFORE whole-doc
    # dedup, so documents that become byte-identical once their quoted
    # spans are stripped collapse in the dedup stage. Requires
    # orderable ids (the keeper rule sorts on them).
    strip_spans: bool = False
    span_min_len: int = 50
    # winnowing prefilter for the span stage (lossless for natural
    # text; pass False for adversarial corpora — see spandedup.py)
    span_prefilter: bool = True
    # drop docs matching any blocklist term (C4-style "bad words" stage;
    # one alternation regex, a pure scan filter)
    blocklist_terms: list[str] | None = None
    drop_repetitive: bool = False
    dedup: str = "exact"  # "exact" | "incremental" | "minhash" | "none"
    # minhash mode: LSH near-dup pairs -> connected components -> one
    # survivor per cluster (highest dedup_score_col, or min id when None)
    minhash_threshold: float = 0.7
    dedup_score_col: str | None = None
    # hard per-group contribution cap (Gopher-style per-domain bound),
    # applied to dedup survivors BEFORE mixing: the cap bounds what any
    # one source may contribute; mixing then rescales strata on the
    # capped corpus. cap_score_col=None caps by ascending id.
    cap_group_cols: list[str] | None = None
    cap_max_rows: int = 0
    cap_score_col: str | None = None
    # quality-threshold token-budget selection (operators/selection.py),
    # applied to the capped corpus BEFORE mixing: per stratum keep the
    # best-quality score bins until select_token_budget tokens. Score
    # and token columns default to the built-in quality_score /
    # token_count expressions over text_col when left None.
    select_stratum_col: str | None = None
    select_token_budget: int = 0
    select_score_col: str | None = None
    select_token_col: str | None = None
    select_include_boundary: bool = True
    mix_stratum_col: str | None = None
    mix_alpha: float = 0.5
    # "temperature" discards rows of over-represented strata;
    # "epochs" preserves every row and REPEATS rare strata instead
    # (adds an `epoch` copy-index column — see mixing.epoch_upsample).
    mix_mode: str = "temperature"
    split_fractions: dict[str, float] | None = field(
        default_factory=lambda: {"train": 0.9, "eval": 0.1}
    )
    # "hash" splits by document id; "cluster_safe" recomputes MinHash
    # near-dup pairs on the corpus entering the split and keys the split
    # on the pair graph's connected components, so near-duplicates that
    # SURVIVED curation (e.g. dedup='exact'/'none', or pairs below the
    # dedup threshold) still cannot straddle train/eval.
    split_mode: str = "hash"
    # Parallelism for the projection-heavy head stages (PII regexes,
    # repetition signals, quality score — O(len) work per character):
    # scan parallelism is sized to input BYTES, so a corpus that fits
    # one scan split would run all of them on one core (guide §2.5 —
    # repartition after a too-coarse read). None = hash-repartition the
    # input by id to the session default parallelism before the first
    # heavy stage; an explicit count overrides; 0 keeps the input
    # partitioning — the right setting at cluster scale, where the scan
    # is already wider than core count and the shuffle would be waste.
    input_spread_partitions: int | None = None


def curate_documents(
    df: DataFrame,
    cfg: CurationConfig,
    historical: DataFrame | None = None,
) -> DataFrame:
    """Run the configured curation pass; returns the lazy curated frame
    (with ``split`` column when ``split_fractions`` is set). Its stage
    pins live until the caller's ``scope()`` exits (utils/caching.py).

    Validation happens before any pin so a bad config cannot leak a
    pinned frame.

    Laziness caveat: the MinHash pair stage (``dedup='minhash'`` or
    ``split_mode='cluster_safe'``) runs Spark jobs at BUILD time — the
    connected-components rounds checksum each pinned round — so those
    modes execute the upstream stages once during assembly; the stage
    pins keep that work for the final action.
    """
    if cfg.dedup not in _DEDUP_MODES:
        raise ValueError(f"unknown dedup mode {cfg.dedup!r}; use {_DEDUP_MODES}")
    if cfg.dedup == "incremental" and historical is None:
        raise ValueError("dedup='incremental' requires a historical frame")
    if cfg.dedup_score_col is not None and cfg.dedup != "minhash":
        raise ValueError("dedup_score_col applies only to dedup='minhash'")
    if cfg.mix_mode not in _MIX_MODES:
        raise ValueError(f"unknown mix mode {cfg.mix_mode!r}; use {_MIX_MODES}")
    if cfg.split_mode not in _SPLIT_MODES:
        raise ValueError(f"unknown split mode {cfg.split_mode!r}; use {_SPLIT_MODES}")
    if cfg.split_mode == "cluster_safe" and not cfg.split_fractions:
        raise ValueError("split_mode='cluster_safe' requires split_fractions")
    if cfg.strip_spans and cfg.span_min_len < 2:
        raise ValueError(
            f"strip_spans requires span_min_len >= 2, got {cfg.span_min_len}"
        )
    if cfg.strip_spans and cfg.span_prefilter and cfg.span_min_len < 8:
        # The winnowing prefilter (k=5, w=4) is only LOSSLESS when a
        # duplicated raw span normalizes to >= w+k-1 = 8 characters
        # (spandedup.py's documented guarantee); accepting a smaller
        # span_min_len with the prefilter on would silently miss spans
        # the ExactSubstr contract promises to strip.
        raise ValueError(
            f"strip_spans with the winnowing prefilter requires "
            f"span_min_len >= 8 (the w+k-1 losslessness threshold), got "
            f"{cfg.span_min_len}; pass span_prefilter=False "
            f"(--no-span-prefilter) to use brute-force indexing instead"
        )
    cap_active = bool(cfg.cap_group_cols)
    if cap_active and cfg.cap_max_rows < 1:
        raise ValueError("cap_group_cols requires cap_max_rows >= 1")
    if not cap_active and (cfg.cap_max_rows > 0 or cfg.cap_score_col is not None):
        # Mirror the dedup_score_col stance: a half-configured cap must
        # fail loudly, not ship an uncapped corpus silently.
        raise ValueError("cap_max_rows/cap_score_col require cap_group_cols")
    select_active = cfg.select_stratum_col is not None
    if select_active and cfg.select_token_budget < 1:
        raise ValueError("select_stratum_col requires select_token_budget >= 1")
    if not select_active and (
        cfg.select_token_budget > 0
        or cfg.select_score_col is not None
        or cfg.select_token_col is not None
    ):
        raise ValueError(
            "select_token_budget/select_score_col/select_token_col "
            "require select_stratum_col"
        )
    if cfg.dedup == "minhash" or cfg.split_mode == "cluster_safe":
        # The MinHash signature mapInPandas declares a long id column;
        # fail HERE with a clear message, not hours into the run with an
        # opaque Arrow conversion error. (hash_split / key_band handle
        # string ids; the near-dup path currently does not.)
        id_type = dict(df.dtypes).get(cfg.id_col)
        if id_type not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"dedup='minhash' / split_mode='cluster_safe' require an "
                f"integer id column; {cfg.id_col!r} is {id_type!r}"
            )

    out = df
    if cfg.redact_pii or cfg.min_quality is not None or cfg.drop_repetitive or cfg.strip_spans:
        from ..operators.winnow import spread_for_fanout

        out = spread_for_fanout(out, cfg.id_col, cfg.input_spread_partitions)
    if cfg.redact_pii:
        out = out.withColumn(cfg.text_col, redact_pii(cfg.text_col))
    if cfg.blocklist_terms:
        out = drop_blocked(out, cfg.text_col, cfg.blocklist_terms)
    if cfg.min_quality is not None:
        out = out.filter(quality_score(cfg.text_col) >= cfg.min_quality)
    if cfg.drop_repetitive:
        out = with_repetition_stats(out, cfg.text_col).filter(~F.col("repetitive"))
        out = out.drop("distinct_word_ratio", "distinct_bigram_ratio", "repetitive")
    if cfg.strip_spans:
        from ..operators.spandedup import strip_duplicate_spans

        # The span stage reads its input three ways (winnowing
        # candidate pass, gram-position index, and the strip join back
        # onto the full frame) — pin the filtered corpus so the
        # projection stages above don't re-run per reference. The
        # stripped text REPLACES text_col so downstream dedup/selection
        # see the cleaned corpus (quote-only differences collapse in
        # the dedup stage that follows).
        out = pin(out)
        out = strip_duplicate_spans(
            out,
            cfg.id_col,
            cfg.text_col,
            min_span=cfg.span_min_len,
            prefilter=cfg.span_prefilter,
            out_col="__span_clean",
        )
        out = out.withColumn(cfg.text_col, F.col("__span_clean")).drop(
            "__span_clean"
        )
    if cfg.dedup != "none" or cap_active or cfg.mix_stratum_col is not None:
        out = pin(out)  # the first multi-reference stage reads this 2-3×
    if cfg.dedup == "exact":
        out = exact_dedup(out, [cfg.text_col], cfg.id_col)
    elif cfg.dedup == "incremental":
        out = incremental_dedup(out, historical, [cfg.text_col], cfg.id_col)
    elif cfg.dedup == "minhash":
        # Near-dup pairs at edge-list scale; the keep-list join reads
        # `out` again on top of the signature pass — the pin above
        # covers both references.
        pairs = minhash_dedup_pairs(
            out, cfg.id_col, cfg.text_col, threshold=cfg.minhash_threshold
        )
        if cfg.dedup_score_col is not None:
            out = cluster_dedup_keep_best(out, pairs, cfg.id_col, cfg.dedup_score_col)
        else:
            out = cluster_dedup_keep(out, pairs, cfg.id_col)
    if cap_active:
        if cfg.dedup != "none":
            # The cap reads the DEDUP OUTPUT three times (count pass +
            # both split probes); Spark does not unify the duplicate
            # dedup subplans — pin it.
            out = pin(out)
        out = cap_per_group(
            out, cfg.cap_group_cols, cfg.id_col, cfg.cap_max_rows, cfg.cap_score_col
        )
    if select_active:
        from ..operators.selection import select_within_token_budget
        from ..operators.text import token_count

        if cfg.dedup != "none" or cap_active:
            # Selection reads its input twice (per-bin threshold
            # aggregation + the keep filter) — pin upstream shuffle work.
            out = pin(out)
        # Derived score/token columns are materialized under reserved
        # names so the selection join sees plain columns, then dropped.
        score_col = cfg.select_score_col or "__select_score"
        token_col = cfg.select_token_col or "__select_tok"
        if cfg.select_score_col is None:
            out = out.withColumn(score_col, quality_score(cfg.text_col))
        if cfg.select_token_col is None:
            out = out.withColumn(token_col, token_count(cfg.text_col).cast("long"))
        out = select_within_token_budget(
            out,
            cfg.select_stratum_col,
            score_col,
            token_col,
            budget=cfg.select_token_budget,
            include_boundary=cfg.select_include_boundary,
        )
        out = out.drop("__select_score", "__select_tok")
    if cfg.mix_stratum_col is not None:
        if cfg.dedup != "none" or cap_active or select_active:
            # Mixing reads ITS input twice; its rates branch prunes
            # columns differently from its keep branch, so the upstream
            # subplans would otherwise run twice — pin it too.
            out = pin(out)
        if cfg.mix_mode == "temperature":
            out = temperature_mix(
                out, cfg.mix_stratum_col, cfg.id_col, alpha=cfg.mix_alpha
            ).drop("n_docs", "scaled_rate")
        else:
            out = epoch_upsample(
                out, cfg.mix_stratum_col, cfg.id_col, alpha=cfg.mix_alpha
            )
    if cfg.split_fractions:
        if cfg.split_mode == "cluster_safe" and cfg.dedup == "minhash":
            # Provably empty pair set: MinHash is deterministic and both
            # stages share cfg.minhash_threshold, so every pair the
            # split pass could find already collapsed its component to
            # one survivor in the dedup stage. cluster_safe_split on an
            # empty edge list IS hash_split (unit-pinned) — skip the
            # full-corpus signature/banding/verify recomputation.
            out = hash_split(out, cfg.id_col, cfg.split_fractions)
        elif cfg.split_mode == "cluster_safe":
            # Pairs recomputed on the corpus ENTERING the split (its own
            # signature pass + the keyed join back) — pin the input so
            # the whole upstream pipeline doesn't run twice. The
            # signature pass sees each doc ONCE even after epoch
            # upsampling (dropDuplicates on the id): every copy of a doc
            # is content-identical, so signing copies would only multiply
            # the Arrow pass and fan the verify joins out k_a*k_b.
            out = pin(out)
            pairs = minhash_dedup_pairs(
                out.select(cfg.id_col, cfg.text_col).dropDuplicates([cfg.id_col]),
                cfg.id_col,
                cfg.text_col,
                threshold=cfg.minhash_threshold,
            )
            out = cluster_safe_split(out, pairs, cfg.id_col, cfg.split_fractions)
        else:
            out = hash_split(out, cfg.id_col, cfg.split_fractions)
    return out


def run_curation(
    df: DataFrame,
    cfg: CurationConfig,
    output_root: str,
    historical: DataFrame | None = None,
) -> None:
    """Production path: build lazily, materialize ONCE by writing the
    parquet sink, release the stage pins. The curated corpus itself is
    never pinned."""
    with scope():
        write_curated_documents(curate_documents(df, cfg, historical), output_root)


def write_curated_documents(df: DataFrame, root: str) -> None:
    """Partitioned-by-split parquet sink (plain parquet when no split
    column — e.g. ``split_fractions=None``)."""
    writer = df.write.mode("overwrite")
    if "split" in df.columns:
        writer = writer.partitionBy("split")
    writer.parquet(root)
