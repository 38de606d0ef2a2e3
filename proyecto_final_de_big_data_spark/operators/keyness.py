"""Dunning log-likelihood-ratio keyness — the corpus-linguistics
"what makes this slice different" readout (Dunning, "Accurate Methods
for the Statistics of Surprise and Coincidence", Computational
Linguistics 1993 — public literature): for every term, the G² statistic
comparing its rate in a FOCUS corpus slice against the rest, ranked to
surface the slice's most characteristic vocabulary.

Why a training-data engine needs it: before up/down-weighting a source,
language, or cluster (mixing/DSIR), you inspect WHAT text it actually
contributes — keyness is that inspection, and unlike raw frequency it
is calibrated (a term 2× over-represented across millions of tokens
scores far above a term 2× over-represented across ten). The standard
pairing: run it per near-dup cluster, per CCNet bucket, per source.

Statistic per term (a = focus count, b = rest count, A/B = total focus
/ rest tokens):

    E1 = A·(a+b)/(A+B)      E2 = B·(a+b)/(A+B)
    G² = 2·( a·ln(a/E1) + b·ln(b/E2) )      (x·ln(x/E) := 0 at x = 0)

Only OVER-used terms are ranked (a/A > b/B strictly — the keyness
direction); under-used terms are the other slice's keyness.

Scale shape (100 TB): one lowercase-split explode feeding ONE
term-keyed conditional aggregation (map-side combined) — the tf-idf
shuffle shape; corpus totals are a 1-row scalar crossJoin (house
pattern); the top-k compiles to TakeOrderedAndProject (never a global
sort or a vocabulary-wide window — rank is assigned AFTER the k-row
limit). All counts are integers; the only floats are the two ln terms,
evaluated in one shared operation order so a SQL oracle matches
bit-for-bit.

Extension surface — the reference has no text-analysis stage
(`/root/reference` computes only descriptive marts); extension per
SURVEY §8 next to tf-idf / LM scoring / CCNet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..utils.caching import pin
from .normalize_text import ws_lower_tokens


def llr_keyness(
    docs: DataFrame,
    group_col: str,
    text_col: str,
    focus,
    k: int = 20,
    min_count: int = 1,
    decimals: int = 6,
) -> DataFrame:
    """Top-``k`` terms most characteristic of the ``focus`` group:
    ``(term, n_focus, n_rest, llr, rank)`` ordered by (G² desc, term
    asc — the deterministic tie-break). Terms with fewer than
    ``min_count`` total occurrences are dropped BEFORE ranking (noise
    floor); NULL-text documents contribute no tokens; documents whose
    group is NULL count as rest (they are not the focus).

    Hard-fails IN-PLAN (the modularity/series raise_error posture —
    the operator stays lazy, nothing collects at construction) when
    the focus side or the rest side has zero tokens: a one-sided
    corpus has no keyness, and E1/E2 would divide by zero. The check
    rides the 1-row totals frame the statistic crossJoins anyway.
    """
    if k < 1:
        raise ValueError(f"llr_keyness needs k >= 1; got {k}")
    if min_count < 1:
        raise ValueError(f"llr_keyness needs min_count >= 1; got {min_count}")
    is_f = (
        F.when(F.col(group_col) == F.lit(focus), 1).otherwise(0).alias("__is_f")
    )
    tok = docs.select(is_f, F.explode(ws_lower_tokens(text_col)).alias("term"))
    counts = tok.groupBy("term").agg(
        F.sum("__is_f").alias("n_focus"),
        F.sum(1 - F.col("__is_f")).alias("n_rest"),
    )
    if min_count > 1:
        counts = counts.filter(
            (F.col("n_focus") + F.col("n_rest")) >= min_count
        )
    # The vocab-cardinality count frame is read twice (totals readout +
    # the scored ranking) — lazy-checkpoint it so the corpus explode
    # runs once (the winnow.py barrier discipline; totals are computed
    # over the RETAINED terms, mirrored by the oracle's post-HAVING
    # totals CTE).
    counts = pin(counts)
    # Both-sides-non-empty guard IN-PLAN (raise_error riding the 1-row
    # totals frame) so constructing the DataFrame stays lazy — no
    # collect, no eager corpus explode (r10 ADVICE item). sum() over
    # the retained counts is NULL only when counts is empty, hence the
    # coalesce-to-0 before the > 0 check.
    def _checked(col: str, side: str):
        tot = F.coalesce(F.sum(col).cast("double"), F.lit(0.0))
        return F.when(tot > 0, tot).otherwise(
            F.raise_error(
                F.format_string(
                    "llr_keyness: %s side has %.0f tokens — keyness "
                    "needs both sides non-empty (is "
                    + repr(focus).replace("%", "%%")
                    + " a value of "
                    + repr(group_col).replace("%", "%%")
                    + "?)",
                    F.lit(side),
                    tot,
                )
            )
        )

    totals = counts.agg(
        _checked("n_focus", "focus").alias("__ca"),
        _checked("n_rest", "rest").alias("__cb"),
    )
    a, b = F.col("n_focus"), F.col("n_rest")
    ca, cb = F.col("__ca"), F.col("__cb")
    e1 = ca * (a + b) / (ca + cb)
    e2 = cb * (a + b) / (ca + cb)
    llr = F.lit(2.0) * (
        F.when(a > 0, a * F.log(a / e1)).otherwise(F.lit(0.0))
        + F.when(b > 0, b * F.log(b / e2)).otherwise(F.lit(0.0))
    )
    scored = (
        counts.crossJoin(F.broadcast(totals))
        .filter(a / ca > b / cb)
        .select("term", "n_focus", "n_rest", llr.alias("__llr_raw"))
    )
    top = scored.orderBy(F.desc("__llr_raw"), F.asc("term")).limit(k)
    w = Window.orderBy(F.desc("__llr_raw"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "term",
        "n_focus",
        "n_rest",
        F.round("__llr_raw", decimals).alias("llr"),
        "rank",
    )
