"""Model-based document quality filter — a linear classifier over the
``functions/text.py`` quality features, trained as a deterministic
DataFrame job and applied as a pure Catalyst expression.

The LLM-pipeline staple the heuristic ``quality_score`` approximates
by hand: train a model on labeled documents, score the corpus, keep
the high-probability slice (the GPT-3 "quality classifier" stage).
Here the trainer is Widrow-Hoff / LMS (least-mean-squares delta rule)
— each iteration is ONE distributed aggregation:

    pred_i = w · x_i
    g_j    = Σ_i floor((y_i − pred_i) · x_ij · 10⁹)   (exact int64 sum)
    w_j   += lr · ((g_j / n) / 10⁹)

The gradient contributions are summed in FIXED POINT (floor to 10⁻⁹
grain, accumulated as longs), so the sum is order-independent — the
trained weights are BIT-IDENTICAL regardless of partitioning, AQE
re-plans, or cluster size, and an ANSI-SQL engine unrolling the same
iterations computes the exact same weights (the q59 DuckDB oracle
does). A plain double sum would make the weights partition-order
dependent, which both breaks resume determinism and makes a value
oracle impossible. All other arithmetic is IEEE double with fixed
left-associated expression shapes, identical in Spark and DuckDB.

Scale shape: one map-side-combinable hash aggregate per iteration
over 6 longs + a count — O(iterations) passes, O(1) driver state; the
scoring pass is a shuffle-free projection with the weights inlined as
literals (broadcast-free). A logistic variant (``train_quality_lr``)
uses the same machinery with a sigmoid link for callers that want
calibrated probabilities; its exp() is engine-specific in the last
ulp, so only the LMS form carries the SQL value oracle.

Reference analog: the reference scores/validates rows in its
transform stage (/root/reference/api/src/etl/base/transformer.py) —
this operator is the learned version of that per-row verdict.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX

#: fixed-point grain for the gradient sums (int64-safe: |contrib| ≤ ~3
#: → ≤ 3e9 per row; 2^63/3e9 ≈ 3e9 rows per partition-sum before
#: overflow, and Spark's sum widens per-partition partials anyway)
GRAD_SCALE = 1e9

#: default LMS step size — an exact binary fraction so the update
#: arithmetic is identical in every engine
DEFAULT_LR = 0.5

FEATURE_NAMES = ["bias", "len_norm", "stopword_ratio", "punct_ratio",
                 "upper_ratio", "tok_len_norm"]


def quality_features(text: Column) -> list[Column]:
    """The classifier's feature vector — bounded [0, ~1] transforms of
    the ``quality_metrics`` signals, each a pure Catalyst expression
    with an exact DuckDB mirror (integer counts → double ratios)."""
    n_chars = F.length(text)
    # greatest(·,1) on the ratio DENOMINATORS only: an empty-string
    # document must score, not throw — this session runs ANSI mode,
    # where x/0 is DIVIDE_BY_ZERO, and a crawl corpus legally contains
    # empty extraction results. The SQL mirror applies the identical
    # guard (punct/upper counts are 0 for '' anyway, so f3/f4 are
    # exactly 0.0 on both sides; f5's divisor n_tok is always ≥ 1).
    n_chars_div = F.greatest(n_chars, F.lit(1))
    n_tok = TX.token_count(text)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    upper = F.length(F.regexp_replace(text, r"[^A-Z]", ""))
    return [
        F.lit(1.0),
        F.least(n_tok, F.lit(1000)) / 1000.0,
        TX.stopword_hits(text, "en") / n_tok,
        punct / n_chars_div,
        upper / n_chars_div,
        F.least(n_chars / n_tok, F.lit(20.0)) / 20.0,
    ]


def _dot(weights: list[float], feats: list[Column]) -> Column:
    """Left-associated w·x — the same reduction order the SQL mirror's
    ``w0*f0 + w1*f1 + …`` parses to, so scores are bit-identical."""
    acc = F.lit(float(weights[0])) * feats[0]
    for w, f in zip(weights[1:], feats[1:]):
        acc = acc + F.lit(float(w)) * f
    return acc


def train_quality_linear(df: DataFrame, text_col: str, label: Column,
                         iters: int = 3, lr: float = DEFAULT_LR
                         ) -> list[float]:
    """Train the LMS linear quality classifier; returns the weight
    vector (len == len(FEATURE_NAMES)). ``label`` must evaluate to
    0.0/1.0 doubles. Deterministic: same data → same weights, bit for
    bit, on any partitioning (fixed-point gradient sums)."""
    feats = quality_features(F.col(text_col))
    # the feature projection (regex-heavy text work) is identical every
    # iteration — fence it ONCE (eager: the first iteration reads it at
    # once; README "Caching") and run the per-iteration aggregations
    # over 7 doubles per row instead of re-scanning the text
    base = df.select(*[f.alias(f"_f{j}") for j, f in enumerate(feats)],
                     label.cast("double").alias("_y")).localCheckpoint()
    fcols = [F.col(f"_f{j}") for j in range(len(feats))]
    w = [0.0] * len(feats)
    for _ in range(iters):
        err = F.col("_y") - _dot(w, fcols)
        agg = base.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.floor(err * fj * F.lit(GRAD_SCALE))).alias(f"g{j}")
              for j, fj in enumerate(fcols)]).collect()[0]
        n = agg["n"]
        if not n:
            return w
        w = [w[j] + lr * ((agg[f"g{j}"] / n) / GRAD_SCALE)
             for j in range(len(feats))]
    return w


def score_quality(df: DataFrame, text_col: str, weights: list[float],
                  threshold: float = 0.5) -> DataFrame:
    """Apply the trained classifier: adds ``q_score`` (w·x, double) and
    ``q_keep`` (score > threshold). Pure projection — no shuffle, no
    UDF; the weights are inlined literals so the filter pushes down
    and survives column pruning."""
    feats = quality_features(F.col(text_col))
    score = _dot(weights, feats)
    return df.withColumn("q_score", score) \
             .withColumn("q_keep", score > F.lit(float(threshold)))


def train_quality_lr(df: DataFrame, text_col: str, label: Column,
                     iters: int = 8, lr: float = DEFAULT_LR
                     ) -> list[float]:
    """Logistic-regression variant: identical fixed-point gradient
    machinery with a sigmoid link (gradient of log-loss). Deterministic
    across partitionings for the same reason as the LMS form, but
    ``exp()`` differs between engines in the last ulp, so this form has
    recall/accuracy tests rather than a cross-engine value oracle."""
    feats = quality_features(F.col(text_col))
    base = df.select(*[f.alias(f"_f{j}") for j, f in enumerate(feats)],
                     label.cast("double").alias("_y"))
    fcols = [F.col(f"_f{j}") for j in range(len(feats))]
    w = [0.0] * len(feats)
    for _ in range(iters):
        z = _dot(w, fcols)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = F.col("_y") - p
        agg = base.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.floor(err * fj * F.lit(GRAD_SCALE))).alias(f"g{j}")
              for j, fj in enumerate(fcols)]).collect()[0]
        n = agg["n"]
        if not n:
            return w
        w = [w[j] + lr * ((agg[f"g{j}"] / n) / GRAD_SCALE)
             for j in range(len(feats))]
    return w


def predict_lr(weights: list[float], feats: list[float]) -> float:
    """Driver-side scalar mirror of the logistic scorer (tests)."""
    z = sum(w * f for w, f in zip(weights, feats))
    return 1.0 / (1.0 + math.exp(-z))


def repetition_profile(df: DataFrame, id_col: str, text_col: str,
                       n: int = 2) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021,
    'Scaling Language Models', §A1.1 repetition filters): per document,
    the single most frequent word ``n``-gram, the character fraction
    its occurrences cover, and the fraction of n-gram occurrences that
    are repeats — the boilerplate/template-page signals a pretraining
    quality filter thresholds on.

    Definitions (the operator contract, mirrored by the q22 oracle):

    * ``top_gram``      — the n-gram with the highest occurrence count;
      ties break to the lexicographically GREATEST gram (max over a
      (count, gram) struct — deterministic on any partitioning).
    * ``top_gram_frac`` — top count × length(top_gram) / length(text)
      (occurrence-coverage approximation; overlaps not collapsed).
    * ``dup_gram_frac`` — Σ count[count>1] / Σ count.

    Documents with fewer than ``n`` tokens have no n-grams: they keep a
    row with NULL top_gram and 0.0 fractions (LEFT join back to the id
    set), so the operator is total over the corpus.

    Scale shape: explode to one row per n-gram OCCURRENCE (≈ tokens per
    doc), then two map-side-combinable hash aggregates keyed on
    (doc_id, gram) and doc_id — the decontaminate/token-freq shuffle
    shape; document text itself never shuffles. No window functions,
    no driver state."""
    toks = F.split(F.col(text_col), " ")
    # n-gram OCCURRENCES via arrays_zip of n shifted slices — struct j
    # holds tokens j..j+n-1; trailing structs whose last field is NULL
    # are the < n tails, leaving exactly size-n+1 grams per document.
    # Same row multiset as the previous transform(sequence(...)) form
    # but pure codegen: higher-order lambdas are CodegenFallback, and
    # this explode is the query's hot path (one lambda per gram
    # occurrence across the corpus — guide §4.1 / §1.2).
    shifted = [toks.alias("t0")] + [
        F.slice(toks, j + 1, F.size(toks)).alias(f"t{j}")
        for j in range(1, n)]
    occ = (df.select(F.col(id_col).alias("_id"),
                     F.length(F.col(text_col)).alias("_nc"),
                     F.explode(F.arrays_zip(*shifted)).alias("_z"))
           .filter(F.col("_z")[f"t{n - 1}"].isNotNull())
           .select("_id", "_nc",
                   F.concat_ws(" ", *[F.col("_z")[f"t{j}"] for j in range(n)])
                   .alias("_gram")))
    counts = occ.groupBy("_id", "_nc", "_gram").agg(F.count("*").alias("_cnt"))
    prof = counts.groupBy("_id").agg(
        F.max(F.struct(F.col("_cnt").alias("c"), F.col("_gram").alias("g"))).alias("_top"),
        F.max("_nc").alias("_nc"),
        F.sum("_cnt").alias("_tot"),
        F.sum(F.when(F.col("_cnt") > 1, F.col("_cnt")).otherwise(F.lit(0))).alias("_dup"))
    out = (df.select(F.col(id_col).alias("_id"))
           .join(prof, "_id", "left")
           .select(
               F.col("_id").alias(id_col),
               F.col("_top.g").alias("top_gram"),
               F.coalesce((F.col("_top.c") * F.length("_top.g"))
                          / F.col("_nc"), F.lit(0.0)).alias("top_gram_frac"),
               F.coalesce(F.col("_dup") / F.col("_tot"), F.lit(0.0)).alias("dup_gram_frac")))
    return out
