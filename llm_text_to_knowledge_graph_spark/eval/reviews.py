"""Reviewer-consensus aggregation (reference E7).

Re-expresses ``evaluation_tests_and_analysis/reviewers_results_comparison/
comp_reviews.py`` (reference, lines 28-63) as distributed DataFrame
aggregation.  The reference loads five reviewers' JSON score lists into
driver memory and loops statement-by-statement with ``collections.Counter``;
here the same semantics run as partial-aggregatable ``groupBy`` plans over a
long-format review table, so a 10^9-statement review campaign (the shape a
100-TB KG extraction audited by crowd reviewers would produce) shuffles only
(statement, reviewer)- and (statement,)-keyed partial aggregates.

Semantics matched to the reference, per statement index:

* ``all_correct_count`` — reviewers whose ``all_correct`` flag is True
  (comp_reviews.py:40-42).
* ``fingerprint`` — the set of criteria marked True excluding ``comments``
  (comp_reviews.py:45); encoded as the ``|``-joined sorted criterion list so
  it is an engine-portable GROUP BY key.
* ``consensus_count`` / ``agreed_criteria`` — multiplicity and value of the
  most common fingerprint (comp_reviews.py:52-57).  The reference's
  ``Counter.most_common(1)`` breaks ties by insertion order (reviewer file
  order) — not reproducible across engines — so ties are pinned here to the
  lexicographically smallest fingerprint, documented divergence.
* ``error_summary`` — per-criterion True counts excluding ``comments`` and
  ``all_correct`` (comp_reviews.py:47-49), encoded ``crit:count`` sorted and
  comma-joined; zero-count criteria omitted exactly as ``Counter`` omits
  never-seen keys.

Input is LONG format — one row per (idx, reviewer, criterion, marked) — the
layout a 1000-executor campaign store would use (uniform schema, no
per-reviewer ragged structs).  ``synth_reviews`` derives a deterministic
campaign from any id-bearing table via md5 draws (the repo's standard
engine-portable randomness), replayable verbatim by a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Criteria vocabulary from the reference review exports
# (reviewers_results/clara_review.json "scores" keys; also visible in
# review_consensus_with_evidence.csv "Error Summary").
CRITERIA = (
    "all_correct",
    "correct_but_could_be_more_precise",
    "identifier_database_errors",
    "incorrect_entities",
    "interaction_type_errors",
    "not_a_valid_relationshiptype",
    "other_errors",
)

REVIEWERS = ("rev_a", "rev_b", "rev_c", "rev_d", "rev_e")


def _draw(idx: Column, reviewer: Column, criterion: Column, seed: int) -> Column:
    """Deterministic boolean draw, identical in Spark and DuckDB.

    First 4 lowercase-hex chars of md5("{idx}:{reviewer}:{criterion}:{seed}")
    compared lexicographically against a per-criterion hex threshold.  Both
    engines emit lowercase hex md5 and compare ASCII-lexicographically, so
    the predicate is bit-portable.  all_correct is drawn generous (~56%)
    and error criteria sparse (~19%) so consensus structure resembles the
    reference CSV (most statements near-agree, a tail disputes).
    """
    h = F.substring(
        F.md5(
            F.concat_ws(
                ":",
                idx.cast("string"),
                reviewer,
                criterion,
                F.lit(str(seed)),
            )
        ),
        1,
        4,
    )
    return F.when(criterion == "all_correct", h < F.lit("9000")).otherwise(
        h < F.lit("3000")
    )


def synth_reviews(ids: DataFrame, seed: int = 11) -> DataFrame:
    """Expand an id table into a long (idx, reviewer, criterion, marked) table.

    One explode per axis — map-side only, no shuffle; the campaign table is
    |ids| x |REVIEWERS| x |CRITERIA| rows before any aggregation.
    """
    revs = F.array(*[F.lit(r) for r in REVIEWERS])
    crits = F.array(*[F.lit(c) for c in CRITERIA])
    long = (
        ids.select(F.col("doc_id").cast("long").alias("idx"))
        .select("idx", F.explode(revs).alias("reviewer"))
        .select("idx", "reviewer", F.explode(crits).alias("criterion"))
    )
    return long.withColumn(
        "marked",
        _draw(F.col("idx"), F.col("reviewer"), F.col("criterion"), seed),
    )


def review_consensus(reviews: DataFrame) -> DataFrame:
    """comp_reviews.py's per-statement summary as three partial-agg plans.

    reviews: long format (idx, reviewer, criterion, marked).  Returns one row
    per idx: total_reviewers, all_correct_count, consensus_count,
    agreed_criteria, error_summary.  Every aggregate is keyed on idx or
    (idx, reviewer) — partial map-side combine applies throughout, and the
    three branches join on the same idx key so AQE coalesces them into one
    exchange reuse at scale.
    """
    # Per-reviewer fingerprint + all_correct flag (comp_reviews.py:40-45).
    fp = reviews.groupBy("idx", "reviewer").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("marked") & (F.col("criterion") != "comments"),
                        F.col("criterion"),
                    )
                )
            ),
            "|",
        ).alias("fingerprint"),
        F.max(
            F.when(F.col("criterion") == "all_correct", F.col("marked")).otherwise(
                F.lit(False)
            )
        ).alias("all_correct"),
    )

    # Most common fingerprint per idx; ties -> lexicographically smallest,
    # expressed as min_by over the composite key (-n, fingerprint).
    fpc = fp.groupBy("idx", "fingerprint").agg(F.count(F.lit(1)).alias("n"))
    best = fpc.groupBy("idx").agg(
        F.expr(
            "min_by(named_struct('n', n, 'fingerprint', fingerprint),"
            " named_struct('negn', -n, 'fingerprint', fingerprint))"
        ).alias("b")
    )
    best = best.select(
        "idx",
        F.col("b.n").cast("long").alias("consensus_count"),
        F.col("b.fingerprint").alias("agreed_criteria"),
    )

    acc = fp.groupBy("idx").agg(
        F.sum(F.col("all_correct").cast("long")).alias("all_correct_count"),
        F.count(F.lit(1)).cast("long").alias("total_reviewers"),
    )

    # Error counter (comp_reviews.py:47-49): per-criterion True counts,
    # comments/all_correct excluded, zero-count criteria omitted.
    errc = (
        reviews.filter(~F.col("criterion").isin("comments", "all_correct"))
        .groupBy("idx", "criterion")
        .agg(F.sum(F.col("marked").cast("long")).alias("cnt"))
        .filter(F.col("cnt") > 0)
    )
    errs = errc.groupBy("idx").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(F.concat_ws(":", "criterion", F.col("cnt").cast("string")))
            ),
            ",",
        ).alias("error_summary")
    )

    out = (
        acc.join(best, "idx")
        .join(errs, "idx", "left")
        .select(
            "idx",
            "total_reviewers",
            "all_correct_count",
            "consensus_count",
            "agreed_criteria",
            F.coalesce("error_summary", F.lit("")).alias("error_summary"),
        )
    )
    return out


def fleiss_kappa(reviews: DataFrame) -> DataFrame:
    """Fleiss' kappa over the review campaign (binary marked/unmarked).

    Subjects are (idx, criterion) cells (comments excluded), raters the
    reviewers.  Beyond the reference (comp_reviews.py stops at counts), this
    is the standard inter-rater statistic such a campaign reports.  All
    sufficient statistics are exact integer sums; the only doubles are two
    final divisions, so the plan is one partial-agg groupBy plus a scalar
    fold.  Returns one row: n_subjects, n_raters, sum_marked, sum_sq, and
    kappa rounded to 6dp.
    """
    cell = (
        reviews.filter(F.col("criterion") != "comments")
        .groupBy("idx", "criterion")
        .agg(
            F.sum(F.col("marked").cast("long")).alias("a"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    stats = cell.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_subjects"),
        F.max("n").cast("long").alias("n_raters"),
        F.sum("a").cast("long").alias("sum_marked"),
        F.sum(F.col("a") * F.col("a")).cast("long").alias("sum_sq"),
    )
    n = F.col("n_raters")
    big_n = F.col("n_subjects")
    # P_bar = (sum(a^2 + (n-a)^2) - N*n) / (N*n*(n-1))
    # sum((n-a)^2) = N*n^2 - 2n*S + sum_sq  with S = sum_marked
    sum_sq_both = (
        F.col("sum_sq")
        + big_n * n * n
        - F.lit(2) * n * F.col("sum_marked")
        + F.col("sum_sq")
    )
    p_bar = (sum_sq_both - big_n * n).cast("double") / (
        (big_n * n * (n - F.lit(1))).cast("double")
    )
    p1 = F.col("sum_marked").cast("double") / (big_n * n).cast("double")
    p_e = p1 * p1 + (F.lit(1.0) - p1) * (F.lit(1.0) - p1)
    kappa = (p_bar - p_e) / (F.lit(1.0) - p_e)
    return stats.select(
        "n_subjects",
        "n_raters",
        "sum_marked",
        "sum_sq",
        F.round(kappa, 6).alias("kappa"),
    )
