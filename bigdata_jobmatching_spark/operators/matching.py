"""Offer × CV compatibility matching — the reference's declared-but-
never-implemented core (PLAN_REALISATION.md:338-345, matching_dag.py:50-57).

Weighted score: skills 40% + location 20% + salary 20% + experience
20%. Designed join-first so it scales: the skill component comes
from an explode+equi-join on skill token (never a cross join of
offers × CVs) — only pairs sharing at least one skill are ever
materialized, which is the semantically useful candidate set and
keeps the shuffle proportional to the inverted-index size.

Skew note: a ubiquitous skill ("excel") fans out hot partitions; AQE
skew-join splits those at runtime, and a frequency cap (drop skills
above a document-frequency threshold before the join) is the 100 TB
lever — ubiquitous skills carry no matching signal anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import default_parallelism

EXPERIENCE_ORDER = {"Débutant": 0, "Intermédiaire": 1, "Senior": 2}

W_SKILLS, W_LOCATION, W_SALARY, W_EXPERIENCE = 0.4, 0.2, 0.2, 0.2


def match_offers_cvs(
    offers: DataFrame,
    cvs: DataFrame,
    max_skill_df: int | None = None,
    max_skill_df_frac: float | None = None,
) -> DataFrame:
    """Compute agg_matching_scores rows (NEXT_STEPS.md:183-192).

    offers needs: job_id, skills array<string>, localisation_id,
    salaire_min, salaire_max, niveau_experience.
    cvs needs: cv_id, competences array<string>,
    localisation_souhaitee_id, salaire_souhaite, annees_experience.

    ``max_skill_df`` / ``max_skill_df_frac`` drop offer-side skills
    whose document frequency exceeds an absolute count / a fraction of
    the offer corpus BEFORE the inverted-index join. Ubiquitous
    skills ("excel") fan out hot partitions and carry no matching
    signal; the fractional form is the scale-invariant lever — the
    same 0.5 means the same thing at sf0.001 and at 100 TB. Skills
    dropped from candidate generation still count in the
    ``n_offer_skills`` denominator, so capping only shrinks the
    candidate set, never inflates a surviving pair's score.
    """
    # Explode DISTINCT normalized skills so the pair-grain aggregate can
    # be a plain count(*): unlike countDistinct, count(*) admits
    # map-side partial aggregation — the decisive shuffle-size lever
    # when the candidate-pair set is large.
    norm_skills = F.array_distinct(F.transform(F.coalesce(F.col("skills"), F.array()), lambda s: F.lower(F.trim(s))))
    norm_comp = F.array_distinct(F.transform(F.coalesce(F.col("competences"), F.array()), lambda s: F.lower(F.trim(s))))
    o_sk = offers.select("job_id", F.explode(norm_skills).alias("skill"))
    c_sk = cvs.select("cv_id", F.explode(norm_comp).alias("skill"))

    if max_skill_df is not None or max_skill_df_frac is not None:
        freq = o_sk.groupBy("skill").count()
        if max_skill_df_frac is not None:
            # broadcast-scalar crossJoin (no driver collect): the cap
            # is frac x |offers|, computed inside the same job
            total = offers.select(F.count(F.lit(1)).alias("__n_offers"))
            freq = freq.crossJoin(F.broadcast(total)).filter(
                F.col("count") <= F.col("__n_offers") * F.lit(max_skill_df_frac)
            )
        else:
            freq = freq.filter(F.col("count") <= max_skill_df)
        o_sk = o_sk.join(F.broadcast(freq.select("skill")), "skill")

    # inverted-index join: candidate pairs = share >= 1 skill.
    # Hash-partition the offer-side skill stream by job_id BEFORE the
    # broadcast join: the join preserves the streamed side's
    # partitioning, and hash partitioning on a subset of the grouping
    # keys satisfies the pair aggregate's clustering requirement — so
    # the exchange moves the slim per-offer skill stream (|offers| x
    # skills-per-offer rows) instead of the candidate-pair fan-out
    # (orders of magnitude more rows when pair density is high).
    # Partition count is pinned (AQE would coalesce the tiny skill
    # exchange to 1 partition and serialize the whole pair aggregate);
    # default_parallelism() is env-parameterised like fan_out.
    # The job_id partitioning survives only while the skill join is
    # planned as a broadcast join of c_sk; once c_sk outgrows the
    # broadcast threshold, a shuffle join re-partitions both sides on
    # skill and this exchange degrades to an extra one (results stay
    # the same).
    shared = (
        o_sk.repartition(default_parallelism(), "job_id")
        .join(c_sk, "skill")
        .groupBy("job_id", "cv_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )

    o_dim = offers.select(
        "job_id",
        F.size(F.array_distinct(F.transform(F.coalesce(F.col("skills"), F.array()), lambda s: F.lower(F.trim(s))))).alias("n_offer_skills"),
        F.col("localisation_id").alias("o_loc"),
        "salaire_min", "salaire_max",
        F.col("niveau_experience").alias("o_exp"),
    )
    c_dim = cvs.select(
        "cv_id",
        F.col("localisation_souhaitee_id").alias("c_loc"),
        F.col("salaire_souhaite"),
        F.col("annees_experience"),
    )

    # Broadcast ONLY the CV dim (the genuinely small side); the offer
    # dim is left to AQE, which broadcasts it when it fits and falls
    # back to a shuffle join when it doesn't. Forcing broadcast on the
    # full offer dim dies at 100x scale (exceeds broadcast limits).
    pairs = shared.join(o_dim, "job_id").join(F.broadcast(c_dim), "cv_id")

    return _score_pairs(pairs)


def _score_pairs(pairs: DataFrame) -> DataFrame:
    """Shared 40/20/20/20 scoring over candidate pairs.

    Expects columns: job_id, cv_id, n_shared, n_offer_skills, o_loc,
    c_loc, salaire_min, salaire_max, salaire_souhaite,
    annees_experience, o_exp.
    """
    skill_pct = F.when(
        F.col("n_offer_skills") > 0,
        F.col("n_shared") / F.col("n_offer_skills"),
    ).otherwise(F.lit(0.0))

    loc_pct = F.when(
        F.col("o_loc").isNotNull() & (F.col("o_loc") == F.col("c_loc")), 1.0
    ).otherwise(0.0)

    # salary fit: 1.0 when the wish is inside [min,max]; decays
    # linearly to 0 at 50% outside the nearer bound. Zero bounds get
    # the 0.5 neutral score — under Spark 4 ANSI mode an unguarded
    # division by lo*0.5 / hi*0.5 would abort the whole job.
    lo, hi, wish = F.col("salaire_min"), F.col("salaire_max"), F.col("salaire_souhaite")
    inside = (wish >= lo) & (wish <= hi)
    below = F.when(lo > 0, F.greatest(F.lit(0.0), 1.0 - (lo - wish) / (lo * 0.5))).otherwise(F.lit(0.5))
    above = F.when(hi > 0, F.greatest(F.lit(0.0), 1.0 - (wish - hi) / (hi * 0.5))).otherwise(F.lit(0.5))
    salary_pct = (
        F.when(wish.isNull() | lo.isNull() | hi.isNull(), 0.5)
        .when(inside, 1.0)
        .when(wish < lo, below)
        .otherwise(above)
    )

    # experience: map offer level to a years band, score distance
    exp_target = (
        F.when(F.col("o_exp") == "Débutant", 1)
        .when(F.col("o_exp") == "Intermédiaire", 4)
        .when(F.col("o_exp") == "Senior", 8)
    )
    exp_pct = F.when(exp_target.isNull() | F.col("annees_experience").isNull(), 0.5).otherwise(
        F.greatest(F.lit(0.0), 1.0 - F.abs(F.col("annees_experience") - exp_target) / F.lit(8.0))
    )

    return pairs.select(
        "job_id",
        F.col("cv_id").alias("candidate_id"),
        F.round(skill_pct, 6).alias("skill_match_pct"),
        F.round(loc_pct, 6).alias("location_match_pct"),
        F.round(salary_pct, 6).alias("salary_match_pct"),
        F.round(exp_pct, 6).alias("experience_match_pct"),
        F.round(
            W_SKILLS * skill_pct + W_LOCATION * loc_pct
            + W_SALARY * salary_pct + W_EXPERIENCE * exp_pct,
            6,
        ).alias("match_score"),
    )


def match_offers_cvs_prefiltered(
    offers: DataFrame,
    cvs: DataFrame,
    max_skill_df: int | None = None,
    max_skill_df_frac: float | None = None,
    rare_skills: DataFrame | None = None,
    partition_pairs_by: str | None = None,
) -> DataFrame:
    """Rare-token candidate pruning (round-7 verdict task #4): generate
    candidate pairs ONLY through skills whose offer-side document
    frequency is below the cap, then score every surviving pair with
    the EXACT full formula over the complete skill sets.

    The contrast with :func:`match_offers_cvs`'s ``max_skill_df*`` cap
    matters: the cap there also removes the dropped skill from
    ``n_shared`` (survivors are scored on kept skills only), whereas
    here pruning affects RECALL of the candidate set and never a
    survivor's score — a pair found through one rare skill still gets
    credit for every popular skill it shares. This is the standard
    IR candidate-pruning upgrade: at 100 TB the inverted-index join
    touches only rare-skill posting lists (bounded fan-out by
    construction), and the exact array-intersect runs once per
    surviving pair instead of once per (pair, skill) occurrence.

    Pairs sharing ONLY above-cap skills are not candidates — the
    documented recall trade: ubiquitous-skill-only overlap carries no
    matching signal (the same rationale as the cap), so the true
    top-k is preserved whenever each of its pairs shares at least one
    rare skill.

    When BOTH caps are given, the effective cap is
    ``greatest(max_skill_df, max_skill_df_frac * n_offers)``: the
    fractional form is the scale-invariant lever, the absolute floor
    keeps the rare tail non-empty at tiny corpora where
    ``frac * n_offers < 1`` would prune everything.

    ``rare_skills``: a caller that ALREADY holds the rare set for
    this corpus and these caps (a delta-serve epoch computes it once
    for the affected-candidate math and maintains the frequencies
    additively across epochs) passes it here and the corpus-wide
    frequency aggregate is skipped. CONTRACT: it must equal the set
    this function would derive itself — recall and scores are defined
    by it (pinned by test_operators' injected-vs-derived equality).

    ``partition_pairs_by`` ("job_id" or "cv_id"): hash-partition the
    candidate pairs by that single key BEFORE the pair dedup instead
    of letting the dedup exchange on the composite (job_id, cv_id)
    key. The dedup is identical (hash partitioning on a subset of the
    grouping key satisfies the aggregate's clustering requirement),
    but the output now carries a single-key partitioning that a
    downstream per-key window (the serving pipeline's per-candidate
    pool cut) reuses — one exchange where the default shape pays two.
    Trade: the pair shuffle loses map-side dedup (duplicates from
    multi-rare-skill pairs travel), which is a few percent of the
    tiny 2-long rows; identical rows out either way.
    """
    norm_skills = F.array_distinct(F.transform(
        F.coalesce(F.col("skills"), F.array()), lambda s: F.lower(F.trim(s))))
    norm_comp = F.array_distinct(F.transform(
        F.coalesce(F.col("competences"), F.array()),
        lambda s: F.lower(F.trim(s))))
    o_sk = offers.select("job_id", F.explode(norm_skills).alias("skill"))
    c_sk = cvs.select("cv_id", F.explode(norm_comp).alias("skill"))

    if rare_skills is not None:
        rare = rare_skills
    else:
        freq = o_sk.groupBy("skill").count()
        if max_skill_df_frac is not None:
            total = offers.select(F.count(F.lit(1)).alias("__n_offers"))
            cap = F.col("__n_offers") * F.lit(max_skill_df_frac)
            if max_skill_df is not None:
                cap = F.greatest(F.lit(float(max_skill_df)), cap)
            rare = freq.crossJoin(F.broadcast(total)).filter(
                F.col("count") <= cap)
        elif max_skill_df is not None:
            rare = freq.filter(F.col("count") <= max_skill_df)
        else:
            raise ValueError(
                "match_offers_cvs_prefiltered needs max_skill_df or "
                "max_skill_df_frac — an uncapped prefilter is just "
                "match_offers_cvs with extra steps"
            )

    # candidate generation: pairs sharing >= 1 RARE skill, deduped to
    # the pair grain (a pair found through two rare skills enters once)
    cand = (
        o_sk.join(F.broadcast(rare.select("skill")), "skill")
        .join(c_sk, "skill")
        .select("job_id", "cv_id")
    )
    if partition_pairs_by is not None:
        cand = cand.repartition(partition_pairs_by)
    cand = cand.distinct()

    # exact scoring on survivors: n_shared over the FULL skill sets
    o_dim = offers.select(
        "job_id",
        norm_skills.alias("__o_skills"),
        F.col("localisation_id").alias("o_loc"),
        "salaire_min", "salaire_max",
        F.col("niveau_experience").alias("o_exp"),
    )
    c_dim = cvs.select(
        "cv_id",
        norm_comp.alias("__c_comp"),
        F.col("localisation_souhaitee_id").alias("c_loc"),
        F.col("salaire_souhaite"),
        F.col("annees_experience"),
    )
    pairs = (
        cand.join(o_dim, "job_id")
        .join(F.broadcast(c_dim), "cv_id")
        .withColumn(
            "n_shared",
            F.size(F.array_intersect("__o_skills", "__c_comp")).cast("long"),
        )
        .withColumn("n_offer_skills", F.size("__o_skills"))
    )
    return _score_pairs(pairs)


def top_matches_per_candidate(matches: DataFrame, k: int = 20) -> DataFrame:
    """Top-k offers per candidate ("Top 20 offres-CVs" dashboard,
    PLAN_REALISATION.md:509-511)."""
    w = Window.partitionBy("candidate_id").orderBy(
        F.desc("match_score"), F.asc("job_id")
    )
    return (
        matches.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )
