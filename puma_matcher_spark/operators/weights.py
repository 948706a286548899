"""Score-weight training: grid generation + rank-error evaluation +
coarse-to-fine search.

Reference: stage/WeightTrainerStage.scala —

* grid generation with sum==1 constraint (:428-466, J11) — the reference
  builds it as a constrained theta-join of weight columns; the grid is
  tiny (≤ a few thousand rows), so the rebuild generates it driver-side
  and broadcasts (SURVEY.md §2 J11 note).
* contextual score = score / per-publication max × 100 (:185-192, W2).
* evaluation (:218-239 Walker, :391-408 Cartographer, A10/W3):
  rank proposals per (weight vector, publication) by weighted total;
  error = Σ (rank-1) over accepted training pairs, plus top-k hit counts.
* coarse grid → top-K areas → halving-step hill descent (:61-170) —
  rebuilt as grid evaluation + local refinement rounds around the best
  point.

Scale: one shuffle keyed (weight_id, publication) for the rank window;
grid×candidates fan-out is |grid| × |training candidates| — training sets
are small by construction, and the grid frame is broadcast.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from puma_matcher_spark.functions.frames import local_frame

#: one weight-vector component per row: (vector id, score type, weight)
GRID_SCHEMA = "weight_id BIGINT, score_type STRING, weight DOUBLE"


#: ceiling on the candidate-pair volume any weight-training entry point
#: accepts.  The lattice/grid evaluation multiplies EVERY candidate pair
#: by each weight vector through a rank-window shuffle (|grid| × |pairs|
#: rows): a full sf1 corpus (~97M pairs × 9 lattice points) spilled
#: >72 GB locally (PLANS.md round-9), while the documented input — a
#: TRAINING slice, as the reference's WeightTrainerStage consumes — is
#: small by construction.  30M pairs keeps the 9-point shuffle under
#: ~300M rows, comfortably inside one executor wave at 128-byte rows.
TRAINING_PAIRS_MAX = 30_000_000


def assert_training_envelope(
    candidates: DataFrame, max_pairs: int = TRAINING_PAIRS_MAX
) -> int:
    """Enforce the trainer's training-slice input contract IN CODE: one
    cheap count (also serving as a persist materialization barrier when
    the caller persisted ``candidates``) that raises with the contract
    message instead of letting the |grid| × |pairs| rank shuffle spill
    for hours (r9 verdict "what's wrong" #2).  Returns the count.

    A caller whose cluster's shuffle capacity covers a larger input
    passes a higher ``max_pairs``."""
    n = candidates.count()
    if n > max_pairs:
        raise ValueError(
            f"weight training received {n:,} candidate pairs, above the "
            f"{max_pairs:,} training-slice ceiling.  The trainer's input "
            "contract is a TRAINING slice (the reference's "
            "WeightTrainerStage consumes training-set match candidates, "
            "small by construction), not the production corpus: grid "
            "evaluation shuffles |grid| x |pairs| rows through a rank "
            "window, and a full corpus spills unboundedly (measured "
            ">72 GB at sf1).  Pre-filter candidates to the training "
            "publications, or pass a higher max_pairs explicitly if the "
            "cluster's shuffle capacity covers it."
        )
    return n


def weight_grid(
    spark: SparkSession, score_types: list[str], step: float = 0.1
) -> DataFrame:
    """All weight vectors over ``score_types`` with step granularity and
    Σ == 1 (WeightTrainerStage.scala:428-466), exploded to
    (weight_id, score_type, weight) rows."""
    n = len(score_types)
    ticks = round(1.0 / step)
    rows = []
    wid = 0
    for combo in itertools.product(range(ticks + 1), repeat=n - 1):
        if sum(combo) <= ticks:
            last = ticks - sum(combo)
            vec = [c / ticks for c in combo] + [last / ticks]
            for t, w in zip(score_types, vec):
                rows.append((wid, t, float(w)))
            wid += 1
    return local_frame(spark, rows, GRID_SCHEMA)


def _refined_grid(
    spark: SparkSession, center: dict, score_types: list[str], step: float
) -> DataFrame:
    """Weight vectors ``center ± {0, step}`` per score type, clipped at 0
    and renormalised to sum 1 (all-zero vectors dropped)."""
    rows, wid = [], 0
    for combo in itertools.product([-step, 0.0, step], repeat=len(score_types)):
        vec = [max(0.0, center[t] + d) for t, d in zip(score_types, combo)]
        s = sum(vec)
        if s == 0:
            continue
        rows.extend((wid, t, v / s) for t, v in zip(score_types, vec))
        wid += 1
    return local_frame(spark, rows, GRID_SCHEMA)


def contextual_scores(candidates: DataFrame) -> DataFrame:
    """W2 — score normalised by the per-(publication, type) max × 100.
    Publication side = document_version2_id (engine orientation)."""
    w = Window.partitionBy("document_version2_id", "score_type")
    return candidates.withColumn(
        "contextual", F.col("score") / F.max("score").over(w) * F.lit(100.0)
    )


def evaluate_weights(
    contextual: DataFrame,
    grid: DataFrame,
    training_pairs: DataFrame,
) -> DataFrame:
    """A10/W3 — per-weight-vector rank error against accepted pairs.

    Output: (weight_id, error, hits_k...) where error = Σ (rank-1) of the
    accepted proposal per publication, ranked by weighted total score.
    """
    weighted = contextual.join(F.broadcast(grid), "score_type").groupBy(
        "weight_id", "document_version1_id", "document_version2_id"
    ).agg(F.sum(F.col("weight") * F.col("contextual")).alias("total"))
    w = Window.partitionBy("weight_id", "document_version2_id").orderBy(
        F.col("total").desc(), F.col("document_version1_id").asc()
    )
    ranked = weighted.withColumn("rank", F.rank().over(w))
    labels = training_pairs.where(F.col("accepted")).select(
        F.col("proposal_id").alias("document_version1_id"),
        F.col("publication_id").alias("document_version2_id"),
    )
    hits = ranked.join(F.broadcast(labels), ["document_version1_id", "document_version2_id"])
    aggs = [F.sum(F.col("rank") - 1).cast("long").alias("error")]
    for k in (1, 3, 5):
        aggs.append(
            F.sum(F.when(F.col("rank") <= k, 1).otherwise(0))
            .cast("long")
            .alias(f"hits_{k}")
        )
    return hits.groupBy("weight_id").agg(*aggs)


def walker_area_selection(errs: DataFrame, n_areas: int = 2) -> DataFrame:
    """WeightTrainerStage.scala:93-147 area loop over a pre-evaluated
    error lattice: pick the ``n_areas`` best coarse centers (even lattice
    ids = the 2×-coarser grid), descend each one halving step to the
    argmin of its ±1 lattice neighborhood, and interrupt any later area
    whose descent winner lands on an earlier area's path winner
    (:131-141 — the interrupted area is dropped from the result list, so
    its refined columns are NULLed and it can never be ``is_best``).

    ``errs``: (weight_id, error) for EVERY point of the halved lattice —
    the caller evaluates the full lattice in one distributed pass, so
    this selection runs on a ≤|lattice|-row frame; the global windows
    here are documented-bounded, never corpus-sized.

    Output: (area_rank, center, coarse_error, refined, refined_error,
    interrupted, is_best), deterministic via (error ASC, weight_id ASC)
    tie-breaks throughout.

    Interrupt semantics for ``n_areas >= 3`` (r9 ADVICE #3): the window
    counts ALL preceding areas sharing the refined winner, while the
    reference registers only COMPLETED areas' winners
    (WeightTrainerStage.scala:142-144 — cascaded flagging).  The two are
    EQUIVALENT here because interruption is defined by winner EQUALITY,
    which is transitive: by induction, an interrupted area's winner
    equals some completed (non-interrupted) earlier area's winner, so a
    later area landing on an interrupted predecessor's winner
    necessarily also lands on that completed ancestor's winner and is
    flagged by the cascaded rule too (base case: area 1 is never
    interrupted).  Pinned by
    tests/test_weights.py::test_area_interrupt_flags_match_cascaded_semantics,
    which replays random lattices against an explicit sequential
    cascade.  (The reference's criterion is wider: a completed area
    registers EVERY evaluated row of its descent path
    (WeightTrainerStage.scala:142-144, evaluatedRows.foreach), and a
    later area interrupts when its current descent point collides with
    ANY registered path point — not just a final winner.  This port
    INTENTIONALLY narrows the criterion to refined-winner equality,
    which under-interrupts relative to the reference for multi-step
    descents; it is adequate here only because the port's refinement is
    a single neighbor step of the fully pre-evaluated lattice.  A
    multi-step descent port would need the full path-registration
    rule.)
    """
    from puma_matcher_spark.functions.caching import persist_rotating

    # the selection references errs on BOTH sides of the neighborhood
    # join (areas + lattice) and in three windows — without a barrier
    # each reference re-runs the whole upstream error-evaluation DAG
    # (measured 239 exchanges → 10 on the weight_walker plan)
    errs = persist_rotating(errs)
    wo = Window.orderBy(F.col("error").asc(), F.col("weight_id").asc())
    areas = (
        errs.where(F.col("weight_id") % 2 == 0)
        .withColumn("area_rank", F.row_number().over(wo).cast("long"))
        .where(F.col("area_rank") <= n_areas)
        .select(
            "area_rank",
            F.col("weight_id").alias("center"),
            F.col("error").alias("coarse_error"),
        )
    )
    lattice = errs.select(
        F.col("weight_id").alias("refined"),
        F.col("error").alias("refined_error"),
    )
    # neighborhood as explode + EQUI-join (|cand - center| <= 1 as a
    # range predicate would plan a nested-loop join and trip the
    # no-cartesian guard); out-of-lattice neighbors simply don't match,
    # which IS the clamp semantics
    nb = areas.select(
        "area_rank",
        "center",
        "coarse_error",
        F.explode(
            F.array(
                F.col("center") - 1, F.col("center"), F.col("center") + 1
            )
        ).alias("refined"),
    ).join(F.broadcast(lattice), "refined")
    wn = Window.partitionBy("area_rank").orderBy(
        F.col("refined_error").asc(), F.col("refined").asc()
    )
    winners = (
        nb.withColumn("rn", F.row_number().over(wn))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    wi = (
        Window.partitionBy("refined")
        .orderBy("area_rank")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = winners.withColumn(
        "interrupted", F.count(F.lit(1)).over(wi) > 0
    )
    wb = Window.orderBy(
        F.col("interrupted").asc(),
        F.col("refined_error").asc(),
        F.col("area_rank").asc(),
    )
    return flagged.select(
        "area_rank",
        "center",
        "coarse_error",
        F.when(~F.col("interrupted"), F.col("refined")).alias("refined"),
        F.when(~F.col("interrupted"), F.col("refined_error")).alias(
            "refined_error"
        ),
        "interrupted",
        ((F.row_number().over(wb) == 1) & ~F.col("interrupted")).alias(
            "is_best"
        ),
    )


def best_weights(
    spark: SparkSession,
    candidates: DataFrame,
    training_pairs: DataFrame,
    score_types: list[str],
    step: float = 0.1,
    refine_rounds: int = 0,
    error_trace: list | None = None,
) -> DataFrame:
    """Coarse grid search (+ optional halving-step refinement around the
    winner) → (score_type, weight) rows, the reference's score_weight
    output (WeightTrainerStage.scala:158-166).  Pass a list as
    ``error_trace`` to receive the best error after the coarse pass and
    after each refinement round (convergence property checks)."""
    from puma_matcher_spark.functions.caching import persist_rotating

    # every refinement round re-evaluates the grid against ctx — persist
    # it once (bounded ring) instead of re-deriving the window chain
    ctx = persist_rotating(contextual_scores(candidates))
    # the envelope count doubles as the persist materialization barrier
    assert_training_envelope(ctx)
    grid = weight_grid(spark, score_types, step)
    for round_ in range(refine_rounds + 1):
        if round_:  # refinement: halve the step around the last winner
            step = step / 2
            center = {r["score_type"]: r["weight"] for r in best.collect()}
            grid = _refined_grid(spark, center, score_types, step)
        first = (
            evaluate_weights(ctx, grid, training_pairs)
            .orderBy(F.col("error").asc(), F.col("weight_id").asc())
            .first()
        )
        if error_trace is not None:
            error_trace.append(first["error"])
        best = grid.where(F.col("weight_id") == first["weight_id"])
    return best.select("score_type", "weight")
