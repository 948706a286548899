"""Weight trainer: grid generation, rank-error evaluation, best-weight
selection on a hand-built candidate set."""

from pyspark.sql import functions as F

import pytest

from puma_matcher_spark.operators import weights as wt


def test_weight_grid_sums_to_one(spark):
    grid = wt.weight_grid(spark, ["a", "b", "c"], step=0.25)
    sums = (
        grid.groupBy("weight_id").agg(F.round(F.sum("weight"), 9).alias("s")).collect()
    )
    assert all(abs(r["s"] - 1.0) < 1e-9 for r in sums)
    # C(4+2,2) = 15 vectors for 3 types at step .25
    assert grid.select("weight_id").distinct().count() == 15


def test_best_weights_picks_discriminating_type(spark):
    # type 'good' ranks the accepted proposal first; type 'bad' ranks it
    # last → optimal weights must put everything on 'good'.
    rows = []
    for pub in (100, 200, 300):
        for prop, good_score, bad_score in (
            (1, 10.0, 1.0),
            (2, 5.0, 9.0),
            (3, 1.0, 10.0),
        ):
            rows.append((prop, pub, "good", good_score))
            rows.append((prop, pub, "bad", bad_score))
    cand = spark.createDataFrame(
        rows,
        ["document_version1_id", "document_version2_id", "score_type", "score"],
    )
    training = spark.createDataFrame(
        [(1, 100, True), (1, 200, True), (1, 300, True)],
        ["proposal_id", "publication_id", "accepted"],
    )
    best = {
        r["score_type"]: r["weight"]
        for r in wt.best_weights(
            spark, cand, training, ["good", "bad"], step=0.5
        ).collect()
    }
    assert best["good"] == 1.0
    assert best["bad"] == 0.0


def test_evaluate_weights_error_counts_rank_misses(spark):
    cand = spark.createDataFrame(
        [(1, 100, "t", 1.0), (2, 100, "t", 2.0)],
        ["document_version1_id", "document_version2_id", "score_type", "score"],
    )
    grid = spark.createDataFrame([(0, "t", 1.0)], ["weight_id", "score_type", "weight"])
    training = spark.createDataFrame(
        [(1, 100, True)], ["proposal_id", "publication_id", "accepted"]
    )
    ctx = wt.contextual_scores(cand)
    out = wt.evaluate_weights(ctx, grid, training).collect()[0]
    # accepted proposal 1 ranks 2nd → error = 1, no top-1 hit, top-3 hit
    assert out["error"] == 1
    assert out["hits_1"] == 0
    assert out["hits_3"] == 1


@pytest.mark.slow
def test_refinement_rounds_converge_toward_true_weights(spark):
    """Coarse→fine search (WeightTrainerStage.scala:61-170): candidates
    whose true ranking follows 0.75·A + 0.25·B — a 0.5-step coarse grid
    cannot express (0.75, 0.25), two halving refinement rounds can.
    Refined weights must score no worse than the coarse winner and land
    strictly closer to the true vector."""
    rows = []
    # scores chosen so only weight_A in (0.7, 0.8) ranks proposal 1 first
    # everywhere: pub pattern X needs w > 0.667, pattern Y needs w < 0.833
    for pub in (100, 200, 300):
        for prop, a_score, b_score in (
            (1, 90.0, 30.0),
            (2, 80.0, 50.0),   # beats 1 unless w_A > 2/3
            (3, 10.0, 20.0),
        ):
            rows.append((prop, pub, "A", a_score))
            rows.append((prop, pub, "B", b_score))
    for pub in (400, 500):
        for prop, a_score, b_score in (
            (1, 60.0, 80.0),
            (2, 70.0, 30.0),   # beats 1 unless w_A < 5/6
            (3, 10.0, 20.0),
        ):
            rows.append((prop, pub, "A", a_score))
            rows.append((prop, pub, "B", b_score))
    cand = spark.createDataFrame(
        rows,
        ["document_version1_id", "document_version2_id", "score_type", "score"],
    )
    training = spark.createDataFrame(
        [(1, p, True) for p in (100, 200, 300, 400, 500)],
        ["proposal_id", "publication_id", "accepted"],
    )

    def error_of(weights: dict) -> int:
        grid = spark.createDataFrame(
            [(0, t, w) for t, w in weights.items()],
            ["weight_id", "score_type", "weight"],
        )
        ctx = wt.contextual_scores(cand)
        return wt.evaluate_weights(ctx, grid, training).first()["error"]

    coarse = {
        r["score_type"]: r["weight"]
        for r in wt.best_weights(
            spark, cand, training, ["A", "B"], step=0.5, refine_rounds=0
        ).collect()
    }
    refined = {
        r["score_type"]: r["weight"]
        for r in wt.best_weights(
            spark, cand, training, ["A", "B"], step=0.5, refine_rounds=2
        ).collect()
    }
    assert error_of(refined) <= error_of(coarse)
    # refinement reaches the (0.7, 0.8) optimum band the coarse grid misses
    assert 0.667 < refined["A"] < 0.833
    assert error_of(refined) == 0


def test_walker_area_selection_interrupts_overlapping_area(spark):
    """WeightTrainerStage.scala:131-141: when a later area's descent
    winner lands on an earlier area's path winner, the later area is
    interrupted — its refined columns NULL, never is_best."""
    from puma_matcher_spark.operators import weights as wt

    errs = spark.createDataFrame(
        [(0, 100), (1, 50), (2, 10), (3, 5), (4, 11),
         (5, 60), (6, 100), (7, 100), (8, 100)],
        "weight_id LONG, error LONG",
    )
    rows = {
        r["area_rank"]: r
        for r in wt.walker_area_selection(errs, n_areas=2).collect()
    }
    a1, a2 = rows[1], rows[2]
    # area 1: coarse center 2 (error 10), descends to neighbor 3 (error 5)
    assert (a1["center"], a1["refined"], a1["refined_error"]) == (2, 3, 5)
    assert not a1["interrupted"] and a1["is_best"]
    # area 2: coarse center 4 descends onto area 1's winner → interrupted
    assert a2["center"] == 4 and a2["interrupted"]
    assert a2["refined"] is None and a2["refined_error"] is None
    assert not a2["is_best"]


def test_walker_area_selection_distinct_winners_both_survive(spark):
    """Non-overlapping descents: both areas keep their refined result and
    the lower refined error wins is_best (tie → lower area_rank)."""
    from puma_matcher_spark.operators import weights as wt

    errs = spark.createDataFrame(
        [(0, 30), (1, 8), (2, 20), (3, 40), (4, 25),
         (5, 60), (6, 21), (7, 4), (8, 50)],
        "weight_id LONG, error LONG",
    )
    rows = {
        r["area_rank"]: r
        for r in wt.walker_area_selection(errs, n_areas=2).collect()
    }
    # coarse: center 2 (20) rank 1, center 6 (21) rank 2
    assert (rows[1]["center"], rows[1]["refined"]) == (2, 1)
    assert (rows[2]["center"], rows[2]["refined"]) == (6, 7)
    assert not rows[1]["interrupted"] and not rows[2]["interrupted"]
    # refined errors 8 vs 4 → area 2 is best
    assert not rows[1]["is_best"] and rows[2]["is_best"]


def test_area_interrupt_flags_match_cascaded_semantics(spark):
    """r9 ADVICE #3: the port flags interruption via a window over ALL
    preceding areas' winners, the reference via COMPLETED areas only
    (cascaded).  Because interruption is winner EQUALITY (transitive),
    the two are provably equivalent — replay random lattices with
    n_areas up to 4 against an explicit sequential cascade to pin it."""
    import random

    from puma_matcher_spark.operators import weights as wt

    rng = random.Random(20260816)
    for trial in range(6):
        lattice = [(i, rng.randrange(0, 12)) for i in range(17)]
        n_areas = rng.choice([3, 4])
        errs = spark.createDataFrame(lattice, "weight_id LONG, error LONG")
        got = sorted(
            (r["area_rank"], r["refined"], r["interrupted"])
            for r in wt.walker_area_selection(errs, n_areas=n_areas).collect()
        )
        # explicit cascade: evaluate areas in rank order; only a
        # NON-interrupted predecessor's winner can interrupt
        err = dict(lattice)
        coarse = sorted(
            (e, w) for w, e in lattice if w % 2 == 0
        )[:n_areas]
        registered: set[int] = set()
        want = []
        for rank, (_, center) in enumerate(coarse, start=1):
            nbrs = [c for c in (center - 1, center, center + 1) if c in err]
            winner = min(nbrs, key=lambda c: (err[c], c))
            hit = winner in registered
            if not hit:
                registered.add(winner)
            want.append((rank, None if hit else winner, hit))
        assert got == sorted(want), (trial, lattice, n_areas, got, want)


def test_training_envelope_guard_raises_out_of_envelope(spark):
    """r9 verdict: the trainer's training-slice input contract was
    docstring-only — an oversized candidate frame must raise the
    contract message immediately, not spill |grid| x |pairs| rows."""
    import pytest

    from puma_matcher_spark.operators import weights as wt

    small = spark.range(10).selectExpr("id AS document_version1_id")
    assert wt.assert_training_envelope(small, max_pairs=100) == 10
    with pytest.raises(ValueError, match="training-slice ceiling"):
        wt.assert_training_envelope(small, max_pairs=5)
