"""Entity deduplication: cleaning, blocked pair generation, connected
components, canonical lookup.

Reference:

* ``PersonCleanerStage`` (deduplication/PersonCleanerStage.scala:14-196) —
  email unwrapping, initial stripping, Unicode NFD fold, blocking key.
* blocked self-join (PersonDeduplicationStage.scala:129-135, J10): the
  equality on the blocking key turns the cartesian into an equi-join;
  ``id1 > id2`` halves it.
* GraphX ``connectedComponents`` (PersonDeduplicationStage.scala:150-159,
  M8) → rebuilt as a size-adaptive min-id solve: PySpark has no GraphX
  (SURVEY.md §7.4), so graphs under the gate are solved on the driver
  with union-find and larger ones by a pure-DataFrame iterative min-id
  propagation loop (large-star/small-star style simplification).

Scale: the gate is ``graph.BROADCAST_NODES_MAX`` symmetrized edge rows,
read from one collect that both sizes the graph and, under the gate,
fetches it (Dremel-style: the strategy follows sizes observed at run
time).  Under it the driver solve costs that collect plus O(log nodes)
vectorized numpy rounds.  The sf0.01 blocked-pair graph (4,023 pairs over
1,488 nodes, 106 components of up to 47 nodes, diameters up to 18) is
far under it: solving it on the driver instead of in the loop cut
the perfbench dedup pass's median cold time from 33.6 to 25.6 s and its
Spark jobs per warm pass from 117–118 to 52 (4 cores).
Above the gate the loop runs: iterations = O(log(max component
diameter)) thanks to the pointer jump, so the number of rounds follows
the diameter, not the component size (the sf0.01 graph converges in 10
rounds plus the label init).  A round is ONE plan (labels broadcast
once, one shuffle for the per-node min) and ONE materializing aggregate
that is also the convergence test; under AQE that is ~6 Spark jobs per
round.  Every round is localCheckpoint-ed, so the lineage never grows
with the round count.
"""

from __future__ import annotations

import os
import unicodedata

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType
from pyspark.sql.window import Window


@F.pandas_udf(StringType())
def fold_diacritics(s: pd.Series) -> pd.Series:
    """NFD-normalise and drop combining marks (PersonCleanerStage.scala:35-65
    / CodeAnalyserService.java:23) — ä→a, é→e; vectorized."""
    def fold(v):
        if v is None:
            return None
        return "".join(
            c for c in unicodedata.normalize("NFD", v)
            if unicodedata.category(c) != "Mn"
        )
    return s.map(fold)


def clean_names(persons: DataFrame, name_col: str = "name") -> DataFrame:
    """Cleaning chain: trim, collapse whitespace, lowercase, fold
    diacritics, strip dotted initials; adds a ``blocking_key``
    (first token + last token — the reference's ``first_lastname``)."""
    cleaned = F.regexp_replace(
        F.regexp_replace(F.lower(F.trim(F.col(name_col))), r"\b\w\.", " "),
        r"\s+",
        " ",
    )
    out = persons.withColumn("clean_name", F.trim(fold_diacritics(cleaned)))
    toks = F.split(F.col("clean_name"), " ")
    return out.withColumn(
        "blocking_key",
        F.concat_ws("#", F.element_at(toks, 1), F.element_at(toks, -1)),
    )


#: ceiling on the candidate-pair volume :func:`blocked_pairs` will
#: generate (r10 verdict "what's missing" #1 — the FS family's analog of
#: weights.TRAINING_PAIRS_MAX): blocking is only a scale strategy while
#: blocks stay small; an over-coarse key (e.g. nation on a full corpus)
#: regrows the quadratic the block exists to kill (fs_em_params at sf1
#: measured exponent ~1.8, PLANS.md round-10).  50M admits the sf0.1
#: bench fixture (~4.4M pairs) with >10x headroom and raises at the sf1
#: nation-blocked fixture (~450M).
BLOCKED_PAIRS_MAX = 50_000_000


def blocked_pairs(
    persons: DataFrame,
    key_col: str = "blocking_key",
    id_col: str = "id",
    max_pairs: int | None = None,
) -> DataFrame:
    """J10 — candidate duplicate pairs within a blocking key.

    The blocking-envelope contract is ENFORCED, not documented: one
    cheap aggregate over ``persons`` (groupBy key + Σ c·(c−1)/2 — never
    the pair join itself) computes the exact pair volume the equi-join
    would emit and raises when it exceeds ``max_pairs``, naming the
    hottest key, instead of letting downstream scoring pay the
    quadratic.  NULL keys are excluded from the count exactly as the
    equi-join excludes them (NULL never equi-matches, so those rows emit
    zero pairs — counting them would spuriously trip the guard on a
    corpus with many unkeyable rows).  ``max_pairs`` defaults to
    ``PUMA_SPARK_BLOCKED_PAIRS_MAX`` when set, else
    :data:`BLOCKED_PAIRS_MAX`; pass ``max_pairs <= 0`` to disable for
    callers that bound volume their own way.

    Cost note: the guard is one extra scan of ``persons`` per call (the
    pair join below scans it twice more) — callers whose ``persons`` is
    an expensive derivation (e.g. the clean_names pandas-UDF chain)
    should persist it first."""
    if max_pairs is None:
        max_pairs = int(
            os.environ.get("PUMA_SPARK_BLOCKED_PAIRS_MAX", BLOCKED_PAIRS_MAX)
        )
    if max_pairs > 0:
        stats = (
            persons.where(F.col(key_col).isNotNull())
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(F.col("c") * (F.col("c") - 1) / 2)
                .cast("long")
                .alias("pairs"),
                F.max(
                    F.struct(F.col("c").alias("c"), F.col(key_col).alias("k"))
                ).alias("hot"),
            )
            .collect()[0]
        )
        n_pairs = stats["pairs"] or 0
        if n_pairs > max_pairs:
            hot = stats["hot"]
            raise ValueError(
                f"blocked_pairs would generate {n_pairs:,} candidate "
                f"pairs on key '{key_col}', above the {max_pairs:,} "
                "blocking-envelope ceiling (hottest block "
                f"{hot['k']!r} holds {hot['c']:,} rows -> "
                f"{hot['c'] * (hot['c'] - 1) // 2:,} pairs).  Blocking "
                "is only a scale strategy while blocks stay small — use "
                "a finer blocking key, pre-split hot blocks, or raise "
                "max_pairs / PUMA_SPARK_BLOCKED_PAIRS_MAX explicitly if "
                "the cluster's capacity covers the quadratic."
            )
    a = persons.select(F.col(key_col).alias("k"), F.col(id_col).alias("id1"))
    b = persons.select(F.col(key_col).alias("k"), F.col(id_col).alias("id2"))
    return (
        a.join(b, "k")
        .where(F.col("id1") > F.col("id2"))
        .select("id1", "id2")
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_dist: int = 4,
    block_col=None,
    max_block: int | None = None,
) -> DataFrame:
    """Blocked Levenshtein near-match join: candidate pairs share a blocking
    key (default: the last whitespace token of the name — for noun-final
    labels the head word), then the JVM ``levenshtein`` expression scores
    each candidate and ``max_dist`` filters.

    The blocking key is what makes this survive scale — the join is an
    equi-join on the key (never all-pairs), and the quadratic cost is paid
    only within a block, whose size is bounded by the key's frequency.  For
    skewed keys pass ``max_block`` — the matcher's frequency-guard pattern
    (operators/matcher.py), applied to the blocking key.  The reference
    does its fuzzy
    person matching with cleaned-key equality (PersonDeduplicationStage
    .scala:129-135); this operator is the edit-tolerant variant a linkage
    pipeline needs when keys don't normalise identically.
    """
    if block_col is None:
        key = F.element_at(F.split(F.col(name_col), " "), -1)
    else:
        key = F.col(block_col) if isinstance(block_col, str) else block_col
    side = df.select(
        F.col(id_col), F.col(name_col), key.alias("_block")
    )
    if max_block is not None:
        # frequency cap (the matcher's guard, reference
        # EntitiesMatcher.scala:58) in the skew-safe shape of
        # cap_entity_frequency: groupBy count (map-side partials) then
        # semi-join.  A count-over-window here would funnel the hot
        # block — the exact thing being guarded against — through one
        # window partition before dropping it.
        ok = (
            side.groupBy("_block")
            .agg(F.count(F.lit(1)).alias("_occ"))
            .where(F.col("_occ") <= max_block)
            .select("_block")
        )
        side = side.join(ok, "_block", "left_semi")
    a = side.select(
        F.col("_block"),
        F.col(id_col).alias("id1"),
        F.col(name_col).alias("name1"),
    )
    b = side.select(
        F.col("_block"),
        F.col(id_col).alias("id2"),
        F.col(name_col).alias("name2"),
    )
    # the bounded (threshold) levenshtein runs the banded DP — O(d·len)
    # per pair with an early exit, returning -1 past the bound — instead
    # of the full O(len²) table; since the filter collapses into the
    # join condition and runs on every block-pair candidate, the bound
    # is what keeps the within-block quadratic affordable.  For blocks
    # too hot even for that, pass ``max_block`` (the guard above) or
    # tighten the blocking key.
    bounded = F.levenshtein("name1", "name2", max_dist)
    return (
        a.join(b, "_block")
        .where(F.col("id1") < F.col("id2"))
        .withColumn("edit_distance", bounded)
        .where(F.col("edit_distance") >= 0)
        .select("id1", "id2", "name1", "name2", F.col("edit_distance").cast("long").alias("edit_distance"))
    )


def person_pair_predicate(pairs: DataFrame) -> DataFrame:
    """Heuristic duplicate test on blocked candidate pairs.

    PersonDeduplicationStage.scala:29-111 accepts a pair when, per name
    field, the values are equal, one is empty, or one is the other's
    initial.  Expects columns firstname1/firstname2, lastname1/lastname2;
    all comparisons are pure column expressions.
    """

    def _compatible(a: str, b: str):
        ca, cb = F.col(a), F.col(b)
        empty = (
            ca.isNull() | cb.isNull() | (F.trim(ca) == "") | (F.trim(cb) == "")
        )
        equal = ca == cb
        initial = (F.length(ca) == 1) & (ca == F.substring(cb, 1, 1)) | (
            (F.length(cb) == 1) & (cb == F.substring(ca, 1, 1))
        )
        return empty | equal | initial

    return pairs.where(
        _compatible("firstname1", "firstname2")
        & (F.col("lastname1") == F.col("lastname2"))
    )


def connected_components(
    edges: DataFrame, max_iterations: int = 40
) -> DataFrame:
    """Connected components: (id1, id2) undirected edges in, (id,
    component) out, where component = min id reachable.  Replaces GraphX
    connectedComponents (M8).  Size-adaptive, chosen from the graph it
    is given (no option):

    * **At most** ``graph.BROADCAST_NODES_MAX`` **symmetrized edge
      rows**: one collect fetches the edge list to the driver as Arrow,
      :func:`_cc_driver` solves it with vectorized union-find and the
      labels come back through ``createDataFrame``.  The same ceiling
      already bounds the loop's broadcast label frame, so a graph under
      it fits on the driver.  Measured on 4 cores: a warm perfbench
      dedup pass (sf0.01) runs the dedup operators in 20 Spark jobs and
      1.8–1.9 s instead of the loop's 85 jobs and 6.8–7.1 s; near the
      gate (480k symmetrized rows, 200k nodes, one component) the
      driver solve took 2.3–3.7 s against the loop's 9.9–13.6 s.
    * **Above it**: :func:`_cc_loop`, iterative min-label propagation
      with path-halving.  Each round takes the min over neighbours'
      labels (one hop) and then a pointer-jump (label ← label of the
      label): on chain-like graphs the covered distance roughly doubles
      per round (a 150-hop chain converges in ~9 rounds where the plain
      hop-only loop needed one round PER HOP — and silently returned
      wrong components past the cap: 333/15,000 wrong labels on the
      sf0.1 blocked-pairs graph, round-9 finding); on interval-overlap
      graphs the jump is worth ~2x, so the cap is sized for the hop
      bound, not the log bound.  Stops when no label changes; RAISES if
      the cap is hit before convergence instead of returning a
      truncated answer.  Per round the new label frame is persisted and
      fully materialized — not for reuse but to RESET Catalyst's size
      estimate to the real cached size (see the stats-reset barrier note
      in ``_cc_loop``).

    Both paths return the same rows and schema; ``max_iterations`` only
    bounds the loop, but it is validated before the branch.
    """
    from puma_matcher_spark.operators import graph

    if max_iterations < 1:
        # with zero rounds the loop never runs, `changed` stays at its
        # initial value and the convergence raise is skipped — the call
        # would silently return identity labels (every node its own
        # component), exactly the truncated-answer class the guard below
        # exists to prevent (r9 ADVICE #5)
        raise ValueError(
            f"max_iterations must be >= 1, got {max_iterations}"
        )
    sym = (
        edges.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        .unionByName(edges.select(F.col("id2").alias("src"), F.col("id1").alias("dst")))
        .distinct()
    )
    # one job sizes the graph and, under the gate, fetches all of it.  It
    # reads sym unpersisted: a cached frame's first read adds a job that
    # builds the cache, which only the loop needs
    gate = graph.BROADCAST_NODES_MAX
    head = sym.limit(gate + 1).toArrow()
    if head.num_rows <= gate:
        return _cc_driver(sym, head)
    # persist the symmetrized edge list: it feeds EVERY iteration's join
    # plus the label init — without the persist the entire upstream plan
    # (for near-dup graphs, the whole MinHash-LSH candidate pipeline)
    # re-executes once per round (measured 2.4× on near_dup_clusters).
    # Above the gate the upstream therefore runs twice: once for the
    # sizing job, once into this cache
    sym.persist()
    try:
        return _cc_loop(sym, max_iterations)
    finally:
        # unpersist on every exit path — a task failure mid-loop must
        # not pin the candidate-pair graph in executor memory
        sym.unpersist()


def _cc_driver(sym: DataFrame, table: pa.Table) -> DataFrame:
    """Min-id components of the symmetrized (src, dst) edge ``table``
    (all of ``sym``), solved on the driver.

    Ids are ranked by sorting (ints or strings alike), so the min id of
    a component is its min rank.  Union-find by hooking: every round
    points each edge's larger root at the smaller one (``minimum.at``),
    then pointer-jumps every node to its root.  A parent never exceeds
    its node, so the forest stays acyclic, and every tree with a
    neighbouring tree is hooked or hooked onto each round, which at
    least halves the trees per component: O(log nodes) vectorized
    rounds.
    """
    # the list is symmetric, so every node appears as a src
    ids = pc.unique(table["src"])
    ids = ids.take(pc.sort_indices(ids))
    src = pc.index_in(table["src"], value_set=ids).to_numpy()
    dst = pc.index_in(table["dst"], value_set=ids).to_numpy()
    root = np.arange(len(ids))
    while True:
        a, b = root[src], root[dst]
        if np.array_equal(a, b):
            break
        np.minimum.at(root, np.maximum(a, b), np.minimum(a, b))
        while not np.array_equal(root[root], root):
            root = root[root]
    out = pa.table({"id": ids, "component": ids.take(root)})
    key = sym.schema["src"].dataType
    # the loop's schema: a group key id, an aggregate (nullable) component
    schema = StructType(
        [StructField("id", key, sym.schema["src"].nullable), StructField("component", key, True)]
    )
    return sym.sparkSession.createDataFrame(out, schema)


def _cc_loop(sym: DataFrame, max_iterations: int) -> DataFrame:
    from puma_matcher_spark.operators.graph import (
        BROADCAST_NODES_MAX,
        loop_shuffle_partitions,
    )
    from puma_matcher_spark.plans.inspect import observed_metrics

    # the label init absorbs the first hop (each node starts at the min
    # of itself and its neighbours) and its eager checkpoint job observes
    # the node and edge counts the broadcast gate and the shuffle sizing
    # read
    init = (
        sym.groupBy("src")
        .agg(
            F.least(F.col("src"), F.min("dst")).alias("component"),
            F.count(F.lit(1)).alias("_deg"),
        )
        .observe(
            "cc_init",
            F.count(F.lit(1)).alias("nodes"),
            F.sum("_deg").alias("edges"),
        )
        .select(F.col("src").alias("id"), "component")
    )
    labels = init.localCheckpoint()
    n = observed_metrics(init)["cc_init"]
    # labels is O(nodes) and checkpoint-backed (no stats for plan-time
    # auto-broadcast) — broadcast it explicitly when small so the
    # persisted edge list never re-shuffles per round; web-scale graphs
    # fall back to the co-partitioned shuffle join (same gate as the
    # PageRank / label-propagation loops)
    bc = F.broadcast if n["nodes"] <= BROADCAST_NODES_MAX else (lambda df: df)
    changed = 0
    prev = None
    # size the loop's shuffle partitions from the measured edge count
    # (r12 — same anti-scaling fix as the pagerank/LPA/k-core loops)
    with loop_shuffle_partitions(sym.sparkSession, n["edges"] or 0):
        for _ in range(max_iterations):
            # one plan per round, L' = min(L, hop(L), L∘L): the min over
            # each node's own label, its neighbours' labels and the label
            # of its label (the pointer jump ~doubles the covered distance
            # per round, so the cap is a log bound, not a hop count).
            # Both joins probe the SAME broadcast frame keyed on id, so
            # the labels ship once per round (ReuseExchange).
            lab = bc(labels)
            own = labels.select("id", "component", F.col("component").alias("_old"))
            hop = sym.join(lab, sym["dst"] == lab["id"]).select(
                sym["src"].alias("id"), lab["component"]
            )
            jump = (
                labels.alias("l")
                .join(lab.alias("p"), F.col("l.component") == F.col("p.id"))
                .select(F.col("l.id"), F.col("p.component"))
            )
            new_labels = (
                own.unionByName(hop, allowMissingColumns=True)
                .unionByName(jump, allowMissingColumns=True)
                .groupBy("id")
                .agg(
                    F.min("component").alias("component"),
                    (F.min("component") < F.min("_old")).alias("_changed"),
                )
            ).localCheckpoint(eager=False)
            # STATS-RESET barrier (round-9 finding, diagnosed via jstack):
            # a checkpointed frame carries its ORIGIN plan's size
            # estimate, each round's joins MULTIPLY the inputs'
            # sizeInBytes, and from ~round 17 the driver spent its time in
            # BigInteger.multiplyToomCook3 (0.6 s → 240 s/round by round
            # 23).  Persisting and fully materializing each round makes
            # downstream stats read the REAL cached size.  The checkpoint
            # is LAZY so one action fills checkpoint blocks AND cache
            # (r10).  That action is the convergence test itself: an
            # aggregate reads every row, so it materializes the frame.
            new_labels.persist()
            changed = new_labels.agg(F.count_if("_changed")).first()[0]
            if prev is not None:
                prev.unpersist(False)
            prev = new_labels
            labels = new_labels
            if changed == 0:
                break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations — graph diameter exceeds the doubling bound; raise "
            "max_iterations (silently returning truncated components would "
            "merge/split clusters wrongly)"
        )
    # drop the final round's CacheManager entry (it otherwise leaks one
    # O(nodes) cache entry per call, r9 ADVICE #5) — the frame stays
    # localCheckpoint-backed, so callers re-read the materialized RDD
    # blocks, not the loop's lineage
    labels.unpersist(False)
    return labels.select("id", "component")


def component_argmax(
    comp: DataFrame, scores: DataFrame, id_col: str = "id"
) -> DataFrame:
    """Pick the best-scoring member of each component: (component,
    rep_id), deterministic via (score DESC NULLS LAST, id ASC) — the
    representative-selection step for quality-aware dedup, where the
    kept duplicate should be the best document, not the smallest id.

    ``comp``: (id, component) from :func:`connected_components`;
    ``scores``: (id, score).  One window over the component key — the
    partition is cluster-sized, never corpus-sized.

    ``scores`` need NOT cover every member: the join is LEFT so a
    component whose members are all unscored still yields a rep row
    (NULL scores lose via desc_nulls_last, then id ASC picks the min-id
    fallback).  An inner join here silently disbanded such clusters —
    callers left-joining the output treated every member as its own
    canonical (r8 ADVICE #3).
    """
    w = Window.partitionBy("component").orderBy(
        F.col("score").desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        comp.join(scores, id_col, "left")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("component", F.col(id_col).alias("rep_id"))
    )


def dedup_lookup(persons: DataFrame, edges: DataFrame, id_col: str = "id") -> DataFrame:
    """(lookup_id, person_id) canonical lookup — every person maps to its
    component min-id; singletons map to themselves
    (PersonDeduplicationStage.scala:162-164)."""
    comp = connected_components(edges)
    return (
        persons.select(F.col(id_col).alias("person_id"))
        .join(comp.withColumnRenamed("id", "person_id"), "person_id", "left")
        .select(
            F.coalesce("component", "person_id").alias("lookup_id"), "person_id"
        )
    )


def exact_name_components(persons: DataFrame, key_col: str, id_col: str = "id") -> DataFrame:
    """Laboratory-style dedup where the pair predicate IS the blocking key
    (LaboratoryDeduplicationStage.scala:39-65): components collapse to
    ``min(id) over (partition by key)`` — no iteration needed.  This is
    the oracle-checkable fast path; use ``connected_components`` when the
    pair predicate is finer than the key."""
    w = F.min(id_col).over(Window.partitionBy(key_col))
    return persons.select(
        F.col(id_col).alias("person_id"), w.alias("lookup_id")
    )


def enumerate_triangles(edges: DataFrame) -> DataFrame:
    """Triangle enumeration over an undirected edge list — the standard
    graph-quality diagnostic for a duplicate-pair graph (connected
    components say WHICH records merge; the triangle density says how
    mutually-confirmed those merges are; components glued by a single
    low-triangle bridge edge deserve review before a destructive merge).

    ``edges`` must carry (src, dst); edges are canonicalised to
    src < dst, so each triangle (a < b < c) is emitted exactly once.
    Shape: two self-equi-joins on node keys — the join order (ab ⋈ bc
    on b, then ⋈ ac) is the classic triangle-join; worst-case output is
    bounded by the graph's arboricity-weighted edge count, and the hot-
    node skew is the same frequency-cap problem as the entity matcher
    (cap degrees upstream for adversarial graphs).
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return ab.join(bc, "b").join(ac, ["a", "c"]).select("a", "b", "c")


def fs_linkage_weights(
    persons: DataFrame,
    pairs: DataFrame,
    fields: list[str],
    m_prob: float = 0.9,
    id_col: str = "id",
) -> DataFrame:
    """Fellegi-Sunter linkage scoring over blocked candidate pairs.

    The classical record-linkage model (Fellegi & Sunter 1969, with
    Winkler's frequency-based u-probabilities): per comparison field,

    * ``u`` — the chance-agreement probability a NON-match agrees,
      estimated from the value distribution as Σ_v (n_v / N)²
      (one tiny aggregate per field, folded in as a scalar subquery);
    * ``m`` — the probability a true match agrees (fixed prior);
    * a pair scores ``log2(m/u)`` where the field agrees (NULLs never
      agree) and ``log2((1-m)/(1-u))`` where it disagrees.

    Output: (id1, id2, one ``w_<field>`` per field, total_weight) —
    ranked by total weight downstream, thresholds chosen per use case.

    Scale shape: the per-field u aggregates scan the person table once
    each (cheap, cacheable); the pair scoring is two broadcast-or-hash
    joins of the person attributes onto the (already blocked) pair list
    and pure column arithmetic after that.
    """
    from puma_matcher_spark.functions.rounding import pround

    n = persons.agg(F.count(F.lit(1)).cast("double").alias("n")).scalar()
    u_probs = {
        f: persons.groupBy(f)
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .agg(F.sum(F.pow(F.col("c") / n, 2)).alias("u"))
        .scalar()
        for f in fields
    }
    side1 = persons.select(
        F.col(id_col).alias("id1"), *[F.col(f).alias(f"{f}_1") for f in fields]
    )
    side2 = persons.select(
        F.col(id_col).alias("id2"), *[F.col(f).alias(f"{f}_2") for f in fields]
    )
    scored = pairs.join(side1, "id1").join(side2, "id2")
    weight_cols = []
    for f in fields:
        agree = F.col(f"{f}_1").eqNullSafe(F.col(f"{f}_2")) & F.col(
            f"{f}_1"
        ).isNotNull()
        u = u_probs[f]
        w = F.when(
            agree, F.log2(F.lit(m_prob) / u)
        ).otherwise(F.log2(F.lit(1.0 - m_prob) / (F.lit(1.0) - u)))
        weight_cols.append(pround(w, 4).alias(f"w_{f}"))
    out = scored.select("id1", "id2", *weight_cols)
    total = None
    for f in fields:
        c = F.col(f"w_{f}")
        total = c if total is None else total + c
    return out.withColumn("total_weight", pround(total, 4))


def fs_em_parameters(
    persons: DataFrame,
    pairs: DataFrame,
    fields: list[str],
    iters: int = 25,
    id_col: str = "id",
):
    """Unsupervised EM fit of the Fellegi-Sunter m/u parameters
    (Winkler's classical procedure), scalable the textbook way: the
    cluster reduces the pair set to AGREEMENT-PATTERN sufficient
    statistics (one groupBy over at most 2^|fields| patterns), and the
    EM iterations run on that tiny table driver-side in numpy.

    Returns (params_df, prior) where params_df has one row per field:
    (field, m, u, w_agree, w_disagree) with weights in log2 — the
    EM-fitted replacement for :func:`fs_linkage_weights`' fixed priors.
    """
    side1 = persons.select(
        F.col(id_col).alias("id1"), *[F.col(f).alias(f"{f}_1") for f in fields]
    )
    side2 = persons.select(
        F.col(id_col).alias("id2"), *[F.col(f).alias(f"{f}_2") for f in fields]
    )
    agree_cols = [
        (
            F.col(f"{f}_1").eqNullSafe(F.col(f"{f}_2"))
            & F.col(f"{f}_1").isNotNull()
        )
        .cast("int")
        .alias(f"g_{f}")
        for f in fields
    ]
    patterns = (
        pairs.join(side1, "id1")
        .join(side2, "id2")
        .select(*agree_cols)
        .groupBy(*[f"g_{f}" for f in fields])
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )
    gamma = np.array([[r[f"g_{f}"] for f in fields] for r in patterns], dtype=float)
    counts = np.array([r["n"] for r in patterns], dtype=float)

    # init: optimistic m, chance-level u, small match prior
    m = np.full(len(fields), 0.9)
    u = np.full(len(fields), 0.1)
    p = 0.05
    for _ in range(iters):
        pm = p * np.prod(m**gamma * (1 - m) ** (1 - gamma), axis=1)
        pu = (1 - p) * np.prod(u**gamma * (1 - u) ** (1 - gamma), axis=1)
        w = pm / (pm + pu)
        wm, wu = w * counts, (1 - w) * counts
        m = np.clip((gamma.T @ wm) / wm.sum(), 1e-6, 1 - 1e-6)
        u = np.clip((gamma.T @ wu) / wu.sum(), 1e-6, 1 - 1e-6)
        p = float(np.clip(wm.sum() / counts.sum(), 1e-9, 1 - 1e-9))

    spark = persons.sparkSession
    rows = [
        (
            f,
            float(m[i]),
            float(u[i]),
            float(np.log2(m[i] / u[i])),
            float(np.log2((1 - m[i]) / (1 - u[i]))),
        )
        for i, f in enumerate(fields)
    ]
    params = spark.createDataFrame(
        rows, "field STRING, m DOUBLE, u DOUBLE, w_agree DOUBLE, w_disagree DOUBLE"
    )
    return params, p
