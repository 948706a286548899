"""Graph analytics beyond connected components: PageRank.

The reference's only graph operator is GraphX ``connectedComponents``
(PersonDeduplicationStage.scala:150-159), rebuilt in operators/dedup.py.
PageRank is the additive centrality operator a corpus pipeline uses to
weight documents by link authority (the classic web-crawl quality prior
for pre-training data selection).

Spark-first shape: each iteration is

    contribs = edges ⋈ ranks (on src)  →  groupBy(dst).sum
    ranks    = nodes ⟕ contribs, rank = (1-d)/N + d·(contrib + dangle/N)

i.e. ONE shuffle join + ONE hash aggregate per iteration, with the node
frame reused.  Dangling-node mass (out-degree 0) is redistributed
uniformly through a 1-row scalar aggregate, so total mass stays 1.0 —
the invariant the ``pagerank_mass`` property query checks.

At scale: ranks/edges keep a stable hash partitioning on the join key
across iterations (one co-partitioned shuffle each); `localCheckpoint`
every few rounds truncates the growing lineage exactly like the
connected-components loop.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from puma_matcher_spark.functions.rounding import pround

#: Node-count ceiling below which the per-round small frame (ranks /
#: labels / surviving-core keys) is explicitly broadcast into the join
#: with the edge list.  The frame is O(nodes) — two narrow columns,
#: ≲60 bytes serialized per row — so 500k rows ≈ 30 MB, inside the
#: session's 64 MB auto-broadcast budget.  Broadcasting matters here
#: because the frame comes out of ``localCheckpoint`` (an RDD-backed
#: scan with no size statistics), so plan-time auto-broadcast never
#: fires and every round would otherwise pay a map-side shuffle write
#: of the FULL edge list.  Above the ceiling (web-scale graphs) the
#: loop falls back to the co-partitioned shuffle join, which is the
#: correct 100 TB shape.  ``dedup.connected_components`` reads the same
#: ceiling, on symmetrized edge rows, to choose its path: at or under
#: it the whole edge list is collected and solved on the driver, above
#: it the distributed loop runs.
BROADCAST_NODES_MAX = 500_000

#: Loop shuffle-partition sizing (r12, r11 verdict #1).  The driver's
#: 8-vs-32-core scaling block showed the iterative loops ANTI-scale at
#: local[32] on sf-sized graphs: pagerank_top ran 40% faster on 8 cores
#: (ratio 0.60) because every per-round aggregate shuffled a ~1M-row
#: frame across 32 partitions — pure task-scheduling overhead (guide
#: §2.1/§2.2: size shuffles to the data).  The loops therefore derive
#: their shuffle-partition count from the MEASURED edge count instead of
#: inheriting the session default (a constant tuned for neither shape):
#:
#:   partitions = max(bytes/128MB, min(cores, bytes/16MB))
#:
#: * bytes = edge rows x ~64 B (two short string ids, serialized);
#: * the 16 MB local target keeps small graphs parallel across real
#:   cores without 32-way tiny-task storms (measured sweeps at sf0.1,
#:   1.17M edges: 4-8 partitions beat both 1 and 32 — scripts/
#:   graph_partition_exp.py; pagerank_top 11.7→6.4 s, LPA 6.0→3.4 s —
#:   and the interleaved 5/6-vs-9 follow-up put ~5 partitions ahead of
#:   9 on BOTH loops, so the target sits at 16 MB ≈ 230k edge rows);
#: * the 128 MB floor takes over at cluster scale so tasks stay in the
#:   guide's 100 MB-1 GB band no matter the core count.
#:
#: ``PUMA_SPARK_LOOP_SHUFFLE_PARTITIONS`` overrides: >0 forces a count,
#: -1 disables the scoping (session conf rules), unset/0 = auto.
_EDGE_ROW_BYTES = 64
_LOOP_LOCAL_TARGET = 16 << 20
_LOOP_SCALE_TARGET = 128 << 20


def loop_shuffle_partition_count(spark, n_rows: int) -> int:
    """Shuffle-partition count for an iterative graph loop over
    ``n_rows`` edge rows (see the sizing note above)."""
    override = int(
        os.environ.get("PUMA_SPARK_LOOP_SHUFFLE_PARTITIONS", "0") or "0"
    )
    if override > 0:
        return override
    est_bytes = max(1, n_rows) * _EDGE_ROW_BYTES
    cores = spark.sparkContext.defaultParallelism
    local = min(cores, -(-est_bytes // _LOOP_LOCAL_TARGET))
    at_scale = -(-est_bytes // _LOOP_SCALE_TARGET)
    return max(1, local, at_scale)


@contextmanager
def loop_shuffle_partitions(spark, n_rows: int):
    """Scope ``spark.sql.shuffle.partitions`` to a size derived from the
    loop's edge count; restores the session value on exit.  No-op when
    ``PUMA_SPARK_LOOP_SHUFFLE_PARTITIONS=-1``.  Session-wide while held
    (Spark has no per-plan shuffle-partition knob), which is safe here:
    the loops are driver-controlled and the engine runs queries
    sequentially per session."""
    if os.environ.get("PUMA_SPARK_LOOP_SHUFFLE_PARTITIONS") == "-1":
        yield
        return
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(loop_shuffle_partition_count(spark, n_rows)),
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _is_persisted(df: DataFrame) -> bool:
    """True when the caller already persisted (or checkpointed) the
    frame — the iterative loops then neither re-persist nor unpersist
    it, so memoized shared inputs survive across queries."""
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


#: materialization cadence for the iterative loops' stats-reset barrier:
#: every round is checkpoint-ed and persisted (so plans reference a
#: lineage-capped InMemoryRelation, compute-once within the next job),
#: but only every CADENCE-th round pays the materializing count job.
#: The BigInteger size-estimate blowup compounds ~3x per UNMATERIALIZED
#: level and only bites from ~16 levels (r9 diagnosis, PLANS.md), so a
#: cadence of 4 bounds the compounding to 4 levels (~81x digit growth —
#: trivial) while dropping ~75% of the barrier jobs (r10 verdict: the
#: per-round count cost pagerank_top ~+1.2 s at sf0.1).
BARRIER_CADENCE = 4


def _round_barrier(df: DataFrame, full: bool = True) -> DataFrame:
    """STATS-RESET barrier for iterative DataFrame loops (the round-9
    connected-components diagnosis, operators/dedup.py ``_cc_loop`` and
    PLANS.md: a localCheckpoint-ed frame carries its ORIGIN plan's
    sizeInBytes estimate, each round's joins MULTIPLY the inputs'
    estimates, and the BigInteger digit count compounds ~3× per round —
    from ~round 16 the driver burns its time in BigInteger arithmetic,
    0.6 s → 240 s/round by round 23).  Checkpoint, then persist and
    FULLY materialize the round's frame so every downstream plan reads
    the REAL cached size, and drop the previous round's cache entry.
    ``_cc_loop`` runs the same barrier inline, with its convergence test
    as the materializing action.

    The returned frame is persisted; callers unpersist the final round's
    frame before returning it (the data stays localCheckpoint-backed, so
    later actions re-read materialized RDD blocks, not the lineage).

    The checkpoint is LAZY (eager=False) so the count below materializes
    checkpoint blocks AND the cache in ONE job — an eager localCheckpoint
    followed by persist+count would execute the round twice per
    iteration (r10 review finding).

    ``full=False`` (a LIGHT round, r11): checkpoint + persist only — no
    materializing count job.  The frame still reads as a lineage-capped
    InMemoryRelation downstream, so the next materializing action
    computes each skipped round exactly once (cache-on-compute) with
    stats compounding bounded by :data:`BARRIER_CADENCE` levels.
    Predecessor frames must NOT be unpersisted on a light round —
    dropping an unmaterialized predecessor's cache entry lets the next
    action recompute it once per downstream reference.
    :class:`_CadencedBarrier` owns that bookkeeping for the loops."""
    df = df.localCheckpoint(eager=False)
    df.persist()
    if full:
        df.count()
    return df


class _CadencedBarrier:
    """Per-loop owner of the barrier cadence: decides which rounds
    materialize (every ``cadence``-th and ALWAYS the last, so the final
    frame never references cached helpers after they unpersist) and
    defers the previous frames' unpersist to the next full barrier,
    where they are guaranteed materialized-and-stale.  One shared
    implementation so the three loops cannot drift (r11 review).

    ``compose=True`` (r11): light rounds return the round's plan
    UNTOUCHED — no checkpoint, no persist.  A lazy ``localCheckpoint``
    is not free: ``.rdd`` on an AQE plan executes every intermediate
    query stage eagerly, so even a light round paid its shuffles as a
    separate per-round job (measured 0.5-1.5 s/round at sf0.1 while the
    barrier's count job costs ~0.18 s).  Composing lets the next full
    barrier execute the whole window as ONE adaptive run — measured
    bitwise-identical ranks, ~9% off the pagerank loop.  ONLY safe when
    each round's frame has a SINGLE downstream consumer (sink-free
    fully-inlinked pagerank, LPA): a multiply-referenced unpersisted
    plan (k-core's survivor frame, pagerank's dangle scalar) would
    re-execute once per reference and compound exponentially across the
    window.  Stats compounding stays bounded by the cadence exactly as
    with lazily-checkpointed light rounds (their frames carry origin-
    plan estimates too; only the full barrier's count reads real sizes).
    """

    def __init__(
        self,
        n_rounds: int,
        cadence: int = BARRIER_CADENCE,
        compose: bool = False,
    ):
        self.n_rounds = n_rounds
        self.cadence = cadence
        self.compose = compose
        self._pending: list[DataFrame] = []

    def round(self, i: int, df: DataFrame) -> DataFrame:
        full = (i + 1) % self.cadence == 0 or i == self.n_rounds - 1
        if self.compose and not full:
            return df
        df = _round_barrier(df, full=full)
        self._pending.append(df)
        if full:
            for p in self._pending[:-1]:
                p.unpersist(False)
            self._pending = [df]
        return df


def normalized_barrier_times(
    times: list[float], cadence: int = BARRIER_CADENCE
) -> list[float]:
    """Per-round cost series under the barrier cadence: the time of each
    MATERIALIZING round divided by the number of rounds its job executed
    (light rounds measure only plan construction, ~0).  Flatness of this
    series is the cadence-era equivalent of the old per-round flatness —
    a full barrier that re-computed its window per downstream reference
    (the re-nesting failure the flatness checks pin) inflates late
    entries relative to early ones.  Used by the depth-30 flatness test
    and scripts/graph_scale_stress.py.

    A trailing PARTIAL window (n_rounds not a multiple of the cadence)
    is dropped whenever at least one full window exists: each window
    pays a fixed per-job cost (scheduling + subquery choreography) on
    top of the per-round work, so a short tail's per-round share reads
    systematically hot — measured 1.7x on a 2-round tail vs the 4-round
    windows of the same loop (r11, scripts/graph_scale_stress.py) —
    which is overhead amortization, not re-nesting."""
    fulls: list[float] = []
    lens: list[int] = []
    window = 0
    for i, t in enumerate(times):
        window += 1
        if (i + 1) % cadence == 0 or i == len(times) - 1:
            fulls.append(t / window)
            lens.append(window)
            window = 0
    if len(fulls) > 1 and lens[-1] < cadence:
        fulls.pop()
    return fulls


def edge_nodes(edges: DataFrame) -> DataFrame:
    """Distinct node frame of a directed edge list (src, dst)."""
    return (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    round_times: list[float] | None = None,
) -> DataFrame:
    """Power-iteration PageRank on a directed edge list (src, dst).

    Loop-invariant work is hoisted and cached once: the (edge ⋈
    out-degree) frame with the per-edge transition weight 1/deg, the
    node frame, and the dangling-node set.  Each iteration is then ONE
    join of the cached weighted edges with the current ranks, one hash
    aggregate, and a 1-row dangling-mass aggregate folded in as a
    scalar subquery; the ranks frame is localCheckpoint-ed every round
    so the executed plan stays one-iteration deep instead of nesting
    (nested plans re-run every earlier iteration's subqueries —
    measured 4.5× slower on the purchase graph).

    Deterministic apart from float summation order; callers that need
    engine-reproducible output should round (the registered queries
    check the mass invariant, which is exact to rounding, plus a
    rows-only full ranking).
    """
    # the setup below scans the edge list several times (node frame,
    # degree, weighted edges, structural probes); persisting it first
    # makes the upstream derivation — often a join chain like orders ⋈
    # lineitem ⋈ distinct — run ONCE instead of once per probe.  A
    # caller-persisted frame (e.g. the memoized purchase edge list) is
    # left alone: not re-persisted, and NOT unpersisted on exit.
    caller_persisted = _is_persisted(edges)
    if not caller_persisted:
        edges = edges.persist()
    # materialize the edge cache and size the loop's shuffle partitions
    # from the measured edge count (r12 — see loop_shuffle_partitions);
    # the count is one cheap job over the cache the setup needs anyway
    n_edges = edges.count()
    with loop_shuffle_partitions(edges.sparkSession, n_edges):
        return _pagerank_loop(
            edges, caller_persisted, damping, n_iter, round_times
        )


def _pagerank_loop(
    edges: DataFrame,
    caller_persisted: bool,
    damping: float,
    n_iter: int,
    round_times: list[float] | None,
) -> DataFrame:
    # ONE setup job answers every structural question the loop needs:
    # src-side ∪ dst-side full-outer merge gives the node frame plus
    # per-node has_out/has_in flags, and a single aggregate over it
    # yields N, the dangling count (no out-edge → sink), and the
    # no-in-link count — previously three separate shuffle jobs
    # (count / isEmpty / isEmpty), each re-scanning the cached edges
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("has_out", F.lit(True))
        .join(
            edges.select(F.col("dst").alias("node"))
            .distinct()
            .withColumn("has_in", F.lit(True)),
            "node",
            "full_outer",
        )
        .persist()
    )
    # the loop is driver-controlled and materializes every round anyway
    # (eager localCheckpoint), so the probe row is taken ONCE driver-side
    # — a scalar subquery here would re-execute its job in every round's
    # checkpoint instead
    probe = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(~F.coalesce(F.col("has_out"), F.lit(False)), 1)).alias(
            "n_dangling"
        ),
        F.count(F.when(~F.coalesce(F.col("has_in"), F.lit(False)), 1)).alias(
            "n_no_inlink"
        ),
    ).collect()[0]
    n_nodes = probe["n"]
    n = F.lit(float(n_nodes))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("out_deg"))
    weighted = (
        edges.join(deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("w"))
        .persist()
    )
    dangling = nodes.where(~F.coalesce(F.col("has_out"), F.lit(False))).select(
        "node"
    )
    # a graph with no sinks (e.g. symmetrized) skips the per-iteration
    # dangling-mass job entirely — known from the probe row, not per round
    has_dangling = probe["n_dangling"] > 0
    # when every node also has an IN-link (always true for symmetrized
    # graphs), the contribution aggregate already covers every node, so
    # the per-round "nodes ⟕ contribs" completion join is a structural
    # no-op costing one shuffle + join per round — skip it
    all_have_inlinks = probe["n_no_inlink"] == 0
    # ranks is O(nodes) and checkpoint-backed (no stats) — broadcast it
    # explicitly when small so the cached edge frame never re-shuffles
    small = n_nodes <= BROADCAST_NODES_MAX
    bc = F.broadcast if small else (lambda df: df)
    ranks = nodes.select("node", (F.lit(1.0) / n).alias("rank"))
    # sink-free + fully-inlinked graphs consume each round's ranks in
    # exactly ONE place (the contribution join — no dangle scalar, no
    # completion join), so light rounds can compose instead of paying a
    # per-round checkpoint execution (see _CadencedBarrier)
    barrier = _CadencedBarrier(
        n_iter, compose=not has_dangling and all_have_inlinks
    )
    for i in range(n_iter):
        t0 = time.monotonic() if round_times is not None else 0.0
        contribs = (
            weighted.join(bc(ranks.withColumnRenamed("node", "src")), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        # mass parked on dangling nodes (no outgoing edge) this round
        dangle = (
            dangling.join(ranks, "node")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("d"))
            .scalar()
            if has_dangling
            else F.lit(0.0)
        )
        base = contribs if all_have_inlinks else nodes.join(
            contribs, "node", "left"
        )
        ranks = base.select(
            "node",
            (
                (1.0 - damping) / n
                + damping * (F.coalesce(F.col("contrib"), F.lit(0.0)) + dangle / n)
            ).alias("rank"),
        )
        # checkpoint every round INCLUDING the last: the final frame must
        # not reference the cached helpers below after they unpersist.
        # A FULL barrier (checkpoint + persist + materializing count)
        # runs every BARRIER_CADENCE-th round and always on the last —
        # it executes the accumulated light rounds (each computed once,
        # cache-on-compute) and resets Catalyst's size estimate before
        # the BigInteger stats compounding can bite (~16 levels).
        # Light rounds only checkpoint+persist (no job).
        ranks = barrier.round(i, ranks)
        if round_times is not None:
            round_times.append(time.monotonic() - t0)
    ranks.unpersist(False)
    for c in (nodes, weighted) if caller_persisted else (edges, nodes, weighted):
        c.unpersist()
    return ranks


def label_propagation(
    edges: DataFrame,
    n_iter: int = 5,
    round_times: list[float] | None = None,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA) on an
    undirected (pre-symmetrized) edge list: every node starts labelled
    with itself; each round every node adopts its neighbours' most
    frequent label, ties broken by the smallest label.

    The synchronous schedule + deterministic tie-break makes the result
    a pure function of (edges, n_iter) — unlike classic asynchronous
    LPA, whose output depends on visit order — so the registered query
    carries a FULL DuckDB oracle built by unrolling the same rounds as
    generated SQL (one join + count + row_number per round, exactly the
    Spark plan).  Fixed iteration count, no convergence probe: both
    engines run the identical computation.

    Scale shape per round: one shuffle join of labels onto edges, one
    count aggregate, one rank-within-node window; labels pass the
    stats-reset barrier per round like the PageRank loop
    (``_round_barrier`` — deep n_iter must not hit the BigInteger
    size-estimate blowup).
    """
    caller_persisted = _is_persisted(edges)
    sym = edges if caller_persisted else edges.persist()
    # size the loop's shuffle partitions from the measured edge count
    # (r12 — see loop_shuffle_partitions); the count materializes the
    # cache the label init scans anyway
    with loop_shuffle_partitions(sym.sparkSession, sym.count()):
        return _lpa_loop(sym, caller_persisted, n_iter, round_times)


def _lpa_loop(
    sym: DataFrame,
    caller_persisted: bool,
    n_iter: int,
    round_times: list[float] | None,
) -> DataFrame:
    labels = (
        edge_nodes(sym)
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    # same gate as pagerank: labels is O(nodes), checkpoint-backed
    bc = F.broadcast if labels.count() <= BROADCAST_NODES_MAX else (lambda df: df)
    # each round's labels frame feeds exactly one consumer (the
    # neighbour join), so light rounds compose (see _CadencedBarrier)
    barrier = _CadencedBarrier(n_iter, compose=True)
    try:
        for i in range(n_iter):
            t0 = time.monotonic() if round_times is not None else 0.0
            # winner per node = (max count, then min label): expressed as
            # min(struct(-c, label)) so the argmax is a HASH aggregate on
            # src instead of a row_number window (which would sort every
            # partition) — same deterministic winner, one less sort per
            # round; the unrolled SQL oracle keeps the row_number form,
            # which selects the identical row
            labels = barrier.round(
                i,
                sym.join(bc(labels.withColumnRenamed("node", "dst")), "dst")
                .groupBy("src", "label")
                .agg(F.count(F.lit(1)).alias("c"))
                .groupBy("src")
                .agg(F.min(F.struct((-F.col("c")).alias("nc"), "label")).alias("w"))
                .select(F.col("src").alias("node"), F.col("w.label").alias("label")),
            )
            if round_times is not None:
                round_times.append(time.monotonic() - t0)
        labels.unpersist(False)
        return labels
    finally:
        if not caller_persisted:
            sym.unpersist()


def label_propagation_sql(edges_cte: str, n_iter: int = 5) -> str:
    """Generated DuckDB twin of :func:`label_propagation`: the rounds
    are unrolled as chained CTEs over ``edges_cte`` (which must define
    ``edges(src, dst)``, already symmetrized)."""
    parts = [
        edges_cte,
        """l0 AS (
  SELECT node, node AS label FROM (
    SELECT src AS node FROM edges UNION SELECT dst FROM edges))""",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""l{i} AS (
  SELECT src AS node, label FROM (
    SELECT e.src, l.label, COUNT(*) AS c,
           ROW_NUMBER() OVER (PARTITION BY e.src
                              ORDER BY COUNT(*) DESC, l.label) AS rn
    FROM edges e JOIN l{i - 1} l ON l.node = e.dst
    GROUP BY e.src, l.label) t
  WHERE rn = 1)"""
        )
    return "WITH " + ",\n".join(parts)


def k_core(
    edges: DataFrame,
    k: int = 2,
    n_rounds: int = 4,
    round_times: list[float] | None = None,
) -> DataFrame:
    """Fixed-round k-core peeling on an undirected (pre-symmetrized)
    edge list: each round drops every node whose current degree is
    below ``k`` and all its edges, ``n_rounds`` times.  With enough
    rounds this converges to the exact k-core; the fixed count keeps
    the computation a pure function of (edges, k, n_rounds), so — like
    :func:`label_propagation` — the DuckDB oracle unrolls the identical
    rounds as generated SQL and value-checks them exactly.

    Output: surviving (node, degree) after the last round.  Per round:
    one degree aggregate + two semi-joins; the surviving edge frame
    passes the stats-reset barrier (``_round_barrier``) so plans stay
    one round deep AND deep peels cannot hit the BigInteger
    size-estimate blowup.
    """
    cur = edges.localCheckpoint()
    # size the peel loop's shuffle partitions from the starting edge
    # count (r12 — see loop_shuffle_partitions; survivors only shrink)
    with loop_shuffle_partitions(cur.sparkSession, cur.count()):
        return _k_core_loop(cur, k, n_rounds, round_times)


def _k_core_loop(
    cur: DataFrame,
    k: int,
    n_rounds: int,
    round_times: list[float] | None,
) -> DataFrame:
    # keep is O(surviving nodes) ≤ O(nodes); gate once on the starting
    # node count — survivors only shrink round over round
    bc = (
        F.broadcast
        if edge_nodes(cur).count() <= BROADCAST_NODES_MAX
        else (lambda df: df)
    )
    barrier = _CadencedBarrier(n_rounds)
    for i in range(n_rounds):
        t0 = time.monotonic() if round_times is not None else 0.0
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
        # LAZY checkpoint (r11): an eager one here would run a per-round
        # job (scan cur → deg) and defeat the barrier cadence below.
        # localCheckpoint still marks the RDD persisted, so the two
        # semi-join references compute keep once at the next
        # materializing action, and its lineage stays capped.
        keep = deg.where(F.col("c") >= k).select("src").localCheckpoint(
            eager=False
        )
        # both semi-joins reference the SAME keep frame (the dst side by
        # expression, not a renamed copy) so the two broadcast exchanges
        # canonicalize identically and ReuseExchange ships keep once per
        # round instead of twice
        kb = bc(keep)
        survivors = cur.join(kb, "src", "left_semi")
        # the alias only disambiguates the self-reference for the
        # analyzer; canonicalization strips it, so both broadcast
        # exchanges still dedupe
        cur = barrier.round(
            i,
            survivors.join(
                kb.alias("kcore_keep"),
                F.col("dst") == F.col("kcore_keep.src"),
                "left_semi",
            ),
        )
        if round_times is not None:
            round_times.append(time.monotonic() - t0)
    out = cur.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    # convergence probe (round-9, same contract as connected_components):
    # a survivor below k means the peel cascade was still removing when
    # the rounds ran out — the result would NOT be the k-core, and both
    # engines agreeing on a truncated peel is exactly the failure parity
    # cannot catch.  Fail loudly instead.
    try:
        if out.where(F.col("degree") < k).limit(1).count():
            raise RuntimeError(
                f"k_core: peeling had not converged after {n_rounds} rounds "
                "(a survivor still has degree < k) — raise n_rounds; the "
                "fixed-round result is not the k-core"
            )
    finally:
        # the probe read the cache; later actions on `out` re-read the
        # final round's checkpoint blocks (no CacheManager entry leak)
        cur.unpersist(False)
    return out


def pagerank_sql(
    edges_cte: str, damping: float = 0.85, n_iter: int = 10
) -> str:
    """Generated DuckDB twin of :func:`pagerank` for SYMMETRIZED
    (sink-free, source-free) graphs — the same round-unrolling technique
    as :func:`label_propagation_sql` / :func:`k_core_sql`, applied to
    the power iteration (r9 verdict #6): ``edges_cte`` must define
    ``edges(src, dst)`` with both directions present, so no node is
    dangling (the redistribution term vanishes) and every node receives
    contributions each round (the completion left-join vanishes) —
    exactly the branches :func:`pagerank` itself skips on such graphs.

    Float caveat: both engines sum double contributions in arbitrary
    order, so raw ranks agree only to ~1e-14 relative; consumers must
    round the OUTPUT (the registered query rounds to 6 decimals and
    orders by the rounded value) rather than compare raw doubles.

    Constants are emitted with ``repr`` so DuckDB parses the identical
    IEEE doubles Python/JVM compute (1 - 0.85 is 0.15000000000000002,
    not 0.15)."""
    parts = [
        edges_cte,
        "pr_nodes AS (SELECT DISTINCT src AS node FROM edges)",
        "pr_n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM pr_nodes)",
        """pr_w AS (
  SELECT src, dst, 1.0 / (COUNT(*) OVER (PARTITION BY src)) AS w
  FROM edges)""",
        "pr0 AS (SELECT node, 1.0 / (SELECT n FROM pr_n) AS rank FROM pr_nodes)",
    ]
    base, d = repr(1.0 - damping), repr(damping)
    for i in range(1, n_iter + 1):
        parts.append(
            f"""pr{i} AS (
  SELECT w.dst AS node,
         {base} / (SELECT n FROM pr_n) + {d} * SUM(r.rank * w.w) AS rank
  FROM pr_w w JOIN pr{i - 1} r ON r.node = w.src
  GROUP BY w.dst)"""
        )
    return "WITH " + ",\n".join(parts)


def k_core_sql(edges_cte: str, k: int = 2, n_rounds: int = 4) -> str:
    """Generated DuckDB twin of :func:`k_core` over ``edges_cte``
    (defining ``edges(src, dst)``, symmetrized)."""
    parts = [edges_cte, "e0 AS (SELECT src, dst FROM edges)"]
    for i in range(1, n_rounds + 1):
        parts.append(
            f"""k{i} AS (
  SELECT src FROM e{i - 1} GROUP BY 1 HAVING COUNT(*) >= {k}),
e{i} AS (
  SELECT e.src, e.dst FROM e{i - 1} e
  WHERE e.src IN (SELECT src FROM k{i})
    AND e.dst IN (SELECT src FROM k{i}))"""
        )
    return "WITH " + ",\n".join(parts)


def pagerank_mass_check(edges: DataFrame, **kw) -> DataFrame:
    """1-row mass-conservation + shape property of :func:`pagerank` —
    the oracle-checkable twin of the seeded/iterative full ranking
    (same pattern as ivf_recall / pic_cluster_quality): total mass must
    round to 1.0, every rank must be positive, and the rank spread must
    be real (max > min strictly, since the graph is not rank-regular).
    """
    pr = pagerank(edges, **kw)
    return pr.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        pround(F.sum("rank"), 4).alias("total_mass"),
        (F.min("rank") > 0).alias("all_positive"),
        (F.max("rank") > F.min("rank")).alias("has_spread"),
    )
