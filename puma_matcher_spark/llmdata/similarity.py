"""Similarity search over embedding columns (array<float/double>).

* ``brute_force_topk`` — exact cosine top-k via ``F.zip_with`` +
  ``F.aggregate`` (JVM-side, codegen) over a query×corpus join.  The join
  broadcasts the (small) query set; cost is |queries| × |corpus| × dim,
  fully distributed — correct baseline, quadratic path.
* ``lsh_bucketed_topk`` — the scale path: random-hyperplane (sign-LSH)
  bucket keys; candidates only within matching buckets, then exact rerank.
  At 100 TB the bucket join replaces the full product; recall is tuned by
  (n_planes, n_tables).

Hyperplanes are generated from a seeded NumPy RNG on the driver (tiny) and
folded in as literal arrays — deterministic, no shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from puma_matcher_spark.functions.frames import local_frame
from puma_matcher_spark.functions.rounding import pround

#: Geometry of the hashed-shingle plane (:func:`shingle_hash_embeddings`,
#: :func:`shared_shingle_pairs` and the semantic scans built on them):
#: word n-gram width, embedding buckets, the rare-shingle document-
#: frequency cap, and the rare shingles a candidate pair must share.
SEMANTIC_SHINGLE_N = 3
SEMANTIC_BUCKETS = 128
RARE_SHINGLE_DF_CAP = 64
MIN_SHARED_SHINGLES = 2


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_or_zero(a: Column, b: Column) -> Column:
    """Cosine that degrades to 0.0 (instead of a DIVIDE_BY_ZERO) when
    either side has zero norm — for COARSE stages that score vector
    *slices* (a valid full vector can still have an all-zero prefix).
    0.0 is the natural "no signal" coarse score and both engines agree
    on it, unlike NULL whose sort position differs (Spark orders NULL
    first ASC / last DESC; DuckDB defaults to NULLS LAST for both)."""
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def _all_finite(v: Column) -> Column:
    """No NULL/NaN/±Inf component — a non-finite embedding is an encoder
    failure that poisons every aggregate differently per engine (Spark
    and DuckDB disagree on NaN in rounding/ranking; KMeans and DuckDB's
    int8 cast / STDDEV reject it outright — embeddings-zoo finding).
    A NULL *component* is explicitly invalid too: before round 9 it was
    dropped only by three-valued-logic accident on the Spark side while
    the DuckDB twins kept the row (r8 ADVICE #1) — now both engines
    exclude it by contract (queries._EMB_FINITE carries the same
    clause)."""
    return ~F.exists(
        v.cast("array<double>"),
        lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
    )


def valid_vectors(df: DataFrame) -> DataFrame:
    """Restrict to rows on which cosine similarity is DEFINED: a non-NULL,
    non-empty, all-FINITE embedding with at least one non-zero component
    (zero-norm vectors have no direction).  The `exists` predicate covers
    NULL (→ NULL, dropped by where), empty (→ false) and all-zero
    (→ false); the finiteness pass excludes NaN/±Inf components.

    Every similarity/ANN entry point applies this filter to its inputs —
    the embeddings-zoo parity test (tests/test_embeddings_zoo.py) pins
    the behaviour against DuckDB oracles carrying the same predicate
    (queries._EMB_VALID)."""
    v = F.col("embedding")
    return df.where(F.exists(v, lambda x: x != 0) & _all_finite(v))


def nonempty_vectors(df: DataFrame) -> DataFrame:
    """Rows with a usable (non-NULL, non-empty, all-finite) embedding —
    the weaker validity bar for L2/centroid math, where an all-zero
    vector is a legitimate point (and exactly what a norm audit must
    flag) but a NaN/Inf component still poisons the aggregates."""
    v = F.col("embedding")
    return df.where(v.isNotNull() & (F.size(v) > 0) & _all_finite(v))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    ``queries`` is broadcast (must be small); rank ties broken by candidate
    id for determinism.  Both sides pass :func:`valid_vectors` — cosine is
    undefined on NULL/empty/zero-norm rows, so they are not candidates.
    """
    queries = valid_vectors(queries)
    embeddings = valid_vectors(embeddings)
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            pround(
                cosine(
                    F.col("q_vec").cast("array<double>"),
                    F.col("c_vec").cast("array<double>"),
                ),
                4,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5) (half-up — portable across engines,
    unlike banker's rounding).  Zero vectors quantize to zeros.

    This is the storage path for 100 TB embedding tables: int8 cuts the
    column 4× and the integer dot product is SIMD-friendly; the scale
    travels with the row so scores dequantize exactly.
    Output: (id, qvec array<int>, scale double).
    """
    v = F.col("embedding").cast("array<double>")
    scale = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    ) / F.lit(127.0)
    base = embeddings.select(
        F.col("vec_id"), v.alias("_v"), scale.alias("scale")
    )
    q = F.when(
        F.col("scale") == 0.0,
        F.transform(F.col("_v"), lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(
            F.col("_v"),
            lambda x: F.floor(x / F.col("scale") + 0.5).cast("int"),
        )
    )
    return base.select(F.col("vec_id"), q.alias("qvec"), "scale")


def int8_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Approximate top-k on int8-quantized vectors: score =
    scale_q * scale_c * <q_int, c_int> (dequantized dot product).  The
    arithmetic is fully deterministic, so the whole approximate path is
    oracle-checkable — the quality question (recall vs the float path)
    is a separate property test.  Inputs pass :func:`valid_vectors` —
    same candidacy contract as the float ANN paths.
    """
    queries = valid_vectors(queries)
    embeddings = valid_vectors(embeddings)
    qq = quantize_int8(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("q_q"),
        F.col("scale").alias("q_s"),
    )
    cc = quantize_int8(embeddings).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qvec").alias("c_q"),
        F.col("scale").alias("c_s"),
    )
    int_dot = F.aggregate(
        F.zip_with(
            F.col("q_q").cast("array<long>"),
            F.col("c_q").cast("array<long>"),
            lambda x, y: x * y,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sims = (
        cc.crossJoin(F.broadcast(qq))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            pround(F.col("q_s") * F.col("c_s") * int_dot, 4).alias(
                "approx_dot"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dot", "rank")
    )


def prefix_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    prefix_dims: int = 8,
    shortlist: int = 50,
) -> DataFrame:
    """Two-stage (Matryoshka-style) search: a coarse pass on the first
    ``prefix_dims`` dimensions shortlists ``shortlist`` candidates per
    query, then the exact full-dimension cosine reranks the shortlist.

    At 100 TB the prefix columns are a separate (8/64ths-sized) table
    scanned for stage one; the full vectors are fetched only for the
    shortlist — the classic funnel that makes exact scoring affordable.
    Both stages are deterministic (ties by id), so the composition has
    an exact oracle.  Inputs pass :func:`valid_vectors`; the COARSE score
    uses :func:`cosine_or_zero` because a valid full vector can still
    have an all-zero prefix slice.
    """
    queries = valid_vectors(queries)
    embeddings = valid_vectors(embeddings)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("c_vec"),
    )
    # coarse stage carries ONLY (ids, prefix score) into its ranking
    # shuffle — dragging the full vectors through the |Q|×|C| window
    # exchange would cost exactly the bytes the two-stage funnel exists
    # to avoid; the full vectors are joined back for the shortlist only
    coarse = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            pround(
                cosine_or_zero(
                    F.slice(F.col("q_vec"), 1, prefix_dims),
                    F.slice(F.col("c_vec"), 1, prefix_dims),
                ),
                4,
            ).alias("_coarse"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("_coarse").desc(), F.col("neighbor_id").asc()
    )
    short = (
        coarse.withColumn("_crank", F.row_number().over(wc))
        .where(F.col("_crank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        short.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            pround(cosine(F.col("q_vec"), F.col("c_vec")), 4).alias(
                "cosine_sim"
            ),
        )
        .withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def sign_lsh_keys(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane signature: one bit per plane (sign of dot)."""
    planes = _hyperplanes(dim, n_planes, seed)
    v = F.col("embedding").cast("array<double>")
    key = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(dot(v, plane) > 0, F.lit(1)).otherwise(F.lit(0))
        key = key + bit.cast("long") * F.lit(1 << i)
    return embeddings.select(F.col("vec_id"), key.alias("bucket"))


def ivf_build(
    embeddings: DataFrame,
    n_cells: int = 8,
    seed: int = 42,
) -> tuple[list[list[float]], DataFrame]:
    """Build the IVF index ONCE: fit KMeans on the (validity-filtered)
    corpus and return ``(centers, assigned)`` where ``centers`` is the
    tiny n_cells×dim matrix (plain Python — it travels as plan literals)
    and ``assigned`` is the corpus frame ``(id, vec, cell)``.

    At 100 TB the assigned frame is the PERSISTED index table
    (partitioned/bucketed by ``cell``); new batches join it via
    :func:`ivf_assign` — never by refitting, which would reshuffle every
    stored vector's cell and invalidate the layout.  The refit TRIGGER is
    :func:`ivf_refit_report` run over each incoming batch: a cell flagged
    for occupancy skew or centroid drift schedules a maintenance-window
    rebuild here; without that gate, drift degrades recall silently.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    embeddings = valid_vectors(embeddings)
    feats = embeddings.select(
        F.col("vec_id"),
        F.col("embedding").alias("_arr"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(feats)
    assigned = model.transform(feats).select(
        F.col("vec_id"),
        F.col("_arr").alias("embedding"),
        F.col("prediction").alias("cell"),
    )
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    return centers, assigned


def _nearest_cells(
    centers: list[list[float]], vec_col: str, n_probe: int
) -> Column:
    """Distributed nearest-center computation: per-row squared-L2 to each
    literal center, sort_array over (dist, cell) structs — ties break on
    the lower cell index, matching a stable argsort.  No fit, no driver
    collect, so the input may be the whole corpus."""
    v = F.col(vec_col).cast("array<double>")
    dist_structs = []
    for j, cvec in enumerate(centers):
        lit_c = F.array(*[F.lit(float(x)) for x in cvec])
        d = F.aggregate(
            F.zip_with(v, lit_c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        dist_structs.append(
            F.struct(d.alias("d"), F.lit(j).cast("int").alias("cell"))
        )
    return F.transform(
        F.slice(F.sort_array(F.array(*dist_structs)), 1, n_probe),
        lambda s: s["cell"],
    )


def ivf_assign(batch: DataFrame, centers: list[list[float]]) -> DataFrame:
    """Incremental IVF ingest: assign a NEW batch to the EXISTING cells
    (same ``(id, vec, cell)`` schema as :func:`ivf_build`'s index frame,
    union-ready).  Map-side only — the centers fold in as literals —
    so indexing a batch costs one scan regardless of corpus size.
    Inherits the validity contract: NULL/empty/zero-norm rows are not
    indexable."""
    batch = valid_vectors(batch)
    cell = F.element_at(_nearest_cells(centers, "embedding", 1), 1)
    return batch.select(F.col("vec_id"), F.col("embedding"), cell.alias("cell"))


def ivf_refit_report(
    batch: DataFrame,
    centers: list[list[float]],
    occupancy_skew_threshold: float = 4.0,
    drift_threshold: float = 0.5,
) -> DataFrame:
    """The REFIT GATE for the maintained IVF index: :func:`ivf_assign`
    deliberately never refits (a refit reshuffles every stored vector),
    so under real distribution drift cells skew and recall decays
    silently.  Run this report over each incoming batch; a flagged cell
    is the documented trigger to schedule ``ivf_build`` on the full
    corpus during a maintenance window.

    Per cell it measures, over the batch only (linear in batch size,
    independent of corpus size — map-side assign + one posexplode agg):

    * ``occupancy_share`` — fraction of the batch landing in the cell;
      ``needs_refit`` when share > occupancy_skew_threshold / n_cells
      (i.e. ``occupancy_skew_threshold``× the uniform expectation),
      with the cutoff capped strictly below 1.0 so the signal cannot go
      dead when n_cells <= occupancy_skew_threshold (a cutoff >= 1.0 is
      unreachable by any share; with the cap, a cell swallowing the
      whole batch always flags).
    * ``drift`` — L2 between the batch's in-cell mean vector and the
      index's literal center (the centroid_drift statistic with cell as
      the label), reported also normalised by the mean inter-center
      distance (a scale-free measure); ``needs_refit`` when
      ``drift_norm`` > drift_threshold.

    Cells the batch never touches still emit a row (n_vectors 0, drift
    NULL, not flagged) so the report always has n_cells rows.
    Thresholds: 4× uniform occupancy / 0.5 inter-center drift flag a
    strongly shifted batch while staying quiet on in-distribution
    resamples (property-pinned in tests/test_ivf_index.py)."""
    import itertools as _it

    from puma_matcher_spark.functions.rounding import pround

    spark = batch.sparkSession
    n_cells = len(centers)
    c = np.asarray(centers, dtype=float)
    pair_d = [
        float(np.linalg.norm(c[i] - c[j]))
        for i, j in _it.combinations(range(n_cells), 2)
    ]
    scale = float(np.mean(pair_d)) if pair_d else 1.0
    assigned = ivf_assign(batch, centers)
    e = assigned.select("cell", F.posexplode("embedding").alias("dim", "v"))
    m = e.groupBy("cell", "dim").agg(F.avg("v").alias("av"))
    mean_vec = m.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "av"))),
            lambda s: s["av"],
        ).alias("batch_mean")
    )
    counts = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    cents = local_frame(
        spark,
        [(j, [float(x) for x in centers[j]]) for j in range(n_cells)],
        "cell BIGINT, center ARRAY<DOUBLE>",
    )
    stats = (
        cents.join(counts, "cell", "left")
        .join(mean_vec, "cell", "left")
        .withColumn("n_vectors", F.coalesce("n_vectors", F.lit(0)))
    )
    total = F.sum("n_vectors").over(Window.partitionBy())
    drift = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("batch_mean"),
                F.col("center"),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    share = F.when(total > 0, F.col("n_vectors") / total).otherwise(F.lit(0.0))
    out = stats.select(
        "cell",
        "n_vectors",
        pround(share, 6).alias("occupancy_share"),
        pround(drift, 6).alias("drift"),
        pround(drift / F.lit(scale), 6).alias("drift_norm"),
    )
    # cap the occupancy cutoff strictly below 1.0: with few cells the
    # raw ratio threshold/n_cells can reach >= 1.0 (e.g. default 4.0
    # over 4 cells), which no share can exceed — the skew signal would
    # silently degrade to drift-only (r9 ADVICE #2).  The cap means "a
    # single cell swallowing (essentially) the whole batch always
    # flags", the strongest skew there is.
    occ_cutoff = min(occupancy_skew_threshold / n_cells, 1.0 - 1e-6)
    return out.withColumn(
        "needs_refit",
        (F.col("occupancy_share") > F.lit(occ_cutoff))
        | F.coalesce(
            F.col("drift_norm") > F.lit(drift_threshold), F.lit(False)
        ),
    )


def ivf_topk_indexed(
    assigned: DataFrame,
    centers: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """Search a PREBUILT IVF index (``assigned`` from :func:`ivf_build`
    / :func:`ivf_assign`): each query probes its ``n_probe`` nearest
    cells, exact cosine rerank inside.  The probe join shuffles on
    ``cell`` only; expected work per query is ``n_probe/n_cells`` of the
    corpus."""
    queries = valid_vectors(queries)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.explode(_nearest_cells(centers, "embedding", n_probe)).alias("cell"),
    )
    cands = q.join(
        assigned.select(
            "cell",
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_vec"),
        ),
        "cell",
    ).where(F.col("query_id") != F.col("neighbor_id"))
    sims = cands.select(
        "query_id",
        "neighbor_id",
        pround(
            cosine(
                F.col("q_vec").cast("array<double>"),
                F.col("c_vec").cast("array<double>"),
            ),
            4,
        ).alias("cosine_sim"),
    ).distinct()
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans-partition the corpus into cells,
    search each query only in its ``n_probe`` nearest cells, exact cosine
    rerank inside.

    The scale path alternative to sign-LSH: cell assignment is one ML
    transform (no shuffle), the probe join shuffles on ``cell`` only, and
    expected work per query is ``n_probe/n_cells`` of the corpus.  Recall
    < 1 by construction; raise with n_probe.

    One-shot convenience over the maintained-index decomposition
    (:func:`ivf_build` → :func:`ivf_topk_indexed`; incremental batches
    via :func:`ivf_assign`) — equal to it by construction, which
    tests/test_ivf_index.py pins.
    """
    centers, assigned = ivf_build(embeddings, n_cells, 42)
    return ivf_topk_indexed(assigned, centers, queries, k=k, n_probe=n_probe)


def lsh_bucketed_topk(
    embeddings: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 1,
) -> DataFrame:
    """ANN: exact rerank within sign-LSH buckets.

    One shuffle on ``(table, bucket)``; expected bucket size
    |corpus| / 2^n_planes keeps the within-bucket product tractable.
    Recall < 1 by construction (approximate); ``n_tables`` is the recall
    knob — each table hashes with an independent seed and a pair is a
    candidate if it collides in ANY table, so the miss probability
    decays exponentially, (1 - p^n_planes)^n_tables for same-signature
    probability p.  Candidate volume grows ~linearly with n_tables (the
    100 TB trade: t× the bucket-join work buys exponentially fewer
    misses).  Multi-table candidates are deduped BEFORE the rank window
    so a pair colliding in several tables scores once.

    Choosing (n_planes, n_tables) — measured rule (round-9 grid,
    PLANS.md, 4/6/8 planes x 1/2/4 tables on both geometries): the
    bucket-join cost is ~ |corpus| / 2^n_planes candidate pairs per
    vector per table, and at a MATCHED candidate budget more planes +
    more tables strictly beats fewer planes (recall per candidate pair
    was uniformly highest at 8 planes — wide buckets spend the budget on
    random collisions, extra tables on diversified projections).  So:
    pick n_planes from the per-vector candidate budget, then raise
    n_tables toward the recall target; lower n_planes only when the
    required table count is impractical.  For production top-k recall
    (>= 0.9) on dense embeddings use the IVF or prefix-rerank paths
    instead (clustered-geometry recall 0.993 / 0.998 in the r8 studies);
    sign-LSH is the right tool for bucketed NEAR-DUP candidate
    generation, where per-table collision probability is high by
    construction.
    """
    if n_tables < 1:
        raise ValueError(f"n_tables must be >= 1, got {n_tables}")
    embeddings = valid_vectors(embeddings)
    keys = None
    for ti in range(n_tables):
        kt = sign_lsh_keys(embeddings, dim, n_planes, 42 + ti).withColumn(
            "_table", F.lit(ti)
        )
        keys = kt if keys is None else keys.unionByName(kt)
    keyed = embeddings.join(keys, "vec_id")
    a = keyed.select(
        "_table", "bucket", F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
    )
    b = keyed.select(
        "_table", "bucket", F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
    )
    sims = (
        a.join(b, ["_table", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            pround(
                cosine(
                    F.col("q_vec").cast("array<double>"),
                    F.col("c_vec").cast("array<double>"),
                ),
                4,
            ).alias("cosine_sim"),
        )
    )
    if n_tables > 1:
        # the rounded cosine is deterministic per pair, so distinct
        # collapses cross-table duplicates exactly
        sims = sims.distinct()
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid (element-wise mean) of the embedding vectors —
    the prototype/class-center computation behind nearest-centroid
    classification, IVF coarse quantizers and cluster summaries.

    Shape: posexplode to (label, dim, value) → one hash aggregate on
    (label, dim) → re-assemble the vector with
    sort_array(collect_list(struct(dim, avg))) per label.  Both
    aggregations are shuffle-partitioned; the collect_list group is
    exactly ``dim`` entries, bounded by the embedding width, never by
    corpus size.  Output: (label, centroid, n_vectors).

    Scope: NULL labels are excluded (a prototype for "unlabeled" is not a
    class — and a NULL join key would silently drop the group in Spark's
    null-unsafe equi-join while DuckDB's GROUP BY keeps it, an engine
    divergence the embeddings zoo pins); rows without a usable embedding
    (NULL/empty) are excluded from both the mean and ``n_vectors``.
    """
    from puma_matcher_spark.functions.rounding import pround

    embeddings = nonempty_vectors(embeddings).where(F.col("label").isNotNull())
    e = embeddings.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    m = e.groupBy("label", "dim").agg(F.avg("v").alias("av"))
    cent = m.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "av"))),
            lambda s: pround(s["av"], 4),
        ).alias("centroid")
    )
    counts = embeddings.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    return cent.join(counts, "label")


def nearest_centroid_confusion(embeddings: DataFrame) -> DataFrame:
    """Nearest-centroid classification check: assign every vector to its
    closest label centroid (squared L2 over the 4-dec-rounded centroids,
    ties to the smallest label) and roll up the (true, assigned)
    confusion counts.

    The centroid side is K rows (bounded by the label count), so the
    vector×centroid pairing is a broadcast of a constant-size frame —
    linear in corpus, never quadratic.  The distance folds in a FIXED
    evaluation order (zip_with + sequential aggregate), so the argmin is
    reproducible across engines.
    """
    from puma_matcher_spark.functions.rounding import pround

    cents = label_centroids(embeddings).select(
        F.col("label").alias("c_label"), "centroid"
    )
    # scoring side: a vector with no usable embedding cannot be assigned
    # (its distance to EVERY centroid is NULL, and Spark/DuckDB disagree
    # on where NULL sorts); NULL *labels* stay — they are assigned to a
    # real class and appear as true_label=NULL confusion rows
    embeddings = nonempty_vectors(embeddings)
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("centroid"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        embeddings.select("vec_id", "label", "embedding")
        .crossJoin(F.broadcast(cents))
        .withColumn("_d2", pround(d2, 6))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("_d2").asc(), F.col("c_label").asc()
    )
    best = scored.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") == 1
    )
    return best.groupBy(
        F.col("label").alias("true_label"),
        F.col("c_label").alias("assigned_label"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))


def cosine_threshold_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
) -> DataFrame:
    """Undirected (id1 < id2) vector pairs with 4-dec-rounded cosine >=
    ``threshold`` — the edge stage of semantic deduplication.

    This is the exact all-pairs baseline (documented cartesian; fine at
    fixture scale and for per-cell rerank sets).  At 100 TB the caller
    swaps in a blocked candidate generator — ``sign_lsh_keys`` bucket
    equi-join or ``ivf_topk``'s cell partitioning — and feeds those
    candidate pairs to :func:`semantic_dedup_groups` via ``pairs=``;
    the grouping stage is identical either way.
    """
    # norms are per-vector map-side work hoisted OUT of the O(n^2) pair
    # stage — same doubles as computing them per pair (sqrt of the same
    # fold), so the 4-dec-rounded cosine is unchanged, but each pair
    # folds only the dot product instead of dot + two norms
    embeddings = valid_vectors(embeddings)
    v = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col("embedding").cast("array<double>").alias("_e"),
    ).withColumn("_n", norm(F.col("_e")))
    a = v.select(
        F.col("_id").alias("id1"), F.col("_e").alias("_e1"), F.col("_n").alias("_n1")
    )
    b = v.select(
        F.col("_id").alias("id2"), F.col("_e").alias("_e2"), F.col("_n").alias("_n2")
    )
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            pround(
                dot(F.col("_e1"), F.col("_e2")) / (F.col("_n1") * F.col("_n2")), 4
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
        .select("id1", "id2")
    )


def semantic_dedup_groups(
    embeddings: DataFrame,
    threshold: float = 0.35,
    pairs: DataFrame | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): vectors
    whose cosine clears ``threshold`` are duplicates; duplicate GROUPS are
    the connected components of that pair graph; each group keeps one
    representative (the min id, deterministic) and drops the rest.

    Output (flat, one row per grouped vector): (vec_id, group_id,
    group_size, is_representative).  Vectors with no near-duplicate do
    not appear — they are trivially their own group and the caller keeps
    them all (same contract as the MinHash near-dup clusters).

    Scale shape: the pair stage is pluggable (``pairs=``, see
    :func:`cosine_threshold_pairs`); the grouping is
    :func:`~puma_matcher_spark.operators.dedup.connected_components`
    (a pair graph under ``graph.BROADCAST_NODES_MAX`` symmetrized edges
    is collected once and solved on the driver; a larger one runs the
    min-label loop, one co-partitioned join + one aggregate per round,
    localCheckpoint-ed) and the roll-up is one hash aggregate on
    group_id — nothing quadratic outside candidate generation.
    """
    from puma_matcher_spark.operators.dedup import connected_components

    if pairs is None:
        pairs = cosine_threshold_pairs(embeddings, threshold, id_col=id_col)
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("group_size")
    )
    return (
        comp.join(sizes, "component")
        .select(
            F.col("id").alias(id_col),
            F.col("component").alias("group_id"),
            "group_size",
            (F.col("id") == F.col("component")).alias("is_representative"),
        )
    )


def shingle_hash_embeddings(docs: DataFrame) -> DataFrame:
    """Hashed bag-of-shingles document "embedding": each distinct word
    :data:`SEMANTIC_SHINGLE_N`-gram of ``text`` is md5-hashed (portable
    60-bit arithmetic, DuckDB-reproducible) into one of
    :data:`SEMANTIC_BUCKETS` buckets; the embedding is the per-bucket
    count vector.  Output: (doc_id, embedding array<double>).

    Entirely map-side — the shingle array, the bucket assignments, and the
    count fold all happen inside the row with higher-order array
    functions; zero shuffles, so at 100 TB this costs one scan's IO.  The
    per-row CPU is O(buckets x |shingles|) integer compares (the dense
    histogram is built by one size(filter(..)) per bucket) on top of ONE
    md5 pass over the shingles.  Getting to "one md5 pass" is
    load-bearing (r12): higher-order functions are interpreted with no
    subexpression elimination, so with the bucket-hash TRANSFORM nested
    inline in the histogram lambda the md5 pass re-ran once PER BUCKET —
    128x — and dominated the semantic plane (measured 2.34 s → 0.33 s
    noop at sf0.1 after hoisting).  The bucket array is therefore
    projected to an attribute first, and the histogram keeps a SECOND
    reference to it (the always-true size() guard) because
    CollapseProject inlines a non-cheap alias referenced once, silently
    reintroducing the 128x (measured: the plain two-step projection
    timed identical to the inline form; the guarded one is 7x faster).
    Exact same arithmetic, bitwise-equal embeddings (pinned by test).
    If a profile ever shows the remaining integer compares dominating a
    huge corpus, the escape hatch is explode + groupBy(doc, bucket) (one
    shuffle, true O(|shingles|)), not a cleverer in-row expression: the
    in-row alternatives (map-accumulate, distinct-then-count) have the
    same quadratic term through Spark's O(k) map lookups.  Docs with
    fewer than :data:`SEMANTIC_SHINGLE_N` tokens get the all-zero vector
    (no shingles).
    """
    from puma_matcher_spark.llmdata.dedup import portable_hash60, shingle_arrays

    base = shingle_arrays(docs, n=SEMANTIC_SHINGLE_N)
    buckets = F.transform(
        F.col("shingle_arr"),
        lambda s: (portable_hash60(s) % F.lit(SEMANTIC_BUCKETS)).cast("int"),
    )
    hist = F.transform(
        F.sequence(F.lit(0), F.lit(SEMANTIC_BUCKETS - 1)),
        lambda b: F.size(F.filter(F.col("_bk"), lambda x: x == b)).cast(
            "double"
        ),
    )
    # `size(_bk) >= 0` is always true (`_bk` is never NULL: shingle_arr
    # is [] even for empty/NULL text) — it exists ONLY as the second
    # `_bk` reference that stops CollapseProject from inlining the md5
    # transform back into the histogram lambda (see docstring)
    emb = F.when(F.size(F.col("_bk")) >= 0, hist)
    return base.select("doc_id", buckets.alias("_bk")).select(
        "doc_id", emb.alias("embedding")
    )


def shared_shingle_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-duplicate pairs: documents sharing at least
    :data:`MIN_SHARED_SHINGLES` *rare* shingles (document frequency <=
    :data:`RARE_SHINGLE_DF_CAP`).
    One window pass to tag frequencies + one self equi-join on the
    shingle key, reusing the same hash partitioning — never an all-pairs
    product.

    Two shared shingles is the incidental-collision filter: NEAR-duplicates
    share their whole content's worth of rare shingles (every true pair
    in the fixtures shares >= 8), while a random pair on a vocabulary-
    saturated corpus shares 0-1 by chance — requiring 2 cut the sf0.1
    candidate set ~4x with untouched completeness margin, and the
    counting groupBy replaces the distinct the pair set needed anyway
    (zero extra shuffle).

    Scale shape: candidate volume is sum(df^2) over rare shingles —
    bounded by the df cap x the shingle-row count, linear in the corpus —
    and the df cap excises boilerplate shingles exactly like the
    entity-frequency guard (EntitiesMatcherV2.scala:44-52) excises hub
    entities.  The completeness CONTRACT the cap sets: a near-dup group of
    G documents shares shingles with df ≈ G, so groups up to ~64
    members are found (the 10x stress plants 8-doc clusters and finds all
    of them); a mega-group whose every shared shingle exceeds the cap is
    deliberately out of scope — byte-identical boilerplate belongs to the
    exact-dedup pass, and the cap of 64 costs nothing extra at the fixtures
    (their df histogram tops out below 50, so 64 == uncapped there).
    Fixture margin: every true pair shares >= 8 rare shingles (gate in
    tests/test_semantic_blocked.py).
    """
    from puma_matcher_spark.functions.caching import persist_rotating
    from puma_matcher_spark.llmdata.dedup import shingles

    sh = shingles(docs, n=SEMANTIC_SHINGLE_N)
    w = Window.partitionBy("shingle")
    # persisted (r11): the equi-join's two sides otherwise re-derive the
    # tokenize→shingle explode→df window chain once EACH (the planner
    # broadcasts one side, so the exchange under the window can't be
    # reused across sides) — one scan + one window pass instead of two
    rare = persist_rotating(
        sh.withColumn("_df", F.count(F.lit(1)).over(w))
        .where(F.col("_df") <= RARE_SHINGLE_DF_CAP)
        .select("doc_id", "shingle")
    )
    a = rare.select(F.col("doc_id").alias("id1"), "shingle")
    b = rare.select(F.col("doc_id").alias("id2"), "shingle")
    return (
        a.join(b, "shingle")
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("_n_shared"))
        .where(F.col("_n_shared") >= MIN_SHARED_SHINGLES)
        .select("id1", "id2")
    )


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.8,
    df_cap: int = RARE_SHINGLE_DF_CAP,
    min_shared: int = MIN_SHARED_SHINGLES,
) -> DataFrame:
    """Embedding-level benchmark-contamination scan — the semantic
    complement of :func:`puma_matcher_spark.llmdata.dedup.contamination_check`:
    n-gram containment misses paraphrased/reworded eval leakage, so
    modern pre-training hygiene ALSO thresholds embedding cosine between
    corpus and held-out documents.  Output: (corpus_id, benchmark_id,
    cosine_sim) for every cross pair with cosine >= ``threshold``.

    Plan (the 100 TB shape, mirroring :func:`semantic_dedup_blocked`):
    candidates from ONE cross-frame equi-join on shared *rare* shingles
    (document frequency over BOTH frames <= ``df_cap`` — rarity must be
    global: a corpus-boilerplate shingle is no blocking key even if the
    benchmark uses it once), requiring >= ``min_shared`` shared rare
    shingles; every candidate verified with the EXACT cosine over the
    hashed-shingle embeddings, checkpointed before the verify join (the
    068b131 materialization barrier).  The benchmark side is small in
    production, so AQE broadcasts it; candidate volume is bounded by
    df_cap x the benchmark shingle rows — linear, never |C| x |B|.

    Document frequency is ``count(DISTINCT doc_id)`` per shingle, so a
    document present in BOTH frames (benchmark sampled from the corpus,
    as in the PLANS.md "Round-6: dedup-plane candidate growth at 10x"
    mixture) counts ONCE toward ``df_cap``
    — ``doc_id`` is therefore assumed to be a global document identity
    across the two frames (unrelated id spaces that collide would
    under-count).

    Recall, MEASURED (round 9, PLANS.md "Round-9: semantic-contamination
    recall on planted paraphrase leaks" — planted
    exact/block-paraphrase/scattered-paraphrase/boilerplate
    leaks vs the unblocked all-pairs truth at thresholds 0.5-0.8, grid
    over min_shared {1,2} x df_cap {64,128}): for every pair whose
    similarity rests on rare-shingle evidence, recall was 1.000 in ALL
    configs — structurally, the verified cosine runs over shingle-hash
    embeddings, so any pair clearing even 0.5 cosine shares dozens of
    shingles and content shingles sit far under the df cap; the
    defaults (min_shared=2, df_cap=64) are the operating point, and
    loosening either knob bought nothing.  The one blindspot is
    similarity carried ENTIRELY by corpus-common shingles (boilerplate:
    0/5 caught at every setting) — by design: the df cap exists to
    excise boilerplate blocking keys (a shared licence header is not
    leakage, and unblocking it is the |C|x|B| blowup).  If common-
    content leakage ever matters, raise ``df_cap`` above the
    boilerplate document frequency (quadratic candidate cost in those
    shingles); lowering ``min_shared`` is the wrong knob.  The planted-
    leak gate is pinned in tests/test_semantic_blocked.py; the
    registered driver oracle stays the unblocked all-pairs cross cosine.
    """
    from puma_matcher_spark.functions.caching import persist_rotating
    from puma_matcher_spark.llmdata.dedup import shingles

    # persisted (r11): each side's shingle chain feeds BOTH the global
    # df aggregate and the candidate join — without the persist the
    # tokenize→shingle explode runs twice per frame (4 passes per call)
    cs = persist_rotating(shingles(corpus, n=SEMANTIC_SHINGLE_N))
    bs = persist_rotating(shingles(benchmark, n=SEMANTIC_SHINGLE_N))
    rare = (
        cs.select("doc_id", "shingle")
        .unionAll(bs.select("doc_id", "shingle"))
        .groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("_df"))
        .where(F.col("_df") <= df_cap)
        .select("shingle")
    )
    cands = (
        cs.join(rare, "shingle")
        .select(F.col("doc_id").alias("corpus_id"), "shingle")
        .join(
            bs.select(F.col("doc_id").alias("benchmark_id"), "shingle"),
            "shingle",
        )
        .groupBy("corpus_id", "benchmark_id")
        .agg(F.count(F.lit(1)).alias("_n_shared"))
        .where(F.col("_n_shared") >= min_shared)
        .select("corpus_id", "benchmark_id")
    )
    cv = (
        shingle_hash_embeddings(corpus)
        .select(
            F.col("doc_id").alias("corpus_id"),
            F.col("embedding").alias("_ce"),
            norm(F.col("embedding")).alias("_cn"),
        )
        .localCheckpoint()
    )
    bv = (
        shingle_hash_embeddings(benchmark)
        .select(
            F.col("doc_id").alias("benchmark_id"),
            F.col("embedding").alias("_be"),
            norm(F.col("embedding")).alias("_bn"),
        )
        .localCheckpoint()
    )
    return (
        cands.join(cv, "corpus_id")
        .join(bv, "benchmark_id")
        .select(
            "corpus_id",
            "benchmark_id",
            pround(
                dot(F.col("_ce"), F.col("_be")) / (F.col("_cn") * F.col("_bn")), 4
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """The ACTION twin of :func:`semantic_contamination` (mirroring the
    n-gram plane's contamination_check → decontaminate pair): return the
    corpus with every semantically-leaked document dropped — one
    left-anti join on the flagged corpus ids, so the scan's linear scale
    shape carries over unchanged."""
    flagged = semantic_contamination(
        corpus, benchmark, threshold=threshold
    ).select(F.col("corpus_id").alias("doc_id")).distinct()
    return corpus.join(flagged, "doc_id", "left_anti")


def centroid_drift(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding drift monitor — the vector-plane sibling of the
    events PSI (numeric drift) and vocab KL (lexical drift) alarms: split
    the corpus into a reference half (even ``vec_id``) and a current half
    (odd), compute each label's centroid in both halves, and report the
    cosine between the two centroids (1.0 = stable class geometry).

    Output: (label, n_ref, n_cur, centroid_cosine).  Plan: one posexplode
    + one (label, half, dim) hash aggregate + per-label vector
    re-assembly (bounded by the embedding width) + one dim-key join —
    everything downstream of the single aggregate is label-count-sized,
    so at 100 TB this costs one scan.  In production the halves come
    from two snapshot dates; the parity split keeps the driver fixture
    deterministic.
    """
    from puma_matcher_spark.functions.rounding import pround

    # same scope as label_centroids: NULL labels form no class, rows
    # without a usable embedding contribute to neither mean nor count;
    # a half whose centroid is zero-norm (possible from antipodal valid
    # vectors) yields centroid_cosine NULL instead of a division error
    embeddings = nonempty_vectors(embeddings).where(F.col("label").isNotNull())
    e = embeddings.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("_ref"),
        F.posexplode("embedding").alias("dim", "v"),
    )
    m = e.groupBy("label", "_ref", "dim").agg(F.avg("v").alias("av"))
    # per (label, half): dot/norm fold over the dim-keyed means
    agg = m.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("_ref"), F.col("av"))).alias("r"),
        F.sum(F.when(~F.col("_ref"), F.col("av"))).alias("c"),
    )
    sums = agg.groupBy("label").agg(
        F.sum(F.col("r") * F.col("c")).alias("_dp"),
        F.sqrt(F.sum(F.col("r") * F.col("r"))).alias("_nr"),
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("_nc"),
    )
    counts = embeddings.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_ref"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_cur"),
    )
    return counts.join(sums, "label").select(
        "label",
        "n_ref",
        "n_cur",
        pround(
            F.when(
                (F.col("_nr") > 0) & (F.col("_nc") > 0),
                F.col("_dp") / (F.col("_nr") * F.col("_nc")),
            ),
            4,
        ).alias("centroid_cosine"),
    )


def semantic_dedup_blocked(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """SemDeDup over document text with a *blocked* pair stage — the 100x
    plan: shared-rare-shingle candidates (one equi-join) → exact cosine
    verify on the hashed-shingle embedding → connected components.  Same
    output contract as :func:`semantic_dedup_groups`, keyed by doc_id.

    Why blocking works HERE and not on the isotropic embeddings fixture:
    hashed-shingle vectors of near-duplicate texts sit at cosine >= 0.94
    while the background tops out at ~0.64 (measured, PLANS.md §round-6),
    so the threshold lives in a real gap and the candidate stage only has
    to find pairs that, by construction of near-duplication, share many
    rare shingles.  Every candidate is verified EXACTLY, so false
    candidates cost work, never correctness.

    Reference parity: the reference's cosine matcher
    (matching/matcher/CosineMatcher.scala) thresholds pairwise cosine over
    derived term vectors; this adds the blocked candidate stage its plan
    lacks and feeds the same CC grouping as the dedup chains
    (PersonDeduplication).
    """
    emb = shingle_hash_embeddings(docs)
    cands = shared_shingle_pairs(docs)
    # materialize the embedding+norm table BEFORE the pair join: left as
    # a lazy expression, Catalyst inlines the O(buckets x shingles)
    # embedding construction into the join-side projections and the
    # whole verify collapses into the scan's task — measured minutes vs
    # seconds at sf0.1.  At 100 TB this is the standard "persist the
    # embedding table before similarity passes" step, and the frame is
    # (n_docs x buckets) doubles — the smallest thing in the pipeline.
    v = emb.select(
        F.col("doc_id").alias("_id"),
        F.col("embedding").alias("_e"),
        norm(F.col("embedding")).alias("_n"),
    ).localCheckpoint()
    verified = (
        cands.join(
            v.select(
                F.col("_id").alias("id1"),
                F.col("_e").alias("_e1"),
                F.col("_n").alias("_n1"),
            ),
            "id1",
        )
        .join(
            v.select(
                F.col("_id").alias("id2"),
                F.col("_e").alias("_e2"),
                F.col("_n").alias("_n2"),
            ),
            "id2",
        )
        .where(
            pround(
                dot(F.col("_e1"), F.col("_e2")) / (F.col("_n1") * F.col("_n2")), 4
            )
            >= threshold
        )
        .select("id1", "id2")
    )
    return semantic_dedup_groups(emb, pairs=verified, id_col="doc_id")
