"""Query registry: every implemented operator exposed as a named query over
the driver testdata, each with a DuckDB oracle-SQL twin.

Conventions that keep the Spark↔DuckDB value-hash comparison exact:

* shared logical views (documents_dim / entities / ...) are defined ONCE as
  SQL fragments here and mirrored verbatim by ``sources.testdata.Tables``;
* every double-typed output column is ``round(x, 4)``;
* every count/sum of integers is cast to BIGINT on the DuckDB side (DuckDB
  sums integers into HUGEINT, Spark into LONG);
* windows/top-k order by a fully deterministic key (value, then id);
* hashes use md5-derived arithmetic that evaluates identically in both
  engines (see llmdata.dedup.portable_hash60).
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from puma_matcher_spark.functions import caching
from puma_matcher_spark.functions.ids import pair_id
from puma_matcher_spark.functions.rounding import (
    money_units,
    money_units_sql,
    pround,
    rewrite_rounds_sql,
)
from puma_matcher_spark.functions.text import STOPWORDS
from puma_matcher_spark.llmdata import dedup as dd
from puma_matcher_spark.llmdata import similarity as sim
from puma_matcher_spark.llmdata import textstats as ts
from puma_matcher_spark.operators import filters as flt
from puma_matcher_spark.operators import matcher as m
from puma_matcher_spark.operators import scorer as sc
from puma_matcher_spark.operators import scorelist as sl
from puma_matcher_spark.operators import stats as st
from puma_matcher_spark.sources.testdata import Tables, load_tables

# --------------------------------------------------------------------------
# Shared SQL view fragments (DuckDB oracle side). The Spark twins live in
# sources.testdata.Tables — keep both in sync.
# --------------------------------------------------------------------------

# DATA CONTRACT: one row per document_version_id (mirrors
# Tables.documents_dim; violations are detected by dq_expectations'
# unique:o_orderkey rule, not masked here — see the Spark twin's
# docstring for the measured cost of in-plan dedup)
V_DOCS = """documents_dim AS (
  SELECT o_orderkey AS document_version_id,
         CASE WHEN o_custkey % 2 = 0 THEN 'PROPOSAL' ELSE 'PUBLICATION' END AS document_type,
         o_orderdate AS date,
         (o_orderstatus = 'F') AS obsolete
  FROM orders)"""

V_ENTITIES = """entities AS (
  SELECT l_orderkey AS document_version_id, l_partkey AS entity_id FROM lineitem)"""

V_ENTITIES2 = """entities2 AS (
  SELECT o_orderkey AS document_version_id, o_custkey AS entity_id FROM orders)"""

_LLM_TOKS = "list_filter(string_split(lower(text), ' '), x -> x <> '')"

#: non-finite components (NULL/NaN/±Inf) invalidate a vector in BOTH
#: validity tiers — engines disagree on NaN arithmetic and several kernels
#: reject it.  The NULL-component clause is explicit (r8 ADVICE #1): Spark's
#: exists/forall predicates drop [1.0, NULL] via three-valued logic, so the
#: DuckDB twin must drop it too instead of counting NULL as finite.
_EMB_FINITE = (
    "coalesce(list_sum(list_transform(embedding::DOUBLE[], "
    "x -> CASE WHEN x IS NULL OR isnan(x) OR isinf(x) THEN 1 ELSE 0 END)), 0)"
    " = 0"
)
#: DuckDB twin of llmdata.similarity.valid_vectors — rows on which cosine
#: is defined (non-NULL, non-empty, non-zero-norm, all-finite embedding).
#: NULL list → list_sum NULL → coalesce 0 → excluded; squaring runs on
#: DOUBLE so no float32 value underflows to an exact 0.
_EMB_VALID = (
    "coalesce(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)), 0) > 0"
    f" AND {_EMB_FINITE}"
)
#: twin of similarity.nonempty_vectors — the weaker bar for L2/centroid math
_EMB_NONEMPTY = f"embedding IS NOT NULL AND len(embedding) > 0 AND {_EMB_FINITE}"


def _tf_chain(p: str, src: str) -> str:
    """CTE chain: tf → df → frequency guard → pair self-join → TF-IDF score.

    Mirrors operators.matcher (entity_tf / cap_entity_frequency /
    entity_pairs) + operators.scorer (with_idf / score_entity_pairs) with
    score_factor=3.
    """
    return f"""{p}tf AS (
  SELECT document_version_id, entity_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM {src} GROUP BY 1, 2),
{p}dfreq AS (
  SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS df FROM {p}tf GROUP BY 1),
{p}doccnt AS (
  SELECT CAST(COUNT(DISTINCT document_version_id) AS BIGINT) AS n FROM {src}),
{p}keep AS (
  SELECT entity_id FROM {p}dfreq
  WHERE df <= 2000 AND df < (SELECT n FROM {p}doccnt) / 20.0),
{p}ctf AS (SELECT t.* FROM {p}tf t JOIN {p}keep USING (entity_id)),
{p}pairs AS (
  SELECT a.entity_id,
         a.document_version_id AS document_version1_id,
         b.document_version_id AS document_version2_id,
         a.tf AS tf1, b.tf AS tf2
  FROM {p}ctf a JOIN {p}ctf b
    ON a.entity_id = b.entity_id
   AND a.document_version_id < b.document_version_id),
{p}agg AS (
  SELECT pr.document_version1_id, pr.document_version2_id,
         SUM((pr.tf1 + pr.tf2) * LOG10((SELECT n FROM {p}doccnt) / d.df)) AS raw_score,
         CAST(COUNT(*) AS BIGINT) AS common,
         CAST(SUM(pr.tf1 + pr.tf2) AS BIGINT) AS item_count
  FROM {p}pairs pr JOIN {p}dfreq d ON pr.entity_id = d.entity_id
  GROUP BY 1, 2),
{p}nc AS (
  SELECT document_version_id, CAST(COUNT(*) AS BIGINT) AS n FROM {p}tf GROUP BY 1),
{p}cand AS (
  SELECT s.document_version1_id, s.document_version2_id,
         s.raw_score * (1.0 + 3.0 * s.common * (0.5 / n1.n + 0.5 / n2.n)) AS score,
         s.common, s.item_count
  FROM {p}agg s
  JOIN {p}nc n1 ON s.document_version1_id = n1.document_version_id
  JOIN {p}nc n2 ON s.document_version2_id = n2.document_version_id)"""


# candidates from both entity families with score_type tags
def _all_cand_ctes() -> str:
    return (
        f"WITH {V_ENTITIES}, {V_ENTITIES2}, {_tf_chain('p_', 'entities')}, "
        f"{_tf_chain('l_', 'entities2')},\n"
        """all_cand AS (
  SELECT document_version1_id, document_version2_id, 'person' AS score_type,
         score, item_count FROM p_cand
  UNION ALL
  SELECT document_version1_id, document_version2_id, 'laboratory' AS score_type,
         score, item_count FROM l_cand)"""
    )


# --------------------------------------------------------------------------
# Spark-side shared builders
# --------------------------------------------------------------------------


def _doc_count_scalar(tf: DataFrame):
    """Distinct-document count as a scalar-subquery Column (Spark 4
    ``DataFrame.scalar()``), computed from the tf frame so it reuses the
    persisted/aggregated input instead of re-scanning the raw entity
    table eagerly at plan-build time."""
    return (
        tf.select("document_version_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n"))
        .scalar()
    )


# Scored-candidate frames are memoized per (session, sf_dir, family) in
# functions.caching, which owns and releases them (and the tf intermediate,
# through its ring): without the memo the TF chain re-scans lineitem ~7x
# per consuming query.
def _entity_candidates(t: Tables, which: str = "person") -> DataFrame:
    """Spark twin of _tf_chain's {p}cand."""

    def build() -> DataFrame:
        ents = (
            t.entities() if which == "person" else t.entities_secondary_orders()
        )
        tf = caching.persist_rotating(m.entity_tf(ents))
        # N as a scalar subquery over the persisted tf frame — the old
        # eager .count() re-scanned the entity table at plan-build time
        # (reference EntitiesMatcherV2.scala:44-52 pays the same double
        # scan); .scalar() folds it into the one real job.
        doc_count = _doc_count_scalar(tf)
        capped = m.cap_entity_frequency(tf, 2000, doc_count)
        pairs = m.entity_pairs(capped)
        pairs_idf = sc.with_idf(pairs, tf, doc_count)
        return sc.score_entity_pairs(
            pairs_idf, tf, which, 1 if which == "person" else 10
        )

    key = ("candidates", t.spark.sparkContext.applicationId, t.sf_dir, which)
    return caching.memoized(key, build)


def _all_candidates(t: Tables) -> DataFrame:
    person = _entity_candidates(t, "person").select(
        "document_version1_id", "document_version2_id", "score_type", "score", "item_count"
    )
    lab = _entity_candidates(t, "laboratory").select(
        "document_version1_id", "document_version2_id", "score_type", "score", "item_count"
    )
    return person.unionByName(lab)


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------


@dataclass
class QuerySpec:
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None):
    def deco(fn):
        # ROUND() in oracle text is rewritten to the portable floor formula
        # so both engines round identically (functions.rounding).
        REGISTRY[name] = QuerySpec(
            spark_fn=fn,
            oracle=rewrite_rounds_sql(oracle) if oracle is not None else None,
        )
        return fn

    return deco


# ---------------- core entity-matching spine ----------------


@register(
    "entity_tf",
    f"""WITH {V_ENTITIES}
SELECT document_version_id, entity_id, CAST(COUNT(*) AS BIGINT) AS tf
FROM entities GROUP BY 1, 2""",
)
def q_entity_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — per-(doc, entity) term frequency. Ref: EntitiesMatcherV2.scala:55-58."""
    return m.entity_tf(load_tables(spark, sf_dir).entities())


@register(
    "entity_pairs",
    f"""WITH {V_ENTITIES}, {_tf_chain('p_', 'entities')}
SELECT document_version1_id, document_version2_id, common, item_count FROM p_agg""",
)
def q_entity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/P9/P10 — frequency-guarded inverted-index self-join pair generation.
    Ref: EntitiesMatcherV2.scala:44-94."""
    t = load_tables(spark, sf_dir)
    ents = t.entities()
    tf = m.entity_tf(ents)
    # in-plan scalar subquery — no eager plan-build corpus scan
    doc_count = _doc_count_scalar(tf)
    capped = m.cap_entity_frequency(tf, 2000, doc_count)
    return m.entity_pairs(capped).groupBy(
        "document_version1_id", "document_version2_id"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("common"),
        F.sum(F.col("tf1") + F.col("tf2")).cast("long").alias("item_count"),
    )


@register(
    "entity_scores",
    f"""WITH {V_ENTITIES}, {_tf_chain('p_', 'entities')}
SELECT document_version1_id, document_version2_id,
       ROUND(score, 4) AS score, item_count FROM p_cand""",
)
def q_entity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4 — TF-IDF pair scoring with team factor. Ref: EntitiesScorer.scala:39-67."""
    return _entity_candidates(load_tables(spark, sf_dir), "person").select(
        "document_version1_id",
        "document_version2_id",
        pround("score", 4).alias("score"),
        "item_count",
    )


@register(
    "match_candidates",
    f"""WITH {V_DOCS}, {V_ENTITIES}, {_tf_chain('p_', 'entities')}
SELECT (c.document_version1_id * 1000000 + c.document_version2_id) * 100 + 1 AS id,
       c.document_version1_id, c.document_version2_id,
       'person' AS score_type, ROUND(c.score, 4) AS score, c.item_count,
       c.document_version1_id * 1000000 + c.document_version2_id AS pair_id
FROM p_cand c
JOIN documents_dim d1 ON c.document_version1_id = d1.document_version_id
JOIN documents_dim d2 ON c.document_version2_id = d2.document_version_id
WHERE (d1.document_type LIKE 'PROPOSAL%') <> (d2.document_type LIKE 'PROPOSAL%')
  AND (CASE WHEN d1.document_type LIKE 'PROPOSAL%'
            THEN YEAR(COALESCE(d1.date, TIMESTAMP '1900-01-01'))
            ELSE YEAR(COALESCE(d2.date, TIMESTAMP '1900-01-01')) END)
   <= (CASE WHEN d1.document_type LIKE 'PROPOSAL%'
            THEN YEAR(COALESCE(d2.date, TIMESTAMP '1900-01-01'))
            ELSE YEAR(COALESCE(d1.date, TIMESTAMP '1900-01-01')) END)
  AND NOT d1.obsolete AND NOT d2.obsolete""",
)
def q_match_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: matcher → scorer → TypeFilter (P2) → DateFilter (P3) →
    DocumentVersionIdFilter (P4) → MATCH_CANDIDATE rows.
    Ref: FullMatcherApp pipeline 1 (app/FullMatcherApp.scala:166-204)."""
    t = load_tables(spark, sf_dir)
    docs = t.documents_dim()
    cand = _entity_candidates(t, "person")
    cand = flt.type_filter(cand, docs)
    cand = flt.date_filter(cand, docs)
    valid = docs.where(~F.col("obsolete"))
    cand = flt.document_version_id_filter(cand, valid)
    return cand.select(
        "id",
        "document_version1_id",
        "document_version2_id",
        "score_type",
        pround("score", 4).alias("score"),
        "item_count",
        "pair_id",
    )


@register(
    "multi_type_filter",
    _all_cand_ctes()
    + """,
typed AS (
  SELECT document_version1_id, document_version2_id, score_type,
         COUNT(DISTINCT score_type)
           OVER (PARTITION BY document_version1_id, document_version2_id) AS n_types
  FROM all_cand)
SELECT document_version1_id, document_version2_id, score_type
FROM typed WHERE n_types > 1 OR score_type = 'laboratory'""",
)
def q_multi_type_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — keep pairs matched by >1 score type or an allowed single type.
    Ref: MultipleTypeMatchFilter.scala:23-41."""
    cand = _all_candidates(load_tables(spark, sf_dir))
    return flt.multiple_type_match_filter(cand, ["laboratory"]).select(
        "document_version1_id", "document_version2_id", "score_type"
    )


@register(
    "matcher_number",
    _all_cand_ctes()
    + """
SELECT document_version1_id, document_version2_id,
       CAST(COUNT(*) AS BIGINT) AS matcher_count,
       CAST(COUNT(*) AS BIGINT) AS item_count
FROM all_cand GROUP BY 1, 2""",
)
def q_matcher_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — matcher-agreement count per pair. Ref: MatcherNumberMatcher.scala:32-46."""
    cand = _all_candidates(load_tables(spark, sf_dir))
    return m.matcher_number(cand).select(
        "document_version1_id",
        "document_version2_id",
        F.col("matcher_count").cast("long").alias("matcher_count"),
        F.col("item_count").cast("long").alias("item_count"),
    )


@register(
    "match_stats",
    _all_cand_ctes()
    + """,
mirrored AS (
  SELECT document_version1_id AS document_version_id, score_type, score FROM all_cand
  UNION ALL
  SELECT document_version2_id AS document_version_id, score_type, score FROM all_cand)
SELECT document_version_id, score_type,
       CAST(COUNT(*) AS BIGINT) AS match_count,
       ROUND(MIN(score), 4) AS score_min,
       ROUND(MAX(score), 4) AS score_max,
       ROUND(AVG(score), 4) AS score_mean,
       ROUND(COALESCE(STDDEV_POP(score), 0.0), 4) AS score_std,
       ROUND(QUANTILE_CONT(score, 0.5), 4) AS score_median
FROM mirrored GROUP BY 1, 2""",
)
def q_match_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — per-document match statistics. Ref: StatisticStage.scala:67-176."""
    cand = _all_candidates(load_tables(spark, sf_dir))
    s = st.match_statistics(cand)
    return s.select(
        "document_version_id",
        "score_type",
        "match_count",
        pround("score_min", 4).alias("score_min"),
        pround("score_max", 4).alias("score_max"),
        pround("score_mean", 4).alias("score_mean"),
        pround("score_std", 4).alias("score_std"),
        pround("score_median", 4).alias("score_median"),
    )


@register(
    "match_ranks",
    _all_cand_ctes()
    + """,
mirrored AS (
  SELECT document_version1_id AS document_version_id,
         document_version2_id AS partner_id, score_type, score FROM all_cand
  UNION ALL
  SELECT document_version2_id AS document_version_id,
         document_version1_id AS partner_id, score_type, score FROM all_cand)
SELECT document_version_id, partner_id, score_type,
       ROUND(score, 4) AS score,
       CAST(RANK() OVER (PARTITION BY document_version_id, score_type
                         ORDER BY ROUND(score, 6) DESC, partner_id ASC) AS BIGINT) AS rank
FROM mirrored""",
)
def q_match_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6/W3 — partner ranking per document with RANK tie semantics.
    Ref: StatisticStage.scala:105-121."""
    from pyspark.sql.window import Window

    cand = _all_candidates(load_tables(spark, sf_dir))
    mirrored = st.mirror_candidates(cand)
    w = Window.partitionBy("document_version_id", "score_type").orderBy(
        pround(F.col("score"), 6).desc(), F.col("partner_id").asc()
    )
    return mirrored.select(
        "document_version_id",
        "partner_id",
        "score_type",
        pround("score", 4).alias("score"),
        F.rank().over(w).cast("long").alias("rank"),
    )


@register(
    "normalised_scores",
    f"""WITH {V_ENTITIES}, {_tf_chain('p_', 'entities')},
ordered AS (
  SELECT document_version1_id, document_version2_id, score,
         ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC,
                            document_version1_id, document_version2_id) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM p_cand),
factor AS (
  SELECT score AS f FROM ordered
  WHERE rn = GREATEST(1, CAST(FLOOR(n * 0.01) AS BIGINT)))
SELECT document_version1_id, document_version2_id,
       ROUND(LEAST(score / (SELECT f FROM factor) * 100.0, 100.0), 4) AS score
FROM ordered""",
)
def q_normalised_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — 99th-percentile normalisation. Ref: NormalisationStage.scala:54-58.

    The exact global-window variant (single partition) reproduces the
    reference; operators.normaliser also provides the percentile_approx
    scale path.
    """
    import math

    from pyspark.sql.window import Window

    cand = _entity_candidates(load_tables(spark, sf_dir), "person")
    n = cand.count()
    rank = max(1, math.floor(n * 0.01))
    w = Window.orderBy(
        pround(F.col("score"), 6).desc(),
        F.col("document_version1_id"),
        F.col("document_version2_id"),
    )
    row = (
        cand.select("score", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == rank)
        .first()
    )
    factor = float(row["score"]) if row else 1.0
    return cand.select(
        "document_version1_id",
        "document_version2_id",
        pround(
            F.least(F.col("score") / F.lit(factor) * 100.0, F.lit(100.0)), 4
        ).alias("score"),
    )


@register(
    "score_pivot",
    _all_cand_ctes()
    + """
SELECT document_version1_id, document_version2_id,
       ROUND(MAX(CASE WHEN score_type = 'person' THEN score END), 4) AS score_person,
       ROUND(MAX(CASE WHEN score_type = 'laboratory' THEN score END), 4) AS score_laboratory
FROM all_cand GROUP BY 1, 2""",
)
def q_score_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — wide per-pair score list via pivot. Ref: ScoreListStage.scala:57-109."""
    cand = _all_candidates(load_tables(spark, sf_dir)).withColumn(
        "pair_id",
        pair_id(F.col("document_version1_id"), F.col("document_version2_id")),
    )
    wide = sl.score_list(cand, ["person", "laboratory"])
    return wide.select(
        "document_version1_id",
        "document_version2_id",
        pround("score_person", 4).alias("score_person"),
        pround("score_laboratory", 4).alias("score_laboratory"),
    )


@register(
    "score_unpivot",
    _all_cand_ctes()
    + """,
wide AS (
  SELECT document_version1_id, document_version2_id,
         ROUND(MAX(CASE WHEN score_type = 'person' THEN score END), 4) AS score_person,
         ROUND(MAX(CASE WHEN score_type = 'laboratory' THEN score END), 4) AS score_laboratory
  FROM all_cand GROUP BY 1, 2)
SELECT document_version1_id, document_version2_id, 'person' AS score_type,
       score_person AS score
FROM wide WHERE score_person IS NOT NULL
UNION ALL
SELECT document_version1_id, document_version2_id, 'laboratory' AS score_type,
       score_laboratory AS score
FROM wide WHERE score_laboratory IS NOT NULL""",
)
def q_score_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 inverse — native ``unpivot`` (stack) melting the wide score
    list back to long form (operators/scorelist.py melt_score_list);
    map-side row expansion, no shuffle."""
    cand = _all_candidates(load_tables(spark, sf_dir)).withColumn(
        "pair_id",
        pair_id(F.col("document_version1_id"), F.col("document_version2_id")),
    )
    wide = sl.score_list(cand, ["person", "laboratory"])
    wide = wide.select(
        "document_version1_id",
        "document_version2_id",
        pround("score_person", 4).alias("score_person"),
        pround("score_laboratory", 4).alias("score_laboratory"),
    )
    return sl.melt_score_list(wide, ["person", "laboratory"])


# Shared dense-grid CTE chain (hourly gap-filled per-type series) for the
# resample and anomaly oracles — one definition so they cannot diverge.
_DENSE_CTES = """b AS (
  SELECT CAST(FLOOR(epoch(MIN(ts)) / 3600) * 3600 AS BIGINT) AS lo,
         CAST(FLOOR(epoch(MAX(ts)) / 3600) * 3600 AS BIGINT) AS hi
  FROM events),
t AS (SELECT DISTINCT event_type FROM events),
g AS (
  SELECT t.event_type,
         CAST(unnest(generate_series(b.lo, b.hi, 3600)) AS BIGINT) AS bucket_epoch
  FROM t, b),
a AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_epoch,
         CAST(COUNT(*) AS BIGINT) AS event_count
  FROM events GROUP BY 1, 2),
dense AS (
  SELECT g.event_type, g.bucket_epoch,
         CAST(COALESCE(a.event_count, 0) AS BIGINT) AS event_count
  FROM g LEFT JOIN a USING (event_type, bucket_epoch))"""


@register(
    "events_resampled",
    "WITH " + _DENSE_CTES + """
SELECT event_type, bucket_epoch, event_count FROM dense""",
)
def q_events_resampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series per event_type (streaming/events.py
    ``resample_counts``): dense grid from an in-plan min/max bound,
    zeros where no events landed."""
    from puma_matcher_spark.streaming.events import resample_counts

    return resample_counts(load_tables(spark, sf_dir).events())


@register(
    "events_forward_fill",
    """WITH b AS (
  SELECT CAST(FLOOR(epoch(MIN(ts)) / 3600) * 3600 AS BIGINT) AS lo,
         CAST(FLOOR(epoch(MAX(ts)) / 3600) * 3600 AS BIGINT) AS hi
  FROM events),
g AS (
  SELECT t.event_type,
         CAST(unnest(generate_series(b.lo, b.hi, 3600)) AS BIGINT) AS bucket_epoch
  FROM (SELECT DISTINCT event_type FROM events) t, b),
obs AS (
  SELECT event_type, bucket_epoch, value AS obs FROM (
    SELECT event_type,
           CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_epoch,
           value,
           ROW_NUMBER() OVER (
             PARTITION BY event_type, CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT)
             ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1),
dense AS (
  SELECT g.event_type, g.bucket_epoch, o.obs
  FROM g LEFT JOIN obs o USING (event_type, bucket_epoch))
SELECT event_type, bucket_epoch,
       ROUND(last_value(obs IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bucket_epoch
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value_filled,
       obs IS NOT NULL AS was_observed
FROM dense""",
)
def q_events_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-filled hourly value series per event_type
    (streaming/events.py ``forward_fill_values``): last observation
    carried forward through empty buckets, (ts, event_id)-deterministic
    within a bucket, NULL before a type's first observation."""
    from puma_matcher_spark.streaming.events import forward_fill_values

    return forward_fill_values(load_tables(spark, sf_dir).events())


@register(
    "events_rolling",
    """SELECT event_id, event_type,
       CAST(COUNT(*) OVER w AS BIGINT) AS trailing_count,
       ROUND(SUM(value) OVER w, 4) AS trailing_value_sum
FROM (SELECT event_id, event_type, value,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
      FROM events)
WINDOW w AS (PARTITION BY event_type ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""",
)
def q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family frame spec the reference lacks: trailing-hour RANGE
    frame per event_type (streaming/events.py ``rolling_counts``)."""
    from puma_matcher_spark.streaming.events import rolling_counts

    return rolling_counts(load_tables(spark, sf_dir).events())


@register(
    "score_deciles",
    _all_cand_ctes()
    + """
SELECT score_type, CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(MIN(score), 4) AS min_score,
       ROUND(MAX(score), 4) AS max_score,
       ROUND(AVG(score), 4) AS mean_score
FROM (
  SELECT score_type, score,
         NTILE(10) OVER (PARTITION BY score_type
           ORDER BY score, document_version1_id, document_version2_id) AS decile
  FROM all_cand)
GROUP BY 1, 2""",
)
def q_score_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-calibration deciles via the NTILE window (the one ranking
    window family the engine had not yet exercised): per score_type,
    count/min/max/mean per decile with a fully deterministic tie order."""
    from pyspark.sql.window import Window

    cand = _all_candidates(load_tables(spark, sf_dir))
    w = Window.partitionBy("score_type").orderBy(
        "score", "document_version1_id", "document_version2_id"
    )
    return (
        cand.withColumn("decile", F.ntile(10).over(w))
        .groupBy("score_type", F.col("decile").cast("long").alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            pround(F.min("score"), 4).alias("min_score"),
            pround(F.max("score"), 4).alias("max_score"),
            pround(F.avg("score"), 4).alias("mean_score"),
        )
    )


@register(
    "events_anomaly",
    "WITH " + _DENSE_CTES + """
SELECT event_type, bucket_epoch, event_count,
       ROUND(CASE WHEN sd > 0 THEN (event_count - mu) / sd END, 4) AS zscore,
       COALESCE(ABS(CASE WHEN sd > 0 THEN (event_count - mu) / sd END) > 3.0,
                false) AS is_anomaly
FROM (
  SELECT event_type, bucket_epoch, event_count,
         AVG(event_count) OVER w AS mu,
         STDDEV_POP(event_count) OVER w AS sd
  FROM dense
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_epoch
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))""",
)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly flags over the gap-filled hourly series
    (streaming/events.py ``anomaly_flags``): resample + bounded ROWS
    frame, deterministic float order."""
    from puma_matcher_spark.streaming.events import anomaly_flags

    return anomaly_flags(load_tables(spark, sf_dir).events())


@register(
    "total_score",
    _all_cand_ctes()
    + """,
weights(score_type, weight) AS (VALUES ('person', 0.6), ('laboratory', 0.4)),
ctx AS (
  SELECT c.document_version1_id, c.document_version2_id, c.score,
         w.weight * c.score /
           MAX(c.score) OVER (PARTITION BY c.document_version2_id, c.score_type)
           * 100.0 AS contextual
  FROM all_cand c JOIN weights w ON c.score_type = w.score_type)
SELECT document_version1_id, document_version2_id,
       ROUND(SUM(score), 4) AS total_score,
       ROUND(SUM(contextual), 4) AS total_contextual_score
FROM ctx GROUP BY 1, 2""",
)
def q_total_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/W2 — weighted total + contextual score.
    Ref: TotalStatisticStage.scala:58-80."""
    t = load_tables(spark, sf_dir)
    cand = _all_candidates(t)
    weights = t.spark.createDataFrame(
        [("person", 0.6), ("laboratory", 0.4)], ["score_type", "weight"]
    )
    out = st.total_score(cand, weights)
    return out.select(
        "document_version1_id",
        "document_version2_id",
        pround("total_score", 4).alias("total_score"),
        pround("total_contextual_score", 4).alias("total_contextual_score"),
    )


@register(
    "dual_type_pairs",
    """WITH owned AS (
  SELECT DISTINCT l_orderkey AS document_version_id, l_partkey AS entity_id, 1 AS is_primary
  FROM lineitem WHERE l_linenumber = 1),
referenced AS (
  SELECT DISTINCT l_orderkey AS document_version_id, l_partkey AS entity_id, 0 AS is_primary
  FROM lineitem WHERE l_linenumber > 1),
u AS (SELECT DISTINCT * FROM (SELECT * FROM owned UNION ALL SELECT * FROM referenced))
SELECT DISTINCT a.entity_id,
       a.document_version_id AS document_version1_id,
       b.document_version_id AS document_version2_id
FROM u a JOIN u b
  ON a.entity_id = b.entity_id
 AND a.document_version_id < b.document_version_id
 AND a.is_primary + b.is_primary < 2""",
)
def q_dual_type_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — dual-type pair generation (owned vs referenced entities).
    Ref: DualTypeEntitiesMatcher.scala:60-137."""
    li = load_tables(spark, sf_dir).raw("lineitem")
    owned = li.where(F.col("l_linenumber") == 1).select(
        F.col("l_orderkey").alias("document_version_id"),
        F.col("l_partkey").alias("entity_id"),
    )
    referenced = li.where(F.col("l_linenumber") > 1).select(
        F.col("l_orderkey").alias("document_version_id"),
        F.col("l_partkey").alias("entity_id"),
    )
    return m.dual_type_entity_pairs(owned, referenced).select(
        "entity_id", "document_version1_id", "document_version2_id"
    ).distinct()


# ---------------- TPC-H-style headline queries (bench anchors) ----------------


@register(
    "pricing_summary",
    """SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary — scan/agg throughput anchor."""
    li = load_tables(spark, sf_dir).raw("lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            pround(F.sum("l_quantity"), 2).alias("sum_qty"),
            pround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            pround(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            pround(F.avg("l_quantity"), 4).alias("avg_qty"),
            pround(F.avg("l_extendedprice"), 4).alias("avg_price"),
            pround(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


@register(
    "shipping_priority",
    """SELECT l.l_orderkey,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       CAST(FLOOR(epoch(o.o_orderdate) / 86400) AS BIGINT) AS orderdate_epoch_day,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority""",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style 3-way join + aggregate — multi-join throughput
    anchor (orders↔lineitem co-shuffle; customer scales with SF so it
    carries no forced broadcast hint — AQE broadcasts it at small SF)."""
    t = load_tables(spark, sf_dir)
    c = t.raw("customer").where(F.col("c_mktsegment") == "BUILDING")
    o = t.raw("orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = t.raw("lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            (F.floor(F.unix_timestamp("o_orderdate") / 86400))
            .cast("long")
            .alias("orderdate_epoch_day"),
            "o_orderpriority",
        )
        .agg(
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "orderdate_epoch_day", "o_orderpriority")
    )


@register(
    "local_supplier_volume",
    """SELECT n.n_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name""",
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way star join — dimension-chain anchor.  Only the
    fixed-cardinality dims (nation=25, region=5 rows) carry broadcast
    hints; customer and supplier scale with SF, so AQE sizes those joins
    at runtime (broadcast at small SF, shuffle at cluster scale)."""
    t = load_tables(spark, sf_dir)
    c, o, li = t.raw("customer"), t.raw("orders"), t.raw("lineitem")
    s, n, r = t.raw("supplier"), t.raw("nation"), t.raw("region")
    dims = (
        s.join(
            F.broadcast(n), s.s_nationkey == n.n_nationkey
        ).join(
            F.broadcast(r.where(F.col("r_name") == "ASIA")),
            n.n_regionkey == r.r_regionkey,
        )
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            dims,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------- LLM-data-pipeline plane ----------------


@register(
    "doc_token_stats",
    """WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk,
         text FROM documents)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS token_count,
       CAST(length(text) AS BIGINT) AS char_count,
       ROUND(len(list_distinct(tk)) / CAST(len(tk) AS DOUBLE), 4) AS distinct_ratio,
       ROUND(len(list_filter(tk, x -> list_contains(['the','a','an','of','and','or','to','in','is','are','for','on','with','by','at','from','as','that','this','it'], x))) / CAST(len(tk) AS DOUBLE), 4) AS stopword_ratio
FROM toks""",
)
def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring over documents (LLM-data plane)."""
    return ts.with_token_stats(load_tables(spark, sf_dir).llm_documents())


@register(
    "doc_fingerprint",
    """SELECT doc_id,
       md5(array_to_string(list_filter(string_split(lower(text), ' '), x -> x <> ''), ' ')) AS fingerprint
FROM documents""",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5 of normalised text)."""
    return ts.with_fingerprint(load_tables(spark, sf_dir).llm_documents())


@register(
    "dedup_exact",
    """WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_filter(string_split(lower(text), ' '), x -> x <> ''), ' ')) AS fingerprint
  FROM documents)
SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS doc_count, MIN(doc_id) AS keep_id
FROM fp GROUP BY 1""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy."""
    return dd.exact_duplicates(load_tables(spark, sf_dir).llm_documents())


@register(
    "lang_id",
    """WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents)
SELECT doc_id,
       CASE WHEN len(list_filter(tk, x -> list_contains(['the','a','an','of','and','or','to','in','is','are','for','on','with','by','at','from','as','that','this','it'], x))) / CAST(len(tk) AS DOUBLE) >= 0.03
            THEN 'en' ELSE 'unk' END AS predicted_lang
FROM toks""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-hit ratio)."""
    return ts.with_lang_id(load_tables(spark, sf_dir).llm_documents())


# ---------------- text matching family ----------------

# DuckDB twin of functions.text.tokenize (lower → split non-alnum →
# len>=3 → stopwords)
_SW_SQL = "[" + ",".join(f"'{w}'" for w in STOPWORDS) + "]"

_TOKS_SQL = (
    "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'), "
    f"x -> length(x) >= 3 AND NOT list_contains({_SW_SQL}, x))"
)


def _sentence_ctes(src: str, id_col: str, text_col: str, n: int = 4) -> str:
    joins = "\n".join(
        f"  JOIN toks t{i} ON t{i}.document_version_id = t0.document_version_id"
        f" AND t{i}.pos = t0.pos + {i}"
        for i in range(1, n)
    )
    concat = " || ' ' || ".join(f"t{i}.tok" for i in range(n))
    return f"""toksl AS (
  SELECT {id_col} AS document_version_id, {_TOKS_SQL.format(col=text_col)} AS tk
  FROM {src}),
toks AS (
  SELECT document_version_id, unnest(tk) AS tok, unnest(range(len(tk))) AS pos
  FROM toksl),
sh AS (
  SELECT DISTINCT t0.document_version_id, {concat} AS sentence
  FROM toks t0
{joins}),
occ AS (SELECT sentence, COUNT(*) AS occ FROM sh GROUP BY 1),
capped AS (
  SELECT sh.document_version_id, sh.sentence
  FROM sh JOIN occ USING (sentence) WHERE occ <= 100)"""


@register(
    "text_match_pairs",
    f"""WITH {_sentence_ctes('documents', 'doc_id', 'text')}
SELECT a.document_version_id AS document_version1_id,
       b.document_version_id AS document_version2_id,
       CAST(COUNT(*) AS BIGINT) AS common_sentences
FROM capped a JOIN capped b
  ON a.sentence = b.sentence AND a.document_version_id < b.document_version_id
GROUP BY 1, 2""",
)
def q_text_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — 4-word sentence-shingle matching with occurrence cap.
    Ref: TextMatcher.scala:55-68."""
    from puma_matcher_spark.operators import textmatch as tm

    docs = load_tables(spark, sf_dir).llm_documents()
    return tm.text_match_pairs(docs, max_occurrence=100, id_col="doc_id")


@register(
    "text_match_scores",
    f"""WITH {_sentence_ctes('documents', 'doc_id', 'text')},
pairs AS (
  SELECT a.document_version_id AS document_version1_id,
         b.document_version_id AS document_version2_id,
         CAST(COUNT(*) AS BIGINT) AS common_sentences
  FROM capped a JOIN capped b
    ON a.sentence = b.sentence AND a.document_version_id < b.document_version_id
  GROUP BY 1, 2),
counts AS (
  SELECT document_version_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1)
SELECT p.document_version1_id, p.document_version2_id, p.common_sentences,
       ROUND(p.common_sentences / CAST(LEAST(c1.n, c2.n) AS DOUBLE), 4) AS score
FROM pairs p
JOIN counts c1 ON p.document_version1_id = c1.document_version_id
JOIN counts c2 ON p.document_version2_id = c2.document_version_id""",
)
def q_text_match_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 + TextScorer — overlap normalised by the smaller document."""
    from puma_matcher_spark.operators import textmatch as tm

    docs = load_tables(spark, sf_dir).llm_documents()
    out = tm.text_match_scores(docs, max_occurrence=100, id_col="doc_id")
    return out.select(
        "document_version1_id",
        "document_version2_id",
        "common_sentences",
        pround("score", 4).alias("score"),
    )


def _sentence_pos_ctes(src: str, id_col: str, text_col: str, n: int = 4) -> str:
    """Shingles WITH positions (non-distinct) — the run-merge family
    needs first-occurrence positions, unlike ``_sentence_ctes``."""
    joins = "\n".join(
        f"  JOIN toks t{i} ON t{i}.document_version_id = t0.document_version_id"
        f" AND t{i}.pos = t0.pos + {i}"
        for i in range(1, n)
    )
    concat = " || ' ' || ".join(f"t{i}.tok" for i in range(n))
    return f"""toksl AS (
  SELECT {id_col} AS document_version_id, {_TOKS_SQL.format(col=text_col)} AS tk
  FROM {src}),
toks AS (
  SELECT document_version_id, unnest(tk) AS tok, unnest(range(len(tk))) AS pos
  FROM toksl),
shp AS (
  SELECT t0.document_version_id, t0.pos, {concat} AS sentence
  FROM toks t0
{joins})"""


@register(
    "text_match_merged",
    f"""WITH {_sentence_pos_ctes('documents', 'doc_id', 'text')},
firstocc AS (
  SELECT document_version_id, sentence, MIN(pos) AS pos
  FROM shp GROUP BY 1, 2),
occ AS (SELECT sentence, COUNT(*) AS occ FROM firstocc GROUP BY 1),
capped AS (
  SELECT f.document_version_id, f.sentence, f.pos
  FROM firstocc f JOIN occ USING (sentence)
  WHERE occ.occ > 1 AND occ.occ < 100),
m AS (
  SELECT a.document_version_id AS dv1, b.document_version_id AS dv2,
         a.pos AS pos1, b.pos AS pos2
  FROM capped a JOIN capped b
    ON a.sentence = b.sentence AND a.document_version_id < b.document_version_id),
flagged AS (
  SELECT dv1, dv2, pos1, pos2,
         CASE WHEN lag(pos1) OVER w IS NULL
                OR pos1 - lag(pos1) OVER w > 4
                OR pos2 - lag(pos2) OVER w > 4
              THEN 1 ELSE 0 END AS new_run
  FROM m
  WINDOW w AS (PARTITION BY dv1, dv2 ORDER BY pos1)),
runs0 AS (
  SELECT *, SUM(new_run) OVER (
    PARTITION BY dv1, dv2 ORDER BY pos1 ROWS UNBOUNDED PRECEDING) AS run_id
  FROM flagged),
runs AS (
  SELECT dv1, dv2, run_id, MIN(pos1) AS s1, arg_min(pos2, pos1) AS s2,
         MAX(pos1) - MIN(pos1) + 4 AS run_size
  FROM runs0 GROUP BY 1, 2, 3),
wc AS (
  SELECT document_version_id, CAST(COUNT(*) AS BIGINT) AS word_count
  FROM shp GROUP BY 1),
agg AS (
  SELECT dv1 AS document_version1_id, dv2 AS document_version2_id,
         string_agg(CAST(s1 AS VARCHAR), ' ' ORDER BY s1) AS doc1_positions,
         string_agg(CAST(s2 AS VARCHAR), ' ' ORDER BY s1) AS doc2_positions,
         string_agg(CAST(run_size AS VARCHAR), ' ' ORDER BY s1) AS run_sizes,
         CAST(MAX(run_size) AS BIGINT) AS max_sentence_size,
         CAST(COUNT(*) AS BIGINT) AS text_match_count,
         CAST(SUM(run_size) AS BIGINT) AS word_match_count
  FROM runs GROUP BY 1, 2)
SELECT g.document_version1_id, g.document_version2_id,
       g.doc1_positions, g.doc2_positions, g.run_sizes,
       g.max_sentence_size, g.text_match_count, g.word_match_count,
       w1.word_count AS doc1_word_count, w2.word_count AS doc2_word_count
FROM agg g
LEFT JOIN wc w1 ON g.document_version1_id = w1.document_version_id
LEFT JOIN wc w2 ON g.document_version2_id = w2.document_version_id""",
)
def q_text_match_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 run-merge — overlapping matched n-gram runs merged into
    contiguous passages (ref TextMatcher.scala:95-157); position/size
    arrays string-joined per the parity rule."""
    from puma_matcher_spark.operators import textmatch as tm

    docs = load_tables(spark, sf_dir).llm_documents()
    out = tm.text_match_merged(docs, max_occurrence=100, id_col="doc_id")
    return out.select(
        "document_version1_id",
        "document_version2_id",
        F.concat_ws(" ", F.col("doc1_positions").cast("array<string>")).alias(
            "doc1_positions"
        ),
        F.concat_ws(" ", F.col("doc2_positions").cast("array<string>")).alias(
            "doc2_positions"
        ),
        F.concat_ws(" ", F.col("run_sizes").cast("array<string>")).alias(
            "run_sizes"
        ),
        "max_sentence_size",
        "text_match_count",
        "word_match_count",
        "doc1_word_count",
        "doc2_word_count",
    )


@register(
    "single_word_scores",
    f"""WITH toksl AS (
  SELECT doc_id AS document_version_id, {_TOKS_SQL.format(col='text')} AS tk
  FROM documents),
words AS (SELECT document_version_id, unnest(tk) AS word FROM toksl),
tf AS (
  SELECT document_version_id, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM words GROUP BY 1, 2),
doccnt AS (SELECT CAST(COUNT(DISTINCT document_version_id) AS BIGINT) AS n FROM words),
dfreq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
idf AS (
  SELECT word, SQRT((SELECT n FROM doccnt) / CAST(df AS DOUBLE)) AS idf
  FROM dfreq WHERE df <= 2000)
SELECT a.document_version_id AS document_version1_id,
       b.document_version_id AS document_version2_id,
       ROUND(SUM((a.tf + b.tf) * i.idf), 4) AS score,
       CAST(COUNT(*) AS BIGINT) AS matched_words
FROM tf a
JOIN tf b ON a.word = b.word AND a.document_version_id < b.document_version_id
JOIN idf i ON a.word = i.word
GROUP BY 1, 2
HAVING COUNT(*) >= 3""",
)
def q_single_word_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — word-level pair scoring with sqrt idf.
    Ref: SingleWordMatcher.scala:53-118, SingleWordScorer.scala:53-57."""
    from puma_matcher_spark.operators import textmatch as tm

    docs = load_tables(spark, sf_dir).llm_documents()
    out = tm.single_word_scores(docs, id_col="doc_id")
    return out.select(
        "document_version1_id",
        "document_version2_id",
        pround("score", 4).alias("score"),
        "matched_words",
    )


@register(
    "rare_words",
    """WITH words AS (
  SELECT doc_id AS document_version_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                x -> x <> '')) AS word
  FROM documents),
tf AS (
  SELECT document_version_id, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM words GROUP BY 1, 2),
dfreq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1)
SELECT t.document_version_id, t.word, t.tf, d.df
FROM tf t JOIN dfreq d ON t.word = d.word
WHERE t.tf >= 2 AND d.df BETWEEN 2 AND 500
  AND length(t.word) BETWEEN 3 AND 90
  AND regexp_full_match(t.word, '[a-z]+')""",
)
def q_rare_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 — informative-word extraction by tf/df/length predicates.
    Ref: RareWordAnalyser.scala:44-61 (thresholds adapted to the synthetic
    vocabulary)."""
    from puma_matcher_spark.operators import textmatch as tm

    docs = load_tables(spark, sf_dir).llm_documents()
    return tm.rare_words(
        docs, min_tf=2, min_df=2, max_df=500, min_len=3, max_len=90,
        id_col="doc_id",
    )


@register(
    "cosine_titles",
    f"""WITH titles AS (SELECT p_partkey AS document_version_id, p_name AS title FROM part),
toksl AS (
  SELECT document_version_id, {_TOKS_SQL.format(col='title')} AS tk FROM titles),
words AS (SELECT document_version_id, unnest(tk) AS word FROM toksl),
tf AS (
  SELECT document_version_id, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM words GROUP BY 1, 2),
doccnt AS (SELECT CAST(COUNT(DISTINCT document_version_id) AS BIGINT) AS n FROM words),
dfreq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
w AS (
  SELECT t.document_version_id, t.word,
         t.tf * LOG10((SELECT n FROM doccnt) / CAST(d.df AS DOUBLE)) AS weight
  FROM tf t JOIN dfreq d ON t.word = d.word WHERE d.df <= 2000),
norms AS (
  SELECT document_version_id, SQRT(SUM(weight * weight)) AS norm FROM w GROUP BY 1),
dots AS (
  SELECT a.document_version_id AS document_version1_id,
         b.document_version_id AS document_version2_id,
         SUM(a.weight * b.weight) AS dot
  FROM w a JOIN w b
    ON a.word = b.word AND a.document_version_id < b.document_version_id
  GROUP BY 1, 2)
SELECT d.document_version1_id, d.document_version2_id,
       ROUND(d.dot / (n1.norm * n2.norm), 4) AS score
FROM dots d
JOIN norms n1 ON d.document_version1_id = n1.document_version_id
JOIN norms n2 ON d.document_version2_id = n2.document_version_id
WHERE d.dot / (n1.norm * n2.norm) > 0.2""",
)
def q_cosine_titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — exact TF-IDF cosine over title vectors (DIMSUM semantics via
    shared-token join). Ref: CosineMatcher.scala:64-114."""
    from puma_matcher_spark.operators import textmatch as tm

    titles = load_tables(spark, sf_dir).raw("part").select(
        F.col("p_partkey").alias("document_version_id"),
        F.col("p_name").alias("title"),
    )
    out = tm.cosine_title_matches(titles, min_score=0.2)
    return out.select(
        "document_version1_id",
        "document_version2_id",
        pround("score", 4).alias("score"),
    )


@register(
    "code_extraction",
    """SELECT doc_id AS document_version_id, code
FROM (
  SELECT doc_id, unnest(list_distinct(regexp_extract_all(text, '\\b(s[a-z]{3,})\\b', 1))) AS code
  FROM documents)""",
)
def q_code_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex entity extraction (CodeAnalyserService pattern machinery —
    utils/nlp/CodeAnalyser/CodeAnalyserService.java:13-53 — exercised on
    the synthetic vocabulary; DOI/proposal regexes unit-tested in
    tests/test_text.py)."""
    docs = load_tables(spark, sf_dir).llm_documents()
    return docs.select(
        F.col("doc_id").alias("document_version_id"),
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.col("text"), F.lit(r"\b(s[a-z]{3,})\b"), 1)
            )
        ).alias("code"),
    )


# ---------------- dedup family ----------------


@register(
    "person_clean",
    """SELECT c_custkey AS id,
       trim(regexp_replace(regexp_replace(lower(trim(c_name)), '\\b\\w\\.', ' ', 'g'), '\\s+', ' ', 'g')) AS clean_name
FROM customer""",
)
def q_person_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Person cleaning chain (PersonCleanerStage.scala:14-196): trim,
    initial-stripping, whitespace collapse, diacritic fold (identity on
    this fixture — exercised with diacritics in tests/test_dedup.py)."""
    from puma_matcher_spark.operators.dedup import clean_names

    persons = load_tables(spark, sf_dir).persons()
    return clean_names(persons).select("id", "clean_name")


@register(
    "dedup_triangles",
    """WITH e AS (
  SELECT b.c_custkey AS src, a.c_custkey AS dst
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey > b.c_custkey
   AND ABS(a.c_acctbal - b.c_acctbal) <= 500.0)
SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
FROM e e1
JOIN e e2 ON e2.src = e1.dst
JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst""",
)
def q_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the blocked duplicate-pair graph
    (operators/dedup.py ``enumerate_triangles``): mutual-confirmation
    diagnostic for merge decisions, classic two-join triangle listing."""
    from puma_matcher_spark.operators.dedup import enumerate_triangles

    pairs = q_dedup_blocked_pairs(spark, sf_dir).select(
        F.col("id2").alias("src"), F.col("id1").alias("dst")
    )
    return enumerate_triangles(pairs)


@register(
    "dedup_blocked_pairs",
    """SELECT a.c_custkey AS id1, b.c_custkey AS id2
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_custkey > b.c_custkey
 AND ABS(a.c_acctbal - b.c_acctbal) <= 500.0""",
)
def q_dedup_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 — blocked self-join candidate pairs (blocking key turns the
    cartesian into an equi-join). Ref: PersonDeduplicationStage.scala:129-135."""
    c = load_tables(spark, sf_dir).raw("customer")
    a = c.select(
        F.col("c_nationkey").alias("k"),
        F.col("c_custkey").alias("id1"),
        F.col("c_acctbal").alias("b1"),
    )
    b = c.select(
        F.col("c_nationkey").alias("k"),
        F.col("c_custkey").alias("id2"),
        F.col("c_acctbal").alias("b2"),
    )
    return (
        a.join(b, "k")
        .where(
            (F.col("id1") > F.col("id2"))
            & (F.abs(F.col("b1") - F.col("b2")) <= 500.0)
        )
        .select("id1", "id2")
    )


@register(
    "dedup_components_exact",
    """SELECT c_custkey AS person_id,
       MIN(c_custkey) OVER (PARTITION BY c_nationkey) AS lookup_id
FROM customer""",
)
def q_dedup_components_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 fast path — components when the pair predicate IS the blocking
    key collapse to min-id per block. Ref: LaboratoryDeduplicationStage
    .scala:39-65."""
    from puma_matcher_spark.operators.dedup import exact_name_components

    c = load_tables(spark, sf_dir).raw("customer")
    return exact_name_components(c, "c_nationkey", "c_custkey")


@register(
    "dedup_components_cc",
    """WITH RECURSIVE pairs AS (
  SELECT a.c_custkey AS id1, b.c_custkey AS id2
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_custkey > b.c_custkey
   AND ABS(a.c_acctbal - b.c_acctbal) <= 500.0),
e AS (SELECT id1 AS a, id2 AS b FROM pairs
      UNION SELECT id2, id1 FROM pairs),
reach(id, r) AS (
  SELECT a, a FROM e
  UNION
  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a)
SELECT id, CAST(MIN(r) AS BIGINT) AS component
FROM reach GROUP BY id""",
)
def q_dedup_components_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 — min-id connected components over the blocked candidate-pair
    graph (GraphX connectedComponents rebuild;
    PersonDeduplicationStage.scala:150-159).  Under
    ``graph.BROADCAST_NODES_MAX`` symmetrized edges (every fixture
    scale) the graph is collected in one job and solved on the driver
    with union-find; above it the iterative min-label loop runs.  The
    DuckDB twin computes the same fixpoint as a recursive-CTE transitive
    closure — tractable at gate scale, and an independent check that
    either path converges to min-reachable-id."""
    from puma_matcher_spark.operators.dedup import connected_components

    edges = q_dedup_blocked_pairs(spark, sf_dir)
    return connected_components(edges)


# ---------------- streaming / events plane ----------------


@register(
    "events_windowed",
    """SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start_epoch,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS event_count,
       ROUND(SUM(value), 4) AS value_sum,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_users
FROM events GROUP BY 1, 2""",
)
def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event aggregation — the batch twin of the
    Structured Streaming path (streaming/events.py; run_stream_to_memory
    exercises the real micro-batch engine in tests)."""
    from puma_matcher_spark.streaming.events import windowed_counts

    ev = load_tables(spark, sf_dir).events()
    return windowed_counts(ev, window_seconds=3600)


@register(
    "events_sessions",
    """WITH marks AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE ts IS NOT NULL),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks)
SELECT user_id,
       CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
       CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) + 1800 AS session_end_epoch,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS session_value
FROM sess GROUP BY user_id, sid""",
)
def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via session_window (streaming-capable
    stateful operator; SQL twin uses the lag/cumsum formulation).
    Timestamps are output as epoch seconds — collected datetimes pass
    through the *OS* timezone in classic PySpark collect, so raw
    timestamp columns are not portable across driver environments."""
    from puma_matcher_spark.streaming.events import sessionize

    ev = load_tables(spark, sf_dir).events()
    out = sessionize(ev, gap="30 minutes")
    return out.select(
        "user_id",
        F.unix_timestamp("session_start").cast("long").alias("session_start_epoch"),
        # session_window.end = last event + gap; epoch floor of (max+1800)
        # == floor(max)+1800 since the gap is integral seconds
        F.unix_timestamp(
            F.col("session_end") - F.expr("INTERVAL 30 MINUTES")
        ).cast("long").alias("_last_epoch"),
        "n_events",
        "session_value",
    ).withColumn(
        "session_end_epoch", F.col("_last_epoch") + 1800
    ).drop("_last_epoch")


@register(
    "events_json",
    """SELECT CASE WHEN props IS NOT NULL AND json_valid(props) THEN json_extract_string(props, '$.k') END AS k,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(value), 4) AS avg_value
FROM events GROUP BY 1, 2""",
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON property extraction + aggregation."""
    ev = load_tables(spark, sf_dir).events()
    return ev.groupBy(
        F.get_json_object("props", "$.k").alias("k"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        pround(F.avg("value"), 4).alias("avg_value"),
    )


@register(
    "date_doc_type_filter",
    f"""WITH {V_DOCS}
SELECT document_version_id, document_type, date
FROM documents_dim
WHERE NOT (document_type LIKE 'PUBLICATION%')
   OR YEAR(date) BETWEEN 1994 AND 1996""",
)
def q_date_doc_type_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — DateDocumentTypeFilter with the intended semantics (the
    reference's filter/DateDocumentTypeFilter.scala:24-35 compares inside
    year(), a latent bug rebuilt correctly)."""
    docs = load_tables(spark, sf_dir).documents_dim()
    return flt.date_document_type_filter(docs, 1994, 1996).select(
        "document_version_id", "document_type", "date"
    )


@register(
    "picture_size",
    """SELECT doc_id AS document_version_id,
       CAST(100 + doc_id % 200 AS INT) AS width,
       CAST(120 + doc_id % 180 AS INT) AS height
FROM documents
WHERE 100 + doc_id % 200 >= 150 AND 120 + doc_id % 180 >= 150""",
)
def q_picture_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 — picture size filter (PictureMatcher.scala:46) over a
    deterministic synthetic dimension table (doc_id-derived sizes)."""
    from puma_matcher_spark.operators.picture import picture_size_filter

    docs = load_tables(spark, sf_dir).llm_documents()
    pics = docs.select(
        F.col("doc_id").alias("document_version_id"),
        (F.lit(100) + F.col("doc_id") % 200).cast("int").alias("width"),
        (F.lit(120) + F.col("doc_id") % 180).cast("int").alias("height"),
    )
    return picture_size_filter(pics, min_size=150)


@register(
    "instrument_features",
    f"""WITH aliases(instrument_id, alias) AS (
  VALUES (1, 'spark'), (2, 'hash'), (3, 'merge'), (3, 'join')),
toksl AS (SELECT doc_id, {_LLM_TOKS} AS tk FROM documents),
toks AS (SELECT doc_id, unnest(tk) AS word, unnest(range(len(tk))) AS pos FROM toksl),
m AS (
  SELECT t.doc_id AS document_version_id, a.instrument_id, t.word, t.pos
  FROM toks t JOIN aliases a ON t.word = a.alias)
SELECT document_version_id, instrument_id,
       CAST(COUNT(*) AS BIGINT) AS mention_count,
       CAST(COUNT(DISTINCT word) AS BIGINT) AS distinct_aliases,
       CAST(MIN(pos) AS BIGINT) AS first_pos,
       CAST(MAX(pos) AS BIGINT) AS last_pos,
       CAST(MAX(pos) - MIN(pos) AS BIGINT) AS span
FROM m GROUP BY 1, 2""",
)
def q_instrument_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 — the grouped feature table feeding the instrument classifier
    (AdvancedInstrumentAnalyser.scala:711-756 batteries: counts,
    distinct aliases, positional extremes/span per (doc, instrument))."""
    from puma_matcher_spark.operators.instrument_ml import instrument_feature_table

    docs = load_tables(spark, sf_dir).llm_documents()
    toks = docs.select(
        F.col("doc_id").alias("document_version_id"),
        F.posexplode(ts.tokens(F.lower(F.col("text")))).alias("pos", "word"),
    )
    aliases = spark.createDataFrame(
        [(1, "spark"), (2, "hash"), (3, "merge"), (3, "join")],
        ["instrument_id", "alias"],
    )
    mentions = toks.join(
        F.broadcast(aliases), toks["word"] == aliases["alias"]
    ).select("document_version_id", "instrument_id", "word", "pos")
    out = instrument_feature_table(mentions)
    return out.select(
        "document_version_id",
        "instrument_id",
        "mention_count",
        F.col("distinct_aliases").cast("long").alias("distinct_aliases"),
        F.col("first_pos").cast("long").alias("first_pos"),
        F.col("last_pos").cast("long").alias("last_pos"),
        F.col("span").cast("long").alias("span"),
    )


@register(
    "corpus_shuffle",
    """SELECT doc_id, source,
       CAST(ROW_NUMBER() OVER (
         ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                  doc_id) - 1 AS BIGINT) AS shuffle_rank
FROM documents""",
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order randomization (llmdata/sampling.py):
    a total-order md5 permutation computed with the scalable
    range-partition + offset pattern (never a single-partition global
    window); the oracle is the naive global ROW_NUMBER, which must agree
    exactly."""
    from puma_matcher_spark.llmdata.sampling import deterministic_shuffle

    docs = load_tables(spark, sf_dir).llm_documents()
    return deterministic_shuffle(docs).select("doc_id", "source", "shuffle_rank")


# shared oracle CTE chain: shingles → minhash → LSH bands → verified pairs
# → connected components (recursive transitive closure); reused by
# near_dup_clusters and cluster_representatives
_NEARDUP_COMP_CTES = """WITH RECURSIVE toksl AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
  FROM documents),
toks AS (
  SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS pos FROM toksl),
sh AS (
  SELECT DISTINCT t0.doc_id, t0.tok || ' ' || t1.tok || ' ' || t2.tok AS shingle
  FROM toks t0
  JOIN toks t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
  JOIN toks t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2),
seeded AS (SELECT doc_id, shingle, unnest(range(8)) AS seed FROM sh),
mh AS (
  SELECT doc_id, seed,
         MIN(('0x' || substr(md5(shingle || '#' || CAST(seed AS VARCHAR)), 1, 15))::BIGINT) AS minhash
  FROM seeded GROUP BY 1, 2),
bk AS (
  SELECT doc_id, CAST(seed // 2 AS INTEGER) AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY seed)) AS band_key
  FROM mh GROUP BY 1, 2),
bkc AS (
  SELECT doc_id, band, band_key
  FROM (SELECT *, COUNT(*) OVER (PARTITION BY band, band_key) AS bn FROM bk)
  WHERE bn <= 2000),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1_id, b.doc_id AS doc2_id
  FROM bkc a JOIN bkc b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT c.doc1_id, c.doc2_id, COUNT(*) AS c
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc1_id
  JOIN sh b ON b.doc_id = c.doc2_id AND b.shingle = a.shingle
  GROUP BY 1, 2),
verified AS (
  SELECT c.doc1_id, c.doc2_id
  FROM common c
  JOIN sizes s1 ON c.doc1_id = s1.doc_id
  JOIN sizes s2 ON c.doc2_id = s2.doc_id
  WHERE ROUND(c.c / CAST(s1.n + s2.n - c.c AS DOUBLE), 4) >= 0.5),
e AS (SELECT doc1_id AS a, doc2_id AS b FROM verified
      UNION SELECT doc2_id, doc1_id FROM verified),
reach(id, r) AS (
  SELECT a, a FROM e
  UNION
  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
comp AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id)"""


@register(
    "near_dup_clusters",
    _NEARDUP_COMP_CTES
    + """
SELECT d.doc_id,
       CAST(COALESCE(c.canonical, d.doc_id) AS BIGINT) AS canonical_id,
       COALESCE(c.canonical, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""",
)
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable near-dup canonicalisation — the production composition of
    the whole dedup plane: MinHash-LSH candidates → per-pair exact
    Jaccard verification (≥0.5) → connected components over the verified
    graph → canonical (min doc_id) per cluster; docs with no near-dup
    map to themselves.  The oracle replays every stage including the
    component fixpoint as a recursive-CTE transitive closure."""
    from puma_matcher_spark.operators.dedup import connected_components

    docs = load_tables(spark, sf_dir).llm_documents()
    cand = dd.minhash_dedup_pairs(docs)
    verified = dd.jaccard_for_pairs(docs, cand).where(F.col("jaccard") >= 0.5)
    edges = verified.select(
        F.col("doc1_id").alias("id1"), F.col("doc2_id").alias("id2")
    )
    comp = connected_components(edges).withColumnRenamed("id", "doc_id")
    out = docs.select("doc_id").join(comp, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).cast("long").alias("canonical_id"),
        (
            F.coalesce("component", F.col("doc_id")) == F.col("doc_id")
        ).alias("is_canonical"),
    )


@register(
    "near_dup_best_rep",
    _NEARDUP_COMP_CTES
    + """,
tc AS (
  SELECT doc_id,
         COALESCE(len(list_filter(string_split(lower(text), ' '), x -> x <> '')), 0) AS n
  FROM documents),
ranked AS (
  SELECT c.id, c.canonical,
         ROW_NUMBER() OVER (PARTITION BY c.canonical
                            ORDER BY tc.n DESC, c.id ASC) AS rn
  FROM comp c JOIN tc ON tc.doc_id = c.id),
rep AS (SELECT canonical, id AS rep_id FROM ranked WHERE rn = 1)
SELECT d.doc_id,
       CAST(COALESCE(r.rep_id, d.doc_id) AS BIGINT) AS canonical_id,
       COALESCE(r.rep_id, d.doc_id) = d.doc_id AS is_canonical
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.id
LEFT JOIN rep r ON c.canonical = r.canonical""",
)
def q_near_dup_best_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup canonicalisation: same candidate → verify →
    connected-components pipeline as `near_dup_clusters`, but each
    cluster keeps its BEST document (highest token count, ties to the
    smaller doc_id) instead of the smallest id — the representative a
    curation pipeline actually wants to retain (operators/dedup.py
    component_argmax; the reference's PersonDeduplication keeps min-id,
    PersonDeduplicationStage.scala:162-164, which `near_dup_clusters`
    preserves for parity)."""
    from puma_matcher_spark.llmdata import textstats as _ts
    from puma_matcher_spark.operators.dedup import (
        component_argmax,
        connected_components,
    )

    docs = load_tables(spark, sf_dir).llm_documents()
    cand = dd.minhash_dedup_pairs(docs)
    verified = dd.jaccard_for_pairs(docs, cand).where(F.col("jaccard") >= 0.5)
    edges = verified.select(
        F.col("doc1_id").alias("id1"), F.col("doc2_id").alias("id2")
    )
    comp = connected_components(edges)
    scores = docs.select(
        F.col("doc_id").alias("id"),
        F.coalesce(F.size(_ts.tokens(F.col("text"))), F.lit(0))
        .cast("long")
        .alias("score"),
    )
    rep = component_argmax(comp, scores)
    out = (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .join(rep, "component", "left")
    )
    return out.select(
        "doc_id",
        F.coalesce("rep_id", F.col("doc_id")).cast("long").alias("canonical_id"),
        (F.coalesce("rep_id", F.col("doc_id")) == F.col("doc_id")).alias(
            "is_canonical"
        ),
    )


@register(
    "embedding_dup_clusters",
    f"""WITH RECURSIVE emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ve AS (SELECT vec_id, embedding::DOUBLE[] AS v
       FROM embeddings WHERE {_EMB_VALID}),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM ve a JOIN ve b ON a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v) /
        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
        >= 0.35),
e AS (SELECT id1 AS a, id2 AS b FROM pairs
      UNION SELECT id2, id1 FROM pairs),
reach(id, r) AS (
  SELECT a, a FROM e
  UNION
  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
comp AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id)
SELECT m.vec_id,
       CAST(COALESCE(c.canonical, m.vec_id) AS BIGINT) AS canonical_id,
       COALESCE(c.canonical, m.vec_id) = m.vec_id AS is_canonical
FROM emb m LEFT JOIN comp c ON m.vec_id = c.id""",
)
def q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-plane near-dup canonicalisation: cosine-similar pairs
    (the exact baseline; the LSH/IVF variants generate the same
    candidates at scale) → connected components → min-id canonical per
    cluster, singletons mapping to themselves — the semantic-dedup twin
    of the lexical near_dup_clusters."""
    from puma_matcher_spark.operators.dedup import connected_components

    emb = load_tables(spark, sf_dir).llm_embeddings()
    # pair stage on cosine-valid vectors only; the enumeration below keeps
    # EVERY vector (invalid ones cannot pair, so they are singletons)
    ve = sim.valid_vectors(emb)
    a = ve.select(F.col("vec_id").alias("vec1_id"), F.col("embedding").alias("e1"))
    b = ve.select(F.col("vec_id").alias("vec2_id"), F.col("embedding").alias("e2"))
    pairs = (
        a.join(b, F.col("vec1_id") < F.col("vec2_id"))
        .select(
            "vec1_id",
            "vec2_id",
            pround(
                sim.cosine(
                    F.col("e1").cast("array<double>"),
                    F.col("e2").cast("array<double>"),
                ),
                4,
            ).alias("cos"),
        )
        .where(F.col("cos") >= 0.35)
    )
    edges = pairs.select(F.col("vec1_id").alias("id1"), F.col("vec2_id").alias("id2"))
    comp = connected_components(edges).withColumnRenamed("id", "vec_id")
    out = emb.select("vec_id").join(comp, "vec_id", "left")
    return out.select(
        "vec_id",
        F.coalesce("component", F.col("vec_id")).cast("long").alias("canonical_id"),
        (
            F.coalesce("component", F.col("vec_id")) == F.col("vec_id")
        ).alias("is_canonical"),
    )


@register(
    "rf_classifier_accuracy",
    """SELECT CAST(3 AS BIGINT) AS n_labels,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       true AS accuracy_ok
FROM orders WHERE o_orderkey % 10 = 0""",
)
def q_rf_classifier_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4/M5 property twin — the assembler + seeded RandomForest +
    evaluator pipeline (AdvancedInstrumentAnalyser.scala:185-359) on a
    deterministic, separable labelled set derived from orders: accuracy
    on the held-out split must clear 0.9 (thresholded to a boolean —
    tree ensembles are seeded, not engine-replayable).  Row and label
    counts are computed independently by the oracle."""
    from puma_matcher_spark.operators.instrument_ml import train_rf_classifier

    o = load_tables(spark, sf_dir).raw("orders").where(F.col("o_orderkey") % 10 == 0)
    labeled = o.select(
        (F.col("o_orderkey") % 3).cast("double").alias("label"),
        (
            (F.col("o_orderkey") % 3) * 10 + (F.col("o_custkey") % 7) * 0.3
        ).alias("f1"),
        (
            (F.col("o_orderkey") % 3) * -4 + (F.col("o_orderkey") % 5) * 0.2
        ).alias("f2"),
    )
    n_rows = labeled.count()
    n_labels = labeled.select("label").distinct().count()
    _, acc = train_rf_classifier(labeled, ["f1", "f2"], num_trees=20, max_depth=5)
    return spark.range(1).select(
        F.lit(n_labels).cast("long").alias("n_labels"),
        F.lit(n_rows).cast("long").alias("n_rows"),
        F.lit(bool(acc >= 0.9)).alias("accuracy_ok"),
    )


@register(
    "w2v_shape",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(10 AS BIGINT) AS vec_dim, true AS vectors_nonzero
FROM documents""",
)
def q_w2v_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 property twin — seeded Word2Vec over tokenized documents
    (AdvancedInstrumentAnalyser.scala:170-182): every document gets an
    embedding of the configured size with at least one non-degenerate
    vector; the row count is oracle-independent."""
    from pyspark.ml.functions import vector_to_array

    from puma_matcher_spark.operators.instrument_ml import word2vec_embeddings

    docs = load_tables(spark, sf_dir).llm_documents()
    sent = docs.select("doc_id", ts.tokens(F.lower(F.col("text"))).alias("words"))
    emb = word2vec_embeddings(sent, text_col="words", size=10)
    arr = emb.select(
        "doc_id", vector_to_array(F.col("w2v")).alias("v")
    )
    n_rows = arr.count()
    dims = arr.select(F.size("v").alias("d")).distinct().collect()
    nonzero = arr.where(
        F.aggregate("v", F.lit(0.0), lambda a, x: a + F.abs(x)) > 0
    ).count()
    return spark.range(1).select(
        F.lit(n_rows).cast("long").alias("n_rows"),
        F.lit(dims[0]["d"] if len(dims) == 1 else -1).cast("long").alias("vec_dim"),
        F.lit(bool(nonzero > 0)).alias("vectors_nonzero"),
    )


@register(
    "events_attribution",
    """WITH c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'),
p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
         value AS purchase_value
  FROM events WHERE event_type = 'purchase')
SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts, p.purchase_ts,
       ROUND(p.purchase_value, 4) AS purchase_value
FROM c JOIN p ON c.user_id = p.user_id
 AND p.purchase_ts >= c.click_ts
 AND p.purchase_ts <= c.click_ts + INTERVAL 300 SECONDS""",
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — batch twin of the stream-stream interval join
    (streaming/events.py attribution_join): purchases attributed to the
    same user's click within a 5-minute horizon.  The streaming
    execution with dual watermarks is exercised in
    tests/test_streaming.py."""
    from puma_matcher_spark.streaming.events import attribution_join

    ev = load_tables(spark, sf_dir).events()
    out = attribution_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        horizon_seconds=300,
    )
    return out.withColumn("purchase_value", pround("purchase_value", 4))


@register(
    "events_attribution_models",
    """WITH c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'),
p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT p.user_id, p.purchase_id, p.purchase_ts, c.click_id, c.click_ts,
         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.click_ts, c.click_id) AS rn_f,
         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.click_ts DESC, c.click_id DESC) AS rn_l
  FROM p JOIN c ON c.user_id = p.user_id
   AND p.purchase_ts >= c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 300 SECONDS)
SELECT user_id, purchase_id, purchase_ts,
       MAX(CASE WHEN rn_f = 1 THEN click_id END) AS first_click_id,
       MAX(CASE WHEN rn_l = 1 THEN click_id END) AS last_click_id,
       CAST(COUNT(*) AS BIGINT) AS n_touches
FROM j GROUP BY 1, 2, 3""",
)
def q_events_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch attribution models over the interval join
    (streaming/events.py attribution_models) — ordered arg-min/arg-max
    via struct aggregates, one hash aggregate, no window sort."""
    from puma_matcher_spark.streaming.events import attribution_models

    ev = load_tables(spark, sf_dir).events()
    return attribution_models(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        horizon_seconds=300,
    )


@register(
    "events_asof",
    """WITH c AS (
  SELECT user_id, ts, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase')
SELECT p.user_id, p.purchase_id, p.purchase_ts, c.ts AS asof_ts,
       c.click_id AS asof_click_id
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.purchase_ts >= c.ts""",
)
def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join — additive operator the reference
    lacks (operators/asof.py): each purchase picks up the same user's
    latest click at-or-before it, via the union-and-window formulation
    (one shuffle, no pair explosion).  Oracle: DuckDB's native ASOF
    LEFT JOIN."""
    from puma_matcher_spark.operators.asof import asof_join

    ev = load_tables(spark, sf_dir).events()
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    out = asof_join(purchases, clicks, on="user_id", ts="ts")
    return out.select(
        "user_id",
        "purchase_id",
        F.col("ts").alias("purchase_ts"),
        "asof_ts",
        "asof_click_id",
    )


@register(
    "events_funnel",
    """WITH s0 AS (
  SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1),
s1 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s0 ON e.user_id = s0.user_id AND e.ts >= s0.t
  WHERE e.event_type = 'click' GROUP BY 1),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
  WHERE e.event_type = 'purchase' GROUP BY 1)
SELECT 0 AS step_index, 'view' AS step,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM s0) AS n_users
UNION ALL
SELECT 1, 'click', (SELECT CAST(COUNT(*) AS BIGINT) FROM s1)
UNION ALL
SELECT 2, 'purchase', (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)""",
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view→click→purchase funnel
    (operators/events_analytics.py): chained conditional-min joins on
    user_id, no per-user event sort."""
    from puma_matcher_spark.operators.events_analytics import funnel_counts

    return funnel_counts(load_tables(spark, sf_dir).events())


@register(
    "events_cohorts",
    """WITH active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
firstd AS (SELECT user_id, MIN(day) AS cohort_day FROM active GROUP BY 1)
SELECT f.cohort_day,
       CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM active a JOIN firstd f USING (user_id)
GROUP BY 1, 2""",
)
def q_events_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-granularity retention cohorts
    (operators/events_analytics.py): first-active day × active-day
    offset × distinct users."""
    from puma_matcher_spark.operators.events_analytics import retention_cohorts

    return retention_cohorts(load_tables(spark, sf_dir).events())


@register(
    "events_markov",
    """WITH steps AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events),
c AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n_transitions,
       ROUND(n_transitions * 1.0 /
             SUM(n_transitions) OVER (PARTITION BY from_type), 4) AS p
FROM c""",
)
def q_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov event-type transition matrix
    (operators/events_analytics.py markov_transitions): lead() per user
    timeline, pair counts, per-from-state probabilities."""
    from puma_matcher_spark.operators.events_analytics import markov_transitions

    return markov_transitions(load_tables(spark, sf_dir).events())


@register(
    "events_paths",
    """WITH ranked AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS step
  FROM events),
p AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY step) AS path
  FROM ranked WHERE step <= 5 GROUP BY user_id)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users FROM p GROUP BY 1""",
)
def q_events_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey prefixes (operators/events_analytics.py
    session_paths): first-5 event types per user joined into a path
    string, rolled up by frequency; the collect group is bounded by the
    step cap, never by events-per-user."""
    from puma_matcher_spark.operators.events_analytics import session_paths

    return session_paths(load_tables(spark, sf_dir).events(), max_steps=5)


@register(
    "events_debounce",
    """SELECT event_id, user_id, ts, event_type, ROUND(value, 4) AS value
FROM (
  SELECT event_id, user_id, ts, event_type, value,
         CAST(FLOOR(epoch(ts)) AS BIGINT) -
           LAG(CAST(FLOOR(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events)
WHERE gap IS NULL OR gap > 1800""",
)
def q_events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst debounce (streaming/events.py ``debounce_first_per_burst``):
    first event of each per-user 30-minute-gap burst — the session
    anchor rows."""
    from puma_matcher_spark.streaming.events import debounce_first_per_burst

    ev = load_tables(spark, sf_dir).events().select(
        "event_id", "user_id", "ts", "event_type", pround("value", 4).alias("value")
    )
    return debounce_first_per_burst(ev, gap_seconds=1800)


@register(
    "events_approx_users",
    """SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       true AS approx_within_5pct
FROM events GROUP BY 1""",
)
def q_events_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-distinct escape hatch (HLL++): per event_type, the
    approx_count_distinct estimate must land within 5% of the exact
    count (HLL sketches are engine-internal, so the estimate itself is
    not oracle-replayable — the exact counts are)."""
    ev = load_tables(spark, sf_dir).events()
    both = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
    )
    return both.select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("approx_within_5pct"),
    )


@register(
    "frequent_itemsets",
    """WITH b AS (
  SELECT user_id, list_distinct(list(event_type)) AS items FROM events GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM b),
e1 AS (SELECT user_id, unnest(items) AS x FROM b),
f1 AS (
  SELECT x AS itemset, CAST(COUNT(*) AS BIGINT) AS freq
  FROM e1 GROUP BY 1 HAVING COUNT(*) >= 0.4 * (SELECT c FROM n)),
p AS (
  SELECT a.x AS x, bb.x AS y
  FROM e1 a JOIN e1 bb ON a.user_id = bb.user_id AND a.x < bb.x),
f2 AS (
  SELECT x || ' ' || y AS itemset, CAST(COUNT(*) AS BIGINT) AS freq
  FROM p GROUP BY 1 HAVING COUNT(*) >= 0.4 * (SELECT c FROM n))
SELECT itemset, freq FROM f1 UNION ALL SELECT itemset, freq FROM f2""",
)
def q_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 — FPGrowth frequent itemsets over per-user event-type baskets
    (FPGrowthExample port).  Output restricted to itemsets of size ≤ 2,
    which are exactly enumerable in SQL (singleton counts + within-basket
    pair co-occurrence), giving the FP-tree mining a hard oracle; larger
    itemsets remain covered by the unit test."""
    from puma_matcher_spark.operators.instrument_ml import fpgrowth_itemsets

    ev = load_tables(spark, sf_dir).events()
    baskets = ev.groupBy("user_id").agg(
        F.array_distinct(F.collect_list("event_type")).alias("items")
    )
    out = fpgrowth_itemsets(baskets, min_support=0.4)
    return out.where(F.size("items") <= 2).select(
        F.concat_ws(" ", F.sort_array("items")).alias("itemset"),
        F.col("freq").cast("long").alias("freq"),
    )


@register(
    "events_dedup",
    """WITH doubled AS (SELECT * FROM events UNION ALL SELECT * FROM events)
SELECT event_id, CAST(COUNT(*) AS BIGINT) AS n_seen, MIN(ts) AS ts,
       CAST(MIN(user_id) AS BIGINT) AS user_id,
       MIN(event_type) AS event_type,
       ROUND(MIN(value), 4) AS value
FROM doubled GROUP BY 1""",
)
def q_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — batch twin of the streaming exactly-once dedup path
    (streaming/events.py stream_dedup): a replayed feed (the events table
    unioned with itself) collapses to one first-seen row per event_id.
    The streaming execution of the same semantics is exercised in
    tests/test_streaming.py; this row gives the dedup plane a hard
    driver-side signal."""
    from puma_matcher_spark.streaming.events import dedup_events_batch

    ev = load_tables(spark, sf_dir).events()
    return dedup_events_batch(ev.unionByName(ev))


# ---------------- weight optimizer ----------------


@register(
    "weight_eval",
    _all_cand_ctes()
    + """,
ctx AS (
  SELECT document_version1_id, document_version2_id, score_type,
         ROUND(score / MAX(score) OVER (PARTITION BY document_version2_id, score_type)
               * 100.0, 6) AS contextual
  FROM all_cand),
grid(weight_id, score_type, weight) AS (
  VALUES (0, 'person', 1.0), (0, 'laboratory', 0.0),
         (1, 'person', 0.5), (1, 'laboratory', 0.5),
         (2, 'person', 0.0), (2, 'laboratory', 1.0)),
weighted AS (
  SELECT g.weight_id, c.document_version1_id, c.document_version2_id,
         SUM(g.weight * c.contextual) AS total
  FROM ctx c JOIN grid g USING (score_type)
  GROUP BY 1, 2, 3),
ranked AS (
  SELECT *, CAST(RANK() OVER (PARTITION BY weight_id, document_version2_id
                              ORDER BY ROUND(total, 6) DESC,
                                       document_version1_id ASC) AS BIGINT) AS rank
  FROM weighted),
train AS (
  SELECT DISTINCT document_version1_id, document_version2_id
  FROM all_cand
  WHERE (document_version1_id + document_version2_id) % 7 = 0)
SELECT weight_id,
       CAST(SUM(rank - 1) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN rank <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_1,
       CAST(SUM(CASE WHEN rank <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS hits_3,
       CAST(SUM(CASE WHEN rank <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS hits_5
FROM ranked JOIN train USING (document_version1_id, document_version2_id)
GROUP BY 1""",
)
def q_weight_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11/A10/W3 — weight-grid rank-error evaluation.
    Ref: WeightTrainerStage.scala:181-256,391-408.  Contextual/total are
    rounded to 6 before ranking so tie-breaks are engine-independent."""
    from pyspark.sql.window import Window

    cand = _all_candidates(load_tables(spark, sf_dir))
    wmax = Window.partitionBy("document_version2_id", "score_type")
    ctx = cand.withColumn(
        "contextual",
        pround(F.col("score") / F.max("score").over(wmax) * 100.0, 6),
    )
    grid = spark.createDataFrame(
        [(0, "person", 1.0), (0, "laboratory", 0.0),
         (1, "person", 0.5), (1, "laboratory", 0.5),
         (2, "person", 0.0), (2, "laboratory", 1.0)],
        ["weight_id", "score_type", "weight"],
    )
    weighted = ctx.join(F.broadcast(grid), "score_type").groupBy(
        "weight_id", "document_version1_id", "document_version2_id"
    ).agg(F.sum(F.col("weight") * F.col("contextual")).alias("total"))
    wr = Window.partitionBy("weight_id", "document_version2_id").orderBy(
        pround(F.col("total"), 6).desc(), F.col("document_version1_id").asc()
    )
    ranked = weighted.withColumn("rank", F.rank().over(wr).cast("long"))
    train = (
        cand.where(
            (F.col("document_version1_id") + F.col("document_version2_id")) % 7 == 0
        )
        .select("document_version1_id", "document_version2_id")
        .distinct()
    )
    return ranked.join(
        train, ["document_version1_id", "document_version2_id"]
    ).groupBy("weight_id").agg(
        F.sum(F.col("rank") - 1).cast("long").alias("error"),
        F.sum(F.when(F.col("rank") <= 1, 1).otherwise(0)).cast("long").alias("hits_1"),
        F.sum(F.when(F.col("rank") <= 3, 1).otherwise(0)).cast("long").alias("hits_3"),
        F.sum(F.when(F.col("rank") <= 5, 1).otherwise(0)).cast("long").alias("hits_5"),
    )


@register("pic_clusters", None)  # iterative power method → rows-only
def q_pic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 — PowerIterationClustering over the match-candidate similarity
    graph (test/clustering/PICExample.scala:62-83).  Output is the
    cluster roster keyed by its minimum member id, so label permutations
    between runs cannot change the result."""
    from puma_matcher_spark.operators.instrument_ml import pic_clusters

    cand = _entity_candidates(load_tables(spark, sf_dir), "person")
    # PIC's seeded random init depends on vertex partitioning; pin it so
    # the result does not vary with the consuming session's
    # shuffle-partition conf (the external driver builds its own session)
    cand = cand.repartition(32, "document_version1_id")
    assigned = pic_clusters(cand, k=5, max_iter=8)
    rep = assigned.groupBy("cluster").agg(
        F.min("id").alias("cluster_rep"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    return rep.select("cluster_rep", "n_members")


@register(
    "pic_cluster_quality",
    f"""WITH {V_ENTITIES}, {_tf_chain('p_', 'entities')},
verts AS (
  SELECT document_version1_id AS id FROM p_cand
  UNION
  SELECT document_version2_id FROM p_cand)
SELECT CAST(5 AS BIGINT) AS n_clusters,
       CAST((SELECT COUNT(*) FROM verts) AS BIGINT) AS n_vertices,
       true AS partition_ok""",
)
def q_pic_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property check for the seeded/iterative PIC path (`pic_clusters`
    itself cannot be reproduced by another engine): the run must yield
    exactly k non-empty clusters, and the rosters must partition the
    vertex set of the similarity graph — the vertex count IS computed
    independently by the oracle from the candidate-pair chain, so a
    dropped or double-assigned vertex hash-mismatches."""
    from puma_matcher_spark.operators.instrument_ml import pic_clusters

    cand = _entity_candidates(load_tables(spark, sf_dir), "person")
    cand = cand.repartition(32, "document_version1_id")
    assigned = pic_clusters(cand, k=5, max_iter=8)
    n_clusters = assigned.select("cluster").distinct().count()
    n_assigned = assigned.count()
    n_vertices = assigned.select("id").distinct().count()
    return spark.range(1).select(
        F.lit(n_clusters).cast("long").alias("n_clusters"),
        F.lit(n_vertices).cast("long").alias("n_vertices"),
        F.lit(bool(n_assigned == n_vertices)).alias("partition_ok"),
    )


@register("weight_refined", None)  # iterative coarse→fine search → rows-only
def q_weight_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WeightTrainerStage coarse→fine optimisation
    (WeightTrainerStage.scala:61-170): coarse 0.25-step grid, then two
    halving-step refinement rounds around the winner.  Iterative driver
    loop by design (the reference's optimizer is too); convergence is
    unit-tested in tests/test_weights.py."""
    from puma_matcher_spark.operators.weights import best_weights

    cand = _all_candidates(load_tables(spark, sf_dir))
    train = (
        cand.where(
            (F.col("document_version1_id") + F.col("document_version2_id")) % 7
            == 0
        )
        .select(
            F.col("document_version1_id").alias("proposal_id"),
            F.col("document_version2_id").alias("publication_id"),
            F.lit(True).alias("accepted"),
        )
        .distinct()
    )
    out = best_weights(
        spark,
        cand,
        train,
        ["person", "laboratory"],
        step=0.25,
        refine_rounds=2,
    )
    return out.select("score_type", pround("weight", 6).alias("weight"))


@register(
    "weight_refined_convergence",
    """SELECT CAST(2 AS BIGINT) AS n_score_types,
       true AS converged, true AS weights_normalised""",
)
def q_weight_refined_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property check for the iterative coarse→fine optimiser
    (`weight_refined` itself is rows-only — a driver loop no other
    engine replays): each refinement round's best error must be
    monotonically ≤ the previous round's, and the winning weight vector
    must stay on the simplex (sums to 1)."""
    from puma_matcher_spark.operators.weights import best_weights

    cand = _all_candidates(load_tables(spark, sf_dir))
    train = (
        cand.where(
            (F.col("document_version1_id") + F.col("document_version2_id")) % 7
            == 0
        )
        .select(
            F.col("document_version1_id").alias("proposal_id"),
            F.col("document_version2_id").alias("publication_id"),
            F.lit(True).alias("accepted"),
        )
        .distinct()
    )
    trace: list = []
    out = best_weights(
        spark,
        cand,
        train,
        ["person", "laboratory"],
        step=0.25,
        refine_rounds=2,
        error_trace=trace,
    )
    weights = [r["weight"] for r in out.collect()]
    monotone = all(b <= a for a, b in zip(trace, trace[1:]))
    return spark.range(1).select(
        F.lit(len(weights)).cast("long").alias("n_score_types"),
        F.lit(bool(monotone and len(trace) == 3)).alias("converged"),
        F.lit(bool(abs(sum(weights) - 1.0) < 1e-9)).alias("weights_normalised"),
    )


@register(
    "weight_walker",
    _all_cand_ctes()
    + """,
ctx AS (
  SELECT document_version1_id, document_version2_id, score_type,
         ROUND(score / MAX(score) OVER (PARTITION BY document_version2_id, score_type)
               * 100.0, 6) AS contextual
  FROM all_cand),
grid AS (
  SELECT wid AS weight_id, 'person' AS score_type, wid * 0.125 AS weight
  FROM (SELECT unnest(range(9)) AS wid)
  UNION ALL
  SELECT wid, 'laboratory', 1.0 - wid * 0.125
  FROM (SELECT unnest(range(9)) AS wid)),
weighted AS (
  SELECT g.weight_id, c.document_version1_id, c.document_version2_id,
         SUM(g.weight * c.contextual) AS total
  FROM ctx c JOIN grid g USING (score_type)
  GROUP BY 1, 2, 3),
ranked AS (
  SELECT *, CAST(RANK() OVER (PARTITION BY weight_id, document_version2_id
                              ORDER BY ROUND(total, 6) DESC,
                                       document_version1_id ASC) AS BIGINT) AS rank
  FROM weighted),
train AS (
  SELECT DISTINCT document_version1_id, document_version2_id
  FROM all_cand
  WHERE (document_version1_id + document_version2_id) % 7 = 0),
errs AS (
  SELECT weight_id, CAST(SUM(rank - 1) AS BIGINT) AS error
  FROM ranked JOIN train USING (document_version1_id, document_version2_id)
  GROUP BY 1),
areas AS (
  SELECT center, coarse_error, area_rank FROM (
    SELECT weight_id AS center, error AS coarse_error,
           ROW_NUMBER() OVER (ORDER BY error ASC, weight_id ASC) AS area_rank
    FROM errs WHERE weight_id % 2 = 0)
  WHERE area_rank <= 2),
winners AS (
  SELECT area_rank, center, coarse_error, refined, refined_error FROM (
    SELECT a.area_rank, a.center, a.coarse_error,
           e.weight_id AS refined, e.error AS refined_error,
           ROW_NUMBER() OVER (PARTITION BY a.area_rank
                              ORDER BY e.error ASC, e.weight_id ASC) AS rn
    FROM areas a JOIN errs e ON abs(e.weight_id - a.center) <= 1)
  WHERE rn = 1),
flagged AS (
  SELECT *,
         COUNT(*) OVER (PARTITION BY refined ORDER BY area_rank
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > 0
           AS interrupted
  FROM winners)
SELECT CAST(area_rank AS BIGINT) AS area_rank,
       CASE WHEN interrupted THEN NULL
            ELSE ROUND(refined * 0.125, 6) END AS w_person,
       CASE WHEN interrupted THEN NULL
            ELSE ROUND(1.0 - refined * 0.125, 6) END AS w_laboratory,
       coarse_error,
       CASE WHEN interrupted THEN NULL ELSE refined_error END AS refined_error,
       interrupted,
       (NOT interrupted) AND
       ROW_NUMBER() OVER (ORDER BY interrupted ASC, refined_error ASC,
                          area_rank ASC) = 1 AS is_best
FROM flagged""",
)
def q_weight_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WeightTrainerStage area loop — the Walker hill-descent with
    area-overlap interruption (WeightTrainerStage.scala:93-147): the
    Cartographer coarse pass picks the top areas by rank error, each
    area descends one halving step (0.25 → 0.125), and a later area
    whose descent lands on an earlier area's path winner is interrupted
    and dropped from the result list (:131-141).

    Spark-first shape: with two score types the weight simplex is a
    one-dimensional lattice, and every point any descent can visit lies
    on the HALVED lattice — so the whole search evaluates the full
    9-point 0.125 lattice in ONE distributed pass (one shuffle keyed
    (weight_id, publication), same plan as `weight_eval`), and the
    per-area descent + overlap logic is relational selection over the
    9-row error frame.  The three selection windows are global but
    bounded (≤9, ≤2 and ≤2 rows — documented-bounded set), never
    corpus-sized.  No driver loop: the reference's while-loop collapses
    because one halving of a 2-type grid cannot descend further than
    the lattice already covers.

    Scale contract (measured, PLANS.md round-9): the lattice evaluation
    shuffles |lattice| x |candidate pairs| rows through the rank window
    — at sf1 the FULL-corpus fixture input exceeded local spill, which
    is out of envelope BY DESIGN: the trainer's input is a TRAINING
    slice (the reference's WeightTrainerStage consumes training-set
    match candidates, small by construction), not the production
    corpus.  The dense %7 fixture rule exists for oracle parity at the
    driver's sf, not as a production input model.  The contract is
    ENFORCED by ``assert_training_envelope`` (r10): an out-of-envelope
    candidate volume raises immediately instead of spilling; the count
    doubles as the persist barrier for ``cand``, which this query
    references twice (contextual max + the %7 training slice).  The
    envelope is checked on the FULL candidate set deliberately — the
    rank window ranks every candidate per (weight, publication), the %7
    slice filters only the error roll-up — so full ``cand`` is what the
    |grid| x |pairs| shuffle actually carries.  For a full-suite run at
    sf >= ~0.5, where the dense fixture legitimately exceeds the 30M
    default, set ``PUMA_SPARK_TRAINING_PAIRS_MAX`` (r10 ADVICE #4)
    instead of editing the entry point."""
    from pyspark.sql.window import Window

    from puma_matcher_spark.functions.caching import persist_rotating
    from puma_matcher_spark.operators.weights import assert_training_envelope

    cand = persist_rotating(_all_candidates(load_tables(spark, sf_dir)))
    assert_training_envelope(cand)
    wmax = Window.partitionBy("document_version2_id", "score_type")
    ctx = cand.withColumn(
        "contextual",
        pround(F.col("score") / F.max("score").over(wmax) * 100.0, 6),
    )
    rows = []
    for wid in range(9):
        rows.append((wid, "person", wid / 8.0))
        rows.append((wid, "laboratory", 1.0 - wid / 8.0))
    grid = spark.createDataFrame(rows, ["weight_id", "score_type", "weight"])
    weighted = ctx.join(F.broadcast(grid), "score_type").groupBy(
        "weight_id", "document_version1_id", "document_version2_id"
    ).agg(F.sum(F.col("weight") * F.col("contextual")).alias("total"))
    wr = Window.partitionBy("weight_id", "document_version2_id").orderBy(
        pround(F.col("total"), 6).desc(), F.col("document_version1_id").asc()
    )
    ranked = weighted.withColumn("rank", F.rank().over(wr).cast("long"))
    train = (
        cand.where(
            (F.col("document_version1_id") + F.col("document_version2_id")) % 7 == 0
        )
        .select("document_version1_id", "document_version2_id")
        .distinct()
    )
    errs = (
        ranked.join(train, ["document_version1_id", "document_version2_id"])
        .groupBy("weight_id")
        .agg(F.sum(F.col("rank") - 1).cast("long").alias("error"))
    )
    from puma_matcher_spark.operators.weights import walker_area_selection

    sel = walker_area_selection(errs, n_areas=2)
    return sel.select(
        "area_rank",
        pround(F.col("refined") * 0.125, 6).alias("w_person"),
        pround(1.0 - F.col("refined") * 0.125, 6).alias("w_laboratory"),
        "coarse_error",
        "refined_error",
        "interrupted",
        "is_best",
    )


# ---------------- near-dup / similarity plane ----------------

_LLM_SHINGLES = f"""toksl AS (SELECT doc_id, {_LLM_TOKS} AS tk FROM documents),
toks AS (
  SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS pos FROM toksl),
sh AS (
  SELECT DISTINCT t0.doc_id, t0.tok || ' ' || t1.tok || ' ' || t2.tok AS shingle
  FROM toks t0
  JOIN toks t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
  JOIN toks t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2)"""


@register(
    "minhash_pairs",
    f"""WITH {_LLM_SHINGLES},
seeded AS (SELECT doc_id, shingle, unnest(range(8)) AS seed FROM sh),
mh AS (
  SELECT doc_id, seed,
         MIN(('0x' || substr(md5(shingle || '#' || CAST(seed AS VARCHAR)), 1, 15))::BIGINT) AS minhash
  FROM seeded GROUP BY 1, 2),
bk AS (
  SELECT doc_id, CAST(seed // 2 AS INTEGER) AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY seed)) AS band_key
  FROM mh GROUP BY 1, 2),
bkc AS (
  SELECT doc_id, band, band_key
  FROM (SELECT *, COUNT(*) OVER (PARTITION BY band, band_key) AS bn FROM bk)
  WHERE bn <= 2000)
SELECT DISTINCT a.doc_id AS doc1_id, b.doc_id AS doc2_id
FROM bkc a JOIN bkc b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id""",
)
def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (portable md5 arithmetic:
    8 hashes × 4 bands of 2)."""
    docs = load_tables(spark, sf_dir).llm_documents()
    return dd.minhash_dedup_pairs(docs)


@register(
    "ngram_jaccard",
    f"""WITH {_LLM_SHINGLES},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
sdf AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
rare AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN sdf USING (shingle) WHERE df <= 2000),
common AS (
  SELECT a.doc_id AS doc1_id, b.doc_id AS doc2_id, CAST(COUNT(*) AS BIGINT) AS common
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT c.doc1_id, c.doc2_id, c.common,
       ROUND(c.common / CAST(s1.n + s2.n - c.common AS DOUBLE), 4) AS jaccard
FROM common c
JOIN sizes s1 ON c.doc1_id = s1.doc_id
JOIN sizes s2 ON c.doc2_id = s2.doc_id""",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity over shingle-join candidates."""
    docs = load_tables(spark, sf_dir).llm_documents()
    return dd.ngram_jaccard_pairs(docs)


@register(
    "simhash",
    f"""WITH toksl AS (SELECT doc_id, {_LLM_TOKS} AS tk FROM documents),
words AS (SELECT doc_id, unnest(tk) AS tok FROM toksl),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM words GROUP BY 1, 2),
hashed AS (
  SELECT doc_id, tf, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tf),
bits AS (SELECT doc_id, tf, h, unnest(range(60)) AS bit FROM hashed),
votes AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> bit) & 1 = 1 THEN tf ELSE -tf END) AS vote
  FROM bits GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY 1""",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (portable bit-vote arithmetic).
    Token-less docs are excluded to match the oracle, whose tf CTE never
    produces a row for them (the fixture has none; this pins the
    semantics for corpora that do)."""
    docs = load_tables(spark, sf_dir).llm_documents()
    # the ONE token-less predicate (equiv. to size(tokens)>0; see
    # textstats.has_tokens for the proof and the cost rationale)
    docs = docs.where(ts.has_tokens(F.col("text")))
    return dd.simhash64(docs, method="mapside")  # ~6x faster than the explode path at sf0.1 (0.09 vs 0.59 s); identical md5 arithmetic, same oracle


_SIMHASH128_CTE = f"""WITH toksl AS (SELECT doc_id, {_LLM_TOKS} AS tk FROM documents),
words AS (SELECT doc_id, unnest(tk) AS tok FROM toksl),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM words GROUP BY 1, 2),
hashed AS (
  SELECT doc_id, tf,
         ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h_hi,
         ('0x' || substr(md5(tok), 17, 16))::UBIGINT AS h_lo
  FROM tf),
bits AS (SELECT doc_id, tf, h_hi, h_lo, unnest(range(64)) AS bit FROM hashed),
votes AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h_hi >> bit) & 1 = 1 THEN tf ELSE -tf END) AS vhi,
         SUM(CASE WHEN (h_lo >> bit) & 1 = 1 THEN tf ELSE -tf END) AS vlo
  FROM bits GROUP BY 1, 2),
simh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN vhi > 0 THEN (CASE WHEN bit = 63 THEN -9223372036854775808 ELSE (1::BIGINT << bit) END) ELSE 0 END) AS BIGINT) AS simhash_hi,
         CAST(SUM(CASE WHEN vlo > 0 THEN (CASE WHEN bit = 63 THEN -9223372036854775808 ELSE (1::BIGINT << bit) END) ELSE 0 END) AS BIGINT) AS simhash_lo
  FROM votes GROUP BY 1)"""


@register(
    "simhash128",
    _SIMHASH128_CTE
    + """
SELECT doc_id, simhash_hi, simhash_lo FROM simh""",
)
def q_simhash128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """128-bit SimHash fingerprints as two signed longs (llmdata/dedup.py
    simhash128_mapside) — the wide fingerprint that feeds the
    collision-free blocked near-dup join.  The full md5 digest supplies
    the per-token bit hash (hex[0:16] -> bits 64..127, hex[16:32] ->
    bits 0..63); zero-shuffle Arrow-batched kernel, and the oracle
    reproduces both longs bit-for-bit via UBIGINT hex parsing with the
    sign bit handled by two's complement on both sides.  Token-less docs
    are excluded to match the oracle's tf CTE semantics."""
    docs = load_tables(spark, sf_dir).llm_documents()
    # the ONE token-less predicate (equiv. to size(tokens)>0; see
    # textstats.has_tokens for the proof and the cost rationale)
    docs = docs.where(ts.has_tokens(F.col("text")))
    return dd.simhash128_mapside(docs)


@register(
    "simhash_near_dups",
    _SIMHASH128_CTE
    + """
SELECT a.doc_id AS doc1_id, b.doc_id AS doc2_id,
       CAST(bit_count(xor(a.simhash_hi, b.simhash_hi))
          + bit_count(xor(a.simhash_lo, b.simhash_lo)) AS BIGINT) AS hamming
FROM simh a JOIN simh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash_hi, b.simhash_hi))
    + bit_count(xor(a.simhash_lo, b.simhash_lo)) <= 3""",
)
def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup self-join with pigeonhole block blocking over the
    128-BIT fingerprint (llmdata/dedup.py simhash_hamming_pairs; Manku
    et al. WWW'07 multi-table construction): 5 blocks of 25 bits,
    equi-join on every C(5,2)=10 two-block combination (50-bit keys).
    Hamming <= 3 flips touch <= 3 blocks, so some clean two-block
    combination matches exactly — the candidate set is provably
    complete, while the 50-bit keys kill the random band-collision
    quadratic term the old 15-bit bands carried (measured candidate
    exponent 1.88 at 5k->50k docs; now n²·10/2⁵⁰, past 10¹⁴ docs).  The
    oracle is the EXACT all-pairs definition, so a driver pass checks
    the completeness theorem itself, not just the arithmetic."""
    docs = load_tables(spark, sf_dir).llm_documents()
    return dd.simhash_hamming_pairs(docs, max_hamming=3)


@register(
    "label_centroids",
    f"""WITH e AS (
  SELECT label, unnest(embedding::DOUBLE[]) AS v,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings WHERE label IS NOT NULL AND {_EMB_NONEMPTY}),
m AS (SELECT label, dim, ROUND(AVG(v), 4) AS centroid_v FROM e GROUP BY 1, 2),
n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors
      FROM embeddings WHERE label IS NOT NULL AND {_EMB_NONEMPTY}
      GROUP BY label)
SELECT m.label, CAST(m.dim AS INTEGER) AS dim, m.centroid_v, n.n_vectors
FROM m JOIN n USING (label)""",
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (llmdata/similarity.py) — the
    prototype-vector computation, exported in LONG form (label, dim,
    centroid_v, n_vectors; dim is 1-based) because the round driver's
    canonicaliser sorts result frames by every column and cannot order an
    array cell (round-4 CORRECTNESS err).  The wide array-valued operator
    (``sim.label_centroids``) is unchanged and pytest-covered."""
    cents = sim.label_centroids(load_tables(spark, sf_dir).llm_embeddings())
    return cents.select(
        "label",
        F.posexplode("centroid").alias("dim", "centroid_v"),
        "n_vectors",
    ).withColumn("dim", (F.col("dim") + F.lit(1)).cast("int"))


@register(
    "centroid_confusion",
    f"""WITH e AS (
  SELECT label, unnest(embedding::DOUBLE[]) AS v,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings WHERE label IS NOT NULL AND {_EMB_NONEMPTY}),
m AS (SELECT label, dim, AVG(v) AS av FROM e GROUP BY 1, 2),
c AS (SELECT label AS c_label, list(ROUND(av, 4) ORDER BY dim) AS centroid
      FROM m GROUP BY label),
sc AS (
  SELECT emb.vec_id, emb.label, c.c_label,
         ROUND(list_sum(list_transform(range(1, len(c.centroid) + 1),
               i -> (emb.embedding[i]::DOUBLE - c.centroid[i]) *
                    (emb.embedding[i]::DOUBLE - c.centroid[i]))), 6) AS d2
  FROM (SELECT * FROM embeddings WHERE {_EMB_NONEMPTY}) emb, c),
best AS (
  SELECT vec_id, label, c_label,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) AS rn
  FROM sc)
SELECT label AS true_label, c_label AS assigned_label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM best WHERE rn = 1 GROUP BY 1, 2""",
)
def q_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification confusion counts
    (llmdata/similarity.py): K-row centroid broadcast, fixed-order L2,
    deterministic argmin."""
    return sim.nearest_centroid_confusion(
        load_tables(spark, sf_dir).llm_embeddings()
    )


@register(
    "ivf_cell_report",
    f"""WITH cent_e AS (
  SELECT ((label % 4) + 4) % 4 AS cell, unnest(embedding::DOUBLE[]) AS v,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings WHERE label IS NOT NULL AND {_EMB_NONEMPTY}),
cm AS (SELECT cell, dim, ROUND(AVG(v), 4) AS c FROM cent_e GROUP BY 1, 2),
cent AS (SELECT cell, list(c ORDER BY dim) AS cv FROM cm GROUP BY cell),
scale AS (
  SELECT AVG(sqrt(list_sum(list_transform(range(1, len(a.cv) + 1),
         i -> (a.cv[i] - b.cv[i]) * (a.cv[i] - b.cv[i]))))) AS s
  FROM cent a JOIN cent b ON a.cell < b.cell),
batch AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE vec_id % 3 = 0 AND {_EMB_VALID}),
assigned AS (
  SELECT vec_id, cell, e FROM (
    SELECT b.vec_id, c.cell, b.e,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
             list_sum(list_transform(range(1, len(c.cv) + 1),
               i -> (b.e[i] - c.cv[i]) * (b.e[i] - c.cv[i]))) ASC,
             c.cell ASC) AS rn
    FROM batch b CROSS JOIN cent c) WHERE rn = 1),
counts AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM assigned GROUP BY 1),
total AS (SELECT SUM(n) AS t FROM counts),
bm_e AS (SELECT cell, unnest(e) AS v, generate_subscripts(e, 1) AS dim
         FROM assigned),
bm AS (SELECT cell, dim, AVG(v) AS mv FROM bm_e GROUP BY 1, 2),
bmv AS (SELECT cell, list(mv ORDER BY dim) AS mvv FROM bm GROUP BY cell),
stats AS (
  SELECT c.cell, COALESCE(ct.n, 0) AS n_vectors,
         CASE WHEN (SELECT t FROM total) > 0
              THEN COALESCE(ct.n, 0)::DOUBLE / (SELECT t FROM total)
              ELSE 0.0 END AS share_raw,
         CASE WHEN m.mvv IS NULL THEN NULL
              ELSE sqrt(list_sum(list_transform(range(1, len(c.cv) + 1),
                   i -> (m.mvv[i] - c.cv[i]) * (m.mvv[i] - c.cv[i]))))
              END AS drift_raw
  FROM cent c LEFT JOIN counts ct USING (cell) LEFT JOIN bmv m USING (cell))
SELECT CAST(cell AS BIGINT) AS cell,
       n_vectors,
       ROUND(share_raw, 6) AS occupancy_share,
       ROUND(drift_raw, 6) AS drift,
       ROUND(drift_raw / (SELECT s FROM scale), 6) AS drift_norm,
       (ROUND(share_raw, 6) > 0.5) OR
       COALESCE(ROUND(drift_raw / (SELECT s FROM scale), 6) > 0.5, false)
         AS needs_refit
FROM stats""",
)
def q_ivf_cell_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF refit gate (similarity.ivf_refit_report) as a hash-green
    driver row: per-cell occupancy share and centroid drift of a batch
    (every 3rd vector) against a deterministic 4-cell quantizer — the
    per-label%4 centroids, rounded to 4 decimals so both engines fold
    bit-identical center literals.  ``needs_refit`` flags occupancy
    above 2x the uniform expectation (skew threshold 2.0 over 4 cells →
    share > 0.5) or normalised drift above 0.5 of the mean inter-center
    distance.  The KMeans-fitted production path shares this exact
    report code; the fixed-centroid quantizer here exists to make the
    gate's arithmetic (assign → occupancy → drift → thresholds)
    oracle-checkable end to end.  The batch-side collect is 4 bounded
    centroid rows (the documented driver-scalar pattern).

    Cell derivation is ``pmod(label, 4)`` — Spark's ``%`` keeps the
    dividend's sign, so a negative label would land in cell −1 and break
    the dense-0..n−1 contract (the embeddings zoo's label −1 caught
    exactly that); the DuckDB twin mirrors it as ``((label%4)+4)%4``
    because DuckDB's ``%`` is sign-preserving too.  NULL labels map to a
    NULL cell and are excluded from the quantizer by ``label_centroids``'s
    documented NULL-label scope (zoo row 9)."""
    emb = load_tables(spark, sf_dir).llm_embeddings()
    cents_df = sim.label_centroids(
        emb.withColumn("label", F.pmod(F.col("label"), F.lit(4)).cast("int"))
    )
    rows = {r["label"]: r["centroid"] for r in cents_df.collect()}
    assert sorted(rows) == list(range(len(rows))), (
        f"cell labels must be dense 0..n-1, got {sorted(rows)}"
    )
    centers = [[float(x) for x in rows[j]] for j in sorted(rows)]
    batch = emb.where(F.col("vec_id") % 3 == 0)
    rep = sim.ivf_refit_report(
        batch, centers, occupancy_skew_threshold=2.0, drift_threshold=0.5
    )
    return rep.select(
        F.col("cell").cast("long").alias("cell"),
        "n_vectors",
        "occupancy_share",
        "drift",
        "drift_norm",
        "needs_refit",
    )


@register(
    "embedding_topk",
    f"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % 50 = 0 AND {_EMB_VALID}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE {_EMB_VALID}),
sims AS (
  SELECT q.query_id, c.neighbor_id,
         ROUND(list_dot_product(q.qv, c.cv) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 4)
           AS cosine_sim
  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM sims)
SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= 10""",
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search (exact ANN baseline)."""
    emb = load_tables(spark, sf_dir).llm_embeddings()
    q = emb.where(F.col("vec_id") % 50 == 0)
    out = sim.brute_force_topk(emb, q, k=10)
    return out.select(
        "query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("long").alias("rank")
    )


@register(
    "embedding_near_dups",
    f"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
                  FROM embeddings WHERE {_EMB_VALID}),
pairs AS (
  SELECT a.vec_id AS vec1_id, b.vec_id AS vec2_id,
         ROUND(list_dot_product(a.e, b.e) /
               (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4)
           AS cosine_sim
  FROM v a JOIN v b ON a.vec_id < b.vec_id)
SELECT vec1_id, vec2_id, cosine_sim FROM pairs WHERE cosine_sim >= 0.35""",
)
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact all-pairs baseline at
    fixture scale; the sign-LSH / IVF variants are the 100 TB candidate-
    generation path — embedding_lsh_topk / embedding_ivf_topk)."""
    emb = sim.valid_vectors(load_tables(spark, sf_dir).llm_embeddings())
    a = emb.select(F.col("vec_id").alias("vec1_id"), F.col("embedding").alias("e1"))
    b = emb.select(F.col("vec_id").alias("vec2_id"), F.col("embedding").alias("e2"))
    pairs = a.join(b, F.col("vec1_id") < F.col("vec2_id"))
    out = pairs.select(
        "vec1_id",
        "vec2_id",
        pround(
            sim.cosine(
                F.col("e1").cast("array<double>"), F.col("e2").cast("array<double>")
            ),
            4,
        ).alias("cosine_sim"),
    )
    return out.where(F.col("cosine_sim") >= 0.35)


@register("embedding_ivf_topk", None)  # KMeans cells → rows-only
def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN — KMeans cell partitioning + n_probe nearest-cell search
    with exact rerank (recall vs brute force asserted in tests)."""
    emb = load_tables(spark, sf_dir).llm_embeddings()
    q = emb.where(F.col("vec_id") % 50 == 0)
    return sim.ivf_topk(emb, q, k=10, n_cells=8, n_probe=3)


@register(
    "ivf_recall",
    f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       true AS all_served,
       true AS recall_ok
FROM embeddings WHERE vec_id % 50 = 0 AND {_EMB_VALID}""",
)
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property check for the seeded/iterative IVF path (the hard-signal
    twin `embedding_ivf_topk` cannot have, since KMeans centers are not
    reproducible in another engine): every query must be served, and
    recall@10 against the exact brute-force ranking must clear 0.5 —
    a robust floor for the n_probe=3/8 config (measured 0.63 at sf0.01;
    a broken probe selection lands near n_probe/n_cells of that) —
    thresholded to booleans so the oracle stays engine-independent while
    a clustering regression still hash-mismatches."""
    emb = load_tables(spark, sf_dir).llm_embeddings()
    q = emb.where(F.col("vec_id") % 50 == 0)
    ivf = sim.ivf_topk(emb, q, k=10, n_cells=8, n_probe=3).select(
        "query_id", "neighbor_id"
    )
    brute = sim.brute_force_topk(emb, q, k=10).select("query_id", "neighbor_id")
    n_queries = sim.valid_vectors(q).count()
    served = ivf.select("query_id").distinct().count()
    n_true = brute.count()
    hits = brute.join(ivf, ["query_id", "neighbor_id"], "left_semi").count()
    recall = hits / n_true if n_true else 1.0
    return spark.range(1).select(
        F.lit(n_queries).cast("long").alias("n_queries"),
        F.lit(served == n_queries).alias("all_served"),
        F.lit(bool(recall >= 0.5)).alias("recall_ok"),
    )


def _lsh_bucket_sql(col: str, dim: int = 64, n_planes: int = 6, seed: int = 42) -> str:
    """DuckDB twin of similarity.sign_lsh_keys: the seeded hyperplanes
    are deterministic driver constants, so they fold into the oracle as
    literal arrays (repr round-trips doubles exactly — both engines see
    identical plane values)."""
    from puma_matcher_spark.llmdata.similarity import _hyperplanes

    terms = []
    for i, p in enumerate(_hyperplanes(dim, n_planes, seed=seed)):
        arr = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({col}, {arr}) > 0"
            f" THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


@register(
    "embedding_lsh_topk",
    f"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings WHERE {_EMB_VALID}),
keyed AS (SELECT vec_id, v, {_lsh_bucket_sql('v')} AS bucket FROM emb),
sims AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
           AS cosine_sim
  FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM sims)
SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= 10""",
)
def q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN; recall vs brute force tested in
    tests/test_llmdata.py, exact values checked against a DuckDB twin
    with the hyperplanes folded in as literals."""
    emb = load_tables(spark, sf_dir).llm_embeddings()
    out = sim.lsh_bucketed_topk(emb, k=10, dim=64, n_planes=6)
    return out.select(
        "query_id",
        "neighbor_id",
        "cosine_sim",
        F.col("rank").cast("long").alias("rank"),
    )


@register(
    "embedding_lsh_tables",
    f"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings WHERE {_EMB_VALID}),
keyed AS (
  SELECT vec_id, v, 0 AS tbl, {_lsh_bucket_sql('v', n_planes=6, seed=42)} AS bucket FROM emb
  UNION ALL
  SELECT vec_id, v, 1 AS tbl, {_lsh_bucket_sql('v', n_planes=6, seed=43)} AS bucket FROM emb),
sims AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
           AS cosine_sim
  FROM keyed a JOIN keyed b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM sims)
SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= 10""",
)
def q_embedding_lsh_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH ANN (llmdata/similarity.py lsh_bucketed_topk
    n_tables=2): two independently-seeded hash tables, candidate if the
    pair collides in EITHER, cross-table duplicates collapsed before the
    rank window — the standard LSH recall knob (miss probability decays
    exponentially in tables for ~linear candidate cost).  Recall
    monotonicity vs the single-table path is pinned in
    tests/test_llmdata.py; exact values against the two-table DuckDB
    twin with both plane sets folded in as literals."""
    emb = load_tables(spark, sf_dir).llm_embeddings()
    out = sim.lsh_bucketed_topk(emb, k=10, dim=64, n_planes=6, n_tables=2)
    return out.select(
        "query_id",
        "neighbor_id",
        "cosine_sim",
        F.col("rank").cast("long").alias("rank"),
    )


def _text_features_oracle() -> str:
    """Oracle for the Porter-stemmed feature chain: porter_sql_ctes
    generates the full 1a-5b algorithm as DuckDB CTEs from the SAME rule
    tables the Python kernel uses (measure/cvc/double-consonant checks
    via a consonant-vowel canonicalisation whose prefix property lets
    every per-stem condition reuse one regex pass per step).  Stemming
    runs over the distinct vocabulary, then joins back to positions."""
    from puma_matcher_spark.functions.text import porter_sql_ctes

    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    ctes, final = porter_sql_ctes("dw")
    return f"""WITH toksl AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         x -> len(x) >= 3 AND x NOT IN ({sw})) AS tk
  FROM documents),
tok AS (SELECT doc_id, unnest(tk) AS word, unnest(range(len(tk))) AS pos FROM toksl),
dw AS (SELECT DISTINCT word FROM tok),
{ctes},
j AS (SELECT t.doc_id, t.pos, t.word, s.stem FROM tok t JOIN {final} s USING (word))
SELECT doc_id,
       string_agg(word, ' ' ORDER BY pos) AS words,
       string_agg(stem, ' ' ORDER BY pos) AS feature,
       string_agg(CAST(pos AS VARCHAR), ' ' ORDER BY pos) AS position
FROM j GROUP BY doc_id"""


@register("text_features_stemmed", _text_features_oracle())
def q_text_features_stemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — TextDataSource feature chain incl. Porter stemming (pandas
    UDF kernel; stemmer unit-tested against published examples AND
    hash-checked against a generated SQL twin of the full algorithm —
    see _text_features_oracle).

    Array columns are string-joined so the driver canonicalizer can
    hash them (it sorts output in pandas and cannot hash list cells)."""
    from puma_matcher_spark.functions.text import text_features

    docs = load_tables(spark, sf_dir).llm_documents()
    feats = text_features(docs, text_col="text", id_col="doc_id")
    # docs whose every token is filtered (len<3 / stopword / empty text)
    # have no feature row — the oracle's GROUP BY over joined tokens
    # defines exactly that (zoo-parity-pinned)
    return feats.where(F.size("words") > 0).select(
        "doc_id",
        F.concat_ws(" ", "words").alias("words"),
        F.concat_ws(" ", "feature").alias("feature"),
        F.concat_ws(" ", F.col("position").cast("array<string>")).alias("position"),
    )


@register("media_features", None)  # mapInPandas stub kernel → rows-only
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 — multimodal feature-extraction plumbing (mapInPandas, Arrow
    batches); codec layer stubbed (llmdata/multimodal.py)."""
    from puma_matcher_spark.llmdata.multimodal import extract_media_features

    docs = load_tables(spark, sf_dir).llm_documents()
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("application/octet-stream").alias("mime_type"),
        F.col("text").alias("payload"),
        F.lit(256).alias("width"),
        F.lit(256).alias("height"),
    )
    return extract_media_features(media)


@register(
    "media_features_shape",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(64 AS BIGINT) AS hash_len,
       true AS all_hex, true AS deterministic
FROM documents""",
)
def q_media_features_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 property twin — the mapInPandas extraction must emit exactly
    one 64-hex-char blockhash per media row (the real published
    blockhash algorithm over the deterministic stand-in decode), and two
    independent runs must agree row-for-row; the row count is computed
    independently by the oracle.  Only the codec itself stays un-gated
    (no PIL in this environment)."""
    from puma_matcher_spark.llmdata.multimodal import extract_media_features

    docs = load_tables(spark, sf_dir).llm_documents()
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("application/octet-stream").alias("mime_type"),
        F.col("text").alias("payload"),
        F.lit(256).alias("width"),
        F.lit(256).alias("height"),
    )
    a = extract_media_features(media).select("media_id", "perceptual_hash")
    n_rows = a.count()
    bad_hex = a.where(~F.col("perceptual_hash").rlike("^[0-9a-f]{64}$")).count()
    lens = a.select(F.length("perceptual_hash").alias("l")).distinct().collect()
    b = extract_media_features(media.repartition(7)).select(
        "media_id", "perceptual_hash"
    )
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    return spark.range(1).select(
        F.lit(n_rows).cast("long").alias("n_rows"),
        F.lit(lens[0]["l"] if len(lens) == 1 else -1).cast("long").alias("hash_len"),
        F.lit(bool(bad_hex == 0)).alias("all_hex"),
        F.lit(bool(diff == 0)).alias("deterministic"),
    )


@register(
    "av_features_shape",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       true AS samples_match, true AS frames_match, true AS deterministic
FROM documents""",
)
def q_av_features_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio/video plumbing property twin: the PCM sample count must
    equal floor(len(payload)/2) and the sampled frame count
    min(4, floor(len/768)) for EVERY row (both recomputed independently
    by the oracle-checkable formulas), and the extraction must be
    repartition-invariant.  The audio path is fully real (raw-PCM
    decode + RMS/ZCR); video frame decode shares the image stub."""
    from puma_matcher_spark.llmdata.multimodal import (
        extract_audio_features,
        extract_video_features,
    )

    docs = load_tables(spark, sf_dir).llm_documents()
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").alias("payload"),
        # byte length, not character length: the kernels operate on
        # payload.encode(), so multibyte text must not skew the formulas
        F.octet_length("text").alias("_len"),
    )
    # NULL payloads decode to zero bytes — coalesce the independent
    # formula's length to 0 too (Spark's least()/greatest() SKIP nulls,
    # so least(4, NULL) reads 4 and the formula, not the kernel, was
    # wrong on a NULL-payload row; zoo-pinned)
    _len0 = F.coalesce(F.col("_len"), F.lit(0))
    au = extract_audio_features(media).join(
        media.select("media_id", "_len"), "media_id"
    )
    bad_samples = au.where(
        F.col("n_samples") != F.floor(_len0 / 2)
    ).count()
    vi = extract_video_features(media).join(
        media.select("media_id", "_len"), "media_id"
    )
    bad_frames = vi.where(
        F.col("n_frames_sampled") != F.least(F.lit(4), F.floor(_len0 / 768))
    ).count()
    a = extract_audio_features(media).select("media_id", "rms", "zcr")
    b = extract_audio_features(media.repartition(7)).select(
        "media_id", "rms", "zcr"
    )
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    n_rows = au.count()
    return spark.range(1).select(
        F.lit(n_rows).cast("long").alias("n_rows"),
        F.lit(bool(bad_samples == 0)).alias("samples_match"),
        F.lit(bool(bad_frames == 0)).alias("frames_match"),
        F.lit(bool(diff == 0)).alias("deterministic"),
    )


@register(
    "media_decode_audit",
    """SELECT 'ok' AS status, CAST(COUNT(*) AS BIGINT) AS n_media,
       true AS consistent
FROM documents WHERE doc_id % 7 <> 0 AND text IS NOT NULL
UNION ALL
SELECT 'quarantined' AS status, CAST(COUNT(*) AS BIGINT) AS n_media,
       true AS consistent
FROM documents WHERE doc_id % 7 = 0 OR text IS NULL""",
)
def q_media_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter audit for the REAL-codec media path
    (multimodal.extract_media_features_decoded(on_error="quarantine")):
    at 100 TB some fraction of blobs is ALWAYS corrupt, and the contract
    is one corrupt blob costs one quarantined row, never the job.

    The fixture synthesises a binary corpus from ``documents`` inside
    the plan (no driver loop): each doc becomes a REAL 16x16 PGM whose
    pixels are md5-derived from its text, except every 7th doc_id gets
    a truncated header and NULL-text docs get a NULL payload — both
    must land in the quarantine with perceptual_hash NULL and a decode
    error, while every clean row must carry a well-formed 64-hex
    blockhash.  The oracle recomputes the ok/quarantined partition
    independently from the corruption rule; ``consistent`` folds the
    per-row invariants into the hash comparison."""
    from puma_matcher_spark.llmdata.multimodal import (
        extract_media_features_decoded,
    )

    docs = load_tables(spark, sf_dir).llm_documents()
    body = F.concat(
        *[
            F.unhex(F.md5(F.concat(F.col("text"), F.lit(str(i)))))
            for i in range(16)
        ]
    )
    payload = F.when(
        F.col("doc_id") % 7 == 0, F.lit(b"P5 truncated-header")
    ).otherwise(F.concat(F.lit(b"P5\n16 16\n255\n"), body))
    media = docs.select(
        F.col("doc_id").alias("media_id"), payload.alias("payload")
    )
    feats = extract_media_features_decoded(media, on_error="quarantine")
    ok = F.col("decode_error").isNull()
    row_ok = F.when(
        ok, F.col("perceptual_hash").rlike("^[0-9a-f]{64}$")
    ).otherwise(F.col("perceptual_hash").isNull())
    agg = feats.groupBy(
        F.when(ok, F.lit("ok")).otherwise(F.lit("quarantined")).alias("status")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_media"),
        F.min(row_ok).alias("consistent"),
    )
    # The oracle UNION ALL always emits BOTH status rows (count 0 when the
    # class is empty) while groupBy emits none for an empty group — on an
    # all-clean or all-corrupt corpus that is a spurious row-count mismatch
    # (r8 ADVICE #2).  Anchor on a literal two-row status frame.
    statuses = spark.createDataFrame(
        [("ok",), ("quarantined",)], "status STRING"
    )
    return statuses.join(F.broadcast(agg), "status", "left").select(
        "status",
        F.coalesce("n_media", F.lit(0)).cast("long").alias("n_media"),
        F.coalesce("consistent", F.lit(True)).alias("consistent"),
    )


# ---------------- picture / hamming family ----------------


@register(
    "hamming_pairs",
    f"""WITH {_LLM_SHINGLES},
seeded AS (SELECT doc_id, shingle, unnest(range(8)) AS seed FROM sh),
mh AS (
  SELECT doc_id, seed,
         MIN(('0x' || substr(md5(shingle || '#' || CAST(seed AS VARCHAR)), 1, 15))::BIGINT) AS minhash
  FROM seeded GROUP BY 1, 2),
bk AS (
  SELECT doc_id, CAST(seed // 2 AS INTEGER) AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY seed)) AS band_key
  FROM mh GROUP BY 1, 2),
bkc AS (
  SELECT doc_id, band, band_key
  FROM (SELECT *, COUNT(*) OVER (PARTITION BY band, band_key) AS bn FROM bk)
  WHERE bn <= 2000),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1_id, b.doc_id AS doc2_id
  FROM bkc a JOIN bkc b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
toks2 AS (SELECT doc_id, unnest({_LLM_TOKS}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks2 GROUP BY 1, 2),
hashed AS (
  SELECT doc_id, tf, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tf),
bits AS (SELECT doc_id, tf, h, unnest(range(60)) AS bit FROM hashed),
votes AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> bit) & 1 = 1 THEN tf ELSE -tf END) AS vote
  FROM bits GROUP BY 1, 2),
simh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY 1)
SELECT c.doc1_id, c.doc2_id,
       CAST(bit_count(xor(s1.simhash, s2.simhash)) AS BIGINT) AS hamming
FROM cand c
JOIN simh s1 ON c.doc1_id = s1.doc_id
JOIN simh s2 ON c.doc2_id = s2.doc_id""",
)
def q_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PictureScorer pattern (J13 + Hamming): score MinHash candidate
    pairs by fingerprint Hamming distance via bit_count(xor) — pure
    codegen, no UDF. Ref: scorer/PictureScorer.scala:42-91,
    matcher/Level2PictureMatcher.scala:43-56."""
    from puma_matcher_spark.operators.picture import hamming_long

    docs = load_tables(spark, sf_dir).llm_documents()
    pairs = dd.minhash_dedup_pairs(docs)
    # persisted (r11): both score-join sides otherwise re-run the full
    # tokenize→md5→bit-vote simhash pass over the corpus
    from puma_matcher_spark.functions.caching import persist_rotating

    sh = persist_rotating(dd.simhash64(docs, method="mapside"))  # ~6x faster than the explode path at sf0.1 (0.09 vs 0.59 s); identical md5 arithmetic, same oracle
    s1 = sh.select(F.col("doc_id").alias("doc1_id"), F.col("simhash").alias("_s1"))
    s2 = sh.select(F.col("doc_id").alias("doc2_id"), F.col("simhash").alias("_s2"))
    return (
        pairs.join(s1, "doc1_id")
        .join(s2, "doc2_id")
        .select(
            "doc1_id",
            "doc2_id",
            hamming_long(F.col("_s1"), F.col("_s2")).cast("long").alias("hamming"),
        )
    )


@register(
    "picture_lsh_pairs",
    f"""WITH toksl AS (SELECT doc_id, {_LLM_TOKS} AS tk FROM documents),
words AS (SELECT doc_id, unnest(tk) AS tok FROM toksl),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM words GROUP BY 1, 2),
hashed AS (
  SELECT doc_id, tf, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tf),
hbits AS (SELECT doc_id, tf, h, unnest(range(60)) AS bit FROM hashed),
votes AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> bit) & 1 = 1 THEN tf ELSE -tf END) AS vote
  FROM hbits GROUP BY 1, 2),
simh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY 1),
fb AS (
  SELECT doc_id, bit
  FROM (SELECT doc_id, simhash, unnest(range(60)) AS bit FROM simh)
  WHERE (simhash >> bit) & 1 = 1),
seeded AS (SELECT doc_id, bit, unnest(range(8)) AS seed FROM fb),
mh AS (
  SELECT doc_id, seed,
         MIN(('0x' || substr(md5(CAST(bit AS VARCHAR) || '#' || CAST(seed AS VARCHAR)), 1, 15))::BIGINT) AS minhash
  FROM seeded GROUP BY 1, 2),
bk AS (
  SELECT doc_id, CAST(seed // 2 AS INTEGER) AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY seed)) AS band_key
  FROM mh GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1_id, b.doc_id AS doc2_id
  FROM bk a JOIN bk b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM fb GROUP BY 1),
common AS (
  SELECT c.doc1_id, c.doc2_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM cand c
  JOIN fb a ON a.doc_id = c.doc1_id
  JOIN fb b ON b.doc_id = c.doc2_id AND b.bit = a.bit
  GROUP BY 1, 2)
SELECT c.doc1_id AS document_version1_id, c.doc2_id AS document_version2_id,
       ROUND(1 - c.c / CAST(s1.n + s2.n - c.c AS DOUBLE), 4) AS jaccard_dist
FROM common c
JOIN sizes s1 ON c.doc1_id = s1.doc_id
JOIN sizes s2 ON c.doc2_id = s2.doc_id
WHERE ROUND(1 - c.c / CAST(s1.n + s2.n - c.c AS DOUBLE), 4) <= 0.3""",
)
def q_picture_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/M2 — MinHash-LSH approximate-Jaccard self-join over fingerprint
    bit sets on portable md5 arithmetic (PictureMatcher.scala:54-67
    rebuild).  Round 2 used ml.feature.MinHashLSH, whose JVM-seeded hash
    tables forced a rows-only check; the portable minhash makes every
    hash oracle-reproducible, upgrading this to a hard pass.  The ml
    variant remains available as operators.picture.minhash_lsh_pairs."""
    from puma_matcher_spark.operators.picture import minhash_lsh_pairs_portable

    docs = load_tables(spark, sf_dir).llm_documents()
    sh = dd.simhash64(docs, method="mapside")  # ~6x faster than the explode path at sf0.1 (0.09 vs 0.59 s); identical md5 arithmetic, same oracle
    return minhash_lsh_pairs_portable(
        sh, id_col="doc_id", fp_col="simhash", threshold=0.3
    )


# ---------------- context windows (J4 → frame specs) ----------------


@register(
    "context_windows",
    f"""WITH toksl AS (SELECT doc_id, {_LLM_TOKS} AS tk FROM documents),
toks AS (
  SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS pos FROM toksl),
ctx AS (
  SELECT doc_id, pos, tok,
         array_to_string(list(tok) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), ' ') AS context
  FROM toks)
SELECT doc_id AS document_version_id, pos, tok AS word, context
FROM ctx WHERE tok IN ('spark', 'hash')""",
)
def q_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 rebuilt as a rowsBetween frame: ±3 words around target
    mentions. Ref: InstrumentAnalyser.scala:66-71,
    AdvancedInstrumentAnalyser.scala:478-504 (theta-join form)."""
    from puma_matcher_spark.operators.context import mention_contexts

    docs = load_tables(spark, sf_dir).llm_documents()
    toks = docs.select(
        F.col("doc_id").alias("document_version_id"),
        F.posexplode(ts.tokens(F.col("text"))).alias("pos", "word"),
    )
    out = mention_contexts(toks, ["spark", "hash"], k=3)
    # string-join the window: array columns stringify differently across
    # engines in the driver's value hasher
    return out.withColumn("context", F.concat_ws(" ", "context"))


@register(
    "top_context_words",
    f"""WITH toksl AS (SELECT doc_id, {_LLM_TOKS} AS tk FROM documents),
toks AS (
  SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS pos FROM toksl),
ctx AS (
  SELECT doc_id, pos, tok,
         list(tok) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS context
  FROM toks),
mentions AS (
  SELECT tok AS word, unnest(context) AS ctx_word
  FROM ctx WHERE tok IN ('spark', 'hash')),
counts AS (
  SELECT word, ctx_word, CAST(COUNT(*) AS BIGINT) AS n
  FROM mentions WHERE ctx_word <> word GROUP BY 1, 2)
SELECT word, ctx_word, n,
       CAST(RANK() OVER (PARTITION BY word ORDER BY n DESC, ctx_word ASC) AS BIGINT) AS rank
FROM counts QUALIFY rank <= 20""",
)
def q_top_context_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — top-20 context words per target.
    Ref: AdvancedInstrumentAnalyser.scala:611-612."""
    from puma_matcher_spark.operators.context import mention_contexts, top_context_words

    docs = load_tables(spark, sf_dir).llm_documents()
    toks = docs.select(
        F.col("doc_id").alias("document_version_id"),
        F.posexplode(ts.tokens(F.col("text"))).alias("pos", "word"),
    )
    mentions = mention_contexts(toks, ["spark", "hash"], k=3)
    return top_context_words(mentions, top_n=20).select(
        "word", "ctx_word", "n", F.col("rank").cast("long").alias("rank")
    )


# ---------------- evaluation / editor / indexing ----------------


@register(
    "rank_evaluation",
    _all_cand_ctes()
    + """,
mirrored AS (
  SELECT document_version1_id AS document_version_id,
         document_version2_id AS partner_id, score_type, score FROM all_cand
  UNION ALL
  SELECT document_version2_id, document_version1_id, score_type, score FROM all_cand),
ranked AS (
  SELECT document_version_id, partner_id, score_type,
         CAST(RANK() OVER (PARTITION BY document_version_id, score_type
                           ORDER BY ROUND(score, 6) DESC, partner_id ASC) AS BIGINT) AS rank
  FROM mirrored)
SELECT score_type,
       CAST(COUNT(*) AS BIGINT) AS n_accepted,
       ROUND(AVG(rank), 4) AS avg_rank,
       CAST(SUM(CASE WHEN rank <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS top3
FROM ranked
WHERE (document_version_id + partner_id) % 7 = 0
GROUP BY 1""",
)
def q_rank_evaluation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 — RankEvaluatorApp: rank summary of known-good pairs per score
    type. Ref: app/RankEvaluatorApp.scala:28-42."""
    from pyspark.sql.window import Window

    cand = _all_candidates(load_tables(spark, sf_dir))
    mirrored = st.mirror_candidates(cand)
    w = Window.partitionBy("document_version_id", "score_type").orderBy(
        pround(F.col("score"), 6).desc(), F.col("partner_id").asc()
    )
    ranked = mirrored.withColumn("rank", F.rank().over(w).cast("long"))
    return (
        ranked.where(
            (F.col("document_version_id") + F.col("partner_id")) % 7 == 0
        )
        .groupBy("score_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_accepted"),
            pround(F.avg("rank"), 4).alias("avg_rank"),
            F.sum(F.when(F.col("rank") <= 3, 1).otherwise(0))
            .cast("long")
            .alias("top3"),
        )
    )


@register(
    "hundred_editor",
    _all_cand_ctes()
    + """
SELECT document_version1_id, document_version2_id, score_type,
       CASE WHEN score_type = 'laboratory' THEN 100.0
            ELSE ROUND(score, 4) END AS score
FROM all_cand""",
)
def q_hundred_editor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HundredMatchEditor — force certain-match types to score 100."""
    from puma_matcher_spark.operators.editors import hundred_match_editor

    cand = _all_candidates(load_tables(spark, sf_dir)).withColumn(
        "score", pround(F.col("score"), 4)
    )
    return hundred_match_editor(cand, ["laboratory"]).select(
        "document_version1_id", "document_version2_id", "score_type", "score"
    )


@register(
    "string_index",
    """SELECT p_partkey, p_brand,
       CAST(DENSE_RANK() OVER (ORDER BY p_brand) AS BIGINT) AS brand_id
FROM part""",
)
def q_string_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringIndexer equivalent — deterministic dense_rank over the label
    (Ref: DoiAnalyser.scala:68-76 uses ml StringIndexer; dense_rank gives
    reproducible ids without an ML fit)."""
    from pyspark.sql.window import Window

    part = load_tables(spark, sf_dir).raw("part")
    return part.select(
        "p_partkey",
        "p_brand",
        F.dense_rank().over(Window.orderBy("p_brand")).cast("long").alias("brand_id"),
    )


@register(
    "events_rollup",
    """SELECT event_type,
       CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day_bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 4) AS value_sum
FROM events
GROUP BY ROLLUP (event_type, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT))""",
)
def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation (additive — the reference has no
    grouping sets, SURVEY.md §2.4; a 100 TB reporting pipeline needs
    them).  Subtotals per event_type and a grand total in one pass."""
    ev = load_tables(spark, sf_dir).events()
    day = (F.floor(F.unix_timestamp("ts") / 86400)).cast("long")
    return ev.rollup(F.col("event_type"), day.alias("day_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        pround(F.sum("value"), 4).alias("value_sum"),
    )


@register(
    "dedup_person_chain",
    """WITH cleaned AS (
  SELECT c_custkey AS id,
         trim(regexp_replace(regexp_replace(lower(trim(c_name)), '\\b\\w\\.', ' ', 'g'), '\\s+', ' ', 'g')) AS clean_name
  FROM customer),
keyed AS (
  SELECT id,
         list_extract(string_split(clean_name, ' '), 1) || '#' ||
         list_extract(string_split(clean_name, ' '), -1) AS blocking_key
  FROM cleaned)
SELECT CAST(MIN(id) OVER (PARTITION BY blocking_key) AS BIGINT) AS lookup_id,
       id AS person_id
FROM keyed""",
)
def q_dedup_person_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full person-dedup chain (PersonDeduplicatorApp rebuild): clean →
    blocking key → blocked pairs → connected components → canonical
    lookup.  The Spark side runs the real iterative CC; the oracle
    exploits that blocked pairs form a clique per blocking key (one key
    per person), so the expected component is min(id) per key — an
    independent closed-form check of the fixpoint."""
    from puma_matcher_spark.functions.caching import persist_rotating
    from puma_matcher_spark.operators.dedup import (
        blocked_pairs,
        clean_names,
        dedup_lookup,
    )

    # r11 (review finding #5): persist the clean_names frame — the
    # blocking-envelope guard plus the pair join's two sides otherwise
    # each re-run the diacritics-fold pandas-UDF chain (3 ArrowEvalPython
    # passes over persons; 1 after)
    persons = persist_rotating(clean_names(load_tables(spark, sf_dir).persons()))
    edges = blocked_pairs(persons)
    return dedup_lookup(persons, edges)


_PT_CTES = """tech AS (
  SELECT DISTINCT l_orderkey AS document_version_id, l_suppkey AS technique_id
  FROM lineitem),
pers AS (
  SELECT DISTINCT l_orderkey AS document_version_id, l_partkey AS person_id
  FROM lineitem),
tbpd AS (
  SELECT t.technique_id, t.document_version_id, p.person_id
  FROM tech t JOIN pers p USING (document_version_id)),
bpt AS (
  SELECT person_id, technique_id, CAST(COUNT(*) AS BIGINT) AS person_technique_count
  FROM tbpd GROUP BY 1, 2),
bp AS (
  SELECT person_id, CAST(COUNT(*) AS BIGINT) AS person_total_technique_count
  FROM tbpd GROUP BY 1),
model AS (
  SELECT bpt.person_id, bpt.technique_id, bpt.person_technique_count,
         bp.person_total_technique_count,
         bpt.person_technique_count / CAST(bp.person_total_technique_count AS DOUBLE)
           AS p
  FROM bpt JOIN bp USING (person_id))"""


@register(
    "person_technique_prob",
    f"""WITH {_PT_CTES}
SELECT person_id, technique_id, person_technique_count,
       person_total_technique_count,
       ROUND(p, 4) AS person_technique_probability
FROM model""",
)
def q_person_technique_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — person→technique probability model
    (PersonTechniqueFilter.scala:25-62): technique = suppkey family,
    person = partkey family."""
    from puma_matcher_spark.operators.instrument import (
        person_technique_probability,
    )

    t = load_tables(spark, sf_dir)
    model = person_technique_probability(
        t.entities_secondary().withColumnRenamed("entity_id", "technique_id"),
        t.entities().withColumnRenamed("entity_id", "person_id"),
    )
    return model.select(
        "person_id",
        "technique_id",
        "person_technique_count",
        "person_total_technique_count",
        pround("person_technique_probability", 4).alias(
            "person_technique_probability"
        ),
    )


@register(
    "person_technique_doc_stats",
    f"""WITH {_PT_CTES}
SELECT d.document_version_id, d.technique_id,
       ROUND(SUM(CAST(FLOOR(m.p * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4)
         AS total_probability,
       ROUND(SUM(CAST(FLOOR(m.p * 1000000 + 0.5) AS BIGINT))
             / (1000000.0 * COUNT(m.person_id)), 4) AS avg_probability,
       CAST(COUNT(m.person_id) AS BIGINT) AS person_count
FROM model m JOIN tbpd d
  ON m.technique_id = d.technique_id AND m.person_id = d.person_id
GROUP BY 1, 2""",
)
def q_person_technique_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — per-(document, technique) probability roll-up
    (PersonTechniqueFilter.scala:64-76).

    Probabilities are quantized to integer micro-units BEFORE summing:
    double addition is order-dependent, and these small-denominator
    rationals land on 4-decimal rounding midpoints often enough that a
    different partition count flips a digit (observed under a vanilla
    16-core session).  Integer sums are exact and order-free in both
    engines; each term's quantization is a single-value op, hence
    engine-deterministic."""
    from puma_matcher_spark.operators.instrument import (
        person_technique_probability,
    )

    t = load_tables(spark, sf_dir)
    tech = t.entities_secondary().withColumnRenamed("entity_id", "technique_id")
    pers = t.entities().withColumnRenamed("entity_id", "person_id")
    model = person_technique_probability(tech, pers)
    tbpd = tech.select("document_version_id", "technique_id").distinct().join(
        pers.select("document_version_id", "person_id").distinct(),
        "document_version_id",
    )
    p6 = F.floor(
        F.col("person_technique_probability") * 1000000 + 0.5
    ).cast("long")
    stats = (
        model.join(tbpd, ["technique_id", "person_id"])
        .groupBy("document_version_id", "technique_id")
        .agg(
            F.sum(p6).alias("_p6"),
            F.count("person_id").cast("long").alias("person_count"),
        )
    )
    return stats.select(
        "document_version_id",
        "technique_id",
        pround(F.col("_p6") / 1000000.0, 4).alias("total_probability"),
        pround(
            F.col("_p6") / (1000000.0 * F.col("person_count")), 4
        ).alias("avg_probability"),
        "person_count",
    )


@register(
    "person_technique_hist",
    f"""WITH {_PT_CTES},
stats AS (
  SELECT d.document_version_id, d.technique_id,
         SUM(CAST(FLOOR(m.p * 1000000 + 0.5) AS BIGINT)) AS p6,
         COUNT(m.person_id) AS person_count
  FROM model m JOIN tbpd d
    ON m.technique_id = d.technique_id AND m.person_id = d.person_id
  GROUP BY 1, 2)
SELECT CAST(FLOOR(p6 * 20 / (1000000.0 * person_count)) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM stats WHERE person_count > 2 GROUP BY 1""",
)
def q_person_technique_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/A15 — 0.05-interval histogram of average technique probability
    (PersonTechniqueFilter.scala:78-87).  Buckets derive from the
    order-free integer micro-unit sum (see person_technique_doc_stats)
    and an exact ×20 so engine/partitioning differences can't flip a
    bucket."""
    from puma_matcher_spark.operators.instrument import (
        person_technique_probability,
    )

    t = load_tables(spark, sf_dir)
    tech = t.entities_secondary().withColumnRenamed("entity_id", "technique_id")
    pers = t.entities().withColumnRenamed("entity_id", "person_id")
    model = person_technique_probability(tech, pers)
    tbpd = tech.select("document_version_id", "technique_id").distinct().join(
        pers.select("document_version_id", "person_id").distinct(),
        "document_version_id",
    )
    p6 = F.floor(
        F.col("person_technique_probability") * 1000000 + 0.5
    ).cast("long")
    stats = (
        model.join(tbpd, ["technique_id", "person_id"])
        .groupBy("document_version_id", "technique_id")
        .agg(
            F.sum(p6).alias("p6"),
            F.count("person_id").cast("long").alias("person_count"),
        )
    )
    bucket = F.floor(
        F.col("p6") * 20 / (1000000.0 * F.col("person_count"))
    ).cast("long")
    return (
        stats.where(F.col("person_count") > 2)
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@register(
    "score_histogram",
    f"""WITH {V_ENTITIES}, {_tf_chain('p_', 'entities')}
SELECT CAST(FLOOR(score / 5.0) * 5 AS BIGINT) AS score_bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM p_cand GROUP BY 1""",
)
def q_score_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 — score histogram by fixed-width buckets
    (PersonTechniqueFilter.scala:78-87 pattern: floor-bucket + count)."""
    cand = _entity_candidates(load_tables(spark, sf_dir), "person")
    bucket = (F.floor(F.col("score") / 5.0) * 5).cast("long")
    return cand.groupBy(bucket.alias("score_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@register(
    "score_pivot_labeled",
    _all_cand_ctes()
    + """,
wide AS (
  SELECT document_version1_id, document_version2_id,
         ROUND(MAX(CASE WHEN score_type = 'person' THEN score END), 4) AS score_person,
         ROUND(MAX(CASE WHEN score_type = 'laboratory' THEN score END), 4) AS score_laboratory
  FROM all_cand GROUP BY 1, 2)
SELECT w.*,
       (w.document_version1_id + w.document_version2_id) % 7 = 0 AS accepted
FROM wide w""",
)
def q_score_pivot_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 + training-label join — the reference's final score list
    carries the accepted label (ScoreListStage.scala:46-52,110)."""
    cand = _all_candidates(load_tables(spark, sf_dir)).withColumn(
        "pair_id",
        pair_id(F.col("document_version1_id"), F.col("document_version2_id")),
    )
    wide = sl.score_list(cand, ["person", "laboratory"])
    return wide.select(
        "document_version1_id",
        "document_version2_id",
        pround("score_person", 4).alias("score_person"),
        pround("score_laboratory", 4).alias("score_laboratory"),
        (
            (F.col("document_version1_id") + F.col("document_version2_id")) % 7 == 0
        ).alias("accepted"),
    )


@register(
    "instrument_matching",
    """WITH aliases(instrument_id, alias) AS (
  VALUES (1, 'spark'), (2, 'hash'), (3, 'merge'), (3, 'join')),
toksl AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
  FROM documents),
toks AS (SELECT doc_id, unnest(tk) AS word FROM toksl),
mentions AS (
  SELECT t.doc_id AS document_version_id, a.instrument_id
  FROM toks t JOIN aliases a ON t.word = a.alias)
SELECT document_version_id, instrument_id,
       CAST(COUNT(*) AS BIGINT) AS mention_count
FROM mentions GROUP BY 1, 2""",
)
def q_instrument_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrument-mention roll-up: broadcast alias dim → token match →
    per-doc counts (InstrumentAnalyser.scala:54-71 shape; alias dim is a
    literal stand-in for the instrument table)."""
    from puma_matcher_spark.operators.instrument import (
        document_instruments,
        instrument_mentions,
    )

    docs = load_tables(spark, sf_dir).llm_documents()
    toks = docs.select(
        F.col("doc_id").alias("document_version_id"),
        F.explode(ts.tokens(F.lower(F.col("text")))).alias("word"),
    )
    aliases = spark.createDataFrame(
        [(1, "spark"), (2, "hash"), (3, "merge"), (3, "join")],
        ["instrument_id", "alias"],
    )
    return document_instruments(instrument_mentions(toks, aliases))


@register(
    "events_cube",
    """SELECT event_type,
       CASE WHEN props IS NOT NULL AND json_valid(props) THEN json_extract_string(props, '$.k') END AS k,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY CUBE (event_type, CASE WHEN props IS NOT NULL AND json_valid(props) THEN json_extract_string(props, '$.k') END)""",
)
def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets aggregation (additive; pairs with events_rollup)."""
    ev = load_tables(spark, sf_dir).events()
    return ev.cube(
        F.col("event_type"), F.get_json_object("props", "$.k").alias("k")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


@register(
    "pii_audit",
    r"""SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '[0-9](?:[ -]?[0-9]){12,18}')) AS BIGINT) AS n_card,
       CAST(len(regexp_extract_all(text, '\+?[0-9][0-9 ()-]{7,}[0-9]')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ip,
       CAST(len(list_filter(
         list_transform(regexp_extract_all(text, '[0-9](?:[ -]?[0-9]){12,18}'),
                        x -> regexp_replace(x, '[ -]', '', 'g')),
         d -> list_sum(list_transform(string_split_regex(reverse(d), ''), (c, i) ->
                CASE WHEN (i - 1) % 2 = 1
                     THEN CASE WHEN CAST(c AS INT) * 2 > 9
                               THEN CAST(c AS INT) * 2 - 9
                               ELSE CAST(c AS INT) * 2 END
                     ELSE CAST(c AS INT) END)) % 10 = 0)) AS BIGINT) AS n_card_valid
FROM documents""",
)
def q_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII hit counts per document (llmdata/pii.py) — the audit pass of
    the pre-training scrubbing hygiene step; map-side regex only."""
    from puma_matcher_spark.llmdata.pii import with_pii_counts

    return with_pii_counts(load_tables(spark, sf_dir).llm_documents())


_CONTAM_SH = """tok{p} AS (
  SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS pos
  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
        FROM documents WHERE doc_id % 2 = {parity})),
sh{p} AS (
  SELECT DISTINCT t0.doc_id, t0.tok || ' ' || t1.tok || ' ' || t2.tok || ' ' || t3.tok || ' ' || t4.tok AS shingle
  FROM tok{p} t0
  JOIN tok{p} t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
  JOIN tok{p} t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2
  JOIN tok{p} t3 ON t3.doc_id = t0.doc_id AND t3.pos = t0.pos + 3
  JOIN tok{p} t4 ON t4.doc_id = t0.doc_id AND t4.pos = t0.pos + 4)"""


@register(
    "contamination_check",
    f"""WITH {_CONTAM_SH.format(p='c', parity=0)},
{_CONTAM_SH.format(p='b', parity=1)}
SELECT c.doc_id AS corpus_id, b.doc_id AS benchmark_id,
       CAST(COUNT(*) AS BIGINT) AS shared_ngrams
FROM shc c JOIN shb b ON c.shingle = b.shingle
GROUP BY 1, 2""",
)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan (llmdata/dedup.py): corpus docs
    sharing any 5-gram with a held-out set (odd doc ids stand in for the
    benchmark).  One shingle equi-join, never all-pairs."""
    docs = load_tables(spark, sf_dir).llm_documents()
    return dd.contamination_check(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        shingle_n=5,
    )


@register(
    "bpe_token_stats",
    r"""SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS word_count,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS bpe_token_count
FROM documents""",
)
def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for data budgeting: whitespace words + BPE-ish
    pre-tokenizer pieces (llmdata/textstats.py, map-side only)."""
    return ts.with_bpe_token_count(load_tables(spark, sf_dir).llm_documents())


# Shared oracle CTE chain for the exact-substring span operators
# (5-gram positional shingles → duplicated-gram hits → gaps-and-islands
# merge).  One definition so the two span oracles can never diverge.
_SPAN_CTES = """tk AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
  FROM documents),
occ0 AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i FROM tk),
occ AS (
  SELECT doc_id, i - 1 AS s,
         array_to_string(list_slice(tk, i, i + 4), ' ') AS shingle
  FROM occ0),
dup AS (SELECT shingle FROM occ GROUP BY 1 HAVING COUNT(*) > 1),
hits AS (SELECT o.doc_id, o.s, o.s + 4 AS e FROM occ o JOIN dup USING (shingle)),
fl AS (
  SELECT doc_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
         THEN 1 ELSE 0 END AS new_island
  FROM hits),
isl AS (
  SELECT doc_id, s, e,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM fl)"""


@register(
    "dup_substring_spans",
    "WITH " + _SPAN_CTES + """
SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
       CAST(MAX(e) AS BIGINT) AS span_end,
       CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_len
FROM isl GROUP BY doc_id, island""",
)
def q_dup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (llmdata/dedup.py
    ``duplicate_spans``, 5-gram granularity): merged token ranges covered
    by any shingle occurring more than once in the corpus — the
    span-level cut list of exact-substring training-data dedup."""
    return dd.duplicate_spans(
        load_tables(spark, sf_dir).llm_documents(), shingle_n=5
    )


@register(
    "span_cut_corpus",
    "WITH " + _SPAN_CTES + """,
spans AS (
  SELECT doc_id, MIN(s) AS ss, MAX(e) AS se
  FROM isl GROUP BY doc_id, island),
spl AS (
  SELECT doc_id, list({'s': ss, 'e': se}) AS spans
  FROM spans GROUP BY doc_id)
SELECT t.doc_id,
       COALESCE(array_to_string(
         list_filter(t.tk, (x, i) ->
           len(list_filter(COALESCE(spl.spans, []),
               sp -> i - 1 >= sp.s AND i - 1 <= sp.e)) = 0), ' '), '') AS clean_text,
       CAST(len(t.tk) - len(
         list_filter(t.tk, (x, i) ->
           len(list_filter(COALESCE(spl.spans, []),
               sp -> i - 1 >= sp.s AND i - 1 <= sp.e)) = 0)) AS BIGINT)
         AS n_tokens_removed
FROM tk t LEFT JOIN spl ON spl.doc_id = t.doc_id""",
)
def q_span_cut_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus after exact-substring span cutting (llmdata/dedup.py
    ``cut_spans`` over ``duplicate_spans``): duplicated 5-gram runs are
    removed from every document's token stream."""
    docs = load_tables(spark, sf_dir).llm_documents()
    spans = dd.duplicate_spans(docs, shingle_n=5)
    return dd.cut_spans(docs, spans)


@register(
    "bpe_merges",
    """WITH tk AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
  FROM documents),
vocab AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
pos AS (SELECT tok, c, unnest(range(1, length(tok))) AS i FROM vocab),
pairs AS (SELECT substr(tok, i, 2) AS pair, c FROM pos),
counts AS (SELECT pair, CAST(SUM(c) AS BIGINT) AS pair_count FROM pairs GROUP BY pair)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair ASC) AS BIGINT) AS merge_rank,
       pair, pair_count
FROM counts ORDER BY pair_count DESC, pair ASC LIMIT 50""",
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 BPE merge candidates (llmdata/textstats.py
    ``bpe_top_merges``): adjacent-character-pair counts weighted by word
    frequency, aggregated per distinct word first."""
    return ts.bpe_top_merges(load_tables(spark, sf_dir).llm_documents(), k=50)


@register(
    "repetition_metrics",
    """WITH tk AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
  FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS gram
  FROM tk),
bgc AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2),
bgt AS (
  SELECT doc_id, gram, cnt,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn,
         SUM(cnt * length(gram)) OVER (PARTITION BY doc_id) AS tw
  FROM bgc),
topg AS (
  SELECT doc_id, gram AS top_bigram,
         ROUND(CAST(cnt * length(gram) AS DOUBLE) / CAST(tw AS DOUBLE), 4) AS top_bigram_char_frac
  FROM bgt WHERE rn = 1),
tg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
  FROM tk),
tgc AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM tg GROUP BY 1, 2),
dup AS (
  SELECT doc_id,
         ROUND(CAST(SUM(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END) AS DOUBLE)
               / CAST(SUM(cnt * length(gram)) AS DOUBLE), 4) AS dup_trigram_char_frac
  FROM tgc GROUP BY 1)
SELECT d.doc_id, topg.top_bigram,
       COALESCE(topg.top_bigram_char_frac, 0.0) AS top_bigram_char_frac,
       COALESCE(dup.dup_trigram_char_frac, 0.0) AS dup_trigram_char_frac
FROM documents d
LEFT JOIN topg ON topg.doc_id = d.doc_id
LEFT JOIN dup ON dup.doc_id = d.doc_id""",
)
def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (llmdata/textstats.py): top-bigram
    character coverage + duplicated-trigram character fraction, exact
    integer character sums divided only at the end."""
    return ts.repetition_metrics(load_tables(spark, sf_dir).llm_documents())


@register(
    "vocab_topk",
    """WITH tk AS (
  SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
  FROM documents),
bg AS (
  SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS gram
  FROM tk),
c AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences FROM bg GROUP BY 1)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, gram ASC) AS BIGINT) AS vocab_rank,
       gram, n_occurrences
FROM c ORDER BY n_occurrences DESC, gram ASC LIMIT 100""",
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-100 bigram vocabulary (llmdata/textstats.py) with a
    deterministic (count desc, gram asc) order — tokenizer-merge /
    boilerplate-blocklist seed.  Partial-agg + TakeOrdered; the rank
    window sees only the k survivors."""
    return ts.vocab_topk(load_tables(spark, sf_dir).llm_documents(), k=100, n=2)


@register(
    "decontaminated_corpus",
    f"""WITH {_CONTAM_SH.format(p='c', parity=0)},
{_CONTAM_SH.format(p='b', parity=1)},
hits AS (SELECT DISTINCT c.doc_id FROM shc c JOIN shb b ON c.shingle = b.shingle)
SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d
WHERE d.doc_id % 2 = 0 AND d.doc_id NOT IN (SELECT doc_id FROM hits)""",
)
def q_decontaminated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus after benchmark decontamination (llmdata/dedup.py
    ``decontaminate``): even doc ids = corpus, odd = benchmark stand-in,
    5-gram overlap → drop.  Shingle equi-join + left-anti on doc_id."""
    docs = load_tables(spark, sf_dir).llm_documents()
    clean = dd.decontaminate(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        shingle_n=5,
    )
    return clean.select(
        "doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


@register(
    "doc_chunks",
    """WITH tk AS (
  -- coalesce: DuckDB's greatest() also skips NULLs, so a NULL-text doc
  -- would otherwise emit one phantom chunk row (same trap as Spark's)
  SELECT doc_id,
         list_filter(string_split(lower(coalesce(text, '')), ' '), x -> x <> '') AS tk
  FROM documents),
ch AS (
  SELECT doc_id,
         unnest(CASE WHEN len(tk) = 0 THEN []
                ELSE range(0, CAST(1 + ceil(greatest(0, len(tk) - 64) / 48.0) AS INT)) END) AS chunk_id,
         unnest(CASE WHEN len(tk) = 0 THEN []
                ELSE list_transform(range(0, CAST(1 + ceil(greatest(0, len(tk) - 64) / 48.0) AS INT)),
                     k -> list_slice(tk, 1 + k * 48, k * 48 + 64)) END) AS chunk
  FROM tk)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(chunk) AS BIGINT) AS n_tokens,
       array_to_string(chunk, ' ') AS chunk_text
FROM ch""",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping training chunks (llmdata/packing.py
    ``chunk_documents``, 64-token chunks, 16 overlap): map-side
    higher-order slice + posexplode, stable under repartitioning."""
    from puma_matcher_spark.llmdata.packing import chunk_documents

    return chunk_documents(
        load_tables(spark, sf_dir).llm_documents(), chunk_len=64, overlap=16
    )


@register(
    "quality_sample",
    """WITH m AS (
  SELECT doc_id, source,
         ROUND(CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE), 4) AS distinct_ratio
  FROM (SELECT doc_id, source,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
        FROM documents)),
r AS (
  SELECT doc_id, source, distinct_ratio,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY distinct_ratio DESC, doc_id ASC) AS BIGINT) AS sample_rank
  FROM m)
SELECT doc_id, source, distinct_ratio, sample_rank FROM r WHERE sample_rank <= 20""",
)
def q_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stratified quality sample (llmdata/sampling.py): top-20
    docs per source by rounded distinct-token ratio, doc_id tie-break."""
    from puma_matcher_spark.llmdata.sampling import quality_stratified_sample

    return quality_stratified_sample(
        load_tables(spark, sf_dir).llm_documents(), per_source=20
    )


@register(
    "incremental_ingest",
    """WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_filter(string_split(lower(text), ' '), x -> x <> ''), ' ')) AS fingerprint
  FROM documents),
oldf AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 2 = 0),
freshf AS (
  SELECT * FROM fp
  WHERE doc_id % 2 = 1
    AND NOT EXISTS (SELECT 1 FROM oldf o WHERE o.fingerprint = fp.fingerprint))
SELECT MIN(doc_id) AS doc_id, fingerprint FROM freshf GROUP BY fingerprint""",
)
def q_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time exact dedup of a new batch (odd ids) against the
    existing corpus (even ids): fingerprint anti-join + in-batch min-id
    keep (llmdata/dedup.py ``incremental_ingest``)."""
    docs = load_tables(spark, sf_dir).llm_documents()
    return dd.incremental_ingest(
        docs.where(F.col("doc_id") % 2 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
    )


@register(
    "corpus_split",
    """SELECT doc_id,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
  FROM documents)""",
)
def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket train/val/test assignment
    (llmdata/sampling.py) — stable across engines, runs and cluster
    layouts, unlike seeded ``sample()``."""
    from puma_matcher_spark.llmdata.sampling import with_split

    docs = load_tables(spark, sf_dir).llm_documents()
    return with_split(docs).select("doc_id", "split")


# shared by llm_curation and curation_report (round 8): the full DuckDB
# twin of the curation pipeline's three stages
_CURATION_CTE = """WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_filter(string_split(lower(text), ' '), x -> x <> ''), ' ')) AS f
  FROM documents),
keep AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f),
d1 AS (SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)),
toksl AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
  FROM d1),
tokp AS (
  SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS pos FROM toksl),
sh AS (
  SELECT DISTINCT t0.doc_id, t0.tok || ' ' || t1.tok || ' ' || t2.tok AS shingle
  FROM tokp t0
  JOIN tokp t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
  JOIN tokp t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2),
seeded AS (SELECT doc_id, shingle, unnest(range(8)) AS seed FROM sh),
mh AS (
  SELECT doc_id, seed,
         MIN(('0x' || substr(md5(shingle || '#' || CAST(seed AS VARCHAR)), 1, 15))::BIGINT) AS minhash
  FROM seeded GROUP BY 1, 2),
bk AS (
  SELECT doc_id, CAST(seed // 2 AS INTEGER) AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY seed)) AS band_key
  FROM mh GROUP BY 1, 2),
bkc AS (
  SELECT doc_id, band, band_key
  FROM (SELECT *, COUNT(*) OVER (PARTITION BY band, band_key) AS bn FROM bk)
  WHERE bn <= 2000),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1_id, b.doc_id AS doc2_id
  FROM bkc a JOIN bkc b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT c.doc1_id, c.doc2_id, COUNT(*) AS c
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc1_id
  JOIN sh b ON b.doc_id = c.doc2_id AND b.shingle = a.shingle
  GROUP BY 1, 2),
verified AS (
  SELECT c.doc1_id, c.doc2_id
  FROM common c
  JOIN sizes s1 ON c.doc1_id = s1.doc_id
  JOIN sizes s2 ON c.doc2_id = s2.doc_id
  WHERE ROUND(c.c / CAST(s1.n + s2.n - c.c AS DOUBLE), 4) >= 0.8),
drops AS (SELECT DISTINCT doc2_id AS doc_id FROM verified),
d2 AS (SELECT d1.doc_id, d1.text FROM d1 ANTI JOIN drops USING (doc_id)),
tok2 AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM d2),
d3 AS (
  SELECT doc_id FROM tok2
  WHERE len(tk) >= 5
    AND ROUND(len(list_distinct(tk)) / CAST(len(tk) AS DOUBLE), 4) >= 0.05)"""


@register(
    "llm_curation",
    _CURATION_CTE
    + """
SELECT doc_id,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_input,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM d1) AS n_after_exact_dedup,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM d2) AS n_after_near_dedup,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM d3) AS n_after_quality
FROM d3""",
)
def q_llm_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: exact dedup → LSH near-dup removal →
    quality filter (llmdata/pipeline.py); returns the clean corpus ids
    with per-stage audit counts.  The pipeline observes the counts
    inside its stage checkpoint jobs, so they fold in as literals — no
    audit subquery re-reads a stage."""
    from puma_matcher_spark.llmdata.pipeline import curate_documents

    docs = load_tables(spark, sf_dir).llm_documents()
    result = curate_documents(docs)
    return result.clean.select(
        "doc_id",
        *[
            F.lit(n).cast("long").alias(f"n_{stage}")
            for stage, n in result.stage_counts.items()
        ],
    )


@register(
    "curation_report",
    _CURATION_CTE
    + """
SELECT d.source,
       CASE WHEN d1x.doc_id IS NULL THEN 'exact_dup'
            WHEN dx.doc_id IS NOT NULL THEN 'near_dup'
            WHEN d3x.doc_id IS NULL THEN 'low_quality'
            ELSE 'accepted' END AS outcome,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents d
LEFT JOIN d1 d1x ON d.doc_id = d1x.doc_id
LEFT JOIN drops dx ON d.doc_id = dx.doc_id
LEFT JOIN d3 d3x ON d.doc_id = d3x.doc_id
GROUP BY 1, 2""",
)
def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation audit report (llmdata/pipeline.py
    curation_report) — the user-visible composition the curation app's
    audit trail implies: for every input document, which stage rejected
    it (exact_dup / near_dup / low_quality) or 'accepted', aggregated to
    (source, outcome, n_docs).  The outcomes partition the corpus, so
    the report's n_docs sums to the input count — a data-quality owner
    reads this table after every curation run.  Same stage kernels as
    `llm_curation` plus three doc_id marker joins and one aggregate;
    the oracle re-derives all three stages independently in DuckDB."""
    from puma_matcher_spark.llmdata.pipeline import curation_report

    docs = load_tables(spark, sf_dir).llm_documents()
    return curation_report(docs)


@register("normalised_scores_approx", None)  # percentile_approx → rows-only
def q_normalised_scores_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 scale path — percentile_approx normalisation (no global sort;
    the exact twin is `normalised_scores`)."""
    from puma_matcher_spark.operators.normaliser import (
        normalisation_factor,
        normalise_scores,
    )

    cand = _entity_candidates(load_tables(spark, sf_dir), "person")
    factor = normalisation_factor(cand, percentile=0.99, exact=False)
    return normalise_scores(cand, factor).select(
        "document_version1_id", "document_version2_id", "score"
    )


@register(
    "normalised_approx_bounds",
    f"""WITH {V_ENTITIES}, {_tf_chain('p_', 'entities')}
SELECT CAST(COUNT(*) AS BIGINT) AS n_scores,
       true AS within_bounds, true AS factor_positive
FROM p_cand""",
)
def q_normalised_approx_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property check for the approx-percentile scale path: the
    percentile_approx p99 factor must land between the exact p98.9 and
    p99.1 order statistics, thresholded to booleans so the oracle stays
    engine-independent while an approximation regression
    hash-mismatches.  n_scores is counted independently by the oracle
    from the candidate chain.

    Bound width is MEASURED, not guessed (r11, PLANS.md "approx
    percentile divergence"): the worst observed rank error of the GK
    summary at default accuracy 10000 across sf0.001/0.01/0.1 is 0.021%
    of n (189 ranks at n=894k; value reldiff <= 1.4e-3, exactly 0 at
    sf0.1 where score ties absorb the rank slack), so the +/-0.1%
    bounds here hold with >4x margin — 5x tighter than the r7 original
    +/-0.5%, which a 20x-worse approximation would still have passed."""
    from puma_matcher_spark.operators.normaliser import normalisation_factor

    cand = _entity_candidates(load_tables(spark, sf_dir), "person")
    approx = normalisation_factor(cand, percentile=0.99, exact=False)
    lo = normalisation_factor(cand, percentile=0.989, exact=True)
    hi = normalisation_factor(cand, percentile=0.991, exact=True)
    n = cand.count()
    return spark.range(1).select(
        F.lit(n).cast("long").alias("n_scores"),
        F.lit(bool(lo <= approx <= hi)).alias("within_bounds"),
        F.lit(bool(approx > 0)).alias("factor_positive"),
    )


@register(
    "word_spec",
    f"""WITH corpus AS (
  SELECT doc_id AS document_version_id,
         unnest(list_distinct({_TOKS_SQL.format(col='text')})) AS word
  FROM documents WHERE doc_id % 2 = 0),
cdf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM corpus GROUP BY 1),
cn AS (SELECT CAST(COUNT(DISTINCT document_version_id) AS BIGINT) AS n FROM corpus),
refc AS (
  SELECT doc_id AS document_version_id,
         unnest(list_distinct({_TOKS_SQL.format(col='text')})) AS word
  FROM documents WHERE doc_id % 2 = 1),
rdf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS ref_df FROM refc GROUP BY 1),
rn AS (SELECT CAST(COUNT(DISTINCT document_version_id) AS BIGINT) AS n FROM refc)
SELECT c.word, c.df, r.ref_df,
       ROUND(ABS(LN((SELECT n FROM cn) / CAST(c.df AS DOUBLE))
               - LN((SELECT n FROM rn) / CAST(r.ref_df AS DOUBLE))), 4) AS spec_distance
FROM cdf c JOIN rdf r ON c.word = r.word""",
)
def q_word_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DocumentWordSpecAnalyser — corpus-vs-reference IDF distance
    (analyser/DocumentWordSpecAnalyser.scala:73-160; the odd-doc half of
    the corpus stands in for the reference English corpus)."""
    from puma_matcher_spark.operators.wordspec import corpus_word_df, word_spec_distance

    t = load_tables(spark, sf_dir)
    all_docs = t.llm_documents()
    docs = all_docs.where(F.col("doc_id") % 2 == 0)
    ref_docs = all_docs.where(F.col("doc_id") % 2 == 1)
    from puma_matcher_spark.functions.text import exploded_tokens

    cdf = corpus_word_df(docs, "text", "doc_id")
    rdf = corpus_word_df(ref_docs, "text", "doc_id")
    # N = docs with ≥1 surviving token (matches the oracle's corpus CTE),
    # folded in as scalar subqueries — the old eager .count()s ran TWO
    # extra exploded-token scans before the real job.
    n_c = _doc_count_scalar(exploded_tokens(docs, "text", "doc_id"))
    n_r = _doc_count_scalar(exploded_tokens(ref_docs, "text", "doc_id"))
    out = word_spec_distance(cdf, n_c, rdf, n_r)
    return out.select(
        "word", "df", "ref_df", pround("spec_distance", 4).alias("spec_distance")
    )


def _word_features_oracle() -> str:
    """Oracle for word_features pinned to the heuristic backend: the SQL
    CASE twins are *generated from the same rule tables* as the Python
    kernels (functions/nlp.py heuristic_pos_sql / heuristic_lemma_sql),
    so tagger and oracle cannot drift apart."""
    from puma_matcher_spark.functions.nlp import (
        POS_WHITELIST,
        heuristic_lemma_sql,
        heuristic_pos_sql,
    )

    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    wl = ", ".join(f"'{t}'" for t in POS_WHITELIST)
    return f"""WITH toksl AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         x -> len(x) >= 3 AND x NOT IN ({sw})) AS tk
  FROM documents),
toks AS (
  SELECT doc_id, unnest(tk) AS word, unnest(range(len(tk))) AS pos FROM toksl),
tagged AS (
  SELECT doc_id AS document_version_id, word,
         {heuristic_lemma_sql('word')} AS lemma,
         {heuristic_pos_sql('word')} AS pos_tag,
         CAST(pos + 1 AS BIGINT) AS word_position
  FROM toks)
SELECT document_version_id, word, lemma, pos_tag, word_position
FROM tagged WHERE pos_tag IN ({wl}) AND len(lemma) >= 4"""


@register("word_features", _word_features_oracle())
def q_word_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 — per-word (word, lemma, pos_tag, position) features with the
    POS whitelist + lemma-length filter
    (DocumentWordSpecAnalyser.scala:166-220).  Pinned to the heuristic
    backend so the generated SQL rule twins give it a hard oracle (the
    spaCy backend remains available via word_features(backend=...) and
    stays accuracy-gated rather than oracle-checked)."""
    from puma_matcher_spark.functions.nlp import word_features

    docs = load_tables(spark, sf_dir).llm_documents()
    return word_features(docs, text_col="text", id_col="doc_id", backend="heuristic")


@register(
    "doc_quality",
    """WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
  FROM documents),
bi AS (
  SELECT doc_id, text, tk,
         CASE WHEN len(tk) >= 2
              THEN list_transform(range(len(tk) - 1), i -> tk[i+1] || ' ' || tk[i+2])
              ELSE CAST([] AS VARCHAR[]) END AS bg
  FROM toks),
met AS (
  SELECT doc_id,
         CAST(len(tk) AS BIGINT) AS token_count,
         ROUND(CAST(list_sum(list_transform(tk, x -> len(x))) AS DOUBLE) / len(tk), 4) AS mean_word_len,
         ROUND(CASE WHEN len(bg) > 0
                    THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
                    ELSE 0.0 END, 4) AS dup_bigram_frac,
         ROUND(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text), 4) AS symbol_ratio
  FROM bi)
SELECT *,
       CASE WHEN token_count >= 10
             AND mean_word_len BETWEEN 3.0 AND 5.2
             AND dup_bigram_frac <= 0.05
             AND symbol_ratio <= 0.1
            THEN 'keep' ELSE 'drop' END AS verdict
FROM met""",
)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality filter (llmdata/textstats.py): repetition
    (duplicate-bigram fraction), word-length and symbol-ratio heuristics
    with a keep/drop verdict — the standard pre-training curation gate."""
    return ts.with_quality_flags(load_tables(spark, sf_dir).llm_documents())


@register(
    "pii_scrub",
    r"""SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9](?:[ -]?[0-9]){12,18}', '<CARD>', 'g'),
           '\+?[0-9][0-9 ()-]{7,}[0-9]', '<PHONE>', 'g'),
         '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS scrubbed_text
FROM documents""",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (llmdata/pii.py): typed placeholder redaction,
    same map-side regex chain the audit counts with."""
    from puma_matcher_spark.llmdata.pii import scrub_pii

    docs = load_tables(spark, sf_dir).llm_documents()
    return scrub_pii(docs).select("doc_id", "scrubbed_text")


@register(
    "source_mix",
    """WITH t AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1)
SELECT source, n_docs, n_tokens,
       ROUND(CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE), 4) AS token_share
FROM t""",
)
def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix report (llmdata/textstats.py): per-source doc/token
    counts and token share — the data-mixture summary a training run is
    budgeted against."""
    return ts.source_mix(load_tables(spark, sf_dir).llm_documents())


@register(
    "unigram_logprob",
    f"""WITH toksl AS (SELECT doc_id, {_LLM_TOKS} AS tk FROM documents),
toks AS (SELECT doc_id, unnest(tk) AS tok FROM toksl),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
gf AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS gf FROM tf GROUP BY 1),
tot AS (SELECT CAST(SUM(gf) AS DOUBLE) AS t FROM gf)
SELECT tf.doc_id,
       CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       ROUND(SUM(tf.tf * log10(gf.gf / (SELECT t FROM tot))) / SUM(tf.tf), 4)
         AS avg_logprob
FROM tf JOIN gf USING (tok)
GROUP BY 1""",
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality signal (llmdata/textstats.py): per-doc
    mean unigram log-probability under the corpus token distribution —
    ranks documents by typicality with no external model."""
    return ts.unigram_logprob(load_tables(spark, sf_dir).llm_documents())


@register(
    "events_top_users",
    """WITH s AS (
  SELECT event_type, user_id, ROUND(SUM(value), 4) AS value_sum
  FROM events GROUP BY 1, 2),
r AS (
  SELECT event_type, user_id, value_sum,
         RANK() OVER (PARTITION BY event_type
                      ORDER BY value_sum DESC, user_id) AS rk
  FROM s)
SELECT event_type, user_id, value_sum, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 3""",
)
def q_events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: heaviest 3 users per event type by value sum —
    the canonical rank-over-partition + filter shape (sorts only within
    each group's partition; rounding before ranking keeps the order
    engine-reproducible, and user_id breaks ties)."""
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir).events()
    s = ev.groupBy("event_type", "user_id").agg(
        pround(F.sum("value"), 4).alias("value_sum")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("value_sum").desc(), F.col("user_id")
    )
    return (
        s.withColumn("rk", F.rank().over(w).cast("long"))
        .where(F.col("rk") <= 3)
    )


@register(
    "events_robust_outliers",
    """WITH med AS (
  SELECT event_type, ROUND(quantile_cont(value, 0.5), 4) AS med
  FROM events GROUP BY 1),
mad AS (
  SELECT e.event_type, med.med,
         ROUND(quantile_cont(abs(e.value - med.med), 0.5), 4) AS mad
  FROM events e JOIN med USING (event_type)
  GROUP BY 1, 2)
SELECT m.event_type, m.med, m.mad,
       CAST(SUM(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN mad m USING (event_type)
GROUP BY 1, 2, 3""",
)
def q_events_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen for the data-quality plane: median/MAD
    z-scores (threshold 3, consistency constant 1.4826) — unlike
    mean/stddev flags, a heavy-tailed burst can't mask itself by
    inflating its own baseline.  Two grouped exact medians + one
    conditional count; at 100 TB swap ``percentile`` for the KLL
    sketch twin (events_kll_quantiles) and the shape is unchanged."""
    # med/mad are ROUNDED before the threshold comparison: the two
    # engines' percentile interpolation can differ in the last ulp, and
    # an unrounded cutoff would let a knife-edge row flip the integer
    # n_outliers between engines
    ev = load_tables(spark, sf_dir).events()
    med = ev.groupBy("event_type").agg(
        pround(F.expr("percentile(value, 0.5)"), 4).alias("med")
    )
    mad = (
        ev.join(med, "event_type")
        .groupBy("event_type", "med")
        .agg(pround(F.expr("percentile(abs(value - med), 0.5)"), 4).alias("mad"))
    )
    return (
        ev.join(mad, "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad")
                ).cast("long")
            )
            .cast("long")
            .alias("n_outliers")
        )
        .select("event_type", "med", "mad", "n_outliers")
    )


@register(
    "events_hll_rollup",
    """SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bounds
FROM events GROUP BY 1""",
)
def q_events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup property (streaming/events.py
    hll_user_sketches / hll_range_estimate): per-day DataSketches HLL
    sketches of distinct users, unioned per type at query time, must
    land within 5% of the exact distinct count — proving range queries
    can be served from stored kilobyte sketches without rescanning raw
    events.  The oracle pins the exact counts; the bound is the
    engine-independent claim."""
    from puma_matcher_spark.streaming.events import (
        hll_range_estimate,
        hll_user_sketches,
    )

    ev = load_tables(spark, sf_dir).events()
    est = hll_range_estimate(hll_user_sketches(ev)).withColumnRenamed(
        "event_type", "_et"
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    # null-safe join: a NULL event_type is a legitimate rollup group
    # (the oracle's GROUP BY keeps it; a plain equi-join would drop it)
    return exact.join(
        est, exact["event_type"].eqNullSafe(F.col("_et"))
    ).select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.greatest(F.col("exact_users"), F.lit(1))
            < 0.05
        ).alias("within_bounds"),
    )


@register(
    "events_theta_setops",
    """WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT CAST((SELECT COUNT(*) FROM a WHERE user_id NOT IN (SELECT user_id FROM b)) AS BIGINT) AS exact_a_not_b,
       CAST((SELECT COUNT(*) FROM a WHERE user_id IN (SELECT user_id FROM b)) AS BIGINT) AS exact_a_and_b,
       TRUE AS within_bounds""",
)
def q_events_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra property (streaming/events.py
    theta_user_setops): clicked-but-never-purchased and clicked-and-
    purchased distinct-user counts from combined kilobyte sketches must
    land within 5% of the exact anti-/semi-join counts the oracle pins."""
    from puma_matcher_spark.streaming.events import theta_user_setops

    ev = load_tables(spark, sf_dir).events()
    est = theta_user_setops(ev)
    # exact side in ONE scan + one shuffle: per-user membership flags,
    # then count the flag combinations (no anti/semi join pair needed)
    flags = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("in_a"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("in_b"),
    )
    exact = flags.agg(
        F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 0)).cast("long"))
        .cast("long")
        .alias("exact_a_not_b"),
        F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long"))
        .cast("long")
        .alias("exact_a_and_b"),
    )
    e = est.select(F.struct("a_not_b", "a_and_b").alias("s")).scalar()
    return exact.select(
        "exact_a_not_b",
        "exact_a_and_b",
        (
            (
                F.abs(e.getField("a_not_b") - F.col("exact_a_not_b"))
                / F.greatest(F.col("exact_a_not_b"), F.lit(1))
                < 0.05
            )
            & (
                F.abs(e.getField("a_and_b") - F.col("exact_a_and_b"))
                / F.greatest(F.col("exact_a_and_b"), F.lit(1))
                < 0.05
            )
        ).alias("within_bounds"),
    )


@register(
    "events_kll_quantiles",
    """WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.45) AS p45, quantile_cont(value, 0.55) AS p55,
         quantile_cont(value, 0.92) AS p92, quantile_cont(value, 0.98) AS p98
  FROM events GROUP BY 1)
SELECT event_type, TRUE AS p50_in_band, TRUE AS p95_in_band FROM q""",
)
def q_events_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL mergeable-quantile property (streaming/events.py
    kll_value_quantiles): the sketch's p50/p95 value estimates must lie
    inside the exact p45–p55 / p92–p98 value bands (KLL guarantees RANK
    error, so the band is expressed in rank space) — proving order
    statistics can be served from mergeable sketches."""
    from puma_matcher_spark.streaming.events import kll_value_quantiles

    ev = load_tables(spark, sf_dir).events()
    est = kll_value_quantiles(ev).withColumnRenamed("event_type", "_et")
    bands = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.45)").alias("p45"),
        F.expr("percentile(value, 0.55)").alias("p55"),
        F.expr("percentile(value, 0.92)").alias("p92"),
        F.expr("percentile(value, 0.98)").alias("p98"),
        F.count("value").alias("_nv"),
    )
    # the rank-error band is only meaningful once a group has enough
    # points that the interpolated p45–p55 interval can contain a data
    # point the sketch could actually return (a 2-point group's band
    # excludes BOTH points by construction) — tiny groups pass
    # vacuously, the fixtures' groups are all far above the floor
    meaningful = F.col("_nv") >= 10
    # null-safe join — see events_hll_rollup
    return bands.join(
        est, bands["event_type"].eqNullSafe(F.col("_et"))
    ).select(
        "event_type",
        (
            ~meaningful
            | F.col("p50_est").between(F.col("p45"), F.col("p55"))
        ).alias("p50_in_band"),
        (
            ~meaningful
            | F.col("p95_est").between(F.col("p92"), F.col("p98"))
        ).alias("p95_in_band"),
    )


@register(
    "bigram_logprob",
    f"""WITH toksl AS (SELECT doc_id, {_LLM_TOKS} AS tk FROM documents),
toks AS (SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS pos FROM toksl),
big AS (
  SELECT a.doc_id, a.tok, b.tok AS nxt
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
dbc AS (SELECT doc_id, tok, nxt, CAST(COUNT(*) AS BIGINT) AS m FROM big GROUP BY 1, 2, 3),
bf AS (SELECT tok, nxt, CAST(SUM(m) AS BIGINT) AS c12 FROM dbc GROUP BY 1, 2),
uf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1 FROM toks GROUP BY 1),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uf)
SELECT dbc.doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
       ROUND(SUM(m * log10((c12 + 1.0) / (c1 + (SELECT v FROM v)))) / SUM(m), 4)
         AS avg_logprob
FROM dbc JOIN bf USING (tok, nxt) JOIN uf USING (tok)
GROUP BY 1""",
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram LM perplexity proxy (llmdata/textstats.py
    bigram_logprob) — scores sequencing typicality, the stronger
    fluency signal over unigram_logprob's vocabulary typicality."""
    return ts.bigram_logprob(load_tables(spark, sf_dir).llm_documents())


@register(
    "xcorpus_logprob",
    f"""WITH toksl AS (SELECT doc_id, {_LLM_TOKS} AS tk FROM documents),
toks AS (SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS pos FROM toksl),
big AS (
  SELECT a.doc_id, a.tok, b.tok AS nxt
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
bf AS (SELECT tok, nxt, CAST(COUNT(*) AS BIGINT) AS c12
       FROM big WHERE doc_id % 2 = 0 GROUP BY 1, 2),
uf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1
       FROM toks WHERE doc_id % 2 = 0 GROUP BY 1),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uf),
dbc AS (SELECT doc_id, tok, nxt, CAST(COUNT(*) AS BIGINT) AS m
        FROM big WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3)
SELECT dbc.doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
       ROUND(SUM(m * log10((COALESCE(c12, 0) + 1.0)
                           / (COALESCE(c1, 0) + (SELECT v FROM v)))) / SUM(m), 4)
         AS avg_logprob
FROM dbc LEFT JOIN bf USING (tok, nxt) LEFT JOIN uf USING (tok)
WHERE (SELECT v FROM v) > 0
GROUP BY 1""",
)
def q_xcorpus_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus perplexity proxy (llmdata/textstats.py
    xcorpus_bigram_logprob) — the CCNet data-selection setup: fit the
    smoothed bigram model on the even-doc_id half (the 'trusted' corpus;
    in production, the snapshots come from two sources) and score the
    odd half under it.  Exercises the OOV path self-scoring never can:
    unseen bigrams and out-of-vocabulary histories smooth to
    (0+1)/(0+V) via LEFT joins."""
    docs = load_tables(spark, sf_dir).llm_documents()
    return ts.xcorpus_bigram_logprob(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    )


@register(
    "sequence_packing",
    f"""WITH pd AS (
  SELECT doc_id, source, CAST(len({_LLM_TOKS}) AS BIGINT) AS n_tokens
  FROM documents),
cum AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS e
  FROM pd)
SELECT doc_id, source, n_tokens,
       CAST((e - n_tokens) // 512 AS BIGINT) AS pack_id,
       CAST((e - n_tokens) % 512 AS BIGINT) AS pack_offset,
       CAST((e - 1) // 512 - (e - n_tokens) // 512 + 1 AS BIGINT) AS n_packs_spanned
FROM cum""",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (llmdata/packing.py): deterministic
    concatenate-then-chunk layout — each doc's context-window id, offset
    and span from one running-total window over (source, doc_id)."""
    from puma_matcher_spark.llmdata.packing import sequence_packing

    return sequence_packing(load_tables(spark, sf_dir).llm_documents(), ctx_len=512)


@register(
    "source_sampling",
    f"""WITH pd AS (
  SELECT doc_id, source, CAST(len({_LLM_TOKS}) AS BIGINT) AS n_tokens
  FROM documents),
ps AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM pd GROUP BY 1),
tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t FROM ps),
ws AS (SELECT SUM(POW(CAST(n_tokens AS DOUBLE), 0.5)) AS w FROM ps),
rated AS (
  SELECT source, n_docs, n_tokens,
         LEAST(1.0, POW(CAST(n_tokens AS DOUBLE), 0.5) / (SELECT w FROM ws)
                    * (SELECT t FROM tot) / CAST(n_tokens AS DOUBLE)) AS rate
  FROM ps),
kept AS (
  SELECT pd.source, CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM pd JOIN rated USING (source)
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        / 1152921504606846976.0 < rate
  GROUP BY 1)
SELECT r.source, r.n_docs, r.n_tokens,
       ROUND(POW(CAST(r.n_tokens AS DOUBLE), 0.5) / (SELECT w FROM ws), 4) AS mix_weight,
       ROUND(r.rate, 4) AS sample_rate,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
FROM rated r LEFT JOIN kept k USING (source)""",
)
def q_source_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mix (llmdata/sampling.py): p_s ∝ n_s^0.5
    reweighting with a deterministic md5 keep-gate realising the rates —
    the data-mixture resampling step of a multi-source training run."""
    from puma_matcher_spark.llmdata.sampling import temperature_mix

    return temperature_mix(load_tables(spark, sf_dir).llm_documents(), alpha=0.5)


@register(
    "char_entropy",
    """WITH ch AS (
  SELECT doc_id, unnest(string_split_regex(text, '')) AS c FROM documents),
chf AS (
  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
  FROM ch WHERE c <> '' GROUP BY 1, 2),
withp AS (
  SELECT doc_id, n,
         CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY doc_id) AS p
  FROM chf)
SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS distinct_chars,
       ROUND(-SUM(p * log2(p)), 4) AS entropy_bits
FROM withp GROUP BY 1""",
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (llmdata/textstats.py): Shannon
    bits per char — the compressibility proxy for boilerplate/garbage
    detection in curation."""
    return ts.char_entropy(load_tables(spark, sf_dir).llm_documents())


@register(
    "dq_profile",
    """WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd1,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn2,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd2,
         CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn3,
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd3,
         CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn4,
         CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd4
  FROM orders)
SELECT 'o_orderkey' AS col_name, n_rows, nn1 AS n_nulls, nd1 AS n_distinct FROM base
UNION ALL
SELECT 'o_custkey', n_rows, nn2, nd2 FROM base
UNION ALL
SELECT 'o_orderstatus', n_rows, nn3, nd3 FROM base
UNION ALL
SELECT 'o_totalprice', n_rows, nn4, nd4 FROM base""",
)
def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profile (operators/quality.py): per-column
    row/null/distinct counts in ONE aggregate pass — the batch-gate
    profile a 100 TB ingestion pipeline runs before publishing."""
    from puma_matcher_spark.operators.quality import profile_columns

    orders = load_tables(spark, sf_dir).raw("orders")
    return profile_columns(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    )


@register(
    "dq_expectations",
    """WITH o AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cust,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_keys,
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
         CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_price
  FROM orders),
l AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_checked,
         CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
  FROM lineitem li
  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON li.l_orderkey = o.o_orderkey)
SELECT 'not_null:o_custkey' AS rule, n AS n_checked, null_cust AS violations, null_cust = 0 AS passed FROM o
UNION ALL
SELECT 'unique:o_orderkey', n, dup_keys, dup_keys = 0 FROM o
UNION ALL
SELECT 'accepted_values:o_orderstatus', n, bad_status, bad_status = 0 FROM o
UNION ALL
SELECT 'non_negative:o_totalprice', n, neg_price, neg_price = 0 FROM o
UNION ALL
SELECT 'ref_integrity:l_orderkey', n_checked, violations, violations = 0 FROM l""",
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation checks (operators/quality.py): not-null / unique /
    accepted-values / range rules from one conditional aggregate, plus a
    referential-integrity anti-join — the dbt-test/Deequ-style gate."""
    from puma_matcher_spark.operators.quality import expectation_report

    t = load_tables(spark, sf_dir)
    return expectation_report(t.raw("orders"), t.raw("lineitem"))


@register(
    "events_deadletter",
    """WITH e AS (
  SELECT event_id,
         TRY_CAST((CASE WHEN props IS NOT NULL AND json_valid(props) THEN json_extract_string(props, '$.k') END) AS BIGINT) AS k,
         value
  FROM events),
r AS (
  SELECT event_id, k, ROUND(value, 4) AS value,
         CASE WHEN k IS NULL THEN 'k_parse'
              WHEN NOT (k < 90) THEN 'k_range'
              WHEN value IS NULL OR NOT (value <= 400.0) THEN 'value_cap'
         END AS reason
  FROM e)
SELECT event_id, k, value, reason,
       CASE WHEN reason IS NULL THEN 'ok' ELSE 'quarantined' END AS status
FROM r""",
)
def q_events_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level contract routing / dead-letter queue
    (operators/quality.py route_dead_letters): parse the props JSON,
    enforce k-parseable, k < 90, value <= 400 in rule order, and stamp
    every row ok/quarantined with the first violated rule — map-side
    only, no shuffle; downstream splits are a status predicate."""
    from puma_matcher_spark.operators.quality import route_dead_letters

    ev = load_tables(spark, sf_dir).events()
    # try_cast, not cast: under Spark 4's default ANSI mode a plain cast
    # CRASHES on a non-numeric $.k — the exact input class this query
    # exists to quarantine (the oracle twin uses TRY_CAST for the same
    # reason; both yield NULL -> 'k_parse')
    e = ev.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("k"),
        "value",
    )
    rules = [
        ("k_parse", F.col("k").isNotNull()),
        ("k_range", F.col("k") < 90),
        ("value_cap", F.col("value") <= 400.0),
    ]
    return route_dead_letters(e, rules).select(
        "event_id", "k", pround("value", 4).alias("value"), "reason", "status"
    )


@register(
    "cdc_latest_state",
    """WITH ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, event_id AS last_event_id, event_type AS last_type,
       ROUND(value, 4) AS value
FROM ranked WHERE rn = 1 AND (event_type IS NULL OR event_type <> 'error')""",
)
def q_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC newest-change-wins apply (operators/cdc.py): collapse the
    events changelog to current state per key; terminal 'error' records
    act as deletes.  One row_number window on the key — the partitioning
    a downstream MERGE needs anyway."""
    from puma_matcher_spark.operators.cdc import cdc_latest_state

    ev = load_tables(spark, sf_dir).events()
    return cdc_latest_state(ev).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        pround(F.col("value"), 4).alias("value"),
    )


@register(
    "scd2_history",
    """WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts ASC NULLS FIRST, event_id ASC) AS prev
  FROM events),
opens AS (
  SELECT user_id, event_type, ts,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS valid_from_epoch, event_id
  FROM ordered WHERE prev IS NULL OR prev <> event_type),
v AS (
  SELECT user_id, event_type, valid_from_epoch,
         LEAD(valid_from_epoch) OVER (PARTITION BY user_id
                                      ORDER BY ts ASC NULLS FIRST, event_id ASC) AS valid_to_epoch
  FROM opens)
SELECT user_id, event_type, valid_from_epoch, valid_to_epoch,
       valid_to_epoch IS NULL AS is_current
FROM v""",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 rebuild (operators/cdc.py): version rows per run of
    equal attribute values, validity bounds from lag/lead over one
    key-partitioned sort."""
    from puma_matcher_spark.operators.cdc import scd2_history

    return scd2_history(load_tables(spark, sf_dir).events())


@register(
    "scd2_point_in_time",
    """WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts ASC NULLS FIRST, event_id ASC) AS prev
  FROM events),
opens AS (
  SELECT user_id, event_type, ts,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS valid_from_epoch, event_id
  FROM ordered WHERE prev IS NULL OR prev <> event_type),
hist AS (
  SELECT user_id, event_type AS active_type, valid_from_epoch,
         LEAD(valid_from_epoch) OVER (PARTITION BY user_id
                                      ORDER BY ts ASC NULLS FIRST, event_id ASC) AS valid_to_epoch
  FROM opens),
facts AS (
  SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
         ROUND(value, 4) AS value
  FROM events WHERE event_type = 'purchase')
SELECT f.user_id, f.event_id, h.active_type, h.valid_from_epoch, f.value
FROM facts f JOIN hist h
  ON f.user_id = h.user_id
 AND f.t >= h.valid_from_epoch
 AND (h.valid_to_epoch IS NULL OR f.t < h.valid_to_epoch)""",
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal join (operators/cdc.py point_in_time_join): each
    purchase fact picks the dimension version active at its time — the
    canonical SCD2 consumption pattern; key equi-join + within-partition
    range filter, one interval match per fact."""
    from puma_matcher_spark.operators.cdc import point_in_time_join, scd2_history

    ev = load_tables(spark, sf_dir).events()
    hist = scd2_history(ev).withColumnRenamed("event_type", "active_type")
    facts = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", pround(F.col("value"), 4).alias("value")
    )
    return point_in_time_join(facts, hist).select(
        "user_id", "event_id", "active_type", "valid_from_epoch", "value"
    )


@register(
    "doc_keywords",
    f"""WITH toks AS (
  SELECT doc_id, unnest({_LLM_TOKS}) AS tok FROM documents),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.tok, t.tf * LOG10((SELECT n FROM nd) / d.df) AS score
  FROM tf t JOIN dfreq d USING (tok)),
ranked AS (
  SELECT doc_id, tok, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY ROUND(score, 6) DESC, tok ASC) AS rank
  FROM scored)
SELECT doc_id, tok AS token, CAST(rank AS BIGINT) AS rank,
       ROUND(score, 4) AS score
FROM ranked WHERE rank <= 3""",
)
def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords — the keyword-extraction step
    of corpus indexing/labelling.  Corpus size folds in as a scalar
    subquery (no eager count); one tf aggregate, one df aggregate, one
    per-doc ranking window."""
    from pyspark.sql.window import Window

    from puma_matcher_spark.llmdata.retrieval import doc_tf_df

    docs = load_tables(spark, sf_dir).llm_documents()
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n")).scalar()
    # persist_tf (r11): df aggregates over tf, so both sides of the
    # tf⋈df join otherwise re-derive the tokenize→tf chain from the scan
    scored = doc_tf_df(docs, persist_tf=True).withColumn(
        "score", F.col("tf") * F.log10(n_docs / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        pround(F.col("score"), 6).desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select(
            "doc_id",
            F.col("tok").alias("token"),
            "rank",
            pround(F.col("score"), 4).alias("score"),
        )
    )


@register(
    "winsorized_prices",
    """WITH b AS (
  SELECT quantile_cont(o_totalprice, 0.05) AS lo,
         quantile_cont(o_totalprice, 0.95) AS hi
  FROM orders)
SELECT o_orderkey, o_totalprice,
       ROUND(LEAST(GREATEST(o_totalprice, (SELECT lo FROM b)), (SELECT hi FROM b)), 4) AS winsorized,
       (o_totalprice < (SELECT lo FROM b) OR o_totalprice > (SELECT hi FROM b)) AS clipped
FROM orders""",
)
def q_winsorized_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization at p05/p95 — outlier clipping before model-feature
    use.  The exact percentiles fold in as ONE scalar-subquery struct
    (a single aggregate pass), then a map-side clip; no global sort of
    the fact table."""
    orders = load_tables(spark, sf_dir).raw("orders")
    b = orders.agg(
        F.struct(
            F.expr("percentile(o_totalprice, 0.05)").alias("lo"),
            F.expr("percentile(o_totalprice, 0.95)").alias("hi"),
        ).alias("b")
    ).scalar()
    lo, hi = b.getField("lo"), b.getField("hi")
    return orders.select(
        "o_orderkey",
        "o_totalprice",
        pround(
            F.least(F.greatest(F.col("o_totalprice"), lo), hi), 4
        ).alias("winsorized"),
        ((F.col("o_totalprice") < lo) | (F.col("o_totalprice") > hi)).alias(
            "clipped"
        ),
    )


@register(
    "cluster_representatives",
    _NEARDUP_COMP_CTES
    + """,
members AS (
  SELECT d.doc_id, CAST(COALESCE(c.canonical, d.doc_id) AS BIGINT) AS canonical_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
tc AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS token_count
  FROM documents),
mr AS (
  SELECT m.canonical_id, m.doc_id, t.token_count,
         ROW_NUMBER() OVER (PARTITION BY m.canonical_id
                            ORDER BY t.token_count DESC, m.doc_id ASC) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY m.canonical_id) AS BIGINT) AS n_members
  FROM members m JOIN tc t USING (doc_id))
SELECT canonical_id, doc_id AS rep_doc_id, n_members,
       token_count AS rep_tokens
FROM mr WHERE rn = 1""",
)
def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster representative selection — after components, keep
    the best document per cluster (longest, then lowest id): the
    curation step that turns dedup clusters into the retained corpus.
    Reuses the full LSH→verify→components chain, then one ranking window
    over cluster membership."""
    from pyspark.sql.window import Window

    from puma_matcher_spark.operators.dedup import connected_components

    docs = load_tables(spark, sf_dir).llm_documents()
    cand = dd.minhash_dedup_pairs(docs)
    verified = dd.jaccard_for_pairs(docs, cand).where(F.col("jaccard") >= 0.5)
    edges = verified.select(
        F.col("doc1_id").alias("id1"), F.col("doc2_id").alias("id2")
    )
    comp = connected_components(edges).withColumnRenamed("id", "doc_id")
    members = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id"))
            .cast("long")
            .alias("canonical_id"),
        )
    )
    tc = docs.select(
        "doc_id", F.size(ts.tokens(F.col("text"))).cast("long").alias("token_count")
    )
    mr = members.join(tc, "doc_id")
    wp = Window.partitionBy("canonical_id")
    w = wp.orderBy(F.col("token_count").desc(), F.col("doc_id").asc())
    return (
        mr.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wp).cast("long"))
        .where(F.col("rn") == 1)
        .select(
            "canonical_id",
            F.col("doc_id").alias("rep_doc_id"),
            "n_members",
            F.col("token_count").alias("rep_tokens"),
        )
    )


@register(
    "incremental_near_dups",
    f"""WITH {_LLM_SHINGLES},
seeded AS (SELECT doc_id, shingle, unnest(range(8)) AS seed FROM sh),
mh AS (
  SELECT doc_id, seed,
         MIN(('0x' || substr(md5(shingle || '#' || CAST(seed AS VARCHAR)), 1, 15))::BIGINT) AS minhash
  FROM seeded GROUP BY 1, 2),
bk AS (
  SELECT doc_id, CAST(seed // 2 AS INTEGER) AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY seed)) AS band_key
  FROM mh GROUP BY 1, 2),
nbk AS (SELECT * FROM bk WHERE doc_id % 10 = 0),
cbk AS (
  SELECT doc_id, band, band_key
  FROM (SELECT *, COUNT(*) OVER (PARTITION BY band, band_key) AS bn
        FROM bk WHERE doc_id % 10 <> 0)
  WHERE bn <= 2000)
SELECT DISTINCT n.doc_id AS new_doc_id, c.doc_id AS corpus_doc_id
FROM nbk n JOIN cbk c
  ON n.band = c.band AND n.band_key = c.band_key""",
)
def q_incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time near-dup scan (llmdata/dedup.py
    minhash_incremental_pairs): LSH candidates between a simulated new
    batch (doc_id % 10 = 0) and the existing corpus — batch × corpus
    only, never corpus × corpus.  The daily-ingest shape at 100 TB."""
    docs = load_tables(spark, sf_dir).llm_documents()
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    return dd.minhash_incremental_pairs(batch, corpus)


@register(
    "bm25_search",
    f"""WITH toksl AS (SELECT doc_id, {_LLM_TOKS} AS tk FROM documents),
toks AS (SELECT doc_id, unnest(tk) AS tok FROM toksl),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
ad AS (SELECT AVG(dl) AS a FROM dl),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks WHERE tok IN ('dup', 'window', 'scan') GROUP BY 1, 2),
dfq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT t.doc_id,
         GREATEST(0.0, LOG10(((SELECT n FROM nd) - d.df + 0.5) / (d.df + 0.5)))
         * (t.tf * 2.2)
         / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / (SELECT a FROM ad))) AS s
  FROM tf t JOIN dfq d USING (tok) JOIN dl l USING (doc_id))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS matched_terms,
       ROUND(SUM(s), 4) AS score
FROM scored GROUP BY 1""",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (llmdata/retrieval.py): length-normalised
    lexical ranking for a query bag — corpus size and average doc length
    fold in as scalar subqueries, postings restricted to the query terms
    before any join.

    r11: ``persist_postings=True`` — the staged single-tokenize path is
    now the exported plan (1 explode(tokens(...)) generate instead of 4
    over 5 document scans; twin-equality test pins identical rows,
    oracle parity re-proven at sf0.001/sf0.01)."""
    from puma_matcher_spark.llmdata.retrieval import bm25_scores

    docs = load_tables(spark, sf_dir).llm_documents()
    return bm25_scores(docs, ["dup", "window", "scan"], persist_postings=True)


@register(
    "phrase_search",
    f"""WITH toksl AS (SELECT doc_id, {_LLM_TOKS} AS tk FROM documents),
p AS (SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS pos FROM toksl),
g AS (
  SELECT a.doc_id FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.tok = 'order' AND b.tok = 'fast')
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM g GROUP BY 1""",
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase lookup via the n-gram index (llmdata/retrieval.py):
    the phrase is ONE shingle key, so the lookup is an equi-join on that
    key — never a LIKE scan over document text."""
    from puma_matcher_spark.llmdata.retrieval import phrase_lookup

    docs = load_tables(spark, sf_dir).llm_documents()
    return phrase_lookup(docs, "order fast")


@register(
    "embedding_int8_topk",
    f"""WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') / 127.0 AS scale
  FROM embeddings WHERE {_EMB_VALID}),
qz AS (
  SELECT vec_id,
         CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
              ELSE list_transform(v, x -> CAST(FLOOR(x / scale + 0.5) AS INTEGER)) END AS qvec,
         scale
  FROM base),
q AS (SELECT vec_id AS query_id, qvec AS qq, scale AS qs FROM qz WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS neighbor_id, qvec AS cq, scale AS cs FROM qz),
sims AS (
  SELECT q.query_id, c.neighbor_id,
         ROUND(q.qs * c.cs * list_dot_product(q.qq, c.cq), 4) AS approx_dot
  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY approx_dot DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM sims)
SELECT query_id, neighbor_id, approx_dot, rank FROM ranked WHERE rank <= 10""",
)
def q_embedding_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized approximate top-k (llmdata/similarity.py
    quantize_int8/int8_topk): per-vector symmetric quantization with
    half-up rounding (portable), integer dot product dequantized by the
    scale pair — the 4×-smaller storage path for 100 TB embedding
    tables."""
    emb = load_tables(spark, sf_dir).llm_embeddings()
    q = emb.where(F.col("vec_id") % 50 == 0)
    out = sim.int8_topk(emb, q, k=10)
    return out.select(
        "query_id", "neighbor_id", "approx_dot",
        F.col("rank").cast("long").alias("rank"),
    )


@register(
    "embedding_prefix_rerank",
    f"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % 50 = 0 AND {_EMB_VALID}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE {_EMB_VALID}),
coarse AS (
  SELECT q.query_id, c.neighbor_id, q.qv AS qv, c.cv AS cv,
         ROUND(COALESCE(list_dot_product(q.qv[1:32], c.cv[1:32]) /
               NULLIF(sqrt(list_dot_product(q.qv[1:32], q.qv[1:32]))
                * sqrt(list_dot_product(c.cv[1:32], c.cv[1:32])), 0), 0), 4) AS coarse_sim
  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
shortl AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY coarse_sim DESC, neighbor_id ASC) AS cr
    FROM coarse) WHERE cr <= 100),
fine AS (
  SELECT query_id, neighbor_id,
         ROUND(list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS cosine_sim
  FROM shortl),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM fine)
SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= 10""",
)
def q_embedding_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage Matryoshka-style search (llmdata/similarity.py
    prefix_rerank_topk): coarse top-50 on the first 8 dimensions, exact
    full-dimension rerank to top-10 — the funnel that scans a fraction
    of the bytes in stage one at 100 TB.  The fixture's vectors are
    RANDOM, so the prefix carries no concentrated signal and needs
    32/64 dims for good recall; Matryoshka-trained embeddings
    concentrate variance in the prefix and run this with 8-16 dims."""
    emb = load_tables(spark, sf_dir).llm_embeddings()
    q = emb.where(F.col("vec_id") % 50 == 0)
    out = sim.prefix_rerank_topk(emb, q, k=10, prefix_dims=32, shortlist=100)
    return out.select(
        "query_id", "neighbor_id", "cosine_sim",
        F.col("rank").cast("long").alias("rank"),
    )


@register(
    "fs_linkage_weights",
    """WITH p AS (
  SELECT c_custkey AS id, c_nationkey AS nation, c_mktsegment AS seg,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket
  FROM customer),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM p),
useg AS (
  SELECT SUM(POW(c / (SELECT n FROM nn), 2)) AS u
  FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM p GROUP BY seg)),
ubal AS (
  SELECT SUM(POW(c / (SELECT n FROM nn), 2)) AS u
  FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM p GROUP BY bal_bucket)),
pairs AS (
  SELECT a.id AS id1, b.id AS id2, a.seg AS seg1, b.seg AS seg2,
         a.bal_bucket AS bb1, b.bal_bucket AS bb2
  FROM p a JOIN p b ON a.nation = b.nation AND a.id > b.id),
w AS (
  SELECT id1, id2,
         ROUND(CASE WHEN seg1 = seg2
               THEN log2(0.9 / (SELECT u FROM useg))
               ELSE log2((1 - 0.9) / (1 - (SELECT u FROM useg))) END, 4) AS w_seg,
         ROUND(CASE WHEN bb1 = bb2
               THEN log2(0.9 / (SELECT u FROM ubal))
               ELSE log2((1 - 0.9) / (1 - (SELECT u FROM ubal))) END, 4) AS w_bal_bucket
  FROM pairs)
SELECT id1, id2, w_seg, w_bal_bucket,
       ROUND(w_seg + w_bal_bucket, 4) AS total_weight
FROM w""",
)
def q_fs_linkage_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter linkage scoring (operators/dedup.py
    fs_linkage_weights): nation-blocked candidate pairs scored with
    log2(m/u) agreement weights, u estimated from the value
    distributions (Winkler's frequency method) — the classical
    record-linkage model the reference's heuristic matcher sits
    inside."""
    from puma_matcher_spark.operators.dedup import (
        blocked_pairs,
        fs_linkage_weights,
    )

    c = load_tables(spark, sf_dir).raw("customer")
    p = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    )
    pairs = blocked_pairs(p, key_col="nation")
    return fs_linkage_weights(p, pairs, ["seg", "bal_bucket"], m_prob=0.9)


@register(
    "snapshot_diff",
    """WITH o AS (
  SELECT doc_id, md5(coalesce(text, '')) AS fp
  FROM documents WHERE doc_id % 11 <> 0),
n AS (
  SELECT doc_id,
         md5(coalesce(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END, '')) AS fp
  FROM documents WHERE doc_id % 13 <> 0),
j AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, o.fp AS ofp, n.fp AS nfp
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
SELECT doc_id,
       CASE WHEN ofp IS NULL THEN 'added'
            WHEN nfp IS NULL THEN 'removed'
            WHEN ofp <> nfp THEN 'changed' END AS change_type
FROM j
WHERE ofp IS NULL OR nfp IS NULL OR ofp <> nfp""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot change detection (operators/cdc.py snapshot_diff):
    full-outer join on map-side content fingerprints → delta-sized
    added/removed/changed report — the diff a data-versioning layer runs
    between corpus publishes.  Old/new snapshots are simulated from the
    documents fixture (mod-11 / mod-13 membership, mod-5 text edits)."""
    from puma_matcher_spark.operators.cdc import snapshot_diff

    docs = load_tables(spark, sf_dir).llm_documents()
    old = docs.where(F.col("doc_id") % 11 != 0)
    new = docs.where(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new, "doc_id", ["text"])


@register(
    "k_anonymity",
    """SELECT c_nationkey AS nation, c_mktsegment AS seg,
       CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
       CAST(COUNT(*) AS BIGINT) AS group_size
FROM customer
GROUP BY 1, 2, 3
HAVING COUNT(*) < 5""",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (operators/quality.py k_anonymity_report):
    quasi-identifier groups smaller than k=5 are re-identifiable — the
    privacy gate before a dataset leaves a trust boundary."""
    from puma_matcher_spark.operators.quality import k_anonymity_report

    c = load_tables(spark, sf_dir).raw("customer")
    qid = c.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    )
    return k_anonymity_report(qid, ["nation", "seg", "bal_bucket"], k=5)


@register(
    "fs_agreement_patterns",
    """WITH p AS (
  SELECT c_custkey AS id, c_nationkey AS nation, c_mktsegment AS seg,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket
  FROM customer),
pairs AS (
  SELECT a.seg AS seg1, b.seg AS seg2, a.bal_bucket AS bb1, b.bal_bucket AS bb2
  FROM p a JOIN p b ON a.nation = b.nation AND a.id > b.id)
SELECT CAST(CASE WHEN seg1 = seg2 THEN 1 ELSE 0 END AS INTEGER) AS g_seg,
       CAST(CASE WHEN bb1 = bb2 THEN 1 ELSE 0 END AS INTEGER) AS g_bal_bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY 1, 2""",
)
def q_fs_agreement_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED half of the EM fit as a hard-checkable query: the
    agreement-pattern sufficient statistics (one groupBy over 2^fields
    patterns) that fs_em_parameters reduces before its driver-side EM —
    oracling the reduction leaves only the tiny deterministic numpy
    fixpoint outside the gate."""
    from puma_matcher_spark.operators.dedup import blocked_pairs

    c = load_tables(spark, sf_dir).raw("customer")
    p = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    )
    pairs = blocked_pairs(p, key_col="nation")
    side1 = p.select(
        F.col("id").alias("id1"),
        F.col("seg").alias("seg_1"),
        F.col("bal_bucket").alias("bal_bucket_1"),
    )
    side2 = p.select(
        F.col("id").alias("id2"),
        F.col("seg").alias("seg_2"),
        F.col("bal_bucket").alias("bal_bucket_2"),
    )
    return (
        pairs.join(side1, "id1")
        .join(side2, "id2")
        .select(
            (
                F.col("seg_1").eqNullSafe(F.col("seg_2"))
                & F.col("seg_1").isNotNull()
            )
            .cast("int")
            .alias("g_seg"),
            (
                F.col("bal_bucket_1").eqNullSafe(F.col("bal_bucket_2"))
                & F.col("bal_bucket_1").isNotNull()
            )
            .cast("int")
            .alias("g_bal_bucket"),
        )
        .groupBy("g_seg", "g_bal_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _fs_em_oracle(iters: int = 25) -> str:
    """Generated DuckDB twin of fs_em_parameters (r10): the EM
    iterations unroll as chained CTEs over the agreement-pattern table
    (≤4 rows for two fields) — the pagerank_sql/label_propagation_sql
    round-unrolling technique applied to a driver-side numpy loop.
    ``x**g`` with g ∈ {0,1} is emitted as CASE (pow(x,1)==x and
    pow(x,0)==1 exactly in IEEE, so CASE is bit-equivalent to numpy's
    vectorized power); clip bounds are emitted via repr, and the em0
    starting constants via repr + CAST AS DOUBLE (bare literals would
    be DECIMAL, making round 1 decimal-exact where numpy is IEEE — r10
    ADVICE #5), so both engines run identical double iterates."""
    m_lo, m_hi = repr(1e-6), repr(1.0 - 1e-6)
    p_lo, p_hi = repr(1e-9), repr(1.0 - 1e-9)
    parts = [
        """p AS (
  SELECT c_custkey AS id, c_nationkey AS nation, c_mktsegment AS seg,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket
  FROM customer)""",
        """prs AS (
  SELECT a.seg AS seg_1, b.seg AS seg_2,
         a.bal_bucket AS bb_1, b.bal_bucket AS bb_2
  FROM p a JOIN p b ON a.nation = b.nation AND a.id > b.id)""",
        """pat AS (
  SELECT CAST((seg_1 IS NOT DISTINCT FROM seg_2 AND seg_1 IS NOT NULL) AS INT) AS g_seg,
         CAST((bb_1 IS NOT DISTINCT FROM bb_2 AND bb_1 IS NOT NULL) AS INT) AS g_bal,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM prs GROUP BY 1, 2)""",
        # CAST AS DOUBLE is load-bearing (r10 ADVICE #5): bare 0.9/0.1
        # literals are DuckDB DECIMALs, making round-1 arithmetic
        # decimal-exact (1 - 0.9 = 0.1) while numpy computes IEEE
        # doubles (1 - 0.9 = 0.09999999999999998) — parity then rests
        # on EM contraction + the 1e-4 rounding instead of identical
        # iterates.  With the cast both engines start from the same
        # IEEE doubles and every iterate is bit-identical.
        "em0 AS (SELECT "
        + ", ".join(
            f"CAST({v!r} AS DOUBLE) AS {c}"
            for c, v in (
                ("m_seg", 0.9),
                ("m_bal", 0.9),
                ("u_seg", 0.1),
                ("u_bal", 0.1),
                ("pr", 0.05),
            )
        )
        + ")",
    ]
    # AS MATERIALIZED is load-bearing: DuckDB inlines single-reference
    # CTEs, and the optimizer's expression rewriting over the inlined
    # 25-level chain grows ~1.9x per level (measured 0.06 s at 3 iters,
    # 10.5 s at 18, minutes at 25) — materializing each round keeps
    # planning linear (25 rounds ≈ 0.1 s).  The Spark twin needs no
    # analog: its EM loop is driver-side numpy.
    for i in range(1, iters + 1):
        parts.append(
            f"""w{i} AS MATERIALIZED (
  SELECT g_seg, g_bal, n, pm / (pm + pu) AS w FROM (
    SELECT g_seg, g_bal, n,
           e.pr * (CASE WHEN g_seg = 1 THEN e.m_seg ELSE 1 - e.m_seg END)
                * (CASE WHEN g_bal = 1 THEN e.m_bal ELSE 1 - e.m_bal END) AS pm,
           (1 - e.pr) * (CASE WHEN g_seg = 1 THEN e.u_seg ELSE 1 - e.u_seg END)
                      * (CASE WHEN g_bal = 1 THEN e.u_bal ELSE 1 - e.u_bal END) AS pu
    FROM pat, em{i - 1} e)),
em{i} AS MATERIALIZED (
  SELECT GREATEST({m_lo}, LEAST({m_hi}, SUM(w * n * g_seg) / SUM(w * n))) AS m_seg,
         GREATEST({m_lo}, LEAST({m_hi}, SUM(w * n * g_bal) / SUM(w * n))) AS m_bal,
         GREATEST({m_lo}, LEAST({m_hi}, SUM((1 - w) * n * g_seg) / SUM((1 - w) * n))) AS u_seg,
         GREATEST({m_lo}, LEAST({m_hi}, SUM((1 - w) * n * g_bal) / SUM((1 - w) * n))) AS u_bal,
         GREATEST({p_lo}, LEAST({p_hi}, SUM(w * n) / SUM(n))) AS pr
  FROM w{i})"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT 'seg' AS field, ROUND(m_seg, 4) AS m, ROUND(u_seg, 4) AS u,
       ROUND(LOG2(m_seg / u_seg), 4) AS w_agree,
       ROUND(LOG2((1 - m_seg) / (1 - u_seg)), 4) AS w_disagree FROM em{iters}
UNION ALL
SELECT 'bal_bucket', ROUND(m_bal, 4), ROUND(u_bal, 4),
       ROUND(LOG2(m_bal / u_bal), 4), ROUND(LOG2((1 - m_bal) / (1 - u_bal)), 4) FROM em{iters}"""
    )


@register("fs_em_params", _fs_em_oracle())
def q_fs_em_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM-fitted Fellegi-Sunter parameters (operators/dedup.py
    fs_em_parameters): agreement-pattern sufficient statistics reduced
    in the cluster, tiny EM driver-side — the unsupervised analog of
    the reference's weight-training OptimizerApp.  Value-oracled since
    r10 via the round-unrolling technique (_fs_em_oracle: 25 EM
    iterations as chained CTEs over the ≤4-row pattern table; Winkler
    EM contracts near its fixpoint, so the ~1e-16 summation-order noise
    between numpy and DuckDB stays far below the 1e-4 output rounding).
    The separation property m>u additionally stays pytest-gated."""
    from puma_matcher_spark.operators.dedup import (
        blocked_pairs,
        fs_em_parameters,
    )

    c = load_tables(spark, sf_dir).raw("customer")
    p = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    )
    pairs = blocked_pairs(p, key_col="nation")
    params, _prior = fs_em_parameters(p, pairs, ["seg", "bal_bucket"])
    return params.select(
        "field",
        pround(F.col("m"), 4).alias("m"),
        pround(F.col("u"), 4).alias("u"),
        pround(F.col("w_agree"), 4).alias("w_agree"),
        pround(F.col("w_disagree"), 4).alias("w_disagree"),
    )


@register(
    "jaccard_prefix_join",
    f"""WITH {_LLM_SHINGLES},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc1_id, b.doc_id AS doc2_id,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT c.doc1_id, c.doc2_id, c.common,
       ROUND(c.common / CAST(s1.n + s2.n - c.common AS DOUBLE), 4) AS jaccard
FROM common c
JOIN sizes s1 ON c.doc1_id = s1.doc_id
JOIN sizes s2 ON c.doc2_id = s2.doc_id
WHERE c.common / CAST(s1.n + s2.n - c.common AS DOUBLE) >= 0.5""",
)
def q_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered exact similarity join (llmdata/
    dedup.py jaccard_prefix_join): lossless threshold join — the oracle
    is the NAIVE all-pairs definition, and the prefix filter must
    reproduce it exactly (no false negatives, unlike LSH)."""
    docs = load_tables(spark, sf_dir).llm_documents()
    return dd.jaccard_prefix_join(docs, threshold=0.5)


@register(
    "events_trend",
    """WITH pts AS (
  SELECT event_type, value,
         (CAST(floor(epoch(ts)) AS BIGINT)
          - CAST(floor(epoch(TIMESTAMP '2024-01-01')) AS BIGINT)) / 86400.0 AS day
  FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(regr_slope(value, day), 4) AS value_slope_per_day,
       ROUND(regr_intercept(value, day), 4) AS value_intercept,
       ROUND(corr(value, day), 4) AS value_time_corr
FROM pts GROUP BY 1""",
)
def q_events_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear value trend via SQL2016 regression aggregates
    (streaming/events.py trend_stats) — algebraic aggregates, one hash
    shuffle of constant-size state per group at any scale."""
    from puma_matcher_spark.streaming.events import trend_stats

    return trend_stats(load_tables(spark, sf_dir).events())


@register(
    "part_edit_pairs",
    """WITH side AS (
  SELECT p_partkey, p_name,
         list_extract(string_split(p_name, ' '), len(string_split(p_name, ' '))) AS block
  FROM part)
SELECT a.p_partkey AS id1, b.p_partkey AS id2,
       a.p_name AS name1, b.p_name AS name2,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_distance
FROM side a JOIN side b
  ON a.block = b.block AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 4""",
)
def q_part_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein near-match join (operators/dedup.py
    edit_distance_pairs) — edit-tolerant record linkage with equi-join
    blocking on the head noun; the quadratic cost is confined to a block."""
    from puma_matcher_spark.operators.dedup import edit_distance_pairs

    part = load_tables(spark, sf_dir).raw("part")
    return edit_distance_pairs(part, id_col="p_partkey", name_col="p_name")


@register(
    "large_orders",
    """WITH big AS (
  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
  FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 200)
SELECT c.c_name, o.o_orderkey, o.o_totalprice,
       ROUND(big.sum_qty, 2) AS sum_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey""",
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shape large-volume orders: groupBy + HAVING threshold,
    then two key joins.  The HAVING prunes before the joins, so the fact
    table shuffles once and the join probe side is already tiny — the
    canonical agg-then-join ordering Catalyst preserves."""
    t = load_tables(spark, sf_dir)
    li, orders, cust = t.raw("lineitem"), t.raw("orders"), t.raw("customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .where(F.col("_sq") > 200)
        .select("l_orderkey", pround(F.col("_sq"), 2).alias("sum_qty"))
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


@register(
    "order_priority_late",
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS late_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY 1""",
)
def q_order_priority_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shape EXISTS semi-join: orders with at least one line
    shipped 60+ days after order date, counted per priority.  The
    left-semi join deduplicates multi-line hits during the join itself —
    no distinct needed, one shuffle on the order key then a tiny agg."""
    t = load_tables(spark, sf_dir)
    o, li = t.raw("orders"), t.raw("lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("late_orders")
    )


@register(
    "brand_supplier_counts",
    """SELECT p.p_brand, CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1""",
)
def q_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shape: distinct supplier count per brand with problem
    suppliers removed by anti-join.  The anti-join side is a filtered
    tiny dim (broadcast); COUNT(DISTINCT) expands to a two-phase
    aggregate (partial distinct then merge) under AQE."""
    t = load_tables(spark, sf_dir)
    p, li, s = t.raw("part"), t.raw("lineitem"), t.raw("supplier")
    bad = s.where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "small_quantity_revenue",
    """WITH pa AS (
  SELECT l_partkey, AVG(l_quantity) AS avg_qty FROM lineitem GROUP BY 1)
SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN pa ON pa.l_partkey = l.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3' AND l.l_quantity < 0.2 * pa.avg_qty""",
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shape correlated-average join: revenue of small-quantity
    lines relative to each part's own average — the decorrelated form is
    an aggregate-then-self-join on the part key, the plan shape Catalyst
    produces for the correlated scalar subquery."""
    t = load_tables(spark, sf_dir)
    li, p = t.raw("lineitem"), t.raw("part")
    pa = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    brand = p.where(F.col("p_brand") == "Brand#3").select("p_partkey")
    return (
        li.join(pa, "l_partkey")
        .join(brand, li.l_partkey == brand.p_partkey)
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(pround(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# shared micro-unit SQL fragments (functions.rounding.money_units twins)
_REV_UNITS_SQL = money_units_sql("l.l_extendedprice * (1 - l.l_discount)")
_BAL_UNITS_SQL = money_units_sql("c.c_acctbal")


@register(
    "nation_trade_volume",
    f"""SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
       ROUND(SUM({_REV_UNITS_SQL}) / 10000.0, 2) AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation ns ON ns.n_nationkey = s.s_nationkey
JOIN nation nc ON nc.n_nationkey = c.c_nationkey
WHERE ns.n_nationkey <> nc.n_nationkey
GROUP BY 1, 2, 3""",
)
def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shape cross-nation trade volume: the five-table star
    join (fact + two dim chains to the same tiny nation table) with a
    year roll-up — the join-reordering showcase where Catalyst must
    broadcast both nation sides and chain the fact joins; the inequality
    filter prunes intra-nation trade after the dim lookups."""
    t = load_tables(spark, sf_dir)
    li, o, c, s, n = (
        t.raw("lineitem"),
        t.raw("orders"),
        t.raw("customer"),
        t.raw("supplier"),
        t.raw("nation"),
    )
    ns = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(ns, s.s_nationkey == F.col("s_nkey"))
        .join(nc, c.c_nationkey == F.col("c_nkey"))
        .where(F.col("s_nkey") != F.col("c_nkey"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            # order-free integer micro-unit sum (functions.rounding.
            # money_units): exact integer sums are summation-order-free,
            # unlike double SUMs rounded to cents
            pround(
                F.sum(
                    money_units(
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    )
                )
                / 10000.0,
                2,
            ).alias("revenue")
        )
    )


@register(
    "nation_market_share",
    f"""WITH base AS (
  SELECT CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
         ns.n_name AS supp_nation,
         {_REV_UNITS_SQL} AS rev_units
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = nc.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'ASIA')
SELECT ship_year,
       ROUND(SUM(CASE WHEN supp_nation = 'NATION_1' THEN rev_units ELSE 0 END)
             / CAST(SUM(rev_units) AS DOUBLE), 4) AS market_share
FROM base GROUP BY 1""",
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shape market share: one supplier nation's slice of a
    customer region's revenue per year — the conditional-aggregate
    ratio over a six-table star join.  Both the numerator and the
    denominator are exact integer micro-unit sums, so the final ratio
    is one deterministic double division per group."""
    t = load_tables(spark, sf_dir)
    li, o, c, s, n, r = (
        t.raw("lineitem"),
        t.raw("orders"),
        t.raw("customer"),
        t.raw("supplier"),
        t.raw("nation"),
        t.raw("region"),
    )
    nc = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    ns = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    units = money_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(nc, c.c_nationkey == F.col("c_nkey"))
        .join(r, F.col("c_rkey") == r.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(ns, s.s_nationkey == F.col("s_nkey"))
        .select(
            F.year("l_shipdate").cast("long").alias("ship_year"),
            "supp_nation",
            units.alias("rev_units"),
        )
    )
    return base.groupBy("ship_year").agg(
        pround(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_1", F.col("rev_units"))
                .otherwise(F.lit(0))
            )
            / F.sum("rev_units").cast("double"),
            4,
        ).alias("market_share")
    )


@register(
    "late_lone_suppliers",
    """WITH per AS (
  SELECT l.l_orderkey, l.l_suppkey,
         MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END) AS was_late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2),
per_order AS (
  SELECT l_orderkey,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(was_late) AS BIGINT) AS n_late
  FROM per GROUP BY 1)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM per p
JOIN per_order po ON po.l_orderkey = p.l_orderkey
JOIN supplier s ON s.s_suppkey = p.l_suppkey
WHERE p.was_late = 1 AND po.n_suppliers > 1 AND po.n_late = 1
GROUP BY 1""",
)
def q_late_lone_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shape 'suppliers who kept the order waiting': the sole
    late supplier among a multi-supplier order (the classic EXISTS +
    NOT-EXISTS pair), decorrelated into two chained aggregates over the
    same grouping — per-(order, supplier) lateness flags, then per-order
    supplier/late counts — so the plan is two hash aggregates and a
    join, no correlated re-scans."""
    t = load_tables(spark, sf_dir)
    li, o, s = t.raw("lineitem"), t.raw("orders"), t.raw("supplier")
    per = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
                ).cast("int")
            ).alias("was_late")
        )
    )
    per_order = per.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("was_late").cast("long").alias("n_late"),
    )
    return (
        per.join(per_order, "l_orderkey")
        .where(
            (F.col("was_late") == 1)
            & (F.col("n_suppliers") > 1)
            & (F.col("n_late") == 1)
        )
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


@register(
    "customer_order_distribution",
    """WITH co AS (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM co GROUP BY 1""",
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shape customer distribution: the double aggregate
    (orders per customer, then customers per order-count) with a LEFT
    join so zero-order customers land in the c_count=0 bucket — COUNT
    of a nullable column, not COUNT(*), is what makes that bucket
    correct."""
    t = load_tables(spark, sf_dir)
    c, o = t.raw("customer"), t.raw("orders")
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return co.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


@register(
    "idle_rich_customers",
    f"""WITH t AS (
  SELECT ROUND(AVG(c_acctbal), 4) AS thresh
  FROM customer WHERE c_acctbal > 0)
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(SUM({_BAL_UNITS_SQL}) / 10000.0, 2) AS total_bal
FROM customer c
WHERE c.c_acctbal > (SELECT thresh FROM t)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY 1""",
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shape: above-average-balance customers who never placed
    an urgent order — a scalar-subquery threshold (rounded before
    comparing, so a knife-edge balance can't flip between engines) plus
    a filtered NOT EXISTS that plans as a left-anti join; balances roll
    up as exact integer micro-units."""
    t = load_tables(spark, sf_dir)
    c, o = t.raw("customer"), t.raw("orders")
    # the threshold is an exact integer cent sum divided once — a plain
    # double AVG is summation-order-dependent and could flip knife-edge
    # balances between engines
    thresh = (
        c.where(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(money_units("c_acctbal", 100)) / 100.0
                / F.count(F.lit(1))
            ).alias("t")
        )
        .scalar()
    )
    units = money_units("c_acctbal")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.where(F.col("c_acctbal") > thresh)
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            pround(F.sum(units) / 10000.0, 2).alias("total_bal"),
        )
    )


@register(
    "disjunctive_promo_revenue",
    f"""SELECT ROUND(SUM({_REV_UNITS_SQL}) / 10000.0, 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size < 10 AND l.l_quantity < 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size < 20 AND l.l_quantity < 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size < 30 AND l.l_quantity < 40)""",
)
def q_disjunctive_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shape disjunction of conjunctions across both join
    sides: Catalyst splits the OR into the common join key plus
    residual predicates, pushing the per-table conjuncts
    (brand/size on part, quantity on lineitem cannot be split here —
    the point of the shape is that the OR must survive into the join
    filter while the scan still prunes on the join key)."""
    t = load_tables(spark, sf_dir)
    li, p = t.raw("lineitem"), t.raw("part")
    units = money_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") < 10) & (F.col("l_quantity") < 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") < 20) & (F.col("l_quantity") < 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") < 30) & (F.col("l_quantity") < 40))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            pround(F.sum(units) / 10000.0, 2).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@register(
    "returned_item_customers",
    """SELECT c.c_custkey, c.c_name,
       ROUND(SUM({ru}) / 10000.0, 2) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag = 'R'
GROUP BY 1, 2
ORDER BY revenue DESC, c.c_custkey
LIMIT 20""".format(ru=money_units_sql("l.l_extendedprice * (1 - l.l_discount)")),
)
def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shape returned-item report: top-20 customers by revenue
    on returned lines — filter → two key joins → aggregate → global
    top-k (TakeOrdered, never a full sort); the custkey tie-break makes
    the cutoff deterministic and the revenue is an exact micro-unit sum."""
    t = load_tables(spark, sf_dir)
    c, o, li = t.raw("customer"), t.raw("orders"), t.raw("lineitem")
    units = money_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(pround(F.sum(units) / 10000.0, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "supplier_min_cost",
    """WITH cost AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(FLOOR(l_extendedprice / l_quantity * 10000 + 0.5) AS BIGINT)) AS unit_cost_units
  FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2),
mn AS (
  SELECT l_partkey, MIN(unit_cost_units) AS min_units FROM cost GROUP BY 1)
SELECT c.l_partkey AS part_key, s.s_name,
       ROUND(c.unit_cost_units / 10000.0, 4) AS unit_cost
FROM cost c
JOIN mn ON mn.l_partkey = c.l_partkey AND c.unit_cost_units = mn.min_units
JOIN supplier s ON s.s_suppkey = c.l_suppkey
JOIN part p ON p.p_partkey = c.l_partkey
WHERE p.p_size >= 30""",
)
def q_supplier_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shape correlated min-per-group: for each large part, the
    supplier(s) offering its minimum unit cost.  The correlated scalar
    subquery decorrelates into an aggregate on the group key joined back
    on (key, min) — one shuffle on l_partkey shared by both aggregates,
    then the equality join picks the winners; the part filter is a
    broadcast semi-join.  Unit costs are floored to 1/10000 units so the
    min and the equality compare exact integers on both engines."""
    t = load_tables(spark, sf_dir)
    li, s, p = t.raw("lineitem"), t.raw("supplier"), t.raw("part")
    units = money_units(F.col("l_extendedprice") / F.col("l_quantity"))
    cost = (
        li.where(F.col("l_quantity") > 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(units).alias("unit_cost_units"))
    )
    mn = cost.groupBy("l_partkey").agg(
        F.min("unit_cost_units").alias("min_units")
    ).withColumnRenamed("l_partkey", "mn_partkey")
    big = p.where(F.col("p_size") >= 30).select("p_partkey")
    return (
        cost.join(
            mn,
            (F.col("l_partkey") == F.col("mn_partkey"))
            & (F.col("unit_cost_units") == F.col("min_units")),
        )
        .join(big, F.col("l_partkey") == big.p_partkey, "left_semi")
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            F.col("l_partkey").alias("part_key"),
            "s_name",
            pround(F.col("unit_cost_units") / 10000.0, 4).alias("unit_cost"),
        )
    )


@register(
    "important_stock",
    """WITH val AS (
  SELECT l_partkey,
         CAST(SUM({u}) AS BIGINT) AS value_units
  FROM lineitem GROUP BY 1),
tot AS (SELECT CAST(SUM(value_units) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n FROM val)
SELECT l_partkey AS part_key, ROUND(value_units / 10000.0, 2) AS part_value
FROM val
WHERE value_units * (SELECT n FROM tot) > 1.2 * (SELECT total FROM tot)""".format(
        u=money_units_sql("l_extendedprice * (1 - l_discount)")
    ),
)
def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shape group-HAVING-vs-global-scalar: parts whose total
    line value exceeds 1.2× the per-part average (value·n > 1.2·total —
    scale-invariant, unlike Q11's fixed fraction, so the predicate stays
    selective at every sf).  The global total and group count are scalar
    subqueries over the SAME per-part aggregate (Spark 4
    ``DataFrame.scalar()``), so the fact table is scanned once — never a
    second plan-build-time pass.  Sums are exact integer micro-units and
    the compare multiplies longs (≪2^53), so it cannot flip on
    float-summation order."""
    t = load_tables(spark, sf_dir)
    li = t.raw("lineitem")
    units = money_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    val = li.groupBy("l_partkey").agg(
        F.sum(units).cast("long").alias("value_units")
    )
    # one struct scalar carries both globals; Catalyst splits the field
    # accesses back into per-field subqueries but their shuffle over the
    # shared aggregate is reused (ReusedExchange), so the fact table's
    # aggregate runs once
    tot = val.agg(
        F.struct(
            F.sum("value_units").cast("long").alias("t"),
            F.count(F.lit(1)).alias("n"),
        ).alias("s")
    ).scalar()
    return val.where(
        F.col("value_units") * tot.getField("n")
        > F.lit(1.2) * tot.getField("t").cast("double")
    ).select(
        F.col("l_partkey").alias("part_key"),
        pround(F.col("value_units") / 10000.0, 2).alias("part_value"),
    )


@register(
    "top_revenue_supplier",
    """WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM({u}) AS BIGINT) AS revenue_units
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1996-01-01'
  GROUP BY 1)
SELECT s.s_suppkey, s.s_name, ROUND(r.revenue_units / 10000.0, 2) AS total_revenue
FROM rev r
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.revenue_units = (SELECT MAX(revenue_units) FROM rev)""".format(
        u=money_units_sql("l_extendedprice * (1 - l_discount)")
    ),
)
def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shape max-over-aggregate-view: the supplier(s) whose
    1995 revenue equals the global maximum.  The view aggregates once;
    the max folds in as a ``.scalar()`` subquery over that same frame —
    Catalyst reuses the exchange, so the plan is one scan + one shuffle
    + a broadcast of the winners.  Revenue is an exact integer-unit sum,
    making the max-equality a long compare on both engines."""
    t = load_tables(spark, sf_dir)
    li, s = t.raw("lineitem"), t.raw("supplier")
    units = money_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(units).cast("long").alias("revenue_units"))
    )
    mx = rev.agg(F.max("revenue_units").alias("m")).scalar()
    return (
        rev.where(F.col("revenue_units") == mx)
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            pround(F.col("revenue_units") / 10000.0, 2).alias("total_revenue"),
        )
    )


@register(
    "excess_stock_suppliers",
    """WITH shipped AS (
  SELECT l_suppkey, l_partkey,
         CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_units
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1996-01-01'
  GROUP BY 1, 2)
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT sh.l_suppkey FROM shipped sh
  WHERE sh.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    AND sh.qty_units > 5000)
  AND s.s_nationkey IN (
    SELECT n_nationkey FROM nation WHERE n_nationkey % 2 = 0)""",
)
def q_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shape nested semi-join chain: suppliers in an even
    nation who shipped >50 units of some 'small' part in 1995.  Each IN
    becomes a left-semi join — part and nation filters are broadcast
    semi-joins into the per-(supplier, part) aggregate, then one more
    semi-join dedups into supplier.  No distinct, no correlated
    re-scans; quantities are exact centi-units."""
    t = load_tables(spark, sf_dir)
    li, s, p, n = (
        t.raw("lineitem"),
        t.raw("supplier"),
        t.raw("part"),
        t.raw("nation"),
    )
    qty_units = money_units(F.col("l_quantity"), scale=100)
    small = p.where(F.col("p_name").startswith("small")).select("p_partkey")
    shipped = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .join(small, li.l_partkey == small.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(qty_units).cast("long").alias("qty_units"))
        .where(F.col("qty_units") > 5000)
        .select("l_suppkey")
    )
    even_nations = n.where(F.col("n_nationkey") % 2 == 0).select("n_nationkey")
    return (
        s.join(shipped, s.s_suppkey == shipped.l_suppkey, "left_semi")
        .join(
            even_nations,
            s.s_nationkey == even_nations.n_nationkey,
            "left_semi",
        )
        .select("s_suppkey", "s_name")
    )


@register(
    "weighted_sample",
    """WITH s AS (
  SELECT doc_id, source, n_chars,
         ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
            / 1152921504606846976.0) / n_chars AS sk
  FROM documents)
SELECT doc_id, source, n_chars
FROM s ORDER BY sk DESC, doc_id LIMIT 50""",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sample without replacement
    (llmdata/sampling.py weighted_sample_topk): length-proportional
    top-k by ln(u)/w with the uniform drawn from the portable md5 hash —
    the selected set is a pure function of the data, reproducible across
    engines and cluster layouts."""
    from puma_matcher_spark.llmdata.sampling import weighted_sample_topk

    docs = load_tables(spark, sf_dir).llm_documents()
    return weighted_sample_topk(docs, "n_chars", k=50).select(
        "doc_id", "source", "n_chars"
    )


def _zorder_oracle() -> str:
    from puma_matcher_spark.sources.maintenance import zvalue_sql

    return f"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       {zvalue_sql('(l_partkey & 65535)', '(l_suppkey & 65535)')} AS zval
FROM lineitem"""


@register("zorder_values", _zorder_oracle())
def q_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) interleave key for two-column data-skipping
    layout (sources/maintenance.py zvalue / zorder_by) — pure bit
    arithmetic in codegen; sorting by this key keeps parquet min/max
    envelopes tight on BOTH join keys simultaneously."""
    from puma_matcher_spark.sources.maintenance import zvalue

    li = load_tables(spark, sf_dir).raw("lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        zvalue(
            F.col("l_partkey").bitwiseAND(65535),
            F.col("l_suppkey").bitwiseAND(65535),
        ).alias("zval"),
    )


def _zorder3_oracle() -> str:
    from puma_matcher_spark.sources.maintenance import zvalue_n_sql

    z = zvalue_n_sql(
        ["(l_partkey & 1023)", "(l_suppkey & 1023)", "(l_orderkey & 1023)"],
        bits=10,
    )
    return f"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       {z} AS zval
FROM lineitem"""


@register("zorder3_values", _zorder3_oracle())
def q_zorder3_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-column Morton interleave (sources/maintenance.py zvalue_n)
    — one layout key serving box predicates on any subset of three
    join keys; round-robin bit interleave, still pure codegen."""
    from puma_matcher_spark.sources.maintenance import zvalue_n

    li = load_tables(spark, sf_dir).raw("lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        zvalue_n(
            [
                F.col("l_partkey").bitwiseAND(1023),
                F.col("l_suppkey").bitwiseAND(1023),
                F.col("l_orderkey").bitwiseAND(1023),
            ],
            bits=10,
        ).alias("zval"),
    )


#: The purchase edge list is the shared input of FOUR registered graph
#: queries (pagerank_mass, pagerank_top, purchase_communities,
#: purchase_kcore); its derivation — orders ⋈ lineitem → distinct →
#: symmetrize — dominates each query's wall-clock, so it is memoized
#: per (session, sf_dir) in functions.caching, like the scored-candidate
#: frames above.
def _purchase_edges(t: Tables) -> DataFrame:
    """Symmetrized customer↔supplier edge list from the order fact chain
    (the undirected purchase network) — distinct so edge multiplicity
    doesn't bias degree; node ids are type-prefixed to keep the bipartite
    sides disjoint.  Symmetrizing means no node is a sink, so the
    PageRank loop skips its per-iteration dangling-mass job (one join +
    one aggregate per round, nothing else)."""

    def build() -> DataFrame:
        o, li = t.raw("orders"), t.raw("lineitem")
        # a NULL endpoint is not an edge: concat('c', NULL) yields a NULL
        # node id that silently DROPS out of the iteration's equi-joins,
        # leaking rank mass (relational-zoo finding: total_mass 0.94)
        cs = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .where(o.o_custkey.isNotNull() & li.l_suppkey.isNotNull())
            .select(
                F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
                F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
            )
            .distinct()
        )
        return cs.unionByName(
            cs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    key = ("purchase_edges", t.spark.sparkContext.applicationId, t.sf_dir)
    return caching.memoized(key, build)


@register(
    "pagerank_mass",
    """WITH e AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey IS NOT NULL AND l.l_suppkey IS NOT NULL),
n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM (
    SELECT 'c' || CAST(c AS VARCHAR) AS node FROM e
    UNION
    SELECT 's' || CAST(s AS VARCHAR) AS node FROM e))
SELECT n_nodes, 1.0 AS total_mass,
       TRUE AS all_positive, TRUE AS has_spread
FROM n""",
)
def q_pagerank_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mass-conservation property of the PageRank power iteration
    (operators/graph.py) over the customer→supplier purchase graph —
    the oracle-checkable twin of the iterative ranking (same pattern as
    ivf_recall): Σrank must round to exactly 1.0 after 10 damped
    iterations with dangling-mass redistribution."""
    from puma_matcher_spark.operators.graph import pagerank_mass_check

    return pagerank_mass_check(_purchase_edges(load_tables(spark, sf_dir)))


# DuckDB twin of _purchase_edges — ONE definition shared by every
# purchase-graph oracle so the SQL cannot drift from the Spark builder
_PURCHASE_EDGES_CTE = """cs AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey IS NOT NULL AND l.l_suppkey IS NOT NULL),
edges AS (SELECT src, dst FROM cs UNION ALL SELECT dst AS src, src AS dst FROM cs)"""


def _lpa_oracle() -> str:
    from puma_matcher_spark.operators.graph import label_propagation_sql

    return (
        label_propagation_sql(_PURCHASE_EDGES_CTE, n_iter=4)
        + "\nSELECT node, label FROM l4"
    )


@register("purchase_communities", _lpa_oracle())
def q_purchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities on the purchase graph
    (operators/graph.py label_propagation) — an ITERATIVE graph
    algorithm with a full value oracle: the deterministic schedule +
    min-label tie-break lets the DuckDB twin unroll the same four
    rounds as generated SQL."""
    from puma_matcher_spark.operators.graph import label_propagation

    return label_propagation(
        _purchase_edges(load_tables(spark, sf_dir)), n_iter=4
    )


def _kcore_oracle() -> str:
    from puma_matcher_spark.operators.graph import k_core_sql

    return (
        k_core_sql(_PURCHASE_EDGES_CTE, k=3, n_rounds=4)
        + "\nSELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM e4 GROUP BY 1"
    )


@register("purchase_kcore", _kcore_oracle())
def q_purchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round 3-core peeling of the purchase graph (operators/
    graph.py k_core) — the dense-subgraph screen (nodes embedded in
    mutually-connected neighbourhoods), value-oracled exactly via the
    same round-unrolling as purchase_communities."""
    from puma_matcher_spark.operators.graph import k_core

    return k_core(
        _purchase_edges(load_tables(spark, sf_dir)), k=3, n_rounds=4
    )


def _pagerank_top_oracle() -> str:
    from puma_matcher_spark.operators.graph import pagerank_sql

    return (
        pagerank_sql(_PURCHASE_EDGES_CTE, n_iter=10)
        + """
SELECT node, ROUND(rank, 6) AS rank FROM pr10 WHERE node LIKE 's%'
ORDER BY ROUND(rank, 6) DESC, node LIMIT 20"""
    )


@register("pagerank_top", _pagerank_top_oracle())
def q_pagerank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 suppliers by purchase-graph PageRank (operators/graph.py)
    — the actual ranking, value-oracled (r10) by unrolling the ten
    power-iteration rounds as generated SQL (graph.py pagerank_sql),
    the technique proven on purchase_communities / purchase_kcore.
    Rows-only history: raw 10-round double ranks are summation-order
    sensitive at ~1e-14 relative, far below the 1e-6 output rounding —
    so BOTH the output values AND the top-20 cutoff order use the
    ROUNDED rank (ties broken by node), making the selection identical
    in both engines.  Spark side stays orderBy+limit
    (TakeOrderedAndProject — no global window sort at scale)."""
    from puma_matcher_spark.operators.graph import pagerank

    pr = pagerank(_purchase_edges(load_tables(spark, sf_dir)))
    return (
        pr.where(F.col("node").startswith("s"))
        .select("node", pround(F.col("rank"), 6).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("node"))
        .limit(20)
    )


# ---------------- round 5: TPC-H completion (Q6 / Q9 / Q12 / Q14) ----------


@register(
    "forecast_revenue",
    f"""SELECT ROUND(SUM({money_units_sql("l_extendedprice * l_discount")}) / 10000.0, 2)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24""",
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — forecasting-revenue-change: a single scan with every
    predicate pushed to the parquet reader and ONE partial+final
    aggregate; no join, no shuffle beyond the 1-row exchange.  The
    canonical 'is the scan path healthy' probe: at 100 TB this query is
    IO-bound and its plan must show PushedFilters on all three columns."""
    li = load_tables(spark, sf_dir).raw("lineitem")
    units = money_units(F.col("l_extendedprice") * F.col("l_discount"))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            pround(F.sum(units) / 10000.0, 2).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@register(
    "product_profit",
    f"""SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
       ROUND(SUM({_REV_UNITS_SQL}) / 10000.0, 2) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%bolt%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2""",
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shape product-type profit: the widest join tree in the
    suite — fact × part (filtered on a non-key predicate) × supplier ×
    nation × orders, rolled up by (nation, order year).  part/supplier/
    nation broadcast (dimension-sized); orders co-shuffles with lineitem
    on orderkey.  Adapted to the fixture star (no partsupp table, so no
    supplycost term): profit = discounted revenue, same plan shape."""
    t = load_tables(spark, sf_dir)
    li, p, s, n, o = (
        t.raw("lineitem"),
        t.raw("part"),
        t.raw("supplier"),
        t.raw("nation"),
        t.raw("orders"),
    )
    units = money_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(
            p.where(F.col("p_name").like("%bolt%")).select("p_partkey"),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(s.select("s_suppkey", "s_nationkey"), li.l_suppkey == F.col("s_suppkey"))
        .join(n.select("n_nationkey", "n_name"), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(pround(F.sum(units) / 10000.0, 2).alias("profit"))
    )


@register(
    "returnflag_priority_mix",
    """SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01'
  AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
GROUP BY 1""",
)
def q_returnflag_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shape shipping-priority mix: one fact × orders equi-join
    with a cross-table residual predicate (shipped > 30 days after the
    order date), then a two-way conditional count pivot per class — the
    CASE-pivot aggregation pattern.  Adapted to the fixture star (no
    l_shipmode column; l_returnflag is the class key)."""
    t = load_tables(spark, sf_dir)
    o, li = t.raw("orders"), t.raw("lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .where(li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "promo_revenue_share",
    f"""SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN {_REV_UNITS_SQL} ELSE 0 END)
                    / SUM({_REV_UNITS_SQL}), 4) AS promo_share,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
  AND l.l_shipdate <  TIMESTAMP '1996-10-01'""",
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 — promotion-effect ratio: a month-sliced fact scan,
    broadcast part join, and a conditional-sum ratio in ONE aggregate
    (never two jobs).  Both sums are exact integer micro-units, so the
    ratio is engine-deterministic before the final rounding."""
    t = load_tables(spark, sf_dir)
    li, p = t.raw("lineitem"), t.raw("part")
    units = money_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
        )
        .join(p.select("p_partkey", "p_type"), li.l_partkey == F.col("p_partkey"))
        .agg(
            pround(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", units).otherwise(F.lit(0)))
                / F.sum(units),
                4,
            ).alias("promo_share"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


# ---------------- round 5: LLM-data plane additions ----------------


@register(
    "semantic_dedup",
    f"""WITH RECURSIVE v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e
  FROM embeddings WHERE {_EMB_VALID}),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.e, b.e) /
        (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4)
        >= 0.35),
e AS (SELECT id1 AS a, id2 AS b FROM pairs
      UNION SELECT id2, id1 FROM pairs),
reach(id, r) AS (
  SELECT a, a FROM e
  UNION
  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
comp AS (SELECT id, CAST(MIN(r) AS BIGINT) AS group_id FROM reach GROUP BY id),
sz AS (SELECT group_id, CAST(COUNT(*) AS BIGINT) AS group_size
       FROM comp GROUP BY 1)
SELECT comp.id AS vec_id, comp.group_id, sz.group_size,
       comp.id = comp.group_id AS is_representative
FROM comp JOIN sz USING (group_id)""",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: cosine >= 0.35 pairs →
    connected components → per-group size + min-id representative
    (llmdata/similarity.py:semantic_dedup_groups).  The pair stage is the
    exact all-pairs definition — DELIBERATELY: this fixture's embeddings
    are isotropic (max pairwise cosine 0.51 across 125k pairs; 0.35 is the
    99.78th background percentile), so the qualifying output is itself
    Θ(n²) and *no* sub-quadratic candidate stage can exist — a
    pigeonhole-complete sign-LSH banding costs ~60× MORE than this join
    (measured analysis: PLANS.md §round-6 semantic-dedup).  The 100× plan
    for data that actually HAS semantic duplicates is the exported
    ``semantic_dedup_blocked`` below, which feeds the same grouping stage
    through the ``pairs=`` hook.  The DuckDB twin recomputes the same
    fixpoint as a recursive-CTE transitive closure."""
    emb = load_tables(spark, sf_dir).llm_embeddings()
    return sim.semantic_dedup_groups(emb, threshold=0.35)


@register(
    "semantic_dedup_blocked",
    """WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
  FROM documents),
shl AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 3 THEN
           list_distinct(list_transform(range(1, len(tk) - 1),
             i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
         ELSE [] END AS shs
  FROM toks),
sh AS (SELECT doc_id, unnest(shs) AS shingle FROM shl),
bc AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 128 AS bucket,
         CAST(COUNT(*) AS DOUBLE) AS c
  FROM sh GROUP BY 1, 2),
nrm AS (SELECT doc_id, sqrt(SUM(c * c)) AS nv FROM bc GROUP BY 1),
dots AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, SUM(a.c * b.c) AS dp
  FROM bc a JOIN bc b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id1, id2 FROM dots
  JOIN nrm n1 ON dots.id1 = n1.doc_id
  JOIN nrm n2 ON dots.id2 = n2.doc_id
  WHERE ROUND(dp / (n1.nv * n2.nv), 4) >= 0.8),
e AS (SELECT id1 AS a, id2 AS b FROM pairs
      UNION SELECT id2, id1 FROM pairs),
reach(id, r) AS (
  SELECT a, a FROM e
  UNION
  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
comp AS (SELECT id, CAST(MIN(r) AS BIGINT) AS group_id FROM reach GROUP BY id),
sz AS (SELECT group_id, CAST(COUNT(*) AS BIGINT) AS group_size
       FROM comp GROUP BY 1)
SELECT comp.id AS doc_id, comp.group_id, sz.group_size,
       comp.id = comp.group_id AS is_representative
FROM comp JOIN sz USING (group_id)""",
)
def q_semantic_dedup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the BLOCKED pair stage — the 100×-safe exported plan
    (llmdata/similarity.py:semantic_dedup_blocked): documents embed as
    128-bucket hashed-shingle count vectors (map-side, portable md5
    arithmetic); candidates come from one shared-rare-shingle equi-join
    (df <= 64 — complete for dup groups up to the cap, the
    entity-frequency-guard pattern of
    EntitiesMatcherV2.scala:44-52); every candidate is verified with the
    EXACT cosine before the connected-components grouping, so blocking can
    only miss pairs, never admit wrong ones — and the DuckDB twin is the
    unblocked all-pairs definition, making this driver gate a standing
    completeness check (measured margin: every true pair in the fixtures
    shares >= 8 blocking shingles; candidates are 8.8× fewer than
    all-pairs at sf0.01 and grow linearly, PLANS.md §round-6).  Reference
    parity: matching/matcher/CosineMatcher.scala's thresholded cosine
    pairs, with the candidate stage its plan lacks."""
    docs = load_tables(spark, sf_dir).llm_documents()
    return sim.semantic_dedup_blocked(docs, threshold=0.8)


@register(
    "semantic_contamination",
    """WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
  FROM documents),
shl AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 3 THEN
           list_distinct(list_transform(range(1, len(tk) - 1),
             i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
         ELSE [] END AS shs
  FROM toks),
sh AS (SELECT doc_id, unnest(shs) AS shingle FROM shl),
bc AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 128 AS bucket,
         CAST(COUNT(*) AS DOUBLE) AS c
  FROM sh GROUP BY 1, 2),
nrm AS (SELECT doc_id, sqrt(SUM(c * c)) AS nv FROM bc GROUP BY 1),
dots AS (
  SELECT a.doc_id AS corpus_id, b.doc_id AS benchmark_id, SUM(a.c * b.c) AS dp
  FROM bc a JOIN bc b ON a.bucket = b.bucket
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY 1, 2)
SELECT corpus_id, benchmark_id,
       ROUND(dp / (n1.nv * n2.nv), 4) AS cosine_sim
FROM dots
JOIN nrm n1 ON dots.corpus_id = n1.doc_id
JOIN nrm n2 ON dots.benchmark_id = n2.doc_id
WHERE ROUND(dp / (n1.nv * n2.nv), 4) >= 0.8""",
)
def q_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level benchmark-contamination scan (llmdata/similarity.py
    semantic_contamination): n-gram containment (`contamination_check`)
    misses paraphrased eval leakage, so the modern hygiene pass ALSO
    thresholds embedding cosine between corpus (even doc ids) and
    held-out (odd ids) documents.  Candidates from one cross-frame
    shared-rare-shingle equi-join (df over BOTH frames <= 64), exact
    cosine verify over checkpointed hashed-shingle embeddings — the
    oracle is the UNBLOCKED all-pairs cross cosine, so a driver pass
    checks blocking completeness end-to-end, exactly like
    `semantic_dedup_blocked`."""
    docs = load_tables(spark, sf_dir).llm_documents()
    return sim.semantic_contamination(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        threshold=0.8,
    )


@register(
    "centroid_drift",
    f"""WITH e AS (
  SELECT label, vec_id % 2 = 0 AS r,
         unnest(embedding::DOUBLE[]) AS v,
         unnest(range(len(embedding))) AS dim
  FROM embeddings WHERE label IS NOT NULL AND {_EMB_NONEMPTY}),
m AS (SELECT label, r, dim, AVG(v) AS av FROM e GROUP BY 1, 2, 3),
a AS (SELECT label, dim,
        SUM(CASE WHEN r THEN av END) AS rr,
        SUM(CASE WHEN NOT r THEN av END) AS cc
      FROM m GROUP BY 1, 2),
s AS (SELECT label, SUM(rr * cc) AS dp,
        sqrt(SUM(rr * rr)) AS nr, sqrt(SUM(cc * cc)) AS nc
      FROM a GROUP BY 1),
cnt AS (SELECT label,
        CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      FROM embeddings WHERE label IS NOT NULL AND {_EMB_NONEMPTY} GROUP BY 1)
SELECT cnt.label, n_ref, n_cur,
       ROUND(dp / NULLIF(nr * nc, 0), 4) AS centroid_cosine
FROM cnt JOIN s ON cnt.label = s.label""",
)
def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding drift monitor (llmdata/similarity.py
    centroid_drift) — the vector-plane sibling of `events_psi` (numeric)
    and `vocab_drift` (lexical): cosine between each label's reference-
    and current-half centroids.  One posexplode + one hash aggregate;
    everything downstream is label-count-sized."""
    emb = load_tables(spark, sf_dir).llm_embeddings()
    return sim.centroid_drift(emb)


@register(
    "semantic_decontaminated",
    """WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
  FROM documents),
shl AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 3 THEN
           list_distinct(list_transform(range(1, len(tk) - 1),
             i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
         ELSE [] END AS shs
  FROM toks),
sh AS (SELECT doc_id, unnest(shs) AS shingle FROM shl),
bc AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 128 AS bucket,
         CAST(COUNT(*) AS DOUBLE) AS c
  FROM sh GROUP BY 1, 2),
nrm AS (SELECT doc_id, sqrt(SUM(c * c)) AS nv FROM bc GROUP BY 1),
dots AS (
  SELECT a.doc_id AS corpus_id, b.doc_id AS benchmark_id, SUM(a.c * b.c) AS dp
  FROM bc a JOIN bc b ON a.bucket = b.bucket
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY 1, 2),
hits AS (
  SELECT DISTINCT corpus_id AS doc_id FROM dots
  JOIN nrm n1 ON dots.corpus_id = n1.doc_id
  JOIN nrm n2 ON dots.benchmark_id = n2.doc_id
  WHERE ROUND(dp / (n1.nv * n2.nv), 4) >= 0.8)
SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d
WHERE d.doc_id % 2 = 0 AND d.doc_id NOT IN (SELECT doc_id FROM hits)""",
)
def q_semantic_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus after SEMANTIC decontamination (llmdata/similarity.py
    semantic_decontaminate) — the action twin of `semantic_contamination`
    exactly as `decontaminated_corpus` is to `contamination_check`: even
    doc ids = corpus, odd = benchmark stand-in, embedding cosine >= 0.8
    -> drop, via one left-anti join on the flagged ids."""
    docs = load_tables(spark, sf_dir).llm_documents()
    clean = sim.semantic_decontaminate(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        threshold=0.8,
    )
    return clean.select(
        "doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


_MANIFEST_RT_CACHE: dict[str, str] = {}
_MANIFEST_RT_LOCK = threading.Lock()


def _manifest_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Materialise the documents fixture as per-doc files + manifest,
    once per (process, sf_dir); the directories are removed at exit."""
    import atexit
    import os
    import shutil
    import tempfile

    with _MANIFEST_RT_LOCK:
        cached = _MANIFEST_RT_CACHE.get(sf_dir)
        if cached is not None and os.path.exists(cached):
            return cached
        rows = (
            load_tables(spark, sf_dir)
            .llm_documents()
            .select("doc_id", "text")
            .collect()
        )
        d = tempfile.mkdtemp(prefix="manifest_roundtrip_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        lines = ["doc_id,file_path"]
        for r in rows:
            p = os.path.join(d, f"doc_{r['doc_id']}.txt")
            with open(p, "w", encoding="utf-8") as fh:
                # a file cannot hold NULL: the roundtrip semantics of a
                # NULL-text doc are the empty file (oracle COALESCEs)
                fh.write(r["text"] or "")
            lines.append(f"{r['doc_id']},{p}")
        mpath = os.path.join(d, "manifest.csv")
        with open(mpath, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        _MANIFEST_RT_CACHE[sf_dir] = mpath
        return mpath


@register(
    "manifest_roundtrip",
    """SELECT doc_id,
       CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
       CAST(len(list_filter(string_split(coalesce(text, ''), ' '), x -> x <> ''))
            AS BIGINT) AS n_tokens
FROM documents""",
)
def q_manifest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof of the native ``manifest_text`` DataSource
    (sources/pydatasource.py): materialise the documents table as one
    text file per doc + a CSV manifest, read it BACK through the
    connector (split planning, executor-side opens), and report
    per-doc char/token counts — while the oracle computes the same
    stats straight from the parquet.  A hash match proves the
    connector's read path byte-exact against DuckDB, turning S2/S4's
    unit-level signal into a hard driver row.

    The driver-side materialisation (one collect of the fixture
    documents) is the test harness's file-factory, not the operator —
    at production scale the files already exist and only the manifest
    is driver-side inventory (planner contract, pydatasource.py:86).
    The fixture is built ONCE per (process, sf_dir) and removed at exit:
    every plan/gate sweep invokes this builder, and an uncached version
    re-collected the corpus and leaked a fresh temp directory per call.
    Reference: datasource/FileDataSource.scala:37-61."""
    from puma_matcher_spark.sources.pydatasource import register as _reg_ds

    mpath = _manifest_fixture(spark, sf_dir)
    _reg_ds(spark)
    docs = (
        spark.read.format("manifest_text").option("manifest", mpath).load()
    )
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
    )


@register(
    "ngram_containment",
    """WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
  FROM documents),
shl AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 3 THEN
           list_distinct(list_transform(range(1, len(tk) - 1),
             i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
         ELSE [] END AS shs
  FROM toks),
sh AS (SELECT doc_id, unnest(shs) AS shingle FROM shl),
bm AS (SELECT * FROM sh WHERE doc_id % 97 = 0),
bsz AS (SELECT doc_id AS benchmark_id, COUNT(*) AS nb FROM bm GROUP BY 1),
j AS (
  SELECT c.doc_id AS corpus_id, b.doc_id AS benchmark_id,
         CAST(COUNT(*) AS BIGINT) AS shared_ngrams
  FROM sh c JOIN bm b USING (shingle)
  WHERE c.doc_id <> b.doc_id GROUP BY 1, 2)
SELECT corpus_id, benchmark_id, shared_ngrams,
       ROUND(shared_ngrams * 1.0 / nb, 4) AS containment
FROM j JOIN bsz USING (benchmark_id)""",
)
def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalised benchmark containment (llmdata/dedup.py:
    containment_scores): for every corpus doc sharing a 3-gram with a
    held-out eval subset (doc_id % 97), the FRACTION of the eval doc's
    distinct shingles present in it — the severity metric
    decontamination pipelines threshold on, complementing
    contamination_check's raw counts.  One shingle equi-join (benchmark
    side tiny → AQE broadcast) + a |benchmark|-bounded size aggregate."""
    docs = load_tables(spark, sf_dir).llm_documents()
    return dd.containment_scores(
        docs, docs.where(F.col("doc_id") % 97 == 0), shingle_n=3
    )


@register(
    "ngram_novelty",
    """WITH toksl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents),
shl AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 3 THEN
           list_distinct(list_transform(range(1, len(tk) - 1),
             i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
         ELSE [] END AS shs
  FROM toksl),
sh AS (SELECT doc_id, unnest(shs) AS shingle FROM shl),
first AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
per AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM sh s JOIN first f USING (shingle) GROUP BY 1)
SELECT t.doc_id,
       COALESCE(p.n_shingles, 0) AS n_shingles,
       COALESCE(p.n_novel, 0) AS n_novel,
       CASE WHEN COALESCE(p.n_shingles, 0) > 0
            THEN ROUND(p.n_novel * 1.0 / p.n_shingles, 4) END AS novel_frac
FROM toksl t LEFT JOIN per p USING (doc_id)""",
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty against everything earlier in the
    corpus (llmdata/textstats.py:ngram_novelty) — the data-selection
    signal for 'how much of this shard is new text'.  Two shuffles
    total: one first-occurrence aggregate on the shingle key, one
    per-doc roll-up."""
    docs = load_tables(spark, sf_dir).llm_documents()
    return ts.ngram_novelty(docs, n=3)


@register(
    "embedding_outliers",
    f"""WITH v AS (
  SELECT vec_id, label,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings WHERE {_EMB_NONEMPTY}),
st AS (
  SELECT label, AVG(nrm) AS mu, STDDEV_SAMP(nrm) AS sigma
  FROM v GROUP BY label)
SELECT v.vec_id, v.label, ROUND(v.nrm, 4) AS l2_norm,
       CASE WHEN st.sigma IS NOT NULL AND st.sigma > 0
            THEN ROUND((v.nrm - st.mu) / st.sigma, 4) END AS z_score,
       CASE WHEN st.sigma IS NOT NULL AND st.sigma > 0
            THEN ABS((v.nrm - st.mu) / st.sigma) > 2.0 END AS is_outlier
FROM v JOIN st USING (label)""",
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality audit: per-label L2-norm z-scores flag vectors
    whose magnitude is anomalous for their class (dead encoders emit
    near-zero vectors; saturated ones blow up).  One narrow aggregate on
    the label key joined back — the norm itself is a map-side sequential
    fold, deterministic across engines.  NULL/empty embeddings carry no
    norm to audit and are excluded (zero vectors stay — a dead encoder's
    output is exactly what this flags)."""
    emb = sim.nonempty_vectors(load_tables(spark, sf_dir).llm_embeddings())
    v = emb.select(
        "vec_id",
        "label",
        sim.norm(F.col("embedding").cast("array<double>")).alias("nrm"),
    )
    st = v.groupBy(F.col("label").alias("st_label")).agg(
        F.avg("nrm").alias("mu"), F.stddev_samp("nrm").alias("sigma")
    )
    ok = F.col("sigma").isNotNull() & (F.col("sigma") > 0)
    z = (F.col("nrm") - F.col("mu")) / F.col("sigma")
    return (
        v.join(F.broadcast(st), v.label == F.col("st_label"))
        .select(
            "vec_id",
            "label",
            pround("nrm", 4).alias("l2_norm"),
            F.when(ok, pround(z, 4)).alias("z_score"),
            F.when(ok, F.abs(z) > 2.0).alias("is_outlier"),
        )
    )


@register(
    "vocab_coverage",
    """WITH c AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
    FROM documents) GROUP BY 1),
r AS (SELECT tok, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rank
      FROM c),
t AS (SELECT SUM(cnt) AS total, COUNT(*) AS v FROM c),
k AS (SELECT unnest([100, 500, 2000]) AS k)
SELECT CAST(k.k AS BIGINT) AS k,
       CAST(LEAST(k.k, (SELECT v FROM t)) AS BIGINT) AS vocab_size,
       ROUND(SUM(CASE WHEN r.rank <= k.k THEN r.cnt ELSE 0 END) * 1.0
             / (SELECT total FROM t), 4) AS covered_share
FROM r, k GROUP BY k.k""",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k vocabulary coverage curve (llmdata/textstats.py
    vocab_coverage): the share of all token occurrences a k-entry vocab
    covers, for k in {100, 500, 2000} — the tokenizer-sizing metric."""
    docs = load_tables(spark, sf_dir).llm_documents()
    return ts.vocab_coverage(docs, ks=(100, 500, 2000))


@register(
    "vocab_drift",
    """WITH tk AS (
  SELECT (doc_id % 2 = 0) AS even,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
  FROM documents),
per AS (
  SELECT tok,
         CAST(SUM(CASE WHEN even THEN 1 ELSE 0 END) AS BIGINT) AS c_even,
         CAST(SUM(CASE WHEN even THEN 0 ELSE 1 END) AS BIGINT) AS c_odd
  FROM tk GROUP BY 1),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
             CAST(SUM(c_even) AS BIGINT) AS ne,
             CAST(SUM(c_odd) AS BIGINT) AS no
      FROM per)
SELECT t.v AS n_vocab, t.ne AS n_even_tokens, t.no AS n_odd_tokens,
       ROUND(SUM(((per.c_even + 1.0) / (t.ne + t.v)) *
             ln(((per.c_even + 1.0) / (t.ne + t.v)) /
                ((per.c_odd + 1.0) / (t.no + t.v)))), 4) AS kl_even_odd,
       ROUND(SUM(((per.c_odd + 1.0) / (t.no + t.v)) *
             ln(((per.c_odd + 1.0) / (t.no + t.v)) /
                ((per.c_even + 1.0) / (t.ne + t.v)))), 4) AS kl_odd_even
FROM per, t GROUP BY 1, 2, 3""",
)
def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram distribution drift between the even/odd doc_id halves
    (llmdata/textstats.py vocab_drift): add-one-smoothed KL divergences
    over the union vocabulary — the shard/snapshot drift alarm."""
    docs = load_tables(spark, sf_dir).llm_documents()
    return ts.vocab_drift(docs)


@register(
    "events_psi",
    """WITH b AS (
  SELECT CAST(floor((min(epoch_us(ts)) + max(epoch_us(ts))) / 2.0) AS BIGINT) AS m
  FROM events),
c AS (
  SELECT GREATEST(0, LEAST(CAST(floor(value / 25.0) AS INT), 19)) AS bucket,
         CAST(SUM(CASE WHEN epoch_us(ts) <= (SELECT m FROM b) THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN epoch_us(ts) <= (SELECT m FROM b) THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
  FROM events GROUP BY 1),
g AS (SELECT CAST(unnest(range(0, 20)) AS INT) AS bucket),
d AS (
  SELECT g.bucket,
         COALESCE(c.n_ref, 0) AS n_ref,
         COALESCE(c.n_cur, 0) AS n_cur
  FROM g LEFT JOIN c USING (bucket)),
t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM d)
SELECT d.bucket, d.n_ref, d.n_cur,
       ROUND((d.n_ref + 1.0) / (t.tr + 20), 4) AS p_ref,
       ROUND((d.n_cur + 1.0) / (t.tc + 20), 4) AS p_cur,
       ROUND(((d.n_cur + 1.0) / (t.tc + 20) - (d.n_ref + 1.0) / (t.tr + 20))
             * ln(((d.n_cur + 1.0) / (t.tc + 20)) /
                  ((d.n_ref + 1.0) / (t.tr + 20))), 4) AS psi_contrib
FROM d, t""",
)
def q_events_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event value distribution
    between the first and second halves of the window
    (operators/events_analytics.py population_stability) — the standard
    production drift monitor, the events-plane sibling of vocab_drift.
    One scan + one scalar min/max fold + one bucket hash aggregate;
    the dense 20-bucket grid joins broadcast-side."""
    from puma_matcher_spark.operators.events_analytics import (
        population_stability,
    )

    return population_stability(load_tables(spark, sf_dir).events())


@register(
    "pmi_bigrams",
    """WITH tk AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
uni AS (SELECT unnest(t) AS w FROM tk),
uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1),
nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni),
bi AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM tk, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2),
bc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= 5),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bi)
SELECT bc.w1, bc.w2, bc.n_pair,
       ROUND(ln((bc.n_pair * 1.0 / nb.n) /
                ((a.c * 1.0 / nu.n) * (b2.c * 1.0 / nu.n))), 4) AS pmi
FROM bc
JOIN uc a ON bc.w1 = a.w
JOIN uc b2 ON bc.w2 = b2.w, nu, nb
ORDER BY pmi DESC, bc.w1 ASC, bc.w2 ASC LIMIT 50""",
)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-word collocations by pointwise mutual information
    (llmdata/textstats.py pmi_bigrams, Church & Hanks 1990) — phrase
    mining / tokenizer-merge candidates.  Bigram pairs build inside the
    row (no shuffle before the explode); one bigram + one unigram hash
    aggregate, two word-key joins, deterministic rounded-PMI top-k."""
    docs = load_tables(spark, sf_dir).llm_documents()
    return ts.pmi_bigrams(docs, min_count=5, k=50)


# --------------------------------------------------------------------------
# Driver-window ordering — ROUND 6.
#
# The round driver's CORRECTNESS gate checks the first 50 entries of
# ``queries()``.  We decouple *presentation* order from *registration*
# order: names listed in ``_PRIORITY`` come first, everything else keeps
# registration order after them.  Rotate the list each round so every query
# earns a hard driver-side CORRECTNESS row, not just the local parity sweep.
#
# Round-6 window, in order (the freshness policy these slots implement is
# enforced by scripts/driver_gate_check.freshness_audit + the pytest
# twin test_window_freshness_policy):
#   1. round-6 net-new registrations (budget <= 10/round);
#   2. the full 31-name cohort whose last hard driver row dates to
#      rounds 1-2 (stale-rotation priority: oldest first);
#   3. the oldest slice of the round-3 cohort — the remainder of that
#      cohort reaches age 4 in round 7 and MUST fill round 7's rotation
#      slots (see round6-state notes).
#
# RETIRED FROM EXPORT (``_PYTEST_ONLY`` below): queries whose hard signal
# is carried elsewhere — six permanently rows-only originals carried by an
# oracle-backed property twin with a green driver row, plus (r10, per the
# registry-capacity policy) two ORACLE-BACKED rows whose operator surface
# is duplicated by a stronger exported sibling; those two keep their full
# DuckDB oracle in the per-round pytest sweep (test_oracle_parity runs
# every REGISTRY entry at sf0.001), they just stop consuming
# driver-window slots the rotation needs.  All stay in REGISTRY — the CLI
# and pytest sweeps still run them.
# --------------------------------------------------------------------------

#: excluded from the exported ``queries()``/``oracle_sql()`` surface.
#: Rows-only originals (green twins in order: pic_cluster_quality,
#: weight_refined_convergence, ivf_recall, media_features_shape,
#: normalised_approx_bounds), then the r10 capacity retirements
#: (exported siblings: embedding_lsh_tables, the multi-table sign-LSH
#: near-dup join that supersedes the exact all-pairs baseline
#: embedding_near_dups; dedup_components_cc, the full CC loop over
#: thresholded blocked pairs that supersedes the per-block min-id
#: collapse dedup_components_exact).  pagerank_top AND fs_em_params LEFT
#: this set in r10: round-unrolled generated-SQL oracles (graph.py
#: pagerank_sql; queries._fs_em_oracle) made both full value-checked
#: exports.
_PYTEST_ONLY: frozenset[str] = frozenset(
    {
        "pic_clusters",
        "weight_refined",
        "embedding_ivf_topk",
        "media_features",
        "normalised_scores_approx",
        "embedding_near_dups",
        "dedup_components_exact",
    }
)

# Round-12 window policy (freshness rotation — see
# scripts/driver_gate_check.py freshness_audit): each round's 50 slots go
# to (a) this round's net-new registrations (budget: <= 10/round), (b)
# queries whose semantics changed this round (they need a fresh hard row),
# (c) every exported query whose last hard driver row is oldest, oldest
# cohort first.  Capacity arithmetic: 50 slots/round * 4 rounds = 200 >=
# exported count, so the standing invariant is max row age <= 4 rounds
# (audit hard-fails beyond that).  Round-12 breakdown: 0 net-new + the
# full 45-name r8 cohort at its age-4 boundary + 5 changed-plan
# re-greens: the iterative loops now derive their shuffle-partition
# count from the edge count (r12 §1), which changes double-summation
# order in the PageRank power iteration — pagerank_top / pagerank_mass
# are the only float-accumulating loop outputs (re-green first), then
# purchase_communities / purchase_kcore / semantic_dedup_blocked for
# the loop + embedding-kernel plan changes.  The remaining changed-plan
# CC consumers (near_dup_clusters, cluster_representatives,
# dedup_components_cc, semantic_dedup, semantic_decontaminated) compute
# EXACT min/count operations — partition-count-invariant by
# construction — and were parity-proven locally at sf0.001 + sf0.01
# this round; they ride the ordinary age rotation (all sit at age <= 1
# from the r11 window except dedup_components_cc/semantic_dedup, which
# rotate in next round within the age-4 invariant).
# semantic_contamination (embedding-kernel change) is already in the r8
# cohort below.
_PRIORITY: list[str] = [
    # -- 1. changed plans this round (r12): loop shuffle-partition
    #       sizing (float-sum order moves within the 1e-6 output
    #       rounding) + the semantic embedding-kernel hoist.
    "pagerank_top",
    "pagerank_mass",
    "purchase_communities",
    "purchase_kcore",
    "semantic_dedup_blocked",
    # -- 2. last hard driver row r8 — the cohort at its age-4 boundary
    #       (freshness_audit hard-fails if missed; the 45 names are the
    #       full remaining r8 cohort from --plan-next)
    "brand_supplier_counts",
    "curation_report",
    "customer_order_distribution",
    "disjunctive_promo_revenue",
    "dup_substring_spans",
    "embedding_int8_topk",
    "embedding_lsh_tables",
    "embedding_outliers",
    "embedding_prefix_rerank",
    "entity_pairs",
    "entity_scores",
    "entity_tf",
    "events_anomaly",
    "events_asof",
    "events_attribution_models",
    "events_cohorts",
    "events_deadletter",
    "events_debounce",
    "events_forward_fill",
    "events_funnel",
    "events_hll_rollup",
    "events_robust_outliers",
    "events_trend",
    "fs_agreement_patterns",
    "fs_linkage_weights",
    "incremental_ingest",
    "incremental_near_dups",
    "jaccard_prefix_join",
    "k_anonymity",
    "late_lone_suppliers",
    "part_edit_pairs",
    "phrase_search",
    "quality_sample",
    "returned_item_customers",
    "scd2_history",
    "scd2_point_in_time",
    "semantic_contamination",
    "simhash_near_dups",
    "snapshot_diff",
    "span_cut_corpus",
    "vocab_topk",
    "winsorized_prices",
    "xcorpus_logprob",
    "zorder3_values",
    "zorder_values",
]


def _ordered() -> dict[str, QuerySpec]:
    missing = [n for n in _PRIORITY if n not in REGISTRY]
    assert not missing, f"_PRIORITY names not registered: {missing}"
    overlap = _PYTEST_ONLY & set(_PRIORITY)
    assert not overlap, f"_PRIORITY lists retired names: {sorted(overlap)}"
    out = {n: REGISTRY[n] for n in _PRIORITY}
    out.update(
        (n, s)
        for n, s in REGISTRY.items()
        if n not in out and n not in _PYTEST_ONLY
    )
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.spark_fn for name, spec in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in _ordered().items()
        if spec.oracle is not None
    }
