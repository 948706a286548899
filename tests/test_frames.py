"""Driver-built frames go through ``functions.frames.local_frame``: each
keeps its schema, and reading it starts no Python worker process."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from puma_matcher_spark import apps
from puma_matcher_spark import queries as q
from puma_matcher_spark.functions.frames import local_frame
from puma_matcher_spark.llmdata import similarity as sim
from puma_matcher_spark.operators import dedup
from puma_matcher_spark.operators import events_analytics as ea
from puma_matcher_spark.operators import weights as wt

GRID = "weight_id BIGINT, score_type STRING, weight DOUBLE"
WEIGHTS = "score_type STRING, weight DOUBLE"
ALIASES = "instrument_id BIGINT, alias STRING"


def _persons(spark):
    return spark.sql(
        "SELECT id, CAST(id % 3 AS INT) AS nation, CONCAT('seg', id % 5) AS seg, "
        "CAST(id % 4 AS INT) AS bal_bucket FROM range(60)"
    )


def _events(spark):
    return spark.sql(
        "SELECT id AS event_id, id % 5 AS user_id, "
        "TIMESTAMP '2024-01-01' + make_interval(0, 0, 0, 0, 0, CAST(id AS INT)) AS ts, "
        "element_at(array('view', 'click', 'purchase'), CAST(id % 3 + 1 AS INT)) "
        "AS event_type FROM range(30)"
    )


def _vectors(spark):
    return spark.sql(
        "SELECT id AS vec_id, array(CAST(id AS DOUBLE), CAST(id % 7 AS DOUBLE)) "
        "AS embedding FROM range(20)"
    )


#: site -> (run(spark, sf_dir), schema of the driver-built frame the site
#: creates, as the rows-list path typed it).  Inputs come from SQL, so
#: the site's frame is the only one ``createDataFrame`` builds.
SITES = {
    "weights.weight_grid": (
        lambda spark, sf: wt.weight_grid(spark, ["person", "laboratory"], step=0.25),
        GRID,
    ),
    "weights._refined_grid": (
        lambda spark, sf: wt._refined_grid(
            spark, {"person": 0.5, "laboratory": 0.5}, ["person", "laboratory"], 0.125
        ),
        GRID,
    ),
    "apps.untrained_weights": (
        lambda spark, sf: apps.run_full_matcher(spark, sf, train_weights=False),
        WEIGHTS,
    ),
    "dedup.fs_em_parameters": (
        lambda spark, sf: dedup.fs_em_parameters(
            _persons(spark),
            dedup.blocked_pairs(_persons(spark), key_col="nation"),
            ["seg", "bal_bucket"],
        ),
        "field STRING, m DOUBLE, u DOUBLE, w_agree DOUBLE, w_disagree DOUBLE",
    ),
    "events_analytics.funnel_counts": (
        lambda spark, sf: ea.funnel_counts(_events(spark)),
        "step_index INT, step STRING, n_users BIGINT",
    ),
    "similarity.ivf_refit_report": (
        lambda spark, sf: sim.ivf_refit_report(
            _vectors(spark), [[0.0, 0.0], [10.0, 5.0]]
        ),
        "cell BIGINT, center ARRAY<DOUBLE>",
    ),
    "queries.total_score": (q.q_total_score, WEIGHTS),
    "queries.instrument_features": (q.q_instrument_features, ALIASES),
    "queries.instrument_matching": (q.q_instrument_matching, ALIASES),
    "queries.weight_eval": (q.q_weight_eval, GRID),
    "queries.weight_walker": (q.q_weight_walker, GRID),
    "queries.media_decode_audit": (q.q_media_decode_audit, "status STRING"),
}


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("site", list(SITES))
def test_driver_built_frame_keeps_schema_and_starts_no_python_worker(
    spark, sf_small, monkeypatch, site
):
    """Every frame the site creates has its schema (names, types and
    nullability, as the JVM sees it) and no PythonRDD in its lineage."""
    run, ddl = SITES[site]
    made = []
    create = SparkSession.createDataFrame

    def spy(self, *args, **kwargs):
        df = create(self, *args, **kwargs)
        made.append(df)
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    run(spark, sf_small)
    monkeypatch.undo()
    assert len(made) == 1, f"{site} created {len(made)} frames"
    df = made[0]
    assert StructType.fromJson(json.loads(df._jdf.schema().json())) == StructType.fromDDL(ddl)
    assert "PythonRDD" not in _lineage(df), _lineage(df)


def test_local_frame_of_no_rows(spark):
    df = local_frame(spark, [], "cell BIGINT, center ARRAY<DOUBLE>")
    assert df.count() == 0
    assert df.schema == StructType.fromDDL("cell BIGINT, center ARRAY<DOUBLE>")
