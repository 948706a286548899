"""Testdata sources: raw parquet tables + the derived logical corpus views.

The reference loads everything from Postgres through pushdown subqueries
(reference: matching/datasource/DataSourceStorage.scala:25-270, one SQL
string per source).  The rebuild reads parquet and derives the same logical
shapes from the driver's TPC-H-ish synthetic tables, per FIXTURES.md §9:

* ``orders``   → documents dim (o_orderkey = document_version_id,
                 o_custkey parity = PROPOSAL/PUBLICATION, o_orderdate = date,
                 o_orderstatus = 'F' = obsolete)
* ``lineitem`` → entity affiliations (l_orderkey = document_version_id,
                 l_partkey = entity_id); l_suppkey gives a second entity
                 family so multi-type filters are exercisable
* ``part``     → titles (p_name as title text)
* ``customer`` → person dedup input
* ``documents``/``embeddings``/``events`` → LLM-data + streaming planes

Every derivation here has a verbatim SQL twin in ``queries.py`` so the
DuckDB oracle sees the exact same logical tables.

Scale note: at 100 TB these become partitioned parquet/Iceberg scans; the
derivations are pure projections so Catalyst pushes column pruning and
predicates into the scan (verify with ``df.explain`` → ``ReadSchema``,
``PushedFilters``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from puma_matcher_spark.functions import caching

RAW_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class Tables:
    """Lazy holder for the raw tables + derived corpus views of one sf dir.

    Mirrors DataSourceStorage's memoized lazy sources
    (reference: datasource/SqlDataSource.scala:34-58 — load once, cache).
    """

    spark: SparkSession
    sf_dir: str
    # memoized raw reads: spark.read.parquet runs a footer/schema-inference
    # job per call, so repeated raw() calls inside one query build would
    # launch repeated metadata jobs (SqlDataSource.scala:48 memoizes for
    # the same reason).
    _raw_cache: dict[str, DataFrame] = field(default_factory=dict, repr=False)

    def raw(self, name: str) -> DataFrame:
        if name not in RAW_TABLES:
            raise KeyError(name)
        if name not in self._raw_cache:
            self._raw_cache[name] = self.spark.read.parquet(
                f"{self.sf_dir}/{name}.parquet"
            )
        return self._raw_cache[name]

    # --- derived corpus views (logical model of the reference) ---

    def documents_dim(self) -> DataFrame:
        """Documents dimension ← orders (FIXTURES.md §9).

        SQL twin: see queries.V_DOCS — keep both in sync.

        DATA CONTRACT: one row per ``document_version_id`` (the
        reference reads this dim from a JDBC primary key,
        SqlDataSource.scala).  A parquet-sourced dim CAN carry
        duplicates (idempotency bug re-appending a snapshot), and a
        duplicated dim row amplifies every candidate that joins it —
        the relational zoo measured ×4 fan-out through the type→date
        filter chain.  The contract is DETECTED, not masked: the
        ``unique:o_orderkey`` rule in ``dq_expectations``
        (operators/quality.py expectation_report) flags violations, and
        the production recipe is to gate ingestion on that report.  An
        in-plan groupBy dedup here was built and rejected — it cost
        +60-90% on match_candidates at sf0.1 (the dim aggregate is
        re-executed per join instance), a tax on every clean run to
        mask garbage the DQ gate already catches."""
        o = self.raw("orders")
        return o.select(
            o.o_orderkey.alias("document_version_id"),
            F.when(o.o_custkey % 2 == 0, F.lit("PROPOSAL"))
            .otherwise(F.lit("PUBLICATION"))
            .alias("document_type"),
            o.o_orderdate.alias("date"),
            (o.o_orderstatus == "F").alias("obsolete"),
        )

    def entities(self) -> DataFrame:
        """Primary entity affiliation (person-like) ← lineitem partkeys."""
        li = self.raw("lineitem")
        return li.select(
            li.l_orderkey.alias("document_version_id"),
            li.l_partkey.alias("entity_id"),
        )

    def entities_secondary(self) -> DataFrame:
        """Second entity family (laboratory-like) ← lineitem suppkeys.

        Note: suppliers are so few that every one trips the N/20 frequency
        guard — useful for guard tests, not for producing pairs.
        """
        li = self.raw("lineitem")
        return li.select(
            li.l_orderkey.alias("document_version_id"),
            li.l_suppkey.alias("entity_id"),
        )

    def entities_secondary_orders(self) -> DataFrame:
        """Laboratory-like entity family ← orders customer links: docs of
        the same customer share an entity (~10 docs/customer — realistic
        lab-affiliation fan-out).  SQL twin: queries.V_ENTITIES2."""
        o = self.raw("orders")
        return o.select(
            o.o_orderkey.alias("document_version_id"),
            o.o_custkey.alias("entity_id"),
        )

    def persons(self) -> DataFrame:
        """Person dedup input ← customer (FIXTURES.md §4 analog)."""
        c = self.raw("customer")
        return c.select(
            c.c_custkey.alias("id"),
            c.c_name.alias("name"),
            c.c_nationkey.alias("nation"),
            c.c_acctbal.alias("acctbal"),
        )

    def llm_documents(self) -> DataFrame:
        return self.raw("documents")

    def llm_embeddings(self) -> DataFrame:
        return self.raw("embeddings")

    def events(self) -> DataFrame:
        """Events with ``ts`` as a proper timestamp.

        The parquet stores TIMESTAMP(NANOS); with
        ``spark.sql.legacy.parquet.nanosAsLong`` Spark surfaces it as a
        long.  Convert by integer-dividing to micros — the same
        truncation DuckDB applies reading TIMESTAMP_NS, so both engines
        see identical microsecond timestamps.
        """
        # defensive: the consuming session may not be ours (the external
        # driver builds its own) — both confs are runtime-settable and
        # required for correct nanos handling / UTC-stable collection
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        self.spark.conf.set("spark.sql.session.timeZone", "UTC")
        ev = self.raw("events")
        if dict(ev.dtypes).get("ts") == "bigint":
            ev = ev.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return ev


_TABLES_CACHE: dict[tuple[str, str], Tables] = {}


def reset_table_cache() -> None:
    """Drop every memoized Tables instance (and with it each frozen
    parquet file listing), then release every cached frame the library
    holds (``functions.caching.drain``: scored candidates, purchase
    edges, ring intermediates).  Call after REWRITING a table
    directory in-process — the memoized DataFrames pin the file listing
    observed at first read, so a regenerated sf dir would otherwise
    yield stale rows or FileNotFoundException for vanished part files.
    The external driver and the test suite never rewrite /root/testdata,
    so they never need this."""
    _TABLES_CACHE.clear()
    caching.drain()


def load_tables(spark: SparkSession, sf_dir: str) -> Tables:
    # All query semantics (year(), unix_timestamp(), collected datetimes)
    # assume UTC; the consuming session may be the external driver's, so
    # pin it here rather than only in our session factory.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Memoize per (application, sf_dir) so every query build shares one
    # Tables instance — and therefore one parquet footer read per table
    # per session instead of one per build.
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _TABLES_CACHE:
        _TABLES_CACHE[key] = Tables(spark=spark, sf_dir=sf_dir)
    return _TABLES_CACHE[key]
