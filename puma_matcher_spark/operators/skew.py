"""Scan parallelism for map-side kernels.

The reference's skew strategy is *semantic* frequency capping (SURVEY.md
§4 "skew/explosion mitigation" — drop hot entities).  Shuffle partitioning
has one owner, the session (session.py): AQE's skew join splits oversized
join partitions and its coalescing merges small ones, so no operator
salts keys or sets its own shuffle width.  What AQE cannot change is the
parallelism of a map-side stage, which follows the input splits;
:func:`spread_input` covers that case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_input(df: DataFrame) -> DataFrame:
    """Raise scan parallelism for heavy map-side expression work.

    Map-side operators (shingling, fingerprinting) pipeline their heavy
    expressions with the scan, so their parallelism equals the input
    split count.  A 100 TB corpus has thousands of splits (this becomes
    a no-op); small single-row-group fixtures would run serially — when
    the scan has materially fewer splits than the session's shuffle
    parallelism, round-robin repartition the (cheap, pre-explode) rows.

    Measured at sf0.1, whose documents table is one file with one row
    group (4 cores, local[4], 4 interleaved pairs, with vs without):
    ``minhash_pairs`` 1.66 vs 2.83 s, ``incremental_near_dups`` 1.52 vs
    2.45 s, ``llm_curation`` 3.90 vs 4.59 s, ``text_match_pairs`` 1.45
    vs 1.78 s; ``ngram_jaccard`` (4.83 vs 4.80 s) and
    ``ngram_containment`` (0.73 vs 0.78 s) are flat.  The split probe
    (``getNumPartitions``, which under AQE runs the query stages below
    ``df`` as jobs of their own) costs a warm perfbench dedup pass 2
    calls, 1 job and at most 0.08 s.
    """
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    try:
        if df.rdd.getNumPartitions() >= max(2, target // 2):
            return df
    except Exception:
        return df
    return df.repartition(target)
