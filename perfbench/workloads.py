"""The benchmarked passes and the checks on their outputs.

A pass runs one shipped app the way a user runs it and materialises
every column of every output: each output is collected and fingerprinted
(``.count()`` alone would let Catalyst prune columns).  A fingerprint is
order-insensitive — the row count plus a hash of the sorted, rounded
rows — so it does not depend on partitioning or on the input layout the
seed picks.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")

def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 4) + 0.0
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def fingerprint_rows(columns: list[str], rows) -> list:
    """``[row_count, sha256]`` over rows given as tuples in ``columns``
    order; columns are sorted by name first, so two engines that name
    their columns alike agree."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        json.dumps([_norm(row[i]) for i in order], default=str) for row in rows
    )
    digest = hashlib.sha256()
    digest.update(json.dumps(sorted(columns)).encode())
    for line in lines:
        digest.update(line.encode())
        digest.update(b"\n")
    return [len(lines), digest.hexdigest()]


def fingerprint(df) -> list:
    return fingerprint_rows(df.columns, df.collect())


def matcher_pass(spark, data_dir: str, out_dir: str) -> dict[str, list]:
    """FullMatcherApp: match creator, saver and weight training."""
    from puma_matcher_spark import apps

    r = apps.run_full_matcher(spark, data_dir, train_weights=True)
    return {
        "candidates": fingerprint(r.candidates),
        "statistics": fingerprint(r.statistics),
        "weights": fingerprint(r.weights),
        "total_scores": fingerprint(r.total_scores),
    }


def dedup_pass(spark, data_dir: str, out_dir: str) -> dict[str, list]:
    """The dedup apps: document curation with a partitioned publish,
    then person, blocked-pair and document dedup through the registry."""
    from puma_matcher_spark import apps
    from puma_matcher_spark.queries import REGISTRY

    published = os.path.join(out_dir, "curated")
    cur = apps.run_curation_app(
        spark, data_dir, out_root=published, source="parquet"
    )
    out = {
        "curation.published": fingerprint(
            spark.read.parquet(published).select(
                "doc_id", "lang", "source", "clean_text", "n_tokens_removed"
            )
        ),
        "curation.stage_counts": fingerprint_rows(
            list(cur.stage_counts), [list(cur.stage_counts.values())]
        ),
    }
    for name in ("dedup_person_chain", "dedup_components_cc", "dedup_exact"):
        out[name] = fingerprint(REGISTRY[name].spark_fn(spark, data_dir))
    return out


PASSES = {"matcher": matcher_pass, "dedup": dedup_pass}


def load_expected() -> dict:
    with open(EXPECTED_PATH, encoding="utf-8") as fh:
        return json.load(fh)


def check(outputs: dict[str, list], expected: dict[str, list]) -> list[str]:
    """Names of outputs whose fingerprint differs from the expected one
    (a missing or extra output counts as differing)."""
    return sorted(
        name
        for name in set(outputs) | set(expected)
        if outputs.get(name) != expected.get(name)
    )
