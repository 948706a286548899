#!/usr/bin/env python
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from puma_matcher_spark.queries import REGISTRY  # noqa: E402
from puma_matcher_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    "entity_scores",       # J1 self-join + A4 TF-IDF roll-up (engine spine)
    "match_candidates",    # flagship: matcher → scorer → filter chain
    "match_stats",         # A7 per-doc stats over both score families
    "total_score",         # A8/W2 weighted contextual score
    "pricing_summary",     # scan/agg throughput anchor
    "dedup_exact",         # content-hash dedup
    "doc_token_stats",     # text-analysis plane
    "match_ranks",         # W6 global ranking
    "minhash_pairs",       # MinHash-LSH near-dup candidates
    "ngram_jaccard",       # exact shingle Jaccard
    "simhash",             # 64-bit fingerprints (bit-vote)
    "cosine_titles",       # J6 TF-IDF cosine self-join
    "text_match_pairs",    # A6 sentence-shingle matching
    "events_windowed",     # streaming-twin windowed aggregation
    "events_sessions",     # session_window sessionization
    "shipping_priority",   # TPC-H Q3-style 3-way join
    "local_supplier_volume",  # TPC-H Q5-style star join
]

# Round-2/3 operator planes — tracked since round 4 (baselines in
# BASELINE.md §"operator-plane bench"); the frozen spine above keeps its
# round-1 baseline so totals stay comparable across rounds.
BENCH_QUERIES_PLANES = [
    "pagerank_top",          # iterative graph plane (DF loop + checkpoint)
    "purchase_communities",  # label-propagation communities
    "events_hll_rollup",     # mergeable HLL sketch rollup
    "bm25_search",           # posting-list retrieval + BM25 scoring
    "cdc_latest_state",      # CDC latest-state fold
    "scd2_history",          # SCD2 window stack
    "zorder_values",         # Morton-layout codegen bit math
    "incremental_near_dups", # batch×corpus LSH ingest join
]

# Round-6/7 additions — tracked since round 7 (VERDICT r6 #3: the blocked
# SemDeDup already had one plan pathology only ad-hoc timing caught; this
# group makes a regression visible across rounds).  Baselines in
# BASELINE.md §"round-6 plane bench".
BENCH_QUERIES_ROUND6 = [
    "semantic_dedup_blocked",  # rare-shingle candidates + cosine verify + CC
    "pmi_bigrams",             # in-row bigram build + two aggs
    "events_psi",              # drift monitor: scalar + agg + dense grid
    "ngram_containment",       # shingle equi-join containment
    "manifest_roundtrip",      # Python DataSource per-file text scan
    "simhash_near_dups",       # r7: 128-bit block-combination near-dups
    "semantic_contamination",  # r7: cross-frame blocked cosine leak scan
    "centroid_drift",          # r7: per-label embedding drift monitor
    "curation_report",         # r8: 3-stage reject accounting + barriers
    "media_decode_audit",      # r8: quarantining real-codec decode audit
]


def _media_payloads(n_per_format: int) -> dict[str, list[bytes]]:
    """n 128x128 images per codec, encoded by the independent test
    encoders (imported from ``tests/``)."""
    import numpy as np
    from test_jpeg import encode_jpeg, encode_jpeg_progressive
    from test_multimodal import _bmp_bytes, _gif_bytes, _png_bytes_generic, _ppm_bytes
    from test_tiff import encode_tiff
    from test_vp8l import encode_vp8l

    dim = 128
    rng = np.random.default_rng(0)
    out = {}
    pal = rng.integers(0, 256, size=(64, 3), dtype=np.uint8)
    for _ in range(n_per_format):
        # smooth-ish content (realistic for photos, kinder to PNG filters)
        base = rng.integers(0, 64, size=(dim, dim, 3), dtype=np.int16)
        px = np.clip(
            np.cumsum(np.cumsum(base - 31, axis=0), axis=1) % 256, 0, 255
        ).astype(np.uint8)
        idx = rng.integers(0, 64, size=(dim, dim), dtype=np.uint8)
        out.setdefault("ppm", []).append(_ppm_bytes(px))
        out.setdefault("bmp", []).append(_bmp_bytes(px))
        out.setdefault("png", []).append(_png_bytes_generic(px))
        out.setdefault("gif", []).append(_gif_bytes(idx, pal))
        out.setdefault("jpeg", []).append(encode_jpeg(px, quality=85))
        out.setdefault("jpeg_prog", []).append(encode_jpeg_progressive(px, quality=85))
        out.setdefault("webp_vp8l", []).append(
            encode_vp8l(pal[idx], cache_bits=6, backrefs=True)
        )
        out.setdefault("tiff_lzw", []).append(encode_tiff(px, compression=5))
    return out


def _time_media(spark, n_per_format: int = 8) -> float | None:
    """One mixed-format frame (8 codecs x n images at 128x128) through the
    REAL distributed decode path (mapInPandas) — min-of-3 like the query
    groups.  Payloads come from the independent test encoders; workload
    generation is outside the timed region.  Returns None (group omitted)
    if the encoders are unavailable, so the bench contract never breaks
    on a stripped checkout.  Per-codec decode rates: PLANS.md
    "Media-plane decode throughput (round 4)"."""
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        sys.path.insert(0, os.path.join(here, "tests"))
        payloads = _media_payloads(n_per_format)

        from puma_matcher_spark.llmdata.multimodal import (
            extract_media_features_decoded,
        )
    except ImportError:
        return None  # stripped checkout: test encoders absent

    media = None
    try:
        blobs = [b for fmt in payloads.values() for b in fmt]
        media = spark.createDataFrame(
            [(i, bytearray(b)) for i, b in enumerate(blobs)],
            "media_id LONG, payload BINARY",
        ).repartition(32).persist()
        n = media.count()  # materialize the input outside the timed region
        assert n == len(blobs)
        best = float("inf")
        for _ in range(3):
            start = time.monotonic()
            extract_media_features_decoded(media).count()
            best = min(best, time.monotonic() - start)
        return round(best, 3)
    except Exception as e:
        # a decode/runtime failure is a REGRESSION, not a missing group —
        # keep the bench contract (one JSON line) but say so loudly
        print(f"bench: media group FAILED: {type(e).__name__}: {e}", file=sys.stderr)
        return None
    finally:
        if media is not None:
            media.unpersist()


def _time_streaming(
    spark, n_docs: int = 120, n_runs: int = 3
) -> tuple[float, dict] | None:
    """End-to-end wall time of the streaming ingest app (VERDICT r6 #6):
    an availableNow drain of an ``n_docs``-file manifest through the
    manifest_text stream reader + the full admission pipeline (exact
    anti-join, LSH near-dup verify, quality gate, idempotent batch_id
    sink).  Workload generation sits outside the timed region; docs are
    token-unique so the expected admission count is exact.

    ``n_runs`` full app runs, each against fresh out/checkpoint dirs
    (same manifest + source files; the session stays warm across runs).
    The HEADLINE is the min of the WARM runs (run 2 onward) — r10's
    single cold sample recorded 26.5 s on a path whose warm cost was
    ~14 s, and an n=1 cold number can never be adjudicated (r10 verdict
    #1); the cold first run still rides in the sidecar samples, and
    every run carries a startup/drain SPLIT (drain = sum of reported
    batchDuration; startup = total - drain) so a regression is
    attributable to the pipeline vs stream machinery (VERDICT r7 #7).
    Returns (headline, sidecar) or None only on setup failure so the
    bench contract never breaks."""
    import shutil
    import tempfile

    from puma_matcher_spark.apps import run_streaming_ingest_app

    root = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        src = os.path.join(root, "incoming")
        os.makedirs(src)
        lines = ["doc_id,file_path"]
        for i in range(n_docs):
            p = os.path.join(src, f"d{i}.txt")
            with open(p, "w", encoding="utf-8") as fh:
                fh.write(" ".join(f"t{i}x{j}" for j in range(30)))
            lines.append(f"{i},{p}")
        manifest = os.path.join(root, "manifest.csv")
        with open(manifest, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        corpus = spark.createDataFrame(
            [(10_000 + i, f"corpus document c{i}a c{i}b c{i}c c{i}d") for i in range(10)],
            ["doc_id", "text"],
        )
        samples: list[float] = []
        splits: list[dict] = []
        for run in range(n_runs):
            out = os.path.join(root, f"admitted{run}")
            ckpt = os.path.join(root, f"ckpt{run}")
            start = time.monotonic()
            q = run_streaming_ingest_app(spark, manifest, corpus, out, ckpt)
            if not q.awaitTermination(300):
                q.stop()
                raise TimeoutError("streaming ingest did not drain in 300s")
            elapsed = round(time.monotonic() - start, 3)
            drain = round(
                sum(
                    p["batchDuration"] for p in (q.recentProgress or [])
                )
                / 1000.0,
                3,
            )
            n = spark.read.parquet(out).count()
            assert n == n_docs, f"streaming ingest admitted {n}/{n_docs}"
            samples.append(elapsed)
            splits.append(
                {
                    "total": elapsed,
                    "drain": drain,
                    "startup": round(elapsed - drain, 3),
                    "n_batches": len(q.recentProgress or []),
                }
            )
        first_warm = 1 if len(samples) > 1 else 0
        warm = samples[first_warm:]
        headline = min(warm)
        med = _median(warm)
        # index the WARM slice so a cold total that rounds equal to the
        # warm minimum can't mis-attribute its startup-heavy split
        best_split = splits[first_warm + warm.index(headline)]
        sidecar = {
            "samples": samples,
            # median/MAD over the warm runs only — with them over ALL
            # samples the cold outlier inflates MAD and the comparison
            # envelope; with MAD hardcoded 0 the envelope collapses to
            # 0.05 s and every run reads DRIFT (r11 review)
            "median": med,
            "mad": _median([abs(x - med) for x in warm]),
            "estimator": "min_warm",
            "split": best_split,
            "splits": splits,
        }
        return headline, sidecar
    except Exception as e:
        print(
            f"bench: streaming group FAILED: {type(e).__name__}: {e}",
            file=sys.stderr,
        )
        return None
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _time_sentinel(spark) -> float:
    """Host-drift probe (r10 verdict #2): a FIXED, sf-independent,
    codegen-only workload timed between bench groups.  The code never
    changes round to round, so sentinel spread WITHIN a run measures the
    host (GC, CPU contention, thermal state) and a sentinel shift
    ACROSS rounds separates box drift from real regressions — r10 spent
    a worktree A/B proving `simhash_near_dups`' +55% was the host; the
    sentinel series makes that call readable straight off the sidecar."""
    start = time.monotonic()
    spark.range(500_000_000).selectExpr("sum(id * 2 + 1) AS s").collect()
    return round(time.monotonic() - start, 3)


#: timed runs per query (after one warm run).  Raised 3 → 5 in round 6 so
#: the output carries median + MAD dispersion: the r5 verdict flagged a
#: broad ±10-30% drift vs r4 that single min-of-N numbers can't attribute
#: (host noise vs regression).  The HEADLINE per-query value stays the min
#: of the FIRST 3 samples — E[min of 5] < E[min of 3], so a min over all
#: runs would read systematically faster than every round-1..5 baseline
#: with zero real change; median/MAD use all samples.
BENCH_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
HEADLINE_RUNS = 3


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def _cold_sample(spark, fn, sf_dir: str) -> float:
    """Designated CACHE-COLD sample (r11 verdict #2): drop every layer
    of in-session caching a query can ride — ``reset_table_cache()``
    clears the memoized tables and drains ``functions.caching`` (the
    keyed memo of scored candidates and purchase edges, and the
    persist_rotating ring) — then time ONE run that must rebuild them all.
    Sidecar-only transparency: the headline estimator (min-of-first-3
    after a warm run) is byte-identical to rounds 1-11, so cross-round
    comparability holds; the cold number sits next to min/median so a
    persist-wave row's steady-state vs cache-build cost is readable per
    round."""
    from puma_matcher_spark.sources.testdata import reset_table_cache

    reset_table_cache()
    start = time.monotonic()
    fn(spark, sf_dir).count()
    return round(time.monotonic() - start, 3)


def _time_queries(
    spark, sf_dir: str, names: list[str], samples_out: dict[str, dict]
) -> dict[str, float]:
    timings: dict[str, float] = {}
    for name in names:
        fn = REGISTRY[name].spark_fn
        cold = _cold_sample(spark, fn, sf_dir)
        fn(spark, sf_dir).count()  # warm once (plan + IO caches)
        runs: list[float] = []
        for _ in range(BENCH_RUNS):
            start = time.monotonic()
            fn(spark, sf_dir).count()
            runs.append(round(time.monotonic() - start, 3))
        med = _median(runs)
        mad = _median([abs(x - med) for x in runs])
        # headline estimator (r9 verdict #8): min-of-first-3 is the
        # round-comparable default, but for queries whose dispersion is
        # wide (MAD/median > 10% — e.g. match_stats samples spanned
        # 1.6–3.1 s in r9) the min is so noisy that ±40% round-over-round
        # swings carry no signal; there the MEDIAN of all samples is the
        # headline.  The sidecar records both (samples + estimator tag),
        # so bench_compare can re-derive either series across rounds.
        noisy = med > 0 and (mad / med) > 0.10
        timings[name] = round(med, 3) if noisy else min(runs[:HEADLINE_RUNS])
        samples_out[name] = {
            "samples": runs,
            "median": round(med, 3),
            "mad": round(mad, 3),
            "estimator": "median" if noisy else "min3",
            "min3": min(runs[:HEADLINE_RUNS]),
            "cold": cold,
        }
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("puma-matcher-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # SPARK_GRAFT_BENCH_ONLY=a,b,c restricts both groups — used by the
    # sf1.0 scaling study (scripts/gen_sf1.py), never by the driver
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    keep = set(only.split(",")) if only else None
    spine = [q for q in BENCH_QUERIES if keep is None or q in keep]
    planes = [q for q in BENCH_QUERIES_PLANES if keep is None or q in keep]
    round6 = [q for q in BENCH_QUERIES_ROUND6 if keep is None or q in keep]

    dispersion: dict[str, dict] = {}
    # the sentinel brackets every group: spread within the series =
    # host noise during THIS run; shift vs earlier rounds = box drift.
    # Skipped on SPARK_GRAFT_BENCH_ONLY runs — their sidecar fails the
    # stamp check anyway, so the series would never be consumed (r11
    # review).  Warmed twice: the first call pays codegen compile
    # (~3.5 s) and the JIT keeps deepening for a few invocations.
    def _sentinel_shot() -> None:
        if keep is None:
            sentinel.append(_time_sentinel(spark))

    sentinel: list[float] = []
    if keep is None:
        _time_sentinel(spark)
        _time_sentinel(spark)
    _sentinel_shot()
    _sentinel_shot()
    timings = _time_queries(spark, sf_dir, spine, dispersion)
    total = round(sum(timings.values()), 3)  # spine only: round-1-comparable
    _sentinel_shot()
    plane_timings = _time_queries(spark, sf_dir, planes, dispersion)
    plane_total = round(sum(plane_timings.values()), 3)
    _sentinel_shot()
    r6_timings = _time_queries(spark, sf_dir, round6, dispersion)
    _sentinel_shot()
    groups = {
        "spine_total": total,
        "operator_planes_total": plane_total,
        "round6_total": round(sum(r6_timings.values()), 3),
    }
    media = _time_media(spark) if keep is None else None
    if media is not None:
        # tracked since round 5 (baseline in BASELINE.md §"media plane");
        # a separate group so spine/plane totals stay round-comparable
        r6_timings["media_decode_mixed"] = media
        groups["media_total"] = media
    streaming = _time_streaming(spark) if keep is None else None
    if streaming is not None:
        # tracked since round 7 (baseline in BASELINE.md §"streaming");
        # r11: headline = min of the WARM runs (cold run 1 rides in the
        # sidecar samples); per-run startup/drain splits in the sidecar
        headline, sidecar = streaming
        r6_timings["streaming_ingest_120docs"] = headline
        groups["streaming_total"] = headline
        dispersion["streaming_ingest_120docs"] = sidecar
    _sentinel_shot()
    # the full sample arrays made the r6 stdout line exceed the driver's
    # 2000-byte tail capture (BENCH_r06.json landed with parsed=null) —
    # keep the ONE stdout line compact and put dispersion in a sidecar
    here = os.path.dirname(os.path.abspath(__file__))
    disp_path = os.path.join(here, "BENCH_DISPERSION.json")
    with open(disp_path, "w", encoding="utf-8") as fh:
        json.dump(
            {
                "sf": float(sf),
                "runs_per_query": BENCH_RUNS,
                # run stamp: bench_compare cross-checks these against the
                # CURRENT blob so a stale sidecar from a different run
                # can't pair mismatched median/MAD with the mins
                "spine_total": total,
                "sentinel": {
                    "samples": sentinel,
                    "workload": "range(5e8).sum(id*2+1) codegen, local[32]",
                },
                "dispersion": dispersion,
            },
            fh,
        )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": {**timings, **plane_timings, **r6_timings},
                "sf": float(sf),
                "groups": groups,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
