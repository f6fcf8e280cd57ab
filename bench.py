"""Headline-query benchmark. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Runs each headline query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Methodology (VERDICT r6 #1 — make the bench answer "did we regress?"):
- every content-addressed staging any headline query reads is built
  BEFORE the timed loop, so no query's sample ever carries an index
  build that belongs to the build-once half of a serve split;
- each query is timed 3 times warm (the whole suite runs as pass 1, 2, 3
  so pass 1 absorbs residual JVM/codegen cold-start for all queries) and
  the reported per-query number is the MEDIAN; "spread" records
  (max - min) per query so round-over-round deltas can be separated from
  machine noise — a delta inside the spread is noise, not regression.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Local-mode driver heap defaults to 1g, which a 50-query sf0.1 suite in
# one JVM exhausts (checkpoint blocks + shuffle buffers accrete faster
# than GC reclaims; observed: GCLocker allocation-retry thrash from
# ~query 30 on, heap death at query 50). Same idiom as tools/bench_*.py;
# must be set before the JVM launches, and setdefault keeps any
# caller-provided submit args authoritative.
os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--driver-memory 8g pyspark-shell")

N_SAMPLES = 3

# Original 5 anchors first (BENCH_r01 comparability), then one
# representative per family added in round 2.
HEADLINE = [
    "sessionize",
    "avg_session_time",
    "unique_urls_per_session",
    "most_engaged_users",
    "per_minute_load",
    "region_revenue",           # J1 broadcast star join
    "top_orders_per_customer",  # O3 per-group top-k
    "exact_dedup_docs",         # N1 content-hash dedup
    "near_dup_jaccard",         # N2 shingle-join similarity
    "near_dup_embedding_lsh",   # N2 embedding-cosine near-dup (LSH scale path)
    "cosine_topk_exact",        # N3/F8 vector top-k
    "doc_lang_id",              # N4 text scoring
    "load_features",            # W5 range-frame features
    "udf_user_trend",           # D3 Arrow grouped-map
    "elb_sessionize",           # P1-P5 real-format parse path
    "stream_per_minute_load",   # T1 streaming twin
    "corpus_curation_pipeline", # N1+N4 composed flagship
    "incremental_sessionize_merge",  # W2+ state merge (round 3)
    "dq_referential_integrity",      # N+ audit battery (round 3)
    "multimodal_synth_codec_audit",  # N5 codec encode/decode (round 4)
    # ivf_pq_serve_topk rotated out r20 (query budget): the filtered
    # serve added below times a strict SUPERSET of the same staged
    # serve plan (identical DPP-pruned list seek + ADC scoring, plus
    # the predicate semi-join); the unfiltered point stays priced in
    # BENCH_ann.json. Registered and sweep-checked as before.
    # ivf_pq_serve_fresh_topk rotated out r15 (byte budget): the residual
    # rung below exercises the same fresh-batch routing plus the faithful
    # IVFADC scoring — strictly a superset of the retired plan.
    "near_dup_incremental_minhash",  # N2 incremental dedup vs staged band store (round 7)
    "ivf_pq_residual_serve_fresh_topk",      # N3 residual (IVFADC) fresh serve (round 8)
    "ivf_pq_trained_rerank_topk",            # N3 full production stack: trained + re-rank (round 10)
    # ivf_pq_trained_rerank_k64_topk rotated out r17 (byte budget): the
    # k=256 trained re-rank above exercises the identical serve plan at
    # the production codebook resolution; the k=64 point stays priced in
    # BENCH_ann.json. Registered and sweep-checked as before.
    "elb_geo_traffic",                       # J6+ longest-prefix-match CIDR enrichment (round 11)
    "cm_heavy_hitters",                      # A6+ count-min frequency sketch (round 12)
    "exact_dedup_bloom_prefilter",           # N1+ Bloom membership prefilter (round 12)
    # part_copurchase_pagerank (inline edge build + power iteration)
    # rotated out r16 (VERDICT r15 #6): the staged serve twin below times
    # the same power iteration against the same oracle, and the edge
    # BUILD cost it uniquely measured is now carried by the staged
    # store's build half (BENCH_graph.json build_* rows). Registered and
    # sweep-checked as before.
    # hll_explicit_user_counts rotated out r18 (byte budget): the sketch
    # family keeps three timed representatives (cm_heavy_hitters,
    # kmv_distinct_users, gk_value_quantiles) with the same
    # register-fold profile. Registered and sweep-checked as before.
    "hourly_load_anomalies_mad",             # A+ robust anomaly screen (round 12)
    "part_copurchase_triangles",             # G2 degree-oriented triangles, persisted invariant (round 13)
    "part_copurchase_hops",                  # G3 BFS frontier expansion (round 13)
    "part_pair_affinity",                    # G+ market-basket lift scoring (round 13)
    "near_dup_banded_minhash_explicit",      # N2 hash-verified MinHash banding (round 13)
    "simhash_near_dups_explicit",            # N2 hash-verified SimHash (round 13)
    "dup_span_trim_docs",                    # N1++ span-level dedup + trim (round 14)
    "sorted_neighborhood_near_dups",         # N2++++ sort-proximity blocking (round 14)
    "doc_lm_perplexity",                     # N4++ bigram-LM quality scoring (round 14)
    "kmv_distinct_users",                    # A6+++ bottom-k distinct sketch (round 14)
    # r15: the G-family serves from the staged edge store (the build/serve
    # split ANN and dedup already had) — the staged twins REPLACE their
    # inline rungs here (inline part_copurchase_pagerank stays as the one
    # edge-build continuity anchor; every twin is oracle-checked against
    # the same SQL). Retired from the headline for byte budget, still
    # registered: ivf_pq_adc_topk / ivf_pq_trained_serve_topk /
    # ivf_pq_serve_rerank_topk (superseded by the trained re-rank stack)
    # and the two seeded minhash delivery rungs (explicit twins cover them).
    "part_copurchase_pagerank_staged",       # G1 staged-edge serve twin (round 15)
    # weighted_copurchase_pagerank_staged rotated out r17 (byte budget):
    # same staged serve + power-iteration profile as the unweighted twin
    # above with one extra weight column — nothing new to time.
    # Registered and sweep-checked as before.
    "purchase_hits_staged",                  # G5 staged serve (round 15)
    # directed_purchase_pagerank_staged rotated out r18 (byte budget):
    # same staged-serve power-iteration profile as the unweighted twin
    # above plus the broadcast dangling-sum — nothing new to time.
    # Registered and sweep-checked as before.
    "copurchase_components_staged",          # G4 staged serve (round 15)
    "payload_near_dups",                     # N5+ perceptual aHash near-dup (round 15)
    "corpus_lang_quality_buckets",           # N4+++ CCNet lang x perplexity grid (round 15)
    "semantic_dedup_corpus",                 # N3+ SemDeDup keep-one corpus (round 15)
    "copurchase_communities_lpa",            # G6 label-propagation communities, staged serve (round 15)
    "copurchase_coreness",                   # G7 h-index k-core decomposition, staged serve (round 15)
    # kmv_event_type_overlap rotated out r19 (byte budget): the KMV
    # family keeps kmv_distinct_users as its timed representative — the
    # overlap rung folds the same bottom-k registers plus one pairwise
    # union-rerank, nothing new to time. Registered and sweep-checked.
    "rake_keyphrases",                       # N4+++++ document-local keyphrase extraction (round 15)
    "phrase_search_inverted_staged",         # IR+ staged positional-postings phrase serve, DPP-pruned (round 16)
    "gk_value_quantiles",                    # A-gk explicit GK summary, hash-verified estimate (round 17)
    "extract_main_text",                     # N4-ext jusText-class boilerplate removal (round 17)
    "quality_classifier_scored_auc",         # QC trained IRLS filter: train -> score -> eval (round 18)
    "copurchase_weighted_distances",         # G12 min-plus Bellman-Ford from the staged edge store (round 18)
    "session_length_ridge",                  # RG exact normal-equation trainer, one moment pass (round 19)
    "ivf_pq_serve_filtered_topk",            # N3-filt attribute-filtered ANN serve, predicate pushed into the list scan (round 20)
    # ivf_pq_serve_postfiltered_topk / ivf_pq_serve_filtered_rerank_topk /
    # ivf_pq_serve_filtered_retracted_topk are registry-only: same staged
    # serve plan family as the line above (widened probes / rerank tail /
    # one extra anti-join); the strategy crossover is priced where it
    # belongs, BENCH_annfilter.json.
    # copurchase_spectral_profile / copurchase_spectral_quadrants are
    # registry-only for the same reason as the bipartition below: 2×48
    # checkpointed rounds of tiny joins times the scheduler, and the
    # cadence question has its own artifact (BENCH_spectral.json).
    # copurchase_spectral_bipartition is registry-only: 48 checkpointed
    # rounds of tiny joins means timing it times the scheduler, and its
    # per-round profile is the staged join+agg shape pagerank_staged
    # already times. Hash-checked in every sweep as usual.
    # copurchase_deterministic_walks is registry-only: same staged-serve
    # join+window profile per step as coreness, nothing new to time.
    # ccnet_grid_mix (the grid sampler) is registry-only: one map
    # predicate over the bucketing frame — timing it re-times the grid.
    # near_dup_jaccard_prefix is deliberately NOT a headline line: on the
    # fixture's uniform-vocab corpus the prefix plan's extra shuffles cost
    # more than the candidate reduction saves (its regime is Zipfian hot
    # shingles — crossover measured in BENCH_dedup.json prefix_zipf_*).
]


def _prestage(spark, sf_dir: str) -> None:
    """Build every content-addressed artifact a headline query reads, so
    the timed loop measures SERVING, never an interleaved index build."""
    from dataengineerchallenge_spark.queries.dedup import (
        _staged_minhash_bands,
        _staged_minhash_bands_appended,
        stage_bucketed_band_store,
    )
    from dataengineerchallenge_spark.queries.graph import _staged_copurchase_edges
    from dataengineerchallenge_spark.queries.search import _staged_inverted_index
    from dataengineerchallenge_spark.queries.vectors import (
        _staged_fresh_query_batch,
        _staged_ivfpq_index,
        _staged_ivfpq_residual_index,
        _staged_ivfpq_vectors,
        _staged_trained_ivfpq_index,
        _staged_trained_ivfpq_vectors,
    )

    from dataengineerchallenge_spark.queries.vectors import _PQ_PROD_K

    def _staged_trained_ivfpq_index_prod_k(s, d):
        return _staged_trained_ivfpq_index(s, d, _PQ_PROD_K)

    for stage in (
        _staged_ivfpq_index,
        _staged_ivfpq_residual_index,
        _staged_ivfpq_vectors,
        _staged_trained_ivfpq_index,
        _staged_trained_ivfpq_index_prod_k,
        _staged_trained_ivfpq_vectors,
        _staged_fresh_query_batch,
        _staged_minhash_bands,
        _staged_minhash_bands_appended,
        stage_bucketed_band_store,
        _staged_copurchase_edges,
        _staged_inverted_index,
    ):
        try:
            stage(spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 — keep staging the rest
            # stderr only: stdout carries the one JSON result line
            print(f"prestage {stage.__name__} failed: {exc!r}", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as e
    from dataengineerchallenge_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = dict(e.queries())
    names = [n for n in HEADLINE if n in qs]

    # warm-up: absorb one-time JVM/codegen/file-listing cost with the SAME
    # noop-write plan shape being measured
    try:
        qs[names[0]](spark, sf_dir).write.format("noop").mode("overwrite").save()
    except Exception:  # noqa: BLE001 — warm-up only; the timed loop records it
        pass

    _prestage(spark, sf_dir)

    # warm the Python/Arrow worker pool too (spark.python.worker.reuse keeps
    # it alive): spawning one worker per core is a ~5s one-time infra cost
    # that would otherwise be charged to whichever pandas-UDF query runs
    # first, not a property of that query's plan
    import pandas as pd  # noqa: F401  (worker-side import warm)
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    _warm = pandas_udf(lambda v: v, "double")  # no hints: local pd alias
    # isn't resolvable by the type-hint inferrer under future-annotations

    n_cores = spark.sparkContext.defaultParallelism
    spark.range(0, n_cores * 100, 1, n_cores).select(
        _warm((F.col("id") * 1.0))
    ).write.format("noop").mode("overwrite").save()

    # Per-query isolation: one failing query must never zero the whole
    # artifact — record the error class under "errors" and keep timing the
    # rest. Samples run as whole-suite passes (1..N_SAMPLES) rather than
    # back-to-back per query, so sample 1 absorbs each query's residual
    # cold-start and samples 2..N are uniformly warm.
    samples: dict[str, list[float]] = {n: [] for n in names}
    errors: dict[str, str] = {}
    for _ in range(N_SAMPLES):
        for name in names:
            if name in errors:
                continue
            t0 = time.time()
            try:
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — isolate, classify, continue
                errors[name] = type(exc).__name__
                continue
            samples[name].append(time.time() - t0)

    # an errored query is reported ONLY under "errors": its surviving
    # samples are the cold/partial ones the median methodology exists to
    # exclude, and a query must never appear in both maps
    timings = {
        n: round(statistics.median(s), 3)
        for n, s in samples.items()
        if s and n not in errors
    }
    spread = {
        n: round(max(s) - min(s), 3)
        for n, s in samples.items()
        if len(s) > 1 and n not in errors
    }
    # actual per-query sample window, so drift tools can test "does a
    # prior round's number sit inside what this machine produces today"
    # against the real min..max rather than a symmetric half-spread
    # reconstruction (ADVICE r7 on tools/bench_variance.py)
    qmin = {
        n: round(min(s), 3) for n, s in samples.items() if s and n not in errors
    }
    qmax = {
        n: round(max(s), 3) for n, s in samples.items() if s and n not in errors
    }
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None
    result = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "samples": N_SAMPLES,
    }
    if errors:
        result["errors"] = errors
    # Spread + actual sample window go to a SIDECAR file, not stdout:
    # the driver captures only the last 2,000 bytes of stdout, and the
    # r8 line with qmin/qmax inline reached ~3.0 KB — the head (metric,
    # value, medians) was truncated and BENCH_r08.json parsed as null
    # (VERDICT r8 What's-wrong #1). tools/bench_variance.py reads the
    # sidecar for the min..max window.
    detail = dict(result, spread=spread, qmin=qmin, qmax=qmax)
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_detail.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    # compact separators: the default ", "/": " rendering spends ~2
    # bytes per key on whitespace — at 52 headline queries that alone
    # pushed the line over budget (r15); compact keeps the FULL
    # per-query map on stdout for ~110 fewer bytes, same JSON.
    line = json.dumps(result, separators=(",", ":"))
    # guard: the driver-facing line must stay far inside the 2,000-byte
    # tail capture, or the round ships with no parseable perf signal.
    # DEGRADE, don't die (ADVICE r9): if the headline list ever grows the
    # line past the budget, the suite has already run and the sidecar is
    # written — print a reduced-but-parseable line (totals + pointer)
    # instead of crashing with no stdout JSON at all, which was the exact
    # failure mode the sidecar split exists to prevent.
    if len(line) >= 1800:
        print(
            f"WARNING: full bench line {len(line)}B >= 1800B budget; "
            "emitting reduced line — per-query medians in BENCH_detail.json",
            file=sys.stderr,
        )
        reduced = {
            k: v for k, v in result.items() if k != "queries"
        }
        reduced["queries_in"] = "BENCH_detail.json"
        reduced["n_queries"] = len(timings)
        line = json.dumps(reduced, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
