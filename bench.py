"""Benchmark: run the headline query suite and print ONE JSON line.

Usage: ``python bench.py`` — env knobs:
- ``SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1)
- ``SPARK_GRAFT_CPUS``   (default 32)

Each query is forced end-to-end with a noop sink (full computation, no
driver collect — the honest distributed-execution cost). Output:
``{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dataflow_flex_pyarrow_to_gds_spark import get_spark
from dataflow_flex_pyarrow_to_gds_spark import queries as catalog

#: Headline set: every operator family, weighted toward the expensive ones
#: (joins, LSH dedup, similarity) that dominate at scale.
HEADLINE = [
    "graph_load_stats",
    "graph_edge_resolution",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "window_top_orders",
    "agg_distinct_parts",
    "dedup_exact_groups",
    "dedup_minhash_pairs",
    "dedup_simhash_pairs",
    "text_stats",
    "similarity_topk",
    "similarity_knn_join",
    "embedding_near_dup",
    "events_hourly",
    "events_sessionize",
    "asof_purchase_click",
    "range_join_shipments",
    # round 4: quality-filter family + the end-to-end curation funnel
    "text_quality_gopher",
    "dedup_semantic_groups",
    "curation_full_funnel",
    "dedup_repeated_passages",
    # round 5: passage removal (cleaned-text emission), PII redaction,
    # composite-blocked edit distance (block count ∝ corpus — the
    # no-straggler stress shape)
    "dedup_passage_removal",
    "text_pii_redact",
    "dedup_edit_distance",
    "text_contamination",
    # round 5: line-level boilerplate removal, concat-and-chunk packing
    # (distributed prefix sum), token-budget mixture sampling
    "dedup_boilerplate_lines",
    "sequence_packing",
    "sample_token_budget",
    "sample_mixture_weights",
    "similarity_sq8_topk",
    "graph_pagerank",
    "similarity_matryoshka_topk",
    "dedup_incremental",
    # round 5 (second batch): exact prefix-filter set-similarity join
    # (t=0.9 — the high-threshold regime prefix filtering is for),
    # decontamination removal, bigram LM, BM25 retrieval
    "dedup_set_similarity",
    "text_decontaminate",
    "text_bigram_logprob",
    "text_bm25_topk",
    # round 6: bucketed-layout PageRank (includes the one-time bucketed
    # write; the plan win is the deleted per-iteration edge exchange),
    # batch BM25 over a query table, persisted-index incremental dedup
    # (corpus banding amortized to a build step), streaming-admission
    # batch twin (curation + index-probe dedup in one pass)
    "graph_pagerank_bucketed",
    "text_bm25_join",
    "dedup_incremental_indexed",
    "curation_admission",
    # round 7: model-based quality scoring (hashed-linear classifier,
    # one narrow zero-shuffle pass) and embedding-cluster topic
    # balancing (literal centroids + per-cluster token budget)
    "text_quality_classifier",
    "sample_cluster_balance",
    # round 7 (second batch): Resource-Allocation link prediction
    # (wedge join → partial-agg → TakeOrdered), synchronous label
    # propagation (3 rounds, broadcast labels over checkpointed edges),
    # token-budget shard assignment (distributed prefix sum)
    "graph_link_prediction",
    "graph_label_propagation",
    "sample_shard_assignment",
    # round 7 (third batch): the banded minhash configuration with
    # lossless df=1 shingle pruning — the 100-TB path exercised
    # end-to-end (the exact crossover short-circuits banding at test
    # SFs, so this row keeps the at-scale pipeline measured and green)
    "dedup_minhash_banded",
    # round 7 (fourth batch): snapshot diff (delta-sized output, text
    # never shuffles), JL random projection (zero-shuffle codegen pass),
    # exact per-column table profile (Expand-planned multi-distinct)
    "curation_corpus_diff",
    "embedding_random_projection",
    "stats_table_profile",
    # round 7 (fifth batch): quality-curriculum sampling — classifier
    # banding + per-band deterministic rates in one fused narrow pass
    "sample_quality_curriculum",
    # round 7 (sixth batch): BPE tokenizer application — fixed merge
    # table as chained JVM replaces, one narrow pass
    "text_bpe_encode",
    # round 7 (seventh batch): the release report — quality gate →
    # dedup keeper → stratified split → per-(split, source) counts
    "curation_release",
    # round 7 (eighth batch): skew-salted shuffle join (hot fact keys
    # split across salt reducers, dim replicated — AQE can't split a
    # single hot KEY finer than its map partition)
    "salted_join_parts",
    # round 9: the six round-8 operators, wired — HITS fixed-point
    # (iterative integer joins), DPP through the partitioned layout
    # (includes the one-time partitioned write; the plan win is the
    # pruned fact scan), single-pass contract gate, distributed
    # training-order permutation, broadcast-anchor negative mining,
    # zero-shuffle HTML stripping
    "graph_hits",
    "layout_dpp_revenue",
    "stats_contract_violations",
    "sample_training_order",
    "similarity_hard_negatives",
    "text_strip_html",
    # round 9 (second batch): multi-source BFS (frontier joins, early
    # exit), per-node clustering coefficient (oriented wedge join +
    # 3-corner explode), GraphSAGE-style neighbor sampling
    # (WindowGroupLimit fan-out cap), broadcast-delta corpus merge,
    # temperature-scaled (α=0.5) mixture sampling
    "graph_bfs",
    "graph_clustering",
    "graph_sample_neighbors",
    "curation_apply_delta",
    "sample_temperature",
    # round 9 (third batch): Z-order layout (includes the one-time
    # interleaved write; the win is two-dimensional file skipping),
    # k-core peeling (iterative fixpoint over semi joins)
    "layout_zorder_revenue",
    "graph_kcore",
    "graph_ppr",
    # round 9 (fourth batch): Luhn-validated card-number PII (seed +
    # checksum + scan in one narrow HOF pass), relative per-group
    # quality gate, Arrow-optimized UDTF surface
    "text_pii_cards",
    "sample_top_fraction",
    "text_chunking_udtf_arrow",
    # round 9 (fifth batch): exact containment join (one-sided prefix
    # filter over 3-gram sets — the quote/excerpt case jaccard misses),
    # semantic incremental admission (batch↔corpus LSH candidates only)
    "dedup_containment",
    "dedup_semantic_incremental",
    # round 9 (sixth batch): exact-integer recency-weighted aggregation
    "events_decayed_value",
    # round 10: containment pairs → transitive-closure groups (the
    # composed curation shape), decay guardrail branches live, real PNG
    # encode→decode through the multimodal plumbing, GDS nodeSimilarity
    # parity via the shared PPJoin core, hybrid BM25∪cosine RRF fusion
    "dedup_containment_groups",
    "events_decayed_guardrails",
    "multimodal_image_stats",
    "graph_node_similarity",
    "retrieval_hybrid_rrf",
    "graph_random_walks",
    "web_url_normalize",
    "stats_hll_rollup",
    "graph_walk_skipgrams",
    "graph_node2vec_walks",
    "graph_shortest_paths",
    "graph_ktruss",
    # round 11: real baseline-JPEG encode→decode through the multimodal
    # plumbing (flat-exact construction; grayscale + 4:4:4 + 4:2:0),
    # and real WAV/PCM audio decode (lossless — exact integer stats)
    "multimodal_image_stats_jpeg",
    "multimodal_audio_stats",
    "multimodal_video_frames",
    "graph_harmonic_closeness",
    "graph_node_similarity_overlap",
    "graph_node_similarity_cosine",
    # round 12: the five r11 operators wired into the driver gate —
    # eigenvector power iteration, landmark Brandes betweenness, FastRP
    # signed projection, CMS sketch+estimate (plus the per-day
    # merge-on-read rollup twin), DSIR weights + composed selection
    "graph_eigenvector",
    "graph_betweenness",
    "graph_fastrp",
    "profile_cms_frequencies",
    "events_cms_rollup",
    "sample_importance_weights",
    "sample_dsir_selection",
    # round 12 (growth): weighted PageRank (GDS relationshipWeight
    # parity) + DAG longest-path levels (GDS dag.longestPath parity)
    "graph_pagerank_weighted",
    "graph_dag_levels",
    "graph_modularity",
    "graph_rwr_sample",
    # round 12 (second wave): conductance (GDS parity, shares the LPA
    # labeler), topological sort (levels + range-bucket prefix-sum
    # rank), Bloom decontamination (broadcast filter — the scale path
    # of text_contamination), Bloom per-day rollup (OR merge-on-read)
    "graph_conductance",
    "graph_topo_order",
    "graph_k1coloring",
    "graph_articlerank",
    "graph_louvain_move",
    "similarity_pq_topk",
    "stats_exact_quantiles",
    "dedup_sorted_neighborhood",
    "text_decontaminate_bloom",
    "events_bloom_rollup",
    # round 12 fourth wave: KMV distinct sketch + merge-on-read rollup,
    # MMR diversified retrieval, association rules, assortativity
    "stats_kmv_distinct",
    "events_kmv_rollup",
    "similarity_mmr_topk",
    "assoc_rules_parts",
    "graph_assortativity",
    "graph_kmeans",
    "graph_scale_properties",
    "stats_drift_tokens",
    "stats_histogram_prices",
    "events_robust_outliers",
    "graph_cc_incremental",
    "events_resample_locf",
    "overlap_join_orders",
    "stats_weighted_quantiles",
    "graph_node_similarity_topk",
    # round 13: directed SCC (coloring decomposition) + condensation
    # DAG, theta-style KMV set ops, Pareto frontier, bigram
    # collocation lift, batched-decile binning (9 ranks, one narrowing)
    "graph_scc",
    "graph_scc_condensation",
    "stats_kmv_setops",
    "pareto_parts",
    "text_colloc_lift",
    "stats_decile_bins",
    "stats_grouped_quantiles",
    "events_kmv_setops",
    "stats_grouped_wquantiles",
    "events_resample_interp",
    # round 14: Boruvka minimum spanning forest (log2 V merge rounds),
    # d-dimensional skyline (local prefilter + bounded anti-join
    # merge), high-cardinality grouped quantiles (broadcast-joined
    # range state, 100 groups x 3 ranks)
    "graph_mst",
    "pareto_suppliers_3d",
    "stats_grouped_quantiles_hc",
]

def _ambient_load() -> dict:
    """Machine-contention snapshot recorded into the artifact (VERDICT
    r9 #3: a contended driver run inflated every untouched query ~1.4×
    and only a manual idle A/B caught it — make it machine-detectable).
    ``running_procs`` counts processes in R state EXCLUDING this one, so
    a clean box reads ~0 even while bench itself is hot."""
    load1, load5, load15 = os.getloadavg()
    me = os.getpid()
    running = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] == "R":
                    running += 1
        except OSError:
            continue
    return {
        "load1": round(load1, 2),
        "load5": round(load5, 2),
        "load15": round(load15, 2),
        "running_procs": running,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # Ambient-load check BEFORE Spark spins up: at this point any load
    # is someone else's. Warn loudly — a contended run inflates every
    # number uniformly and should not be compared against idle runs.
    load_start = _ambient_load()
    if load_start["load1"] > 4.0 or load_start["running_procs"] > 2:
        print(
            f"WARNING: ambient load1={load_start['load1']} "
            f"running_procs={load_start['running_procs']} — this bench "
            "run is CONTENDED; numbers will be uniformly inflated and "
            "must not be read as regressions (see BENCH_FULL.json "
            "load fields)",
            file=sys.stderr,
        )

    spark = get_spark(app_name="bench")
    qs = dict(catalog.queries())

    # Headline simhash measures the PRODUCTION hash path (xxhash64). The
    # catalog query deliberately runs the ~3× slower md5-derived portable
    # hash so the DuckDB oracle can recompute signatures exactly — an
    # oracle adapter cost, not an engine cost; the correctness gate still
    # checks the portable-hash query (VERDICT r2 item 2).
    def _simhash_prod(s, sf_dir):
        from dataflow_flex_pyarrow_to_gds_spark.operators.dedup import simhash_pairs

        docs = s.read.parquet(f"{sf_dir}/documents.parquet")
        return simhash_pairs(docs, "doc_id", "text", max_distance=3)

    qs["dedup_simhash_pairs"] = _simhash_prod

    # Headline classifier measures the PRODUCTION hash path (xxhash64);
    # the catalog query runs the md5-derived portable hash so the DuckDB
    # oracle recomputes buckets exactly — the same oracle-adapter cost
    # split as simhash above.
    def _classifier_prod(s, sf_dir):
        from dataflow_flex_pyarrow_to_gds_spark.operators.quality import (
            linear_quality_score,
        )

        docs = s.read.parquet(f"{sf_dir}/documents.parquet")
        return linear_quality_score(
            docs, "doc_id", "text", n_features=64, bias=-0.05
        )

    qs["text_quality_classifier"] = _classifier_prod

    # Same split for the curriculum composition: production token hash
    # (xxhash64) in the classifier stage; the id-hash gate stays
    # portable — that IS the operator's reproducibility contract.
    def _curriculum_prod(s, sf_dir):
        from pyspark.sql import functions as F

        from dataflow_flex_pyarrow_to_gds_spark.operators.quality import (
            linear_quality_score,
        )
        from dataflow_flex_pyarrow_to_gds_spark.operators.sampling import (
            banded_sample,
        )

        docs = s.read.parquet(f"{sf_dir}/documents.parquet")
        scored = linear_quality_score(
            docs, "doc_id", "text", n_features=64, bias=-0.05
        )
        banded = scored.select(
            "doc_id",
            F.when(F.col("logit") >= 0.02, F.lit("high"))
            .when(F.col("logit") >= -0.02, F.lit("mid"))
            .otherwise(F.lit("low"))
            .alias("band"),
        )
        return banded_sample(
            banded, "doc_id", "band", {"high": 1.0, "mid": 0.5, "low": 0.1}
        )

    qs["sample_quality_curriculum"] = _curriculum_prod

    # Headline embedding near-dup measures the PRODUCTION pair path (BLAS
    # block matmul), which is equivalence-tested pair-identical to the
    # catalog query's expression form; the expression form exists so the
    # DuckDB oracle mirrors the arithmetic verbatim.
    def _near_dup_prod(s, sf_dir):
        from dataflow_flex_pyarrow_to_gds_spark.operators.similarity import (
            embedding_near_dup_pairs_blocked_np,
        )

        emb = s.read.parquet(f"{sf_dir}/embeddings.parquet")
        return embedding_near_dup_pairs_blocked_np(
            emb, "vec_id", "embedding", "label", threshold=0.4
        )

    qs["embedding_near_dup"] = _near_dup_prod

    # Warm-up: run every headline query shape once at the smallest scale
    # factor so whole-stage-codegen compilation and JIT warm before timing
    # (cold JIT on the complex higher-order-function plans costs ~25 s —
    # a fixed cost that would otherwise be billed to the first big query).
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    # Warm-up is best-effort (the timed run surfaces real errors), but a
    # failure is recorded in the artifact rather than hidden.
    warmup_failures: dict[str, str] = {}
    for name in HEADLINE:
        try:
            qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            warmup_failures[name] = f"{type(exc).__name__}: {exc}"[:300]

    # Best of 3 trials per query: single-shot numbers on a shared host mix
    # engine cost with noisy-neighbor load (measured: the same suite swings
    # 29 s ↔ 52 s run-to-run with unrelated queries inflating 5×; r4 saw
    # minhash alone swing 3.5 ↔ 7.7 s). The min is the standard
    # noise-robust estimator of the engine's actual cost; trials
    # interleave whole passes so transient load doesn't favor one.
    trials: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(3):
        for name in HEADLINE:
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            trials[name].append(time.perf_counter() - t0)
    times = {name: round(min(ts), 3) for name, ts in trials.items()}

    # Isolated pass (VERDICT r6 #7): per-query best-of-3 with the three
    # trials CONSECUTIVE (the microbench protocol) instead of interleaved
    # with the other queries' GC/codegen/cache pressure, recorded next to
    # the suite-context numbers. A row that owns a session fixture
    # (queries.FIXTURE_OWNERS) first clears it and runs once cold: the
    # suite pass already built the fixture, so min-of-3 alone would charge
    # the build to no row. cold - best is reported as one
    # ``fixture:<name>`` line that isolated_total counts exactly once.
    # Skippable for a fast suite-only run.
    isolated: dict[str, float] = {}
    fixture_builds: dict[str, float] = {}
    if "--no-isolated" not in sys.argv and not os.environ.get(
        "SPARK_GRAFT_NO_ISOLATED"
    ):
        fixture_of = {o: f for f, o in catalog.FIXTURE_OWNERS.items()}
        for name in HEADLINE:
            fixture = fixture_of.get(name)
            if fixture is not None:
                catalog.clear_fixtures(fixture)
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                cold = time.perf_counter() - t0
            best = 1e9
            for _ in range(3):
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            isolated[name] = round(best, 3)
            if fixture is not None:
                fixture_builds[f"fixture:{fixture}"] = round(
                    max(cold - best, 0.0), 3
                )

    # Full artifact → file; stdout gets ONE compact line. The driver
    # captures only the last ~2000 chars of stdout, so the r7/r8 lines
    # (suite + isolated dicts, ~3.5 kB) truncated and recorded
    # "parsed": null (VERDICT r8 #3). The printed line keeps the
    # contract fields ({metric, value, unit, queries, sf}) with 2-dp
    # per-query values and compact separators (~1.9 kB); the isolated
    # per-query dict and raw trials live in BENCH_FULL.json.
    full = {
        "metric": "headline_suite_seconds",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "trials": {k: [round(t, 3) for t in v] for k, v in trials.items()},
        "load_start": load_start,
        "load_end": _ambient_load(),
        "warmup_failures": warmup_failures,
    }
    if isolated:
        full["queries_isolated"] = isolated
        # fixture builds are charged exactly once, as their own labeled
        # lines, INSIDE isolated_total (VERDICT r12 #2)
        full["fixture_builds"] = fixture_builds
        full["isolated_total"] = round(
            sum(isolated.values()) + sum(fixture_builds.values()), 3
        )
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=1)
    # Regime separation (VERDICT r12 #4): the driver's contended run
    # overwrites BENCH_FULL.json in the working tree, which in r12
    # destroyed the committed idle-protocol history. An IDLE run (the
    # builder's protocol: load1 < 0.5 and no other runnable procs)
    # additionally snapshots to BENCH_FULL_idle.json so per-query
    # trajectories are always read within one regime.
    if load_start["load1"] < 0.5 and load_start["running_procs"] == 0:
        with open(os.path.join(here, "BENCH_FULL_idle.json"), "w") as f:
            json.dump(full, f, indent=1)
    # VERDICT r13 #2: the r13 line carried ALL 139 per-query entries
    # (~4.2 kB) and the driver's ~2000-char tail capture truncated it
    # mid-dict → "parsed": null. The printed line now carries only the
    # TOP-10 slowest rows plus suite totals and the row count — always
    # well under the tail budget regardless of catalog growth; the
    # complete per-query dicts live in BENCH_FULL.json.
    top10 = dict(
        sorted(times.items(), key=lambda kv: -kv[1])[:10]
    )
    out = {
        "metric": "headline_suite_seconds",
        "value": full["value"],
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in top10.items()},
        "n_queries": len(times),
        "sf": sf,
        "ambient_load1": load_start["load1"],
        # self-flag (VERDICT r11 #8): a contended start means every
        # number is uniformly inflated — the artifact says so itself
        # instead of relying on a reader to cross-check load fields
        "contended": bool(
            load_start["load1"] > 4.0 or load_start["running_procs"] > 2
        ),
    }
    if isolated:
        out["isolated_total"] = full["isolated_total"]
        out["fixture_builds_total"] = round(
            sum(fixture_builds.values()), 3
        )
        out["full"] = "BENCH_FULL.json"
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1800:  # belt-and-braces: never outgrow the capture
        out["queries"] = dict(list(out["queries"].items())[:5])
        line = json.dumps(out, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
