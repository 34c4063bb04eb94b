"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced through the noop sink so the full plan executes
(a bare .count() would let Catalyst prune expensive projections).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# One per operator family — scan/agg, joins, windows, ER, graph, dedup,
# ANN, text, streaming.
HEADLINE = [
    "flagship_top_customers",
    "agg_pricing_summary",
    "join_multi_key",
    "window_keep_first_dedupe",
    "er_cosine_pairs",
    "er_resolve_entities",
    "graph_bgp_region_members",
    "graph_transitive_closure",
    "dedup_minhash_pairs",
    "dedup_jaccard_pairs",
    "dedup_near_cluster_keep",
    "ann_brute_topk",
    "ann_ivf_topk",
    "join_salted_skew",
    "mm_frame_sample",
    "corpus_curation",
    "text_quality",
    "stream_tumbling_daily",
    # round-2 additions (new keys — the original 18 stay comparable
    # round-over-round): verbatim flagship SPARQL, corpus boilerplate
    # cut, distributed k-means fit, end-to-end publishing
    "sparql_companions",
    "dedup_remove_boilerplate",
    "ann_kmeans_cells",
    "publish_persons_pipeline",
    # round-4 addition: SPARQL-text aggregation (G12).  er_lsh_pairs
    # stays gate-only: at jaccard≈0.5 over TPC-H color-word names the
    # banding candidates are inherently dense (~5M pairs at sf0.1,
    # ~23 s on BOTH engines — Spark/DuckDB ratio ≈1), which would
    # dominate the headline total without measuring plan quality.
    "sparql_year_histogram",
    # round-5 additions: the high-threshold LSH variant (2 bands of 6,
    # jaccard ≥ 0.8; with exact-duplicate collapse the banding join runs
    # over distinct gram-set classes — TPC-H's 92-word name vocabulary
    # makes id-level candidates inherently dense, class-level sparse)
    # and the append-mode file-sink streaming path
    "er_lsh_pairs_sparse",
    "stream_tumbling_append",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from remove_na_lgbtiq_queer_knowledge_graph_spark.registry import all_specs
    from remove_na_lgbtiq_queer_knowledge_graph_spark.session import get_spark

    spark = get_spark("bench")
    spark.range(1).count()  # session warmup outside timings

    # KG-fixture warmup, timed separately and reported below: the SPARQL
    # queries run over a materialized triples store, and building it is
    # ingest (the reference materializes its KG once via create-rdf.py
    # before any query runs).  Query timings then measure query latency
    # over an existing KG — same basis as the DuckDB oracle, which reads
    # the relational tables directly and has no KG to build.
    t0 = time.perf_counter()
    warmup_error = None
    try:
        from remove_na_lgbtiq_queer_knowledge_graph_spark.queries_sparql import factgrid_kg
        from remove_na_lgbtiq_queer_knowledge_graph_spark.queries_sparql2 import (
            _companions_bundle,
            _year_events_kg,
        )

        factgrid_kg(spark, sf_dir)
        _companions_bundle(spark, sf_dir)
        _year_events_kg(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        # A broken fixture must not void the bench, but silently
        # reporting ~0 warmup would shift KG-build cost into the timed
        # SPARQL queries with no signal — record it in the output.
        warmup_error = f"{type(exc).__name__}: {exc}"[:500]
    fixture_warmup = round(time.perf_counter() - t0, 3)

    specs = all_specs()
    times: dict[str, float] = {}
    raw_times: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    # Ambient-load telemetry: the shared host has shown 1.6x–1.9x
    # ratio swings on IDENTICAL code (r9, r11 driver-vs-local reruns).
    # loadavg before/after plus the per-pass raw times below make that
    # variance measurable IN the artifact instead of adjudicated after
    # the fact — a spread of per-pass times ≫ the min is the load
    # signature; a tight spread means the reading is trustworthy.
    loadavg_before = [round(x, 2) for x in os.getloadavg()]
    # min of PASSES runs per query: the shared host carries noisy
    # ambient load (observed 1.7x swings on identical runs, and 3x+
    # spikes that survive min-of-2), and min over repeats is the
    # standard way to measure the engine rather than the neighbors.
    # Pass 1 also absorbs one-time costs the engine pays once per
    # workload, not per query (Python worker pool spin-up, codegen
    # compile).  Reported as "passes" so rounds compare like-for-like.
    # BOTH engines get the same pass count, so min-of-N is ratio-fair;
    # 5 (up from 3 in rounds ≤9) because the r9 driver reading showed
    # ambient spikes surviving min-of-3 on the longer-running side.
    PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5"))
    for name in HEADLINE:
        best = None
        # One broken query must not void the whole round's bench — record
        # the failure and keep timing the rest.
        try:
            for _ in range(PASSES):
                t0 = time.perf_counter()
                df = specs[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                raw_times.setdefault(name, []).append(round(dt, 3))
                best = dt if best is None else min(best, dt)
            times[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001
            if best is not None:
                times[name] = round(best, 3)
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    # Concrete local baseline: the same queries' oracle SQL on DuckDB
    # over the same parquet (single-node engine as the reference would
    # run).  Ratio compares only the oracle-covered subset.
    duck_times: dict[str, float] = {}
    duck_raw_times: dict[str, list[float]] = {}
    baseline_error = None
    try:
        import duckdb

        from remove_na_lgbtiq_queer_knowledge_graph_spark.sources.io import (
            TABLES,
        )

        con = duckdb.connect()
        for tbl in TABLES:
            con.sql(f"CREATE VIEW {tbl} AS "
                    f"SELECT * FROM '{sf_dir}/{tbl}.parquet'")
        for name in HEADLINE:
            if name not in specs or specs[name].oracle is None \
                    or name in errors:
                continue
            best = None
            try:
                for _ in range(PASSES):  # same min-of-N basis as Spark
                    t0 = time.perf_counter()
                    con.sql(specs[name].oracle).fetchall()
                    dt = time.perf_counter() - t0
                    duck_raw_times.setdefault(name, []).append(round(dt, 3))
                    best = dt if best is None else min(best, dt)
                duck_times[name] = round(best, 3)
            except Exception:
                continue
    except Exception as exc:  # noqa: BLE001 — reported, not swallowed
        # keep any per-query timings collected before the failure and
        # SAY the baseline broke — a silently-empty baseline reads as
        # "not configured" (same rule as fixture_warmup_error)
        baseline_error = f"{type(exc).__name__}: {exc}"[:300]

    sf_label = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf = float(sf_label)
    except ValueError:
        sf = sf_label
    total = round(sum(times.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "fixture_warmup_sec": fixture_warmup,
        "passes": PASSES,
        "loadavg_before": loadavg_before,
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
    }
    if warmup_error:
        out["fixture_warmup_error"] = warmup_error
    if baseline_error:
        out["duckdb_baseline_error"] = baseline_error
    if errors:
        out["errors"] = errors
    if duck_times:
        spark_sub = sum(times[n] for n in duck_times if n in times)
        duck_total = sum(duck_times.values())
        out["duckdb_queries"] = duck_times
        out["duckdb_total"] = round(duck_total, 3)
        if duck_total > 0:
            out["spark_vs_duckdb_ratio"] = round(spark_sub / duck_total, 3)
        # Margin honesty (round-13 verdict): the headline ratio can be
        # subsidized by ONE query whose DuckDB oracle plan is
        # pathologically slow (er_lsh_pairs_sparse: 2.2s Spark vs 11s
        # DuckDB at r12 — a denominator artifact, not engine merit).
        # Report the ratio with that best-for-us query excluded, plus
        # the per-query median, so the ≤2x contract is visibly not
        # resting on a single denominator.
        ratios = {n: times[n] / duck_times[n]
                  for n in duck_times
                  if n in times and duck_times[n] > 0}
        if len(ratios) >= 2:
            out_q = min(ratios, key=lambda n: ratios[n])
            sub_s = sum(times[n] for n in ratios if n != out_q)
            sub_d = sum(duck_times[n] for n in ratios if n != out_q)
            out["ex_outlier_query"] = out_q
            if sub_d > 0:
                out["ex_outlier_ratio"] = round(sub_s / sub_d, 3)
            srt = sorted(ratios.values())
            mid = len(srt) // 2
            med = srt[mid] if len(srt) % 2 else (srt[mid - 1] + srt[mid]) / 2
            out["median_query_ratio"] = round(med, 3)
    # Per-pass raw times go to a SIDECAR file, not the one-line JSON
    # (round-13 verdict #7): the driver archives only a bounded tail of
    # the stdout line, and the r12 raw_times bloat pushed the per-query
    # dict past that tail — losing round-over-round comparability.  The
    # raw passes stay available for load-signature forensics in the
    # sidecar; the printed line keeps every headline/summary field.
    # The default name is unique per run (pid, cores, sf), so the two
    # runs of an A/B pair keep both sidecars; the payload carries its
    # own sf/passes/loadavg stamps.
    cores = spark.sparkContext.defaultParallelism
    sidecar = os.environ.get("SPARK_GRAFT_BENCH_SIDECAR") or os.path.join(
        tempfile.gettempdir(),
        f"bench_raw_times_sf{sf_label}_c{cores}_p{os.getpid()}.json")
    try:
        with open(sidecar, "w") as f:
            json.dump({"sf": sf, "passes": PASSES,
                       "loadavg_before": out["loadavg_before"],
                       "loadavg_after": out["loadavg_after"],
                       "raw_times": raw_times,
                       "duckdb_raw_times": duck_raw_times}, f)
        out["raw_times_sidecar"] = sidecar
    except OSError:
        # an unwritable sidecar path must not void the bench — fall
        # back to inlining the raw passes as before
        out["raw_times"] = raw_times
        out["duckdb_raw_times"] = duck_raw_times
    print(json.dumps(out))


if __name__ == "__main__":
    main()
