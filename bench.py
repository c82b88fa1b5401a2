"""Benchmark harness — the tpcds_bench.rs equivalent (SURVEY.md §2A-A21).

Every mode times queries the same way (``timed_runs``): the ORC tables and
the TPC-DS star schema are materialized first, outside the timed region,
then each query runs N times to a full collect() (driver-side
materialization, matching the reference's collect at
src/bin/tpcds_bench.rs:543-574) under a job group named after the query,
and every iteration is recorded.

``python bench.py`` — the headline run: the HEADLINE queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], $BENCH_ITERATIONS each (reference default 3,
src/bin/tpcds_bench.rs:277-279; best-of absorbs JIT/session warm-up like
criterion's sampling does). Prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": ...}

and writes per-iteration detail to bench_detail.json.

``python bench.py Q [Q ...] [--sf-dir DIR]... [--iterations N]
[-o out.json] [--mem-table] [--no-pushdown] [--partitions N]`` — times the
named registry queries (``all`` = the whole registry) and writes the
reference's full JSON result schema (docs/tpcds_benchmark_plan.md:214-236,
src/bin/tpcds_bench.rs:160-175): run context, per-query iterations with
elapsed ms and row counts, and failures collected rather than fatal
(src/bin/tpcds_bench.rs:459-476). With more than one --sf-dir, a table of
best times and their ratio to the first dir goes to stderr. The knobs
mirror the reference CLI (src/bin/tpcds_bench.rs:275-300): --partitions →
shuffle partitions, --mem-table → cached inputs, --no-pushdown →
spark.sql.orc.filterPushdown=false.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# --- host-load calibration (judge r07 task 2; r08 task 2) -------------------
# TWO fixed probes timed at harness start and end, drift = max of the legs:
#
# 1. CPU leg — deterministic in-memory aggregate over a generated range,
#    zero I/O, whole-stage-codegen. Catches pure CPU contention.
# 2. SHUFFLE leg (round 9) — range -> repartition(64, key) -> hash aggregate:
#    a real exchange (serialize, spill-path shuffle writes/reads, hash-table
#    build), i.e. the memory-bandwidth + disk axes Spark queries actually
#    contend on. BENCH_r08 proved the CPU leg alone is blind to these: the
#    probe read 0.93 while every query ran uniformly +44% on the loaded
#    driver box. max() is correct because host load can only SLOW a leg —
#    whichever axis is contended shows up as the larger drift.
#
# drift = probe_time / reference measures how loaded THIS run's box is
# relative to the pinned idle-box references; regression flags are computed
# on drift-NORMALIZED times so a uniformly loaded host (the BENCH_r07
# episode: ~1.33x drift produced 4 spurious flags the judge had to
# adjudicate) cannot fake a plan regression. Raw ratios stay in
# bench_detail.json.
_CAL_ROWS = 6_000_000_000
CAL_REFERENCE = 1.42  # idle-box best-of-3 seconds, measured r08 on local[32]
_SHUF_ROWS = 60_000_000
_SHUF_KEYS = 1_000_000
# idle-box best-of-5 seconds, measured r09 on local[32] across 4 sessions
# (session floors 1.66-1.95; the shuffle path has ~2x the CPU probe's
# session-to-session noise, hence best-of-5 where the CPU leg uses 3)
SHUF_REFERENCE = 1.80

# Judge-adjudicated drift for baselines whose recording the probes missed:
# BENCH_r07's driver box ran ~1.33x uniformly loaded BEFORE any probe
# existed (VERDICT r07: judge idle re-run geomean 1.05 with 0 flags vs the
# recorded 1.332 with 4); BENCH_r08's ran ~1.29x loaded on axes the
# then-CPU-only probe was blind to (VERDICT r08: judge idle re-run geomean
# 1.113 vs the recorded 1.441 — ratio 1.295; probe read 0.931). Listing a
# baseline here makes its committed `<stem>_clean.json` idle-box sidecar
# substitute per-query (preferred), else divides by the factor.
_KNOWN_BASELINE_DRIFT = {"BENCH_r07.json": 1.332, "BENCH_r08.json": 1.295}


def _calibrate(spark) -> float:
    """Best-of-3 seconds for the fixed CPU probe (sum of two modulos over a
    6B-row range; term bound keeps the ANSI int64 sum far from overflow)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, _CAL_ROWS, 1).selectExpr(
            "sum(id % 97 + id % 101) as s"
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def _calibrate_shuffle(spark) -> float:
    """Best-of-5 seconds for the fixed SHUFFLE probe: 60M (key, id) rows
    through a 64-partition exchange + hash aggregate over 1M groups — the
    serialize/spill/hash-build path real queries contend on (see the
    calibration block comment). Best-of-5 because the shuffle path carries
    ~2x the CPU probe's iteration noise (measured r09: raw iterations
    1.83-2.24 s within one session after warm-up)."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        (
            spark.range(0, _SHUF_ROWS)
            .select((F.col("id") % _SHUF_KEYS).alias("k"), F.col("id"))
            .repartition(64, "k")
            .groupBy("k")
            .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("c"))
            .agg(F.sum("k"), F.sum("s"), F.sum("c"))
            .collect()
        )
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)

# Headline set: the reference's demonstrated core (scan/filter/agg/groupby via
# the ORC path), the join/window/TPC-H analytical surface, and one of each
# beyond-reference pipeline family.
HEADLINE = [
    "orc_groupby_count",
    "orc_filter_range",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q8",
    "tpch_q9",
    "tpch_q18",
    "tpch_q21",
    "tpcds_q1",
    "tpcds_q7",
    "tpcds_q36",
    "tpcds_q59",
    "tpcds_q65",
    "tpcds_q98",
    "tpcds_q14",
    "tpcds_q64",
    "window_rank",
    "window_ntile",
    "rollup_agg",
    "dedup_exact_norm",
    "dedup_minhash_lsh",
    "simsearch_bruteforce",
    "text_token_count",
    "text_repetition",
    "contamination_eval_overlap",
    "pipeline_filter_funnel",
    "training_mix_sample",
    "text_char_entropy",
    "events_session_window",
    "events_zscore_anomaly",
    "asof_join_last_order",
    "basket_part_pairs",
    # round 5 additions
    "multimodal_decode",
    "simsearch_pq",
    "text_ngram_novelty",
    "training_pack_sequences",
    "text_vocab_coverage",
    # round 6 additions
    "ingest_incremental_bloom",
    "orc_column_stats",
    "embedding_power_iteration",
    "multimodal_resize",
    # round 7 additions
    "orc_rowgroup_stats",
    "orc_bloom_prune",
    "text_bigram_commonness",
    "simsearch_ivfpq",
    "embedding_kmeans",
    # round 8 additions: the composed end-to-end training-data build + the
    # three family extensions
    "pipeline_end_to_end",
    "multimodal_phash_neardup",
    "dedup_containment",
    "events_ewma_smooth",
    "simsearch_ivf_kmeans",
    "approx_countmin_tokens",
    "simsearch_hybrid_rrf",
    # round 9 additions: the LSH clustering path, SemDeDup, the
    # split-leakage audit, and curriculum quantile bucketing
    "dedup_connected_components_lsh",
    "embedding_semantic_dedup",
    "training_split_leakage",
    "training_curriculum_quantiles",
    "simsearch_mips",
    "ingest_triage",
    # round 10 additions: the materialized-index triage path (one-time
    # index build amortized across iterations, like the tpcds star
    # materialization) and the MIPS banded rung
    "ingest_triage_incremental",
    "simsearch_mips_banded",
    # round 10 additions, second batch: the NB quality classifier, the
    # Lee-et-al duplicated-span coverage, and DSIR data selection
    "text_quality_nb",
    "dedup_substring_spans",
    "training_dsir_select",
    # round 11 additions: the materialized span-hash index (per-batch
    # duplicated-span coverage without re-spanning the corpus) and the
    # BM25 lexical retrieval rung
    "dedup_substring_spans_incremental",
    "simsearch_bm25",
    "tokenizer_bpe_merges",
    # round 12 additions: hybrid retrieval over the certified BM25 leg and
    # the tokenizer-inference (merge application / corpus encode) rung
    "simsearch_hybrid_bm25",
    "tokenizer_bpe_encode",
    # round 13 additions: the ANN retrieval-quality evaluation, the shipped
    # tokenizer vocabulary, the composed curation manifest, and SemDeDup's
    # banded at-scale twin
    "simsearch_recall_at_k",
    "tokenizer_bpe_vocab",
    "curation_manifest",
    "embedding_semdedup_banded",
]


def _prepare(spark, sf_dir: str, mem_table: bool) -> None:
    """Materialize the inputs outside the timed region, as the reference's
    untimed data-prep step (scripts/convert_tpcds_to_orc.py) does: the ORC
    tables and all 24 derived TPC-DS tables, so a first query's cold time
    measures the query, not one-time table writes."""
    from datafusion_datasource_orc_spark.operators.tpcds import _register_tpcds_views
    from datafusion_datasource_orc_spark.sources.tables import (
        TABLES,
        load_orc_table,
        load_table,
        orc_dir_for,
    )

    for t in ("region", "part", "lineitem", "documents"):
        orc_dir_for(spark, sf_dir, t)
    _register_tpcds_views(spark, sf_dir)
    if mem_table:
        # MemTable::load parity (src/bin/tpcds_bench.rs:525-536) on BOTH scan
        # paths: parquet (the operator default) and the materialized-ORC
        # directories. Spark's cache manager matches by analyzed plan, so a
        # later read of the same path hits the cached relation.
        for t in TABLES:
            load_table(spark, sf_dir, t).cache().count()
            load_orc_table(spark, sf_dir, t).cache().count()


def timed_runs(spark, sf_dir: str, name: str, iterations: int):
    """Yield (seconds, rows) for each of `iterations` runs of registry query
    `name`, timed from the DataFrame build to the end of collect(). Every
    job runs under a job group named after the query, so the status store
    attributes it to the query."""
    from datafusion_datasource_orc_spark.operators import QUERIES

    fn = QUERIES[name]
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        for _ in range(iterations):
            t0 = time.perf_counter()
            rows = len(fn(spark, sf_dir).collect())
            yield round(time.perf_counter() - t0, 4), rows
    finally:
        sc._jsc.clearJobGroup()


def headline(spark, sf_dir: str, n_iter: int) -> None:
    """The HEADLINE run: one JSON line on stdout, detail in bench_detail.json."""
    # shared identifier stamped into BOTH the stdout JSON line and
    # bench_detail.json: the regression comparator's sidecar backfill
    # requires them equal, so detail from a different (e.g. newer local,
    # uncommitted) run can never masquerade as the committed baseline's
    run_id = f"{int(time.time())}-{os.getpid()}"

    cal_start = _calibrate(spark)
    shuf_start = _calibrate_shuffle(spark)

    results: dict[str, float] = {}
    iterations: dict[str, list[float]] = {}
    for name in HEADLINE:
        runs = list(timed_runs(spark, sf_dir, name, n_iter))
        times = [secs for secs, _ in runs]
        # headline value stays best-of-N (absorbs codegen warm-up and host
        # load spikes), but every iteration is recorded so load spikes are
        # separable from real regressions when BENCH artifacts are compared
        results[name] = round(min(times), 3)  # 3dp: stdout-line budget
        iterations[name] = times
        print(f"# {name}: {min(times):.3f}s rows={runs[-1][1]} iters={times}", file=sys.stderr)

    cal_end = _calibrate(spark)
    shuf_end = _calibrate_shuffle(spark)
    # MIN of the start/end probes per leg (round 9; was geomean): sustained
    # host load — the only kind that uniformly inflates query times, the
    # r07/r08 episodes — inflates BOTH endpoints, so min still reads it.
    # What min ignores is single-endpoint pollution, and that's correct on
    # both ends: end-only elevation is dominated by post-run JVM state
    # (measured: the shuffle end-probe reads ~2.7 s after the 59-query run
    # vs the 1.66-2.12 s idle floor — heap fragmentation/GC, not host
    # load), and load arriving only after the last query never affected
    # the queries at all. Geomean over-normalized a clean run to 0.80.
    cal_sec = round(min(cal_start, cal_end), 4)
    cpu_drift = round(cal_sec / CAL_REFERENCE, 3)
    shuf_sec = round(min(shuf_start, shuf_end), 4)
    shuf_drift = round(shuf_sec / SHUF_REFERENCE, 3)
    # max of the legs: load can only slow a probe down, so the contended
    # axis is whichever leg reads higher (BENCH_r08: cpu leg 0.93 while the
    # field ran +44% — the shuffle leg exists to catch exactly that)
    cal_drift = max(cpu_drift, shuf_drift)
    print(
        f"# calibration: cpu start={cal_start}s end={cal_end}s ref={CAL_REFERENCE}s "
        f"drift={cpu_drift}x | shuffle start={shuf_start}s end={shuf_end}s "
        f"ref={SHUF_REFERENCE}s drift={shuf_drift}x | effective={cal_drift}x",
        file=sys.stderr,
    )

    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    # Cold/warm split (judge r04 task 4): iteration 0 carries codegen +
    # session warm-up; the warm median is the steady-state signal a repeated
    # production query sees. `queries` stays best-of-N for cross-round
    # comparability with BENCH_r01-r04.
    cold = {n: its[0] for n, its in iterations.items()}
    warm = {
        n: round(statistics.median(its[1:]), 4) if len(its) > 1 else its[0]
        for n, its in iterations.items()
    }

    # The driver records only the LAST 2000 chars of stdout and parses the
    # JSON line out of that window (BENCH_r02/r04 carried per-query
    # iteration dicts, overflowed it, and recorded parsed=null). The stdout
    # line therefore stays compact — per-query cold/warm/iteration detail
    # and the full regression ratio table go to a committed sidecar.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )

    # Tolerance-checked regression table vs the previous committed BENCH
    # artifact: a real plan regression is a per-query outlier (>1.5x AND
    # >0.5s absolute on best-basis); uniform host drift moves the geometric
    # mean ratio of ALL common queries without tripping per-query flags.
    # sort by NUMERIC round (not lexicographic) so an unpadded BENCH_r9.json
    # or round >= 100 still picks the true newest artifact as baseline
    def _round_no(path: str) -> int:
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        return int(m.group(1)) if m else -1

    prev_art = sorted(
        glob.glob(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_r*.json")
        ),
        key=_round_no,
    )
    regression: dict[str, object] = {}
    ratios: dict[str, float] = {}
    norm_ratios: dict[str, float] = {}
    if prev_art:
        try:
            # newest artifact whose JSON actually parsed: the driver artifact
            # shape is {"parsed": {...the one-line JSON...}, ...} with
            # parsed=null when the line overflowed its 2000-char stdout tail
            # (BENCH_r02/r04); a bare local run is the line itself
            prev_q: dict[str, float] = {}
            baseline_name = None  # stays None unless a same-sf baseline parses
            prev_drift = 1.0
            for path in reversed(prev_art):
                with open(path) as f:
                    prev = json.load(f)
                parsed = prev.get("parsed") or prev
                # only compare same-scale runs: a cross-sf baseline would
                # flag pure data-size effects as plan regressions
                prev_sf = parsed.get("sf", prev.get("sf"))
                if str(prev_sf) != str(sf_val):
                    continue
                prev_q = parsed.get("queries") or {}
                if prev_q:
                    baseline_name = os.path.basename(path)
                    # the stdout line drops sub-0.5s queries (stdout-budget
                    # trim, rounds 11/12), so a fast query that regresses
                    # would otherwise lose its baseline and never flag —
                    # backfill MISSING entries from the committed detail
                    # sidecar's full-precision queries_best, but ONLY when
                    # the sidecar is provably from the SAME run as the
                    # chosen baseline artifact: both carry a run_id since
                    # round 12 and they must be equal. Every local bench run
                    # overwrites bench_detail.json, so an sf-only guard
                    # would happily backfill "baselines" from a newer
                    # uncommitted run (ADVICE r11). Legacy pairs (both
                    # pre-run_id, i.e. both None) still match.
                    try:
                        with open(detail_path) as f:
                            det = json.load(f)
                        if str(det.get("sf")) == str(sf_val) and det.get(
                            "run_id"
                        ) == parsed.get("run_id"):
                            for n, v in (det.get("queries_best") or {}).items():
                                prev_q.setdefault(n, v)
                    except (OSError, ValueError):
                        pass
                    # baseline's own recorded calibration drift (runs since
                    # r08 carry one); pre-calibration artifacts fall back to
                    # the judge-adjudicated table, else assumed idle
                    prev_cal = parsed.get("calibration") or {}
                    # explicit None checks, not `or`-chaining: a recorded
                    # drift of exactly 0.0 is data, not absence
                    prev_drift = float(
                        next(
                            v
                            for v in (
                                prev_cal.get("drift"),
                                parsed.get("drift"),  # r10+ slim stdout shape
                                _KNOWN_BASELINE_DRIFT.get(baseline_name, 1.0),
                            )
                            if v is not None
                        )
                    )
                    # a committed `<stem>_clean.json` sidecar (an idle-box
                    # re-run of the same workload) overrides a known-drifted
                    # artifact: per-query CLEAN times beat a uniform drift
                    # divisor, which amplifies per-query noise (measured:
                    # raw geomean 0.906 became 1.329 normalized, 5 false
                    # flags, when r07's 1.332x was applied per-query)
                    clean_path = path[: -len(".json")] + "_clean.json"
                    if baseline_name in _KNOWN_BASELINE_DRIFT and os.path.exists(
                        clean_path
                    ):
                        with open(clean_path) as f:
                            clean = json.load(f)
                        if str(clean.get("sf")) == str(sf_val) and clean.get(
                            "queries"
                        ):
                            prev_q = clean["queries"]
                            prev_drift = 1.0
                            baseline_name = os.path.basename(clean_path)
                    break
            common = sorted(set(prev_q) & set(results))
            ratios = {
                n: round(results[n] / prev_q[n], 3) for n in common if prev_q[n] > 0
            }
            # drift-normalized comparison, ONE-SIDED on each run: times are
            # divided by max(drift, 1.0), so a LOADED box's inflation is
            # removed but a probe reading "faster than reference" (probe
            # noise, +/-10% between sessions) never inflates times into
            # false flags. Host load can only slow queries down; a drift
            # below 1 is measurement noise, not a speedup to correct for.
            eff = max(cal_drift, 1.0)
            prev_eff = max(prev_drift, 1.0)
            norm_scale = prev_eff / eff
            norm_ratios = {n: round(r * norm_scale, 3) for n, r in ratios.items()}
            # flag = likely plan regression. Thresholds sized to this host's
            # observed noise: back-to-back identical-code runs swing
            # sub-second queries by 1.5-1.8x (+/-0.4s), so both a large
            # NORMALIZED ratio AND a >0.5s normalized absolute delta are
            # required.
            flagged = {
                n: r
                for n, r in norm_ratios.items()
                if r > 1.5 and results[n] / eff - prev_q[n] / prev_eff > 0.5
            }
            geomean = (
                round(statistics.geometric_mean(norm_ratios.values()), 3)
                if norm_ratios
                else None
            )
            geomean_raw = (
                round(statistics.geometric_mean(ratios.values()), 3) if ratios else None
            )
            regression = {
                "vs": baseline_name,
                "n": len(common),
                "geomean": geomean,
                "geomean_raw": geomean_raw,
                "prev_drift": prev_drift,
                "flagged": flagged,
            }
            # self-annotate: if the NORMALIZED field still drifted uniformly
            # (load the probes missed, e.g. bursty competitors), per-query
            # flags remain suspect — a real plan regression is an outlier
            # against a stable field
            if geomean and geomean > 1.25 and flagged:
                regression["note"] = (
                    "normalized geomean is uniformly elevated; flags may be "
                    "residual host-load artifacts — re-run on an idle box "
                    "before treating them as plan regressions"
                )
            print(
                f"# regression vs {regression['vs']}: normalized geomean {geomean} "
                f"(raw {geomean_raw}, prev_drift {prev_drift}x) over "
                f"{len(common)} common queries, {len(flagged)} flagged"
                + (
                    " (uniform drift = host load, flagged outlier = plan regression)"
                    if common
                    else ""
                ),
                file=sys.stderr,
            )
        except (OSError, ValueError, KeyError, AttributeError) as exc:
            regression = {"error": f"{type(exc).__name__}: {exc}"}

    with open(detail_path, "w") as f:
        json.dump(
            {
                "sf": sf_val,
                "run_id": run_id,
                "iterations": iterations,
                "queries_best": results,  # full precision (stdout line is 2dp)
                "queries_cold": cold,
                "queries_warm_median": warm,
                "cold_total": round(sum(cold.values()), 4),
                "warm_total": round(sum(warm.values()), 4),
                "calibration": {
                    "start": cal_start,
                    "end": cal_end,
                    "sec": cal_sec,
                    "ref": CAL_REFERENCE,
                    "cpu_drift": cpu_drift,
                    "shuffle": {
                        "start": shuf_start,
                        "end": shuf_end,
                        "sec": shuf_sec,
                        "ref": SHUF_REFERENCE,
                        "drift": shuf_drift,
                        "probe": f"range({_SHUF_ROWS}) repartition(64, id%{_SHUF_KEYS})"
                        " groupBy(k) sum/count, best-of-5",
                    },
                    "drift": cal_drift,
                    "probe": f"range({_CAL_ROWS}) sum(id%97 + id%101), best-of-3"
                    " | max(cpu, shuffle)",
                },
                "regression_ratios_vs_prev_raw": ratios,
                "regression_ratios_vs_prev_normalized": norm_ratios,
                "regression_summary": regression,
            },
            f,
            indent=1,
        )

    # Stdout line carries SCALARS ONLY for the regression block: the driver
    # parses the JSON out of the last 2000 chars of stdout, and an unbounded
    # flagged-query dict + note can overflow that window (the BENCH_r02/r04
    # parsed=null failure). The full flagged table and note live in
    # bench_detail.json.
    regression_compact = {
        k: regression[k]
        for k in ("geomean", "error")
        if k in regression
    }
    if "flagged" in regression:
        regression_compact["flags"] = len(regression["flagged"])
    # stdout budget (the 1900-char assert below): sub-0.5 s queries live in
    # bench_detail.json ONLY (their stdout entries are ~23 chars each of
    # pure noise — this host swings sub-second queries 1.5-1.8x between
    # identical-code runs, so no 0.3-0.5 s entry can carry a trustworthy
    # flag anyway; the run_id-guarded sidecar backfill keeps their
    # regression baselines alive); remaining queries print 2dp under 1.0 s,
    # 1dp at/above (quantization <= 5%, still far under the 1.5x flag
    # threshold); "value" and n_queries still cover EVERY headliner;
    # calibration carries ONLY the drift scalar the next round's comparator
    # reads — bench_detail.json carries full-precision times for all
    # queries + the full blocks. Measured r12: 72 headliners ≈ 1610 chars.
    def _emit(cutoff: float) -> str:
        below = [v for v in results.values() if v < cutoff]
        return json.dumps(
            {
                "metric": "headline_queries_total_best_of_%d" % n_iter,
                "value": round(sum(results.values()), 2),
                "unit": "sec",
                "n_queries": len(results),
                "run_id": run_id,
                "queries": {
                    n: (round(v, 1) if v >= 1.0 else round(v, 2))
                    for n, v in results.items()
                    if v >= cutoff
                },
                # additions-only (r14 VERDICT item 7): make the stdout
                # record self-evidently complete — queries under the print
                # cutoff are counted and summed here so a faster query can
                # never read as "dropped from bench" (their full-precision
                # times stay in bench_detail.json)
                "n_below_cutoff": len(below),
                "below_cutoff_sum_sec": round(sum(below), 2),
                "drift": cal_drift,
                "vs_prev": regression_compact,
                "sf": sf_val,
            }
        )

    # the driver parses the JSON line out of the LAST 2000 chars of stdout
    # (BENCH_r02/r04 recorded parsed=null after overflowing it). The 0.5 s
    # print cutoff normally keeps the line well under budget, but a
    # host-degraded run pushes MORE queries over the cutoff (r14: a cold
    # 1-iteration run hit 2,062 chars and the old assert crashed the whole
    # bench, which would have lost the round's record entirely). Degrade
    # gracefully instead: raise the cutoff in 0.1 s steps until the line
    # fits — bench_detail.json always carries every query at full
    # precision, so nothing is lost, and on a normal run the emitted line
    # is byte-identical to the old behaviour.
    cutoff = 0.5
    line = _emit(cutoff)
    while len(line) >= 1900 and cutoff < 60.0:
        cutoff = round(cutoff + 0.1, 1)
        line = _emit(cutoff)
    if cutoff > 0.5:
        print(
            f"# stdout budget: per-query print cutoff raised to {cutoff}s "
            "(host-degraded run; full per-query times in bench_detail.json)",
            file=sys.stderr,
        )
    assert len(line) < 1900, (
        f"stdout summary line {len(line)} chars >= 1900 even at cutoff {cutoff}: "
        "move fields to bench_detail.json"
    )
    print(line)


def named(spark, args, names: list[str], sf_dirs: list[str]) -> None:
    """Time `names` at each of `sf_dirs` into the full JSON result schema."""
    import pyspark

    results, failures = [], []
    for sf_dir in sf_dirs:
        print(f"# sf_dir: {sf_dir}", file=sys.stderr)
        _prepare(spark, sf_dir, args.mem_table)
        for name in names:
            iters = []
            try:
                for secs, rows in timed_runs(spark, sf_dir, name, args.iterations):
                    iters.append({"elapsed_ms": round(secs * 1000, 1), "row_count": rows})
            except Exception as exc:  # collect failures, keep going (A21)
                traceback.print_exc()
                failures.append(
                    {
                        "query": name,
                        "sf_dir": sf_dir,
                        "iteration": len(iters),
                        "error": f"{type(exc).__name__}: {exc}",
                    }
                )
            if iters:
                ms = [it["elapsed_ms"] for it in iters]
                results.append(
                    {
                        "query": name,
                        "sf_dir": sf_dir,
                        "iterations": iters,
                        "avg_ms": round(sum(ms) / len(ms), 1),
                        "best_ms": min(ms),
                    }
                )
                print(f"# {name}: {min(ms) / 1000:.3f}s rows={rows} iters_ms={ms}", file=sys.stderr)

    best = {(r["sf_dir"], r["query"]): r["best_ms"] / 1000 for r in results}
    for big in sf_dirs[1:]:
        base = sf_dirs[0]
        print(f"\n{'query':28s} {'base_s':>7s} {'big_s':>7s} {'ratio':>6s}  ({base} -> {big})", file=sys.stderr)
        for name in names:
            if (base, name) in best and (big, name) in best:
                b, g = best[base, name], best[big, name]
                print(f"{name:28s} {b:7.2f} {g:7.2f} {g / b:6.2f}", file=sys.stderr)

    out = {
        "context": {
            "num_cpus": os.cpu_count(),
            "pyspark_version": pyspark.__version__,
            "python_version": sys.version.split()[0],
            "args": vars(args),
        },
        "queries": results,
        "failures": failures,
        "total_avg_ms": round(sum(r["avg_ms"] for r in results), 1),
    }
    text = json.dumps(out, indent=2)
    if args.output:
        with open(args.output, "w") as f:
            f.write(text)
        print(f"wrote {args.output}: {len(results)} runs, {len(failures)} failures, "
              f"total avg {out['total_avg_ms']} ms")
    else:
        print(text)
    if failures:
        print(f"FAILURES: {[f['query'] for f in failures]}", file=sys.stderr)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", help="registry names, or 'all'; none = headline run")
    ap.add_argument("--sf-dir", action="append", help="repeatable; default $SPARK_GRAFT_SF_DIR")
    ap.add_argument("--iterations", type=int, default=int(os.environ.get("BENCH_ITERATIONS", "3")))
    ap.add_argument("-o", "--output", default=None)
    ap.add_argument("--mem-table", action="store_true")
    ap.add_argument("--no-pushdown", action="store_true")
    ap.add_argument("--partitions", type=int, default=None)
    args = ap.parse_args()
    sf_dirs = args.sf_dir or [os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")]

    from datafusion_datasource_orc_spark.operators import QUERIES

    names = list(QUERIES) if "all" in args.queries else args.queries
    # checked before Spark starts: a typo after minutes of timed iterations
    # would discard all the work
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    if not names and (args.output or len(sf_dirs) > 1):
        ap.error("-o and a second --sf-dir need query names")

    from datafusion_datasource_orc_spark.session import get_spark

    spark = get_spark(app_name="bench", shuffle_partitions=args.partitions)
    if args.no_pushdown:
        spark.conf.set("spark.sql.orc.filterPushdown", "false")
        spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    if names:
        named(spark, args, names, sf_dirs)
    else:
        _prepare(spark, sf_dirs[0], args.mem_table)
        headline(spark, sf_dirs[0], args.iterations)


if __name__ == "__main__":
    main()
