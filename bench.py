#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs a representative cross-section of the declared query inventory (one per
operator family — scan/agg, joins, windows, sort, dedup, similarity, text,
event-time) and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced with a `noop` datasource write (full pipeline runs, no
driver-side collect — the same discipline we'd use on a cluster).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

# Make the repo importable regardless of the caller's cwd — including by the
# forked Python UDF workers, which resolve cloudpickled references to
# `stupidb_spark` via PYTHONPATH (set before the first worker forks).
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from stupidb_spark.queryset import QUERIES
from stupidb_spark.session import get_session

HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q17",
    "tpch_q18",
    "tpch_q4",
    "tpch_q12",
    "tpch_q14",
    "tpch_q19",
    "tpch_q22",
    "tpch_q8",
    "tpch_q21",
    "tpch_q2",
    "tpch_q11",
    "tpch_q16",
    "tpch_q20",
    "agg_grouped_stats",
    "agg_grouping_sets",
    "agg_udaf_sum_sq",
    "join_inner_star",
    "join_fact_fact",
    "join_semi_exists",
    "join_skew_replicate",
    "win_running_sum",
    "win_stat_frames",
    "win_rank",
    "win_navigation",
    "win_dynamic_frame",
    "sort_topk",
    "setop_six",
    "events_sliding",
    "events_session",
    "events_attribution",
    "events_props_json",
    "asof_join_orders",
    "range_join_buckets",
    "dedup_exact",
    "dedup_components",
    "dedup_components_lsh",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "ann_topk_pq",
    "ann_topk_ivfpq",
    "multimodal_features",
    "multimodal_audio",
    "pack_sequences",
    "text_token_stats",
    "text_metrics",
    "text_lang_id",
    "pipeline_prep",
    "chunk_documents",
    "contamination_ngram",
    "pii_redact",
    "prep_winsorize",
    "shuffle_deterministic",
    "terms_topk",
    "batch_shaping",
    "text_rarity_score",
    "text_lm_perplexity",
    "text_lm_backoff",
    "text_dup_spans",
    "text_strip_dup_spans",
    "text_entropy",
    "text_nb_lang",
    "dedup_semantic",
    "dedup_ingest_candidates",
    "emb_pca_project",
    "tok_bpe_merges",
    "sample_group_topk",
    "ann_knn_join",
    "text_gopher_rules",
    "sample_split_leakproof",
    "emb_kmeans_refine",
    "emb_cov_matrix",
    "pipeline_training_mix",
    "agg_sketch_rollup",
    # the streaming end-to-end gates run a REAL availableNow stream inside
    # the callable (stage -> micro-batches -> idempotent sink -> read-back),
    # so their bench rows time the streaming source+sink machinery itself
    "stream_quality_gate",
    "stream_knn_label",
    # round-11 additions: the corpus-scale stream labeling route (batch
    # knn_join artifact + stream-static join) and the sketch table's exact
    # lane through its own day-partitioned storage
    "stream_knn_label_join",
    "sketch_events_daily",
    # round-12 additions: the events family's end-to-end stream gate
    # (3-batch tumbling aggregation through the complete-mode epoch sink)
    # and the sketch rollup's estimate lane (agg_sketch_rollup itself is
    # now the oracled exact lane of the same rollup)
    "stream_events_tumbling",
    "agg_sketch_estimates",
    # sliding/session events stream gates (complete-mode epoch sink; the
    # session row times the cross-batch session-merge state machine)
    "stream_events_sliding",
    "stream_events_session",
    # round-13: the production sessionization route — watermarked APPEND
    # mode over time-ordered batches (state evicted as sessions finalize)
    "stream_events_session_append",
    # round-13: the multimodal family's hash-comparable lane (full
    # synthesize -> encode -> decode byte round-trip per modality)
    "multimodal_features_exact",
    # round-14: the sample-level exact lanes — WAV integer folds and
    # every-2nd-frame luma folds through the real container walks
    "multimodal_audio_exact",
    "multimodal_frames_exact",
    # round-13: DSIR importance weights (hashed-bigram likelihood
    # ratios — the data-selection scoring pass)
    "text_dsir_weights",
    # round-14: greedy k-center coreset (diversity-subset selection;
    # k driver-sequenced TakeOrdered steps over a carried min-distance)
    "emb_coreset_kcenter",
    # tok_bpe_encode is gate-only: a standalone run re-trains the same
    # merge table tok_bpe_merges already times, so the headline would
    # double-count the trainer; the encoder itself is a map-only UDF.
    # dedup_containment is gate-only, like the other raw pair queries
    # (dedup_ngram_jaccard / dedup_jaccard_capped): the headline carries
    # the dedup PATHS (components/LSH/minhash/...), not each exact
    # pairwise scorer.
]


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat. Steal is time the hypervisor
    ran OTHER tenants — foreign load — so unlike loadavg it is not inflated
    by this bench's own local[32] saturation."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except Exception:
        return 0, 0


def cpu_calibration(mib: int = 1024) -> float:
    """Deterministic single-core workload (SHA-256 over ``mib`` MiB of
    fixed bytes, 64 KiB at a time), timed in seconds. ~1 s on this box
    when quiet.

    Why (round-12 verdict, "What's wrong" #1): two quiet-flagged records
    of IDENTICAL code drifted a uniform ~11% apart at steal <2% — the
    hypervisor can slow the whole box without stealing whole jiffies, so
    steal%% alone can't see a "slow box band". This probe's wall time is
    a pure CPU-speed thermometer: cross-round like-for-like comparisons
    divide totals by the ratio of calibration times to normalize out box
    state (documented in BASELINE.md). Single-threaded on purpose — it
    measures per-core speed, not scheduler contention — and allocation-
    free in the loop so the number is stable run-to-run on a quiet box.
    """
    import hashlib

    buf = bytes(range(256)) * 256  # 64 KiB, content fixed by construction
    start = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(mib * 16):  # mib MiB / 64 KiB
        h.update(buf)
    h.hexdigest()
    return round(time.perf_counter() - start, 4)


def cpu_calibration_all_cores(
    mib_per_thread: int = 128, n_threads: int | None = None
) -> float:
    """Deterministic ALL-CORES workload: ``n_threads`` Python threads
    (default: os.cpu_count()) each SHA-256 ``mib_per_thread`` MiB of the
    same fixed bytes concurrently; returns wall seconds.

    Why (round-13 verdict, "What's wrong" #1): the 1-thread probe alone
    could not explain a 1.14× work-per-unit-speed gap between two
    identical-code records — it reads per-core speed but is blind to the
    axes a 32-task Spark stage actually runs on: multi-core memory
    bandwidth, SMT contention, and hypervisor co-scheduling. hashlib
    releases the GIL for large updates, so the threads genuinely
    saturate the cores and the wall time is an aggregate-throughput
    thermometer. Cross-round normalization uses BOTH probes — see
    BASELINE.md ("Two-axis calibration").
    """
    import hashlib
    import threading

    if n_threads is None:
        n_threads = os.cpu_count() or 1
    buf = bytes(range(256)) * 256  # 64 KiB, content fixed by construction

    def work() -> None:
        h = hashlib.sha256()
        for _ in range(mib_per_thread * 16):
            h.update(buf)
        h.hexdigest()

    threads = [threading.Thread(target=work) for _ in range(n_threads)]
    start = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return round(time.perf_counter() - start, 4)


def _default_quiet_probe() -> tuple[float, float]:
    """(loadavg-1m, CPU-steal %% over a 1 s window) — the two noise signals
    the post-run noise block already records, measured BEFORE the run."""
    load = os.getloadavg()[0] if hasattr(os, "getloadavg") else 0.0
    s0, t0 = _cpu_ticks()
    time.sleep(1.0)
    s1, t1 = _cpu_ticks()
    return load, 100.0 * (s1 - s0) / max(1, t1 - t0)


def wait_for_quiet(
    max_wait_s: float,
    *,
    load_thresh: float = 2.0,
    steal_thresh: float = 3.0,
    probe=_default_quiet_probe,
    sleep=time.sleep,
    interval_s: float = 15.0,
) -> dict:
    """Bounded wait for a quiet host before timing anything.

    Rounds 8 and 9 both stamped a noisy driver record while the quiet
    number sat in BENCH_LOCAL.json — the keep-the-quiet-record policy
    worked, but the driver artifact was the pessimistic one. Waiting out
    transient load (the driver runs the bench right after the correctness
    gate saturates the box) makes the stamped record the clean one.

    Probes ``probe()`` → (loadavg, steal%%) up to ``max_wait_s`` seconds,
    sleeping ``interval_s`` between probes; returns as soon as both
    signals sit under the same thresholds the post-run noise block flags
    on. NEVER blocks past the bound: a persistently loaded host proceeds
    noisy-flagged exactly as before. Returns a notes dict for the record.
    """
    waited = 0.0
    load, steal = probe()
    while (load > load_thresh or steal > steal_thresh) and waited < max_wait_s:
        step = min(interval_s, max_wait_s - waited)
        sleep(step)
        waited += step
        load, steal = probe()
    return {
        "waited_s": round(waited, 1),
        "quiet_at_start": load <= load_thresh and steal <= steal_thresh,
        "load_at_start": round(load, 2),
        "steal_at_start_pct": round(steal, 2),
    }


def resolve_record(
    sf: float | None,
    total: float,
    timings: dict[str, float],
    noisy: bool,
    *,
    repo: str = _REPO,
    env: dict | None = None,
    cpus: int | None = None,
) -> tuple[str, bool, dict]:
    """Decide where the run's record goes and whether to keep the old one.

    Returns ``(path, keep_existing, notes)``. Three protections, all earned
    by shipped mistakes:

    - **Scale-factor guard** (round-7 lesson: an sf0.01 gate-rehearsal run
      silently clobbered the round's quiet sf0.1 record because the noisy
      policy below only compares IDENTICAL workloads). A run whose ``sf``
      differs from the existing default record is a different experiment,
      not a remeasurement — it never overwrites the default file; it is
      redirected to an sf-suffixed sibling. An explicit
      ``SPARK_GRAFT_BENCH_OUT`` always goes exactly where the caller said.
    - **Core-count guard** (round-14 lesson: the driver's 8-core scaling
      run — 75.0 s, faster in wall clock because the sf0.1 bench is
      latency-bound — overwrote the round's quiet 32-core record, leaving
      the repo reference incomparable to every other record). Same rule as
      sf: a run at a different ``cpus`` than the existing default record
      is a different experiment and redirects to ``BENCH_LOCAL_c<n>.json``.
      The two suffixes compose: a run differing in both goes to
      ``BENCH_LOCAL_sf<sf>_c<n>.json``, so an sf sibling never mixes core
      counts either.
      Records written before round 15 lack the ``cpus`` field; an unknown
      previous core count falls back to the old behavior.
    - **Noisy-run guard** (round-6 lesson): a run that self-flags noisy
      never replaces a FASTER record of the identical workload — for a
      deterministic workload the lower total IS the better measurement,
      same logic as per-query best-of-N. Quiet runs always overwrite, so a
      code regression can't hide behind a stale fast record.
    """
    if env is None:
        env = os.environ
    notes: dict = {}
    out_name = env.get("SPARK_GRAFT_BENCH_OUT")
    explicit_out = out_name is not None
    if not explicit_out:
        out_name = "BENCH_LOCAL.json"
    path = os.path.join(repo, out_name)
    if not explicit_out:
        try:
            with open(path) as f:
                prev0 = json.load(f)
            prev_sf, prev_cpus = prev0.get("sf"), prev0.get("cpus")
        except (OSError, ValueError):
            prev_sf, prev_cpus = None, None
        suffix, differs = "", []
        if prev_sf is not None and prev_sf != sf:
            suffix += f"_sf{sf}"
            differs.append(f"sf={prev_sf}")
        if prev_cpus is not None and cpus is not None and prev_cpus != cpus:
            suffix += f"_c{cpus}"
            differs.append(f"cpus={prev_cpus}")
        if suffix:
            out_name = f"BENCH_LOCAL{suffix}.json"
            path = os.path.join(repo, out_name)
            notes["record_redirect"] = {
                "file": out_name,
                "note": f"existing BENCH_LOCAL.json records "
                f"{', '.join(differs)}; a run at a different scale factor "
                "or core count never overwrites the default record",
            }
    keep_existing = False
    if noisy:
        try:
            with open(path) as f:
                prev = json.load(f)
            if (
                prev.get("sf") == sf
                and prev.get("cpus") in (None, cpus)
                and sorted(prev.get("queries", {})) == sorted(timings)
                and prev.get("value", float("inf")) <= total
            ):
                keep_existing = True
                notes["kept_quiet_record"] = {
                    "file": out_name,
                    "value": prev["value"],
                    "note": "current run is noisy; the file keeps the "
                    "faster earlier run of the same workload",
                }
        except (OSError, ValueError):
            pass
    return path, keep_existing, notes


def run_with_steal_retries(
    timed_attempt,
    first_load: float | None,
    *,
    max_retries: int = 2,
    load_thresh: float = 2.0,
    steal_thresh: float = 3.0,
    wait_fn=None,
    load_fn=None,
):
    """Mid-run steal detection with bounded retries: three rounds running,
    the driver-stamped artifact was a noisy single run deferring to the
    kept quiet record. If the timed section itself got stolen from (>3% of
    its CPU window) or started under foreign load, wait out the noise
    (``wait_fn``, the bounded quiet wait — our executors are idle between
    attempts, so loadavg decays e-fold per minute toward the foreign load)
    and RE-RUN the whole timed section, up to ``max_retries`` extra
    attempts, so the stamped record converges to the quiet measurement
    instead of pointing at it.

    ``timed_attempt()`` → (timings, per-query steal%). Returns
    ``(timings, steal_pct, noisy, loadavg, attempt_log)``; every attempt is
    logged, so a record with ``len(attempts) > 1`` shows the detector
    fired, and a box that never went quiet ships noisy-flagged with the
    per-attempt evidence (timings then take the per-query MIN across
    attempts — for a deterministic workload the least-polluted estimate,
    same logic as best-of-N passes — while steal reports the per-query MAX
    so the pollution stays visible)."""
    attempt_log: list[dict] = []
    attempt_results: list[tuple[dict, dict]] = []
    attempt_load = first_load
    for attempt in range(max_retries + 1):
        if attempt > 0:
            retry_wait = wait_fn() if wait_fn is not None else None
            attempt_load = load_fn() if load_fn is not None else None
            if retry_wait is not None:
                attempt_log[-1]["retry_quiet_wait"] = retry_wait
        t, s_pct = timed_attempt()
        a_steal = max(s_pct.values(), default=0.0)
        a_noisy = (attempt_load or 0) > load_thresh or a_steal > steal_thresh
        attempt_log.append(
            {
                "total": round(sum(t.values()), 3),
                "steal_pct_max": a_steal,
                "loadavg_start": round(attempt_load, 2)
                if attempt_load is not None
                else None,
                "noisy": a_noisy,
            }
        )
        attempt_results.append((t, s_pct))
        if not a_noisy:
            return t, s_pct, False, attempt_load, attempt_log
    t = {
        name: min(r[0][name] for r in attempt_results)
        for name in attempt_results[0][0]
    }
    s_pct = {
        name: max(r[1][name] for r in attempt_results)
        for name in attempt_results[0][1]
    }
    return t, s_pct, True, attempt_load, attempt_log


def summary_line(payload: dict) -> str:
    """The compact summary printed as the bench's LAST stdout line.

    A bounded tail capture can truncate the full record line above, so
    this line must carry the per-query map on its own and stay inside a
    ~3 KB window: ~2.4 KB at 95 queries and 3-decimal seconds. It keeps
    the queries and drops the bulky noise block (attempts and calibration
    live in the full line and the record file); only the two one-glance
    noise scalars ride along.
    """
    return json.dumps(
        {
            "metric": payload["metric"],
            "value": payload["value"],
            "unit": payload["unit"],
            "n": len(payload["queries"]),
            "sf": payload["sf"],
            "noisy": payload["noise"]["noisy"],
            "steal_pct_max": payload["noise"]["steal_pct_max"],
            "queries": payload["queries"],
        },
        separators=(",", ":"),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    # Bounded wait-for-quiet BEFORE the session starts (our own executors
    # would saturate loadavg). SPARK_GRAFT_BENCH_WAIT_QUIET overrides the
    # bound in seconds; 0 disables. Default 240 s: 1-min loadavg decays
    # e-fold per minute, so even a fully saturated box (load ~30) reads
    # under the 2.0 threshold within ~3 min of going idle — while keeping
    # the worst-case addition to a driver-invoked bench run small.
    max_wait = float(os.environ.get("SPARK_GRAFT_BENCH_WAIT_QUIET", "240"))
    quiet_wait = wait_for_quiet(max_wait) if max_wait > 0 else None
    # FOREIGN-load sample, taken strictly BEFORE our session exists: once
    # the warmups saturate local[32], 1-min loadavg reads our own work and
    # a genuinely idle box self-flags noisy (observed: wait-for-quiet
    # passed at load 1.5, post-warmup read 2.85 → spurious noisy flag).
    loadavg_start = os.getloadavg()[0] if hasattr(os, "getloadavg") else None
    spark = get_session("stupidb-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers + Python UDF worker pool so per-query
    # timings measure the plan, not first-touch JIT/IO/worker-fork (the
    # driver's baseline does the same)
    QUERIES["tpch_q1"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    from pyspark.sql import functions as F

    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(1000).select(_warm("id")).write.format("noop").mode(
        "overwrite"
    ).save()

    # best-of-2 per query: steady-state timing, robust to noisy-neighbor
    # interference and first-plan codegen compile. Shuffle-exchange counts
    # per plan are recorded alongside so a timing regression is attributable
    # (did the plan change, or just the machine?).
    from stupidb_spark.plans import exchange_count

    # Noise self-description: loadavg at start (foreign processes before we
    # saturate the box ourselves — sampled above, pre-session) + per-query
    # CPU-steal percentage. A run taken on a loaded host flags itself
    # instead of reading as a code regression (the r3 driver bench was 3×
    # a quiet run of the same commit).
    exchanges: dict[str, int] = {}
    # SPARK_GRAFT_BENCH_PASSES=N sweeps the whole headline N times and takes
    # the per-query min ACROSS passes (same tree by construction — this is
    # per-query best-of-N, not the round-6 stale-record hazard, which was a
    # fast record from an OLDER code tree). Slow environment drift between
    # single runs measured a uniform ~1.13× median swing on identical plans;
    # multiple interleaved passes sample past it. Default 1 keeps the
    # driver's bench cost unchanged.
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "1")))

    # Per-attempt CPU-speed thermometer (see cpu_calibration). Timed at the
    # START of each attempt, while the executors are idle, so it reads box
    # state rather than our own saturation.
    calibrations: list[float] = []
    calibrations_mt: list[float] = []

    def timed_attempt() -> tuple[dict[str, float], dict[str, float]]:
        calibrations.append(cpu_calibration())
        calibrations_mt.append(cpu_calibration_all_cores())
        t: dict[str, float] = {}
        s_pct: dict[str, float] = {}
        for _pass in range(passes):
            for name in HEADLINE:
                samples = []
                s0, t0 = _cpu_ticks()
                for _ in range(2):
                    start = time.perf_counter()
                    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                    samples.append(time.perf_counter() - start)
                s1, t1 = _cpu_ticks()
                q_steal = 100.0 * (s1 - s0) / max(1, t1 - t0)
                # host CPU-steal on this box swings identical plans up to
                # ~2×; when the two samples disagree by >1.5×, or the
                # hypervisor stole >3% of the window's CPU, the measurement
                # is suspect — buy ONE more sample for that query only
                # (bounded extra cost)
                if max(samples) > 1.5 * min(samples) or q_steal > 3.0:
                    start = time.perf_counter()
                    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                    samples.append(time.perf_counter() - start)
                best = round(min(samples), 3)
                if name not in t or best < t[name]:
                    t[name] = best
                s_pct[name] = max(s_pct.get(name, 0.0), round(q_steal, 2))
        return t, s_pct

    max_retries = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_RETRIES", "2")))
    timings, steal_pct, run_noisy, run_load, attempt_log = run_with_steal_retries(
        timed_attempt,
        loadavg_start,
        max_retries=max_retries,
        wait_fn=(lambda: wait_for_quiet(max_wait)) if max_wait > 0 else None,
        load_fn=lambda: (
            os.getloadavg()[0] if hasattr(os, "getloadavg") else None
        ),
    )

    for name in HEADLINE:
        exchanges[name] = exchange_count(QUERIES[name](spark, sf_dir))

    total = round(sum(timings.values()), 3)
    noise = {
        # SESSION-start foreign load (pre-warmup, pre-retries) — the field
        # every pre-round-12 record means by this name; each retry
        # attempt's own pre-attempt load lives in noise.attempts.
        "loadavg_start": round(loadavg_start, 2)
        if loadavg_start is not None
        else None,
        "loadavg_final_attempt": round(run_load, 2)
        if run_load is not None
        else None,
        "steal_pct_max": max(steal_pct.values()) if steal_pct else 0.0,
        "noisy": run_noisy,
        # CPU-speed thermometer, one reading per attempt (timed on an idle
        # box slice before that attempt's queries). `best` is the
        # normalization divisor for cross-round like-for-like comparisons:
        # ratio = (total_a / cal_a_best) / (total_b / cal_b_best)
        # cancels uniform box-speed drift that steal%% can't see.
        "calibration": {
            "workload": "sha256-1GiB-1thread",
            "secs": calibrations,
            "best": min(calibrations) if calibrations else None,
            # Second axis (round-13 verdict): aggregate multi-core
            # throughput — catches memory-bandwidth/SMT/co-scheduling
            # slowdowns the per-core probe cannot see.
            "workload_allcores": f"sha256-128MiBx{os.cpu_count()}threads",
            "secs_allcores": calibrations_mt,
            "best_allcores": (
                min(calibrations_mt) if calibrations_mt else None
            ),
        },
        # Methodology provenance: per-query best-of across this many full
        # passes. A best-of-3 record must be distinguishable from a
        # single-pass one — resolve_record's identical-workload check and
        # every like-for-like round comparison depend on record provenance.
        "passes": passes,
        # One entry per timed attempt (first + steal-triggered retries);
        # len > 1 means the mid-run steal detector fired.
        "attempts": attempt_log,
    }
    if quiet_wait is not None:
        noise["quiet_wait"] = quiet_wait
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "exchanges": exchanges,
        "steal_pct": steal_pct,
        "noise": noise,
        "sf": sf,
        # Core count of this run (local[N]) — resolve_record's core-count
        # guard keys on it so a low-core scaling run can never clobber the
        # default record (the round-14 8-core lesson).
        "cpus": spark.sparkContext.defaultParallelism,
    }
    # Durable copy first: BENCH_r02's stdout line was truncated by the
    # driver's tail capture, losing the round's headline number. The file is
    # the record; stdout is the interface.
    #
    # Quiet-run discipline (round-6 lesson: a noisy 50.5 s run shipped as
    # the round record while the same commit measured 34.7 s quiet): a run
    # that self-flags noisy must NOT overwrite an earlier QUIET record of
    # the same workload — the file keeps the quiet number, stdout stays the
    # raw current run, and the noise block points at the retained record.
    local_path, keep_existing, record_notes = resolve_record(
        sf, total, timings, noise["noisy"], cpus=payload["cpus"]
    )
    noise.update(record_notes)
    if not keep_existing:
        with open(local_path, "w") as f:
            json.dump(payload, f)
            f.write("\n")
    # Quiesce Spark BEFORE printing so executor/teardown chatter can't land
    # after (or interleave with) the JSON lines, then emit the full record
    # line (no exchanges dict — it lives in the file) followed by a COMPACT
    # summary as the very LAST stdout line. The driver's bounded tail
    # capture truncated the full line two rounds running (BENCH_r09/r10
    # `parsed: null` — per-query timings made the line exceed the capture
    # window); the last line must always fit, so it carries value/n/sf/noise
    # only. Per-query timings live in the full line above and in the record
    # file.
    spark.stop()
    line = json.dumps(
        {
            k: payload[k]
            for k in ("metric", "value", "unit", "queries", "noise", "sf")
        },
        separators=(",", ":"),
    )
    sys.stdout.flush()
    print(line, flush=True)
    print(summary_line(payload), flush=True)


if __name__ == "__main__":
    sys.exit(main())
