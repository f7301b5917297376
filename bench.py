#!/usr/bin/env python
"""Per-round benchmark: every registered query at $SPARK_GRAFT_SF_DIR.

Prints the contract JSON as the FINAL stdout line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": <float>}
where ``queries`` carries as many per-query medians as fit the driver's
~2000-char stdout tail window, most-expensive-first (see
``final_contract_line``); the COMPLETE per-query record precedes it as
line 1 and is persisted to BENCH_SELF.json (committed each round).

Each query is timed end-to-end (plan build + execution + collect of the
result, which is small for every registered query), SPARK_GRAFT_BENCH_REPS
times (default 3): the reported per-query number is the MEDIAN and the
max-min spread rides along under "query_spread" (host noise is payload,
not prose). A JVM/codegen warm-up query runs first and is not counted. Query set spans the engine surface:
TPC-H-style scan/agg/join/window, the medallion pipeline, text analysis,
MinHash-LSH dedup, and embedding similarity (SURVEY.md §2 + extensions).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from energy_emissions_lakehouse_spark.registry import all_queries
from energy_emissions_lakehouse_spark.session import get_spark


def dedup_stage_sweep(spark, sf_dirs: list[str]) -> dict:
    """Per-stage rows+timings for the MinHash-LSH and PPJoin dedup tiers
    at each scale factor — the scale-sweep evidence that candidate counts
    grow near-linearly with corpus size (equi-join candidate generation,
    never all-pairs). Recorded under "stages" in the bench JSON."""
    from energy_emissions_lakehouse_spark.operators import dedup as dd
    from energy_emissions_lakehouse_spark.queries.text import JACCARD_THRESHOLD
    from energy_emissions_lakehouse_spark.tables import t as load

    out: dict[str, dict] = {}
    for sf_dir in sf_dirs:
        stages: dict[str, dict] = {}

        def stage(name: str, df, eager: bool = False):
            t0 = time.perf_counter()
            if eager:  # materialize so downstream stages don't re-pay this
                df = df.localCheckpoint(eager=True)
            n = df.count()
            stages[name] = {
                "rows": n, "sec": round(time.perf_counter() - t0, 3)
            }
            return df

        docs = load(spark, sf_dir, "documents")
        doc_sh = stage("shingle", dd.doc_shingles(docs), eager=True)
        sigs = stage("minhash_signature", dd.minhash_signatures(doc_sh),
                     eager=True)
        cands = stage("lsh_band_join", dd.lsh_candidate_pairs(sigs),
                      eager=True)
        stage("lsh_verify",
              dd.verified_pairs(cands, doc_sh, JACCARD_THRESHOLD))
        pp = stage("ppjoin_prefix_join",
                   dd.prefix_candidate_pairs(doc_sh, JACCARD_THRESHOLD),
                   eager=True)
        stage("ppjoin_verify",
              dd.verified_pairs(pp, doc_sh, JACCARD_THRESHOLD))
        n_docs = docs.count()
        out[os.path.basename(sf_dir.rstrip("/"))] = {
            "n_docs": n_docs, **stages
        }
    return out


#: Byte budget for the final stdout line.  The driver's stdout capture is
#: a ~2000-char tail (measured: BENCH_r08/r09 stored exactly-2000-char
#: tails and parsed=null when the last line was the ~10 KB full payload;
#: r10+ parsed the <200-byte compact line fine).  1700 leaves a 300-byte
#: safety margin while fitting ~30-35 cost-ranked per-query entries.
_FINAL_LINE_BUDGET = 1700


def final_contract_line(payload: dict, timings: dict[str, float]) -> dict:
    """The last-line JSON object: headline metric + as many per-query
    medians as fit the byte budget, selected most-expensive-first
    (deterministic: ties break by name; packing stops at the FIRST entry
    that would overflow, preserving strict by-cost priority).  The
    pointer to the on-disk full record rides as a top-level key so
    ``queries`` holds ONLY name->seconds numbers."""
    base = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": "sec",
        "queries_n": len(timings),
        "s_per_q": round(payload["value"] / max(len(timings), 1), 4),
        "sf": payload["sf"],
        "reps": payload["reps"],
        "probe_drift": payload["probe_drift"],
        "probe_drift_flag": payload["probe_drift_flag"],
        "full_payload": "BENCH_SELF.json",
        "queries": {},
    }
    ranked = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    line_q: dict[str, float] = {}
    for name, sec in ranked:
        trial = dict(base)
        trial["queries"] = {**line_q, name: sec}
        if len(json.dumps(trial)) > _FINAL_LINE_BUDGET:
            break
        line_q[name] = sec
    out = dict(base)
    out["queries"] = line_q
    return out


def main() -> None:
    # The caller parses stdout as ONE JSON line, and both prior rounds'
    # parses failed on polluted/oversized output (Ivy banners and JVM
    # shutdown notes write to fd 1 directly, bypassing sys.stdout). Make
    # purity structural: re-point fd 1 at stderr for the whole run — the
    # JVM inherits the redirect — and keep a private dup of the real
    # stdout that receives exactly one write: the final JSON line.
    real_stdout = os.dup(1)
    os.dup2(2, 1)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    match = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(match.group(1).rstrip(".")) if match else -1.0

    # Config provenance: unset SPARK_GRAFT_CPUS means the cores this
    # process may run on (what `nproc` prints), never a fixed count, and
    # the payload records the value and where it came from.
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
    env_set = bool(cpus_env and cpus_env.strip())
    if env_set:
        try:
            cpus = int(cpus_env.strip())
        except ValueError:
            raise SystemExit(
                f"bench.py: SPARK_GRAFT_CPUS must be an integer core count, "
                f"got {cpus_env!r}"
            )
        if cpus < 1:
            # local[0]/local[-4] would die deep in JVM init with an
            # unrelated-looking error — fail loud and clear here instead
            raise SystemExit(
                f"bench.py: SPARK_GRAFT_CPUS must be >= 1, got {cpus}"
            )
        cpus_source = "env"
    else:
        # whitespace-only counts as unset, same as empty
        cpus, cpus_source = len(os.sched_getaffinity(0)), "default_nproc"
    print(
        f"[bench] config: local[{cpus}] (SPARK_GRAFT_CPUS "
        f"{'=' + cpus_env if env_set else 'unset -> nproc'}), "
        f"sf_dir={sf_dir}",
        file=sys.stderr,
    )

    spark = get_spark(app_name="eel-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # Warm-up: JVM JIT + codegen + parquet footer reads (not counted).
    queries["pricing_summary"](spark, sf_dir).collect()

    # ---- Staging: one-time setup work that the headline timings amortize
    # away (train-once-serve-many indexes, canonicalized stream sources,
    # Python worker pool).  Round-3 advice: this must be REPORTED as its
    # own timed stage so the headline metric's exclusions are visible and
    # comparable across rounds — the cost is moved, not eliminated.
    staging: dict[str, float] = {}

    def staged(name: str, fn) -> None:
        t0 = time.perf_counter()
        fn()
        staging[name] = round(time.perf_counter() - t0, 3)
        print(f"[bench] staging {name}: {staging[name]}s", file=sys.stderr)

    # The streaming file source reads a canonicalized events copy staged
    # per (sf_dir, mtime) — build it here so stream_* timings measure the
    # streaming pipeline, same policy as the medallion staging dir.
    from energy_emissions_lakehouse_spark.streaming.jobs import (
        _stage_events_dir,
        read_events_stream_with_flush,
    )

    def _stage_streams() -> None:
        _stage_events_dir(spark, sf_dir)
        read_events_stream_with_flush(spark, sf_dir)  # stages dir + sentinels
        read_events_stream_with_flush(spark, sf_dir, n_sentinels=1)

    staged("events_stream_source", _stage_streams)

    # Same policy for the simulated ingest-batch file sources (documents
    # for stream_ingest_neardup, embeddings for
    # stream_pq_incremental_assign): source canonicalization is one-time
    # setup, keyed per corpus version — stage it here so the stream_*
    # timings measure the streaming pipelines, not a cold parquet
    # filter+rewrite on first touch.
    from energy_emissions_lakehouse_spark.streaming.jobs import (
        _stage_docs_batch_dir,
        _stage_emb_batch_dir,
    )

    def _stage_ingest_batches() -> None:
        _stage_docs_batch_dir(spark, sf_dir)
        _stage_emb_batch_dir(spark, sf_dir)

    staged("ingest_batch_sources", _stage_ingest_batches)

    # The PQ model (encoded corpus + codebooks) is an INDEX: production
    # trains it once per corpus version and serves every query against it.
    # Build the staged model here so pq_adc_* timings measure ADC serving,
    # not Lloyd training.  Its build cost is the "pq_index_build" staging
    # entry below — compare serving (queries.pq_adc_*) + build (here)
    # against rounds that timed training inline.
    from energy_emissions_lakehouse_spark.queries.vectors import (
        _pq_staged_model,
    )

    # fresh=True forces a COLD rebuild so the reported build cost is the
    # real training cost every round, never a ~0 s warm-cache hit.
    staged(
        "pq_index_build",
        lambda: _pq_staged_model(spark, sf_dir, m=16, ksub=32, iters=2,
                                 fresh=True),
    )
    # the round-12 hi-fidelity tier (m16 x 64, 4 Lloyd rounds) is its own
    # staged index: deeper training is the one-time cost that halves the
    # serving-side re-rank shortlist at >= 0.95 recall
    staged(
        "pq_hi_index_build",
        lambda: _pq_staged_model(spark, sf_dir, m=16, ksub=64, iters=4,
                                 fresh=True),
    )

    # The co-purchase pair list is the second staged index (round-4
    # advice): five graph queries (triangle / LPA / k-core / lift / BFS)
    # share it instead of each replaying the basket self-join.  Cold
    # rebuild here so its build cost stays visible per round.
    from energy_emissions_lakehouse_spark.queries.graph import (
        _staged_copurchase_pairs,
    )

    staged(
        "copurchase_pairs_build",
        lambda: _staged_copurchase_pairs(spark, sf_dir, fresh=True),
    )

    # The verified Jaccard pair list is the third staged index (round 6):
    # the 7-shuffle PPJoin build is one-time-per-corpus work shared by the
    # ngram/dedup-cluster consumers.  Cold rebuild keeps the cost visible.
    from energy_emissions_lakehouse_spark.queries.text import (
        ngram_jaccard_pairs,
    )

    staged(
        "jaccard_pairs_build",
        lambda: ngram_jaccard_pairs(spark, sf_dir, fresh=True),
    )

    # The versioned-table 5-commit history (create/append/merge/delete/
    # compact) is build-once staged state like the indexes above: the
    # vtable_* queries measure log-replay READS (time travel, CDF,
    # post-compaction serving), not the one-time write workload.  Cold
    # rebuild keeps the write-path cost visible per round.
    from energy_emissions_lakehouse_spark.queries.versioned import (
        staged_vtable,
    )

    staged(
        "vtable_history_build",
        lambda: staged_vtable(spark, sf_dir, fresh=True),
    )

    # Python-worker pool spin-up is per-JVM environment cost, not query
    # work: a first Arrow-batched call pays daemon+worker fork (~2-5 s).
    # Warm it with a tiny datasource read so the timed Python-path
    # queries measure their pipelines, not process startup.
    from energy_emissions_lakehouse_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    def _warm_python_workers() -> None:
        register_synthetic_source(spark)
        (
            spark.read.format("eel_synthetic")
            .option("n_rows", 1000)
            .load()
            .count()
        )
        # the WRITE-side Python worker pool is separate from the read
        # side (DataSourceArrowWriter tasks fork their own workers): a
        # tiny vtable-sink write here keeps vtable_sql_sink_roundtrip's
        # first rep from paying the spin-up — its 8-17 s first-rep
        # spread in r8/r9 runs was exactly this cost (the median already
        # excluded it; now the spread stops shouting)
        import shutil as _shutil
        import tempfile as _tempfile

        from energy_emissions_lakehouse_spark.sources.vtable_stream import (
            register_vtable_source,
        )

        register_vtable_source(spark)
        wroot = _tempfile.mkdtemp(prefix="eel-sinkwarm-")
        try:
            (
                spark.range(100)
                .selectExpr("id as k", "id * 2 as v")
                .write.format("eel_vtable")
                .option("path", os.path.join(wroot, "t"))
                .mode("overwrite")
                .save()
            )
        finally:
            _shutil.rmtree(wroot, ignore_errors=True)

    staged("python_worker_pool", _warm_python_workers)

    # Round-8 verdict item: a single-shot timing makes round-over-round
    # comparison hostage to host hiccups on the slowest queries.  Each
    # headline query now runs SPARK_GRAFT_BENCH_REPS times (default 3);
    # the headline number is the per-query MEDIAN (the steady-state
    # figure — cold/setup cost is already the separate staging block)
    # and the max-min SPREAD is reported per query so a noisy window is
    # visible in the payload instead of narrated after the fact.
    reps_env = os.environ.get("SPARK_GRAFT_BENCH_REPS", "").strip()
    reps = int(reps_env) if reps_env else 3
    if reps < 1:
        raise SystemExit(f"bench.py: SPARK_GRAFT_BENCH_REPS must be >= 1")

    # Host-noise calibration probe (round-10 verdict item 4: three of
    # the last four rounds adjudicated headline drift by hand).  A fixed
    # pure-compute workload — data-independent, no IO, whole-stage
    # codegen sum over a hash — is timed immediately BEFORE and AFTER
    # the timed sweep; probe_drift = after/before rides in the payload,
    # and |drift| > 10% raises probe_drift_flag so a noisy window is
    # machine-readable instead of narrated.  Median of 3 so the probe
    # itself resists one-off hiccups.
    def _calibration_probe() -> float:
        # Round-12 recalibration: the probe's job is EXTERNAL host load,
        # and a Spark-side probe cannot separate that from the JVM's own
        # aging across a 300-query sweep — measured at three sizes on
        # back-to-back runs whose query timings agreed within 0.2%:
        # 150M-row probe read 0.81x (late C2 tiers flatter the AFTER),
        # 600M read 1.20x and 4G read 1.36x (end-of-run heap/GC debt
        # taxes the AFTER) — every one a false flag in a quiet room.
        # So the probe now runs OUTSIDE the JVM: a dense float64 matmul
        # (numpy/BLAS, all cores, ~0.55 s) has no JIT tiers and no heap
        # history — it moves only when something else is eating the
        # machine, which is exactly the signal the flag exists for.
        import numpy as _np

        a = _np.full((4096, 4096), 1.000001, dtype=_np.float64)
        a @ a  # warmup (BLAS thread pool spin-up), not counted
        runs: list[float] = []
        for _ in range(5):
            t0 = time.perf_counter()
            _ = a @ a
            runs.append(time.perf_counter() - t0)
        return round(min(runs), 3)

    probe_before = _calibration_probe()
    print(f"[bench] calibration probe (before): {probe_before}s",
          file=sys.stderr)
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    print(f"[bench] headline = registry ({len(queries)} queries)",
          file=sys.stderr)
    for name in sorted(queries):
        fn = queries[name]
        runs: list[float] = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(sorted(runs)[len(runs) // 2], 3)
        spreads[name] = round(max(runs) - min(runs), 3)
        print(
            f"[bench] {name}: {timings[name]}s"
            + (f" (spread {spreads[name]}s over {reps})" if reps > 1 else ""),
            file=sys.stderr,
        )

    probe_after = _calibration_probe()
    probe_drift = round(probe_after / probe_before, 3) if probe_before else 1.0
    probe_flag = abs(probe_drift - 1.0) > 0.10
    print(
        f"[bench] calibration probe (after): {probe_after}s — drift "
        f"{probe_drift}x{' FLAGGED (>10%)' if probe_flag else ''}",
        file=sys.stderr,
    )

    # Scale-sweep evidence (not counted in the headline total): dedup-tier
    # stage rows/timings at sf0.01 and the bench SF (10x document count).
    sweep_dirs = [os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")]
    if os.path.realpath(sweep_dirs[0]) != os.path.realpath(sf_dir):
        sweep_dirs.append(sf_dir)
    stages = dedup_stage_sweep(spark, [d for d in sweep_dirs if os.path.isdir(d)])
    for tag, rec in stages.items():
        print(f"[bench] stages {tag}: {rec}", file=sys.stderr)

    payload = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # One-time setup excluded from the headline metric, reported so
        # the exclusion is visible: pq_index_build is a forced-cold
        # train-once index build; events_stream_source is source
        # canonicalization; python_worker_pool is process spin-up.
        "staging": staging,
        "staging_total_sec": round(sum(staging.values()), 3),
        "cpus": cpus,
        "cpus_source": cpus_source,
        # variance budget (round-8 verdict): per-query medians above,
        # max-min spread across the reps here — host noise is data now
        "reps": reps,
        "query_spread": spreads,
        "spread_total_sec": round(sum(spreads.values()), 3),
        # host-noise calibration (round-11): same fixed compute probe
        # before and after the timed sweep; >10% drift flags the run as
        # noise-contaminated for round-over-round comparison
        "probe_before_sec": probe_before,
        "probe_after_sec": probe_after,
        "probe_drift": probe_drift,
        "probe_drift_flag": probe_flag,
    }
    # Durable full record (incl. the stage sweep): survives even if the
    # caller's stdout capture truncates (round 1 lost its bench record to
    # a polluted stream; round 2's parse failed on the oversized line).
    with open(os.path.join(_REPO_ROOT, "BENCH_SELF.json"), "w") as fh:
        fh.write(json.dumps({**payload, "stages": stages}) + "\n")
    # Contract output (the ONLY bytes ever written to the real stdout):
    # the full payload line first, then a size-budgeted final line.  The
    # grading driver stores only the last ~2000 chars of stdout and
    # json-parses the LAST line: the full payload (290+ per-query medians
    # + spreads, ~10 KB) overflows that window and parses as null
    # (BENCH_r08/r09), while rounds 10-12's <200-byte pointer line parsed
    # but carried ZERO per-query numbers, leaving the driver's PERF
    # per-query and scaling comparisons empty two rounds running
    # (round-12 verdict item 1).  Resolution: the final line now carries
    # REAL per-query medians, most-expensive-first, packed until the
    # line reaches _FINAL_LINE_BUDGET bytes — the heavy queries (the
    # ones optimization moves) are always externally visible, and the
    # driver's low-core scaling run intersects on them too.  Every query
    # is still in line 1 and in BENCH_SELF.json (committed per round).
    compact = final_contract_line(payload, timings)
    os.write(real_stdout, (json.dumps(payload) + "\n").encode())
    os.write(real_stdout, (json.dumps(compact) + "\n").encode())
    os.close(real_stdout)


if __name__ == "__main__":
    main()
