"""Bench harness: headline extraction throughput + per-query seconds.

Prints ONE JSON line to stdout:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {<name>: sec, ...}, "sf": <sf>,
   "extraction": {"docs": N, "sec": s, "docs_per_sec": r}}

Env knobs:
  SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] parallelism (default 32)
  SPARK_GRAFT_BENCH_DOCS  synthetic pages for the extraction bench
                          (default 16000 — big enough that the timed
                          window is ~10× the job-scheduling floor)
  SPARK_GRAFT_BENCH_RUNS  timed runs per query; the reported per-query
                          number is the MEDIAN (default 3 — pins
                          round-over-round deltas against the
                          run-to-run variance of a shared box)
  SPARK_GRAFT_PROTOCOL_DOCS  corpus size for the official >=60s-window
                          full-chain headline (BASELINE.md protocol;
                          default 1440000; 0 disables the lane)
Every timed action forces its whole output: the extraction timings
aggregate ``bit_xor(xxhash64(*cols))`` over every output column and each
query is timed as a ``noop``-format write. A bare ``count()`` would let
Catalyst prune the very columns being timed.

All diagnostics go to stderr; stdout carries only the JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

TIMING_MODE = "forced"  # stamped into the side file; the gate compares it


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def forced_ok(df) -> int:
    """Materialize every output column of an extraction through one
    ``bit_xor(xxhash64(*cols))`` aggregate; returns the rows whose
    ``failure_reason`` is null."""
    from pyspark.sql import functions as F
    row = df.agg(F.bit_xor(F.xxhash64(*df.columns)).alias("x"),
                 F.count_if(F.col("failure_reason").isNull()).alias("ok")
                 ).collect()[0]
    return int(row["ok"])


def regression_gate(side: str, timings: dict, sf: str,
                    n_runs: int) -> dict:
    """Round-over-round regression gate (VERDICT r04 #1): diff this
    run's per-query medians against the previous round's side file
    (the committed BENCH/bench_queries.json) before it is overwritten.

    A "regression" is a shared query whose new median exceeds the old
    by BOTH >1.0s absolute (the documented cross-session noise bound)
    AND >1.4x relative, so drift can't ship silently; returns the top-5
    as {name: [prev, new]}. Medians from a different ``sf``,
    ``runs_per_query`` or ``timing_mode`` (missing in files written
    before timing was forced) are not comparable, so a config mismatch
    skips the gate with a log line naming both configs.
    """
    try:
        with open(side) as fh:
            prior = json.load(fh)
    except (OSError, ValueError) as exc:
        log(f"regression gate skipped (no prior side file): {exc}")
        return {}
    prior_cfg = {"sf": prior.get("sf"),
                 "runs_per_query": prior.get("runs_per_query"),
                 "timing_mode": prior.get("timing_mode")}
    cfg = {"sf": sf, "runs_per_query": n_runs, "timing_mode": TIMING_MODE}
    if prior_cfg != cfg:
        log(f"regression gate skipped (config mismatch): prior "
            f"{prior_cfg} vs current {cfg}")
        return {}
    prev = prior.get("queries", {})
    deltas = sorted(
        ((n, prev[n], t) for n, t in timings.items()
         if t > 0 and prev.get(n, 0) > 0
         and t - prev[n] > 1.0 and t / prev[n] > 1.4),
        key=lambda r: -(r[2] - r[1]))
    regressions = {n: [p, t] for n, p, t in deltas[:5]}
    for n, (p, t) in regressions.items():
        log(f"REGRESSION vs prev round: {n} {p}s -> {t}s")
    if not regressions:
        log(f"regression gate: no query regressed vs previous medians "
            f"({len(prev)} prior entries)")
    return regressions


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "16000"))
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pdf_extractor_spark import queries as qreg
    from pdf_extractor_spark.pipeline.extract import (extract_pages,
                                                      repartition_salted)
    from pdf_extractor_spark.session import get_spark
    from pdf_extractor_spark.sources.pages import synth_pages_df

    spark = get_spark("bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus,
                      extra={"spark.ui.showConsoleProgress": "false"})
    total_t0 = time.time()

    # --- extraction headline: fused pipeline over a materialized pages
    # table (parquet scan → mapInPandas), mirroring the WARC-table shape.
    # Corpus generation is cached and NOT part of the timed window.
    pages_path = f"/tmp/bench_pages_{n_docs}"
    if not os.path.exists(pages_path):
        log(f"materializing {n_docs} synthetic pages → {pages_path}")
        synth_pages_df(spark, n=n_docs).write.mode("overwrite") \
            .parquet(pages_path)
    pages_src = spark.read.parquet(pages_path)

    log(f"extraction bench: {n_docs} docs on local[{cpus}]")
    forced_ok(extract_pages(pages_src.limit(200), levels=("raw",)))  # warm

    # Median-of-n_runs for BOTH extraction headlines (VERDICT r03 #4: the
    # single-run ~3s window sat inside the box's 2.5× noise band and the
    # official record showed a phantom regression).
    import statistics

    pages = repartition_salted(pages_src, cpus * 2)
    raw_runs, full_runs = [], []
    for i in range(n_runs):
        t0 = time.time()
        ok = forced_ok(extract_pages(pages, levels=("raw",)))
        raw_runs.append(time.time() - t0)
        t0 = time.time()
        ok_full = forced_ok(extract_pages(
            pages, levels=("raw", "lines", "chapters", "processed",
                           "markdown")))
        full_runs.append(time.time() - t0)
        log(f"extraction run {i + 1}/{n_runs}: raw {raw_runs[-1]:.1f}s "
            f"({ok} ok), full {full_runs[-1]:.1f}s ({ok_full} ok)")
    ex_sec = statistics.median(raw_runs)
    full_sec = statistics.median(full_runs)
    log(f"extraction raw median: {ex_sec:.1f}s ({n_docs / ex_sec:.0f} "
        f"docs/s; runs {[round(r, 1) for r in raw_runs]})")
    log(f"extraction full-chain median: {full_sec:.1f}s "
        f"({n_docs / full_sec:.0f} docs/s; "
        f"runs {[round(r, 1) for r in full_runs]})")

    # --- protocol headline: BASELINE.md freezes "row count sized so the
    # local[32] run takes >=60s" (VERDICT r04 #2 — the 16k quick window
    # above is noise-calibration, not the official number). One timed
    # full-chain run over a corpus big enough for a >=60s window; the
    # warm-up clause is satisfied by the quick-headline runs above (same
    # code path, same session — workers, Arrow lanes and JIT are hot) plus
    # a scan-only pass that fills the OS page cache for the big corpus.
    proto_docs = int(os.environ.get("SPARK_GRAFT_PROTOCOL_DOCS", "1440000"))
    proto = {}
    if proto_docs > 0:
        proto_path = f"/tmp/bench_pages_protocol_{proto_docs}"
        # cache key = the _SUCCESS marker, not the dir: an interrupted
        # generation leaves a partial directory a bare exists() would
        # mistake for the corpus
        if not os.path.exists(os.path.join(proto_path, "_SUCCESS")):
            log(f"materializing {proto_docs} protocol pages → {proto_path}")
            synth_pages_df(spark, n=proto_docs).repartition(128) \
                .write.mode("overwrite").parquet(proto_path)
        proto_pages = spark.read.parquet(proto_path)
        proto_pages.count()  # page-cache warm (scan-only, untimed)
        t0 = time.time()
        proto_ok = forced_ok(extract_pages(
            proto_pages, levels=("raw", "lines", "chapters", "processed",
                                 "markdown")))
        proto_sec = time.time() - t0
        proto = {"docs": proto_docs, "sec": round(proto_sec, 1),
                 "docs_per_sec": round(proto_docs / proto_sec, 1),
                 "ok": proto_ok, "window_ge_60s": proto_sec >= 60.0}
        log(f"protocol headline: {proto_docs} docs full chain in "
            f"{proto_sec:.1f}s = {proto['docs_per_sec']} docs/s "
            f"(window>=60s: {proto['window_ge_60s']})")

    # --- per-query timings at sf_dir ------------------------------------
    # Median of n_runs per query (VERDICT r02 #9): the first run of the
    # whole suite doubles as the cold pass; each query's runs are
    # consecutive, so the median reflects warm steady-state while the
    # spread is logged for the honest cold-vs-warm story. Each run is a
    # noop-format write (every column computed, nothing stored); the
    # row count for the log is taken after the timed runs.
    timings = {}
    for name, fn in qreg.queries().items():
        runs = []
        try:
            for _ in range(n_runs):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite") \
                    .save()
                runs.append(round(time.time() - t0, 3))
            n = fn(spark, sf_dir).count()
            timings[name] = round(statistics.median(runs), 3)
            log(f"query {name}: {n} rows median {timings[name]}s "
                f"(runs {runs})")
        except Exception as exc:
            timings[name] = -1.0
            log(f"query {name}: FAILED {exc}")

    wall = round(time.time() - total_t0, 3)
    total = round(ex_sec + full_sec + sum(t for t in timings.values()
                                          if t > 0), 3)
    log(f"suite: {total}s (sum of per-query medians + extraction; "
        f"wall {wall}s across {n_runs} runs/query)")
    failed = sorted(n for n, t in timings.items() if t < 0)
    slowest = dict(sorted(((n, t) for n, t in timings.items() if t > 0),
                          key=lambda kv: -kv[1])[:5])
    # Per-query timings live in a side file + the stderr log lines above;
    # the final stdout JSON line stays compact (< ~1500 chars) because the
    # driver captures only the LAST 2000 chars of stdout and parses the
    # final line (VERDICT r03 #1: the r03 line with 93 inline timings
    # overflowed and the official record lost the bench).
    side = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BENCH", "bench_queries.json")
    os.makedirs(os.path.dirname(side), exist_ok=True)

    regressions = regression_gate(side, timings, sf, n_runs)

    with open(side, "w") as fh:
        json.dump({"sf": sf, "runs_per_query": n_runs,
                   "timing_mode": TIMING_MODE, "cpus": cpus,
                   "loadavg": [round(x, 2) for x in os.getloadavg()],
                   "queries": timings}, fh, indent=1, sort_keys=True)
    log(f"per-query medians written to {side}")
    result = {
        "metric": "bench suite seconds: extraction headline + sum of "
                  f"per-query medians (median of {n_runs} runs each; "
                  "per-query detail in BENCH/bench_queries.json)",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "queries_total": len(timings),
        "queries_failed": failed,
        "slowest5": slowest,
        "regressions_vs_prev": regressions,
        "protocol": proto,
        "extraction": {
            "docs": n_docs,
            "sec": round(ex_sec, 3),
            "docs_per_sec": round(n_docs / ex_sec, 1),
            "ok": ok,
            "full_chain_sec": round(full_sec, 3),
            "full_chain_docs_per_sec": round(n_docs / full_sec, 1),
        },
    }
    line = json.dumps(result)
    assert len(line) < 1500, f"final bench line too long: {len(line)}"
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
