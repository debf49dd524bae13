"""The three workloads, driven only through the program's public entry
points: ``extract_pages``, ``repartition_salted`` and
``compose.run_rehearsal`` (never a lane function, so retiring a lane
cannot break the benchmark).

- ``probe``: the warm-up pass over a workload's small pinned probe
  input; returns the checksum the pins compare against;
- ``iterate``: one timed, forced-output pass over the seeded input;
- ``verify_iteration``, ``compare_sample``, ``chain_equivalence``: the
  output checks, run after a pass's timer stops;
- ``chain_*``: per-stage attribution of one chain pass from its
  ``_done_<stage>`` marker mtimes, checkpoint table and outputs.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from typing import Dict, List, Sequence

import pyarrow.parquet as pq

# Rows per pass. An extract_full pass of 7000 rows spends about two
# thirds of its wall time in per-document work (a pass also pays ~2 s of
# fixed job, shuffle and commit cost on a 4-core box). A crawl_chain
# pass stays dominated by the chain's fixed per-stage cost (~33 s cold,
# against ~1.2 ms per document), which a run's time does not allow to
# amortise.
SIZES = {"extract_full": 7000, "text_raw": 60_000, "crawl_chain": 6000}
PROBE_SIZES = {"extract_full": 144, "text_raw": 4096, "crawl_chain": 96}
INPUT_FILES = {"extract_full": 8, "text_raw": 32, "crawl_chain": 4}
SALTED_PARTITIONS_PER_CORE = 4
# One chain per run: its first pass in a session compiles every stage's
# plans, so a second pass would time a different (warm) thing.
SINGLE_PASS = ("crawl_chain",)
SAMPLE_ROWS = 48
CHAIN_BATCHES = 4
CHAIN_STAGES = ("land", "extract", "documents", "dedup", "curation",
                "assemble")
# output directories each compose stage leaves in the job dir
CHAIN_STAGE_DIRS = {
    "land": ("pages.parquet",),
    "extract": ("extract",),
    "documents": ("t1",),
    "dedup": ("t1_keepers", "dedup_verdicts", "t2"),
    "curation": ("curation_verdicts", "t3"),
    "assemble": ("assemble",),
}
# the chain's extract output columns the checksum covers
CHAIN_EXTRACT_COLS = ("url", "warc_ts", "lang", "doctype", "text",
                      "n_chars", "n_lines")


def levels_of(workload: str) -> Sequence[str]:
    from pdf_extractor_spark.pipeline.extract import LEVELS
    return tuple(LEVELS) if workload == "extract_full" else ("raw",)


def checksum(df, cols: Sequence[str] = ()) -> Dict[str, int]:
    """Forced-output digest: every listed column goes through xxhash64."""
    from pyspark.sql import functions as F
    cols = list(cols or df.columns)
    failed = (F.count("failure_reason") if "failure_reason" in df.columns
              else F.lit(0))
    row = df.agg(F.bit_xor(F.xxhash64(*cols)).alias("x"),
                 F.count(F.lit(1)).alias("rows"),
                 failed.alias("failed")).collect()[0]
    return {"checksum": int(row["x"] or 0), "rows": int(row["rows"]),
            "failed": int(row["failed"])}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def parquet_files(path: str) -> List[str]:
    """The data files of a parquet table directory (partitions included;
    Spark names its table directories ``*.parquet`` too)."""
    return sorted(p for p in glob.glob(os.path.join(path, "**", "*.parquet"),
                                       recursive=True) if os.path.isfile(p))


def parquet_rows(path: str) -> int:
    """Row count from parquet footers (no Spark job)."""
    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in parquet_files(path))


def read_table(path: str, columns=None) -> List[Dict]:
    rows: List[Dict] = []
    for p in parquet_files(path):
        rows.extend(pq.read_table(p, columns=columns).to_pylist())
    return rows


# --- probes (warm-up passes over the pinned probe inputs) --------------------

def probe(workload: str, spark, probe_dir: str, out_dir: str,
          cores: int) -> Dict:
    """Extract the probe input and write it the way a timed pass does;
    returns the checksum of what was written."""
    from pdf_extractor_spark.pipeline.extract import (extract_pages,
                                                      repartition_salted)
    if workload == "crawl_chain":
        from pdf_extractor_spark.sources.warc import read_warc
        pages = read_warc(spark, probe_dir)
    else:
        pages = spark.read.parquet(probe_dir)
    if workload == "extract_full":
        pages = repartition_salted(pages, cores)
    extract_pages(pages, levels=levels_of(workload)) \
        .write.mode("overwrite").parquet(out_dir)
    return checksum(spark.read.parquet(out_dir))


# --- timed iterations --------------------------------------------------------

def iterate(workload: str, spark, data_dir: str, out_dir: str,
            cores: int, n_rows: int) -> Dict:
    """One forced-output pass; returns its wall time and row count.
    The extraction workloads force output with a parquet write of every
    column; the chain writes every stage's tables itself."""
    shutil.rmtree(out_dir, ignore_errors=True)
    if workload == "crawl_chain":
        from pdf_extractor_spark.pipeline.compose import run_rehearsal
        t0 = time.time()
        counts = run_rehearsal(spark, data_dir, out_dir,
                               budget=n_rows * 60,
                               num_batches=CHAIN_BATCHES)
        t1 = time.time()
        return {"start": t0, "end": t1, "wall": t1 - t0,
                "rows": counts["rows_in"], "failed": counts["failures"],
                "counts": counts}
    from pdf_extractor_spark.pipeline.extract import (extract_pages,
                                                      repartition_salted)
    t0 = time.time()
    pages = spark.read.parquet(data_dir)
    if workload == "extract_full":
        pages = repartition_salted(pages,
                                   SALTED_PARTITIONS_PER_CORE * cores)
    extract_pages(pages, levels=levels_of(workload)) \
        .write.mode("overwrite").parquet(out_dir)
    t1 = time.time()
    return {"start": t0, "end": t1, "wall": t1 - t0, "rows": n_rows}


def verify_iteration(workload: str, spark, it: Dict, out_dir: str,
                     meta: Dict) -> List[str]:
    """Output checks for one timed pass (run after its timer stops).
    Returns the failed checks, empty when all hold."""
    bad: List[str] = []
    if workload == "crawl_chain":
        c = it["counts"]
        if c["rows_in"] != meta["rows"]:
            bad.append(f"lineage rows_in {c['rows_in']} != "
                       f"records written {meta['rows']}")
        if c["extracted_ok"] + c["failures"] != c["rows_in"]:
            bad.append("extracted_ok + failures != rows_in")
        if not (c["selected"] <= c["after_curation"] <= c["after_dedup"]
                <= c["extracted_ok"]):
            bad.append(f"stage counts not monotone: {c}")
        if c["failures"] != meta["expected_failures"]:
            bad.append(f"failures {c['failures']} != generated poison "
                       f"records {meta['expected_failures']}")
        it["failed"] = c["failures"]
        it["out_bytes"] = dir_bytes(out_dir)
        return bad
    digest = checksum(spark.read.parquet(out_dir))
    it.update(digest)
    it["out_bytes"] = dir_bytes(out_dir)
    if digest["rows"] != meta["rows"]:
        bad.append(f"rows out {digest['rows']} != rows in {meta['rows']}")
    if digest["failed"] != meta["expected_failures"]:
        bad.append(f"failed rows {digest['failed']} != generated poison "
                   f"rows {meta['expected_failures']}")
    return bad


# --- sampled rows against single-node extract_document -----------------------

def sample_rows(workload: str, data_dir: str, job_dir: str) -> List[Dict]:
    """SAMPLE_ROWS input rows of the pass, taken evenly from the head of
    every input file (for the chain: of the landed pages table, the
    exact input of its extract stage), so the sample spans the corpus's
    document classes."""
    src = (os.path.join(job_dir, "pages.parquet")
           if workload == "crawl_chain" else data_dir)
    files = parquet_files(src)
    per_file = -(-SAMPLE_ROWS // len(files))
    rows: List[Dict] = []
    for path in files:
        rows.extend(pq.read_table(path, columns=[
            "url", "warc_ts", "html", "text", "lang"])
            .slice(0, per_file).to_pylist())
    return rows[:SAMPLE_ROWS]


def spark_rows_for(workload: str, out_dir: str, urls) -> Dict[str, Dict]:
    """Spark's output rows for the sampled urls, keyed by url; for the
    chain, failures come from its failures table."""
    out: Dict[str, Dict] = {}
    if workload == "crawl_chain":
        data = os.path.join(out_dir, "extract", "data")
        fails = os.path.join(out_dir, "extract", "failures")
        for r in read_table(data):
            if r["url"] in urls:
                out[r["url"]] = r
        for r in read_table(fails):
            if r["url"] in urls:
                out[r["url"]] = {"url": r["url"],
                                 "failure_reason": r["reason"]}
        return out
    for r in read_table(out_dir):
        if r["url"] in urls:
            out[r["url"]] = r
    return out


def compare_sample(workload: str, sample: Sequence[Dict],
                   single: Sequence[Dict], spark_rows: Dict[str, Dict]
                   ) -> List[str]:
    """Byte-for-byte comparison of every single-node output field."""
    bad: List[str] = []
    seen: Dict[str, int] = {}
    for r in sample:
        seen[r["url"]] = seen.get(r["url"], 0) + 1
    for r, want in zip(sample, single):
        if seen[r["url"]] > 1:          # a repeated capture: ambiguous key
            continue
        got = spark_rows.get(r["url"])
        if got is None:
            bad.append(f"{r['url']}: missing from the output")
            continue
        if workload != "crawl_chain":
            fields = list(want)
        elif want["failure_reason"]:
            fields = ["failure_reason"]
        else:
            fields = [k for k in CHAIN_EXTRACT_COLS if k in want]
        for k in fields:
            if got.get(k) != want.get(k):
                bad.append(f"{r['url']}: column {k} differs from "
                           f"single-node extract_document")
                break
    return bad


def chain_equivalence(spark, job_dir: str) -> List[str]:
    """The chain's extract output equals ``extract_pages`` over the same
    landed pages, over CHAIN_EXTRACT_COLS of the rows that extracted."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.pipeline.extract import extract_pages
    pages = spark.read.parquet(os.path.join(job_dir, "pages.parquet")) \
        .drop("batch")
    want = checksum(extract_pages(pages, levels=("raw",))
                    .filter(F.col("failure_reason").isNull()),
                    CHAIN_EXTRACT_COLS)
    got = checksum(spark.read.parquet(
        os.path.join(job_dir, "extract", "data")).drop("batch"),
        CHAIN_EXTRACT_COLS)
    if (want["checksum"], want["rows"]) != (got["checksum"], got["rows"]):
        return [f"chain extract output {got} != extract_pages over the "
                f"landed pages {want}"]
    return []


# --- chain attribution (marker mtimes, checkpoint table, outputs) ------------

def chain_stage_windows(job_dir: str, start: float, end: float
                        ) -> List[tuple]:
    """(stage, t0, t1) from the ``_done_<stage>`` marker mtimes; the
    tail after the last marker is the chain's summary reads."""
    out, prev = [], start
    for st in CHAIN_STAGES:
        t = os.path.getmtime(os.path.join(job_dir, f"_done_{st}"))
        out.append((st, prev, t))
        prev = t
    out.append(("summary", prev, end))
    return out


def chain_layer_metrics(job_dir: str, it: Dict, windows, evlog,
                        input_bytes: int) -> Dict[str, tuple]:
    m: Dict[str, tuple] = {}
    rows_out = {
        "land": parquet_rows(os.path.join(job_dir, "pages.parquet")),
        "extract": it["counts"]["extracted_ok"],
        "documents": parquet_rows(os.path.join(job_dir, "t1")),
        "dedup": parquet_rows(os.path.join(job_dir, "t2")),
        "curation": parquet_rows(os.path.join(job_dir, "t3")),
        "assemble": parquet_rows(os.path.join(job_dir, "assemble", "kept")),
    }
    for st, t0, t1 in windows:
        if st == "summary":
            continue
        w = evlog.window(t0, t1) if evlog is not None else None
        m[f"compose.{st}.s"] = (t1 - t0, "s")
        m[f"compose.{st}.rows_out"] = (float(rows_out[st]), "count")
        m[f"compose.{st}.mb_written"] = (sum(
            dir_bytes(os.path.join(job_dir, d))
            for d in CHAIN_STAGE_DIRS[st]) / 1e6, "MB")
        if w is not None:
            m[f"compose.{st}.shuffle_mb"] = (
                w.total("shuffle_write") / 1e6, "MB")
            m[f"compose.{st}.spill_mb"] = (w.total("spill") / 1e6, "MB")
    land_s = windows[0][2] - windows[0][1]
    m["warc.in_mb_per_s"] = (input_bytes / 1e6 / land_s, "MB/s")
    m["compose.coverage_frac"] = (
        sum(t1 - t0 for st, t0, t1 in windows if st != "summary")
        / it["wall"], "ratio")

    cp = read_table(os.path.join(job_dir, "extract", "_checkpoint"))
    done = sorted(r["completed_at"].timestamp() for r in cp)
    ext = dict((st, (t0, t1)) for st, t0, t1 in windows)["extract"]
    gaps = [b - a for a, b in zip([ext[0]] + done[:-1], done)]
    m["lineage.batches"] = (float(len(done)), "count")
    m["lineage.batch_s_max"] = (max(gaps) if gaps else 0.0, "s")
    if evlog is not None and done:
        m["lineage.jobs_per_batch"] = (
            len(evlog.window(*ext).jobs) / len(done), "count")

    docs = read_table(os.path.join(job_dir, "t1"), columns=["doc_id"])
    ids = {r["doc_id"] for r in docs}
    verdicts = parquet_rows(os.path.join(job_dir, "dedup_verdicts"))
    c = it["counts"]
    m["documents.dup_doc_ids"] = (float(len(docs) - len(ids)), "count")
    m["dedup.verdict_fanout"] = (verdicts / max(len(ids), 1), "ratio")
    m["dedup.survivor_frac"] = (c["after_dedup"] / c["extracted_ok"],
                                "ratio")
    m["curation.survivor_frac"] = (c["after_curation"] / c["after_dedup"],
                                   "ratio")
    m["assemble.selected_docs"] = (float(c["selected"]), "count")
    return m
