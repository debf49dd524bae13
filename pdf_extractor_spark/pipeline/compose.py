"""The composed 100-TB-rehearsal job: raw WARC bytes → training shards.

ONE driver program chaining every major stage of the engine, each stage
reading the previous stage's materialized table (the resume boundaries)
and writing its own:

  read_warc → extract (resumable lineage batches, `pipeline/lineage.py`)
    → documents table (doc_id = xxhash64(url))
    → dedup_pipeline verdicts → kept
    → curation_pipeline verdicts → kept
    → budget selection → sequence packing → loader + shard manifests

Restart semantics, end-to-end rather than per-stage (VERDICT r04 #4):

- inside the extract stage, `run_resumable` resumes at batch
  granularity (deterministic pmod(xxhash64(url)) membership, checkpoint
  row only after the batch's data lands, idempotent per-batch rewrite);
- between stages, a `_done_<stage>` marker commits each stage AFTER its
  overwrite-mode writes finish — a crash between write and marker
  re-runs the stage, whose overwrite is idempotent, so the composed
  output is exactly-once under a kill at ANY point in the chain
  (tests/test_rehearsal_chain.py kills at three).

Every stage body is the already-measured registry implementation
(`q_dedup_pipeline`, `q_curation_pipeline`, `budget_select`,
`pack_offsets`, `pack_manifest_body`, `shard_manifest`); this module
adds only composition + commit protocol. At cluster scale the markers
are Iceberg snapshot commits and the per-stage parquet dirs are tables;
the control flow is unchanged.
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.curation import SEQ_LEN, _W_EXPR, pack_manifest_body, pack_offsets
from ..queries.dedup import q_dedup_pipeline
from ..queries.textstats import q_curation_pipeline
from ..queries.training import TOKEN_BUDGET, budget_select, shard_manifest
from ..sources.warc import read_warc
from .lineage import completed_batches, read_lineage, read_output, run_resumable

SNAPSHOT_ID = 1  # one immutable input snapshot per job directory


class InjectedCrash(RuntimeError):
    """Raised at a configured crash point (kill/restart testing)."""


def _marker(job_dir: str, stage: str) -> str:
    return os.path.join(job_dir, f"_done_{stage}")


def _commit(job_dir: str, stage: str) -> None:
    with open(_marker(job_dir, stage), "w") as fh:
        fh.write("done\n")


def _is_done(job_dir: str, stage: str) -> bool:
    return os.path.exists(_marker(job_dir, stage))


def _pin_job_params(job_dir: str, params: dict) -> None:
    """Write ``job_params.json`` on a job's first start; on a resume,
    raise if any value differs. Batch membership, the extract levels and
    the budget decide what each committed stage holds, so a resume with
    other values would silently mix two jobs' outputs."""
    path = os.path.join(job_dir, "job_params.json")
    if not os.path.exists(path):
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(params, fh, sort_keys=True)
        os.replace(tmp, path)
        return
    with open(path) as fh:
        pinned = json.load(fh)
    changed = [f"{k}: job has {pinned.get(k)!r}, resume asked {v!r}"
               for k, v in params.items() if pinned.get(k) != v]
    if changed:
        raise ValueError(f"resume of {job_dir} with changed job "
                         f"parameters ({'; '.join(changed)})")


def dedup_verdicts_exact_first(spark: SparkSession, docs: DataFrame,
                               scratch_dir: str) -> DataFrame:
    """``q_dedup_pipeline`` verdicts computed exact-FIRST: MinHash/LSH
    runs on exact keepers only, verdicts expand back over the exact-dup
    map. Value-identical to the registry query over all docs (pinned by
    tests/test_rehearsal_chain.py::test_exact_first_matches_registry):
    identical text ⇒ identical signatures ⇒ a dup occupies exactly its
    keeper's buckets; a bucket's min doc_id is always a keeper (any
    dup's keeper has a smaller id and the same bucket), so the star
    edges between keepers — hence components and their minima, which
    are always keepers — are unchanged, round for round. Signature cost
    becomes proportional to UNIQUE docs, not the crawl.

    ``scratch_dir`` materializes the keepers table (the registry body
    reads a documents.parquet path); overwrite-idempotent."""
    from pyspark.sql import Window
    # NOTE: an eager localCheckpoint of `exact` was A/B'd at 2M docs
    # and REVERTED — it measured slower at both core counts (dedup
    # stage 161→220s at local[4], 70→87s at local[16]): the
    # materialization pass costs a full scan+window of its own, and
    # the two lazy consumers' scans overlap the page cache anyway.
    exact = (docs.select("doc_id", F.md5("text").alias("th"))
             .withColumn("ek", F.min("doc_id")
                         .over(Window.partitionBy("th")))
             .select("doc_id", "ek"))
    docs.join(exact.filter(F.col("doc_id") == F.col("ek"))
              .select("doc_id"), "doc_id", "left_semi") \
        .write.mode("overwrite") \
        .parquet(os.path.join(scratch_dir, "documents.parquet"))
    kv = q_dedup_pipeline(spark, scratch_dir).select(
        F.col("doc_id").alias("ek"), F.col("verdict").alias("kv"),
        F.col("representative").alias("kr"))
    return (exact.join(kv, "ek")
            .select("doc_id",
                    F.when(F.col("doc_id") != F.col("ek"),
                           F.lit("exact_dup"))
                    .otherwise(F.col("kv")).alias("verdict"),
                    F.when(F.col("doc_id") != F.col("ek"), F.col("ek"))
                    .otherwise(F.col("kr")).alias("representative")))


def _docs_table(df: DataFrame) -> DataFrame:
    """Extracted rows → the canonical documents-table shape. doc_id is
    a pure function of the url so a re-run (or a re-extracted batch)
    assigns identical ids — the property every downstream keyed stage
    and the exactly-once claim rest on."""
    return (df.filter(F.col("failure_reason").isNull())
            .select(F.xxhash64("url").alias("doc_id"),
                    "text", "lang",
                    F.col("doctype").alias("source"),
                    F.col("n_chars").cast("long").alias("n_chars")))


def run_rehearsal(spark: SparkSession, warc_dir: str, job_dir: str,
                  *, budget: int = TOKEN_BUDGET, num_batches: int = 16,
                  levels: Sequence[str] = ("raw",),
                  crash_after_extract_batches: Optional[int] = None,
                  crash_after_stage: Optional[str] = None) -> dict:
    """Run (or resume) the composed chain; returns the summary counts.

    ``crash_after_extract_batches=k`` processes k remaining extract
    batches then raises InjectedCrash (mid-stage kill);
    ``crash_after_stage="dedup"`` raises right after that stage's
    writes land but BEFORE its commit marker (the worst-case point:
    the restart must redo the stage idempotently). A resume whose
    ``num_batches``, ``levels`` or ``budget`` differ from the job's
    first start raises ValueError before any stage runs.
    """
    os.makedirs(job_dir, exist_ok=True)
    _pin_job_params(job_dir, {"num_batches": num_batches,
                              "levels": list(levels), "budget": budget})
    extract_dir = os.path.join(job_dir, "extract")

    def stage(name: str, deps_dir: str, body) -> str:
        """Overwrite-write ``body(deps_dir)`` outputs, then commit. A
        body that raises (an injected mid-stage kill) leaves the stage
        uncommitted, so the restart re-runs it."""
        if not _is_done(job_dir, name):
            t0 = time.time()
            body(deps_dir)
            if crash_after_stage == name:
                raise InjectedCrash(f"post-{name} pre-commit crash point")
            _commit(job_dir, name)
            print(f"stage {name}: {time.time() - t0:.1f}s",
                  file=sys.stderr, flush=True)
        return os.path.join(job_dir, name)

    # --- stage 0: land the parsed pages table ONCE. The extract stage's
    # batch-resume re-scans its source per batch; against raw WARC bytes
    # every re-scan would re-gunzip and re-frame the whole crawl in
    # Python, so the crawl is parsed exactly once into columnar form and
    # the per-batch predicate then rides a pruned parquet scan — the
    # CC-WARC → Iceberg ingest step a 100 TB deployment runs anyway.
    # The landing is PARTITIONED by the deterministic batch id, so each
    # resumable extract batch prunes to its own directory instead of
    # re-scanning the payload-heavy table num_batches times (at 2M docs
    # the unpartitioned form re-read ~4 GB per batch).
    pages_path = os.path.join(job_dir, "pages.parquet")

    def mk_land(_):
        (read_warc(spark, warc_dir)
         .withColumn("batch", F.pmod(F.xxhash64("url"),
                                     F.lit(num_batches)).cast("int"))
         .write.mode("overwrite").partitionBy("batch")
         .parquet(pages_path))
    stage("land", warc_dir, mk_land)

    # --- stage 1: pages → extracted rows (batch-resumable) -------------
    def mk_extract(deps):
        run_resumable(spark, spark.read.parquet(deps), extract_dir,
                      SNAPSHOT_ID, num_batches=num_batches,
                      levels=tuple(levels),
                      max_batches=crash_after_extract_batches,
                      batch_col="batch")
        if crash_after_extract_batches is not None and len(
                completed_batches(spark, extract_dir,
                                  SNAPSHOT_ID)) < num_batches:
            raise InjectedCrash("mid-extract crash point")
    stage("extract", pages_path, mk_extract)

    # --- stage 2: documents table ---------------------------------------
    t1 = os.path.join(job_dir, "t1")

    def mk_documents(_):
        _docs_table(read_output(spark, extract_dir)) \
            .write.mode("overwrite") \
            .parquet(os.path.join(t1, "documents.parquet"))
    stage("documents", extract_dir, mk_documents)

    # --- stage 3: dedup verdicts → kept (exact-first, the FineWeb
    # stage order — see dedup_verdicts_exact_first) -----------------------
    t2 = os.path.join(job_dir, "t2")

    def mk_dedup(deps):
        docs = spark.read.parquet(os.path.join(deps, "documents.parquet"))
        verdicts = dedup_verdicts_exact_first(
            spark, docs, os.path.join(job_dir, "t1_keepers"))
        verdicts.write.mode("overwrite") \
            .parquet(os.path.join(job_dir, "dedup_verdicts"))
        kept = spark.read.parquet(
            os.path.join(job_dir, "dedup_verdicts")) \
            .filter(F.col("verdict") == "kept").select("doc_id")
        # kept ⊆ exact keepers, so the survivor corpus semi-joins the
        # (small) keepers table — never a third scan of the full docs
        keepers = spark.read.parquet(
            os.path.join(job_dir, "t1_keepers", "documents.parquet"))
        keepers.join(kept, "doc_id", "left_semi") \
            .write.mode("overwrite") \
            .parquet(os.path.join(t2, "documents.parquet"))
    stage("dedup", t1, mk_dedup)

    # --- stage 4: curation verdicts → kept -------------------------------
    t3 = os.path.join(job_dir, "t3")

    def mk_curation(deps):
        verdicts = q_curation_pipeline(spark, deps)
        verdicts.write.mode("overwrite") \
            .parquet(os.path.join(job_dir, "curation_verdicts"))
        kept = spark.read.parquet(
            os.path.join(job_dir, "curation_verdicts")) \
            .filter(F.col("verdict") == "kept").select("doc_id")
        docs = spark.read.parquet(os.path.join(deps, "documents.parquet"))
        docs.join(kept, "doc_id", "left_semi") \
            .write.mode("overwrite") \
            .parquet(os.path.join(t3, "documents.parquet"))
    stage("curation", t2, mk_curation)

    # --- stage 5: budget selection → packing → manifests -----------------
    asm = os.path.join(job_dir, "assemble")

    def mk_assemble(deps):
        docs = spark.read.parquet(os.path.join(deps, "documents.parquet"))
        audit = budget_select(docs, budget=budget)
        audit.write.mode("overwrite").parquet(os.path.join(asm, "audit"))
        kept_ids = spark.read.parquet(os.path.join(asm, "audit")) \
            .filter("kept").select("doc_id")
        kept = docs.join(kept_ids, "doc_id", "left_semi")
        kept.write.mode("overwrite").parquet(os.path.join(asm, "kept"))
        kept_back = spark.read.parquet(os.path.join(asm, "kept"))
        tok = kept_back.select(
            "doc_id", F.expr(f"CAST(size({_W_EXPR}) AS BIGINT)")
            .alias("n_tokens"))
        pack_offsets(tok).select(
            "doc_id", "n_tokens", "start_offset",
            F.expr(f"start_offset div {SEQ_LEN}").alias("seq_id")) \
            .write.mode("overwrite").parquet(os.path.join(asm, "pack"))
        pack_manifest_body(tok).write.mode("overwrite") \
            .parquet(os.path.join(asm, "seq_manifest"))
        shard_manifest(kept_back).write.mode("overwrite") \
            .parquet(os.path.join(asm, "shards"))
    stage("assemble", t3, mk_assemble)

    # --- summary (small aggregate reads; no corpus re-scan) --------------
    lineage = read_lineage(spark, extract_dir) \
        .agg(F.sum("rows_in").alias("rows_in"),
             F.sum("rows_out").alias("rows_out"),
             F.sum("failure_count").alias("failures")).collect()[0]
    counts = {
        "rows_in": int(lineage["rows_in"]),
        "extracted_ok": int(lineage["rows_out"]),
        "failures": int(lineage["failures"]),
        "after_dedup": spark.read.parquet(
            os.path.join(t2, "documents.parquet")).count(),
        "after_curation": spark.read.parquet(
            os.path.join(t3, "documents.parquet")).count(),
        "selected": spark.read.parquet(
            os.path.join(asm, "kept")).count(),
        "sequences": spark.read.parquet(
            os.path.join(asm, "seq_manifest")).count(),
        "shards": spark.read.parquet(
            os.path.join(asm, "shards")).count(),
    }
    return counts
