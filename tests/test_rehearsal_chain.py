"""End-to-end kill/restart proof for the composed rehearsal chain.

VERDICT r04 #4: the per-stage resume paths (lineage batches, idempotent
overwrites) were each tested alone; this test kills the COMPOSED
raw-WARC → shards chain at three distinct points — mid-extract (batch
granularity), post-dedup-pre-commit (the torn-stage worst case, writes
landed but no marker), and clean-resume — then asserts the final
artifacts are value-identical to an uninterrupted run on the same
corpus and that lineage counted every input row exactly once.
"""

import os

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.pipeline.compose import (InjectedCrash,
                                                  SNAPSHOT_ID,
                                                  run_rehearsal)
from pdf_extractor_spark.pipeline.lineage import (completed_batches,
                                                  read_lineage)
from pdf_extractor_spark.sources.warc import write_warc_files

N_DOCS = 240
N_BATCHES = 6
BUDGET = 5_000  # tokens — small enough that selection actually rejects


@pytest.fixture(scope="module")
def warc_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("rehearsal_warc"))
    written = write_warc_files(d, N_DOCS, n_files=4, compress=True)
    assert written == N_DOCS
    return d


def _table_values(spark, path):
    df = spark.read.parquet(path)
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


FINAL_TABLES = ("dedup_verdicts", "curation_verdicts", "assemble/audit",
                "assemble/pack", "assemble/seq_manifest", "assemble/shards",
                "assemble/kept")


class TestRehearsalKillRestart:
    def test_killed_chain_matches_clean_run(self, spark, warc_dir,
                                            tmp_path):
        clean_dir = str(tmp_path / "clean")
        crash_dir = str(tmp_path / "crash")

        clean = run_rehearsal(spark, warc_dir, clean_dir, budget=BUDGET,
                              num_batches=N_BATCHES)

        # Kill 1: mid-extract after 2 of 6 batches.
        with pytest.raises(InjectedCrash):
            run_rehearsal(spark, warc_dir, crash_dir, budget=BUDGET,
                          num_batches=N_BATCHES,
                          crash_after_extract_batches=2)
        done = completed_batches(spark, os.path.join(crash_dir, "extract"),
                                 SNAPSHOT_ID)
        assert len(done) == 2

        # Kill 2: dedup stage's writes landed but its commit marker did
        # not — the restart must redo the stage idempotently.
        with pytest.raises(InjectedCrash):
            run_rehearsal(spark, warc_dir, crash_dir, budget=BUDGET,
                          num_batches=N_BATCHES, crash_after_stage="dedup")
        assert os.path.exists(os.path.join(crash_dir, "dedup_verdicts"))
        assert not os.path.exists(os.path.join(crash_dir, "_done_dedup"))

        # Final resume: completes the remainder only.
        crashed = run_rehearsal(spark, warc_dir, crash_dir, budget=BUDGET,
                                num_batches=N_BATCHES)

        assert crashed == clean
        for rel in FINAL_TABLES:
            assert _table_values(
                spark, os.path.join(crash_dir, rel)) == _table_values(
                spark, os.path.join(clean_dir, rel)), rel

        # Exactly-once lineage across the kill/restart: every input row
        # counted once, every batch committed once.
        lin = read_lineage(spark, os.path.join(crash_dir, "extract"))
        assert lin.agg(F.sum("rows_in")).collect()[0][0] == N_DOCS
        per_batch = lin.groupBy("batch_id").count() \
            .filter("count > 1").count()
        assert per_batch == 0
        assert sorted(completed_batches(
            spark, os.path.join(crash_dir, "extract"),
            SNAPSHOT_ID)) == list(range(N_BATCHES))

    def test_exact_first_matches_registry(self, spark, tmp_path):
        """The chain's exact-first dedup (LSH over keepers only, then
        expansion over the exact-dup map) must be VALUE-identical to
        the registry q_dedup_pipeline over all docs — the closure
        argument in dedup_verdicts_exact_first's docstring, pinned on a
        corpus with exact-dup groups, near-dup families, and exact dups
        OF near-dups."""
        import pandas as pd

        from pdf_extractor_spark.pipeline.compose import \
            dedup_verdicts_exact_first
        from pdf_extractor_spark.queries.dedup import q_dedup_pipeline

        base = ("the quick brown fox jumps over the lazy dog and then "
                "wanders home through the quiet evening fields")
        rows = []
        for i in range(40):
            fam = i % 4
            # 4 near-dup families; within each, ids i, i+4, ... carry
            # slightly varied text; every third member is an EXACT copy
            # of the family's first variant
            variant = (base + f" family {fam}"
                       + ("" if i % 3 == 0 else f" variant {i // 4}"))
            rows.append({"doc_id": i, "text": variant, "lang": "en",
                         "source": "t", "n_chars": len(variant)})
        sf = str(tmp_path / "sf")
        docs = spark.createDataFrame(pd.DataFrame(rows))
        docs.write.parquet(f"{sf}/documents.parquet")
        docs_back = spark.read.parquet(f"{sf}/documents.parquet")

        got = sorted(tuple(r) for r in dedup_verdicts_exact_first(
            spark, docs_back, str(tmp_path / "scratch")).collect())
        want = sorted(tuple(r) for r in
                      q_dedup_pipeline(spark, sf).collect())
        assert got == want

    def test_chain_funnels_monotonically(self, spark, warc_dir, tmp_path):
        job = str(tmp_path / "mono")
        c = run_rehearsal(spark, warc_dir, job, budget=BUDGET,
                          num_batches=N_BATCHES)
        assert c["rows_in"] == N_DOCS
        assert c["extracted_ok"] + c["failures"] == N_DOCS
        assert c["extracted_ok"] >= c["after_dedup"] >= c["after_curation"]
        assert c["after_curation"] >= c["selected"]
        assert c["selected"] > 0 and c["sequences"] > 0 and c["shards"] > 0
        # re-invoking a completed job is a no-op with identical summary
        assert run_rehearsal(spark, warc_dir, job, budget=BUDGET,
                             num_batches=N_BATCHES) == c


class TestJobParams:
    def test_resume_with_changed_params_fails_before_any_stage(
            self, spark, tmp_path, monkeypatch):
        """A job's ``num_batches``/``levels``/``budget`` are pinned in
        job_params.json at its first start; a resume that changes one
        raises, naming both values, before the first stage reads
        anything (ADVICE r05 #1)."""
        import json

        from pdf_extractor_spark.pipeline import compose

        def killed_landing(*_a, **_k):
            raise InjectedCrash("killed in the first stage")
        monkeypatch.setattr(compose, "read_warc", killed_landing)
        job = str(tmp_path / "job")
        params = dict(budget=BUDGET, num_batches=N_BATCHES, levels=("raw",))
        with pytest.raises(InjectedCrash):
            run_rehearsal(spark, "unused", job, **params)
        with open(os.path.join(job, "job_params.json")) as fh:
            assert json.load(fh) == {"budget": BUDGET,
                                     "num_batches": N_BATCHES,
                                     "levels": ["raw"]}

        for key, new, old_txt, new_txt in (
                ("num_batches", 8, f"{N_BATCHES}", "8"),
                ("levels", ("raw", "lines"), "['raw']", "['raw', 'lines']"),
                ("budget", BUDGET + 1, f"{BUDGET}", f"{BUDGET + 1}")):
            with pytest.raises(ValueError) as exc:
                run_rehearsal(spark, "unused", job, **{**params, key: new})
            msg = str(exc.value)
            assert f"{key}: job has {old_txt}, resume asked {new_txt}" in msg
        assert not [f for f in os.listdir(job) if f != "job_params.json"]

        # the same parameters pass the check and reach the first stage
        with pytest.raises(InjectedCrash):
            run_rehearsal(spark, "unused", job, **params)
