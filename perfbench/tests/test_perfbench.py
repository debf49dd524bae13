"""The benchmark's own tests, at a tiny size.

Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import ast
import glob
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench import corpus, harness, procmem, spans, workloads  # noqa: E402

TINY = {"extract_full": 40, "text_raw": 400, "crawl_chain": 120}


@pytest.fixture(scope="module", autouse=True)
def _stop_jvm_at_end():
    """The runs below share one JVM; it ends, and is reaped, with the
    module."""
    yield
    harness.stop_jvm()
    procmem.end_descendants()


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture
def work(tmp_path, monkeypatch):
    """Tiny inputs and a private work dir."""
    monkeypatch.setattr(harness, "WORK", str(tmp_path / "work"))
    monkeypatch.setattr(workloads, "SIZES", dict(TINY))
    return tmp_path


def _result(capsys):
    lines = capsys.readouterr().out.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["context"]


def test_benchmark_json_names_every_metric():
    bench = _bench_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} \
        == harness.E2E_UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == harness.PER_LAYER


def test_untraced_run_prints_every_end_to_end_metric(work, capsys):
    rc = harness.run("text_raw", 3, 0, False, harness.time.time())
    res, ctx = _result(capsys)
    assert rc == 0 and res["correct"], ctx["checks_failed"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= TINY["text_raw"] and res["failed"] == 0
    units = {m["name"]: m["unit"] for m in _bench_json()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_chain_prints_every_per_layer_metric(work, capsys):
    rc = harness.run("crawl_chain", 3, 0, True, harness.time.time())
    res, ctx = _result(capsys)
    assert rc == 0 and res["correct"], ctx["checks_failed"]
    units = {m["name"]: m["unit"] for m in _bench_json()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    # on the chain, only an absent kernel entry point and the traced vs
    # untraced comparison (one chain a run, traced) may be missing
    assert not [k for k in ctx["absent"]
                if not k.startswith("kernel.") and k != "trace.overhead_frac"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["compose.coverage_frac"] > 0.5
    assert m["spark.jobs"] > 0 and m["lineage.batches"] > 0
    record = json.load(open(glob.glob(os.path.join(
        harness.WORK, "runs", "crawl_chain-*trace1*.json"))[0]))
    names = {s["name"] for s in record["spans"]}
    assert {"compose.dedup", "spark.task", "kernel.textnorm"} <= names


def test_one_byte_corruption_fails_the_output_check(work):
    paths = harness._paths()
    harness._environment(paths)
    probe_dir = os.path.join(paths["probe"], "text_raw")
    out_dir = os.path.join(paths["out"], "probe")
    harness.write_probe("text_raw", probe_dir)
    pin = harness.load_pins()["text_raw"]
    spark = harness.start_session("text_raw", paths, traced=False)
    try:
        digest = workloads.probe("text_raw", spark, probe_dir, out_dir, 1)
        assert harness.probe_check(digest, pin) == []
        out = spark.read.parquet(out_dir)
        victim = out.filter("text IS NOT NULL").first()["url"]
        one_byte = F.overlay("text", F.lit("#"), F.lit(1), F.lit(1))
        bad = out.withColumn("text", F.when(F.col("url") == victim, one_byte)
                             .otherwise(F.col("text")))
        assert harness.probe_check(workloads.checksum(bad), pin)
    finally:
        spark.stop()


def test_one_byte_corruption_fails_the_sample_check():
    rows = corpus.text_rows(5, 8)
    from pdf_extractor_spark.pipeline.extract import extract_document
    single = [extract_document(r["html"], r["text"], r["url"], ("raw",))
              for r in rows]
    got = {r["url"]: dict(s) for r, s in zip(rows, single)}
    assert workloads.compare_sample("text_raw", rows, single, got) == []
    victim = next(r["url"] for r, s in zip(rows, single) if s["text"])
    got[victim]["text"] = "#" + got[victim]["text"][1:]
    assert workloads.compare_sample("text_raw", rows, single, got)


def test_fingerprint_mismatch_refuses_to_run(work, monkeypatch, capsys):
    pins = harness.load_pins()
    pins["extract_full"]["probe_fingerprint"] = "0" * 64
    fake = work / "pins.json"
    fake.write_text(json.dumps(pins))
    monkeypatch.setattr(harness, "PINS", str(fake))
    assert harness.run("extract_full", 1, 1, False,
                       harness.time.time()) == 3
    assert capsys.readouterr().out == ""


def test_renamed_kernel_entry_point_is_reported_absent(monkeypatch):
    from perfbench import kernelpass
    points = dict(kernelpass.KERNEL_ENTRY_POINTS)
    points["markdown"] = (("pdf_extractor_spark.kernels.markdown",
                           "no_such_entry_point"),)
    monkeypatch.setattr(kernelpass, "KERNEL_ENTRY_POINTS", points)
    absent = {}
    rows = corpus.pages_rows(100, 9)     # poison offset 100: none here
    metrics, outputs = kernelpass.kernel_pass(
        rows, workloads.levels_of("extract_full"), spans.Tracer(), absent)
    assert "no_such_entry_point" in absent["kernel.markdown"]
    assert "kernel.markdown.calls" not in metrics
    assert metrics["kernel.chapters.calls"][0] == 9
    assert metrics["kernel.wrap_overhead_frac"][1] == "ratio"
    assert len(outputs) == 9 and all(o["markdown"] for o in outputs)


def test_generator_is_seeded():
    for wl, n in (("extract_full", 12), ("text_raw", 50),
                  ("crawl_chain", 30)):
        a = corpus.fingerprint(wl, corpus.generate(wl, 11, n))
        assert a == corpus.fingerprint(wl, corpus.generate(wl, 11, n))
        assert a != corpus.fingerprint(wl, corpus.generate(wl, 12, n))


def test_no_timed_path_uses_count():
    """No DataFrame ``.count()`` action anywhere in the benchmark: it
    would let Catalyst prune the columns a timed pass must produce."""
    offenders = []
    for path in glob.glob(os.path.join(BENCH_DIR, "**", "*.py"),
                          recursive=True):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "count" and not node.args):
                offenders.append(f"{path}:{node.lineno}")
    assert offenders == []


def test_self_time_subtracts_children():
    t = spans.Tracer()
    root = t.add("root", 0.0, 10.0)
    t.add("a", 1.0, 4.0, root)
    t.add("b", 3.0, 5.0, root)
    t.add("c", 8.0, 12.0, root)     # clipped to the parent's end
    assert t.self_times()[root] == pytest.approx(10 - 4 - 2)


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = _bench_json()["command"]
    p = subprocess.run(cmd + ["--workload", "text_raw", "--seed", "1",
                              "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True,
                       timeout=170)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_end_descendants_waits_for_orphans_and_kills_stragglers():
    """A grandchild whose parent has already exited is waited for and
    reaped; one still running after the grace period is killed."""
    code = (
        "import subprocess, time\n"
        "from perfbench import procmem\n"
        "assert procmem.become_subreaper()\n"
        "def orphan(secs):\n"
        "    return int(subprocess.run(\n"
        "        ['sh', '-c', f'sleep {secs} >/dev/null 2>&1 & echo $!'],\n"
        "        capture_output=True, text=True).stdout)\n"
        "pid = orphan(1)\n"
        "killed = procmem.end_descendants()\n"
        "print(killed == [] and not procmem._running(pid))\n"
        "pid = orphan(60)\n"
        "t0 = time.monotonic()\n"
        "killed = procmem.end_descendants(grace=0.2)\n"
        "print(killed == [pid] and not procmem._running(pid)\n"
        "      and time.monotonic() - t0 < 30)\n")
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=60)
    assert p.stdout.split() == ["True", "True"], p.stderr
