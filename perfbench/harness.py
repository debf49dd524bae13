"""Run orchestration: inputs, set-up, timed window, checks, metrics."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import time
from typing import Dict, List, Optional, Tuple

from . import corpus, kernelpass, workloads
from .eventlog import (EVENTLOG_CONF, PY_RECV, PY_RUN, PY_SENT, PY_START,
                       stop_and_read)
from .procmem import PeakRss, cpu_ticks, steal_frac
from .spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
PROBE_SEED = 7
# The driver's heap cap, through the program's own setting (its default
# is 8g). Under the default, G1 grows the heap opportunistically: one
# crawl_chain pass peaked with a 2.4 GB or a 3.6 GB JVM between
# otherwise identical runs, depending on whether G1 expanded during
# curation. Under 2g the heap grows as needed up to the cap, nothing is
# pre-touched, and an extract_full pass (about 1 GB of JVM) is below it.
DRIVER_MEM = "2g"

E2E_UNITS = {"docs_per_s": "docs/s", "setup_s": "s", "failed_frac": "ratio",
             "peak_rss_mb": "MB", "write_amp": "ratio"}

KERNELS = tuple(kernelpass.KERNEL_ENTRY_POINTS)
# (name, unit, better) of every per-layer metric a traced run prints
PER_LAYER: List[Tuple[str, str, str]] = (
    [(f"kernel.{k}.self_us_per_doc", "us", "lower") for k in KERNELS]
    + [(f"kernel.{k}.calls", "count", "lower") for k in KERNELS]
    + [("kernel.glue.self_us_per_doc", "us", "lower"),
       ("extract.single_core_docs_per_s", "docs/s", "higher"),
       ("kernel.wrap_overhead_frac", "ratio", "lower"),
       ("arrow.mb_to_python", "MB", "lower"),
       ("arrow.mb_from_python", "MB", "lower"),
       ("arrow.python_run_s", "s", "lower"),
       ("arrow.worker_start_s", "s", "lower"),
       ("spark.task_s", "s", "lower"),
       ("spark.jvm_cpu_s", "s", "lower"),
       ("spark.gc_s", "s", "lower"),
       ("spark.core_busy_frac", "ratio", "higher"),
       ("spark.parallel_eff", "ratio", "higher"),
       ("spark.shuffle_write_mb", "MB", "lower"),
       ("spark.shuffle_read_mb", "MB", "lower"),
       ("spark.spill_mb", "MB", "lower"),
       ("spark.task_skew", "ratio", "lower"),
       ("spark.jobs", "count", "lower"),
       ("spark.tasks_failed", "count", "lower")]
    + [(f"compose.{st}.{m}", u, "lower")
       for st in workloads.CHAIN_STAGES
       for m, u in (("s", "s"), ("rows_out", "count"),
                    ("mb_written", "MB"), ("shuffle_mb", "MB"),
                    ("spill_mb", "MB"))]
    + [("compose.coverage_frac", "ratio", "higher"),
       ("warc.in_mb_per_s", "MB/s", "higher"),
       ("lineage.batches", "count", "lower"),
       ("lineage.batch_s_max", "s", "lower"),
       ("lineage.jobs_per_batch", "count", "lower"),
       ("dedup.survivor_frac", "ratio", "higher"),
       ("documents.dup_doc_ids", "count", "lower"),
       ("dedup.verdict_fanout", "ratio", "lower"),
       ("curation.survivor_frac", "ratio", "higher"),
       ("assemble.selected_docs", "count", "higher"),
       ("trace.overhead_frac", "ratio", "lower")])


def _paths() -> Dict[str, str]:
    names = ("cache", "probe", "out", "eventlog", "runs", "spark-local",
             "tmp")
    out = {n: os.path.join(WORK, n) for n in names}
    for p in out.values():
        os.makedirs(p, exist_ok=True)
    return out


def _environment(paths: Dict[str, str]) -> None:
    """Everything the run and its child processes write stays in WORK;
    Python workers import the program from the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = paths["spark-local"]
    os.environ["TMPDIR"] = paths["tmp"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def cores() -> int:
    return len(os.sched_getaffinity(0))


def stop_jvm() -> None:
    """Stop the session and the JVM behind it. Closing the gateway's
    stdin is pyspark's own signal for the JVM to exit; without it the
    JVM outlives this process for as long as its shutdown takes."""
    from pyspark import SparkContext
    from pdf_extractor_spark.session import stop_spark
    stop_spark()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    try:
        gateway.shutdown()
    except Exception:       # the JVM may already be gone
        pass
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()


def start_session(workload: str, paths: Dict[str, str], traced: bool):
    from pdf_extractor_spark.session import get_spark
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": paths["spark-local"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={paths['tmp']}",
        "spark.sql.warehouse.dir": os.path.join(paths["tmp"], "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if traced:
        extra.update(EVENTLOG_CONF)
        extra["spark.eventLog.dir"] = "file://" + paths["eventlog"]
    spark = get_spark(f"perfbench-{workload}",
                      master=f"local[{cores()}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --- probe inputs and pins ---------------------------------------------------

def write_probe(workload: str, probe_dir: str) -> Dict:
    """Regenerate the workload's probe input; returns its record (the
    same keys ``corpus.materialize`` returns)."""
    rows = corpus.generate(workload, PROBE_SEED,
                           workloads.PROBE_SIZES[workload])
    shutil.rmtree(probe_dir, ignore_errors=True)
    if workload == "crawl_chain":
        corpus.write_crawl(probe_dir, rows, 2)
    else:
        corpus.write_pages(probe_dir, rows, 2)
    return {"dir": probe_dir, "rows": len(rows),
            "fingerprint": corpus.fingerprint(workload, rows),
            "expected_failures": corpus.expected_failures(workload, rows),
            "input_bytes": workloads.dir_bytes(probe_dir)}


def load_pins() -> Dict:
    with open(PINS) as fh:
        return json.load(fh)


def repin() -> int:
    paths = _paths()
    _environment(paths)
    pins = {}
    for wl in ("extract_full", "text_raw", "crawl_chain"):
        probe_dir = os.path.join(paths["probe"], wl)
        fp = write_probe(wl, probe_dir)["fingerprint"]
        spark = start_session(wl, paths, traced=False)
        digest = workloads.probe(wl, spark, probe_dir,
                                 os.path.join(paths["out"], "probe"), cores())
        spark.stop()
        pins[wl] = {"probe_seed": PROBE_SEED,
                    "probe_rows": workloads.PROBE_SIZES[wl],
                    "probe_fingerprint": fp, **{
                        f"probe_{k}": v for k, v in digest.items()}}
        print(wl, pins[wl], file=sys.stderr)
    with open(PINS, "w") as fh:
        json.dump(pins, fh, indent=2, sort_keys=True)
        fh.write("\n")
    return 0


def probe_check(digest: Dict, pin: Dict) -> List[str]:
    want = {k: pin[f"probe_{k}"] for k in ("checksum", "rows", "failed")}
    return [] if digest == want else [
        f"probe output {digest} != pinned {want}"]


# --- the run -----------------------------------------------------------------

class Run:
    def __init__(self, workload: str, trace: bool) -> None:
        self.workload, self.trace = workload, trace
        self.paths = _paths()
        self.probe_dir = os.path.join(self.paths["probe"], workload)
        self.out_dir = os.path.join(self.paths["out"], workload)
        self.probe_out = os.path.join(self.paths["out"], "probe")
        self.tracer = Tracer()
        self.failures: List[str] = []
        self.absent: Dict[str, str] = {}
        self.spark = None
        self.pins: Dict = {}
        self.meta: Dict = {}

    def fail(self, msgs: List[str]) -> None:
        self.failures.extend(msgs)

    def setup(self, t0: float) -> float:
        """The cold set-up, timed from ``t0``: JVM launch, session
        build and the warm-up pass over the pinned probe, which spawns
        the Python workers."""
        with self.tracer.span("setup") as sid:
            self.tracer.spans[sid]["start"] = t0
            self.spark = start_session(self.workload, self.paths, False)
            digest = workloads.probe(self.workload, self.spark,
                                     self.probe_dir, self.probe_out,
                                     cores())
        self.fail(probe_check(digest, self.pins))
        return time.time() - t0

    def one_pass(self, name: str, meta: Dict, out_dir: str) -> Dict:
        """One forced-output pass, checked after its timer stops.

        A full JVM collection precedes the pass (outside its timer), so
        each pass's memory peak starts from a collected heap instead of
        from whatever G1 left committed after earlier passes."""
        self.spark.sparkContext._jvm.System.gc()
        with PeakRss() as rss, self.tracer.span(name):
            it = workloads.iterate(self.workload, self.spark, meta["dir"],
                                   out_dir, cores(), meta["rows"])
        it["peak"], it["at_peak"] = rss.peak, rss.at_peak
        it["bad"] = workloads.verify_iteration(self.workload, self.spark,
                                               it, out_dir, meta)
        self.fail(it["bad"])
        return it

    def window(self, seconds: float, label: str) -> List[Dict]:
        """Passes over the seeded input, as many as end nearest to
        ``seconds`` from now when each takes as long as the last (at
        least one; exactly one for a single-pass workload)."""
        iters: List[Dict] = []
        t_end = time.time() + seconds
        while not iters or (self.workload not in workloads.SINGLE_PASS
                            and time.time() + iters[-1]["wall"] / 2
                            <= t_end):
            iters.append(self.one_pass(f"{label}.pass", self.meta,
                                       self.out_dir))
        return iters

    def sample_check(self, rows: List[Dict],
                     outputs: Optional[List[dict]] = None) -> None:
        """The last pass's output rows for ``rows`` against single-node
        ``extract_document`` (``outputs``, computed here when None)."""
        if outputs is None:
            from pdf_extractor_spark.pipeline.extract import extract_document
            lv = workloads.levels_of(self.workload)
            outputs = [extract_document(r["html"], r["text"], r["url"], lv)
                       for r in rows]
        got = workloads.spark_rows_for(self.workload, self.out_dir,
                                       {r["url"] for r in rows})
        self.fail(workloads.compare_sample(self.workload, rows, outputs,
                                           got))

    def consistency(self, iters: List[Dict]) -> None:
        sums = {it.get("checksum") for it in iters}
        if len(sums) > 1:
            self.fail([f"output checksum differs between passes: {sums}"])


def _median(xs: List[float]) -> float:
    return float(statistics.median(xs))


def e2e_metrics(run: Run, iters: List[Dict], setup: float
                ) -> Dict[str, float]:
    rows = sum(it["rows"] for it in iters)
    return {
        "docs_per_s": rows / sum(it["wall"] for it in iters),
        "setup_s": setup,
        "failed_frac": sum(it["failed"] for it in iters) / rows,
        "peak_rss_mb": _median([it["peak"] for it in iters]) / 1e6,
        "write_amp": _median([it["out_bytes"] / run.meta["input_bytes"]
                              for it in iters]),
    }


def layer_metrics(run: Run, evlog, t_iters: List[Dict],
                  u_iters: List[Dict], kmetrics: Dict) -> Dict[str, tuple]:
    m: Dict[str, tuple] = dict(kmetrics)
    n = len(t_iters)
    t0, t1 = t_iters[0]["start"], t_iters[-1]["end"]
    w = evlog.window(t0, t1)
    busy_wall = sum(it["wall"] for it in t_iters)
    dps_t = sum(it["rows"] for it in t_iters) / busy_wall
    m.update({
        "arrow.mb_to_python": (w.total(PY_SENT) / 1e6 / n, "MB"),
        "arrow.mb_from_python": (w.total(PY_RECV) / 1e6 / n, "MB"),
        "arrow.python_run_s": (w.total(PY_RUN) / 1e3 / n, "s"),
        "arrow.worker_start_s": (w.total(PY_START) / 1e3 / n, "s"),
        "spark.task_s": (w.total("run_ms") / 1e3 / n, "s"),
        "spark.jvm_cpu_s": (w.total("cpu_ns") / 1e9 / n, "s"),
        "spark.gc_s": (w.total("gc_ms") / 1e3 / n, "s"),
        "spark.core_busy_frac": (w.busy_s() / (cores() * busy_wall),
                                 "ratio"),
        "spark.shuffle_write_mb": (w.total("shuffle_write") / 1e6 / n, "MB"),
        "spark.shuffle_read_mb": (w.total("shuffle_read") / 1e6 / n, "MB"),
        "spark.spill_mb": (w.total("spill") / 1e6 / n, "MB"),
        "spark.task_skew": (w.task_skew(), "ratio"),
        "spark.jobs": (len(w.jobs) / n, "count"),
        "spark.tasks_failed": (float(sum(1 for t in w.tasks
                                         if not t["ok"])), "count"),
    })
    if u_iters:
        dps_u = (sum(it["rows"] for it in u_iters)
                 / sum(it["wall"] for it in u_iters))
        m["trace.overhead_frac"] = (1 - dps_t / dps_u, "ratio")
    single = kmetrics.get("extract.single_core_docs_per_s")
    if single:
        m["spark.parallel_eff"] = (dps_t / (cores() * single[0]), "ratio")
    if run.workload == "crawl_chain":
        last = t_iters[-1]
        windows = workloads.chain_stage_windows(run.out_dir, last["start"],
                                                last["end"])
        m.update(workloads.chain_layer_metrics(
            run.out_dir, last, windows, evlog, run.meta["input_bytes"]))
    return m


def _versions(spark) -> Dict[str, str]:
    jvm = spark.sparkContext._jvm
    return {"spark": spark.version,
            "java": str(jvm.java.lang.System.getProperty("java.version")),
            "python": platform.python_version()}


def run(workload: str, seed: int, seconds: float, trace: bool,
        t_proc: float) -> int:
    from pdf_extractor_spark.session import stop_spark
    try:
        return _run(workload, seed, seconds, trace, t_proc)
    finally:
        stop_spark()        # a no-op unless a failure left a session up


def _run(workload: str, seed: int, seconds: float, trace: bool,
         t_proc: float) -> int:
    r = Run(workload, trace)
    _environment(r.paths)
    load_before = os.getloadavg()
    r.pins = load_pins()[workload]

    t_gen = time.time()
    probe_fp = write_probe(workload, r.probe_dir)["fingerprint"]
    gen_s = time.time() - t_gen
    if probe_fp != r.pins["probe_fingerprint"]:
        print(f"perfbench: probe input of {workload} has fingerprint "
              f"{probe_fp}, pinned {r.pins['probe_fingerprint']}: the "
              "input generator changed; refusing to time it (re-pin with "
              "--repin in a change of its own)", file=sys.stderr)
        return 3

    setup = r.setup(t_proc + gen_s)
    versions = _versions(r.spark)
    salt = "|".join(p["probe_fingerprint"]
                    for p in load_pins().values())
    r.meta = corpus.materialize(r.paths["cache"], workload, seed,
                                workloads.SIZES[workload],
                                workloads.INPUT_FILES[workload], salt)

    evlog = None
    kmetrics: Dict = {}
    outputs = None
    if trace and workload not in workloads.SINGLE_PASS:
        # untimed, so that the untraced half starts as JIT-warm as the
        # traced half it is compared with
        r.one_pass("warm.pass", r.meta, r.out_dir)
    ticks_before = cpu_ticks()
    if not trace:
        iters = r.window(seconds, "timed")
        u_iters = iters
    else:
        # A single-pass workload has no untraced half: its one chain a
        # run is the traced one, as a second chain in the same JVM would
        # run warm and not compare with the first.
        u_iters = ([] if workload in workloads.SINGLE_PASS
                   else r.window(seconds / 2, "untraced"))
        r.spark.stop()
        r.spark = start_session(workload, r.paths, traced=True)
        r.fail(probe_check(workloads.probe(workload, r.spark, r.probe_dir,
                                           r.probe_out, cores()), r.pins))
        iters = r.window(seconds / 2, "traced")
    steal = steal_frac(ticks_before, cpu_ticks())
    r.consistency(iters)

    sample = workloads.sample_rows(workload, r.meta["dir"], r.out_dir)
    warnings: List[str] = []
    if trace:
        kmetrics, outputs = kernelpass.kernel_pass(
            sample, workloads.levels_of(workload), r.tracer, r.absent)
        gap = kmetrics["kernel.wrap_overhead_frac"][0]
        if abs(gap) > kernelpass.ATTRIBUTION_TOLERANCE:
            warnings.append(
                f"kernel self times + glue differ from the unwrapped "
                f"extract_document time by {gap:.1%} (tolerance "
                f"{kernelpass.ATTRIBUTION_TOLERANCE:.0%})")
    r.sample_check(sample, outputs)
    if workload == "crawl_chain":
        r.fail(workloads.chain_equivalence(r.spark, r.out_dir))

    if trace:
        evlog = stop_and_read(r.spark, r.paths["eventlog"])
        candidates = [s["id"] for s in r.tracer.spans]
        if workload == "crawl_chain":
            last = iters[-1]
            parent = next(s["id"] for s in reversed(r.tracer.spans)
                          if s["name"] == "traced.pass")
            for st, a, b in workloads.chain_stage_windows(
                    r.out_dir, last["start"], last["end"]):
                candidates.append(r.tracer.add(f"compose.{st}", a, b,
                                               parent))
        evlog.attach(r.tracer, candidates)
    else:
        r.spark.stop()
    load_after = os.getloadavg()

    e2e = e2e_metrics(r, iters, setup)
    if trace:
        lm = layer_metrics(r, evlog, iters, u_iters, kmetrics)
        metrics = {}
        for name, unit, _better in PER_LAYER:
            if name in lm:
                metrics[name] = {"value": lm[name][0], "unit": unit}
            else:
                metrics[name] = {"value": 0.0, "unit": unit}
                r.absent.setdefault(name, _absent_reason(name, workload,
                                                         r.absent))
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}

    if workload == "crawl_chain":
        last = iters[-1]
        stages_s = {st: t1 - t0 for st, t0, t1 in workloads.chain_stage_windows(
            r.out_dir, last["start"], last["end"])}
    else:
        stages_s = {}
    context = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": int(trace), "cores": cores(),
        "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_steal_frac": steal,
        **versions,
        "input_fingerprint": r.meta["fingerprint"],
        "input_cache_hit": not r.meta["generated"],
        "probe_fingerprint": probe_fp,
        "per_pass": [{"docs_per_s": it["rows"] / it["wall"],
                      "wall_s": it["wall"], "rows": it["rows"],
                      "checksum": it.get("checksum"),
                      "peak_rss_mb": it["peak"] / 1e6,
                      "rss_at_peak_mb": {
                          k: (v / 1e6 if k != "procs" else v)
                          for k, v in it["at_peak"].items()}}
                     for it in iters],
        "e2e": e2e,
        "chain_stages_s": stages_s,
        "checks_failed": r.failures,
        "trace_warnings": warnings,
        "absent": r.absent,
    }
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    record = os.path.join(r.paths["runs"],
                          f"{workload}-seed{seed}-trace{int(trace)}-"
                          f"{stamp}.json")
    r.tracer.write(record, context=context, metrics=metrics)
    print(json.dumps({"context": context, "record": record}))
    attempted = sum(it["rows"] for it in iters)
    failed = sum(it["rows"] for it in iters if it["bad"])
    if r.failures and not failed:
        failed = attempted      # a run-level check failed: nothing counts
    print(json.dumps({"correct": not r.failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if r.failures else 0


def _absent_reason(name: str, workload: str, absent: Dict[str, str]
                   ) -> str:
    if name.rsplit(".", 1)[0] in absent:       # a renamed kernel entry point
        return absent[name.rsplit(".", 1)[0]]
    if name.split(".")[0] in ("compose", "lineage", "dedup", "documents",
                              "curation", "assemble", "warc"):
        return f"{workload} does not run the compose chain"
    if name == "trace.overhead_frac":
        return f"{workload} runs one chain a run, so no untraced pass"
    if name == "spark.parallel_eff":
        return "no single-core rate (every kernel entry point absent)"
    return "not measured on this workload"
