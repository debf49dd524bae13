"""Forced-output benchmark of the extraction engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload extract_full --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --repin      # rewrite perfbench/pins.json

Workloads (see BENCHMARK.json for why each was chosen):
- ``extract_full``: the program's nine-class pages through
  ``repartition_salted`` and ``extract_pages`` at all five levels;
- ``crawl_chain``: a generated ``.warc.gz`` crawl through
  ``compose.run_rehearsal``;
- ``text_raw``: payload-less text rows through
  ``extract_pages(levels=("raw",))``, where the Arrow crossing rather
  than the kernels sets the pace. It runs like the others but is not in
  BENCHMARK.json: a run costs ~45 s on a 4-core box, mostly a cold
  Spark start, and leaving it out keeps the repeated runs a comparison
  needs within an hour.

A run builds one session at ``local[<cores>]`` in this process, with a
2g driver heap cap (see ``harness.DRIVER_MEM``); ``setup_s`` is that
cold set-up, from process start (less the probe's generation) through
the warm-up pass over the workload's pinned probe input, whose checksum
must equal ``pins.json``. It then times forced-output passes over the
seeded input, as many as end nearest to ``--seconds``, and checks every
pass. Each pass starts after a
full JVM collection and keeps its own memory peak; ``peak_rss_mb`` is
the median of those peaks.
``crawl_chain`` times one chain, as a user's one chain job per session
runs.
Before it exits, a run stops the JVM and waits until every process it
started (the JVM, its Python daemon and workers) has ended.
``--trace 1`` instead times half the window untraced and half with
Spark's event log on (a chain: its one chain, with the log on), runs
the kernel pass, and reports the per-layer metrics; its spans go to
``.perfbench/runs``.

The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; ``attempted`` counts
the documents pushed through timed passes and ``failed`` those of
passes whose output check failed. Rows the program flags with a
``failure_reason`` (the generated poison rows) are correct output and
are counted by ``failed_frac``. Exit codes: 0 all checks hold, 1 an
output check failed, 2 the program is missing, 3 a generated input's
fingerprint does not match ``pins.json`` (nothing is timed).
"""

from __future__ import annotations

import os
import sys
import time


def _process_start() -> float:
    """Epoch seconds at which this process started, from /proc."""
    try:
        with open("/proc/self/stat", "rb") as fh:
            stat = fh.read()
        ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(ln.split()[1]) for ln in fh
                         if ln.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


PROCESS_START = _process_start()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    import argparse
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload",
                    choices=("extract_full", "text_raw", "crawl_chain"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repin", action="store_true",
                    help="regenerate the probe inputs and rewrite pins.json")
    args = ap.parse_args()
    if not args.repin and args.workload is None:
        ap.error("--workload is required")

    if not os.path.isdir(os.path.join(ROOT, "pdf_extractor_spark")):
        print(f"perfbench: no pdf_extractor_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    from perfbench import harness, procmem
    procmem.become_subreaper()
    try:
        if args.repin:
            return harness.repin()
        return harness.run(args.workload, args.seed, args.seconds,
                           bool(args.trace), PROCESS_START)
    finally:
        # every process the run started (the JVM, its Python daemon and
        # workers) has ended before this one does
        try:
            harness.stop_jvm()
        finally:
            procmem.end_descendants()


if __name__ == "__main__":
    sys.exit(main())
