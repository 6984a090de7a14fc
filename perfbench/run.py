#!/usr/bin/env python3
"""Extraction + curation benchmark.

    python3 perfbench/run.py --workload crawl_submit --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke      # every workload, untraced and traced, tiny inputs

Run from the root of a checkout. One run is one workload in one process:

1. a separate process stages the seeded input and its goldens (stage.py),
   cached by workload, size, seed and generator-source hash;
2. this process starts a ``local[nproc // 2]`` session with a fixed heap and
   runs a fixed number of untimed warm-up passes (set-up);
3. ``--trace 0``: it runs a fixed number of timed passes, about
   ``--seconds`` worth on a typical host and at least two, and reports each
   end-to-end rate as the median, over the passes the hypervisor left quiet,
   of that pass's own rate;
   ``--trace 1``: it times one untraced and one traced pass, then spans the
   layers the workload reaches (layers.py) and reports the per-layer metrics;
4. it checks the outputs of the measured passes (workloads.py).

Standard output carries JSON only: a host-contention record, then the result
line ``{"correct", "attempted", "failed", "metrics"}``. The exit code is
non-zero on any correctness mismatch. Metric names and units come from
BENCHMARK.json at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORK = ROOT / ".perfbench"
WORKLOAD_NAMES = ("crawl_submit", "light_resume", "curate_dedup")


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stage_input(workload: str, seed: int, size: str) -> Path:
    proc = subprocess.run(
        [sys.executable, str(HERE / "stage.py"), "--workload", workload,
         "--seed", str(seed), "--size", size, "--cache", str(WORK / "cache")],
        stdout=subprocess.PIPE, text=True,
    )
    if proc.returncode != 0:
        fail(f"staging {workload} failed with exit code {proc.returncode}", 3)
    return Path(proc.stdout.strip().splitlines()[-1])


def start_session(app: str, slots: int, nproc: int, work: Path):
    """A session pinned to this host: ``local[slots]``, a fixed heap (-Xms =
    -Xmx, 1 GiB or a quarter of RAM if less, touched at JVM start so no pass
    faults fresh heap pages in), GC threads within the core
    count, all scratch space inside ``work``, and the package shipped to the
    Python workers on PYTHONPATH."""
    for d in ("tmp", "spark-local", "warehouse", "derby"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    # The inputs are small. A 4 GiB heap kept touching fresh pages through
    # the passes (~26k page faults a second), and on a VM whose free memory
    # goes back to the hypervisor each such page costs a host fault.
    heap_mb = min(1024, ram_mb // 4)
    from gnosis_ocr_spark.session import get_spark

    spark = get_spark(
        app_name=app,
        master=f"local[{slots}]",
        shuffle_partitions=slots,
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.driver.extraJavaOptions": " ".join([
                f"-Xms{heap_mb}m",
                "-XX:+AlwaysPreTouch",
                f"-XX:ParallelGCThreads={nproc}",
                f"-XX:ConcGCThreads={max(1, nproc // 4)}",
                f"-Djava.io.tmpdir={work / 'tmp'}",
                f"-Dderby.system.home={work / 'derby'}",
            ]),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.local.dir": str(work / "spark-local"),
            # the traced run reads every job of its spans back from the
            # status store; keep them all
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait until every process that ran
    under this one (the JVM, its Python worker daemon and workers) has ended;
    whatever is left after 30 s is killed."""
    from pyspark import SparkContext

    from host import descendants

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # the worker daemon exits once the JVM is gone, re-parented by then, so
    # it is waited for by pid
    deadline = time.monotonic() + 30
    alive = [p for p in pids if Path(f"/proc/{p}").exists()]
    while alive and time.monotonic() < deadline:
        time.sleep(0.2)
        alive = [p for p in alive if Path(f"/proc/{p}").exists()]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def timed_passes(wl, seconds: float) -> list:
    """A fixed number of timed passes, ``round(seconds / wl.nominal_pass_s)``
    and at least two.
    The count does not depend on how fast this run happens to be: the JIT
    keeps warming over the passes, so a fast run that fitted more passes into
    a time limit would also report later, faster passes."""
    n = max(2, round(seconds / wl.nominal_pass_s))
    return [wl.run_pass(f"timed-{i}") for i in range(n)]


# A pass during which the hypervisor took more than this share of the VM's CPU
# time is not a reading of the program: at 11% steal a curation pass took
# twice as long as its neighbours.
QUIET_STEAL = 0.02


def quiet(passes) -> list:
    """The passes with at most QUIET_STEAL steal, or all when none is."""
    return [p for p in passes if p.cpu.steal_share <= QUIET_STEAL] or passes


def e2e_metrics(passes, setup_s: float) -> dict[str, float]:
    """Each rate is the median, over the quiet timed passes, of that pass's
    own rate, so a host stall that slows a minority of them leaves it in
    place."""
    med = statistics.median
    passes = quiet(passes)
    return {
        "docs_per_s": med(p.docs / p.wall_s for p in passes),
        "pages_per_s": med(p.pages / p.wall_s for p in passes),
        "cpu_s_per_kdoc": med(1e3 * p.cpu.busy / p.docs for p in passes),
        "setup_s": setup_s,
    }


def measure(args) -> int:
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    staged = stage_input(args.workload, args.seed, args.size)

    from host import CpuTimes
    from workloads import WORKLOADS

    t_setup, cpu_setup = time.perf_counter(), CpuTimes.read()
    nproc = os.cpu_count() or 1
    # half the cores stay free for the driver JVM's planning, JIT and GC
    # threads and the Python driver. The passes are latency-bound: on a 4-vCPU
    # VM, local[2] ran the crawl pass as fast as local[3] with less CPU per
    # doc, and next to one busy competing process it lost far less
    slots = max(1, nproc // 2)
    work = WORK / "run" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    spark = start_session(f"perfbench-{args.workload}", slots, nproc, work)
    try:
        wl = WORKLOADS[args.workload](spark, staged, work)
        wl.prepare()
        warm = [wl.run_pass(f"warmup-{i}") for i in range(wl.warmup_passes)]
        setup_s = time.perf_counter() - t_setup
        cpu_timed = CpuTimes.read()
        host = {"nproc": nproc, "slots": slots, "setup": (cpu_timed - cpu_setup).record()}

        if args.trace:
            names = spec["per_layer"]
            metrics, passes, resumed = traced(spark, wl, work, slots)
            # layers this workload does not reach report 0
            metrics = {m["name"]: metrics.get(m["name"], 0.0) for m in names}
        else:
            resumed = None
            passes = timed_passes(wl, args.seconds)
            metrics = e2e_metrics(passes, setup_s)
            names = spec["end_to_end"]
            host["passes"] = len(passes)
            host["pass_s"] = [round(p.wall_s, 4) for p in passes]
            host["pass_steal"] = [round(p.cpu.steal_share, 4) for p in passes]
            host["quiet_passes"] = sum(p.cpu.steal_share <= QUIET_STEAL for p in passes)
        host["timed"] = (CpuTimes.read() - cpu_timed).record()
        # the warm-up passes join the checks, so that curation's output digest
        # is compared across passes even when one timed pass fills the run
        chk = wl.check(warm + passes)
        if resumed is not None:
            wl.check_run(chk, *resumed)
    finally:
        stop_session(spark)

    print(json.dumps({"host": host, "check_notes": chk.notes[:20]}))
    out = {
        "correct": chk.failed == 0,
        "attempted": chk.attempted,
        "failed": chk.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in names},
    }
    print(json.dumps(out), flush=True)
    return 0 if chk.failed == 0 else 1


def traced(spark, wl, work: Path, slots: int):
    """One untraced and one traced end-to-end pass, then a span for each
    layer the workload reaches. Returns the metrics, the two passes and, on
    the extraction workloads, the resumed run of the run-layer spans as
    ``check_run`` arguments."""
    from host import RssSampler
    from layers import curation_layers, extraction_layers, spark_totals
    from spans import Tracer
    from workloads import HOST_CAP, NEAR_DUP_THRESHOLD, CurateDedup

    tr = Tracer(spark)
    # RSS is sampled over both passes, so the sampler slows each alike and
    # leaves their difference, the tracing overhead, unbiased
    with RssSampler() as rss:
        untraced = wl.run_pass("untraced")
        t0 = time.perf_counter()
        with tr.span("pass", parent=None):
            traced_pass = wl.run_pass("traced")
        overhead = time.perf_counter() - t0 - untraced.wall_s

    m = spark_totals(tr.spans[-1], slots)
    m["trace.overhead_s"] = overhead
    m["peak_rss_mb"] = rss.peak / 2**20
    resumed = None
    if isinstance(wl, CurateDedup):
        m.update(curation_layers(tr, spark, wl.frame(), work / "layers",
                                 HOST_CAP, NEAR_DUP_THRESHOLD))
        m["dedup.planted_recall"] = wl.planted_recall(traced_pass.out)
    else:
        # the run-layer spans resume from an output directory whose done
        # manifest holds the staged seeded half of the urls
        layer_m, out, stats = extraction_layers(
            tr, spark, wl.read_docs(), work / "layers", wl.resume_base())
        m.update(layer_m)
        resumed = ("layers.run_extraction", out, stats, len(wl.meta["done_urls"]))
    tr.dump(work / "spans.jsonl")
    return m, [untraced, traced_pass], resumed


def smoke() -> int:
    """Every workload on its tiny input, untraced and traced, with checks."""
    bad = 0
    for w in WORKLOAD_NAMES:
        for t in (0, 1):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, str(Path(__file__).resolve()), "--workload", w,
                 "--seed", "1", "--seconds", "1", "--trace", str(t), "--size", "smoke"],
                stdout=subprocess.PIPE, text=True,
            )
            lines = proc.stdout.strip().splitlines()
            ok = proc.returncode == 0 and bool(lines) and json.loads(lines[-1])["correct"]
            bad += not ok
            print(f"{w} trace={t}: {'ok' if ok else 'FAILED'} "
                  f"({time.perf_counter() - t0:.0f} s, exit {proc.returncode})")
            if lines:
                print(lines[-1])
    return 1 if bad else 0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not (ROOT / "gnosis_ocr_spark" / "__init__.py").is_file():
        fail(f"no gnosis_ocr_spark package under {ROOT}; run from a checkout root")
    if args.smoke:
        sys.exit(smoke())
    if args.workload is None:
        fail("--workload is required (or --smoke)")
    sys.exit(measure(args))


if __name__ == "__main__":
    main()
