"""Crawl benchmark entry point.

    python3 perfbench/run.py --workload bulk_bfs --seed 1 --seconds 12 --trace 0

Starts one local Spark session (``local[nproc]``, shuffle partitions =
nproc, fresh JVM), builds the workload's inputs from ``--seed``, runs
one untimed warm-up crawl, then repeats timed crawls for ``--seconds``
(at least the workload's ``min_crawls``), each after a garbage
collection. Every timed crawl is checked against the reference BFS
after its timer stops. ``--trace 1`` adds the traced run
(perfbench/trace.py) and reports per-layer metrics instead of the
end-to-end ones. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes (Spark scratch, snapshot stores, the event
log) lives under ``.perfbench_work/`` in the current directory and is
removed at exit; the traced run's span file goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

CRAWL_TIMEOUT_S = 90.0


def parse_args(argv=None):
    # imports the package: without it the run fails here, before any
    # output or file
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of physical RAM, at most 4 GiB: well below RAM on a
    shared host, and ample for these crawl sizes."""
    return min(4096, mem_total_bytes() // 4 // 2**20)


def start_session(nproc: int, workdir: Path, trace: bool):
    from flyscrape_spark.session import get_spark

    tmp = workdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{driver_memory_mb()}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": str(workdir / "local"),
        "spark.sql.warehouse.dir": str(workdir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = workdir / "events"
        events.mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(events),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # the status tracker reads job groups from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return get_spark(app_name="perfbench", master=f"local[{nproc}]",
                     shuffle_partitions=nproc, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM (it exits on stdin EOF) and
    wait for it, so no process outlives the benchmark."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the py4j gateway process)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks since boot: steal is time this VM's vCPUs
    waited for the host, the co-tenant noise a run cannot control."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def host_env(spark, nproc: int) -> dict:
    import pyarrow
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        sha = "unknown"
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc,
        "ram_gb": round(mem_total_bytes() / 2**30, 1),
        "driver_memory_mb": driver_memory_mb(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "git_sha": sha,
    }


class PinnedRDDs:
    """Unpersist what one crawl pinned (its lazy localCheckpoints) while
    keeping the workload's own pinned inputs: a prior crawl's blocks
    otherwise slow the next one."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc
        self.keep = set(self.jsc.getPersistentRDDs().keys())

    def release(self) -> None:
        for rdd_id, rdd in self.jsc.getPersistentRDDs().items():
            if rdd_id not in self.keep:
                rdd.unpersist(True)


def settle(spark) -> None:
    """Collect garbage in the Python driver and the JVM before a timed
    crawl, so no crawl pays for the previous crawl's garbage."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def timed_crawl(spark, workload, inputs, store_dir: Path, group: str) -> dict:
    """One crawl under its own job group, cancelled after
    CRAWL_TIMEOUT_S. The clock covers ``engine.run`` until seen and
    results are materialized."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    timer = threading.Timer(CRAWL_TIMEOUT_S, sc.cancelJobGroup, (group,))
    timer.start()
    try:
        t0 = time.perf_counter()
        out = workload.crawl(spark, inputs, store_dir)
        n_seen = out.result.seen.count()
        n_fetched = out.result.results.count()
        t1 = time.perf_counter()
    finally:
        timer.cancel()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    crawl_s = t1 - t0
    return {
        "outcome": out,
        "crawl_s": crawl_s,
        "n_seen": n_seen,
        "n_fetched": n_fetched,
        "generations": out.result.generations,
        "resume_s": (t1 - out.resume_start) if out.resume_start else None,
    }


def verify(expected, rec: dict) -> list[str]:
    """Reference-BFS check of one crawl (runs after its timer stopped)."""
    from perfbench.oracle import check

    cols = ["url", "depth", "discovery_order"]
    res = rec["outcome"].result
    problems = check(expected, res.seen.select(*cols).toPandas(),
                     res.results.select(*cols).toPandas())
    if rec["generations"] != expected.generations:
        problems.append(
            f"generations {rec['generations']} != {expected.generations}")
    return problems


def end_to_end(recs: list[dict], setup_s: float, peak_rss_mb: float) -> dict:
    med = statistics.median
    ok = [r for r in recs if not r.get("problems")]
    out = {
        "crawl_s": (med(r["crawl_s"] for r in ok), "s"),
        "urls_per_s": (med(r["n_seen"] / r["crawl_s"] for r in ok), "1/s"),
        "pages_per_s": (med(r["n_fetched"] / r["crawl_s"] for r in ok), "1/s"),
        "gen_s": (med(r["crawl_s"] / r["generations"] for r in ok), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    nproc = os.cpu_count() or 1
    workdir = Path.cwd() / ".perfbench_work" / str(os.getpid())
    workdir.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(workdir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "local")
    import tempfile

    tempfile.tempdir = str(workdir / "tmp")
    try:
        from perfbench.workloads import WORKLOADS

        return run(args, WORKLOADS[args.workload](nproc), nproc, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            workdir.parent.rmdir()
        except OSError:
            pass


def run(args, workload, nproc: int, workdir: Path) -> int:
    t = time.perf_counter()
    spark = start_session(nproc, workdir, bool(args.trace))
    session_start_s = time.perf_counter() - t
    try:
        env = host_env(spark, nproc)
        inputs = workload.inputs(spark, args.seed, workdir)
        pins = PinnedRDDs(spark)
        t = time.perf_counter()
        timed_crawl(spark, workload, inputs, workdir / "store", "warmup")
        pins.release()
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_PROCESS

        expected = workload.expected(inputs)
        recs: list[dict] = []
        ticks0 = cpu_ticks()
        t_loop = time.perf_counter()
        while (len(recs) < workload.min_crawls
               or time.perf_counter() - t_loop < args.seconds):
            i = len(recs)
            settle(spark)
            try:
                rec = timed_crawl(spark, workload, inputs,
                                  workdir / "store", f"crawl-{i}")
                rec["problems"] = verify(expected, rec)
            except Exception:  # a crawl that raised counts as failed
                traceback.print_exc()
                rec = {"problems": ["raised"]}
            recs.append(rec)
            pins.release()
        peak_rss = jvm_peak_rss_mb(spark)
        ticks1 = cpu_ticks()
        steal = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)

        traced = None
        if args.trace:
            from perfbench.trace import traced_run

            ok = [r["crawl_s"] for r in recs if not r["problems"]]
            traced = traced_run(
                spark, workload, inputs, expected, workdir,
                untraced_crawl_s=statistics.median(ok) if ok else float("nan"),
                session={"start_s": session_start_s, "warmup_s": warmup_s},
                crawl_id=f"{workload.name}-{args.seed}",
                timed_crawl=timed_crawl, verify=verify,
            )
    finally:
        stop_session(spark)
    if traced is not None:
        layer_metrics, layer_table = traced.finish(
            workdir / "events", Path.cwd() / ".perfbench_out"
            / f"spans-{workload.name}-{args.seed}.jsonl")

    failed = sum(1 for r in recs if r["problems"])
    attempted = len(recs)
    e2e = end_to_end(recs, setup_s, peak_rss) if failed < attempted else {}
    resumes = [r["resume_s"] for r in recs
               if not r["problems"] and r["resume_s"] is not None]
    report = {
        "workload": workload.name, "seed": args.seed, "env": env,
        "expected": {"seen": expected.n_seen, "fetched": expected.n_fetched,
                     "generations": expected.generations},
        "crawls": [{"crawl_s": round(r.get("crawl_s", float("nan")), 4),
                    "problems": r["problems"]} for r in recs],
        "session_start_s": round(session_start_s, 4),
        "warmup_s": round(warmup_s, 4),
        "resume_s": statistics.median(resumes) if resumes else None,
        "failed_frac": failed / attempted,
        "cpu_steal_frac": round(steal, 4),
    }
    print(json.dumps(report, sort_keys=True))
    print(f"{'metric':<16}{'value':>14}  unit")
    for k, m in e2e.items():
        print(f"{k:<16}{m['value']:>14.4f}  {m['unit']}")
    if report["resume_s"] is not None:
        print(f"{'resume_s':<16}{report['resume_s']:>14.4f}  s")
    print(f"{'failed_frac':<16}{report['failed_frac']:>14.4f}  ratio")
    metrics = e2e
    if traced is not None:
        print(layer_table)
        if traced.problems:
            print("traced crawl problems:", traced.problems)
        metrics = layer_metrics
        failed += bool(traced.problems)
        attempted += 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
