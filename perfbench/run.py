#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 6 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: with ``--trace 0`` the end-to-end metrics, with ``--trace 1``
the per-layer metrics of a traced run (``BENCHMARK.json`` names both).
Earlier lines carry the run's environment, any correctness problems by
name and, on a traced run, the spans' file and the tracing overhead
(measured against untraced steps the traced run interleaves).

The exit code is 0 when every output checked correct, 1 when the run
failed or an output was wrong, and 2 when the tree holds no program.
All scratch files live under ``.perfbench_run/`` in the working directory
and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

WORKLOADS = ("cdc_trickle", "registry")
DEADLINE_S = 170  # a run must end within 180 s


def _env_setup(root: str, work: str) -> dict:
    """Process environment fixed before the JVM starts: workers import the
    package from any cwd, every scratch file stays under ``work``, and the
    session uses at most ``nproc`` cores."""
    nproc = len(os.sched_getaffinity(0))
    asked = os.environ.get("SPARK_GRAFT_CPUS", "")
    cpus = min(int(asked), nproc) if asked.isdigit() and int(asked) > 0 else nproc
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # The program's default heap is 8g. On a 4-core VM a 2g heap made
    # trickle waves faster and steadier (4 alternating pairs: median wave
    # 5.4 s vs 6.4 s, range 5.0-5.9 s vs 5.8-7.1 s) and peak RSS 0.7 GB
    # smaller; the setting is printed on the env line as driver_memory.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: the JVMs would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        # the traced run reads every job and stage back from the UI
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = tmp
    return {"nproc": nproc, "SPARK_GRAFT_CPUS": asked or None, "cpus_used": cpus}


def _git_head(root: str) -> str:
    import subprocess

    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait(timeout=20)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "airbnb_cdc_spark", "__init__.py")):
        print("perfbench: no airbnb_cdc_spark package here; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    spark = None
    try:
        env = _env_setup(root, work)
        import metrics
        import workloads
        from spans import Tracer

        from airbnb_cdc_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        run = workloads.Run(spark, work, args.seed, args.seconds,
                            Tracer(bool(args.trace), f"{args.workload}-{args.seed}"))
        t1 = time.perf_counter()
        result = workloads.WORKLOADS[args.workload](run)
        workload_s = time.perf_counter() - t1
        jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        gc_beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        env.update(
            jvm_gc_s=sum(b.getCollectionTime() for b in gc_beans) / 1000,
            peak_rss_mb=round((_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024, 1),
            spark=spark.version, java=spark._jvm.System.getProperty("java.version"),
            python=sys.version.split()[0], git_head=_git_head(root),
            driver_memory=spark.conf.get("spark.driver.memory"),
            session_start_s=round(session_s, 3), workload_s=round(workload_s, 3),
        )
        print(json.dumps({"env": env}))
        if args.trace:
            layer, info = metrics.per_layer(args.workload, run, result)
            spans_path = os.path.join(root, ".perfbench_run", "spans",
                                      f"{args.workload}-seed{args.seed}.json")
            run.tracer.write(spans_path)
            print(json.dumps({"spans": os.path.relpath(spans_path, root), **info}))
            values = layer
        else:
            values = metrics.end_to_end(result)
            p = metrics.tail_percentile(len(result["steps"]))
            if p is not None and p > 50:
                tail = statistics.quantiles(result["steps"], n=100)[p - 1]
                print(json.dumps({"step_tail": {"percentile": p, "samples": len(result["steps"]), "value_s": tail}}))
        signal.alarm(0)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            try:
                _stop_spark(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)

    if run.problems:
        print(json.dumps({"problems": run.problems[:50]}))
    correct = not run.problems
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics.with_units(values),
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
