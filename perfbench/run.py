#!/usr/bin/env python3
"""Engine benchmark: index search, change-feed ingest and dedup.

Usage (from the repository root)::

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Workloads (``perfbench/workloads.py``): ``search`` and ``ingest``; what
each metric means and which layer should move it is in ``METRICS.md``.
One process, one closed-loop client thread, ``local[<nproc>]``. The run
sets itself up (the ``setup_s`` metric, median of several set-ups), sends
its untimed warm-up operations, then sends operations for ``--seconds``
seconds in whole cycles of its mix, checks every output against an
independent oracle outside the timed region, and prints one JSON object as
the last line of standard output. With ``--trace 0`` it holds the
end-to-end metrics; with ``--trace 1`` every call into a layer is wrapped
in a span that records the Spark jobs, tasks, stage time and shuffle bytes
the call launched, and the object holds the per-layer metrics. The lines
before it carry the generator parameters, the host settings and the
detailed per-layer figures (``DETAIL {...}``); traced runs also write
their spans as JSON lines under ``.perfbench_out/``.

The benchmark's own data (inputs, indexes, temporary files) lives under
``.perfbench_work/`` in the current directory and is removed at exit.
Spark's shuffle and spill scratch goes where the engine's session puts
it (``harvester_spark.session``), so the benchmark times the engine as it
runs; Spark removes its scratch directories when the session stops.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

from spans import child_pids

ROOT = Path(__file__).resolve().parent.parent
K_SETUPS = 2


def host_settings(work: Path) -> dict:
    """Cores, heap and temporary-file location sized from this host."""
    cores = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(8, int(ram_gb // 4)))
    return {"cores": cores, "ram_gb": round(ram_gb, 1),
            "driver_memory": f"{heap_gb}g",
            "tmp_dir": str(work / "tmp")}


def export_env(host: dict) -> None:
    import tempfile
    os.makedirs(host["tmp_dir"], exist_ok=True)
    tempfile.tempdir = host["tmp_dir"]
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cores"])
    os.environ["SPARK_DRIVER_MEMORY"] = host["driver_memory"]
    # the launcher JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""), "-XX:-UsePerfData"]).strip()
    os.environ["TMPDIR"] = host["tmp_dir"]
    # Spark's Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its Python workers end."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids: list[int] = []
    stack = child_pids(os.getpid())
    while stack:
        pid = stack.pop()
        kids.append(pid)
        stack.extend(child_pids(pid))
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().split(")")[-1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}") and time.time() >= deadline:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def main(argv=None) -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "harvester_spark" / "__init__.py").is_file():
        print("perfbench: the engine package harvester_spark is not beside "
              "perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads
    from harvester_spark.session import get_spark
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")

    work = Path.cwd() / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    out_dir = Path.cwd() / ".perfbench_out"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    host = host_settings(work)
    export_env(host)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=host["cores"], extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={host['tmp_dir']} -XX:-UsePerfData"})
        session_s = time.perf_counter() - t0
        result = workloads.run(
            args.workload, spark, work=work, seed=args.seed,
            seconds=args.seconds, trace=bool(args.trace), host=host,
            session_s=session_s, k_setups=K_SETUPS, started=started,
            spans_path=out_dir / f"{args.workload}-seed{args.seed}-spans.jsonl")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("DETAIL " + json.dumps(result["detail"], sort_keys=True))
    with open(out_dir / f"{args.workload}-seed{args.seed}"
              f"-trace{args.trace}.json", "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
