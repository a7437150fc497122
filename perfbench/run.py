#!/usr/bin/env python3
"""Benchmark of the lucene_solr_spark engine.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Workloads: bulk_build, ingest_merge (see README.md).  Prints
one JSON object as the last line of standard output:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.  Progress and
check failures go to standard error.

The run fits itself to the host: local[<usable cpus>], a driver heap of a
quarter of the available memory (1-4 GiB, no pre-touch), the package on the
workers' PYTHONPATH, and every file it writes (corpus, indexes, Spark local
and temp dirs) under a scratch directory in the checkout (.pbtmp/<pid>) that is
removed at exit, also after a failure.  Traced runs leave their spans in
.perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk_build", "ingest_merge")


def host_settings(scratch: str, cpus: int) -> dict:
    with open("/proc/meminfo") as f:
        avail_kb = next(int(x.split()[1]) for x in f if x.startswith("MemAvailable:"))
    heap_mb = int(min(4096, max(1024, avail_kb / 1024 / 4)))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        # every JVM (the launcher too) keeps its temp files in the scratch dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
        "SPARK_GRAFT_JAVA_OPTS": "",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(scratch, "spark-local"),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')} "
            # Spark's Unix sockets are named relative to the working directory,
            # the scratch dir of every process: a socket path is limited to
            # 107 bytes, which a long checkout path would exceed
            "--conf spark.python.unix.domain.socket.dir=. "
            "pyspark-shell"),
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in os.environ.get(
            "PYTHONPATH", "").split(os.pathsep) if p]),
        "TMPDIR": scratch,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "lucene_solr_spark", "__init__.py")):
        print(f"perfbench: no lucene_solr_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    scratch = os.path.join(ROOT, ".pbtmp", str(os.getpid()))
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(host_settings(scratch, cpus))
    os.chdir(scratch)
    try:
        import workloads
        # numpy seeds must be non-negative; any int maps to one input set
        result = workloads.run(args.workload, args.seed % (1 << 63), args.seconds,
                               bool(args.trace), scratch, cpus,
                               os.path.join(ROOT, ".perfbench_out"))
    finally:
        os.chdir(ROOT)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
