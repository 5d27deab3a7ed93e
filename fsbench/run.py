#!/usr/bin/env python3
"""Run one workload of the feature-store benchmark and print its result.

    python3 fsbench/run.py --workload serve_ingest --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source on first use (see
build.py), runs the workload in one JVM at local[4], and prints, as the
last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1
the per-layer metrics of the traced run. The full run record (samples,
checks, generated-input properties, noise evidence, spans) is written
to .bench_build/fsbench/records/ for compare.py.
"""
import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve_ingest", "corpus_gate")
# Wall-clock cap on the workload's JVM, inside the 180 s a run may take.
RUN_TIMEOUT_S = 170

END_TO_END = {
    "setup_s": "s",
    "request_p50_ms": "ms",
    "request_p90_ms": "ms",
    "write_p50_ms": "ms",
    "bulk_s": "s",
    "load_s": "s",
    "compact_s": "s",
    "request_recall": "ratio",
    "store_bytes_per_input_byte": "ratio",
    "peak_heap_mb": "MB",
    "ops_ok_frac": "ratio",
}

LAYERS = ("fs.FeatureCatalog", "fs.RecordLog", "fs.Serving", "operators.Dedup",
          "operators.Similarity", "operators.IndexLayout", "streaming.StreamingFeatures",
          "plans.MinHashBands", "plans.HashedShingles", "plans.CentroidArgmax",
          "plans.CosineSim", "spark")
LAYER_METRICS = {"calls": "count", "busy_ms": "ms", "driver_gap_ms": "ms", "jobs": "count",
                 "task_ms": "ms", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
                 "failed": "count"}
PER_LAYER = {f"{layer}.{m}": unit for layer in LAYERS for m, unit in LAYER_METRICS.items()}
PER_LAYER.update({
    "fs.RecordLog.files_written": "count",
    "fs.RecordLog.bytes_written": "bytes",
    "fs.RecordLog.live_files": "count",
    "fs.Serving.rows_read_per_row_out": "ratio",
    "operators.Dedup.rows_out_per_row_in": "ratio",
    "operators.Similarity.rows_read_per_result": "ratio",
    "operators.IndexLayout.delta_files": "count",
    "streaming.StreamingFeatures.rows_kept_per_row_in": "ratio",
    "plans.MinHashBands.rows_per_s": "rows/s",
    "plans.HashedShingles.rows_per_s": "rows/s",
    "plans.CentroidArgmax.rows_per_s": "rows/s",
    "plans.CosineSim.rows_per_s": "rows/s",
    "spark.gc_ms": "ms",
    "spark.jit_ms": "ms",
    "spark.canary_ratio": "ratio",
})

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def proc_stat():
    """Machine-wide cpu jiffies: (user, system, steal, total)."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return {"user": v[0] + v[1], "system": v[2] + v[5] + v[6], "steal": v[7], "total": sum(v[:8])}


def fs_class(path):
    """(class, type) of the filesystem holding `path`: class is "tmpfs" for a
    RAM-backed mount, else "disk"; type is the mount's fstype."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/self/mountinfo") as fh:
        for line in fh:
            parts = line.split()
            mnt, fstype = parts[4], parts[parts.index("-") + 1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, kind = mnt, fstype
    return ("tmpfs" if kind in ("tmpfs", "ramfs") else "disk"), kind


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    os.makedirs(build.OUT, exist_ok=True)
    # one run at a time per checkout: runs share the build and work dirs
    lock = open(os.path.join(build.OUT, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    classes = build.build()
    work = os.path.join(build.OUT, "work")
    records = os.path.join(build.OUT, "records")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(records, exist_ok=True)
    out = os.path.join(work, "record.json")

    cmd = [build.java(), "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "fsbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", repr(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--launched-ms", str(int(time.time() * 1000))]
    stat0 = proc_stat()
    t0 = time.monotonic()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        # Spark prefers these variables to spark.local.dir; unset, every
        # scratch file stays under the work dir
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
        signal.signal(signal.SIGTERM, lambda *_: sys.exit("fsbench: terminated"))
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"fsbench: {args.workload} did not finish in {RUN_TIMEOUT_S} s")
        finally:
            # never leave the JVM behind, whatever ends this process
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    wall = time.monotonic() - t0
    stat1 = proc_stat()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(f"fsbench: {args.workload} exited with code {code}")

    with open(out) as fh:
        rec = json.load(fh)
    rec["noise"].update({
        "jiffies": {k: stat1[k] - stat0[k] for k in stat0},
        "store_root_fs": fs_class(os.path.join(work, "store")),
        "spark_local_dir_fs": fs_class(os.path.join(work, "spark-local")),
        "jvm_wall_s": wall,
    })
    wanted = PER_LAYER if args.trace else END_TO_END
    source = rec["layers"] if args.trace else rec["e2e"]
    missing = [k for k in wanted if not isinstance(source.get(k), (int, float))]
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}"
    with open(os.path.join(records, stamp + ".json"), "w") as fh:
        json.dump(rec, fh)
    if missing:
        sys.stderr.write("\n".join(rec.get("failures", [])) + "\n")
        sys.exit(f"fsbench: no value for {', '.join(missing)}")
    for f in rec.get("failures", []):
        sys.stderr.write(f"fsbench: {f}\n")
    print(json.dumps({
        "correct": rec["correct"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": source[k], "unit": u} for k, u in wanted.items()},
    }))


if __name__ == "__main__":
    main()
