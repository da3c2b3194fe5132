#!/usr/bin/env python3
"""Benchmark of the Spark-native ingest engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
engine and the harness with sbt (into target/ and .bench_build/); later
runs reuse that build until a source file changes.

One run: generate the workload's inputs from the seed, start one JVM
(local[4]) that sets up, runs an untimed reference pass and then timed
passes for --seconds, check every output, and print the metrics. The last
stdout line is the JSON result; the lines before it give every metric with
its unit, the outputs check and the run context (steal, load, cores, heap).

Workloads (workloads.json holds the frozen query list, the medians that
split it into short and heavy queries, and the output fingerprints):
  ingest_airq  the paper's zip -> CSV -> Parquet pipeline, cold per run
  queries      10 registered queries under 1 s (per-query fixed cost) and
               4 of 1 s or more (top-k, text, two stream drains)

--trace 1 alternates untraced and traced passes and prints the per-layer
metrics, including the tracing overhead.
"""
import argparse
import ctypes
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = os.path.join(HERE, "workloads.json")

CORES = 4
# a fixed-size heap: G1 resizing would otherwise make peak RSS vary by a
# third between runs of the same code
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit; the same opens the engine's
# build passes to its own forked JVMs
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

END_TO_END = {"setup_s": "s", "wall_s": "s", "task_cpu_s": "s",
              "peak_rss_mb": "MB", "query_p50_s": "s", "query_p90_s": "s"}

FAMILIES = ["Relational", "TpchOps", "TextOps", "DedupOps", "GraphOps",
            "SimilarityOps", "MultimodalOps", "StatsOps", "EtlOps",
            "LayoutOps", "streaming"]
PER_LAYER = dict(
    [("ingest.extract_s", "s"), ("ingest.extract_bytes", "bytes"),
     ("ingest.read_s", "s"), ("ingest.verify_s", "s"), ("ingest.write_s", "s"),
     ("ingest.jobs", "count"), ("ingest.tasks", "count"),
     ("ingest.write_tasks", "count"), ("ingest.input_bytes", "bytes"),
     ("ingest.scan_ratio", "ratio"), ("ingest.core_util", "ratio"),
     ("ingest.output_bytes", "bytes"), ("ingest.output_files", "count"),
     ("entry.build_s", "s"), ("plan.analysis_s", "s"),
     ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
     ("aqe.plan_updates", "count"), ("exec.driver_only_s", "s"),
     ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
     ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
     ("exec.failed_tasks", "count"), ("exec.core_util", "ratio"),
     ("scan.input_bytes", "bytes"), ("scan.input_records", "count"),
     ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
     ("shuffle.fetch_wait_s", "s"), ("spill.memory_bytes", "bytes"),
     ("spill.disk_bytes", "bytes"), ("stream.drains", "count"),
     ("stream.batches", "count"), ("stream.batch_s", "s"),
     ("stream.state_commit_s", "s"), ("transients.drop_s", "s")] +
    [(f"ops.{f}.{m}", "s") for f in FAMILIES for m in ("wall_s", "task_cpu_s")] +
    [("jvm.gc_s", "s"), ("trace.overhead_s", "s")])


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _sources():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("no engine sources next to the benchmark: run from a full checkout")
    digest = hashlib.sha256()
    for f in _sources():
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read()
    log("building engine and harness with sbt ...")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log(proc.stdout[-4000:])
        raise SystemExit("sbt build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


# ---------------------------------------------------------------- context

def _steal_s():
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------- run

def _die_with_parent():
    # prctl option 1 sets the parent-death signal: the JVM is killed if this
    # process dies first, so a run stopped from outside leaves no JVM behind
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)


def run_harness(classpath, work, workload, seconds, trace, extra):
    """Run the harness JVM to completion; return (result, peak RSS in MB)."""
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.legacy.parquet.nanosAsLong=true"] + ADD_OPENS +
           ["-cp", classpath, "perfbench.Harness", "--workload", workload,
            "--work", work, "--cores", str(CORES), "--seconds", str(seconds),
            "--trace", str(trace), "--out", result] + extra)
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log_fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log_fh, stderr=subprocess.STDOUT,
                                preexec_fn=_die_with_parent)
        _, status, usage = os.wait4(proc.pid, 0)
    code = os.waitstatus_to_exitcode(status)
    if code != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as fh:
            log(fh.read()[-6000:])
        raise SystemExit(f"harness failed with exit code {code}")
    with open(result) as fh:
        return json.load(fh), usage.ru_maxrss / 1024.0


def check_ingest(harness, expected, csv_bytes):
    """Each run's output must be exactly one Parquet file equal to the
    generator's projection. Returns one pass/fail per run (the untimed runs
    first) and the median Parquet bytes per CSV byte."""
    import pyarrow.parquet as pq
    import gen_airq
    want = gen_airq.normalise(expected)
    good, ratios = [], []
    for out in harness["outputs"]:
        files = sorted(f for f in os.listdir(out) if f.endswith(".parquet")) \
            if os.path.isdir(out) else []
        if len(files) != 1:
            log(f"ingest output {out}: {len(files)} parquet files")
            good.append(False)
            continue
        path = os.path.join(out, files[0])
        table = pq.read_table(path)
        if table.column_names != gen_airq.PROJECTED:
            log(f"ingest output {out}: columns {table.column_names}, not the projection")
            good.append(False)
            continue
        same = gen_airq.normalise(table).equals(want)
        if not same:
            log(f"ingest output {out}: rows differ from the generated projection")
        good.append(same)
        ratios.append(os.path.getsize(path) / csv_bytes)
    return good, (statistics.median(ratios) if ratios else 0.0)


def check_queries(harness, frozen):
    """Fingerprints of the reference pass against the recorded ones."""
    failures = 0
    for name, ref in harness["reference"].items():
        want = frozen[name]
        if "error" in ref or (ref["rows"], ref["hash"]) != (want["rows"], want["hash"]):
            failures += 1
            log(f"{name}: got {ref}, recorded rows={want['rows']} hash={want['hash']}")
    return failures


def percentile(values, q):
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_airq", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classpath = build()
    setup_start = time.time()  # set-up counts from here: inputs, JVM, warm-up
    sys.path.insert(0, HERE)
    with open(WORKLOADS) as fh:
        spec = json.load(fh)
    steal0, load0 = _steal_s(), os.getloadavg()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "ingest_airq":
            import gen_airq
            zip_path = os.path.join(work, "airq.zip")
            csv_bytes, rows, expected = gen_airq.generate(zip_path, args.seed)
            inputs = {"csv_bytes": csv_bytes, "csv_rows": rows,
                      "zip_bytes": os.path.getsize(zip_path)}
            extra = ["--zip", zip_path]
        else:
            import gen_tables
            data = os.path.join(work, "tables")
            frozen = spec[args.workload]["queries"]
            names = sorted(frozen)
            random.Random(args.seed).shuffle(names)
            inputs = {"table_bytes": gen_tables.write(data),
                      "queries": len(names)}
            qfile = os.path.join(work, "queries.txt")
            with open(qfile, "w") as fh:
                fh.write("\n".join(names) + "\n")
            extra = ["--data", data, "--queries", qfile]
        harness, rss_mb = run_harness(classpath, work, args.workload,
                                      args.seconds, args.trace, extra)

        timed = [p for p in harness["passes"] if not p["traced"]]
        ops = [o for p in harness["passes"] for o in p["ops"]]
        failed = sum(1 for o in ops if not o["ok"])
        attempted = len(ops) + len(harness["reference"])
        extra_metrics = {}
        if args.workload == "ingest_airq":
            # outputs: the untimed runs', then each timed run's, in order
            good, ratio = check_ingest(harness, expected, csv_bytes)
            ran = harness["reference"]["ingest"]["ok"] + [o["ok"] for o in ops]
            failed = sum(1 for r, g in zip(ran, good) if not (r and g))
            attempted = len(ran)
            extra_metrics["parquet_bytes_per_csv_byte"] = (ratio, "ratio")
        else:
            failed += check_queries(harness, frozen)
        extra_metrics["failed_frac"] = (failed / attempted, "ratio")

        # the latency percentiles measure per-operation fixed cost: every
        # ingest run, but only the short queries of the query mix
        latencies = [o["seconds"] for p in timed for o in p["ops"]
                     if args.workload == "ingest_airq"
                     or frozen[o["name"]]["split"] == "short"]
        end_to_end = {
            "setup_s": harness["first_timed_epoch_s"] - setup_start,
            "wall_s": statistics.median(p["wall_s"] for p in timed),
            "task_cpu_s": statistics.median(p["task_cpu_s"] for p in timed),
            "peak_rss_mb": rss_mb,
            "query_p50_s": statistics.median(latencies),
            "query_p90_s": percentile(latencies, 90),
        }
        if args.trace:
            traced = [p for p in harness["passes"] if p["traced"]]
            metrics = {name: statistics.fmean(p["layers"].get(name, 0.0) for p in traced)
                       for name in PER_LAYER}
            metrics["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                                           - end_to_end["wall_s"])
            units = PER_LAYER
        else:
            metrics, units = end_to_end, END_TO_END

        context = {
            "host_probe_s": harness["host_probe_s"],
            "steal_s": round(_steal_s() - steal0, 2),
            "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            "cores": os.cpu_count(), "spark_cores": CORES, "heap": HEAP,
            "passes": len(timed), "operations_timed": len(latencies),
            "inputs": inputs}
        print("context " + json.dumps(context, sort_keys=True))
        shown = dict(((k, (v, END_TO_END[k])) for k, v in end_to_end.items()), **extra_metrics)
        print("end-to-end " + "  ".join(f"{k}={v:.6g} {u}" for k, (v, u) in shown.items()))
        os.makedirs(OUT_DIR, exist_ok=True)
        with open(os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as fh:
            json.dump({"context": context, "metrics": metrics, "end_to_end": end_to_end,
                       "harness": harness}, fh)
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
