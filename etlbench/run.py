#!/usr/bin/env python3
"""One benchmark run of one workload.

    python3 etlbench/run.py --workload etl_dirty --seed 1 --seconds 10 --trace 0

Builds the product from source if needed (build.py), makes the workload's
input from the seed (gen.py, cached per seed, outside every timed region),
runs the harness JVM on local[<cores>], checks every output against an
independent expectation (check.py) and prints each metric with its unit.
The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The full record of the run goes to etlbench/results/.
"""
import argparse
import gc
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import build
import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("etl_dirty", "catalog_ops")
SETUPS = 3
# Untimed units after the set-ups, in the session the timed units use.
SETTLE = 2
# The ETL-operator catalog queries timed by catalog_ops.
CATALOG_QUERIES = [f"q{i:02d}" for i in range(1, 17)] + ["q57"]
HEAP = "3g"
DEADLINE_S = 170
CACHED_SEEDS = 3
# Published reference throughput, 1M records in 252 s (BASELINE.md).
REFERENCE_RECORDS_PER_S = 1_000_000 / 252

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s",
              "records_per_s": "1/s", "query_p50_ms": "ms",
              "query_p90_ms": "ms"}
LAYERS = ["read", "parse", "stages", "split", "sink"]
PER_LAYER = {
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "residual_s": "s", "trace.overhead_s": "s",
    "plan.build_s": "s", "plan.physical_s": "s", "spark.job_s": "s",
    "scan.input_bytes_ratio": "ratio", "sink.bytes_written": "bytes",
    "sink.files_written": "count", "out_bytes_per_in_byte": "ratio",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes", "jvm.gc_s": "s", "jvm.jit_s": "s",
    "rows.processed": "count", "rows.error.parsing_error": "count",
    "rows.error.data_validation": "count",
    **{f"query.{q}.{p}_ms": "ms" for q in CATALOG_QUERIES
       for p in ("build", "plan", "exec")},
}

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def median(xs):
    return statistics.median(xs)


def p90(xs):
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def steal_s():
    """CPU time the hypervisor gave to other guests, all CPUs (/proc/stat)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def make_input(workload, seed):
    """Cached per seed; only the newest few seeds are kept."""
    root = os.path.join(HERE, ".cache", workload)
    dir_ = os.path.join(root, str(seed))
    gc.disable()
    try:
        meta = (gen.catalog_input(dir_, seed) if workload == "catalog_ops"
                else gen.etl_input(dir_, seed))
    finally:
        gc.enable()
    os.utime(dir_)
    old = sorted(glob.glob(os.path.join(root, "*")), key=os.path.getmtime)
    for d in old[:-CACHED_SEEDS]:
        shutil.rmtree(d, ignore_errors=True)
    return dir_, meta


def run_jvm(workload, input_path, work, seconds, trace, cores, budget_s):
    classes, jars = build.ensure()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    cmd = ["java", *JVM_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
           "graftbench.Harness", "--workload", workload,
           "--input", input_path, "--work", work, "--result", result,
           "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(cores), "--setups", str(SETUPS),
           "--settle", str(SETTLE),
           "--queries", ",".join(CATALOG_QUERIES)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                              timeout=budget_s, cwd=work)
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"harness exited with {proc.returncode}")
    with open(result) as f:
        return json.load(f), cmd


def output_size(out_dir):
    files = glob.glob(f"{out_dir}/processed/*.parquet") + \
        glob.glob(f"{out_dir}/errors/*.parquet")
    return sum(os.path.getsize(f) for f in files), len(files)


def etl(res, cache, meta, trace):
    """(metrics, checked outputs, failed outputs, check record)."""
    lines, in_bytes = meta["data_lines"], meta["input_bytes"]
    expected = check.expected_etl(cache)
    con = check.connect()
    outputs = [os.path.join(res["work"], "out", f"warm{i}")
               for i in range(SETUPS + SETTLE)]
    for u in res["units"]:
        outputs += u["outputs"] if trace else [u["output"]]
    record, counts, sizes = {}, {}, {}
    for out in outputs:
        problems, counts[out] = check.check_etl(con, out, expected, lines)
        sizes[out] = output_size(out)
        record[os.path.basename(out)] = problems
        shutil.rmtree(out, ignore_errors=True)
    failed = sum(1 for p in record.values() if p)
    units = res["units"]
    m = {"setup_s": median(res["setup_s"])}
    if not trace:
        walls = [u["wall_s"] for u in units]
        m.update(wall_s=median(walls), cpu_s=median(u["cpu_s"] for u in units),
                 records_per_s=lines / median(walls),
                 query_p50_ms=median(walls) * 1e3, query_p90_ms=p90(walls) * 1e3)
        res["context"]["query_samples"] = len(walls)
        return m, len(outputs), failed, record

    def prefix(name, key="wall_s"):
        return [u[name][key] for u in units]
    walls = {n: prefix(n) for n in LAYERS[:-1] + ["full"]}
    prev = [0.0] * len(units)
    for layer, cut in zip(LAYERS, LAYERS[:-1] + ["full"]):
        m[f"{layer}.self_s"] = median(a - b for a, b in zip(walls[cut], prev))
        prev = walls[cut]
    full = [u["full"] for u in units]
    last = units[-1]["outputs"][0]
    size, files = sizes[last]
    m.update({
        "residual_s": median(f["wall_s"] - f["job_ms"] / 1e3 for f in full),
        "trace.overhead_s": median(walls["full"])
        - median(prefix("full_untraced")),
        "plan.build_s": median(u["build_s"] for u in units),
        "plan.physical_s": median(u["physical_s"] for u in units),
        "spark.job_s": median(f["job_ms"] / 1e3 for f in full),
        "scan.input_bytes_ratio": median(f["input_bytes"] / in_bytes
                                         for f in full),
        "sink.bytes_written": size, "sink.files_written": files,
        "out_bytes_per_in_byte": size / in_bytes,
        "spark.jobs": median(f["jobs"] for f in full),
        "spark.tasks": median(f["tasks"] for f in full),
        "spark.shuffle_bytes": median(f["shuffle_write_bytes"]
                                      + f["shuffle_read_bytes"] for f in full),
        "jvm.gc_s": median(f["gc_s"] for f in full),
        "jvm.jit_s": median(f["jit_s"] for f in full),
        "rows.processed": counts[last].get("processed", 0),
        "rows.error.parsing_error": counts[last].get("parsing_error", 0),
        "rows.error.data_validation": counts[last].get("data_validation", 0),
    })
    return m, len(outputs), failed, record


def catalog(res, cache, meta, trace):
    oracle = check.check_catalog(os.path.join(res["work"], "oracle"), cache)
    oracle_ok = all(p is None for p in oracle.values())
    units = res["units"]
    failed = sum(1 for u in units if not (oracle_ok and u["rows_match"]))
    if res["warmup_mismatches"]:
        failed = len(units)
    record = {"oracle": oracle, "warmup_mismatches": res["warmup_mismatches"]}
    m = {"setup_s": median(res["setup_s"])}
    rows_in = len(res["queries"]) * meta["customers"]
    if not trace:
        walls = [u["wall_s"] for u in units]
        lat = [ms for u in units for ms in u["query_ms"].values()]
        m.update(wall_s=median(walls), cpu_s=median(u["cpu_s"] for u in units),
                 records_per_s=rows_in / median(walls),
                 query_p50_ms=median(lat), query_p90_ms=p90(lat))
        res["context"]["query_samples"] = len(lat)
        return m, len(units), failed, record

    def per_round(key):
        return median(sum(p[key] for p in u["phases"].values()) / 1e3
                      for u in units)
    m.update({
        "residual_s": median(
            u["wall_s"] - u["job_ms"] / 1e3
            - sum(p["build_ms"] + p["plan_ms"] for p in u["phases"].values())
            / 1e3 for u in units),
        "trace.overhead_s": median(u["wall_s"] for u in units)
        - median(u["full_untraced"]["wall_s"] for u in units),
        "plan.build_s": per_round("build_ms"),
        "plan.physical_s": per_round("plan_ms"),
        "spark.job_s": median(u["job_ms"] / 1e3 for u in units),
        "scan.input_bytes_ratio": median(u["input_bytes"] for u in units)
        / meta["input_bytes"],
        "spark.jobs": median(u["jobs"] for u in units),
        "spark.tasks": median(u["tasks"] for u in units),
        "spark.shuffle_bytes": median(u["shuffle_write_bytes"]
                                      + u["shuffle_read_bytes"] for u in units),
        "jvm.gc_s": median(u["gc_s"] for u in units),
        "jvm.jit_s": median(u["jit_s"] for u in units),
    })
    for name in res["queries"]:
        short = name.split("_")[0]
        for phase in ("build", "plan", "exec"):
            m[f"query.{short}.{phase}_ms"] = median(
                u["phases"][name][f"{phase}_ms"] for u in units)
    return m, len(units), failed, record


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    started = time.time()
    load_start, steal_start = os.getloadavg(), steal_s()
    cores = len(os.sched_getaffinity(0))

    build.ensure()
    cache, meta = make_input(args.workload, args.seed)
    input_path = (cache if args.workload == "catalog_ops"
                  else os.path.join(cache, "input.csv"))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, cmd = run_jvm(args.workload, input_path, work, args.seconds,
                           args.trace, cores,
                           DEADLINE_S - (time.time() - started))
        res["work"] = work
        score = catalog if args.workload == "catalog_ops" else etl
        metrics, attempted, failed, record = score(res, cache, meta,
                                                   args.trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    spec = PER_LAYER if args.trace else END_TO_END
    if args.trace:
        # Layers a workload does not exercise read 0.
        metrics.pop("setup_s")
        for name in PER_LAYER:
            metrics.setdefault(name, 0.0)
    artifact = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "metrics": metrics, "units": spec,
        "attempted": attempted, "failed": failed, "checks": record,
        "context": {
            **res["context"], "nproc": cores, "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "steal_s": steal_s() - steal_start, "input": meta,
            "setup_runs_s": res["setup_s"], "command": cmd,
            "run_s": time.time() - started,
            "reference_records_per_s": REFERENCE_RECORDS_PER_S},
        "raw_units": res["units"],
    }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}"
                        f"-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)

    for name, unit in spec.items():
        print(f"{name} {metrics[name]} {unit}")
    if not args.trace and args.workload != "catalog_ops":
        print(f"reference records_per_s {REFERENCE_RECORDS_PER_S:.0f} 1/s")
    problems = (record["oracle"] if args.workload == "catalog_ops"
                else record)
    for name, problem in problems.items():
        if problem:
            print(f"FAILED {name}: {problem}", file=sys.stderr)
    if failed and args.workload == "catalog_ops":
        print(f"FAILED rounds: {failed} of {attempted} (rows differ from the "
              f"oracle-checked warm-up round or the oracle check failed)",
              file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u}
                    for n, u in spec.items()}}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
