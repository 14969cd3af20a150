#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps, all inside the checkout (build and scratch files go under
.bench_build/perfbench):

1. build the harness and the program with sbt, unless the sources are
   unchanged since the last build;
2. render the inputs in separate processes: the weblog corpus from the
   seed, cached per (seed, size); the toolkit tables and their DuckDB
   oracle results once per build (the first run pays them with the build);
3. run the measured JVM (perfbench.Harness); for an untraced weblog_ocf
   run, then PROBES JVMs that stop after their first pass, so setup_s
   and first_pass_s are medians;
4. for toolkit_mix, compare each query result with its DuckDB oracle by
   scripts/oracle_check.py;
5. print the end-to-end metrics (--trace 0) or the per-layer metrics
   (--trace 1) named in BENCHMARK.json as the last stdout line.

`python3 perfbench/run.py --selftest` runs the benchmark's own tests.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
INPUTS = os.path.join(WORK, "inputs")
TOOLKIT = os.path.join(WORK, "toolkit")
RUN = os.path.join(WORK, "run")

# The weblog corpus size: it fits in RAM (page cache) many times over.
WEBLOG_BYTES = 256 << 20
WORKLOADS = ("weblog_ocf", "toolkit_mix")
# Inputs of other seeds are evicted, least recently used first, beyond this.
CACHE_BYTES = 3 << 30
# toolkit_mix runs on one fixed set of tables; its seed permutes the
# query order within each pass.
TOOLKIT_DATA_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HEAP = "3g"
# Extra JVMs per untraced run that stop after their first pass, so
# setup_s and first_pass_s are medians. toolkit_mix gets none: its runs
# already take ~57 s, and 40 s more per run would not fit a full set of
# runs into the benchmark's time budget.
PROBES = {"weblog_ocf": 2, "toolkit_mix": 0}
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """JVM arguments (options + classpath) of the built harness, and the
    source stamp they were built from."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(launch).read().splitlines(), stamp
    log("building harness and program (sbt)")
    env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0 or not os.path.exists(launch):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(launch).read().splitlines(), stamp


def java(jvm, main, tmp=os.path.join(WORK, "tmp"), opts=()):
    """A JVM over the built classpath that keeps its temporary files in
    the checkout."""
    os.makedirs(tmp, exist_ok=True)
    return ["java"] + jvm + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp] + list(opts) + main


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, n)) for p, _, ns in os.walk(d) for n in ns)


def render(cmd, what):
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"could not render {what}")
    os.sync()  # no writeback of the new files inside the measured passes
    log(f"rendered {what} in {time.time() - t0:.1f} s")


def weblog_inputs(seed, jvm):
    """Directory of the weblog corpus for this seed, rendered on a cache
    miss; other seeds' corpora are evicted beyond CACHE_BYTES."""
    d = os.path.join(INPUTS, f"weblog_ocf-seed{seed}-{WEBLOG_BYTES}")
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        os.makedirs(INPUTS, exist_ok=True)
        render(java(jvm, ["perfbench.Gen", "weblog", str(seed), str(WEBLOG_BYTES), d]),
               f"the weblog corpus of seed {seed}")
    os.utime(manifest)
    evict(keep=d)
    return d


def warm(d):
    """Reads every input file, so every run measures memory-resident input."""
    for p, _, ns in os.walk(d):
        for n in ns:
            with open(os.path.join(p, n), "rb") as fh:
                while fh.read(8 << 20):
                    pass


def evict(keep):
    entries = []
    for n in os.listdir(INPUTS):
        d = os.path.join(INPUTS, n)
        if n.startswith("."):
            shutil.rmtree(d, ignore_errors=True)  # an interrupted render
        elif d != keep:
            m = os.path.join(d, "manifest.json")
            entries.append((os.path.getmtime(m) if os.path.exists(m) else 0, d))
    total = dir_bytes(keep) + sum(dir_bytes(d) for _, d in entries)
    for _, d in sorted(entries):
        if total <= CACHE_BYTES:
            break
        total -= dir_bytes(d)
        shutil.rmtree(d, ignore_errors=True)


def harness(jvm, args, input_dir, work, deadline, first_only=False):
    """Run one harness JVM in a fresh work directory; returns its result
    object."""
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    result = os.path.join(work, "result.json")
    budget = deadline - time.time()
    # A fixed heap (-Xms = -Xmx): a heap still growing during the
    # measured passes made each pass faster than the one before.
    cmd = java(jvm, ["perfbench.Harness", "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--input", input_dir, "--work", work, "--result", result,
                "--budget-s", f"{budget - 25:.0f}"] + (["--first-only", "1"] if first_only else []),
               tmp=os.path.join(work, "tmp"), opts=["-Xms" + HEAP])
    env = dict(os.environ, GRAFT_STAGE_DIR=os.path.join(work, "stage"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(WORK, "harness.log"), "a") as logf:
        try:
            p = subprocess.run(cmd, cwd=work, env=env, stdout=logf, stderr=logf, timeout=max(budget, 1))
        except subprocess.TimeoutExpired:
            fail("harness exceeded the run time limit")
    if p.returncode != 0 or not os.path.exists(result):
        fail(f"harness failed (exit {p.returncode}); see {os.path.join(WORK, 'harness.log')}")
    with open(result) as f:
        return json.load(f)


def toolkit_inputs(jvm, stamp):
    """The toolkit_mix tables, and the directory of the DuckDB oracle's
    results for its queries under the current program (one parquet file
    each), rendered on first use."""
    input_dir = os.path.join(TOOLKIT, f"tables-seed{TOOLKIT_DATA_SEED}")
    if not os.path.exists(os.path.join(input_dir, "manifest.json")):
        os.makedirs(TOOLKIT, exist_ok=True)
        render([sys.executable, os.path.join(HERE, "gen_tables.py"), str(TOOLKIT_DATA_SEED), input_dir],
               "the toolkit tables")
    d = os.path.join(input_dir, f"oracle-{stamp[:16]}")
    if os.path.exists(os.path.join(d, "oracle_sql.json")):
        return input_dir, d
    import duckdb
    t0 = time.time()
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    sql_file = os.path.join(tmp, "oracle_sql.json")
    p = subprocess.run(java(jvm, ["perfbench.Gen", "oracle-sql", sql_file]),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("could not read the oracle SQL from the query registry")
    with open(sql_file) as f:
        sql = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(WORK, 'tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    for q, text in sorted(sql.items()):
        con.execute(f"COPY ({text}) TO '{os.path.join(tmp, q + '.parquet')}' (FORMAT PARQUET)")
    for old in os.listdir(input_dir):
        if old.startswith("oracle-") and os.path.join(input_dir, old) != tmp:
            shutil.rmtree(os.path.join(input_dir, old), ignore_errors=True)
    os.rename(tmp, d)
    log(f"computed oracle results in {time.time() - t0:.1f} s")
    return input_dir, d


def oracle_failures(input_dir, oracle_dir):
    """Query results that do not match their DuckDB oracle, by the
    comparison in scripts/oracle_check.py (fed the cached oracle
    results in place of the SQL that produced them)."""
    check = os.path.join(RUN, "check")
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        queries = sorted(json.load(f))
    with open(os.path.join(check, "oracle_sql.json"), "w") as f:
        json.dump({q: f"SELECT * FROM read_parquet('{os.path.join(oracle_dir, q + '.parquet')}')"
                   for q in queries}, f)
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "oracle_check.py"), input_dir, check]
                       + queries, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    matched = {line.split(":")[0] for line in p.stdout.splitlines() if ": MATCH" in line}
    for line in p.stdout.splitlines():
        if ": MATCH" not in line:
            log(f"oracle: {line}")
    return queries, [q for q in queries if q not in matched]


def steal_s():
    """CPU time the hypervisor gave to other guests (all CPUs), /proc/stat."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return -1.0


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def selftest():
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"], cwd=HERE,
                       env=dict(os.environ, SPARK_DRIVER_MEM="2g"))
    sys.exit(p.returncode)


def main():
    if "--selftest" in sys.argv[1:]:
        selftest()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("scripts", "oracle_check.py"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {need} is missing", 2)
    end_to_end, per_layer = declared()
    t_start = time.time()
    jvm, stamp = build()
    toolkit_dir, oracle_dir = toolkit_inputs(jvm, stamp)
    # A build (first run in a checkout) extends the limit by its own time,
    # and by the one-time toolkit inputs.
    deadline = time.time() + RUN_LIMIT_S
    input_dir = toolkit_dir if args.workload == "toolkit_mix" else weblog_inputs(args.seed, jvm)
    warm(input_dir)
    steal0 = steal_s()
    res = harness(jvm, args, input_dir, RUN, deadline)
    steal = round(steal_s() - steal0, 2)
    failed, attempted, errors = res["failed"], res["attempted"], list(res["errors"])
    if args.workload == "toolkit_mix":
        checked, bad = oracle_failures(input_dir, oracle_dir)
        attempted += len(checked)
        failed += len(bad)
        errors += [f"oracle mismatch: {q}" for q in bad]
    metrics = {name: m["value"] for name, m in res["metrics"].items()}
    if args.trace == 0:
        probes = [harness(jvm, args, input_dir, os.path.join(WORK, "probe"), deadline, first_only=True)
                  for _ in range(PROBES[args.workload])]
        for name in ("setup_s", "first_pass_s"):
            metrics[name] = statistics.median([metrics[name]] + [p["metrics"][name]["value"] for p in probes])
        for p in probes:
            attempted += p["attempted"]
            failed += p["failed"]
            errors += p["errors"]

    wanted = end_to_end if args.trace == 0 else per_layer
    out = {}
    for m in wanted:
        if m["name"] in metrics:
            out[m["name"]] = {"value": metrics[m["name"]], "unit": m["unit"]}
        elif args.trace == 1:
            out[m["name"]] = {"value": 0, "unit": m["unit"]}  # layer not on this workload's path
        else:
            fail(f"harness did not report {m['name']}")
    for e in errors:
        log(f"error: {e}")
    info = {k: res.get(k) for k in ("machine", "warmup_pass_s", "warm_pass_s", "self_s", "trace_file")}
    info.update(steal_s=steal, wall_s=round(time.time() - t_start, 1))
    print("# " + json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": failed == 0 and not errors, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
