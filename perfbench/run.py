#!/usr/bin/env python3
"""Benchmark for the etlsuitespark operator library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness (perfbench/harness) with sbt; later runs reuse the build while the
sources are unchanged. Each run starts one JVM, which sets up a Spark
session, runs the workload's keys one after another (a closed loop with
one client) for a cold pass and then warm passes until `--seconds` are
up, and writes each key's output. The outputs are then checked against
the DuckDB oracle (scripts/preflight.py's comparison) or, for the keys
without an oracle, against digests.json. The last line of stdout is the
result: end-to-end metrics with `--trace 0`, per-layer metrics from the
benchmark's own Spark listeners with `--trace 1`.

Inputs come from the generated tables of TESTDATA.md in $GRAFT_TESTDATA
(default ~/testdata), copied into .perfbench/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
FIXTURE_ROOT = "/dev/shm/graft_tmp"  # where Tables.cachedFixture publishes
SHM = "/dev/shm"
JVM_BUDGET_S = 160  # a run must end within 180 s
sys.path.insert(0, HERE)
import corpus  # noqa: E402
import workloads  # noqa: E402

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
    ("query_p50_s", "s"), ("peak_rss_mb", "MB"),
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_signature():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")]
    files = [os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for tree in trees:
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return home


def build():
    """Compiles the library and the harness; returns the JVM classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("perfbench: the library sources (src/main/scala) are not in this checkout")
    stamp = os.path.join(WORK, "build", source_signature() + ".classpath")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the library and the harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("perfbench: build failed")
    shutil.rmtree(os.path.dirname(stamp), ignore_errors=True)
    os.makedirs(os.path.dirname(stamp))
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


# ----------------------------------------------------------------- data

def testdata(sf):
    root = os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))
    src = os.path.join(root, f"sf{sf}")
    if not os.path.isdir(src):
        sys.exit(f"perfbench: input tables not found at {src} (set GRAFT_TESTDATA)")
    dst = os.path.join(WORK, "data", f"sf{sf}")
    sig = json.dumps(sorted((n, os.path.getsize(os.path.join(src, n)), os.path.getmtime(os.path.join(src, n)))
                            for n in os.listdir(src)))
    marker = dst + ".source"
    if not (os.path.exists(marker) and open(marker).read() == sig):
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)
        with open(marker, "w") as f:
            f.write(sig)
    return dst


def dataset(spec, seed):
    """Returns (data dir, digest-set name, generator manifest or None)."""
    sf_dir = testdata(spec["sf"])
    if "factor" not in spec:
        return sf_dir, f"sf{spec['sf']}", None
    factor = spec["factor"]
    name = f"corpus_x{factor}_s{seed}_{corpus.source_signature(sf_dir)}"
    dst = os.path.join(WORK, "data", name)
    t0 = time.time()
    manifest = corpus.generate(sf_dir, dst, factor, seed)
    log(f"corpus {name}: {manifest} ({time.time() - t0:.1f} s)")
    # keep the newest few corpora; each seed has its own
    old = sorted(glob.glob(os.path.join(WORK, "data", "corpus_x*")), key=os.path.getmtime)
    for d in old[:-4]:
        if d != dst:
            shutil.rmtree(d, ignore_errors=True)
    return dst, f"corpus_x{factor}", manifest


# ------------------------------------------------------ cache discipline

def java_hash_hex(s):
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return format(h, "x")


def fixture_trees(data_dir):
    """The Tables.cachedFixture trees built from `data_dir`."""
    tag = f"_{java_hash_hex(data_dir)}_"
    return [p for p in glob.glob(os.path.join(FIXTURE_ROOT, "fixcache_*"))
            if tag in os.path.basename(p)]


def tree_bytes(path):
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(d, n)).st_size
            except OSError:
                pass
    return total


# ---------------------------------------------------------------- JVM

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def driver_heap():
    """The Tier-1 rule: half of MemTotal in GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(classpath, spec_props, run_dir, budget_s):
    spec_path = os.path.join(run_dir, "spec.properties")
    with open(spec_path, "w") as f:
        for k, v in spec_props.items():
            f.write(f"{k}={v}\n")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed young generation keeps the resident set from following G1's
    # adaptive sizing, which otherwise moves peak_rss_mb by +-15% run to run
    cmd = [java, f"-Xmx{driver_heap()}", "-Xmn1g", *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-cp", classpath, "graft.perfbench.Harness", spec_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=spec_props["local_dir"])
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, stdout=out, stderr=err, stdin=subprocess.DEVNULL, env=env)
        try:
            code = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(run_dir, "jvm.err")) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"perfbench: harness JVM ended with {code}")


# ----------------------------------------------------------- checking

def digest(table):
    """Order-sensitive digest of a result table (outputs are totally ordered)."""
    h = hashlib.sha256()
    cols = sorted(table.column_names)
    h.update(repr([(c, str(table.schema.field(c).type)) for c in cols]).encode())
    for row in zip(*(table.column(c).to_pylist() for c in cols)):
        h.update(repr(row).encode())
    return h.hexdigest()[:32]


def check_outputs(keys, data_dir, digest_set, out_dir, result, record=False):
    """Returns {key: reason} for every key whose output is wrong or missing.
    With `record`, stores the digests of the keys without an oracle instead
    of checking them (run once on a commit whose outputs are trusted)."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import duckdb
    import preflight
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    digests_path = os.path.join(HERE, "digests.json")
    with open(digests_path) as f:
        all_digests = json.load(f)
    digests = all_digests.setdefault(digest_set, {})
    con = duckdb.connect()
    os.makedirs(os.path.join(WORK, "duckdb"), exist_ok=True)
    con.sql(f"SET memory_limit = '2GB'; SET threads = 2; "
            f"SET temp_directory = '{os.path.join(WORK, 'duckdb')}'")
    for t in preflight.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = dict(result["output_errors"])
    for key in keys:
        if key in bad:
            continue
        files = glob.glob(os.path.join(out_dir, key, "*.parquet"))
        if not files:
            bad[key] = "no output"
            continue
        try:
            spark_tbl = con.sql(f"SELECT * FROM '{out_dir}/{key}/*.parquet'").arrow()
            oracle_tbl = con.sql(oracle[key]).arrow() if key in oracle else None
        except duckdb.Error as e:
            bad[key] = f"cannot check: {e}"
            continue
        if oracle_tbl is not None:
            errs = preflight.compare(key, spark_tbl, oracle_tbl)
            if errs:
                bad[key] = "; ".join(errs[:3])
        elif record:
            digests[key] = digest(spark_tbl)
        elif key in digests:
            if digest(spark_tbl) != digests[key]:
                bad[key] = f"digest {digest(spark_tbl)} != stored {digests[key]}"
        else:
            bad[key] = "neither an oracle nor a stored digest"
    if record:
        with open(digests_path, "w") as f:
            json.dump(all_digests, f, indent=1, sort_keys=True)
            f.write("\n")
    return bad


# ------------------------------------------------------------ metrics

def steady(passes):
    """The later half of the warm passes: the JIT is still speeding up the
    first ones (pass times fall by a fifth from the first warm pass to the
    third)."""
    warm = passes[1:]
    return warm[len(warm) // 2:]


def end_to_end(result):
    passes = result["passes"]
    warm = steady(passes)
    samples = [k["construct_s"] + k["plan_s"] + k["exec_s"]
               for p in warm for k in p["keys"] if k["error"] is None]
    return {
        "setup_s": result["setup_s"],
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "query_p50_s": statistics.median(samples),
        "peak_rss_mb": result["rss_kb"] / 1024.0,
    }, len(samples)


def per_layer(result, cores, fixture_bytes, failed_frac, n_queries):
    passes = result["passes"]
    mb = 1048576.0

    def warm_median(fn):
        return statistics.median(fn(p["layers"], p) for p in steady(passes))

    def phase_s(p, i):
        return sum(k[("construct_s", "plan_s", "exec_s")[i]] for k in p["keys"])

    def slot_util(layers, p):
        exec_s = phase_s(p, 2)
        return layers["exec"]["task_run_ms"] / 1e3 / (exec_s * cores) if exec_s > 0 else 0.0

    def stream(layers):
        return layers["construct"]  # streaming queries run while the frame is built

    cold = passes[0]["layers"]
    m = [
        ("operators.construct_s", "s", warm_median(lambda l, p: phase_s(p, 0))),
        ("operators.construct_jobs", "count", warm_median(lambda l, p: l["construct"]["jobs"])),
        ("operators.construct_tasks", "count", warm_median(lambda l, p: l["construct"]["tasks"])),
        ("plans.plan_s", "s", warm_median(lambda l, p: phase_s(p, 1))),
        ("plans.jobs", "count", warm_median(lambda l, p: l["plan"]["jobs"])),
        ("plans.exchanges", "count", warm_median(lambda l, p: l["exec"]["exchanges"])),
        ("exec.exec_s", "s", warm_median(lambda l, p: phase_s(p, 2))),
        ("exec.jobs", "count", warm_median(lambda l, p: l["exec"]["jobs"])),
        ("exec.stages", "count", warm_median(lambda l, p: l["exec"]["stages"])),
        ("exec.tasks", "count", warm_median(lambda l, p: l["exec"]["tasks"])),
        ("exec.sched_delay_s", "s", warm_median(lambda l, p: l["exec"]["sched_delay_ms"] / 1e3)),
        ("exec.slot_util", "ratio", warm_median(slot_util)),
        ("exec.task_run_s", "s", warm_median(lambda l, p: l["exec"]["task_run_ms"] / 1e3)),
        ("exec.task_cpu_s", "s", warm_median(lambda l, p: l["exec"]["task_cpu_ns"] / 1e9)),
        ("exec.gc_s", "s", warm_median(lambda l, p: l["exec"]["gc_ms"] / 1e3)),
        ("exec.shuffle_read_mb", "MB", warm_median(lambda l, p: l["exec"]["shuffle_read_b"] / mb)),
        ("exec.shuffle_write_mb", "MB", warm_median(lambda l, p: l["exec"]["shuffle_write_b"] / mb)),
        ("exec.spill_mb", "MB", warm_median(lambda l, p: l["exec"]["spill_b"] / mb)),
        ("exec.input_mb", "MB", warm_median(lambda l, p: l["exec"]["input_b"] / mb)),
        ("exec.input_rows", "count", warm_median(lambda l, p: l["exec"]["input_rows"])),
        ("sources.write_s", "s", sum(cold[ph]["write_ns"] for ph in cold) / 1e9),
        ("sources.written_mb", "MB", sum(cold[ph]["written_b"] for ph in cold) / mb),
        ("sources.written_rows", "count", sum(cold[ph]["written_rows"] for ph in cold)),
        ("streaming.batches", "count", warm_median(lambda l, p: stream(l)["batches"])),
        ("streaming.empty_batches", "count", warm_median(lambda l, p: stream(l)["empty_batches"])),
        ("streaming.useful_batch_frac", "ratio", warm_median(
            lambda l, p: 1 - stream(l)["empty_batches"] / stream(l)["batches"]
            if stream(l)["batches"] else 0.0)),
        ("streaming.batch_s", "s", warm_median(lambda l, p: stream(l)["batch_ms"] / 1e3)),
        ("streaming.add_batch_s", "s", warm_median(lambda l, p: stream(l)["add_batch_ms"] / 1e3)),
        ("streaming.overhead_s", "s", warm_median(
            lambda l, p: (stream(l)["batch_ms"] - stream(l)["add_batch_ms"]) / 1e3)),
        ("streaming.rows_per_s", "1/s", warm_median(
            lambda l, p: stream(l)["batch_rows"] / (stream(l)["batch_ms"] / 1e3)
            if stream(l)["batch_ms"] else 0.0)),
        ("streaming.state_rows", "count", warm_median(lambda l, p: stream(l)["state_rows"])),
        ("streaming.state_mb", "MB", warm_median(lambda l, p: stream(l)["state_b"] / mb)),
        ("tables.fixture_mb", "MB", fixture_bytes / mb),
        ("jvm.gc_s", "s", result["gc_s"]),
        ("jvm.heap_peak_mb", "MB", result["heap_peak_mb"]),
        ("check.failed_frac", "ratio", failed_frac),
        ("check.n_queries", "count", n_queries),
        ("trace.warm_pass_s", "s", statistics.median(p["wall_s"] for p in steady(passes))),
    ]
    return {name: {"value": value, "unit": unit} for name, unit, value in m}


# ---------------------------------------------------------------- main

def run(workload, seed, seconds, trace, before_check=None, record_digests=False):
    """One benchmark run; returns the result object that main() prints.
    `before_check(run_dir, result)` lets a test alter the outputs."""
    spec = workloads.WORKLOADS[workload]
    classpath = build()
    data_dir, digest_set, manifest = dataset(spec, seed)
    started = time.time()
    cores = len(os.sched_getaffinity(0))

    # cold caches: no fixture tree from an earlier run, no old scratch
    for tree in fixture_trees(data_dir):
        shutil.rmtree(tree, ignore_errors=True)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "outputs"))
    local_dir = os.path.join(run_dir, "spark-local")
    os.makedirs(local_dir)
    shm_before = tree_bytes(SHM)

    run_id = uuid.uuid4().hex[:12]
    try:
        run_jvm(classpath, {
            "data": data_dir, "out": run_dir, "local_dir": local_dir, "cores": cores,
            "seconds": seconds, "seed": seed, "trace": trace, "run_id": run_id,
            "keys": ",".join(spec["keys"]),
        }, run_dir, JVM_BUDGET_S - (time.time() - started))
    finally:
        fixture_bytes = sum(tree_bytes(t) for t in fixture_trees(data_dir))
        for tree in fixture_trees(data_dir):
            shutil.rmtree(tree, ignore_errors=True)
    leaked = tree_bytes(SHM) - shm_before

    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    if before_check:
        before_check(run_dir, result)
    bad = check_outputs(spec["keys"], data_dir, digest_set,
                        os.path.join(run_dir, "outputs"), result, record_digests)

    executions = [k for p in result["passes"] for k in p["keys"]]
    failed = sum(1 for k in executions if k["error"] is not None or k["key"] in bad)
    attempted = len(executions) + 1  # the /dev/shm leak check counts as one
    if leaked > 0:
        failed += 1
    failed_frac = failed / attempted
    for key, why in sorted(bad.items()):
        log(f"FAIL {key}: {why}")
    if leaked > 0:
        log(f"FAIL /dev/shm holds {leaked} bytes more than before the run")

    e2e, n_samples = end_to_end(result)
    info = {"workload": workload, "seed": seed, "cores": cores, "heap": driver_heap(),
            "local_dir": local_dir, "n_queries": n_samples,
            "passes": len(result["passes"]), "failed_frac": failed_frac,
            "run_s": round(time.time() - started, 1)}
    if manifest:
        info["corpus"] = manifest
    log(json.dumps(info))
    if trace:
        metrics = per_layer(result, cores, fixture_bytes, failed_frac, n_samples)
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        shutil.copyfile(os.path.join(run_dir, "trace.json"),
                        os.path.join(trace_dir, f"{workload}_seed{seed}_{run_id}.json"))
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    return {"correct": not bad and leaked <= 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="store the output digests of the keys without an oracle")
    a = ap.parse_args()
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace,
                         record_digests=a.record_digests)), flush=True)


if __name__ == "__main__":
    main()
