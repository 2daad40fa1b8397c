#!/usr/bin/env python3
"""Layered benchmark of the clinical ETL engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The first run builds the engine and the
harness from source into `.bench_build/` (see `build.sh`); later runs
reuse the build while the sources are unchanged. The batch workload
reads the sf0.001 test tables under `testdata/`; its seed permutes the
order of its steps. The streaming workload draws its corpora and waves
from the seed.

One run starts one JVM (`graft.perfbench.Harness`, one client in a
closed loop on `local[nproc]`), times the workload for `--seconds`,
checks every output, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (`--trace 0`) or every
per-layer metric (`--trace 1`). The full record (environment, host
anchor, per-pass times, failures) goes to `.bench_build/results/`, the
span tree of a traced run to `.bench_build/traces/`. Exit code 0 only
when every step ran and every output matched.

Workloads, metrics and the layer table are described in README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170  # a run must end within 180 s; keep a margin
# Fixed heap (-Xms = -Xmx): no heap resizing during a run, so pass times
# and peak_rss_mb do not depend on when the collector chose to grow.
HEAP = "1536m"

# Per-workload settings. `setups` is the number of cold set-ups whose
# median enters setup_s; `warmup` the warm passes run after them, chosen
# from measured pass-time drift (README.md, "Warm-up").
WORKLOADS = {
    "clinical_etl": {"kind": "batch", "setups": 3, "warmup": 6},
    "compaction_stream": {"kind": "stream", "setups": 3, "warmup": 5},
}
TINY = {"setups": 1, "warmup": 0}
# The repository's sf0.001 test tables (150 customers, 1,500 orders,
# 6,000 line items, 1,000 events, 500 documents, 500 embeddings), kept
# unchanged inside the benchmark so every checkout carries its input.
TESTDATA = os.path.join(HERE, "testdata", "sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
FIXTURE_ROOT = "/tmp/graft_fixtures"  # fixed by the engine's JSON sources


class BenchError(Exception):
    """A named failure of the benchmark itself (not of the engine)."""


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sha256_files(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the first `spark-submit` installation on PATH
    whose `jars` directory carries the Scala compiler the build uses."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(n.startswith("scala-compiler-") for n in os.listdir(jars)):
            return home
    raise BenchError(f"SparkJarsMissing: no Spark installation with a scala-compiler jar among {homes}")


def spark_jars():
    return os.path.join(spark_home(), "jars")


def engine_sources():
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src):
        raise BenchError(f"EngineSourcesMissing: {src} does not exist; run from a full checkout")
    files = []
    for d in (src, os.path.join(HERE, "src")):
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles engine + harness once per source digest."""
    digest = sha256_files(engine_sources() + [os.path.join(HERE, "build.sh")])[:16]
    out = os.path.join(BUILD, "classes", digest)
    if os.path.exists(os.path.join(out, ".built")):
        return out, digest
    shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    log(f"building engine and harness ({digest})")
    t0 = time.time()
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out],
                       env=dict(os.environ, SPARK_HOME=spark_home()),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        raise BenchError(f"BuildFailed: build.sh exited {r.returncode}:\n{r.stdout[-4000:]}")
    open(os.path.join(out, ".built"), "w").write(f"{time.time() - t0:.1f}\n")
    return out, digest


def inputs():
    """The batch input directory and its table files."""
    files = [f"{t}.parquet" for t in TABLES]
    missing = [f for f in files if not os.path.isfile(os.path.join(TESTDATA, f))]
    if missing:
        raise BenchError(f"InputMissing: {missing} not under {TESTDATA}")
    return TESTDATA, files


def oracle_check(input_dir, work, steps):
    """Compares each dumped step output with DuckDB running the step's
    oracle SQL on the same input: columns by name, rows in order, exact
    cells (NaN equals NaN). Returns the list of mismatches."""
    if not steps:
        return []
    import math
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    sqls = json.load(open(os.path.join(work, "oracle_sql.json")))

    def norm(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    wrong = []
    for step in steps:
        try:
            d = con.execute(sqls[step])
            cols_d = [c[0] for c in d.description]
            rows_d = d.fetchall()
            s = con.execute(f"SELECT * FROM '{work}/out/{step}/*.parquet'")
            cols_s = [c[0] for c in s.description]
            rows_s = s.fetchall()
            if sorted(cols_s) != sorted(cols_d):
                wrong.append(f"{step}: columns {sorted(cols_s)} != oracle {sorted(cols_d)}")
                continue
            ps = [cols_s.index(c) for c in sorted(cols_s)]
            pd = [cols_d.index(c) for c in sorted(cols_d)]
            a = [tuple(norm(r[i]) for i in ps) for r in rows_s]
            b = [tuple(norm(r[i]) for i in pd) for r in rows_d]
            if len(a) != len(b):
                wrong.append(f"{step}: {len(a)} rows, oracle {len(b)}")
            elif a != b:
                i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
                wrong.append(f"{step}: row {i} differs: {a[i]!r} != oracle {b[i]!r}")
        except Exception as e:  # a failing oracle is a failed check
            wrong.append(f"{step}: {type(e).__name__}: {e}")
    return wrong


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def cleanup(work, nonce):
    shutil.rmtree(work, ignore_errors=True)
    if os.path.isdir(FIXTURE_ROOT):
        for kind in os.listdir(FIXTURE_ROOT):
            d = os.path.join(FIXTURE_ROOT, kind)
            for name in os.listdir(d) if os.path.isdir(d) else []:
                if name.startswith(f"pb_{nonce}_"):
                    shutil.rmtree(os.path.join(d, name), ignore_errors=True)


def run_once(workload, seed, seconds, trace, tiny=False):
    """One benchmark run; returns (result line dict, full record dict)."""
    t_start = time.time()
    jars = spark_jars()
    classes, digest = build()
    cfg = dict(WORKLOADS[workload], **(TINY if tiny else {}))
    # the streaming workload draws its corpora from the seed in the JVM
    input_dir, tables = inputs() if cfg["kind"] == "batch" else ("", [])
    nonce = f"{os.getpid()}_{int(time.time() * 1000) % 10**9}"
    work = os.path.join(BUILD, "runs", nonce)
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"] +
           [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{classes}:{jars}/*", "graft.perfbench.Harness",
            f"workload={workload}", f"seed={seed}", f"seconds={seconds}",
            f"trace={trace}", f"input={input_dir}", f"work={work}",
            f"nonce={nonce}", f"setups={cfg['setups']}",
            f"warmup={cfg['warmup']}", f"size={'tiny' if tiny else 'full'}"])
    try:
        budget = RUN_LIMIT_S - (time.time() - t_start)
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            try:
                r = subprocess.run(cmd, cwd=work, stdout=jlog, stderr=jlog,
                                   timeout=max(10, budget))
            except subprocess.TimeoutExpired:
                raise BenchError(f"RunTimeout: the harness JVM ran past {budget:.0f} s")
        if r.returncode != 0 or not os.path.exists(os.path.join(work, "result.json")):
            tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
            raise BenchError(f"HarnessFailed: JVM exited {r.returncode}:\n{tail}")
        res = json.load(open(os.path.join(work, "result.json")))
        wrong = (oracle_check(input_dir, work, res["oracle_steps"]) +
                 [f"{k} is false" for k, ok in res["checks"].items() if not ok])
        res["wrong_outputs"] = wrong
        res["env"].update({
            "git_commit": git_commit(), "source_digest": digest,
            "input_bytes": {f: os.path.getsize(os.path.join(input_dir, f))
                            for f in tables},
            "build_s": float(open(os.path.join(classes, ".built")).read()),
            "workload": workload, "trace": trace, "seconds": seconds})
        if trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"), os.path.join(
                BUILD, "traces", f"{workload}-seed{seed}.json"))
    finally:
        cleanup(work, nonce)

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    values = res["per_layer"] if trace else res["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in values:
            raise BenchError(f"MetricMissing: harness did not report {m['name']}")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    failed = res["failed"]
    line = {"correct": failed == 0 and not wrong,
            "attempted": max(1, res["attempted"]), "failed": failed,
            "metrics": metrics}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{workload}-seed{seed}-trace{trace}.json"), "w") as f:
        json.dump(dict(res, result=line), f, indent=1)
    return line, res


def self_test():
    """Runs every workload once, briefly (one set-up, no warm-up; the
    streaming workload on a small corpus), traced and untraced, and
    checks that every metric of BENCHMARK.json is printed with its unit."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ok = True
    for w in WORKLOADS:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            line, res = run_once(w, seed=1, seconds=1, trace=trace, tiny=True)
            for m in spec[group]:
                got = line["metrics"].get(m["name"])
                if not got or got.get("unit") != m["unit"] or \
                        not isinstance(got.get("value"), (int, float)):
                    ok = False
                    print(f"FAIL {w} trace={trace}: {m['name']} missing or without unit {m['unit']}")
            if not line["correct"]:
                ok = False
                print(f"FAIL {w} trace={trace}: incorrect: "
                      f"{res['failures'][:3]} {res['wrong_outputs'][:3]}")
            print(f"{'ok  ' if line['correct'] else 'FAIL'} {w} trace={trace}: "
                  f"{len(line['metrics'])} metrics")
    return ok


def main(argv):
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args(argv)
    try:
        if a.self_test:
            return 0 if self_test() else 1
        if a.workload is None or a.seed is None or a.seconds is None:
            ap.error("--workload, --seed and --seconds are required")
        if not 1 <= a.seconds <= 120:
            ap.error("--seconds must be between 1 and 120")
        line, res = run_once(a.workload, a.seed, a.seconds, a.trace)
    except BenchError as e:
        log(str(e))
        return 3
    for f in res["failures"] + res["wrong_outputs"]:
        log(f"wrong or failed: {f}")
    print("env " + json.dumps(res["env"], sort_keys=True))
    for name, m in line["metrics"].items():
        print(f"{name} = {m['value']} {m['unit']}")
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
