#!/usr/bin/env python3
"""Benchmark runner: builds the program, runs one workload, checks it.

    python3 perfbench/run.py --workload battery --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The program and the harness are compiled
from the checkout's sources into `.bench_build/` (or `$CARGO_TARGET_DIR`),
once per source tree. The workload's inputs are made from `--seed`; the run
measures for `--seconds` and checks every output. The last line of standard
output is one JSON object: `correct`, `attempted`, `failed` and `metrics` —
the end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. The line before it records what the run ran on.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE = os.path.join(HERE, "data", "sf0.001")
WORKLOADS = ("battery", "workflow")
SAMPLED = ("events", "documents", "embeddings")
SETUP_REPS = 3
JVM_HEAP = "3g"
# Whole run, build excluded; the result must be out well before 180 s.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_digest():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for dp, _, fs in os.walk(r):
            files.extend(os.path.join(dp, f) for f in fs)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(bdir, digest):
    """Compiles program + harness with sbt unless this tree is built."""
    stamp = os.path.join(bdir, "stamp")
    cp_file = os.path.join(bdir, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fc:
                    return fc.read().strip()
    os.makedirs(bdir, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               PERFBENCH_BUILD_DIR=bdir)
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                text=True, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
    fh_out = p.stdout
    with open(log, "a") as fh:
        fh.write(fh_out)
    cp = [l.strip() for l in fh_out.splitlines()
          if l.strip().startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cp:
        fail(f"build failed (see {log})")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp[-1]


def make_battery_inputs(dest, seed):
    """A seeded perturbation of the fixture: bernoulli samples of events,
    documents and embeddings; the TPC-H tables stay whole, because the
    graph rows' degree thresholds (k-core) collapse on a sampled order
    book. Single-threaded, so the same seed gives the same files."""
    import duckdb
    os.makedirs(dest, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        sample = ""
        if t in SAMPLED:
            sample = (f"USING SAMPLE 90 PERCENT "
                      f"(bernoulli, {(seed + SAMPLED.index(t)) % 2147483647})")
        con.execute(f"COPY (SELECT * FROM '{os.path.join(FIXTURE, t)}.parquet' "
                    f"{sample}) TO '{os.path.join(dest, t)}.parquet' (FORMAT PARQUET)")
    con.close()


def canon(rows, cols):
    """Order-insensitive canonical form: columns by name, rows sorted,
    floats by repr, types tagged."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(v)
            vals.append((type(v).__name__ if v is not None else "none", str(v)))
        out.append(tuple(vals))
    out.sort()
    return out


def oracle_check(out_dir):
    """Compares each query's output with its DuckDB oracle on the same
    input files. Returns (attempted, failed)."""
    import duckdb
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    with open(os.path.join(out_dir, "input_dir.txt")) as fh:
        data = fh.read().strip()
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data, f)}'")
    failed = 0
    for name, sql in sorted(oracle.items()):
        d = os.path.join(out_dir, name)
        try:
            got = con.sql(f"SELECT * FROM '{d}/*.parquet'")
            g = canon(got.fetchall(), list(got.columns))
            exp = con.sql(sql)
            e = canon(exp.fetchall(), list(exp.columns))
        except Exception as ex:
            print(f"perfbench: {name}: {ex}", file=sys.stderr)
            failed += 1
            continue
        if g != e or not g:
            print(f"perfbench: {name}: {len(g)} rows differ from the "
                  f"oracle's {len(e)}", file=sys.stderr)
            failed += 1
    con.close()
    return len(oracle), failed


def provenance(record, digest, seed, inputs):
    prov = {"spark": record.get("spark"), "jvm": record.get("jvm"),
            "source_sha256": digest, "seed": seed, "inputs": inputs}
    git = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                 capture_output=True, text=True, timeout=20)
            st = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                                capture_output=True, text=True, timeout=20)
            git = {"sha": sha.stdout.strip(), "dirty": bool(st.stdout.strip())}
        except (OSError, subprocess.SubprocessError):
            pass
    prov["git"] = git
    box = {}
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                k, v = line.split(":", 1)
                if k in ("MemAvailable", "Cached"):
                    box[k + "_kb"] = int(v.split()[0])
    except OSError:
        pass
    prov["box"] = box
    return prov


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources next to the benchmark")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    bdir = build_dir()
    digest = source_digest()
    classpath = ensure_built(bdir, digest)
    started = time.monotonic()

    work = os.path.join(bdir, "work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))

    inputs, gen_s = [], []
    if args.workload == "battery":
        for rep in range(SETUP_REPS):
            d = os.path.join(work, f"input{rep}")
            t0 = time.monotonic()
            make_battery_inputs(d, args.seed)
            gen_s.append(time.monotonic() - t0)
            inputs.append(d)

    result_file = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus), "--work", work, "--result", result_file])
    if inputs:
        cmd += ["--inputs", ",".join(inputs)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            fail(f"stopped by signal {signum}", 1)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=max(30, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("workload timed out", 1)
    if rc != 0 or not os.path.exists(result_file):
        fail(f"workload exited with {rc} (see {work}/jvm.log)", 1)
    with open(result_file) as fh:
        record = json.load(fh)

    attempted, failed = record["attempted"], record["failed"]
    if args.workload == "battery":
        a, f = oracle_check(os.path.join(work, "out"))
        attempted, failed = attempted + a, failed + f
    e2e = record["end_to_end"]
    layers = record["per_layer"]
    correct = failed == 0 and (args.trace == 0 or layers.get("trace.ok") == 1.0)

    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {}
    for m in chosen:
        v = source.get(m["name"])
        if v is None or (isinstance(v, float) and math.isnan(v)):
            fail(f"metric {m['name']} was not measured", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    prov = provenance(record, digest, args.seed,
                      {"fixture": os.path.relpath(FIXTURE, ROOT),
                       "dirs": [os.path.relpath(d, ROOT) for d in inputs]}
                      if inputs else None)
    summary = {"provenance": prov, "fail_ratio": failed / max(attempted, 1),
               "units": record["units"], "latency_samples": record["latency_samples"],
               "latency_ops": record["latency_ops"],
               "op_p50_ms": e2e["op_p50_ms"], "op_p90_ms": e2e["op_p90_ms"],
               "wall_s": e2e["wall_s"], "items_per_s": e2e["items_per_s"],
               "span_items_per_s": e2e["span_items_per_s"],
               "span_items_per_ref_s": e2e["span_items_per_ref_s"],
               "probe": record["probe"], "probe_s": e2e["probe_s"],
               "probe_samples_s": record["probe_samples_s"],
               "unit_walls_s": record["unit_walls_s"], "op_ms": record["op_ms"],
               "setup_reps_s": record["setup_reps_s"], "input_gen_s": gen_s,
               "phases_s": dict(record["phases_s"], runner=time.monotonic() - started),
               "info": record["info"]}
    os.makedirs(os.path.join(bdir, "results"), exist_ok=True)
    with open(os.path.join(bdir, "results", os.path.basename(work) + ".json"), "w") as fh:
        json.dump(dict(summary, end_to_end=e2e, per_layer=layers), fh, indent=1)
    print(json.dumps(summary))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
