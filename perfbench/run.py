"""Workflow benchmark of the Spark rebuild of PaDuA's notebooks.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py, cached per seed),
runs the workload closed-loop in one JVM on local[N] (N <= 4) under the
production session profile, verifies every execution's outputs and
prints one JSON object as the last line of standard output:

  --trace 0  the end-to-end metrics (BENCHMARK.json `end_to_end`)
  --trace 1  the per-layer record (BENCHMARK.json `per_layer`)

Exits non-zero without a result when the program cannot be built.
See perfbench/README.md for the workloads and the metric glossary.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import struct
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(build.BUILD, "work")
WORKLOADS = ("s1_timecourse", "keyed_stats", "curation")
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def inputs(workload, seed, scale="full"):
    """The generated inputs of (workload, seed), generated once per seed and
    generator version."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(build.BUILD, "data", f"{scale}-{version}", workload, str(seed))
    if not os.path.exists(os.path.join(d, ".complete")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp, scale)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        open(os.path.join(d, ".complete"), "w").close()
    return d


def jvm(classes, workload, data, extra, log):
    """Run perfbench.Main once; returns its JSON result."""
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + work,
           "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--data", data,
            "--work", work, "--out", out] + extra
    with open(log, "a") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM run exceeded {JVM_TIMEOUT_S} s (log: {log})")
    if proc.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"JVM exited with {proc.returncode} (log: {log})")
    with open(out) as f:
        return json.load(f)


def bits_rows(rows):
    """Rows with every float replaced by its IEEE-754 bit pattern."""
    def cell(v):
        if isinstance(v, float):
            return str(struct.unpack("<q", struct.pack("<d", v))[0])
        return str(v)
    return sorted("\t".join(cell(v) for v in r) for r in rows)


def duckdb_check(data, work):
    """Compare the Spark t-test/ANOVA outputs with their DuckDB replay.
    t-tests must match bit for bit; the ANOVA's within-group sum is a
    double sum whose order neither engine fixes, so F matches to 1e-9."""
    import duckdb
    con = duckdb.connect(config={"threads": 1})
    glob = os.path.join(data, "obs", "*.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW obs AS SELECT * FROM read_parquet('{glob}')")
    with open(os.path.join(work, "oracle.sql")) as f:
        queries = [q.strip() for q in f.read().split(";") if q.strip()]
    errors = []
    for q in queries:
        name = q.splitlines()[0].lstrip("- ").strip()
        got = open(os.path.join(work, name + ".tsv")).read().splitlines()
        want = bits_rows(con.execute(q).fetchall())
        if name != "anova":
            if got != want:
                diff = sum(1 for a, b in zip(got, want) if a != b) + abs(len(got) - len(want))
                errors.append(f"{name}: {diff} of {len(want)} rows differ from the DuckDB replay")
            continue
        if len(got) != len(want):
            errors.append(f"anova: {len(got)} rows, DuckDB replay has {len(want)}")
            continue
        bad = 0
        for a, b in zip(got, want):
            fa, fb = a.split("\t"), b.split("\t")
            if fa[:3] != fb[:3]:
                bad += 1
                continue
            x = [struct.unpack("<d", struct.pack("<q", int(v)))[0] for v in fa[3:]]
            y = [struct.unpack("<d", struct.pack("<q", int(v)))[0] for v in fb[3:]]
            if any(abs(p - r) > 1e-9 * max(1.0, abs(r)) for p, r in zip(x, y)):
                bad += 1
        if bad:
            errors.append(f"anova: {bad} of {len(want)} rows differ from the DuckDB replay")
    con.close()
    return errors


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="full", choices=("full", "tiny"))
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: cannot build the program: {e}")
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, f"{a.workload}.log")
    open(log, "w").close()
    t0 = time.time()
    data = inputs(a.workload, a.seed, a.scale)
    gen_s = time.time() - t0

    extra = ["--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.trace == 0 and a.workload == "keyed_stats":
        extra += ["--dump", "1"]
    r = jvm(classes, a.workload, data, extra, log)
    errors = list(r["errors"])
    if len(r["digests"]) != 1:
        errors.append(f"outputs differ across executions: {len(r['digests'])} digests")
    if a.workload == "keyed_stats" and a.trace == 0:
        errors += duckdb_check(data, os.path.join(WORK, a.workload))
    attempted = r["attempted"]
    failed = r["failed"] + (1 if errors and not r["failed"] else 0)

    spec = benchmark_json()
    if a.trace == 0:
        wall = statistics.median(r["warm_s"])
        values = {
            "wall_s": wall,
            "rows_per_s": r["input_rows"] / wall,
            "cold_s": r["cold_s"],
            "setup_s": r["setup_s"],
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        for k, v in values.items():
            print(f"{a.workload} {k} = {v:.6g} {units.get(k, '')}", file=sys.stderr)
        print(f"{a.workload} warm executions = {len(r['warm_s'])}, input rows = "
              f"{r['input_rows']}, post-GC heap = {max(r['heap_mb']):.1f} MB, "
              f"generation = {gen_s:.2f} s", file=sys.stderr)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    else:
        layer = r["per_layer"]
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        print(f"{a.workload} spans written to {r['spans_file']}", file=sys.stderr)
    for e in errors:
        print(f"{a.workload} FAILED: {e}", file=sys.stderr)
    print(json.dumps({"correct": not errors and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
