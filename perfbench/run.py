#!/usr/bin/env python3
"""Benchmark of the hadoopspark engine: the lineage analyzer and the
Spark query and operator surface, end to end and layer by layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <lineage|relational|ops_warm|ops_cold>
        --seed <n> --seconds <s> --trace <0|1>

The first run builds the repository and the harness with sbt
(`perfbench/build.sbt`); later runs reuse the build while the sources
are unchanged. Each run starts one JVM (`graft.perfbench.Main`), which
sets up, runs a closed loop of one client for `--seconds`, and writes
its record. This script then checks the outputs (Spark results against
their DuckDB oracle statements; lineage checks run in the JVM), prints
a report, and prints as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones,
and the spans and per-query record go to
`perfbench/.work/trace-<workload>-<seed>.json`.

Metric names, units and bounds are in BENCHMARK.json; which layer each
metric belongs to is in perfbench/LAYERS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
DATA_ROOT = os.path.join(HERE, "data")
# relational runs at sf0.1, where its queries spend their time in
# Spark's operators; at sf0.01 they mostly wait on task hand-offs
# between threads, whose latency follows the host's load.
SCALE = {"lineage": "sf0.01", "relational": "sf0.1",
         "ops_warm": "sf0.01", "ops_cold": "sf0.01"}
WORKLOADS = ("lineage", "relational", "ops_warm", "ops_cold")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# Set-ups per run; setup_s is their median.
SETUPS = 5
# Spark's local[N]. One task thread leaves the other cores to the
# driver, JIT and GC threads, so a busy neighbour on the host slows a
# run less: on a shared 4-vCPU VM, four alternating pairs of relational
# runs spread 0.09 in pass_s on local[1] and 0.20 on local[2], and
# local[1] was no slower.
CORES = 1
# A fixed heap and the throughput collector: on the same VM, with a
# growing heap under G1, alternating runs of relational spread 0.13 in
# pass_s; with these, 0.05.
HEAP = "2g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]

def metric_units(key):
    """Name -> unit of the BENCHMARK.json metrics under `key`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[key]}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, for the rebuild stamp."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, subdirs, names in os.walk(base):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    stamp = hashlib.sha256()
    for f in source_files():
        stamp.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            stamp.update(hashlib.sha256(fh.read()).digest())
    stamp = stamp.hexdigest()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=BUILD_TIMEOUT_S)
        fh.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1]:
        die(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_jvm(cp, args, work):
    log = os.path.join(work, "jvm.log")
    cmd = ["java", *[x for o in ADD_OPENS for x in ("--add-opens", o)],
           f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graft.perfbench.Main", *args]
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=fh)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"the benchmark JVM ran over {JVM_TIMEOUT_S} s, see {log}")
    record = os.path.join(work, "record.json")
    if code != 0 or not os.path.exists(record):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        die(f"the benchmark JVM exited with {code}:\n{tail}")
    with open(record) as fh:
        return json.load(fh)


def canon(df):
    """Sorted columns, row count and a hash of the rows sorted by every
    column, each cell length-prefixed (as tools/check.py hashes)."""
    import numpy as np
    cols = sorted(df.columns)
    df = df[cols]
    for c in cols:
        if df[c].dtype == object and df[c].dropna().map(
                lambda v: isinstance(v, (list, tuple, dict, set, np.ndarray))).any():
            raise TypeError(f"column '{c}' holds non-scalar cells")
    df = df.sort_values(cols).reset_index(drop=True)
    h = hashlib.md5()
    for row in df.itertuples(index=False):
        for v in row:
            s = str(v)
            h.update(f"{len(s)}:".encode())
            h.update(s.encode())
        h.update(b"\n")
    return cols, len(df), h.hexdigest()


def check_spark(record, work, data):
    """Names of the queries whose result differs from the oracle's."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    bad = dict(record["checks"]["errors"])
    for name, sql in sorted(record["checks"]["oracle"].items()):
        if name in bad:
            continue
        try:
            got = canon(con.sql("SELECT * FROM read_parquet('"
                                f"{os.path.join(work, 'results', name)}/*.parquet')").df())
            exp = canon(con.sql(sql).df())
            if got != exp:
                bad[name] = f"got {got[:2]}, oracle {exp[:2]}, hashes differ"
        except Exception as e:  # noqa: BLE001 - any error fails the check
            bad[name] = f"error: {e}"
    con.close()
    return bad


def quantile(values, q):
    xs = sorted(values)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def tail(values):
    """(label, value) of the highest percentile among p99 and p90 with at
    least ten samples beyond it, or None."""
    n = len(values)
    for label, q in (("p99", 0.99), ("p90", 0.90)):
        if n - int(q * n) - 1 >= 10:
            return label, quantile(values, q)
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.exists(os.path.join(ROOT, "BENCHMARK.json"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("run this from the root of a hadoopspark checkout: "
            "build.sbt, BENCHMARK.json or src/main/scala/graft is missing")
    data = os.path.join(DATA_ROOT, SCALE[a.workload])
    if not all(os.path.exists(os.path.join(data, t + ".parquet")) for t in TABLES):
        die(f"input tables missing under {data}")
    if shutil.which("sbt") is None and not os.path.exists(
            os.path.join(BUILD, "classpath")):
        die("sbt is not on PATH")

    cp = build()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds),
                          str(a.trace), data, work, str(CORES), str(SETUPS)],
                     work)

    if a.workload == "lineage":
        bad = record["checks"]["failed"]
    else:
        bad = check_spark(record, work, data)
    # A Spark query fails with its output check; the JVM already marked
    # each lineage script that holds an item which failed its check.
    ops = record["ops"]
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)

    passes = [p["seconds"] for p in record["passes"] if not p["traced"]] or \
        [p["seconds"] for p in record["passes"]]
    plain = [o for o in ops if not any(
        p["traced"] and p["index"] == o["pass"] for p in record["passes"])] or ops
    plain_ms = [o["ms"] for o in plain]
    by_op = {}
    for o in plain:
        by_op.setdefault(o["name"], []).append(o["ms"])
    op_medians = {n: statistics.median(v) for n, v in by_op.items()}
    e2e = {
        "setup_s": statistics.median(record["setup_s"]),
        "pass_s": statistics.median(passes),
        # Geometric mean of each operation's median latency, as TPC-H's
        # power metric averages its queries. The median over all samples
        # would sit between two of the six Spark queries and jump
        # between them from run to run.
        "op_geomean_ms": statistics.geometric_mean(op_medians.values()),
        "stmts_per_s": sum(o["statements"] for o in plain)
        / (sum(o["ms"] for o in plain) / 1e3),
    }
    unit = "script" if a.workload == "lineage" else "query"
    t = tail(plain_ms)
    report = [
        f"workload {a.workload} seed {a.seed} trace {a.trace}: "
        f"{len(record['passes'])} passes, {len(ops)} {unit} runs "
        f"in {record['measured_s']:.3f} s on local[{CORES}]",
        f"setup_s {e2e['setup_s']:.3f} s (median of "
        f"{', '.join(f'{x:.3f}' for x in record['setup_s'])})"
        + (f", then {record['warmup_s']:.3f} s of untimed warm-up passes"
           if record["warmup_s"] else ""),
        f"pass_s {e2e['pass_s']:.4f} s (median of {len(passes)} passes: "
        f"{', '.join(f'{x:.3f}' for x in passes)})",
        f"op_geomean_ms {e2e['op_geomean_ms']:.3f} ms over {len(op_medians)} {unit} medians",
        f"{unit}_p50_ms {statistics.median(plain_ms):.3f} ms over {len(plain_ms)} samples",
        (f"{unit}_{t[0]}_ms {t[1]:.3f} ms over {len(plain_ms)} samples"
         if t else f"{unit} tail: fewer than ten samples beyond p90, not reported"),
        f"stmts_per_s {e2e['stmts_per_s']:.2f} 1/s",
        f"failed_frac {failed / max(1, len(ops)):.4f} ({failed} of {len(ops)})",
    ]
    if a.workload != "lineage":
        report.append("query medians: " + ", ".join(
            f"{n} {v:.1f} ms" for n, v in sorted(op_medians.items())))
        report.append(f"resident_mb {record['resident_mb']:.4f} MB")
    for name, why in sorted(bad.items()):
        report.append(f"check failed: {name}: {why}")
    for line in report:
        print(f"perfbench: {line}")

    if a.trace:
        units = metric_units("per_layer")
        layers = {k: float(record["layers"].get(k, 0.0)) for k in units}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
        path = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "metrics": layers, "spans": record["spans"],
                       "per_query": record["per_query"],
                       "first_run_ms": record["first_run_ms"],
                       "passes": record["passes"]}, fh)
        print(f"perfbench: trace written to {os.path.relpath(path, ROOT)}")
    else:
        units = metric_units("end_to_end")
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not bad and failed == 0,
                      "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
