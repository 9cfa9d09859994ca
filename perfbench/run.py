#!/usr/bin/env python3
"""The repo benchmark: one seeded ETL workload, measured end to end
(``--trace 0``) or per layer (``--trace 1``).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from a checkout of the repo. The script compiles the engine and the
harness from source (cached under ``.bench_build``), generates the
workload's inputs from the seed, runs the JVM harness closed loop for
``--seconds``, checks every output, and prints one JSON line as the last
line of stdout. Everything it writes stays under the checkout. See
``perfbench/README.md`` for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# the corpus tables each registry workload reads
TABLES = {"curation_recipe": ("documents",), "stream_curation": ("documents",),
          "fixpoint_loops": ("documents", "embeddings")}
WORKLOADS = ["aq_pipeline"] + list(TABLES)
CORES = max(1, min(2, os.cpu_count() or 1))
SETUPS = 2
JVM_HEAP = "2g"
DEADLINE_S = 170
# Spark on JDK 17 needs these outside spark-submit (as in build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory the build uses (build.sbt's unmanagedBase)."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    fail("no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"engine sources not found under {main}; run from a checkout of the repo")
    out = []
    for d in (main, os.path.join(HERE, "scala")):
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile the engine and the harness with the Scala compiler that
    ships with Spark. The classes sit in a directory named after a hash
    of the sources, so builds of different trees live side by side and
    each is reused while its sources are unchanged."""
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(open(s, "rb").read())
    top = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = os.path.join(top, h.hexdigest()[:16], "classes")
    if os.path.isdir(classes):
        return classes

    def jar(prefix):
        hits = sorted(f for f in os.listdir(jars) if f.startswith(prefix) and f.endswith(".jar"))
        if not hits:
            fail(f"{prefix}*.jar not found in {jars}")
        return os.path.join(jars, hits[-1])

    # compile into a private directory and move it into place whole, so a
    # concurrent run never sees half-written classes
    work = os.path.join(top, f"tmp-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "classes"))
    args_file = os.path.join(work, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cp = os.pathsep.join(jar(p) for p in ("scala-compiler-", "scala-library-", "scala-reflect-"))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", os.path.join(jars, "*"),
                        "-d", os.path.join(work, "classes"), "@" + args_file],
                       capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(work, ignore_errors=True)
        fail("compile failed:\n" + r.stdout[-4000:] + r.stderr[-4000:])
    try:
        os.rename(work, os.path.dirname(classes))
    except OSError:
        # another run built the same sources first
        shutil.rmtree(work, ignore_errors=True)
    return classes


def declared():
    """End-to-end and per-layer metric declarations from BENCHMARK.json."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def make_inputs(workload, seed, d):
    """Generate full and warm-up inputs; returns (rows, bytes, expected)."""
    if workload == "aq_pipeline":
        gen.aq_batches(os.path.join(d, "warm"), seed, **gen.AQ_WARM)
        expected, rows, nbytes = gen.aq_batches(os.path.join(d, "full"), seed, **gen.AQ_FULL)
        return rows, nbytes, expected
    warm = gen.STREAM_WARM if workload == "stream_curation" else gen.CORPUS_WARM
    gen.corpus(os.path.join(d, "warm"), seed, **warm)
    sizes = gen.corpus(os.path.join(d, "full"), seed, **gen.CORPUS_FULL)
    used = [sizes[t] for t in TABLES[workload]]
    return sum(r for r, _ in used), sum(b for _, b in used), None


def run_jvm(classes, jars, workload, input_dir, run_dir, seconds, trace, budget):
    out = os.path.join(run_dir, "harness.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the serial collector sizes the heap from what survives collections,
    # so peak RSS follows the engine's memory use; one C2 compiler thread
    # keeps the JIT's native arenas steady (README, JVM settings); no
    # perf-data file outside the checkout
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseSerialGC", "-XX:CICompilerCount=2",
            "-XX:-UsePerfData", "-Xss8m", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Harness",
              workload, input_dir, run_dir, str(seconds), str(trace), str(CORES),
              str(SETUPS), out])
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as log:
        # fewer malloc arenas: native memory, and so peak RSS, varies less
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir, env=env)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {budget:.0f}s")
    if rc != 0 or not os.path.exists(out):
        tail = open(log_path, errors="replace").read()[-4000:]
        fail(f"harness exited with {rc}:\n{tail}")
    return json.load(open(out))


def oracle(con, query, sql, input_dir):
    """DuckDB's answer for a query over this input, cached by input and SQL."""
    import check
    h = hashlib.sha256(sql.encode())
    for t in ("documents", "embeddings"):
        h.update(open(os.path.join(input_dir, t + ".parquet"), "rb").read())
    cache = os.path.join(ROOT, ".bench_run", "oracle", f"{query}-{h.hexdigest()[:20]}.pkl")
    if os.path.exists(cache):
        import pandas as pd
        return pd.read_pickle(cache)
    df = check.oracle_frame(con, sql, input_dir)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    df.to_pickle(cache + ".tmp")
    os.replace(cache + ".tmp", cache)
    return df


def verify(workload, res, input_dir, expected, run_dir):
    """Mark every operation correct or failed; returns (ops, failed, notes)."""
    import check
    import duckdb
    ops = [(u, o) for u in res["units"] for o in u["ops"]]
    bad = set()
    notes = list(res["failures"])
    if workload == "aq_pipeline":
        for i, u in enumerate(res["units"]):
            if u["ops"][0]["digest"] == "failed":
                bad.add(i)
                continue
            probs = check.check_aq_unit(u["dir"], expected)
            if probs:
                bad.add(i)
                notes.append(f"unit {i}: " + "; ".join(probs[:3]))
        # traced units must reproduce the untraced runAq outputs exactly
        plain = [u["dir"] for u in res["units"] if not u["traced"]]
        for i, u in enumerate(res["units"]):
            if u["traced"] and plain and i not in bad:
                probs = check.same_aq_outputs(plain[0], u["dir"])
                if probs:
                    bad.add(i)
                    notes.append(f"unit {i} (traced) differs from runAq: " + "; ".join(probs))
        failed = sum(len(u["ops"]) for i, u in enumerate(res["units"]) if i in bad)
        return len(ops), failed, notes
    con = duckdb.connect(config={"threads": os.cpu_count() or 1,
                                 "temp_directory": os.path.join(run_dir, "duck")})
    good = {}
    for q, by_digest in res["results"].items():
        want = oracle(con, q, res["oracle_sql"][q], os.path.join(input_dir, "full"))
        for d, path in by_digest.items():
            got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
            probs = check.frames_equal(got, want)
            good[(q, d)] = not probs
            if probs:
                notes.append(f"{q} result {d}: " + "; ".join(probs[:3]))
    failed = sum(1 for _, o in ops if not good.get((o["name"], o["digest"]), False))
    return len(ops), failed, notes


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    # the harness's time budget starts once the build is done
    started = time.time()
    e2e, per_layer = declared()
    base = os.path.join(ROOT, ".bench_run")
    run_dir = os.path.join(base, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        input_dir = os.path.join(run_dir, "input")
        rows, nbytes, expected = make_inputs(a.workload, a.seed, input_dir)
        budget = DEADLINE_S - (time.time() - started)
        res = run_jvm(classes, jars, a.workload, input_dir, run_dir, a.seconds, a.trace, budget)
        attempted, failed, notes = verify(a.workload, res, input_dir, expected, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    walls = [u["wall_s"] for u in res["units"] if u["wall_s"] is not None]
    if "VmHWM" not in res["memory_mb"]:
        fail("VmHWM unreadable from /proc/self/status")
    if not walls:
        fail("no unit of work completed: " + "; ".join(notes[:3]))
    measured = {
        "setup_s": median(res["setup_s"]),
        "wall_s": median(walls),
        "rows_per_s": rows / median(walls),
        "step_p50_s": median([s for u in res["units"] for s in u["steps"]]),
        "peak_rss_mb": res["memory_mb"]["VmHWM"],
        "output_mb": median([u["output_bytes"] for u in res["units"]]) / 1048576.0,
    }
    layers = dict(res["layers"], error_rate=failed / attempted)
    wanted = per_layer if a.trace else e2e
    values = layers if a.trace else measured
    metrics = {n: {"value": values[n], "unit": u} for n, u in wanted.items()}
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": CORES,
              "input_rows": rows, "input_bytes": nbytes, "unit_walls_s": walls,
              "setups_s": res["setup_s"], "error_rate": failed / attempted,
              "contention": res["contention"], "memory_mb": res["memory_mb"],
              "notes": notes[:10]}
    print("record " + json.dumps(record))
    for n, m in metrics.items():
        print(f"{n} = {m['value']!r} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
