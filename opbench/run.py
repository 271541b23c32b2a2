#!/usr/bin/env python3
"""Run one workload of the op benchmark and print its result line.

Usage (from the root of a checkout of the repository):

    python3 opbench/run.py --slots 2 --shuffle-partitions 8 --heap 2g \
        --workload fold_increment --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the engine and the benchmark client
from source (sbt, into `.bench_build/` and the sbt `target/` dirs);
later runs reuse the build while the sources are unchanged. The client
runs in one JVM; its last stdout line is the result, which this script
completes (units from BENCHMARK.json, and for `corpus_batch` the DuckDB
diff of the verified answer) and prints as its own last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--fault drop_row|extra_file|missing_file` corrupts every timed op's
output before its check; the benchmark's own test uses it.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.basename(HERE)
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 850        # the first run in a checkout may take 900 s

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"opbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads from the checkout, in a stable order."""
    out = []
    for top in ("src/main", f"{BENCH_DIR}/src", "project", f"{BENCH_DIR}/project"):
        base = os.path.join(root, top)
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    out += [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    return [p for p in out if os.path.isfile(p)]


def build(root, build_dir):
    """Compile with sbt unless the sources match the last build; returns
    the runtime classpath."""
    os.makedirs(build_dir, exist_ok=True)
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            with open(cp_file) as f:
                got_stamp, cp = f.read().split("\n", 1)
            if got_stamp == stamp:
                return cp.strip()
        except (OSError, ValueError):
            pass
        log = os.path.join(build_dir, "build.log")
        with open(log, "w") as lf:
            proc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, stdout=subprocess.PIPE, stderr=lf, text=True,
                timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
            lf.write(proc.stdout)
        lines = [l for l in proc.stdout.splitlines()
                 if not l.startswith("[") and ".jar" in l]
        if proc.returncode != 0 or not lines:
            fail(f"build failed (see {log})", 1)
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(stamp + "\n" + cp)
        return cp


def declared(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


# The staged parquet dirs each workload's oracle reads as `documents`.
ORACLE_INPUTS = {
    "fold_increment": ("fold", ["fold_prefix", "fold_increment", "fold_eval"]),
    "corpus_batch": ("batch", ["batch_docs"]),
}


def oracle_diff(work, workload):
    """DuckDB runs the engine's oracle SQL (q107 for the fold, q106 for
    the batch pipeline) over the rows the engine read; returns the
    problems with the answer every op was checked against."""
    try:
        import duckdb
    except ImportError:
        return ["duckdb is not importable; the answer is unverified"]
    name, parts = ORACLE_INPUTS[workload]
    with open(os.path.join(work, f"{name}_oracle.sql")) as f:
        sql = f.read()
    with open(os.path.join(work, f"{name}_expected.txt")) as f:
        engine = sorted(l for l in f.read().split("\n") if l)
    con = duckdb.connect()
    files = ", ".join(f"'{work}/{p}/*.parquet'" for p in parts)
    con.execute("CREATE VIEW documents AS SELECT doc_id, text, lang, source, "
                f"n_chars FROM read_parquet([{files}])")
    cols = ["doc_id", "source", "n_tokens", "shard", "bin", "split", "lang"]
    rows = con.execute(f"SELECT {', '.join(cols)} FROM ({sql})").fetchall()
    duck = sorted("|".join(str(v) for v in r) for r in rows)
    if duck == engine and duck:
        return []
    return [f"answer differs from DuckDB: {len(engine)} engine rows, "
            f"{len(duck)} DuckDB rows, {len(set(engine) ^ set(duck))} differ"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # fixed by BENCHMARK.json's command
    ap.add_argument("--slots", type=int, required=True)
    ap.add_argument("--shuffle-partitions", type=int, required=True)
    ap.add_argument("--heap", required=True)
    ap.add_argument("--fault", default=None)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a checkout: the engine sources "
             "(build.sbt, src/main/scala) are not here")
    if not os.path.isfile(os.path.join(root, "BENCHMARK.json")):
        fail("BENCHMARK.json is not here")
    e2e_units, layer_units = declared(root)
    if not shutil.which("java") or not shutil.which("sbt"):
        fail("java and sbt must be on PATH")

    build_dir = os.path.join(root, ".bench_build", BENCH_DIR)
    cp = build(root, build_dir)

    t_start = time.monotonic()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(build_dir, "work", f"{tag}-{os.getpid()}")
    logs = os.path.join(build_dir, "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    spans = os.path.join(build_dir, "spans", f"{tag}.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{a.heap}", f"-Xmx{a.heap}",
              # the whole heap is resident from the start, so rss_peak_mb
              # does not depend on how far the collector happened to reach
              "-XX:+AlwaysPreTouch",
              # two JIT compiler threads instead of three: with the two
              # task slots and the driver thread, the JVM's busy threads
              # fit the four cores, so another load on the host slows
              # the ops less (every op Janino-compiles new classes, so
              # the JIT stays busy in every op, not only in warm-up)
              "-XX:CICompilerCount=2",
              # no hsperfdata file outside the checkout
              "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "opbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--slots", str(a.slots),
              "--shuffle-partitions", str(a.shuffle_partitions),
              "--work", work])
    if a.trace:
        cmd += ["--spans", spans]
    if a.fault:
        cmd += ["--fault", a.fault]
    try:
        with open(os.path.join(logs, f"{tag}.log"), "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                    stderr=err, text=True,
                                    stdin=subprocess.DEVNULL)
            try:
                out, _ = proc.communicate(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"{a.workload} ran past {RUN_LIMIT_S} s", 1)
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if proc.returncode != 0 or len(lines) < 2:
            fail(f"client exited {proc.returncode} (see {logs}/{tag}.log)", 1)
        diag = json.loads(lines[-2])["diagnostics"]
        res = json.loads(lines[-1])
        problems = oracle_diff(work, a.workload)
        if problems:
            # every op was checked against this answer, so none passed
            diag["problems"] = problems + diag["problems"]
            res["correct"] = False
            res["failed"] = res["attempted"]
            if "ok_ops_frac" in res["metrics"]:
                res["metrics"]["ok_ops_frac"]["value"] = 0.0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = layer_units if a.trace else e2e_units
    got = res["metrics"]
    if set(got) != set(units):
        fail(f"metrics differ from BENCHMARK.json: missing "
             f"{sorted(set(units) - set(got))}, extra {sorted(set(got) - set(units))}", 1)
    res["metrics"] = {k: {"value": got[k]["value"], "unit": units[k]}
                      for k in units}
    diag["run_s"] = time.monotonic() - t_start
    if a.trace:
        diag["spans_file"] = os.path.relpath(spans, root)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed",
                                          "metrics")}))


if __name__ == "__main__":
    main()
