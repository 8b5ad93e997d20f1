#!/usr/bin/env python3
"""Benchmark of the video -> TFRecord pipeline and a dedup query mix.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine from the
checkout's sources together with the benchmark (sbt, offline) into
perfbench/target; later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed under .bench_build/work and
removed afterwards. The JVM prints human-readable lines (every end-to-end
metric by name and unit); this script prints, as the last line of standard
output, one JSON object with keys correct, attempted, failed and metrics,
and exits 1 when any correctness check fails.

Workloads: mjpeg_single_frame, raw_crop_video, dedup_queries (listed in
BENCHMARK.json) and embed_full_video (runnable, not listed); see
perfbench/README.md.
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "sources.sha256")
# class-data archive of the benchmark's classpath: the first run of a
# build writes it, later runs start their JVM from it
ARCHIVE = os.path.join(HERE, "target", "classes.jsa")
DEADLINE_S = 170
BUILD_DEADLINE_S = 880
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("set SPARK_HOME or put spark-submit on the PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(submit)))
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "logs", "build.log")
    with open(log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "writeClasspath"], HERE, env, out, out, deadline)
    if code != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {code}); log in {log}", 3)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def run_child(cmd, cwd, env, stdout, stderr, deadline):
    """Runs cmd in its own process group; kills the group at the deadline
    and always waits for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print("perfbench: deadline reached, stopping", file=sys.stderr)
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


# Queries whose DuckDB oracle SQL is too slow to run per benchmark run
# (its recursive-style label CTEs take tens of seconds even on a few hundred
# documents). Their expectation is derived here from another query's
# checked oracle result: dd_clusters is bounded min-label propagation
# (ops.Components.label, 4 rounds) over the dd_minhash_lsh candidate pairs.
DERIVED = {"dd_clusters": ("dd_minhash_lsh", 4)}


def label_rounds(pairs, rounds):
    """Rows (doc_id, cluster_id) of `rounds` rounds of min-label
    propagation over undirected (doc_a, doc_b) pairs, each node starting
    from its own id (Components.labelSql)."""
    nbrs = {}
    for p in pairs:
        a, b = p["doc_a"], p["doc_b"]
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    label = {n: n for n in nbrs}
    for _ in range(rounds):
        label = {n: min([label[n]] + [label[m] for m in ms])
                 for n, ms in nbrs.items()}
    return sorted(label.items())


def oracle_check(oracle_dir, tables_dir):
    """Each query's Spark result against its DuckDB oracle SQL: column
    names, row count and the sorted rows. Returns the mismatches."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{tables_dir}/documents.parquet/*.parquet')")
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    errors = []
    expected = {}
    for name in sorted(oracle, key=lambda n: n in DERIVED):
        files = os.path.join(oracle_dir, name, "*.parquet")
        got = con.execute(f"SELECT * FROM read_parquet('{files}')")
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        if name in DERIVED:
            source, rounds = DERIVED[name]
            ecols = ["doc_id", "cluster_id"]
            erows = label_rounds(expected[source], rounds)
        else:
            exp = con.execute(oracle[name])
            ecols = [d[0] for d in exp.description]
            erows = exp.fetchall()
            expected[name] = [dict(zip(ecols, r)) for r in erows]
        if sorted(gcols) != sorted(ecols):
            errors.append(f"{name}: columns {sorted(gcols)} != {sorted(ecols)}")
            continue
        order = sorted(gcols)

        def rows(cols, rs):
            idx = [cols.index(c) for c in order]
            return sorted(tuple(canon(r[i]) for i in idx) for r in rs)
        g, e = rows(gcols, grows), rows(ecols, erows)
        digest = hashlib.sha256(repr(g).encode()).hexdigest()[:16]
        if g != e:
            errors.append(f"{name}: {len(g)} rows vs oracle {len(e)}, "
                          f"{sum(a != b for a, b in zip(g, e))} differ")
        else:
            print(f"[perfbench] oracle {name}: {len(g)} rows, hash {digest}")
    return errors


def expected_names(trace):
    """Metric names BENCHMARK.json promises for this mode, if it is here."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    start = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala; run from the "
             "root of a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")
    built_before = os.path.exists(STAMP)
    build(start + BUILD_DEADLINE_S)
    # a run that had to build may use the build's allowance as well
    deadline = (start + BUILD_DEADLINE_S + 10 if not built_before
                else start + DEADLINE_S)

    tag = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    result = os.path.join(work, "result.json")
    spans = os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}.json")
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xlog:disable", "-Xlog:all=warning:stderr", "-XX:-UsePerfData",
              f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE)
              else f"-XX:ArchiveClassesAtExit={ARCHIVE}",
              f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
              f"-Djava.io.tmpdir={work}/tmp",
              "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Bench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--result", result, "--spans", spans])
    log = os.path.join(BUILD, "logs", f"{args.workload}.log")
    try:
        with open(log, "w") as err:
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
            code = run_child(cmd, ROOT, env, None, err, deadline)
        sys.stdout.flush()
        if code != 0 or not os.path.exists(result):
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"benchmark JVM failed (exit {code}); log in {log}", 4)
        with open(result) as fh:
            res = json.load(fh)
        errors = list(res.get("errors", []))
        if "oracle_dir" in res:
            errors += oracle_check(res["oracle_dir"],
                                   os.path.join(work, "tables"))
        names = expected_names(bool(args.trace))
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if names is not None and names != got:
            errors.append(f"metrics {sorted(got)} do not match BENCHMARK.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print(f"[perfbench] MISMATCH {e}")
    out = {"correct": not errors, "attempted": res["attempted"],
           "failed": res["failed"], "metrics": res["metrics"]}
    print(json.dumps(out))
    sys.exit(0 if not errors else 1)


if __name__ == "__main__":
    main()
