#!/usr/bin/env python3
"""Benchmark of smallqueryspark: runs one workload in a fresh JVM of the
program and prints one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: served_graph, workspace_http, versioned_sql (see
perfbench/README.md). The first run in a checkout builds the program and
the harness from source with sbt; later runs reuse the build while the
sources are unchanged. The measured JVM gets the JVM options that the
root build.sbt gives `run`. All inputs, stores, traces and results are
written under perfbench/work/.

The last line of standard output is
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). Any failure to build, run or report exits
non-zero without a result line.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
WORK = os.path.join(HERE, "work")
# corpus scale of the Spark workload (sf0.01 has 60k line items)
SPARK_SF = {"served_graph": 0.01}
# The Spark workload queries one fixed database, as TPC-H does: the corpus
# comes from this generator seed, and --seed orders the rounds. A corpus
# per seed made single queries change plan between runs (q_degree_dist
# ran 433 ms on some seeds and 619 ms on others).
CORPUS_SEED = 42
WORKLOADS = ["served_graph", "workspace_http", "versioned_sql"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850


def die(msg: str, code: int = 1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _sources(root: str):
    """Every file the build reads from the checkout, in a stable order."""
    yield os.path.join(root, "build.sbt")
    yield os.path.join(HERE, "build.sbt")
    for top in ("project", "src/main", "perfbench/project", "perfbench/src"):
        for d, subdirs, files in os.walk(os.path.join(root, top)):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            for f in sorted(files):
                yield os.path.join(d, f)


def build(root: str):
    """Compile the program and the harness unless the sources are unchanged
    since the last build; return (classpath, JVM options)."""
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"no {need} here: run from the root of a smallqueryspark checkout", 3)
    h = hashlib.sha256()
    for p in _sources(root):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        current = os.path.exists(launch) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp
        if not current:
            env = dict(os.environ, COURSIER_MODE="offline")
            if "SBT_OPTS" not in env:
                opts = ["-Dsbt.offline=true", "-Xmx2g"]
                repos = os.path.expanduser("~/.sbt/repositories")
                if os.path.exists(repos):
                    opts += ["-Dsbt.override.build.repos=true",
                             f"-Dsbt.repository.config={repos}"]
                env["SBT_OPTS"] = " ".join(opts)
            log = os.path.join(WORK, "logs", "build.log")
            with open(log, "w") as out:
                rc = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                          cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                          limit=BUILD_LIMIT_S)
            if rc != 0 or not os.path.exists(launch):
                sys.stderr.write(open(log).read()[-4000:])
                die(f"build failed (exit {rc}); log: {log}")
            with open(stamp_file, "w") as f:
                f.write(stamp)
    with open(launch) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


def _run(cmd, limit, **kw) -> int:
    """Run cmd in its own process group; kill the group past `limit` s."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def corpus(workload: str) -> str:
    """Generated Parquet corpus for the Spark workload ('' for the others)."""
    if workload not in SPARK_SF:
        return ""
    import gen_data
    sf = SPARK_SF[workload]
    return gen_data.generate(os.path.join(WORK, "data", f"sf{sf}-seed{CORPUS_SEED}"),
                             sf, CORPUS_SEED)


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spec(root: str):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description="smallqueryspark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    cp, opts = build(root)
    bench = spec(root)
    data_dir = corpus(a.workload)
    started = time.time()  # a build may take longer than a run

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    log = os.path.join(WORK, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    out_path = os.path.join(run_dir, "stdout.txt")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cmd = [java(), *opts, f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
           str(a.trace), run_dir, data_dir]
    with open(out_path, "w") as out, open(log, "w") as err:
        rc = _run(cmd, cwd=run_dir, env=env, stdout=out, stderr=err,
                  limit=max(10, RUN_LIMIT_S - (time.time() - started)))
    line = next((l for l in reversed(open(out_path).read().splitlines())
                 if l.startswith("PERFBENCH ")), None)
    if rc != 0 or line is None:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"{a.workload} run failed (exit {rc}); log: {log}")
    res = json.loads(line[len("PERFBENCH "):])
    for n in res["notes"]:
        print(f"[{a.workload}] {n}", file=sys.stderr)

    correct = bool(res["correct"])
    if res.get("check_dir"):
        import expected
        bad = expected.check(WORK, data_dir, res["check_dir"])
        for b in bad:
            print(f"[{a.workload}] MISMATCH {b}", file=sys.stderr)
        correct = correct and not bad

    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    if a.trace:
        shutil.move(os.path.join(run_dir, "spans.jsonl"),
                    os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    got = res["metrics"]
    metrics = {}
    for m in bench["per_layer" if a.trace else "end_to_end"]:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
        elif a.trace:
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}  # layer not on this path
        else:
            die(f"{a.workload} did not report {m['name']}")
    result = {"correct": correct, "attempted": int(res["attempted"]),
              "failed": int(res["failed"]), "metrics": metrics}
    with open(os.path.join(WORK, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        # every figure the JVM measured, for comparing traced with untraced runs
        json.dump(dict(result, measured=got), f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
