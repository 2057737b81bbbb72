#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload history_ingest --seed 1 --seconds 20 --trace 0

The first run in a checkout builds the benchmark (an sbt build of its
own under perfbench/, compiled against the checkout's graft sources);
later runs reuse that build until a source file changes. Each run then
starts one JVM, which runs the workload in a single local[N] Spark
session (N = available processors) and prints, as its last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. The line
before it carries the run's input properties and per-operation series.

Everything the run writes stays under .bench_build/ in the checkout:
the build's classpath, the workload's scratch data (deleted when the
run ends), the JVM's log and, for --trace 1, the recorded spans.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("history_ingest", "history_serving", "corpus_pipeline")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


_child = None     # the running child process, if any
_cleanup = []     # directories to remove if we are stopped


def _stop(signum, _frame):
    """Stopped from outside: take the child's process group down too."""
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    for d in _cleanup:
        shutil.rmtree(d, ignore_errors=True)
    sys.exit(128 + signum)


def run_child(cmd, cwd, stdout, stderr, timeout, cleanup, env=None):
    """Run `cmd` in its own process group; returns (exit code, stdout),
    with code None if it ran past `timeout` and was killed."""
    global _child
    _cleanup[:] = cleanup
    _child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                              stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = _child.communicate(timeout=timeout)
        return _child.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
        return None, None
    finally:
        _child = None


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env(tmp):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env["SBT_OPTS"] += f" -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp}"
    return env


def build():
    """Compile the benchmark and graft; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp()
        if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
            with open(stamp_file) as fh:
                if fh.read() == want:
                    with open(cp_file) as c:
                        return c.read().strip()
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        log = os.path.join(BUILD, "build.log")
        sbt = shutil.which("sbt")
        if sbt is None:
            fail("sbt is not on PATH")
        print("perfbench: building (sbt compile)...", file=sys.stderr)
        with open(log, "w") as out:
            code, _ = run_child([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "export Runtime/fullClasspath"],
                                HERE, out, subprocess.STDOUT, BUILD_TIMEOUT_S, [], sbt_env(tmp))
        with open(log) as fh:
            lines = fh.read().splitlines()
        if code != 0 or not lines:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail(f"build failed (exit {code}); see {log}", 3)
        cp = lines[-1].strip()
        if not cp or cp.startswith("["):
            fail(f"build printed no classpath; see {log}", 3)
        with open(cp_file, "w") as fh:
            fh.write(cp)
        with open(stamp_file, "w") as fh:
            fh.write(want)
        return cp


def expected_metrics(trace):
    """Metric names BENCHMARK.json promises for this kind of run."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def check_result(line, trace):
    """The JVM's last line must be the result object with every promised
    metric, each with its unit; returns the parsed object."""
    res = json.loads(line)
    if set(res) != RESULT_KEYS:
        raise ValueError(f"result keys {sorted(res)} are not {sorted(RESULT_KEYS)}")
    if not isinstance(res["attempted"], int) or not isinstance(res["failed"], int) \
            or res["attempted"] < 1 or not isinstance(res["correct"], bool):
        raise ValueError("attempted/failed must be whole numbers, attempted >= 1")
    want = expected_metrics(trace)
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])
        raise ValueError(f"metrics differ from BENCHMARK.json: missing {missing}, "
                         f"extra {extra}, wrong unit {wrong}")
    for k, v in res["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            raise ValueError(f"metric {k} is not a number")
    return res


def run_jvm(cp, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not java:
        fail("java is not on PATH")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    tmp = os.path.join(BUILD, "tmp", tag)
    logs = os.path.join(BUILD, "logs")
    for d in (work, tmp, logs):
        os.makedirs(d, exist_ok=True)
    # Fixed sets of JIT compiler and GC threads, so that the workload can
    # leave their CPU out of its CPU figures.
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
           "-XX:-UseDynamicNumberOfGCThreads", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work-dir", work,
            "--trace-dir", os.path.join(BUILD, "traces")]
    log = os.path.join(logs, tag + ".log")
    try:
        with open(log, "w") as err:
            code, out = run_child(cmd, ROOT, subprocess.PIPE, err, RUN_TIMEOUT_S,
                                  [work, tmp])
        if code is None:
            fail(f"workload did not finish within {RUN_TIMEOUT_S}s; see {log}", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"workload exited with {code}; see {log}", 5)
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to perfbench/: run from a graft checkout")
    lines = run_jvm(build(), args)
    try:
        check_result(lines[-1], args.trace == 1)
    except (ValueError, KeyError, TypeError) as e:
        fail(f"bad result line: {e}", 6)
    for l in lines:
        print(l)


if __name__ == "__main__":
    main()
