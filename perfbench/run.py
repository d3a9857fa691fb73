"""Benchmark command.

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark from source (perfbench/build.py), runs
one workload on local Spark, and prints the workload's context as a JSON
line followed, as the last line, by the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
of a traced run (the span summary is also written to
.bench_out/trace-<workload>-<seed>.json). Exits non-zero when an output
check fails or the run breaks. Everything it writes stays under
.bench_build and .bench_out in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # TERM and HUP unwind through the clean-ups below, which stop the
    # compiler or the JVM; the JVM also ends itself when its stdin
    # closes (see Main), so it cannot outlive a launcher killed outright
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    signal.signal(signal.SIGHUP, lambda *_: sys.exit(129))

    cp = build.ensure()
    start = time.time()
    work = os.path.join(build.OUT, "work", "%s-%d" % (a.workload, os.getpid()))
    outdir = os.path.join(build.ROOT, ".bench_out")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(outdir, exist_ok=True)
    log = os.path.join(outdir, "%s-%d-trace%d.log" % (a.workload, a.seed, a.trace))
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # few JVM service threads beside Spark's two task threads (Main.Cores),
    # so the run does not contend with itself on a 4-core host; the JIT
    # compiler threads live as long as the JVM, so Env.engineCpuS can
    # leave their CPU time out
    cmd += ["-Xmx3g", "-XX:-UsePerfData", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
            "-XX:CICompilerCount=2", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--trace-out", os.path.join(outdir, "trace-%s-%d.json" % (a.workload, a.seed))]
    proc = None
    stdout = os.path.join(work, "stdout.txt")
    try:
        with open(log, "w") as err, open(stdout, "w") as sink:
            proc = subprocess.Popen(cmd, cwd=build.ROOT, stdin=subprocess.PIPE, stdout=sink,
                                    stderr=err)
            try:
                proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - start)))
            except subprocess.TimeoutExpired:
                raise SystemExit("perfbench: run exceeded %d s (log: %s)" % (RUN_LIMIT_S, log))
        with open(stdout) as fh:
            out = fh.read()
    finally:
        if proc is not None:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            proc.stdin.close()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit("perfbench: the run printed no result (exit %s, log: %s)"
                         % (proc.returncode, log))
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
