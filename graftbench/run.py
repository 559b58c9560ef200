"""graft benchmark entry point.

    python3 graftbench/run.py --workload temporal_history --seed 1 --seconds 20 --trace 0
    python3 graftbench/run.py --selftest

Builds graft and the benchmark from this checkout's sources (see build.py),
then runs one benchmark JVM: a single closed-loop client driving graft's
public Scala API on a local Spark session. The JVM prints one JSON result
line; this script relays it as the last line of stdout. Host forensics go
to stderr. Run data lives under graftbench/.run and is removed afterwards,
except the span files of traced runs (graftbench/.run/traces).

--selftest runs the benchmark's own unit checks (statistics, models) and a
one-round run with one deliberately wrong expected answer, which must come
back as exactly one failed operation.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

WORKLOADS = ("temporal_history", "jsoniq_documents")
JVM_TIMEOUT_S = 170


def jvm(jvm_opts, main, args, tmpdir):
    """Run one benchmark JVM; return (exit code, stdout)."""
    classpath, extra = jvm_opts
    cmd = build.java_cmd(classpath, tmpdir, extra) + [main] + args
    code, out = build.run_group(cmd, JVM_TIMEOUT_S, stdout=subprocess.PIPE, stderr=sys.stderr,
                                text=True)
    if code is None:
        raise SystemExit(f"run: {main} exceeded {JVM_TIMEOUT_S} s")
    return code, out


def result_line(out):
    for line in reversed(out.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    return None


def bench(jvm_opts, workload, seed, seconds, trace, inject_wrong=False):
    run_root = os.path.join(HERE, ".run")
    data = os.path.join(run_root, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", data,
            "--traces", os.path.join(run_root, "traces")]
    if inject_wrong:
        args += ["--inject-wrong", "1"]
    try:
        os.makedirs(os.path.join(data, "tmp"))
        code, out = jvm(jvm_opts, "graftbench.Main", args, os.path.join(data, "tmp"))
    finally:
        shutil.rmtree(data, ignore_errors=True)
    sys.stderr.write(out)
    res = result_line(out)
    if code != 0 or res is None:
        raise SystemExit(f"run: benchmark JVM exited {code} without a result")
    return res


def selftest(jvm_opts):
    tmp = os.path.join(HERE, ".run", f"selftest-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    try:
        code, out = jvm(jvm_opts, "graftbench.SelfTest", [], tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.stderr.write(out)
    if code != 0:
        raise SystemExit("selftest: unit checks failed")
    for w in WORKLOADS:
        res = bench(jvm_opts, w, 7, 1, 0, inject_wrong=True)
        ok = res["failed"] == 1 and res["correct"] is False
        print(f"selftest: {w}: one injected wrong answer -> attempted={res['attempted']} "
              f"failed={res['failed']} correct={res['correct']}: {'ok' if ok else 'FAIL'}")
        if not ok:
            raise SystemExit(1)
    print("selftest: ok")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    jvm_opts = build.build()
    if a.selftest:
        selftest(jvm_opts)
        return
    if a.workload is None:
        ap.error("--workload is required")
    res = bench(jvm_opts, a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
