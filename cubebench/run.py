"""Cube-engine benchmark: one run of one workload.

    python3 cubebench/run.py --heap 3g --workload cube_build --seed 1 --seconds 1 --trace 0

Builds the engine and the harness from the checkout (see build.py),
generates the workload's inputs from --seed, runs the timed loop in one
JVM on local[nproc], checks the outputs, and prints as its last line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). Exits non-zero if any output check fails.
Everything it writes lives under one work directory inside
``cubebench/.work`` that is deleted at exit; traced runs also keep their
span log under ``cubebench/out``.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402
import scenes  # noqa: E402

# Workload sizes.
CUBE_BUILD = dict(tiles=2, periods=2, dates=3, px=256)
QUERY_SF = 0.01
JVM_TIMEOUT_S = 160

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def prepare(workload, seed, work):
    """Generate the seeded inputs; returns (harness args, expectations)."""
    if workload == "cube_build":
        c = CUBE_BUILD
        d = os.path.join(work, "scenes")
        os.makedirs(d)
        ref = {}
        for p in range(c["periods"]):
            arrays = scenes.write_period(seed, d, c["tiles"], p, c["dates"], c["px"])
            ref.update(scenes.lcf_reference(arrays, c["tiles"], p, c["dates"]))
        return ["--scenes", d, "--periods", str(c["periods"])], dict(c, sums=ref)
    if workload == "query_suite":
        import tables
        d = os.path.join(work, "tables")
        os.makedirs(d)
        tables.generate(seed, QUERY_SF, d)
        res = os.path.join(work, "results")
        return ["--tables", d, "--results", res], dict(tables=d, results=res)
    raise SystemExit("unknown workload %s" % workload)


def run_jvm(classes, args, work, heap, log_path):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + heap, "-Xss4m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.language=en", "-Duser.country=US"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + jars, "graftbench.Main"] + args
    records = []
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                cwd=work, start_new_session=True)
        # a harness that hangs is killed, so the run still ends in time
        watchdog = threading.Timer(JVM_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
        watchdog.start()
        try:
            for line in proc.stdout:
                if line.startswith(b"@@ "):
                    records.append(json.loads(line[3:]))
            proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return proc.returncode, records


def _terminate(*_):
    # a second signal (say, from a wrapper forwarding its own) must not cut
    # the clean-up short
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(metrics.MAIN_OP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--heap", required=True, help="JVM heap of the harness, as -Xmx takes it")
    a = ap.parse_args(argv)
    # a terminated run still stops the harness and removes its work dir
    signal.signal(signal.SIGTERM, _terminate)

    classes = build.ensure()
    t_setup = time.time()
    base = os.path.join(HERE, ".work")
    work = os.path.join(base, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args, expect = prepare(a.workload, a.seed, work)
        t_inputs = time.time()
        spans_path = os.path.join(work, "spans.json")
        cores = len(os.sched_getaffinity(0))
        rc, records = run_jvm(classes, [
            "--workload", a.workload, "--work", work, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores),
            "--spans", spans_path] + args, work, a.heap,
            os.path.join(work, "harness.log"))
        if rc != 0:
            sys.stderr.write(open(os.path.join(work, "harness.log"),
                                  errors="replace").read()[-4000:])
            raise SystemExit("harness exited with %d" % rc)
        marks = {r["ev"]: r["end_ms"] / 1e3 for r in records if r["ev"] in ("session", "setup")}
        if len(marks) == 2:
            sys.stderr.write("set-up: inputs %.1f s, jvm+session %.1f s, warm-up %.1f s\n" % (
                t_inputs - t_setup, marks["session"] - t_inputs, marks["setup"] - marks["session"]))
        for kind in sorted({r["kind"] for r in records if r["ev"] == "op"}):
            sys.stderr.write("%s: %s\n" % (kind, " ".join(
                "%s%.3f/%.3f" % (r["name"] + "=" if "name" in r else "", r["s"], r["cpu_s"])
                for r in records if r["ev"] == "op" and r["kind"] == kind)))
        checks = metrics.check(a.workload, records, expect)
        result = metrics.result(a.workload, records, checks, t_setup, a.trace)
        if a.trace:
            log = open(os.path.join(work, "harness.log"), errors="replace").read()
            spans = json.load(open(spans_path)) if os.path.exists(spans_path) else []
            result["metrics"].update(metrics.traced(a.workload, records, log, expect))
            metrics.missing_layers(result["metrics"])
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, "trace-%s-%d.json" % (a.workload, a.seed)), "w") as f:
                json.dump({"spans": spans, "self_s": metrics.self_times(spans)}, f)
        for line in checks["errors"][:20]:
            sys.stderr.write("check failed: %s\n" % line)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result, sort_keys=True))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
