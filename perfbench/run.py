#!/usr/bin/env python3
"""graft benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Builds the engine and the harness from the checkout's sources (once per
source state), generates the workload's inputs from the seed, runs the
workload in one fresh JVM with its own tmpdir, Spark local dirs,
warehouse and store root (deleted afterwards), checks the outputs, prints
every metric by name with its unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The exit code is non-zero when any output check fails.

``--record-digests`` (maintenance) rewrites ``perfbench/digests.json``
from the catalog workload's warm pass instead of checking against it.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen       # noqa: E402
import metrics   # noqa: E402

WORKLOADS = ("catalog_curation", "provider_refresh")
XMX = "2g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def source_stamp():
    """Hash of every file the build reads: the engine's main sources and
    build definition, and the harness's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt (offline) unless the classpath
    for this exact source state is already there; returns the classpath."""
    out = os.path.join(STATE, "build")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    want = source_stamp()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")]).strip()
    log("building engine and harness (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def launch(cp, workload, args, work, record_digests):
    """Run the harness JVM; returns (seconds from launch to session ready,
    raw record)."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    out = os.path.join(work, "record.json")
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens",
                                                        f"{p}=ALL-UNNAMED")]
           + [f"-Xms{XMX}", f"-Xmx{XMX}", f"-Djava.io.tmpdir={dirs['tmp']}",
              "-cp", cp,
              "graft.perfbench.Main",
              "--workload", workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", os.path.join(work, "data"),
              "--inputs", os.path.join(work, "inputs"),
              "--work", work, "--out", out,
              "--digests", os.path.join(HERE, "digests.json")])
    if record_digests:
        cmd += ["--record-digests", os.path.join(HERE, "digests.json")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=dirs["local"])
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    ready = []

    def pump():
        for line in proc.stdout:
            if not ready and line.strip() == "READY":
                ready.append(time.perf_counter() - t0)
            else:
                sys.stderr.write(line)

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        proc.wait(timeout=RUN_LIMIT_S - (time.time() - args.started))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("run exceeded its time limit")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    reader.join()
    if proc.returncode != 0 or not ready or not os.path.exists(out):
        raise SystemExit(f"harness JVM failed (exit {proc.returncode})")
    with open(out, encoding="utf-8") as f:
        return ready[0], json.load(f)


def _stop(signum, _frame):
    # unwinds through launch()/build(), which stop their child process
    raise SystemExit(f"stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, _stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala",
                                           "graft"))):
        log("engine sources not found next to perfbench/ "
            "(run from the root of a graft checkout)")
        return 2
    spec = benchmark_spec()
    cp = build()
    args.started = time.time()
    work = os.path.join(STATE, "runs",
                        f"{args.workload}-{args.seed}-{args.trace}-"
                        f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "catalog_curation":
            gen.catalog_tables(os.path.join(work, "data"))
        else:
            gen.provider_inputs(args.seed, os.path.join(work, "inputs"))
        ready_s, rec = launch(cp, args.workload, args, work,
                              args.record_digests)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks = list(rec["checks"])
    if args.trace:
        bad = metrics.self_time_violations(rec["spans"])
        checks.append({"name": "span self-time identity", "ok": not bad,
                       "detail": "; ".join(bad)})
        values, detail = metrics.per_layer(rec), {}
        wanted = spec["per_layer"]
    else:
        values, detail = metrics.end_to_end(rec, ready_s)
        wanted = spec["end_to_end"]
    correct = (rec["failed"] == 0 and all(c["ok"] for c in checks))
    out = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
           for m in wanted}

    env = dict(rec["env"], xmx=XMX)
    print(f"env: {json.dumps(env, sort_keys=True)}")
    for c in checks:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}"
              + (f": {c['detail']}" if c["detail"] and not c["ok"] else ""))
    for name, v in out.items():
        extra = f"  ({detail[name]})" if name in detail else ""
        print(f"{name} = {v['value']:.6g} {v['unit']}{extra}")
    for name in (n for n in metrics.INFO_UNITS if n not in out
                 and n in values and not args.trace):
        print(f"info {name} = {values[name]:.6g} "
              f"{metrics.INFO_UNITS[name]}  ({detail[name]})")
    result = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "seconds": args.seconds, "env": env,
              "correct": correct, "checks": checks, "metrics": out,
              "detail": detail, "measured": values}
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(STATE, "results",
                           f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
