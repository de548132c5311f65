#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--artifact <path>]

Run from the root of a checkout. It builds the engine and the harness in
`perfbench/harness` (sbt, cached under `.bench_build/` by a hash of the
sources), generates the workload's input from the seed (`gen.py`), and
runs `perfbench.Main` on `local[k]`, k = min(2, cores), two cores left
to the driver, JIT and GC threads. One client runs the workload's op
list in passes, one op at a time, each after `clearCache()` and drained
through the noop sink:

  * set-up: three session starts (median) plus the warm-up passes;
  * the first, cold pass is the check pass: SparkEntry outputs are
    written the way graft.Verify writes them and compared untimed with
    `scripts/oracle_check.py` (DuckDB); then two warm passes;
  * the timed window: whole passes for `--seconds`, at least two;
  * store checks: served results against the batch operator over the
    surviving rows.

Every metric is printed as `name value unit`; the last line is one JSON
object {correct, attempted, failed, metrics}: the end-to-end metrics
with `--trace 0`; with `--trace 1` the per-layer metrics of listener-on
passes alternated with the timed ones, plus direct layer calls. The
full artifact (metrics, spans, counters) goes to `--artifact`, by
default `.bench_build/results/<workload>-<seed>-trace<t>.json`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = sorted(metrics.ENTRY_OPS)
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main",
            os.path.join("perfbench", "harness", "build.sbt"),
            os.path.join("perfbench", "harness", "project"),
            os.path.join("perfbench", "harness", "src")]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path)
            if "target" not in d.split(os.sep) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile engine + harness once per source state; return the
    runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" +
        os.path.expanduser(os.path.join("~", ".sbt", "repositories")),
        "-Dsbt.offline=true", "-Xmx2g"]))
    log("building engine and harness (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench", "harness"), env=env,
        stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines()
             if "/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit("perfbench: build failed")
    log(f"build took {time.time() - t0:.1f} s")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def java_cmd(cp, work, mem, main_args):
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + [f"-Xms{mem}", f"-Xmx{mem}", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={work}/tmp",
                  "-cp", cp, "perfbench.Main"] + main_args


def run_java(cmd, logfile, work):
    # Spark's scratch space stays in the checkout, whatever the caller's
    # environment says
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            return p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def oracle_check(root, out, gen_dir, ops):
    """Per op: True when the check pass dumped it and its DuckDB oracle
    (or, for ops without one, a non-empty output) agrees."""
    import pyarrow.parquet as pq
    verdict = {}
    errs_file = os.path.join(out, "verify_errors.json")
    crashed = set(json.load(open(errs_file))) if os.path.exists(errs_file) \
        else set(ops)
    p = subprocess.run([sys.executable,
                        os.path.join(root, "scripts", "oracle_check.py"),
                        out, gen_dir] + list(ops),
                       capture_output=True, text=True, timeout=120)
    for line in p.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("OK", "FAIL"):
            verdict[parts[1].rstrip(":")] = parts[0] == "OK"
            if parts[0] == "FAIL":
                log(line)
    for op in ops:
        if op in crashed:
            verdict[op] = False
        elif op not in verdict:
            try:
                t = pq.read_table(os.path.join(out, op))
                verdict[op] = t.num_rows > 0 and \
                    "__graft_verify_error" not in t.column_names
            except Exception as e:  # a missing dump fails the op
                log(f"{op}: unreadable output: {e}")
                verdict[op] = False
    return verdict


def cores():
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    return max(1, min(2, n or 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--artifact")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main"))):
        raise SystemExit("perfbench: run from the root of a checkout of the "
                         "engine (build.sbt and src/main not found)")
    out = os.path.join(root, ".bench_build")
    cp = build(root, out)

    tag = f"{a.workload}-{a.seed}-trace{a.trace}"
    work = os.path.join(out, "work", f"{tag}-{os.getpid()}")
    gen_dir = os.path.join(work, "input")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        manifest = gen.generate(a.seed, gen_dir)
        gen_s = time.time() - t0
        raw_file = os.path.join(work, "raw.json")
        check_out = os.path.join(work, "check")
        k = cores()
        t_java = time.time()
        rc = run_java(java_cmd(cp, work, "3g", [
            "--workload", a.workload, "--gen", gen_dir, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(k), "--out", raw_file,
            "--check-out", check_out]), os.path.join(work, "java.log"), work)
        if rc is None or not os.path.exists(raw_file):
            with open(os.path.join(work, "java.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: harness failed (rc={rc})")
        java_s = time.time() - t_java
        raw = json.load(open(raw_file))
        t_check = time.time()
        verdict = oracle_check(root, check_out, gen_dir, raw["entry_ops"]) \
            if raw["entry_ops"] else {}
        oracle_s = time.time() - t_check
        res = metrics.summarize(raw, verdict, k)
        res.update(workload=a.workload, trace=a.trace, runs=raw["runs"])
        res["info"].update(gen_s=gen_s, seed=a.seed, input=manifest,
                           harness_rc=rc, java_s=java_s, oracle_s=oracle_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    art = a.artifact or os.path.join(out, "results", f"{tag}.json")
    os.makedirs(os.path.dirname(os.path.abspath(art)), exist_ok=True)
    with open(art, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)

    for name, m in sorted(res["end_to_end"].items()) + \
            sorted(res["per_layer"].items() if a.trace else []):
        print(f"{name} {m['value']:.6g} {m['unit']}")
    for name, v in sorted(res["info"].items()):
        if isinstance(v, (int, float, str)):
            print(f"info.{name} {v}")
    chosen = metrics.E2E if a.trace == 0 else metrics.PER_LAYER
    src = res["end_to_end"] if a.trace == 0 else res["per_layer"]
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: src[n] for n in chosen}}))


if __name__ == "__main__":
    main()
