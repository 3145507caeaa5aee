#!/usr/bin/env python3
"""Flow benchmark for graft: three workloads through the public flow API and
the real executor, in one JVM with Spark local[<nproc>].

    python3 flowbench/run.py --workload etl_flow --seed 1 --seconds 4 --trace 0

Builds the program from source on first use (sbt, offline), generates the
inputs from the seed, runs the JVM harness, checks every output, and prints
one JSON result as the last stdout line. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones. See flowbench/README.md.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import analysis  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_flow", "curation_chain", "audit_ingest")
SCALE = 0.02            # TPC-H-like scale factor of the generated inputs
AUDIT_BATCHES = 4
AUDIT_ORDERS = 4000     # orders rows per audit delta (about 4x as many lineitems)
HEAP = "3g"
RUN_LIMIT_S = 170       # a run must end within 180 s
BUILD_LIMIT_S = 850
CANARY_DRIFT = 0.25     # |last/first - 1| above this flags the run as drifting
STEAL_LIMIT = 0.05      # CPU time taken by the host above this flags the run too
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def metric_units():
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def die(msg):
    print(f"[flowbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build compiles: the program and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classes match the current sources.
    Returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("program sources (src/main/scala/graft) not found next to the benchmark")
    stamp = source_hash()
    cp_file = os.path.join(HERE, "target", "flowbench-classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        die("build failed")
    cp = [l for l in p.stdout.splitlines() if l.startswith("/")][-1]
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    print(f"[flowbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def cpu_ticks():
    """(steal, total) CPU ticks from /proc/stat; None where it is unavailable."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, ValueError, IndexError):
        return None


def commit_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "source-sha256:" + source_hash()[:16]


def run_jvm(cp, args, work, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "flowbench.Main"] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("JVM run exceeded its time limit")
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"JVM exited with code {p.returncode}")


def oracle_check(data, dump, deadline):
    """DuckDB oracle over the warm-up dump through tools/compare.py, one
    process per query, all at once. Returns the failing query names."""
    script = os.path.join(ROOT, "tools", "compare.py")
    if not os.path.exists(script):
        die("tools/compare.py not found")
    procs = {q: subprocess.Popen([sys.executable, script, data, dump, q], text=True,
                                 stdout=subprocess.PIPE, stderr=subprocess.PIPE)
             for q in analysis.QUERIES}
    bad = []
    for q, p in procs.items():
        try:
            out, err = p.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            out, err = p.communicate()
        if not any(l.split()[:2] == ["OK", q] for l in out.splitlines()):
            bad.append(q)
            sys.stderr.write(out[-2000:] + err[-1000:])
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    ticks0 = cpu_ticks()

    cp = build()
    deadline = time.time() + RUN_LIMIT_S - 15
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(HERE, ".work"))
    try:
        data = os.path.join(work, "data")
        sizes = gen.generate(data, a.seed, SCALE)
        if a.workload == "audit_ingest":
            gen.audit_batches(os.path.join(data, "audit"), a.seed, AUDIT_BATCHES, AUDIT_ORDERS)
        raw_path = os.path.join(work, "raw.json")
        run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), data, work,
                     raw_path], work, deadline)
        with open(raw_path) as f:
            raw = json.load(f)
        t_oracle = time.time()
        oracle_bad = (oracle_check(data, raw["summary"]["oracle_dump"], deadline)
                      if a.workload == "curation_chain" else [])
        oracle_s = time.time() - t_oracle
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = analysis.counts(raw, oracle_bad)
    drift = raw["canary_last_s"] / raw["canary_first_s"] - 1.0
    ticks1 = cpu_ticks()
    steal = ((ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
             if ticks0 and ticks1 else None)
    stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
             "scale_factor": SCALE, "table_rows": sizes, "nproc": raw["nproc"],
             "heap_max_mb": raw["heap_max_mb"], "spark_version": raw["spark_version"],
             "commit": commit_id(), "python": platform.python_version(),
             "canary_first_s": raw["canary_first_s"], "canary_last_s": raw["canary_last_s"],
             "canary_drift": drift, "steal_frac": steal,
             "drifting": abs(drift) > CANARY_DRIFT or (steal or 0.0) > STEAL_LIMIT,
             "oracle_s": oracle_s, "run_s": time.time() - start}
    if stamp["drifting"]:
        print(f"[flowbench] WARNING: canary drifted {drift:+.1%} and the host took "
              f"{steal or 0.0:.1%} of the CPU during the run; the machine's speed "
              "changed, do not compare this run", file=sys.stderr)
    artifact = dict(stamp, attempted=attempted, failed=failed,
                    errors=analysis.errors(raw, oracle_bad), oracle_failures=oracle_bad,
                    iterations=[{k: i[k] for k in ("iter", "phase", "wall", "attempted", "failed")}
                                for i in raw["iterations"]],
                    summary=raw["summary"])
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    e2e_units, layer_units = metric_units()
    if a.trace:
        layer, stages = analysis.per_layer(raw, raw["nproc"])
        artifact["per_layer"] = layer
        metrics = {k: {"value": layer[k], "unit": u} for k, u in layer_units.items()}
        trace_path = os.path.join(out_dir, f"trace-{a.workload}-s{a.seed}.json")
        analysis.write_trace(trace_path, {
            "stamp": stamp, "spans": raw["trace"]["spans"] + stages,
            "flows": raw["trace"]["flows"], "queries": raw["trace"]["queries"]})
        report = [f"{k} = {v:.6g}" for k, v in layer.items()]
    else:
        e2e = analysis.end_to_end(raw, oracle_bad)
        unit = dict(analysis.REPORT_ONLY_UNITS, **e2e_units)
        artifact["end_to_end"] = {k: {"value": v[0], "unit": unit[k], "n": v[1],
                                      **({"percentile": v[2]} if len(v) > 2 else {})}
                                  for k, v in e2e.items()}
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in e2e_units.items()}
        report = [f"{k} = {v[0] if v[0] is None else format(v[0], '.6g')} {unit[k]} (n={v[1]}"
                  + (f", {v[2]}" if len(v) > 2 else "") + ")" for k, v in e2e.items()]
    with open(os.path.join(out_dir, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"[{a.workload} seed={a.seed}] attempted={attempted} failed={failed} "
          f"errors={artifact['errors']} canary_drift={drift:+.1%} "
          f"steal={steal or 0.0:.1%}")
    for line in report:
        print(f"  {line}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
