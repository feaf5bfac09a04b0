#!/usr/bin/env python3
"""graft benchmark: one closed-loop client over the claims and operator layers.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source on first use (sbt, output
under .bench_build/), generates the workload's inputs from the seed,
runs one JVM with a local[nproc] Spark session, checks the outputs and
prints one JSON result line last on stdout. Everything else goes to
stderr. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
WORKLOADS = ["claims", "operator-surface"]
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 840        # the first run of a checkout may take 900 s
JVM_HEAP = "2g"
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")

sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_files():
    """Everything the build reads, in a stable order."""
    out = []
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, _, fs in os.walk(base):
            out.extend(os.path.join(d, f) for f in fs)
    out += [os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def build():
    """Compile once per source state; returns the runtime classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src) or not os.path.isfile(os.path.join(HERE, "build.sbt")):
        raise SystemExit("perfbench: library sources (src/main/scala) not found; "
                         "run from a full checkout of the repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("perfbench: building (sbt compile) ...")
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           f"-Dperfbench.target={os.path.join(BUILD, 'sbt-target')}",
           "export Runtime/fullClasspathAsJars"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        log("\n".join(lines[-40:]))
        raise SystemExit("perfbench: build failed")
    cps = [l.strip() for l in lines if "sbt-target" in l and os.pathsep in l
           and not l.startswith("[")]
    if not cps:
        log("\n".join(lines[-40:]))
        raise SystemExit("perfbench: build printed no classpath")
    classpath = cps[-1]
    archive_classes(classpath)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def archive_classes(classpath):
    """Dump the classes a short Spark session loads into a class-data
    sharing archive: every run then maps them instead of loading ~10k
    classes (about 6 s less start-up per JVM at 4 cores). A stale or
    unusable archive only costs that time back; the JVM ignores it."""
    work = os.path.join(BUILD, "runs", "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        gen.gen_warmup(os.path.join(work, "inputs"), 0)
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        with open(os.path.join(BUILD, "perfbench-archive.log"), "w") as log_file:
            run_jvm(classpath, ["--workload", "warmup", "--seconds", "0", "--trace", "0",
                                "--work", work, "--inputs", os.path.join(work, "inputs")],
                    work, time.time() + BUILD_LIMIT_S, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                    log_file)
    finally:
        shutil.rmtree(work, ignore_errors=True)


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(classpath, args, work, deadline, extra=None, out=sys.stderr):
    if extra is None:
        extra = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC"] + extra + [
           "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dlog4j2.level=ERROR", "-Dspark.ui.enabled=false"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8")
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=out,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("perfbench: run exceeded its time limit")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def expected_names():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return ([m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    t_start = time.time()

    classpath = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        if a.workload == "operator-surface":
            gen.gen_tables(inputs, a.seed)
        else:
            gen.gen_claims(inputs, a.seed)
        log(f"perfbench: inputs generated at {time.time() - t_start:.1f} s")
        rc = run_jvm(classpath, ["--workload", a.workload, "--seconds", str(a.seconds),
                                 "--trace", a.trace, "--work", work, "--inputs", inputs],
                     work, deadline)
        result_file = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            raise SystemExit(f"perfbench: harness exited with code {rc}")
        with open(result_file, encoding="utf-8") as f:
            res = json.load(f)
        log(f"perfbench: harness done at {time.time() - t_start:.1f} s")

        if a.workload == "operator-surface":
            ok, detail = oracle.compare(os.path.join(work, "out"), inputs)
            res["checks"].append({"name": "entry outputs == DuckDB oracle SQL",
                                  "ok": ok, "detail": detail})
        if a.workload == "claims":
            res["checks"].append(oracle.recorded_hashes(a.seed, res["report_hashes"]))
            log(f"perfbench: report hashes {json.dumps(res['report_hashes'], sort_keys=True)}")

        log(f"perfbench: checks done at {time.time() - t_start:.1f} s")
        e2e_names, layer_names = expected_names()
        metrics = res["per_layer"] if a.trace == "1" else res["end_to_end"]
        names = layer_names if a.trace == "1" else e2e_names
        if list(metrics) != names:
            raise SystemExit("perfbench: metric names differ from BENCHMARK.json: "
                             f"harness only {sorted(set(metrics) - set(names))}, "
                             f"BENCHMARK.json only {sorted(set(names) - set(metrics))}")
        if a.trace == "1":
            trace_dir = os.path.join(BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            dst = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
            shutil.copy(os.path.join(work, "trace.json"), dst)
            with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.metrics.json"),
                      "w", encoding="utf-8") as f:
                json.dump({k: res[k] for k in ("end_to_end", "per_layer", "report_hashes")},
                          f, indent=1)
            log(f"perfbench: trace written to {os.path.relpath(dst, ROOT)}")
        for c in res["checks"]:
            log(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
        for fl in res["failures"]:
            log(f"failed operation: {fl}")
        log(f"perfbench: ops={res['ops']} session_s={res['session_s']:.2f} "
            f"cores={res['cores']} wall_s={time.time() - t_start:.1f}")
        out = {"correct": all(c["ok"] for c in res["checks"]),
               "attempted": res["attempted"], "failed": res["failed"],
               "metrics": {n: metrics[n] for n in names}}
        print(json.dumps(out, ensure_ascii=False), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
