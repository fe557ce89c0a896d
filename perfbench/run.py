#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 16 --trace 0

Builds the program and the benchmark from source on first use (sbt, into
.bench_build/), runs the workload in one JVM on local[nproc], checks its
outputs, and prints a report to stderr. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, from a
traced pass, with the tracing overhead.

Workloads:
  serve   pinned, centroid-routed ANN serving (graft.index.Ann)
  ingest  the VectorService write path, searched cold from storage
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import metrics  # noqa: E402

HEAP = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, as paths relative to the repository."""
    out = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files]
    out += [os.path.join(HERE, f) for f in ("build.sbt", ".jvmopts",
                                           os.path.join("project", "build.properties"))]
    return sorted(os.path.relpath(p, ROOT) for p in out)


def source_stamp():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compiles with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("perfbench: sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt keeps its global state in the checkout; the launcher and the
    # dependency cache are only read.
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=out, text=True,
                           timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        out.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines:
        log(r.stdout[-3000:])
        raise SystemExit(f"perfbench: build failed (exit {r.returncode}); see .bench_build/build.log")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    return classpath


def load1m():
    return os.getloadavg()[0]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def run_jvm(classpath, args, work, raw):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # A fixed heap (-Xms = -Xmx): G1 then sizes its young generation the same
    # way in every run, so GC pauses land on the same share of requests.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "--add-modules=jdk.incubator.vector",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", raw])
    log_path = os.path.join(BUILD, f"{args.workload}.log")
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: {args.workload} ran past {JVM_TIMEOUT_S} s; "
                             f"see {os.path.relpath(log_path, ROOT)}")
    if code != 0 or not os.path.exists(raw):
        with open(log_path) as f:
            log(f.read()[-3000:])
        raise SystemExit(f"perfbench: {args.workload} JVM exited with {code}")
    with open(raw) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the program's sources (src/main/scala/graft) are missing")

    provenance = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "nproc": os.cpu_count(), "load1m_start": load1m(),
                  "git_commit": git_commit()}
    stamp = source_stamp()
    provenance["source_sha256"] = stamp
    classpath = build(stamp)
    work = os.path.join(BUILD, f"work-{args.workload}-{os.getpid()}")
    reports = os.path.join(BUILD, "reports")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    os.makedirs(reports, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.time()
        raw = run_jvm(classpath, args, work, os.path.join(reports, f"{name}.record.json"))
        provenance["wall_s"] = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    provenance["load1m_end"] = load1m()
    provenance["heap_max_mb"] = raw["heap_max_mb"]
    provenance["cores"] = raw["cores"]

    passes = raw["passes"]
    attempted = sum(p["record"]["attempted"] for p in passes)
    failures = [f for p in passes for f in p["record"]["failures"]]
    if args.trace:
        values = metrics.per_layer(args.workload, passes[0], passes[-1], raw["cores"])
        catalogue = {k: v[0] for k, v in metrics.PER_LAYER.items()}
    else:
        values = metrics.end_to_end(args.workload, passes[0])
        catalogue = {k: v[0] for k, v in metrics.END_TO_END.items()}
    assert set(values) == set(catalogue), set(values) ^ set(catalogue)

    report = {"provenance": provenance, "failures": failures,
              "details": metrics.details(args.workload, passes[-1]), "metrics": values}
    with open(os.path.join(reports, f"{name}.json"), "w") as f:
        json.dump(report, f, indent=1)
    log(f"perfbench {args.workload} seed={args.seed} nproc={provenance['nproc']} "
        f"heap={raw['heap_max_mb']:.0f}MB commit={provenance['git_commit'] or '-'} "
        f"load1m={provenance['load1m_start']:.2f}->{provenance['load1m_end']:.2f} "
        f"wall={provenance['wall_s']:.1f}s")
    for k, v in report["details"].items():
        log(f"  detail  {k:32s} {v:.4f}")
    for k, v in values.items():
        log(f"  metric  {k:32s} {v:.4f} {catalogue[k]}")
    for f in failures:
        log(f"  FAILED  {f['name']}: {f['detail']}")
    log(f"  fail_ratio {len(failures)}/{attempted}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": catalogue[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
