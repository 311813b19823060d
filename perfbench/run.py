#!/usr/bin/env python3
"""graft benchmark: one rep of one workload, as a fresh process.

    python3 perfbench/run.py --workload migrate_orders --seed 1 --seconds 45 --trace 0

Run from the root of a checkout. The first call builds the benchmark
package (perfbench/build.sbt, which compiles the repo's sources with the
benchmark's own) and generates the fixture; both are cached under
.bench_build/perfbench/ and rebuilt when their sources change. Each rep
then runs in a fresh JVM with an empty work dir, prints every metric by
name and unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. See perfbench/README.md.
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("migrate_orders", "migrate_lineitem")
JVM_TIMEOUT_S = 170
JVM_OPTS = ["-Xms2g", "-Xmx4g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    arg for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                  "java.base/java.nio", "java.base/java.util",
                  "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action", "java.base/sun.util.calendar")
    for arg in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def files_under(d, suffix):
    return [os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs if f.endswith(suffix)]


def cached(name, inputs, make):
    """Runs make() unless the stamp of `inputs` matches the last build."""
    stamp = os.path.join(OUT, f"{name}.stamp")
    want = digest(inputs)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    make()
    with open(stamp, "w") as f:
        f.write(want)


def build():
    def compile_():
        log("[perfbench] building the benchmark package with sbt ...")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
        with open(os.path.join(OUT, "build.log"), "w") as logf:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"], cwd=HERE, env=env,
                               stdout=subprocess.PIPE, stderr=logf, text=True, timeout=840)
            logf.write(p.stdout)
        cp = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
        if p.returncode != 0 or not cp:
            sys.exit(f"[perfbench] build failed (exit {p.returncode}); see {OUT}/build.log")
        with open(os.path.join(OUT, "classpath.txt"), "w") as f:
            f.write(cp[-1].strip())

    def fixture():
        log("[perfbench] generating the fixture ...")
        shutil.rmtree(os.path.join(OUT, "fixture"), ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_fixture.py"),
                        os.path.join(OUT, "fixture")], check=True)

    cached("classes", [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
           + files_under(os.path.join(ROOT, "src", "main"), ".scala")
           + files_under(os.path.join(HERE, "src"), ".scala"), compile_)
    cached("fixture", [os.path.join(HERE, "gen_fixture.py")], fixture)
    with open(os.path.join(OUT, "classpath.txt")) as f:
        return f.read()


def loadavg():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def run_jvm(cp, workload, seed, trace, nproc):
    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tag = f"{workload}-seed{seed}-trace{trace}"
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    logpath = os.path.join(OUT, "logs", f"{tag}.log")
    args = ["--workload", workload, "--seed", str(seed), "--trace", str(trace),
            "--fixture", os.path.join(OUT, "fixture"), "--work", work,
            "--expected", os.path.join(HERE, "expected_counts.json"), "--cpus", str(nproc),
            "--spans", os.path.join(OUT, "traces", f"{tag}.json"),
            "--t0-ms", str(int(time.time() * 1000))]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    with open(logpath, "w") as logf:
        proc = subprocess.Popen([java] + JVM_OPTS + ["-Djava.io.tmpdir=" + work, "-cp", cp,
                                 "graft.perfbench.Main"] + args,
                                cwd=work, stdout=subprocess.PIPE, stderr=logf, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"[perfbench] {tag} exceeded {JVM_TIMEOUT_S}s; log: {logpath}")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith('{"ops"')]
    if proc.returncode != 0 or not lines:
        sys.exit(f"[perfbench] {tag} failed (exit {proc.returncode}); log: {logpath}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # a rep measures a fixed amount of work (see README.md); the window is
    # accepted so every workload takes the same command line, and printed
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("[perfbench] the graft sources (src/main/scala/graft) are not in this checkout")
    os.makedirs(OUT, exist_ok=True)
    cp = build()
    nproc = len(os.sched_getaffinity(0))
    load0 = loadavg()
    r = run_jvm(cp, a.workload, a.seed, a.trace, nproc)
    load1 = loadavg()

    ops = r["ops"]
    failed = [o for o in ops if not o["ok"]]
    metrics = r["per_layer"] if a.trace else r["end_to_end"]
    width = max(len(k) for k in list(metrics) + ["failed_frac"])
    print(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} nproc={nproc} "
          f"loadavg start={load0} end={load1}")
    for k, v in r["detail"].items():
        print(f"  {k}: {v}")
    for o in failed:
        print(f"  FAILED {o['name']}: {o['error']}")
    for k, m in metrics.items():
        print(f"  {k:<{width}} {m['value']:>16.6g} {m['unit']}")
    print(f"  {'failed_frac':<{width}} {len(failed) / len(ops):>16.6g} ratio "
          f"({len(failed)} of {len(ops)} ops)")
    last = os.path.join(OUT, "last", f"{a.workload}.json")
    if a.trace:
        # tracing overhead: traced end-to-end metrics against the last
        # untraced run of this workload in this checkout
        if os.path.exists(last):
            base = json.load(open(last))
            print(f"  tracing overhead against the untraced run with seed {base['seed']}:")
            for k, m in r["end_to_end"].items():
                b = base["metrics"].get(k, {}).get("value")
                if b:
                    print(f"    {k:<{width}} {m['value']:>14.6g} vs {b:>14.6g} "
                          f"({100.0 * (m['value'] - b) / b:+.1f}%)")
        print(f"  spans: {os.path.join(OUT, 'traces')}")
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        json.dump({"seed": a.seed, "metrics": metrics}, open(last, "w"))
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
