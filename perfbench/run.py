#!/usr/bin/env python3
"""Build and run the KG-construction benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload entity_rich_batch --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

The first run compiles the program from `src/` together with the
benchmark (sbt, offline) into `.bench_build/`; later runs reuse the
build while no source is newer. The JVM prints a detail line and a
result line per workload; the result line is the last line of stdout.
`--smoke` runs every workload at smoke size, traced and untraced, and
checks that each metric of BENCHMARK.json is emitted with its unit and
that every correctness gate passes.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# the module openings Spark needs on JDK 17 outside spark-submit
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    """Newest mtime among the sources and build definitions (sbt's own
    output under `project/` subdirectories does not count)."""
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, f) for f in names]
    for top in (ROOT, BENCH):
        files += [os.path.join(top, "build.sbt")]
        proj = os.path.join(top, "project")
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if os.path.isfile(os.path.join(proj, f))]
    return max((os.path.getmtime(f) for f in files if os.path.exists(f)), default=0.0)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole
    group (sbt and Spark start child JVMs) and wait for it."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout} s")
    return p.returncode, out


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources under src/main/scala/graft; run from the repository root")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail("no build.sbt at the repository root")
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return open(CLASSPATH).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "perfbench/compile", "export perfbench/Runtime/fullClasspath"]
    code, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env, stderr=subprocess.STDOUT)
    out = out.strip().splitlines()
    if code != 0 or not out or ".jar" not in out[-1]:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        fail(f"build failed (exit {code})")
    with open(CLASSPATH, "w") as f:
        f.write(out[-1].strip())
    return out[-1].strip()


def run_jvm(cp, args):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # Spark's scratch space stays inside the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    # a fixed heap: G1 does not resize it between runs
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=300",
              "-XX:+ParallelRefProcEnabled", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Djava.awt.headless=true", "-cp", cp, "perfbench.BenchMain"]
           + args + ["--work", os.path.join(BUILD, "work")])
    return run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env)


def smoke(cp, spec):
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    bad = []
    for trace, want in (("0", e2e), ("1", layer)):
        t0 = time.time()
        code, out = run_jvm(cp, ["--workload", "all", "--seed", "1", "--seconds", "1",
                                 "--trace", trace, "--size", "smoke"])
        lines = out.strip().splitlines()
        results = [json.loads(l) for l in lines if l.startswith('{"correct"')]
        print(f"smoke trace={trace}: {len(results)} workloads, exit {code}, "
              f"{time.time() - t0:.0f} s", file=sys.stderr)
        if code != 0 or len(results) != 3:
            bad.append(f"trace={trace}: exit {code}, {len(results)} results")
        for r in results:
            if not r["correct"]:
                bad.append(f"trace={trace}: gate failed: {r}")
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want:
                bad.append(f"trace={trace}: metric names/units differ: "
                           f"missing {sorted(set(want) - set(got))}, "
                           f"extra {sorted(set(got) - set(want))}, "
                           f"units {[k for k in want if k in got and got[k] != want[k]]}")
    for b in bad:
        print("smoke FAIL:", b, file=sys.stderr)
    print(json.dumps({"smoke": "fail" if bad else "ok", "problems": len(bad)}))
    sys.exit(1 if bad else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    cp = build()
    if a.smoke:
        smoke(cp, json.load(open(spec_path)))
    code, out = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", a.trace])
    lines = out.strip().splitlines()
    try:
        last = json.loads(lines[-1])
        assert set(last) == {"correct", "attempted", "failed", "metrics"}
    except Exception:
        sys.stdout.write(out)
        fail(f"benchmark process printed no result (exit {code})")
    sys.stdout.write(out if out.endswith("\n") else out + "\n")
    sys.exit(code)


if __name__ == "__main__":
    main()
