#!/usr/bin/env python3
"""graft benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
engine's main sources together with the benchmark (sbt, offline) and records
a class-data archive in an untimed serve run; later runs reuse
both while the sources are unchanged. The run starts one JVM,
prints every metric with its unit and, as its last line, one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Everything it writes stays under perfbench/.work/.
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
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("serve", "ingest")
# a run must end within 180 s, the first one in a checkout (which compiles
# and records the class-data archive) within 900 s; leave room to stop the
# JVM and report
RUN_LIMIT_S = 165
FIRST_RUN_LIMIT_S = 880
BUILD_LIMIT_S = 480
# JVM flags Spark needs on JDK 17 outside spark-submit (the engine's build
# passes the same list to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def run_bounded(cmd, limit_s, **kw):
    """Runs cmd in its own process group; kills the group past limit_s and
    waits for it. Returns (returncode, stdout)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit_s)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {limit_s:.0f} s and was stopped")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_stamp():
    """Hash of every source the benchmark compiles: names one source state."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def jvm_cmd(cp, cds, run_dir, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", cds, f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"] + args


def run_jvm(cp, cds, args, limit_s):
    """Runs perfbench.Main in a scratch directory under .work/ that is
    deleted afterwards; returns (returncode, stdout)."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               GRAFT_SPARK_LOCAL=os.path.join(run_dir, "spark-local"))
    try:
        return run_bounded(jvm_cmd(cp, cds, run_dir, args + ["--work", run_dir]), limit_s,
                           cwd=run_dir, env=env, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def prepare(deadline):
    """Compiles the engine + benchmark once per source state, and records
    the class-data archive in one untimed serve run (the session, the build
    and every request route), so every measured run maps the same archive.
    Returns (runtime classpath, source stamp, archive path)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no engine sources under {ROOT}/src/main/scala; run from a full checkout")
    stamp = source_stamp()
    build_dir = os.path.join(WORK, "build")
    cp_file, stamp_file = os.path.join(build_dir, "classpath.txt"), os.path.join(build_dir, "stamp")
    jsa = os.path.join(build_dir, "classes.jsa")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        cp = open(cp_file).read()
    else:
        os.makedirs(build_dir, exist_ok=True)
        for f in os.listdir(build_dir):
            os.remove(os.path.join(build_dir, f))
        env = dict(os.environ, COURSIER_MODE="offline")
        cmd = ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
               "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"]
        print("perfbench: compiling the engine and the benchmark", file=sys.stderr)
        t0 = time.time()
        code, out = run_bounded(cmd, BUILD_LIMIT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL)
        if code != 0:
            sys.stderr.write(out[-4000:])
            fail("sbt build failed")
        lines = [l.strip() for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
        if not lines:
            fail("sbt printed no classpath")
        cp = lines[-1]
        with open(cp_file, "w") as fh:
            fh.write(cp)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        print(f"perfbench: compiled in {time.time() - t0:.0f} s", file=sys.stderr)
    if not os.path.exists(jsa):
        print("perfbench: recording the class-data archive (untimed)", file=sys.stderr)
        t0 = time.time()
        code, out = run_jvm(cp, f"-XX:ArchiveClassesAtExit={jsa}.tmp",
                            ["--workload", "serve", "--seed", "0", "--seconds", "1",
                             "--trace", "0"], deadline - time.time())
        if code != 0 or not os.path.exists(jsa + ".tmp"):
            sys.stderr.write(out[-3000:])
            fail(f"recording the class-data archive failed (exit {code})")
        os.replace(jsa + ".tmp", jsa)
        # write the archive and the recording run's files back now, not
        # during the first measured run
        os.sync()
        print(f"perfbench: archive recorded in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp, stamp, jsa


def breakdown(spans_path):
    """Self time per layer, and parents whose children leave >10% of their
    wall unattributed. A Spark job span is re-parented to the deepest span of
    its request that contains its start."""
    spans = [json.loads(l) for l in open(spans_path)]
    by_id = {s["id"]: s for s in spans}
    by_req = {}
    for s in spans:
        by_req.setdefault(s["req"], []).append(s)
    for s in spans:
        if s["layer"] == "spark":
            inner = [p for p in by_req[s["req"]] if p["layer"] != "spark"
                     and p["start_ns"] <= s["start_ns"] <= p["end_ns"]]
            if inner:
                s["parent"] = min(inner, key=lambda p: p["end_ns"] - p["start_ns"])["id"]
    children = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)
    self_s, flagged = {}, {}
    for s in spans:
        wall = s["end_ns"] - s["start_ns"]
        ivs = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                     for c in children.get(s["id"], []))
        covered, end = 0, s["start_ns"]
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        own = wall - covered
        self_s[s["layer"]] = self_s.get(s["layer"], 0.0) + own / 1e9
        if s["id"] in children and wall > 0 and own / wall > 0.10:
            key = f'{s["layer"]}:{s["name"]}'
            flagged[key] = flagged.get(key, 0) + 1
    return self_s, flagged


def check_exact(stamp, workload, seed, exact):
    """Counts that must repeat for a seed; returns the names that differ
    from an earlier run of the same seed on the same sources."""
    d = os.path.join(WORK, "exact", stamp)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-{seed}.json")
    seen = json.load(open(path)) if os.path.exists(path) else {}
    differ = sorted(k for k, v in exact.items() if k in seen and seen[k] != v)
    seen.update(exact)
    with open(path, "w") as fh:
        json.dump(seen, fh, sort_keys=True)
    return differ


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # on SIGTERM unwind through run_bounded, which stops the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found beside perfbench/")
    spec = json.load(open(spec_path))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp, stamp, jsa = prepare(time.time() + FIRST_RUN_LIMIT_S - RUN_LIMIT_S)
    spans = os.path.join(WORK, "spans", f"{a.workload}-seed{a.seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    code, out = run_jvm(cp, f"-XX:SharedArchiveFile={jsa}",
                        ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                         "--trace", str(a.trace), "--spans", spans], RUN_LIMIT_S)
    res = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not res:
        sys.stderr.write(out[-3000:])
        fail(f"benchmark JVM exited with {code} and {'a' if res else 'no'} result", 1)
    r = json.loads(res[-1][len("PERFBENCH_RESULT "):])
    results = os.path.join(WORK, "results", stamp)
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(r, fh, indent=1)

    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}")
    for n in r["notes"]:
        print(n)
    differ = check_exact(stamp, a.workload, a.seed, r["exact"])
    if differ:
        print(f"NONDETERMINISTIC: {', '.join(differ)} differ from an earlier run of this seed")
    if a.trace:
        self_s, flagged = breakdown(spans)
        print("self time by layer (s): " + " ".join(f"{k}={v:.3f}" for k, v in sorted(self_s.items())))
        print("parents with >10% unattributed: " +
              (" ".join(f"{k} x{v}" for k, v in sorted(flagged.items())) or "none"))
        for layer, v in self_s.items():
            r["metrics"][f"trace.self_s.{layer}"] = {"value": v, "unit": "s"}
        r["metrics"]["trace.unattributed_parents"] = {"value": sum(flagged.values()), "unit": "count"}
        untraced = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(untraced) and "trace.p50_ms_traced" in r["metrics"]:
            base = json.load(open(untraced))["metrics"]["p50_ms"]["value"]
            traced = r["metrics"]["trace.p50_ms_traced"]["value"]
            print(f"tracing overhead against the untraced run of this seed: p50 {base:.1f} -> "
                  f"{traced:.1f} ms ({100 * (traced / base - 1):+.1f}%)")
    metrics = {}
    for m in wanted:
        got = r["metrics"].get(m["name"])
        if got is None:
            if not a.trace:
                fail(f"end-to-end metric {m['name']} was not measured", 1)
            got = {"value": 0, "unit": m["unit"]}  # a layer this workload does not run
        elif got["unit"] != m["unit"]:
            fail(f"{m['name']} measured in {got['unit']}, BENCHMARK.json says {m['unit']}", 1)
        metrics[m["name"]] = got
        print(f"{m['name']} = {got['value']} {m['unit']}")
    correct = r["failed"] == 0 and not differ
    print(json.dumps({"correct": correct, "attempted": max(1, r["attempted"]), "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
