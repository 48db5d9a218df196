#!/usr/bin/env python3
"""Repository benchmark: one command for every workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from the sources of the checkout it runs
in (sbt, only when a source changed), runs one harness JVM, and prints as the
last stdout line one JSON object: correct, attempted, failed and metrics.
`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones from a separately traced run.

A batch run writes the fingerprints it saw to
perfbench/work/<workload>/fingerprints.json; after a change whose results
pass tools/check.py against the DuckDB oracle on the same fixtures, copying
that file into perfbench/expected/ re-records the expected ones.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_STATE = os.path.join(HERE, "target", "perfbench-build.json")
WORK = os.path.join(HERE, "work")
RUN_LIMIT_S = 170

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file whose change needs a rebuild."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(base):
            out += [os.path.join(base, f) for f in os.listdir(base)
                    if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def offline_env():
    """The build resolves from local caches only, as the repository's own
    test command does; settings already in the environment win."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    return env


def classpath():
    """The harness's runtime classpath, building first if a source changed."""
    want = stamp()
    if os.path.exists(BUILD_STATE):
        with open(BUILD_STATE) as f:
            state = json.load(f)
        if state.get("stamp") == want:
            return state["classpath"]
    log("building program and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840, env=offline_env())
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build failed (rc={proc.returncode})")
    cp = lines[-1].strip()
    if os.pathsep not in cp or not cp.startswith("/"):
        raise SystemExit(f"build printed no classpath: {cp[:200]}")
    os.makedirs(os.path.dirname(BUILD_STATE), exist_ok=True)
    with open(BUILD_STATE, "w") as f:
        json.dump({"stamp": want, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"no program source here: {os.path.join(ROOT, need)} is missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        if a.workload not in json.load(f)["workloads"]:
            raise SystemExit(f"unknown workload {a.workload}")

    cp = classpath()
    work = os.path.join(WORK, a.workload)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap, touched in full at start: the peak resident memory then
    # does not depend on how far a run's collections happened to grow it
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--root", HERE, "--work", work]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"harness exceeded {RUN_LIMIT_S} s")
    if proc.returncode != 0:
        raise SystemExit(f"harness failed (rc={proc.returncode})")
    line = next((ln for ln in reversed(out.splitlines())
                 if ln.startswith("PERFBENCH_RESULT ")), None)
    if line is None:
        raise SystemExit("harness printed no result")
    res = json.loads(line[len("PERFBENCH_RESULT "):])

    group = "per_layer" if a.trace == "1" else "end_to_end"
    got = res[group]
    want = {m["name"]: m["unit"] for m in bench[group]}
    missing = sorted(set(want) - set(got))
    if missing:
        raise SystemExit(f"harness did not measure {missing}")
    for name, unit in want.items():
        if got[name]["unit"] != unit or got[name]["value"] is None:
            raise SystemExit(f"{name}: {got[name]} does not match unit {unit}")
    if not res["negative_control_caught"]:
        log("negative control: a perturbed expected result was NOT detected")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: got[n] for n in want},
    }))


if __name__ == "__main__":
    main()
