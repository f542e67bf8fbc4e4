#!/usr/bin/env python3
"""Benchmark of the graft engine's paper pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload cdc16 --seed 1 --seconds 20 --trace 0

Workloads: cdc16 and stores_glue (see perfbench/README.md).
The first run builds the engine and the harness from source with sbt
(into perfbench/target and perfbench/.build); later runs reuse the build
until a source file changes. Each run starts one JVM at local[4], prints
one `metric`/`layer`/`gate` line per item and, as its last line, the JSON
result. It exits non-zero if any correctness gate fails.

`--trace 1` prints the per-layer metrics instead and writes the span
artifact to perfbench/out/trace-<workload>-seed<seed>[-<master>].json.
`--trace 1 --master local[1]` records the one-off single-core baseline in
perfbench/baseline/<workload>_local1.json (not part of a check); traced
runs at local[4] copy it into their artifact.

    python3 perfbench/run.py test      # the harness's own unit tests
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "src" / "main" / "resources"]
BUILD = BENCH / ".build"
OUT = BENCH / "out"
WORK = BENCH / ".work"
RUN_TIMEOUT_S = 170  # a run at local[4]; the single-core baseline may take longer
BASELINE_TIMEOUT_S = 900
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def source_stamp():
    h = hashlib.sha256()
    roots = ENGINE_SOURCES + [BENCH / "src" / "main", BENCH / "build.sbt",
                              BENCH / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness if any source changed; return the classpath."""
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    stamp = source_stamp()
    if (stamp_file.exists() and cp_file.exists()
            and stamp_file.read_text() == stamp):
        return cp_file.read_text().strip()
    log("building engine and harness with sbt")
    BUILD.mkdir(parents=True, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def run_jvm(cp, args, work, timeout):
    # a 1 GB heap: the live heap stays near 100 MB, and a small heap keeps
    # the old generation's dead objects from swelling heap_peak_mb
    cmd = ["java", "-Xmx1g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: run exceeded {timeout}s")
    return proc.returncode, out


def add_overhead(artifact, workload):
    """Tracing overhead: the traced run's end-to-end numbers against the
    last untraced run of the same workload, and the committed single-core
    baseline where one exists."""
    data = json.loads(artifact.read_text())
    last = OUT / f"last-{workload}.json"
    if last.exists():
        untraced = json.loads(last.read_text())["metrics"]
        data["tracing_overhead"] = {
            k: {"untraced": untraced[k]["value"], "traced": v["value"],
                "ratio": v["value"] / untraced[k]["value"] if untraced[k]["value"] else None}
            for k, v in data["end_to_end"].items() if k in untraced}
    base = BENCH / "baseline" / f"{workload}_local1.json"
    if data.get("master") == "local[1]":
        # the one-off single-core baseline: keep its numbers with the sources
        keep = {k: data[k] for k in ("workload", "seed", "master", "end_to_end", "per_layer",
                                     "self_ms", "largest_self_module")}
        base.parent.mkdir(exist_ok=True)
        base.write_text(json.dumps(keep, indent=1) + "\n")
    elif base.exists():
        data["baseline_local1"] = json.loads(base.read_text())
    artifact.write_text(json.dumps(data, indent=1))


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "test":
        build()
        return subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                              cwd=BENCH, env=sbt_env(), stdin=subprocess.DEVNULL).returncode
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["cdc16", "stores_glue"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--master", default="local[4]")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) not found")
    cp = build()
    work = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    OUT.mkdir(exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--master", a.master]
    artifact = None
    if a.trace:
        tag = "" if a.master == "local[4]" else "-" + a.master.replace("[", "").replace("]", "")
        artifact = OUT / f"trace-{a.workload}-seed{a.seed}{tag}.json"
        args += ["--artifact", str(artifact)]
    t0 = time.time()
    try:
        code, out = run_jvm(cp, args, work,
                            RUN_TIMEOUT_S if a.master == "local[4]" else BASELINE_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    for ln in lines[:-1]:
        print(ln)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        raise SystemExit(f"perfbench: run printed no result (exit {code})")
    log(f"{a.workload} seed {a.seed} ran {time.time() - t0:.1f}s")
    if not a.trace and a.master == "local[4]" and result["correct"]:
        (OUT / f"last-{a.workload}.json").write_text(json.dumps(result))
    if artifact is not None and artifact.exists():
        add_overhead(artifact, a.workload)
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
