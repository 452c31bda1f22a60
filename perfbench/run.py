#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark program from the checkout's sources with sbt (offline); later runs
reuse the build while the sources are unchanged. Each run starts one JVM
that measures one workload; its last stdout line is the JSON result. The
exit code is non-zero when any output check failed or the run could not be
made. A host record (load, free memory, other JVMs) is printed before the
run and stored in the run's record under perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main")
WORK = os.path.join(HERE, ".work")
STAMP = os.path.join(HERE, "target", "perfbench-build.json")
RUN_LIMIT_S = 175      # one run, when the build is already there
BUILD_LIMIT_S = 895    # the run that builds
JVM_HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_children = []


def _stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def _on_signal(signum, _frame):
    _stop_children()
    sys.exit(128 + signum)


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def sources_digest():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [ENGINE, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        _stop_children()
        return None, None
    finally:
        _stop_children()
    return p.returncode, out


def build(digest, deadline):
    """Compiles engine + benchmark with sbt; records the runtime classpath."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    log("building engine + benchmark with sbt ...")
    t0 = time.time()
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        timeout=max(1, deadline - time.time()), cwd=HERE, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out or "sbt timed out\n")
        return None
    classes = os.path.join("target", "scala-2.13", "classes")
    cp = [ln.strip() for ln in out.splitlines()
          if classes in ln and not ln.startswith("[")]
    if not cp:
        sys.stderr.write(out)
        return None
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1]}, fh)
    log(f"built in {time.time() - t0:.1f} s")
    return cp[-1]


def classpath(deadline):
    digest = sources_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            st = json.load(fh)
        if st.get("digest") == digest:
            return st["classpath"], False
    return build(digest, deadline), True


def host_record():
    """Load, free memory and other JVMs alive at start: noise sources."""
    mem = {}
    with open("/proc/meminfo") as fh:
        for ln in fh:
            k, v = ln.split(":", 1)
            mem[k] = int(v.split()[0]) // 1024
    jvms = []
    me = {os.getpid(), os.getppid()}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
        except OSError:
            continue
        if int(pid) in me or not argv or os.path.basename(argv[0]) != b"java":
            continue
        cmd = b" ".join(argv).decode(errors="replace")
        kind = ("sbt" if "sbt-launch" in cmd or "xsbt.boot" in cmd else
                "spark" if "spark" in cmd else "java")
        jvms.append({"pid": int(pid), "kind": kind})
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": list(os.getloadavg()),
            "mem_available_mb": mem.get("MemAvailable"),
            "mem_total_mb": mem.get("MemTotal"),
            "other_jvms": jvms}


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE, "scala")):
        sys.stderr.write(f"perfbench: no engine sources at {ENGINE}; run "
                         "from the root of a full checkout\n")
        return 2
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    host = host_record()
    log("host " + json.dumps(host))
    cp, built = classpath(start + BUILD_LIMIT_S - 60)
    if cp is None:
        sys.stderr.write("perfbench: build failed\n")
        return 2
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - start)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-Dlog4j2.configurationFile=" +
            os.path.join(HERE, "log4j2.properties")] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", WORK])
    code, out = run_child(cmd, timeout=max(1, limit), cwd=ROOT,
                          stdout=subprocess.PIPE, text=True)
    if code is None:
        sys.stderr.write(f"perfbench: run exceeded {limit:.0f} s; stopped\n")
        return 3
    lines = out.rstrip("\n").splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stdout.write(out)
        sys.stderr.write(f"perfbench: no result (exit code {code})\n")
        return code or 4
    record = os.path.join(
        WORK, f"record-{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(record):
        with open(record) as fh:
            rec = json.load(fh)
        rec["host"] = host
        with open(record, "w") as fh:
            json.dump(rec, fh)
    print("\n".join(lines[:-1]))
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    try:
        sys.exit(main())
    finally:
        _stop_children()
