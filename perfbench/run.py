#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload explore --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

The first call builds the engine and the benchmark from source (sbt, offline)
and prepares the fixture (generated source tables and the at-rest store the
read workloads open); both are kept under .bench_build/perfbench and reused
while the sources are unchanged. Each run is then one fresh JVM; its work
directory is deleted when it ends. The last line on stdout is the result JSON.

The engine keeps at-rest stores under /tmp/graft-store. Where unprivileged
user and mount namespaces are available (util-linux `unshare`), every JVM
runs with a directory of the checkout mounted on /tmp, so nothing is written
outside the checkout; elsewhere the run-private store paths under /tmp are
deleted when the run ends.
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("explore", "analytic")
RUN_TIMEOUT_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap():
    """The test suite's heap rule: half of RAM in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


BENCH_SRC = os.path.join(HERE, "src", "main", "scala", "graft", "perfbench")
BUILD_INPUTS = (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties"))
# what the fixture depends on: the engine and the benchmark's generator and loader
FIXTURE_INPUTS = (os.path.join(ROOT, "src", "main"), os.path.join(BENCH_SRC, "Data.scala"),
                  os.path.join(BENCH_SRC, "Stores.scala"), os.path.join(BENCH_SRC, "Fixture.scala"))


def digest(inputs):
    h = hashlib.sha256()
    for base in inputs:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def die_with_parent():
    """In a child, before exec: the kernel kills it if the runner dies, even
    by SIGKILL (Linux `PR_SET_PDEATHSIG`; elsewhere a no-op)."""
    try:
        import ctypes
        ctypes.CDLL(None).prctl(1, signal.SIGKILL)
    except (OSError, AttributeError):
        pass


def run_proc(cmd, timeout, env=None, cwd=None, capture=False):
    """Run `cmd` in its own process group; kill the group on timeout, on a
    signal to the runner (see `main`) or any other way out."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True, preexec_fn=die_with_parent,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def tmp_env():
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = f"-Djava.io.tmpdir={tmp}"
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " " + opts).strip()
    return env


def build():
    """Compile engine + benchmark; cache the runtime classpath per source digest."""
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            raise SystemExit(f"engine sources not found ({os.path.relpath(need, ROOT)} missing)")
    key = digest(BUILD_INPUTS)
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = os.path.join(OUT, "classpath.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == key:
        return open(cp_file).read().strip()
    os.makedirs(OUT, exist_ok=True)
    log("building engine and benchmark (sbt) ...")
    t = time.time()
    env = tmp_env()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("sbt not found on PATH")
    sbt_opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in sbt_opts:
        sbt_opts += " -Dsbt.offline=true"
    # sbt's own writable state (global base, ivy home) goes under the build
    # directory and the boot lock is off, so the build writes nothing outside
    # the checkout and works where the home directory is read-only
    state = os.path.join(OUT, "sbt")
    sbt_opts += (f" -Dsbt.server.forcestart=false -Dsbt.server.autostart=false -Dsbt.boot.lock=false"
                 f" -Dsbt.global.base={state}/global -Dsbt.ivy.home={state}/ivy")
    env["SBT_OPTS"] = sbt_opts.strip()
    # sbt binds a unix socket under $XDG_RUNTIME_DIR (else java.io.tmpdir);
    # a socket path may not exceed ~100 bytes, which a deep checkout does, so
    # the directory is given relative to sbt's working directory
    env["XDG_RUNTIME_DIR"] = os.path.relpath(os.path.join(OUT, "run"), HERE)
    code, out = run_proc([sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.ci=true",
                          "export perfbench/Runtime/fullClasspath"],
                         timeout=840, env=env, cwd=HERE, capture=True)
    lines = [l.strip() for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines or "/" not in lines[-1]:
        sys.stderr.write("\n".join(l for l in lines if l.startswith("[error]") or l.startswith("[warn]")) + "\n")
        raise SystemExit(f"build failed (sbt exit {code})")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(key)
    log(f"built in {time.time() - t:.0f} s")
    return lines[-1]


_PRIVATE_TMP = None


def private_tmp(tmp, cp):
    """Command prefix that runs a program with `tmp` mounted on /tmp, or []
    where the host does not allow it or the mount would hide the checkout or
    the classpath."""
    global _PRIVATE_TMP
    wrap = ["unshare", "--user", "--map-root-user", "--mount",
            "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"']
    if _PRIVATE_TMP is None:
        under = [p for p in [ROOT] + cp.split(os.pathsep)
                 if (os.path.realpath(p) + "/").startswith("/tmp/")]
        reason = f"{under[0]} is under /tmp" if under else None
        if reason is None:
            os.makedirs(tmp, exist_ok=True)
            try:
                ok = subprocess.run(wrap + [tmp, "true"], stdout=subprocess.DEVNULL,
                                    stderr=subprocess.DEVNULL, timeout=30).returncode == 0
            except (OSError, subprocess.TimeoutExpired):
                ok = False
            reason = None if ok else "unshare unavailable"
        _PRIVATE_TMP = reason is None
        if reason:
            log(f"no private /tmp ({reason}): run-private store paths go under /tmp")
    return wrap + [tmp] if _PRIVATE_TMP else []


def java_cmd(cp, tmp, *args):
    """The benchmark main in a fresh JVM, with `tmp` as its /tmp where possible."""
    os.makedirs(tmp, exist_ok=True)
    cmd = private_tmp(tmp, cp) + ["java", f"-Xmx{heap()}", "-XX:+UseG1GC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main", *args]
    return cmd


def prepare(cp):
    key = digest(FIXTURE_INPUTS)
    cache = os.path.join(OUT, "cache")
    ready = os.path.join(cache, "_READY")
    if os.path.exists(ready) and open(ready).read() == key:
        return cache
    shutil.rmtree(cache, ignore_errors=True)
    os.makedirs(cache)
    log("preparing fixture (source tables + at-rest store) ...")
    t = time.time()
    code, _ = run_proc(java_cmd(cp, os.path.join(cache, "prepare-tmp"), "prepare", "--cache", cache),
                       timeout=600, env=tmp_env())
    shutil.rmtree(os.path.join(cache, "prepare-tmp"), ignore_errors=True)
    if code != 0:
        raise SystemExit(f"fixture preparation failed (exit {code})")
    with open(ready, "w") as f:
        f.write(key)
    log(f"fixture ready in {time.time() - t:.0f} s")
    return cache


def run_once(cp, cache, workload, seed, seconds, trace):
    work = os.path.join(OUT, "runs", f"{os.getpid()}-{workload}-{seed}-{time.time_ns()}")
    os.makedirs(work)
    args = ["run", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cache", cache, "--work", work,
            "--trace-dir", os.path.join(OUT, "traces")]
    env = tmp_env()
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}"
    try:
        code, out = run_proc(java_cmd(cp, os.path.join(work, "tmp"), *args),
                             timeout=RUN_TIMEOUT_S, env=env, capture=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s and was killed")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in (out or "").splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if code != 0 or result is None:
        raise SystemExit(f"run failed (exit {code})")
    return result


def smoke(cp, cache):
    """Every workload at sf 0.001 for a second, untraced and traced: each
    metric of BENCHMARK.json must be present with its unit, every answer
    must match its oracle."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = 0
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            t = time.time()
            r = run_once(cp, cache, w, 1, 1, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            missing = [k for k in want if got.get(k) != want[k] or r["metrics"][k]["value"] is None]
            extra = [k for k in got if k not in want]
            ok = r["correct"] and not missing and not extra
            bad += not ok
            print(f"smoke {w} trace={trace}: {'ok' if ok else 'FAIL'} correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} missing={missing} extra={extra} "
                  f"({time.time() - t:.0f} s)")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="quick check of every workload at sf 0.001")
    a = ap.parse_args()
    # a terminated runner unwinds, so `run_proc` kills its children and the
    # run directory is removed
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda n, _: sys.exit(128 + n))
    if not a.smoke and not a.workload:
        ap.error("--workload is required")
    cp = build()
    cache = prepare(cp)
    if a.smoke:
        sys.exit(1 if smoke(cp, cache) else 0)
    r = run_once(cp, cache, a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(r))


if __name__ == "__main__":
    main()
