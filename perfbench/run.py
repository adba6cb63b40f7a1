#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload lake_mixed --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt into the checkout; later runs reuse the build while the
sources are unchanged. Prints a summary, then as its last line one JSON
object with `correct`, `attempted`, `failed` and `metrics` (end-to-end
metrics with --trace 0, per-layer metrics with --trace 1). See
perfbench/README.md for the workloads and metric definitions.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import layers  # noqa: E402
import metrics as M  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("lake_mixed", "corpus_pipeline")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked test JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found next to perfbench/ (need build.sbt and src/main/scala)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    cp = g.read().strip()
                if all(os.path.exists(e) for e in cp.split(os.pathsep)):
                    return cp
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    if p.returncode != 0:
        fail(f"build failed; see {log}")
    with open(log) as f:
        lines = [ln.strip() for ln in f if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if not lines:
        fail(f"no classpath in build output; see {log}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, tmp, args):
    cmd = ["java", "-Xms1g", "-Xmx4g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"] + [str(a) for a in args]


def cpu_count():
    # one core is left to the driver thread, JIT compilation and GC: with
    # every core running a task, runs on a 4-core machine were slower and
    # varied more
    return max(1, min(4, (os.cpu_count() or 2) - 1))


def launch(cp, workload, seed, seconds, trace, work):
    """Run the JVM harness; return (seconds to session ready, result dict)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = java_cmd(cp, tmp, [workload, seed, seconds, 1 if trace else 0, work, cpu_count()])
    err_path = os.path.join(work, "jvm.err")
    t0 = time.monotonic()
    ready = None
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            for line in p.stdout:
                if ready is None and line.strip() == "PERFBENCH_READY":
                    ready = time.monotonic() - t0
                if time.monotonic() - t0 > JVM_TIMEOUT_S:
                    raise subprocess.TimeoutExpired(cmd, JVM_TIMEOUT_S)
            p.wait(timeout=max(1, JVM_TIMEOUT_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S}s")
    if p.returncode != 0 or ready is None:
        with open(err_path) as f:
            lines = f.read().splitlines()
        causes = [ln for ln in lines if "Exception" in ln or "Error" in ln][:5]
        fail("harness failed:\n" + "\n".join(causes + ["..."] + lines[-15:]))
    with open(os.path.join(work, "result.json")) as f:
        return ready, json.load(f)


def e2e_metrics(res, jvm_start_s):
    info = res["info"]
    # the timed window: operations of the loop, not the final vacuum or
    # anything before the loop
    loop = [o for o in res["ops"] if info["loop_start_op"] <= o["id"] < info["loop_end_op"]]
    by = {c: [o["ms"] for o in loop if o["cls"] == c] for c in ("read", "write", "maint")}
    maint = [o["ms"] for o in res["ops"] if o["cls"] == "maint" and o["id"] >= info["loop_start_op"]]
    values = {
        "setup_s": jvm_start_s + info["setup_seconds"],
        # one client, so throughput is ops over the time spent inside them;
        # the harness's own work between operations is left out
        "ops_per_s": len(loop) / (sum(o["ms"] for o in loop) / 1000.0),
        "read_p50_ms": M.median(by["read"]),
        "write_p50_ms": M.median(by["write"]),
        "maintenance_s": sum(maint) / 1000.0 / info["cycles"],
        "bytes_written_per_user_byte": M.ratio(info["bytes_written"], info["user_bytes"]),
    }
    notes = {
        "maintenance_s": f"{len(maint)} ops over {info['cycles']:g} cycles",
        "bytes_written_per_user_byte": f"{info['bytes_written']} B / {info['user_bytes']} B",
        "setup_s": f"session start {jvm_start_s:.2f}s + set-up and warm-up {info['setup_seconds']:.2f}s",
    }
    for c in ("read", "write"):
        v, pct, n = M.tail(by[c])
        notes[f"{c}_p50_ms"] = f"n={n}, tail p{pct:.1f} = {v:.1f} ms" if n else "n=0"
    return values, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jvm_start_s, res = launch(cp, args.workload, args.seed, args.seconds,
                                  bool(args.trace), work)
        t_checks = time.monotonic()
        verdicts = checks.run(args.workload, res)
        t_checks = time.monotonic() - t_checks
        ops = res["ops"]
        attempted = len(ops)
        failed_ids = {o["id"] for o in ops if o["error"] or o["check_failed"]} | set(verdicts)
        failed = len(failed_ids)
        for o in ops:
            why = o["error"] or o["check_failed"] or verdicts.get(o["id"])
            if why:
                print(f"failed op {o['id']} {o['kind']}: {why}")
        kinds = {}
        for o in ops:
            kinds.setdefault((o["cls"], o["kind"]), []).append(o["ms"])
        for (cls, kind), ms in sorted(kinds.items()):
            print(f"op {cls:7} {kind:18} n={len(ms):3} median={M.median(ms):9.1f} ms")
        if args.trace:
            values, units = layers.per_layer(res)
            notes = {}
            out_dir = os.path.join(BUILD, "traces")
            os.makedirs(out_dir, exist_ok=True)
            layers.write_trace(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"),
                               res, values)
        else:
            values, notes = e2e_metrics(res, jvm_start_s)
            units = layers.E2E_UNITS
        print(f"harness {res['wall_seconds']:.1f}s (loop {res['loop_seconds']:.1f}s), "
              f"checks {t_checks:.1f}s, ops_failed_share {M.failed_share(attempted, failed):g}")
        missing = [k for k, v in values.items() if v is None]
        if missing:
            fail(f"metrics could not be formed: {missing}")
        for k, v in values.items():
            extra = f"  ({notes[k]})" if k in notes else ""
            print(f"{k} = {v:.6g} {units[k]}{extra}")
        out = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
