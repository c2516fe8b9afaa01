#!/usr/bin/env python3
"""Run one benchmark workload end to end and print its metrics.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

From the root of a checkout of the repository: builds the program and
the harness from source when needed (sbt, into `target/` and
`.bench_build/`), generates the workload's inputs from the seed (and
checks that generating them again gives the same bytes), runs one JVM
with one closed-loop client on local[min(nproc, 4)], checks every op's
output, and prints each metric with its unit. The last stdout line is
one JSON object: correct, attempted, failed, metrics. Detail (every op,
spans, Spark events, per-layer self time) goes to the sidecar file
`.bench_build/perfbench/<workload>_seed<N>_trace<T>.json`.
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import summarize  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Paths, sizes and mtimes of everything the build compiles."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/src"):
        p = os.path.join(ROOT, base)
        walk = ([(os.path.dirname(p), [], [os.path.basename(p)])]
                if os.path.isfile(p) else sorted(os.walk(p)))
        for d, _, files in walk:
            for f in sorted(files):
                fp = os.path.join(d, f)
                st = os.stat(fp)
                h.update(f"{fp}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt once per source state; return
    the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = sources_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building program and harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
            "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def make_inputs(workload, seed, work):
    """Generate the inputs twice; the copies must be byte-identical."""
    inputs = os.path.join(work, "inputs")
    again = os.path.join(work, "inputs_again")
    gen.generate(workload, seed, inputs)
    gen.generate(workload, seed, again)
    d1, d2 = gen.digest(inputs), gen.digest(again)
    shutil.rmtree(again)
    return inputs, d1, d1 == d2


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.out"), "w") as out, \
            open(os.path.join(work, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=err,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an exit, so the JVM and the work dir are
    # cleaned up by the `finally` blocks below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: the program's sources (build.sbt, "
                         "src/main/scala/graft) are not beside perfbench/")
    cp = build()
    work = os.path.join(BUILD, f"run_{a.workload}_{a.seed}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        phases = {}
        t0 = time.time()
        inputs, digest, same = make_inputs(a.workload, a.seed, work)
        phases["inputs_s"] = time.time() - t0
        code = run_jvm(cp, ["--workload", a.workload, "--inputs", inputs,
                            "--out", work, "--seconds", str(a.seconds),
                            "--trace", str(a.trace),
                            "--config", os.path.join(HERE, "workloads.json")],
                       work)
        phases["jvm_s"] = time.time() - t0 - phases["inputs_s"]
        result_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.isfile(result_path):
            with open(os.path.join(work, "jvm.err")) as f:
                sys.stderr.write(f.read()[-3000:])
            raise SystemExit(f"perfbench: JVM exited with {code}")
        with open(result_path) as f:
            r = json.load(f)
        with open(os.path.join(inputs, "plan.json")) as f:
            plan = json.load(f)
        failed = {o["i"]: o["error"] for o in r["ops"] if not o["ok"]}
        t1 = time.time()
        failed.update(oracle.check(a.workload, inputs,
                                   os.path.join(work, "checks"), r["ops"], plan))
        phases["oracle_s"] = time.time() - t1
        correct = same and not r["setup_errors"] and not failed and bool(r["ops"])
        e2e = summarize.end_to_end(r)
        side = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                "seconds": a.seconds, "input_digest": digest,
                "inputs_reproducible": same, "phases": phases,
                "setup_errors": r["setup_errors"],
                "failed_ops": {str(k): v for k, v in sorted(failed.items())},
                "metrics_e2e": e2e,
                "latency_by_kind": summarize.latency_by_kind(r), "raw": r}
        if a.trace:
            metrics = summarize.per_layer(r)
            table, accounted = summarize.layer_table(r)
            side.update(metrics_per_layer=metrics, accounted=accounted,
                        layers={k: {"self_ms": v[0], "count": v[1]}
                                for k, v in table.items()})
            units = {k: unit_of(k) for k in metrics}
        else:
            metrics, units = e2e, summarize.UNITS
        sdir = os.path.join(BUILD, "perfbench")
        os.makedirs(sdir, exist_ok=True)
        spath = os.path.join(sdir, f"{a.workload}_seed{a.seed}_trace{a.trace}.json")
        if a.trace:
            base = os.path.join(sdir, f"{a.workload}_seed{a.seed}_trace0.json")
            if os.path.isfile(base):
                with open(base) as f:
                    side["tracing_overhead"] = summarize.overhead(json.load(f), side)
        with open(spath, "w") as f:
            json.dump(side, f)
        report(a, r, metrics, units, correct, failed, side, spath)
        print(json.dumps({
            "correct": correct, "attempted": len(r["ops"]),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name):
    if "_ms" in name or name.endswith(".ms"):
        return "ms"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("ratio", "selectivity")):
        return "ratio"
    return "count"


def report(a, r, metrics, units, correct, failed, side, spath):
    kinds = {}
    for o in r["ops"]:
        kinds[o["kind"]] = kinds.get(o["kind"], 0) + 1
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{len(r['ops'])} ops ({', '.join(f'{k} {v}' for k, v in sorted(kinds.items()))})"
          f", set-up reps {', '.join(f'{x:.2f}' for x in r['setup_rep_s'])} s")
    for k, v in metrics.items():
        print(f"  {k:42s} {v:14.4f} {units[k]}")
    print("  op p50 by kind (s): " + ", ".join(
        f"{k} {v['p50_s']:.3f} (n={v['n']})"
        for k, v in side["latency_by_kind"].items()))
    if a.trace:
        print(f"  per-layer self time accounts for {side['accounted']:.4f} "
              f"of op wall time; tracing overhead "
              + (", ".join(f"{k} {v:+.4f}" for k, v in
                           side.get("tracing_overhead", {}).items())
                 or "needs an untraced run of the same seed first"))
    verdict = "CORRECT" if correct else "INCORRECT"
    why = list(failed.values())[:1] + r["setup_errors"][:1]
    if not side["inputs_reproducible"]:
        why.append("inputs not reproducible from the seed")
    print(f"  output check: {verdict} ({len(failed)} failed of "
          f"{len(r['ops'])}){' - ' + why[0] if why else ''}")
    print(f"  detail: {os.path.relpath(spath, ROOT)}")


if __name__ == "__main__":
    main()
