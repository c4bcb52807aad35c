#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload bulk_upsert --seed 1 --seconds 11 --trace 0

Run from the repository root. The first run in a checkout builds the
engine and the harness from source with sbt (``perfbench/build.sbt``);
later runs reuse the build while the sources are unchanged. Each run
starts one JVM with ``local[nproc]``, generates its inputs from the seed,
warms up, times passes of the workload for about ``--seconds``, checks the
outputs, and prints one line per metric and then one JSON line:

    {"correct": true, "attempted": 20, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (the raw spans and jobs of a traced run are kept under
``.perfbench_out/``). The exit code is 0 only when every check passed.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("bulk_upsert", "stream_ingest")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# a fixed heap: no resizing in the timed region
HEAP = ["-Xms2g", "-Xmx2g"]
LAUNCH = os.path.join(HERE, "target", "launch.json")
STAMP = os.path.join(HERE, "target", "launch.stamp")


def sources_digest():
    """Digest of everything the build reads, to tell a stale build."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, n) for d, _, ns in os.walk(top) for n in ns)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(log_dir):
    digest = sources_digest()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    log = os.path.join(log_dir, "build.log")
    # resolve only from the local dependency cache
    env = {**os.environ, "COURSIER_MODE": os.environ.get("COURSIER_MODE", "offline")}
    with open(log, "w") as out:
        code = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchSpec"],
                         cwd=HERE, stdout=out, timeout=BUILD_TIMEOUT_S, env=env)
    if code != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(tail(log))
        raise SystemExit(f"build failed (exit {code}); log: {log}")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def run_child(cmd, cwd, stdout, timeout, env=None):
    """Run `cmd` in its own process group; on timeout kill the whole group.
    Always waits for the child to end."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(args, work):
    with open(LAUNCH) as f:
        spec = json.load(f)
    raw = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *HEAP, f"-Djava.io.tmpdir={tmp}", *spec["java_options"],
           "-cp", os.pathsep.join(spec["classpath"]),
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cpus", str(nproc()), "--work", work, "--out", raw]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        try:
            code = run_child(cmd, cwd=work, stdout=out, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(raw):
        sys.stderr.write(tail(log))
        raise SystemExit(f"{args.workload} run failed (exit {code})")
    with open(raw) as f:
        return json.load(f)


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, layers.ENGINE_SRC)):
        raise SystemExit(f"no engine sources under {ROOT}; run from a checkout of the repository")
    # every engine file must have a layer before a traced run attributes jobs
    files = layers.layer_map(ROOT) if args.trace else None
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    build(work_root)
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(args, work)
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            shutil.copy(os.path.join(work, "raw.json"),
                        os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(raw["ops"])
    failed = metrics.failures(raw)
    for c in (c for c in raw["checks"] if not c["ok"]):
        print(f"check failed: {c['name']}: {c['detail']}", file=sys.stderr)

    e2e, tail_p = metrics.end_to_end(raw, failed)
    passes = [p for p in raw["passes"] if not p["traced"]]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} cpus={raw['cpus']} "
          f"passes={len(raw['passes'])} ops={attempted} checks={len(raw['checks'])} "
          f"failed={failed}")
    print(f"# phases: session {(raw['session_ready_ms'] - raw['jvm_start_ms']) / 1e3:.2f} s, "
          f"generation {raw['generation_s']:.2f} s, "
          f"warm-up {raw['warmup_s']:.2f} s, timed {(raw['timed_end_ms'] - raw['timed_start_ms']) / 1e3:.2f} s, "
          f"checks {(raw['checks_end_ms'] - raw['timed_end_ms']) / 1e3:.2f} s")
    print("# op seconds: " + " ".join(f"{o['dur_s']:.2f}" for o in raw["ops"]))
    units = {**{m["name"]: m["unit"] for m in bench["end_to_end"]}, **metrics.PRINTED_ONLY}
    for name, unit in units.items():
        note = ""
        if name == "op_tail_s":
            note = (f"  (p{tail_p[0]}, {tail_p[2]} ops beyond it)" if tail_p
                    else "  (fewer than 11 ops)")
        if name == "run_s":
            note = f"  (median of {len(passes)} untraced passes)"
        print(f"{name} = {fmt(e2e[name])} {unit}{note}")

    if args.trace:
        layer_metrics = metrics.per_layer(raw, files)
        for m in bench["per_layer"]:
            print(f"{m['name']} = {fmt(layer_metrics[m['name']])} {m['unit']}")
        print(f"tracing overhead: traced run_s {fmt(layer_metrics['trace.run_s'])} s vs "
              f"untraced run_s {fmt(layer_metrics['trace.untraced_run_s'])} s")
        reported = {m["name"]: {"value": layer_metrics[m["name"]], "unit": m["unit"]}
                    for m in bench["per_layer"]}
    else:
        reported = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                    for m in bench["end_to_end"]}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": reported}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
