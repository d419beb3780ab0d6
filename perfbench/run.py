#!/usr/bin/env python3
"""Cold, full-output benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Builds the engine (the repo's build.sbt) and the harness
(perfbench/build.sbt) from source when the sources changed, then starts
one fresh engine process (local[N], N = the machine's cpus) that sets up,
warms up on the sf0.001 tables and runs one cold pass over the workload's
ops, submitted back to back by one client. Every op's full output is
fingerprinted and compared with perfbench/expected/fingerprints.json; the
ml_pipeline workload also checks the invariants of its generated CSV.
Lines before the last print all six end-to-end metrics with their units.
The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones
BENCHMARK.json gates; with --trace 1 the
engine process attaches the tracing listeners and the metrics are the
per-layer ones, `trace.cold_s` (the traced pass) among them.

`--seconds` is the pass length the op lists are sized to; a pass always
runs every op once, since only the first execution is cold.

Other modes:
    run.py --record <workload>   re-record the expected fingerprints
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
import stroke_csv  # noqa: E402

# java @argfile with the harness's classpath and the engine's JVM options
# (heap, --add-opens), written by build.sbt's launchArgs task
ARGS = os.path.join(BENCH, "target", "harness.args")
STAMP = os.path.join(BENCH, "target", "perfbench.sources.sha256")
WORK = os.path.join(BENCH, "work")
DATA = os.environ.get("GRAFT_BENCH_DATA", "/root/testdata")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SBT_REPOS = os.path.expanduser("~/.sbt/repositories")
# One run must end within 180 s; the build of a fresh checkout is extra.
RUN_DEADLINE_S = 176
TAIL_BEYOND = 10


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_json(path):
    if not os.path.isfile(path):
        die(f"missing input: {path}")
    with open(path) as f:
        return json.load(f)


def check_inputs(wl, need_build):
    """Every input path, checked before anything runs."""
    paths = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(ROOT, "build.sbt")]
    for sf in ("sf0.001", wl["scale"]):
        paths += [os.path.join(DATA, sf, f"{t}.parquet") for t in TABLES]
    missing = [p for p in paths if not os.path.exists(p)]
    if need_build and shutil.which("sbt") is None:
        missing.append("sbt (not on PATH)")
    if shutil.which("java") is None:
        missing.append("java (not on PATH)")
    if missing:
        die("missing input: " + ", ".join(missing))


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    roots += [os.path.join(d, f) for d in (ROOT, BENCH)
              for f in ("build.sbt", os.path.join("project",
                                                  "build.properties"))]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def prepare(wl):
    """Checks every input of `wl`, then builds if a source changed, then
    checks every classpath entry the build named."""
    stale = needs_build()
    check_inputs(wl, stale)
    if stale:
        build()
    missing = [p for p in launch_args()[-1].split(os.pathsep)
               if not os.path.exists(p)]
    if missing:
        die("missing input: " + ", ".join(missing))


def launch_args():
    """The JVM options and `-cp <classpath>` of the argfile."""
    with open(ARGS) as f:
        return [line.strip().strip('"') for line in f if line.strip()]


def needs_build():
    if not os.path.isfile(ARGS) or not os.path.isfile(STAMP):
        return True
    with open(STAMP) as f:
        return f.read().strip() != sources_digest()


def build():
    """sbt launchArgs of perfbench/build.sbt, offline: compiles the engine
    and the harness and writes the argfile."""
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(SBT_REPOS):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={SBT_REPOS}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "launchArgs"], BENCH, env, out, 850)
    if code != 0 or not os.path.isfile(ARGS):
        with open(log) as f:
            tail = f.read()[-3000:]
        die(f"build failed (exit {code}); last lines of {log}:\n{tail}", 3)
    with open(STAMP, "w") as f:
        f.write(sources_digest())


def run_child(cmd, cwd, env, out, timeout):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so nothing it started outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        return -1
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def op_order(wl):
    """Pipeline steps, then the registry ops, in the listed order. The
    order is fixed: shuffled by the seed, the per-op median moved by about
    20% between seeds on a quiet machine, because the shared state several
    ops read (a landed store, a stream's source) is built by whichever of
    them runs first."""
    return wl.get("pipeline", []) + wl["ops"]


def engine(wl, ops, trace, run_dir, csv, deadline):
    """One fresh engine process; returns (launch epoch, its result)."""
    out = os.path.join(run_dir, f"result-trace{trace}.json")
    cmd = java_cmd(run_dir) + [
        "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
        "graftbench.Harness", "--ops", ",".join(ops),
        "--data", os.path.join(DATA, wl["scale"]),
        "--warm", os.path.join(DATA, "sf0.001"), "--out", out,
        "--trace", str(trace)] + (["--csv", csv] if csv else [])
    log = os.path.join(run_dir, f"engine-trace{trace}.log")
    launch = time.time()
    with open(log, "w") as f:
        code = run_child(cmd, run_dir, os.environ, f, deadline - time.time())
    if code != 0 or not os.path.isfile(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        die(f"engine process failed (exit {code}); last lines of {log}:\n"
            f"{tail}", 4)
    with open(out) as f:
        return launch, json.load(f)


def java_cmd(run_dir):
    """java with the argfile; everything the JVM writes stays in run_dir."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    return ["java", "@" + ARGS, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + local]


def failures(wl_name, res):
    expected = load_json(os.path.join(BENCH, "expected",
                                      "fingerprints.json"))[wl_name]
    bad = []
    for o in res["ops"]:
        name, e = o["name"], expected.get(o["name"])
        if o["error"]:
            bad.append((name, o["error"]))
        elif name.startswith("ml."):
            continue
        elif e is None:
            bad.append((name, "no expected fingerprint"))
        elif o["fp"] != e["fp"]:
            bad.append((name, f"fingerprint {o['fp']} != {e['fp']}"))
        elif e.get("oracle") not in ("PASS", "rows-only"):
            bad.append((name, f"oracle cross-check: {e.get('oracle')}"))
        elif e.get("verify_match") is not True:
            bad.append((name, "graft.Verify's output has another "
                              "fingerprint"))
    bad += [("check:" + c["name"], c["detail"])
            for c in res["checks"] if not c["ok"]]
    return bad


def tail_latency(lat):
    """Latency at the highest percentile with TAIL_BEYOND ops beyond it."""
    lat = sorted(lat)
    k = max(0, len(lat) - TAIL_BEYOND - 1)
    return lat[k], 100.0 * (k + 1) / len(lat)


def e2e_metrics(launch, res, failed, attempted):
    """All six end-to-end metrics as (value, unit). BENCHMARK.json gates
    those whose run-to-run spread its bounds can hold (see README.md)."""
    lat = [o["s"] for o in res["ops"]]
    tail, pct = tail_latency(lat)
    return {
        "setup_s": (res["ready_epoch_s"] - launch, "s"),
        "cold_s": (res["cold_s"], "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail, "s"),
        "retained_mb": (res["retained_mb"], "MB"),
        "failed_frac": (failed / attempted, "ratio"),
    }, pct


def ml_layer_times(res):
    """ML module times of the cold pass, from the op spans."""
    s = {o["name"]: o["s"] for o in res["ops"]}
    mining = load_json(os.path.join(BENCH, "workloads.json"))["mining_ops"]
    return {
        "ingest.read_s": s.get("ml.read_csv", 0.0),
        "clean.s": s.get("ml.clean", 0.0),
        "pipeline.encode_s": s.get("ml.encode", 0.0),
        "balance.smote_s": s.get("ml.smote", 0.0),
        "model.fit_s": sum(v for k, v in s.items()
                           if k.startswith("ml.fit_")) + 0.0,
        "model.cv_s": s.get("ml.cv_nb", 0.0),
        "eval.report_s": s.get("ml.report", 0.0),
        "mining.s": sum(v for k, v in s.items() if k in mining) + 0.0,
    }


def record(wl_name, workloads):
    """Runs the workload twice and stores the fingerprints both runs agree
    on; an op whose fingerprint differs is reported."""
    wl = workloads[wl_name]
    prepare(wl)
    path = os.path.join(BENCH, "expected", "fingerprints.json")
    allfp = load_json(path) if os.path.isfile(path) else {}
    runs = []
    for seed in (1, 2):
        run_dir = fresh_run_dir(wl_name, seed)
        try:
            csv = make_csv(wl, seed, run_dir)
            runs.append(engine(wl, op_order(wl), 0, run_dir, csv,
                               time.time() + 900)[1])
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    fps = [{o["name"]: o for o in r["ops"]} for r in runs]
    old = allfp.get(wl_name, {})
    new = {}
    for name in wl["ops"]:
        a, b = fps[0][name], fps[1][name]
        if a["error"] or b["error"] or a["fp"] != b["fp"]:
            print(f"unstable or failing: {name}: {a['fp']} {b['fp']} "
                  f"{a['error'] or b['error'] or ''}")
            continue
        new[name] = dict(fp=a["fp"], rows=a["rows"])
        if old.get(name, {}).get("fp") == a["fp"]:
            # a changed fingerprint has to be cross-checked again
            for k in ("oracle", "verify_match"):
                if k in old[name]:
                    new[name][k] = old[name][k]
    allfp[wl_name] = new
    with open(path, "w") as f:
        json.dump(allfp, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(new)} of {len(wl['ops'])} ops of {wl_name}")


def fresh_run_dir(wl_name, seed):
    d = os.path.join(WORK, f"{wl_name}-{seed}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def make_csv(wl, seed, run_dir):
    if not wl.get("pipeline"):
        return None
    csv = os.path.join(run_dir, "stroke.csv")
    stroke_csv.write(csv, seed)
    return csv


def main():
    # a terminated run still stops the engine process (run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="WORKLOAD")
    args = ap.parse_args()

    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    conf = load_json(os.path.join(BENCH, "workloads.json"))
    workloads = conf["workloads"]
    if args.record:
        return record(args.record, workloads)
    if args.workload not in workloads:
        die(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads)}")
    wl = workloads[args.workload]
    excluded = set(conf["excluded_ops"]["ops"]) & set(wl["ops"])
    if excluded:
        die(f"ops {sorted(excluded)} are excluded: "
            f"{conf['excluded_ops']['reason']}")
    prepare(wl)

    deadline = time.time() + RUN_DEADLINE_S
    run_dir = fresh_run_dir(args.workload, args.seed)
    try:
        csv = make_csv(wl, args.seed, run_dir)
        ops = op_order(wl)
        launch, res = engine(wl, ops, args.trace, run_dir, csv, deadline)
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "result-trace1.spans.json"),
                        os.path.join(WORK, "traces", f"{args.workload}-"
                                     f"{args.seed}.spans.json"))
            layers = dict(res["layers"], **ml_layer_times(res))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for o in res["ops"]:
        print(f"  {o['name']:28s} {o['s']:8.3f} s  build {o['build_s']:.3f}"
              f"  rows {o['rows']}", file=sys.stderr)
    bad = failures(args.workload, res)
    attempted = len(res["ops"]) + len(res["checks"])
    for name, why in bad:
        print(f"FAILED {name}: {why}")
    e2e, pct = e2e_metrics(launch, res, len(bad), attempted)
    print(f"workload {args.workload} seed {args.seed}: {len(res['ops'])} ops"
          f", {len(res['checks'])} checks, op_tail_s = p{pct:.1f} "
          f"({TAIL_BEYOND} ops beyond it)")
    if args.trace:
        # the end-to-end metrics of a traced process include the tracing
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
        shown = [(n, m["value"], m["unit"]) for n, m in metrics.items()]
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        shown = [(n, v, u) for n, (v, u) in e2e.items()]
    for name, value, unit in shown:
        print(f"  {name} = {value:.6g} {unit}")
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": len(bad), "metrics": metrics}))


if __name__ == "__main__":
    main()
