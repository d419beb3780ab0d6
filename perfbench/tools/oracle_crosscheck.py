#!/usr/bin/env python3
"""Cross-checks the expected fingerprints against the DuckDB oracle.

    python3 perfbench/tools/oracle_crosscheck.py [workload ...]

For each workload (default: all) this runs the engine's own correctness
dump, `graft.Verify`, over the workload's registry ops at the workload's
scale, then `scripts/oracle_check.py` on that dump. It fingerprints each
dumped output the way the benchmark does and compares the result with
perfbench/expected/fingerprints.json. Each op's entry there gets:

  oracle        PASS or FAIL from oracle_check.py ("rows-only" where the op
                has no oracle SQL and only a non-empty output is checked)
  verify_match  whether the dumped output has the expected fingerprint

An op stays in its workload whatever the result. run.py counts an op in
`failed` on every run unless its entry reads oracle PASS or rows-only and
verify_match true; `run.py --record` drops both fields when it records a
new fingerprint, so a changed output is failed until it is cross-checked
again.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


def java(args, cwd, log):
    cmd = run.java_cmd(cwd) + args
    with open(log, "w") as out:
        code = run.run_child(cmd, cwd, os.environ, out, 1800)
    if code != 0:
        run.die(f"{args[0]} failed (exit {code}); see {log}", 4)


def main(names):
    conf = run.load_json(os.path.join(run.BENCH, "workloads.json"))
    path = os.path.join(run.BENCH, "expected", "fingerprints.json")
    expected = run.load_json(path)
    for name in names or sorted(conf["workloads"]):
        wl = conf["workloads"][name]
        run.prepare(wl)
        work = os.path.join(run.WORK, f"oracle-{name}-{int(time.time())}")
        dump = os.path.join(work, "verify")
        sf = os.path.join(run.DATA, wl["scale"])
        try:
            java(["graft.Verify", sf, dump, ",".join(wl["ops"])], work,
                 os.path.join(work, "verify.log"))
            check = subprocess.run(
                [sys.executable, os.path.join(run.ROOT, "scripts",
                                              "oracle_check.py"), dump, sf],
                capture_output=True, text=True)
            status = {}
            for line in check.stdout.splitlines():
                m = re.match(r"(PASS|FAIL) (\S+?):? (.*)", line)
                if m:
                    rows_only = "rows-only" in m.group(3)
                    status[m.group(2)] = ("rows-only" if rows_only and
                                          m.group(1) == "PASS" else
                                          m.group(1))
            dirs = sorted(os.path.join(dump, d) for d in os.listdir(dump)
                          if os.path.isdir(os.path.join(dump, d)))
            fp_log = os.path.join(work, "fingerprints.log")
            java(["graftbench.Harness", "--fingerprint-parquet"] + dirs,
                 work, fp_log)
            with open(fp_log) as f:
                dumped = dict(line.split() for line in f
                              if re.match(r"^\S+ \d+:[0-9a-f]{32}$", line))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        entries = expected.setdefault(name, {})
        for op in wl["ops"]:
            e = entries.setdefault(op, {})
            e["oracle"] = status.get(op, "FAIL")
            e["verify_match"] = dumped.get(op) == e.get("fp")
            flag = "" if e["oracle"] != "FAIL" and e["verify_match"] else \
                "   <-- failing"
            print(f"{name:12s} {op:28s} oracle {e['oracle']:9s} "
                  f"verify_match {e['verify_match']}{flag}")
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1:])
