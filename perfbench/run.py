#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source into $CARGO_TARGET_DIR (default .bench_build); later
runs reuse the build while no source changed. The last line of standard
output is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics of BENCHMARK.json, or with --trace 1 its per-layer
metrics). The full run record, with spans when traced, is kept under
<build dir>/records/.

    python3 perfbench/run.py --selftest

builds and runs the Scala self-test (listener attribution, seeded input
determinism, oracles); the Python tests are in perfbench/tests.
"""

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import time  # noqa: E402

import benchlib  # noqa: E402

BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    spec = benchlib.load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if not a.selftest and a.workload not in names:
        raise benchlib.BenchError(f"unknown workload {a.workload}; one of {names}")

    classes = benchlib.build(BUILD_TIMEOUT_S)
    out = benchlib.build_dir()
    tag = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = out / "work" / f"{tag}-{os.getpid()}"
    records = out / "records"
    records.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    log = records / f"{tag}-{stamp}.log"
    try:
        work.mkdir(parents=True)
        if a.selftest:
            cmd = benchlib.java_cmd(classes, "graft.perfbench.SelfTest",
                                    [str(work)], work)
            rc = benchlib.run_java(cmd, RUN_TIMEOUT_S, log)
            print(log.read_text().strip().splitlines()[-1])
            return rc
        raw = work / "record.json"
        cmd = benchlib.java_cmd(classes, "graft.perfbench.PerfBench", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--out", str(raw)], work)
        h0 = benchlib.host_snapshot()
        rc = benchlib.run_java(cmd, RUN_TIMEOUT_S, log)
        host = benchlib.host_delta(h0, benchlib.host_snapshot())
        if rc != 0 or not raw.is_file():
            tail = "\n".join(log.read_text().splitlines()[-30:])
            raise benchlib.BenchError(f"benchmark JVM exited {rc}:\n{tail}")
        rec = json.loads(raw.read_text())
        rec["host"] = host
        res = benchlib.result(rec, a.trace, host, spec)
        (records / f"{tag}-{stamp}.json").write_text(json.dumps(rec))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for f in rec["failures"]:
        print(f"FAILED {f}")
    attempted = res["attempted"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"failed_share {res['failed'] / attempted:.4f} "
          f"({res['failed']}/{attempted}), setup reps "
          f"{', '.join(f'{s:.3f}' for s in rec['setup_s'])} s")
    print("host: load1 {load1:.2f} (start {load1_start:.2f}), steal_share "
          "{steal_share:.4f}, iowait_share {iowait_share:.4f}".format(**host))
    for name, m in res["metrics"].items():
        print(f"  {name:40s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except benchlib.BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
