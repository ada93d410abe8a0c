"""Build, launch and summarise the graft benchmark.

The Scala side (perfbench/src) runs one workload and writes a raw record:
setup repetitions, every timed call, the spans of a traced loop, and the
per-layer replays. This module builds that code together with the
program's own sources, runs it, and turns the record into the metrics
named in BENCHMARK.json.
"""

import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

OPS = ["j1_bcast", "k1_bcast", "idx_build", "idx_append", "idx_range",
       "idx_knn", "idx_compact"]
SPARK_KEYS = ["jobs", "tasks", "run_s", "cpu_s", "busy_share",
              "shuffle_write_bytes", "spill_bytes", "task_skew"]
STORE_KEYS = ["generations", "bytes", "files", "write_amp", "bytes_per_point"]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    """A run that cannot produce a result."""


# ------------------------------------------------------------------ build

def build_dir():
    """Where builds and run records go: $CARGO_TARGET_DIR or .bench_build."""
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def sources():
    main = ROOT / "src" / "main"
    if not main.is_dir():
        raise BenchError(f"program sources not found under {main}")
    files = [p for p in sorted(main.rglob("*")) if p.suffix in (".scala", ".java")]
    files += sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    if not any(p.suffix == ".scala" for p in files):
        raise BenchError("no Scala sources to build")
    return files


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase),
    else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.is_file() else "")
    if m:
        return Path(m.group(1))
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    raise BenchError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def _check_run(cmd, timeout):
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=timeout)
    if r.returncode != 0:
        raise BenchError(f"{cmd[0]} failed ({r.returncode}):\n{r.stdout[-4000:]}")


def build(timeout=800):
    """Compile the program and the benchmark into one class directory,
    reusing it while no source file changed. Returns the directory."""
    srcs = sources()
    if not spark_jars().is_dir():
        raise BenchError(f"Spark jars not found at {spark_jars()}")
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = build_dir()
    out.mkdir(parents=True, exist_ok=True)
    with open(out / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # concurrent runs share one build
        return _build(srcs, stamp, out, timeout)


def _build(srcs, stamp, out, timeout):
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = f"{spark_jars()}/*"
    javas = [str(p) for p in srcs if p.suffix == ".java"]
    _check_run(["java", "-Xss16m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(p) for p in srcs],
               timeout)
    if javas:
        _check_run(["javac", "--add-modules", "jdk.incubator.vector", "-nowarn",
                    "-cp", f"{tmp}:{jars}", "-d", str(tmp)] + javas, timeout)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


def heap_gb():
    """A quarter of the machine's memory, between 2 and 4 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def java_cmd(classes, main, args, work):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", f"-Xms{heap_gb()}g", f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={tmp}",
             "--add-modules=jdk.incubator.vector", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", f"{classes}:{spark_jars()}/*", main] + args)


def run_java(cmd, timeout, log):
    """Runs the JVM in its own process group; kills the group on timeout."""
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"run exceeded {timeout:.0f} s")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


# ------------------------------------------------------------------- host

def host_snapshot():
    """/proc/loadavg and the aggregate cpu line of /proc/stat."""
    snap = {}
    try:
        with open("/proc/loadavg") as f:
            snap["loadavg"] = [float(x) for x in f.read().split()[:3]]
        with open("/proc/stat") as f:
            snap["cpu"] = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        pass
    return snap


def host_delta(a, b):
    """Load averages at the end, and the shares of CPU time spent in
    steal and iowait between the two snapshots."""
    out = {"load1": b.get("loadavg", [0.0])[0],
           "load1_start": a.get("loadavg", [0.0])[0],
           "steal_share": 0.0, "iowait_share": 0.0}
    ca, cb = a.get("cpu"), b.get("cpu")
    if ca and cb:
        d = [y - x for x, y in zip(ca, cb)]
        total = sum(d[:8]) or 1
        out["iowait_share"] = d[4] / total
        out["steal_share"] = (d[7] if len(d) > 7 else 0) / total
    return out


# ------------------------------------------------------------------ stats

def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def self_times(spans):
    """Self time (ms) per span id: its duration minus the part of it that
    the union of its children's intervals covers."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["startMs"], s["endMs"]
        ivs = sorted((max(lo, c["startMs"]), min(hi, c["endMs"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def round_times(calls, phase):
    """Wall time of each round of a phase: the sum of its calls."""
    by = {}
    for c in calls:
        if c["phase"] == phase:
            by[c["round"]] = by.get(c["round"], 0.0) + c["sec"]
    return [by[r] for r in sorted(by)]


def role_mrows(calls, phase, role):
    """Median over a role's successful calls of rows per second, in M."""
    return median([c["rows"] / c["sec"] / 1e6 for c in calls
                   if c["phase"] == phase and c["role"] == role
                   and c["ok"] and c["sec"] > 0])


def end_to_end(rec):
    calls = rec["calls"]
    return {
        "setup_s": median(rec["setup_s"]),
        "join_mrows_s": role_mrows(calls, "measure", "join"),
        "knn_mrows_s": role_mrows(calls, "measure", "knn"),
        "round_s": median(round_times(calls, "measure")),
    }


def per_layer(rec, host):
    calls = [c for c in rec["calls"]
             if c["phase"] in ("traced", "traced_extra") and c["ok"]]
    selfs = self_times(rec["spans"])
    m = {}
    for op in OPS:
        cs = [c for c in calls if c["op"] == op]
        m[f"engine.{op}.wall_s"] = median([c["sec"] for c in cs])
        m[f"engine.{op}.driver_s"] = median(
            [selfs.get(c["span"], 0.0) / 1e3 for c in cs])
        for k in SPARK_KEYS:
            m[f"spark.{op}.{k}"] = median([c["spark"].get(k, 0.0) for c in cs])
    m.update(rec["layers"])
    for k in STORE_KEYS:
        m[f"store.{k}"] = rec["store"].get(k, 0.0)
    m["jvm.heap_live_peak_mb"] = rec["jvm"]["heap_live_peak_mb"]
    m["jvm.gc_s"] = rec["jvm"]["gc_s"]
    base = median(round_times(rec["calls"], "measure"))
    traced = median(round_times(rec["calls"], "traced"))
    m["trace.overhead_share"] = (traced - base) / base if base else 0.0
    for k in ("load1", "steal_share", "iowait_share"):
        m[f"host.{k}"] = host[k]
    return m


def load_spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def result(rec, trace, host, spec):
    """The final JSON object: every end_to_end metric (trace 0) or every
    per_layer metric (trace 1), each with the unit BENCHMARK.json gives."""
    group = "per_layer" if trace else "end_to_end"
    values = per_layer(rec, host) if trace else end_to_end(rec)
    metrics = {}
    for m in spec[group]:
        if m["name"] not in values:
            raise BenchError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    failed = len(rec["failures"])
    attempted = max(1, rec["attempted"])
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
