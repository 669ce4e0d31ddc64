#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the benchmark's
JVM harness from source into `.bench_build/`, generates the workload's
inputs from the seed under `.bench_run/`, runs one JVM, checks every op's
output, prints each metric by name with its unit, and prints one JSON object
as its last line. With `--trace 0` that object carries the end-to-end
metrics of `BENCHMARK.json`; with `--trace 1` the per-layer metrics. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

START = time.monotonic()
BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
DEADLINE_S = 170
DEFAULT_SEED = 1
# A/B seams that change what the engine runs; a shell left over from a probe
# would otherwise silently measure a different program.
SEAMS = ("SPARK_GRAFT_OFFHEAP_MB", "SPARK_GRAFT_PREFER_SMJ",
         "SPARK_GRAFT_EXTRA_JAVA_OPTS")
# About the seconds one timed pass takes on a 4-core host: the pass count is
# seconds / this, fixed by the arguments and never by the time measured.
PASS_S = 2.5
SETUPS = 3
# C1 only where a pass is mostly Spark's own planning and scheduling code:
# under the tiered JIT, C2 kept speeding those passes up for the whole run,
# which made runs unsteady. The battery fleet is CPU-bound parsing and
# writing, which C1-only code runs twice as slowly, so it keeps the default.
JIT = {"analytics": ["-XX:TieredStopAtLevel=1"],
       "curation_nat": ["-XX:TieredStopAtLevel=1"], "battery_fleet": []}
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def remaining() -> float:
    return DEADLINE_S - (time.monotonic() - START)


def spark_jars() -> Path:
    """The Spark jars the sbt build compiles against (`unmanagedBase` in
    build.sbt), else `$SPARK_HOME/jars`."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if m:
        return Path(m.group(1))
    if "SPARK_HOME" not in os.environ:
        fail("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return Path(os.environ["SPARK_HOME"]) / "jars"


def build() -> Path:
    """Compile the engine's main sources and the harness in one scalac run,
    unless `.bench_build` already holds classes of exactly these sources."""
    out = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    srcs = sorted((ROOT / "src/main/scala").rglob("*.scala")) + \
        sorted((BENCH / "harness").glob("*.scala"))
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = h.hexdigest()
    classes = out / "classes"
    if (classes / "STAMP").is_file() and (classes / "STAMP").read_text() == stamp:
        return classes
    shutil.rmtree(out / "classes.tmp", ignore_errors=True)
    (out / "classes.tmp").mkdir(parents=True)
    (out / "sources.txt").write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{spark_jars()}/*"
    t0 = time.monotonic()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-d", str(out / "classes.tmp"),
         "-cp", cp, f"@{out / 'sources.txt'}"],
        capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        print(r.stdout[-4000:], r.stderr[-4000:], file=sys.stderr)
        fail("build failed", 1)
    (out / "classes.tmp" / "STAMP").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    (out / "classes.tmp").rename(classes)
    print(f"build: compiled {len(srcs)} sources in {time.monotonic() - t0:.1f} s")
    return classes


def heap() -> str:
    """The Tier-1 formula: half the host's RAM in GB, clamped to 2..8. The
    heap is committed up front with a fixed 1 GB young generation, so the
    peak resident set follows the program's live data instead of the
    collector's run-to-run sizing decisions."""
    kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def private_tmp_ok(tmp: Path) -> bool:
    """True when the JVM can run in a mount namespace whose /tmp is `tmp`,
    which keeps the engine's `/tmp/graft_*` artifacts inside the checkout."""
    if not shutil.which("unshare"):
        return False
    r = subprocess.run(["unshare", "-m", "sh", "-c", 'mount --bind "$0" /tmp', str(tmp)],
                       capture_output=True)
    return r.returncode == 0


def run_jvm(classes: Path, args: dict, run: Path) -> None:
    tmp = run / "tmp"
    tmp.mkdir(parents=True)
    isolated = private_tmp_ok(tmp)
    jvm_tmp = "/tmp" if isolated else str(tmp)
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-Xmn1g", *JIT[args["workload"]], "-XX:-UsePerfData", f"-Djava.io.tmpdir={jvm_tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={jvm_tmp}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    resources = ROOT / "src/main/resources"
    cmd += ["-cp", f"{classes}:{resources}:{spark_jars()}/*", "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    if isolated:
        cmd = ["unshare", "-m", "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"',
               str(tmp)] + cmd
    else:
        print("warning: no private /tmp (unshare unavailable); engine artifacts "
              "go to the host /tmp/graft_*")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    log = open(run / "jvm.log", "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                         start_new_session=True)
    try:
        code = p.wait(timeout=max(5.0, remaining() - 10))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"JVM did not finish in time; see {run / 'jvm.log'}", 1)
    finally:
        log.close()
    if code != 0:
        sys.stderr.write((run / "jvm.log").read_text()[-4000:])
        fail(f"JVM exited with {code}", 1)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples):
    """The highest percentile with at least ten samples above it; the
    maximum when that percentile would not be above the median (fewer than
    20 samples)."""
    s = sorted(samples)
    if len(s) < 20:
        return s[-1], 100.0, len(s)
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s), len(s)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(JIT))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default="",
                    help="self-test: throw:<op> and/or wrong:<op>, comma-separated")
    ap.add_argument("--record-expected", action="store_true",
                    help="write this run's outputs as the default seed's expectations")
    a = ap.parse_args()

    seams = [k for k in SEAMS if os.environ.get(k)]
    if seams:
        fail(f"refusing to run with A/B seam(s) set: {', '.join(seams)}")
    if not (ROOT / "src/main/scala/graft").is_dir() or not (ROOT / "build.sbt").is_file():
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    sys.path.insert(0, str(BENCH))
    import checks
    import gen

    t_build = time.monotonic()
    classes = build()
    t_build = time.monotonic() - t_build
    run = ROOT / ".bench_run" / a.workload
    shutil.rmtree(run, ignore_errors=True)
    fixture = run / "data"
    manifest = gen.generate(a.workload, fixture, a.seed)
    print(f"fixture: seed {a.seed}, generated in {manifest['generate_s']:.2f} s: " +
          ", ".join(f"{t} {v['rows']} rows/{v['bytes']} B" for t, v in manifest["tables"].items()))

    cores = len(os.sched_getaffinity(0))
    passes = max(2, round(a.seconds / PASS_S))
    cells = ",".join(f"{c['cell']}:{fixture / c['csv']}:{c['rows']}"
                     for c in manifest.get("cells", []))
    t_jvm = time.monotonic()
    run_jvm(classes, {"workload": a.workload, "data": fixture, "run": run,
                      "passes": passes, "setups": SETUPS, "trace": a.trace,
                      "cores": cores, "inject": a.inject or "-", "cells": cells or "-"},
            run)
    t_jvm = time.monotonic() - t_jvm
    result = json.loads((run / "result.json").read_text())
    env = result["env"]
    print(f"env: nproc {env['nproc']}, local[{env['cores']}], heap {env['heap_max_mb']} MB, "
          f"{env['jvm']}, Spark {env['spark']}, {passes} timed passes, {SETUPS} set-ups")
    print("env: spark conf " + json.dumps(env["spark_conf"], sort_keys=True))

    expected_path = BENCH / "expected.json"
    committed = json.loads(expected_path.read_text()) if expected_path.is_file() else {}
    expected = None
    if a.seed == DEFAULT_SEED and not a.record_expected:
        expected = committed.get(a.workload, {})
    t_check = time.monotonic()
    bad, record = checks.check_outputs(result, fixture, manifest, expected)
    t_check = time.monotonic() - t_check
    if a.record_expected:
        committed[a.workload] = {op: r for op, r in record.items() if "hash" in r}
        expected_path.write_text(json.dumps(committed, indent=1, sort_keys=True) + "\n")
    for f in result["failures"]:
        print(f"FAILED {f['op']} ({f['phase']}): {f['error']}")
    for f in bad:
        print(f"FAILED {f['op']} check '{f['check']}': {f['reason']}")
    failed = len(result["failures"]) + len(bad)
    attempted = result["attempted"]

    plain = [p for p in result["passes"] if not p["traced"]]
    traced = [p for p in result["passes"] if p["traced"]]
    samples = [s for p in plain for s in p["ops"].values()]
    t_val, t_pct, t_n = tail(samples)
    e2e = {
        "setup_s": (median([s["setup_s"] for s in result["setups"]]), "s"),
        "wall_s": (median([p["wall_s"] for p in plain]), "s"),
        "op_p50_s": (median(samples), "s"),
        "op_tail_s": (t_val, "s"),
        "cpu_s": (median([p["cpu_s"] for p in plain]), "s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }
    for name, (v, unit) in e2e.items():
        extra = ""
        if name == "op_tail_s":
            extra = (f"  (max of {t_n} op samples)" if t_pct == 100.0
                     else f"  (p{t_pct:.1f} of {t_n} op samples, 10 above)")
        print(f"{name} = {v:.4f} {unit}{extra}")
    print(f"ops_failed = {failed} count  (ops_attempted = {attempted} count)")
    print(f"time: build {t_build:.1f} s, JVM {t_jvm:.1f} s, checks {t_check:.1f} s, "
          f"total {time.monotonic() - START:.1f} s")
    print("artifact builds per timed pass: " +
          " ".join(str(p["artifact_builds"]) for p in result["passes"]))

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if a.trace:
        layers = {}
        for k in {k for p in traced for k in p["layers"]}:
            layers[k] = median([p["layers"].get(k, 0.0) for p in traced])
        layers["session.start_s"] = median([s["start_s"] for s in result["setups"]])
        layers["session.warmup_s"] = median([s["warmup_s"] for s in result["setups"]])
        layers["jvm.gc_s"] = median([p["gc_s"] for p in traced])
        layers["jvm.gc_share"] = median([p["gc_s"] / p["wall_s"] for p in traced])
        layers["sources.artifact_builds"] = median([p["artifact_builds"] for p in traced])
        layers["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - e2e["wall_s"][0]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        for name, m in metrics.items():
            print(f"{name} = {m['value']:.6g} {m['unit']}")
        print(f"spans: {run / 'spans.jsonl'}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": units[m["name"]]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
