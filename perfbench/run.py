#!/usr/bin/env python3
"""Benchmark of the exporter: one run of one workload.

    python3 perfbench/run.py --workload export_stream --seed 1 --seconds 16 --trace 0

Run from the repository root. The first run builds the program from source
(its own sbt build) together with the benchmark, into `.bench_build/`; later
runs reuse the build while the sources are unchanged. Each run is one JVM
(`local[nproc]`, heap from the same formula the test suite uses) with a fresh
`java.io.tmpdir` under `.bench_build/`, removed afterwards, so no derived
artifact outlives its run.

Workloads:
  export_stream   lineitem-shaped table (one file, one row group) through
                  `Exporter(df).{csv,json,xml,html}.writeFile`
  pipeline_dedup  near-dup query d42 (df-cap sweep) on the shingle artifact,
                  drained through its own plan

`--trace 0` prints the end-to-end metrics; `--trace 1` makes a separate
traced run that times each layer from outside and prints the per-layer
metrics. The last stdout line is the result:
`{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}`;
the full result, with the posture it ran at, goes to
`.bench_build/results/<workload>-s<seed>-t<trace>.json` (spans beside it).

`--size toy` runs every workload at toy size (used by selftest.py);
`--record-golden` rewrites perfbench/golden.json from the current program.
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
from pathlib import Path

import gen

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("export_stream", "pipeline_dedup")

END_TO_END = {"setup_s": "s", "rows_per_s": "1/s", "wall_s": "s", "first_row_s": "s"}
CODECS = ("csv", "json", "xml", "html")
PER_LAYER = {
    "sources.scan_s": "s", "sources.scan_tasks": "count", "functions.render_s": "s",
    **{f"sinks.encode_s.{c}": "s" for c in CODECS},
    **{f"exporter.stream_s.{c}": "s" for c in CODECS},
    **{f"exporter.first_row_s.{c}": "s" for c in CODECS},
    **{f"sinks.write_s.{c}": "s" for c in CODECS},
    **{f"sinks.bytes_out.{c}": "B" for c in CODECS},
    "queries.build_s": "s", "queries.plan_s": "s", "queries.exec_s": "s", "ops.artifact_s": "s",
    "engine.tasks": "count", "engine.busy_frac": "ratio", "engine.task_skew": "ratio",
    "engine.shuffle_write_bytes": "B", "engine.spill_bytes": "B", "engine.gc_s": "s",
    "jvm.live_heap_peak_mb": "MB", "trace.overhead_s": "s",
}

# Spark on JDK 17 outside spark-submit needs these module opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

RUN_LIMIT_S = 165  # a run must end within 180 s; leave room to clean up


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the program's build and sources and the
    benchmark's own."""
    files = [ROOT / "build.sbt", *sorted((ROOT / "project").glob("*.*")),
             BENCH / "build.sbt", *sorted((BENCH / "project").glob("*.*"))]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx4g")
    return env


def build(fp):
    """Builds program and benchmark unless the sources (fingerprint `fp`)
    are unchanged; returns the runtime classpath."""
    cp_file = BUILD / "target" / "classpath.txt"
    stamp = BUILD / "fingerprint"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    log(f"building program and benchmark (sources {fp})")
    t0 = time.time()
    with open(BUILD / "build.log", "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if p.returncode != 0 or not cp_file.exists():
        tail = (BUILD / "build.log").read_text().splitlines()[-30:]
        sys.exit("build failed:\n" + "\n".join(tail))
    stamp.write_text(fp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp_file.read_text().strip()


def heap():
    """The heap the test suite runs with: half of RAM in GiB, clamped to 2..8."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def commit():
    """HEAD of the checkout when it is a git work tree of its own."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        top, head = (r.stdout.split() + [None, None])[:2]
        return head if r.returncode == 0 and top and Path(top).resolve() == ROOT else None
    except (OSError, subprocess.SubprocessError):
        return None


def load_golden():
    p = BENCH / "golden.json"
    return json.loads(p.read_text()) if p.exists() else {}


def run_jvm(cp, workload, seed, seconds, trace, size, golden, out, stable_hashes):
    """One JVM run; returns its full result dict."""
    run_dir = BUILD / "runs" / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    tmp = run_dir / "tmp"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp.mkdir(parents=True)
    out.unlink(missing_ok=True)
    try:
        t0 = time.time()
        inputs = gen.generate(workload, seed, size, tmp / "input")
        gen_s = time.time() - t0
        if golden:
            gen.generate(workload, 0, "golden", tmp / "golden")
        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        cmd = [java, f"-Xmx{heap()}", "-XX:-UsePerfData", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
               "-cp", cp, "perfbench.Main",
               "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
               "--trace", str(trace), "--size", size, "--golden", str(int(golden)), "--out", str(out),
               "--rows", ",".join(f"{t}={i['rows']}" for t, i in inputs.items()),
               "--t0-ms", str(int(time.time() * 1000)), "--stable-hashes", ",".join(stable_hashes)]
        with open(run_dir / "jvm.log", "w") as jlog:
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
            code = None
            try:
                code = p.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                pass
            finally:
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
            if code is None:
                sys.exit(f"{workload}: run exceeded {RUN_LIMIT_S} s")
        if code != 0 or not out.exists():
            tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-30:]
            sys.exit(f"{workload}: JVM exited with {code}:\n" + "\n".join(tail))
        res = json.loads(out.read_text())
        res["inputs"] = inputs
        res["setup"]["gen_s"] = gen_s
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def check_golden(got, want):
    """Compares the fixed-input outputs with those recorded at the seed
    commit (an entry recorded as null did not repeat and is not compared);
    returns the ops that differ."""
    bad = []
    for op, g in sorted(got.items()):
        w = want.get(op)
        if isinstance(g, str) and g.startswith("error:"):
            bad.append(f"golden.{op}: {g}")
        elif isinstance(w, dict):
            if g["rows"] != w["rows"] or (w["hash"] is not None and g["hash"] != w["hash"]):
                bad.append(f"golden.{op}: {g} != {w}")
        elif w is not None and g != w:
            bad.append(f"golden.{op}: {g} != {w}")
    return bad


def record_golden(cp):
    """Runs every workload twice on the current program and keeps each
    output that repeats exactly across the two runs."""
    rec = {}
    for w in WORKLOADS:
        ga, gb = (run_jvm(cp, w, 1, 1, 0, "full", True, BUILD / "results" / f"golden-{w}-{i}.json", [])
                  ["golden"] for i in (1, 2))
        errors = [f"{op}: {g}" for op, g in ga.items() if isinstance(g, str) and g.startswith("error:")]
        if errors:
            sys.exit(f"{w}: {errors}")
        if w == "pipeline_dedup":
            rec[w] = {q: {"rows": ga[q]["rows"], "hash": ga[q]["hash"] if ga[q] == gb[q] else None}
                      for q in sorted(ga) if ga[q]["rows"] == gb[q]["rows"]}
        else:
            rec[w] = {c: (ga[c] if ga[c] == gb[c] else None) for c in sorted(ga)}
    (BENCH / "golden.json").write_text(json.dumps(rec, indent=1, sort_keys=True) + "\n")
    log(f"wrote {BENCH / 'golden.json'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full")
    ap.add_argument("--record-golden", action="store_true")
    args = ap.parse_args()
    # on SIGTERM, unwind so the JVM is stopped and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in ("build.sbt", "src/main/scala") if not (ROOT / p).exists()]
    if missing:
        sys.exit(f"not a checkout of the program: missing {', '.join(missing)}")
    t_build = time.time()
    fp = fingerprint()
    cp = build(fp)
    build_s = time.time() - t_build
    (BUILD / "results").mkdir(parents=True, exist_ok=True)
    if args.record_golden:
        return record_golden(cp)
    if not args.workload:
        ap.error("--workload is required")

    want = load_golden().get(args.workload, {})
    stable = [q for q, w in want.items() if isinstance(w, dict) and w["hash"] is not None]
    out = BUILD / "results" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    # The fixed-input outputs depend only on the program build, so they are
    # computed and compared once per build and workload; later runs of the
    # same build carry that verdict.
    verdict_file = BUILD / "golden" / f"{fp}-{args.workload}-{args.size}.json"
    verdict = json.loads(verdict_file.read_text()) if verdict_file.exists() else None
    if verdict and verdict["want"] != want:
        verdict = None
    res = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, args.size,
                  verdict is None, out, stable)
    if verdict is None:
        verdict = {"want": want, "attempted": len(res["golden"]),
                   "bad": check_golden(res["golden"], want)}
        verdict_file.parent.mkdir(exist_ok=True)
        verdict_file.write_text(json.dumps(verdict))
    res["attempted"] += verdict["attempted"]
    res["failed"] += len(verdict["bad"])
    res["failures"] += verdict["bad"]
    res["failed_frac"] = res["failed"] / max(1, res["attempted"])
    res["posture"].update(commit=commit(), sources=fp, heap=heap(), build_s=round(build_s, 1))
    out.write_text(json.dumps(res, indent=1, sort_keys=True) + "\n")

    names = PER_LAYER if args.trace else END_TO_END
    got = res["per_layer"] if args.trace else res["end_to_end"]
    metrics = {n: {"value": float(got.get(n) or 0.0), "unit": u} for n, u in names.items()}
    for f in res["failures"]:
        log(f"FAILED {f}")
    log(f"{args.workload} seed={args.seed} trace={args.trace}: {res['attempted']} ops, "
        f"{res['failed']} failed; full result in {out.relative_to(ROOT)}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
