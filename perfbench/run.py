#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use (sbt, into
perfbench/target), generates the seeded inputs, runs the workload in one
local[nproc] Spark JVM, checks its outputs against DuckDB oracles, writes
the full result (every op, every failure with its exception) to
perfbench/out/, and prints one metric per line followed by the result
JSON as the last line. --trace 0 reports the end-to-end metrics of
BENCHMARK.json; --trace 1 the per-layer ones.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target", "bench")
OUT = os.path.join(BENCH, "out")
JVM_TIMEOUT_S = 160

# Input size per workload: (scale factor, documents). Chosen so a run
# (JVM start, warm-up, the measured window, checks) stays well under a
# minute on 4 cores.
SIZES = {
    "plan_browse": (0.002, 1000),
    "query_mix": (0.002, 500),
    "ingest_keep_best": (0.002, 500),
}

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
    """Hash of every file the build reads, so a changed source rebuilds."""
    files = []
    for base in (ROOT, BENCH):
        files += [os.path.join(base, "build.sbt")]
        files += sorted(glob.glob(os.path.join(base, "project", "*.*")))
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """The runtime classpath of the program plus the benchmark."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to the benchmark (need ../build.sbt "
             "and ../src/main/scala)")
    os.makedirs(TARGET, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(TARGET, "classpath.json")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL).returncode
    with open(log) as f:
        lines = [l.strip() for l in f]
    cps = [l for l in lines if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        fail(f"build failed (sbt exit {rc}); see {log}", 1)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, f)
    return cps[-1]


def inputs(seed, sf, docs):
    """Seeded input tables, generated once per (generator, seed, size)."""
    with open(os.path.join(BENCH, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(TARGET, "data", f"{tag}-s{seed}-sf{sf}-d{docs}")
    if not os.path.isfile(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), d,
                        str(seed), str(sf), str(docs)], check=True)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def heap():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
        return f"{min(4, max(2, kb // 2 // (1 << 20)))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(cp, args, work, log):
    """Run the workload JVM with its temporary files inside `work`; a
    timeout or a signal to this script kills it and waits for it.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + [x for p in ADD_OPENS
                      for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp,
            "graft.perfbench.Main"] + args
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(1)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail_percentile(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); the maximum when there are fewer than eleven.
    """
    s = sorted(xs)
    if len(s) < 11:
        return s[-1], 100.0
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


def median(xs):
    return statistics.median(xs) if xs else None


def metrics(res, failures, attempted):
    """End-to-end metrics from the untraced passes (all of them in a
    --trace 0 run), as {name: (value, unit, samples)}.
    """
    plain = {p["pass"] for p in res["passes"] if not p["traced"]}
    ops = [o for o in res["ops"] if o["ok"] and o["pass"] in plain]
    kinds = set(res["unit_kinds"])
    unit = [o["dur_s"] for o in ops if o["kind"] in kinds]
    by = lambda k: [o["dur_s"] for o in ops if o["kind"] == k]
    passes = [p["pass_s"] for p in res["passes"] if p["pass"] in plain]
    tail, pct = tail_percentile(unit) if unit else (None, None)
    m = {
        "setup_s": (res["session_s"] + res["warmup_s"]
                    + median(res["setup_unit_s"]), "s", 1),
        "pass_s": (median(passes), "s", len(passes)),
        "op_p50_s": (median(unit), "s", len(unit)),
        "op_tail_s": (tail, "s", len(unit)),
        "error_rate": (len(failures) / max(1, attempted), "ratio", attempted),
    }
    if res["workload"] == "plan_browse":
        m["first_page_s"] = (median(by("first_view")), "s", len(by("first_view")))
        m["page_p50_s"] = (median(by("page")), "s", len(by("page")))
    if res["workload"] == "ingest_keep_best":
        batches = [o for o in ops if o["kind"] == "batch"]
        m["search_p50_s"] = (median(by("search")), "s", len(by("search")))
        m["ingest_docs_per_s"] = (
            sum(o["docs"] for o in batches)
            / max(1e-9, sum(o["dur_s"] for o in batches)), "docs/s",
            len(batches))
        m["space_amp"] = (res["checks"]["space_amp"], "ratio", 1)
    return m, pct


def per_layer(res, names):
    """Median over the traced passes of each per-layer number."""
    rows = res["layers_by_pass"]
    out = {n: median([r.get(n, 0.0) for r in rows]) if rows else 0.0
           for n in names}
    traced = [p["pass_s"] for p in res["passes"] if p["traced"]]
    plain = [p["pass_s"] for p in res["passes"] if not p["traced"]]
    if "trace.overhead" in out:
        out["trace.overhead"] = (median(traced) / median(plain) - 1.0
                                 if traced and plain else 0.0)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in SIZES:
        fail(f"unknown workload {a.workload}; one of {sorted(SIZES)}")
    cp = build()
    sf, docs = SIZES[a.workload]
    data = inputs(a.seed, sf, docs)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(TARGET, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    raw = os.path.join(work, "raw.json")
    log = os.path.join(OUT, f"{tag}.log")
    t0 = time.time()
    rc = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--data", data, "--work", work, "--out", raw], work, log)
    if rc != 0 or not os.path.isfile(raw):
        fail(f"workload JVM failed (exit {rc}); see {log}", 1)
    with open(raw) as f:
        res = json.load(f)
    spans = raw[:-len(".json")] + ".spans.jsonl"
    if os.path.isfile(spans):
        shutil.copy(spans, os.path.join(OUT, f"{tag}.spans.jsonl"))
    failures = [{"workload": a.workload, "op": o["kind"] + ":" + o["name"],
                 "pass": o["pass"], "error_class": o["error_class"],
                 "error_message": o["error_message"]}
                for o in res["ops"] if not o["ok"]]
    try:
        failures += checks.run(res, data)
    except Exception as e:  # an output the check cannot read is no pass
        failures.append({"workload": a.workload, "op": "check",
                         "pass": None, "error_class": type(e).__name__,
                         "error_message": str(e)})
    attempted = len(res["ops"])
    m, tail_pct = metrics(res, failures, attempted)
    shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        names = [x["name"] for x in spec["per_layer"]]
        vals = per_layer(res, names)
        units = {x["name"]: x["unit"] for x in spec["per_layer"]}
    else:
        names = [x["name"] for x in spec["end_to_end"]]
        vals = {n: m[n][0] for n in names}
        units = {x["name"]: x["unit"] for x in spec["end_to_end"]}
    for k, (v, unit, n) in m.items():
        extra = f" (p{tail_pct:.1f})" if k == "op_tail_s" else ""
        print(f"{a.workload} {k} = {v} {unit} [n={n}]{extra}")
    if a.trace:
        for n in names:
            print(f"{a.workload} {n} = {vals[n]} {units[n]}")
    print(f"{a.workload} canary_s start={res['canary_start_s']:.4f} "
          f"end={res['canary_end_s']:.4f} nproc={res['nproc']} "
          f"heap_mb={res['heap_mb']} seed={a.seed} wall_s={time.time() - t0:.1f}")
    for fl in failures:
        print(f"{a.workload} FAILED {fl['op']}: {fl['error_class']}: "
              f"{(fl['error_message'] or '')[:300]}")
    result = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "nproc": res["nproc"], "heap_mb": res["heap_mb"],
        "canary_start_s": res["canary_start_s"],
        "canary_end_s": res["canary_end_s"],
        "metrics_all": {k: {"value": v, "unit": u, "n": n}
                        for k, (v, u, n) in m.items()},
        "op_tail_percentile": tail_pct,
        "per_layer": per_layer(res, [x["name"] for x in spec["per_layer"]])
        if a.trace else None,
        "passes": res["passes"], "setup_unit_s": res["setup_unit_s"],
        "session_s": res["session_s"], "warmup_s": res["warmup_s"],
        "ops": res["ops"], "failures": failures,
    }
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(result, f, indent=1)
    line = {
        "correct": not failures, "attempted": attempted,
        "failed": min(attempted, len(failures)),
        "metrics": {n: {"value": vals[n], "unit": units[n]} for n in names},
    }
    print(json.dumps(line))


if __name__ == "__main__":
    main()
