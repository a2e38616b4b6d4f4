#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and caches the classpath under `.bench_build/`;
later runs rebuild only when a source file changed. Each run:

1. runs `perfbench.Main` on `local[nproc]` in a fresh work dir over the
   fixture tables under `perfbench/data/` (the CDC payloads are drawn from
   the seed inside the JVM): set-up with the untimed correctness pass, then
   `--seconds` of timed closed-loop work;
2. once the JVM has ended, for the query workloads, checks every result the
   correctness pass wrote against DuckDB with the repository's
   `tools/check_oracle.py`, so the oracle never shares the cores with
   set-up or timed work;
3. writes everything it measured to a detail file and prints two lines: a
   short summary (sample counts, failing entries, detail path) and, last,
   the result object with `correct`, `attempted`, `failed` and `metrics`.

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer metrics (from a run with listeners attached; the detail file
then also holds every span).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build" / "perfbench"
QUERY_WORKLOADS = ("query_mix", "llm_pipeline")
WORKLOADS = QUERY_WORKLOADS + ("cdc_ingest",)
# The fixture tables are the engine's own test tables, copied here: the same
# in every run. The seed drives the operation order and the CDC stream.
SCALES = ("0.01", "0.001")
RUN_LIMIT_S = 170  # a run must end within 180 s, the first build aside
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".properties", ".scala"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """Builds when the sources changed; returns the runtime classpath."""
    stamp_file = BUILD / "build.json"
    stamp = source_stamp()
    if stamp_file.exists():
        cached = json.loads(stamp_file.read_text())
        if cached["stamp"] == stamp and all(Path(p).exists() for p in cached["classpath"]):
            return cached["classpath"]
    BUILD.mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = BUILD / "build.log"
    print("perfbench: building engine and harness (sbt, offline)", file=sys.stderr)
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S,
        ).returncode
    lines = log.read_text().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (rc={rc}), log in {log}", 1)
    cp = lines[-1].strip().split(os.pathsep)
    stamp_file.write_text(json.dumps({"stamp": stamp, "classpath": cp}))
    return cp


def oracle_gate(data, dump, names, timeout):
    """Checks the dumped results of `names` with the repository's DuckDB
    oracle in one call. Returns {name: why} for every entry that does not
    match, including any the tool did not report on."""
    tool = ROOT / "tools" / "check_oracle.py"
    try:
        proc = subprocess.run([sys.executable, str(tool), str(data), str(dump), ",".join(names)],
                              capture_output=True, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        return {n: "oracle timed out" for n in names}
    failing, passed = {}, 0
    for line in proc.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("FAIL", "ERROR"):
            name = rest.split(":", 1)[0]
            failing[name] = line[:300]
        elif word == "rows-only":
            name = rest.split(":", 1)[0]
            if line.endswith("[ok]"):
                passed += 1
            else:
                failing[name] = line[:300]
        elif line.endswith("failed") and " passed, " in line:
            passed += int(line.split(" ", 1)[0])
    if passed + len(failing) != len(names):
        why = f"oracle reported {passed} passed, {len(failing)} failed of {len(names)}: {proc.stderr[-200:]}"
        failing.update({n: why for n in names if n not in failing})
    return failing


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=SCALES, default=SCALES[0], help="fixture scale")
    ap.add_argument("--cdc-rows", type=int, default=80000)
    ap.add_argument("--cdc-batches", type=int, default=4)
    args = ap.parse_args()
    t_start = time.time()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"run from the repository root: no engine sources under {ROOT}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = classpath()
    marks = {"build": time.time() - t_start}

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = BUILD / "work" / f"{run_id}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    origin_ms = time.time() * 1000.0
    data = HERE / "data" / f"sf{args.sf}"
    if not (data / "lineitem.parquet").is_file():
        die(f"no fixture tables under {data}")

    result_file = work / "result.json"
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", str(data), "--work", str(work), "--out", str(result_file),
            "--cpus", str(cpus()), "--origin-ms", repr(origin_ms),
            "--cdc-rows", str(args.cdc_rows),
            "--cdc-batches", str(args.cdc_batches)]
    log = work / "jvm.log"
    deadline = t_start + RUN_LIMIT_S
    with open(log, "w") as out:
        jvm = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = jvm.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if jvm.poll() is None:
                jvm.kill()
                jvm.wait()
    if rc != 0 or not result_file.exists():
        sys.stderr.write("\n".join(log.read_text(errors="replace").splitlines()[-40:]) + "\n")
        die(f"benchmark JVM failed ({rc})", 1)
    res = json.loads(result_file.read_text())
    marks["jvm"] = time.time() - t_start
    marks["origin"] = origin_ms / 1000.0 - t_start

    failures = dict(res.get("failures", {}))
    attempted, failed = res["attempted"], res["failed"]
    if args.workload in QUERY_WORKLOADS:
        # an entry whose dump failed is already counted as failed by the JVM
        dump = work / "dump"
        names = [n for n in res["entries"] if (dump / n / "_SUCCESS").exists()]
        failing = oracle_gate(data, dump, names, max(5.0, deadline - time.time())) if names else {}
        attempted, failed = attempted + len(names), failed + len(failing)
        res["gate_checks"] = len(names)
        failures.update({f"oracle:{n}": why for n, why in failing.items()})
    marks["done"] = time.time() - t_start

    if args.trace:
        layers = dict(res["layers"])
        layers["engine.session_s"] = res["engine.session_s"]
        for k in ("trace.overhead_frac", "trace.noise_frac"):
            layers[k] = res[k]
        wanted = spec["per_layer"]
        source = layers
    else:
        wanted = spec["end_to_end"]
        source = res
    missing = [m["name"] for m in wanted if source.get(m["name"]) is None]
    if missing:
        die(f"result lacks metrics {missing}", 1)
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}

    detail = BUILD / "runs" / f"{run_id}.json"
    detail.parent.mkdir(parents=True, exist_ok=True)
    res.update(runner_marks_s=marks, attempted=attempted, failed=failed, failures=failures,
               failed_frac=failed / attempted, metrics=metrics)
    detail.write_text(json.dumps(res, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    # the summary: each end-to-end number as [value, unit, samples]
    n = {"setup_s": 1, "suite_s": res["n_passes"],
         "op_p50_s": res["n_ops"], "op_p90_s": res["n_ops"]}
    e2e = {"peak_rss_mb": [round(res["peak_rss_mb"], 1), "MB", 1],
           "heap_retained_mb": [round(res["heap_retained_mb"], 1), "MB", 1]}
    for name in ("setup_s", "suite_s", "op_p50_s", "op_p90_s"):
        if res.get(name) is not None:
            e2e[name] = [round(res[name], 4), "s", n[name]]
    if args.workload == "cdc_ingest":
        for name in ("backfill_rows_per_s", "stream_rows_per_s"):
            e2e[name] = [round(res[name], 1), "rows/s", res["n_passes"]]
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "e2e": e2e, "failed_frac": round(failed / attempted, 6),
               "failing": sorted(failures)[:3], "detail": str(detail.relative_to(ROOT))}
    if args.trace:
        # tracing overhead, and whether it stands out of the untraced passes' own spread
        over, noise = res["trace.overhead_frac"], res["trace.noise_frac"]
        summary["trace_overhead"] = [round(over, 4), round(noise, 4),
                                     "resolved" if abs(over) > noise else "unresolved"]
    print(json.dumps(summary, separators=(",", ":")))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
