#!/usr/bin/env python3
"""The repository benchmark: three composed pipelines, timed end to end.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program from source (once per
source state, under .bench_build), generates the workload's inputs from the
seed, starts one set-up probe JVM and then one measuring JVM (local[4], one
caller, closed loop): a cold pipeline run, one warm-up repeat (checked, not
timed), then at least two warm repeats, more while the measuring window of
--seconds (cold included) is not over.
Every run's outputs are then checked against a DuckDB replay of the pipeline
over the generator's expected values.

--trace 0 prints the end-to-end metrics; --trace 1 alternates untraced and
traced repeats and prints the per-layer metrics (see layers.json). The last
stdout line is one JSON object; the full record (runs, spans, Spark confs,
machine shape) is kept in .bench_build/records/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CPUS = 4
PROBES = 1            # set-up probe JVMs per run, besides the measuring JVM
JVM_TIMEOUT_S = 150
WORKLOADS = list(gen.GENERATORS)
END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "rows_per_s": "1/s"}
MODULE_SPANS = [
    "sources.grib.read", "sources.nc.read", "sources.tiff.read", "sources.shp.read",
    "sources.nc.write", "sinks.parquet.write",
    "operators.flood.detailed", "operators.flood.summary", "operators.flood.geometry",
    "operators.deforestation.per_year", "operators.deforestation.per_basin",
    "queries.pipeline.quality", "queries.pipeline.exact", "operators.dedup.minhash",
    "queries.pipeline.decontam", "operators.prefixsum.budget",
]
EXEC = ["jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_mb",
        "shuffle_read_mb", "fetch_wait_s", "spill_mb", "busy_share", "skew_ratio",
        "skipped_stage_share", "failed_tasks"]
LAYERS = ["sources", "operators", "queries", "sinks", "pipeline"]
MIB = 1024.0 * 1024.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(1)


def heap() -> str:
    """Half of RAM, capped at 8g, at least 2g (as the tier-1 test line sizes it)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def jvm(classes: str, work: str, xmx: str) -> list:
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    # no hsperfdata or crash files outside the work directory
    return ["java", *opens, f"-Xmx{xmx}", "-XX:-UsePerfData",
            f"-XX:ErrorFile={work}/hs_err_%p.log", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "pipebench.Main"]


def call(cmd: list, log: str) -> str:
    """Run a JVM to completion; its stdout, or exit non-zero with the log tail."""
    with open(log, "ab") as lf:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=lf, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"JVM timed out after {JVM_TIMEOUT_S} s; see {log}")
    if p.returncode != 0:
        with open(log, errors="replace") as lf:
            tail = lf.read()[-3000:]
        fail(f"JVM exited {p.returncode}:\n{tail}")
    return p.stdout.decode(errors="replace")


def median_of(runs: list, f) -> float:
    vals = [f(r) for r in runs]
    return statistics.median(vals) if vals else 0.0


def end_to_end(record: dict, setups: list, meta: dict) -> tuple:
    runs = record["runs"]
    warm = sorted(r["seconds"] for r in runs if r["kind"] == "warm")
    warm_s = statistics.median(warm)
    metrics = {
        "setup_s": statistics.median(setups),
        "cold_s": runs[0]["seconds"],
        "warm_s": warm_s,
        "rows_per_s": meta["input_rows"] / warm_s,
    }
    notes = {"warm_n": len(warm),
             "warm_tail": f"slowest of n={len(warm)} warm repeats (p{100 * (len(warm) - 1) // len(warm)}+)",
             "input_rows": meta["input_rows"], "setup_samples": setups}
    return metrics, notes


def self_times(spans: list, run: int) -> dict:
    """Per-layer self time of one traced run: span duration minus children."""
    mine = [s for s in spans if s["run"] == run]
    out = {layer: 0.0 for layer in LAYERS}
    for s in mine:
        dur = s["end_s"] - s["start_s"]
        kids = sum(c["end_s"] - c["start_s"] for c in mine if c["parent"] == s["id"])
        out[s["name"].split(".")[0]] += dur - kids
    return out


def per_layer(record: dict, meta: dict) -> dict:
    runs, spans = record["runs"], record["spans"]
    warm = [r for r in runs if r["kind"] == "warm" and r["ok"]]
    traced = [r for r in runs if r["kind"] == "traced" and r["ok"]]

    def span_s(name, run):
        return sum(s["end_s"] - s["start_s"] for s in spans
                   if s["run"] == run["id"] and s["name"] == name)

    def phase(run, name, key="seconds"):
        return sum(p[key] for p in run.get("phases", []) if p["name"] == name)

    m = {f"{name}_s": median_of(traced, lambda r, n=name: span_s(n, r)) for name in MODULE_SPANS}
    grib_mb = meta["input_bytes"] / MIB if record["workload"] == "flood_e2e" else 0.0
    tiff_mb = meta["input_bytes"] / MIB if record["workload"] == "deforestation_zonal" else 0.0
    m["sources.grib.read_mb_per_s"] = grib_mb / m["sources.grib.read_s"] if grib_mb else 0.0
    m["sources.tiff.read_mb_per_s"] = tiff_mb / m["sources.tiff.read_s"] if tiff_mb else 0.0
    nc = os.path.join(runs[0]["dir"], "intensity.nc")
    m["sources.nc.write_mb"] = os.path.getsize(nc) / MIB if os.path.exists(nc) else 0.0
    for name in ("build", "plan", "exec"):
        m[f"queries.{name}_s"] = median_of(warm, lambda r, n=name: phase(r, f"queries.{n}"))
    m["queries.eager_jobs"] = median_of(warm, lambda r: phase(r, "queries.build", "jobs"))
    m["core.storage_peak_mb"] = median_of(warm, lambda r: r["storage_peak_mb"])
    m["peak_heap_mb"] = max(r["live_heap_mb"] for r in runs)
    m["warm_tail_s"] = max(r["seconds"] for r in warm)
    for k in EXEC:
        m[f"exec.{k}"] = median_of(warm, lambda r, k=k: r["exec"][k])
    for layer in LAYERS:
        m[f"self.{layer}_s"] = median_of(traced, lambda r, l=layer: self_times(spans, r["id"])[l])
    m["trace.overhead_s"] = (median_of(traced, lambda r: r["seconds"])
                            - median_of(warm, lambda r: r["seconds"]))
    with open(os.path.join(HERE, "layers.json")) as f:
        units = {k: v["unit"] for k, v in json.load(f)["metrics"].items()}
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="full")
    a = ap.parse_args()
    if os.environ.get("SPARK_GRAFT_CONF"):
        fail("SPARK_GRAFT_CONF is set; unset it so no A/B knob taints the record")

    try:
        classes = build.build(BUILD_DIR)
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(str(e))
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{a.size}"
    work_root = os.path.join(BUILD_DIR, "work")
    shutil.rmtree(work_root, ignore_errors=True)
    work = os.path.join(work_root, tag)
    in_dir, out_dir = os.path.join(work, "in"), os.path.join(work, "out")
    for d in (in_dir, out_dir, os.path.join(work, "tmp")):
        os.makedirs(d)
    harness, last = {}, [time.monotonic()]

    def lap(name):  # seconds the harness spent in each step
        now = time.monotonic()
        harness[name], last[0] = now - last[0], now

    meta = gen.generate(a.workload, a.seed, in_dir, a.size)
    lap("generate_s")
    with open(os.path.join(in_dir, "params.properties"), "w") as f:
        f.writelines(f"{k}={v!r}\n" if isinstance(v, float) else f"{k}={v}\n"
                     for k, v in sorted(meta.items()))

    xmx = heap()
    cmd = jvm(classes, work, xmx)
    log = os.path.join(work, "jvm.log")
    setups = []
    for i in range(PROBES):
        probe = os.path.join(work, f"probe{i}")
        os.makedirs(probe)
        line = [l for l in call(cmd + ["setup", str(CPUS), probe], log).splitlines()
                if l.startswith("SETUP ")]
        setups.append(float(line[-1].split()[1]))
    lap("probes_s")
    call(cmd + ["run", a.workload, in_dir, out_dir, str(a.seconds), str(a.trace), str(CPUS)], log)
    with open(os.path.join(out_dir, "record.json")) as f:
        record = json.load(f)
    setups.append(record["setup_s"])
    lap("measure_jvm_s")

    errors = oracle.check(a.workload, in_dir, record, os.path.join(work, "tmp"))
    lap("check_s")
    attempted = len(record["runs"])
    failed = sum(1 for e in errors.values() if e)
    for rid, e in sorted(errors.items()):
        if e:
            print(f"run {rid} failed its output check: {e}", file=sys.stderr)

    e2e, notes = end_to_end(record, setups, meta)
    if a.trace:
        metrics = per_layer(record, meta)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    record.update({"seed": a.seed, "size": a.size, "inputs": meta, "heap": xmx,
                   "spark_jars": jars, "check_errors": errors, "end_to_end": e2e,
                   "notes": notes, "harness": harness, "error_rate": failed / attempted, "metrics": metrics})
    records = os.path.join(BUILD_DIR, "records")
    os.makedirs(records, exist_ok=True)
    rec_path = os.path.join(records, tag + ".json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)

    print(f"workload {a.workload} seed {a.seed}: {meta['input_rows']} input rows, "
          f"local[{CPUS}], heap {xmx}, {attempted} runs, {failed} failed "
          f"(error_rate {failed / attempted:.3f}), warm n={notes['warm_n']}")
    print(f"{len(record['confs'])} Spark confs and all runs/spans recorded in "
          f"{os.path.relpath(rec_path, ROOT)}")
    for k, v in metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
