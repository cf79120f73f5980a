#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <query_mix|graph_stream> \
        --seed <n> --seconds <n> --trace <0|1>

Run from the repository root. It builds the library and the benchmark
(perfbench/build.py), generates the seed's tables (perfbench/gen_data.py)
and the seed's op plan, runs the workload in one JVM (perfbench.Main),
checks every output, and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Workload
definitions live in perfbench/workloads.json. The timed work of a run is
a fixed number of units (passes over the keys, or graph batches) from
that file, sized to take about `--seconds`, so that every run takes the
same number of samples. Exits non-zero without a result when it cannot
build or run, and with `"correct": false` and code 1 when an output is
wrong or an op failed.
"""
import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402

BUILD = build.BUILD
CHECK_ORACLE = os.path.join("scripts", "check_oracle.py")
STEAL_WARNING_SHARE = 0.9  # runs whose granted CPU share falls below this are flagged
TIME_LIMIT_S = 160  # JVM limit per run, after the build; the checks follow
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "write_p50_s": "s", "write_tail_s": "s", "rows_per_s": "1/s",
    "ok_frac": "ratio", "retained_heap_mb": "MiB", "space_amp": "ratio",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The tail latency as (value, percentile, samples): the highest
    percentile with at least ten samples beyond it once that is p90 or
    above (100 samples or more), else the nearest-rank p90, so the figure
    never falls towards the low end of a small sample."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    rank = n - 10 if n >= 100 else math.ceil(0.9 * n)
    return s[rank - 1], 100.0 * rank / n, n


def timed_units(spec):
    """The fixed number of timed units a workload's untraced run takes."""
    return spec["timed_passes"] if "timed_passes" in spec else spec["plan"]["timed_batches"]


def plan_lines(name, spec, seed, data_info):
    """The seed's op plan for the JVM side, one op or batch per line."""
    rng = random.Random(f"{name}:{seed}")
    if name == "query_mix":
        ops = [("write", k) for k in spec["ops"]["write"]] + \
              [("read", k) for k in spec["ops"]["read"]]
        rng.shuffle(ops)
        return [f"{kind} {key}" for kind, key in ops]
    p = spec["plan"]
    n_vec = data_info["embeddings"][0]
    cut = p["seed_centroids"]  # ids 0..cut-1 seed the quantizer
    n_batches = p["timed_batches"]
    arriving = rng.sample(range(cut, n_vec), n_batches * p["batch_size"])
    lines = []
    for b in range(n_batches):
        ids = sorted(arriving[b * p["batch_size"]:(b + 1) * p["batch_size"]])
        again = sorted(rng.sample(ids, rng.randint(1, len(ids))))
        lines.append(f"batch {b} {','.join(map(str, ids))} {','.join(map(str, again))}")
        probes = sorted(rng.sample(range(n_vec), p["probes_per_search"]))
        lines.append(f"probe {b} {','.join(map(str, probes))}")
    return lines


def end_to_end(res):
    """The end-to-end metrics, from wall-clock times of the untraced ops
    of the kept attempts (a unit the hypervisor starved of CPU is
    measured again; see Main.StealShare)."""
    kept = {u["attempt"] for u in res["units"] if u["kept"] and not u["traced"]}

    def timed(samples):
        return [x for x in samples if x["attempt"] in kept]

    reads = [r["seconds"] for r in timed(res["reads"])]
    writes = timed(res["writes"])
    write_s = [w["seconds"] for w in writes]
    again_s = [r["seconds"] for r in timed(res.get("redeliveries", []))]
    units = [u["wall_s"] for u in res["units"] if u["attempt"] in kept]
    q_tail, w_tail = tail(reads), tail(write_s)
    attempted = res["attempted"]
    space = res["space"]
    m = {
        "setup_s": median(res["setup_cycles_s"]),
        "wall_s": median(units),
        "query_p50_s": median(reads),
        "query_tail_s": q_tail[0],
        "write_p50_s": median(write_s),
        "write_tail_s": w_tail[0],
        "rows_per_s": sum(w["rows"] for w in writes) / max(sum(write_s) + sum(again_s), 1e-9),
        "ok_frac": (attempted - len(res["failures"])) / max(attempted, 1),
        "retained_heap_mb": res["retained_heap_mb"],
        "space_amp": space["stored_bytes"] / max(space["fresh_bytes"], 1),
    }
    notes = {"query_tail": {"percentile": q_tail[1], "samples": q_tail[2]},
             "write_tail": {"percentile": w_tail[1], "samples": w_tail[2]},
             "remeasured_units": sum(not u["kept"] for u in res["units"])}
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()}, notes


def per_layer(res, spec):
    """Per-layer metrics of the traced units: counts and times per unit
    (one pass or one batch), levels (files, pins, ratios) as measured."""
    tr = res.get("trace") or {}
    ops = tr.get("ops", [])
    units = [u for u in res["units"] if u["traced"]]
    n = max(len(units), 1)

    def total(field):
        return sum(o[field] for o in ops)

    def child(name):
        return sum(c["seconds"] for o in ops for c in o["children"] if c["name"] == name)

    traced_writes = [w for w in res["writes"] if w["traced"]]
    # rows each op hands back: a key's result rows, a fold's batch, a
    # search's probes
    rows_of = res.get("rows", {})
    probes = spec.get("plan", {}).get("probes_per_search", 0)
    rows_out = sum(rows_of.get(o["label"], 0) for o in ops) + \
        sum(w["rows"] for w in traced_writes if "batch" in w) + \
        sum(probes for o in ops if o["label"] == "graphSearchClustered")
    self_s = tr.get("self_s", {})
    per_unit = {
        "catalog.build_s": (child("build"), "s"),
        "sql.analysis_s": (total("analysis_s"), "s"),
        "sql.optimization_s": (total("optimization_s"), "s"),
        "sql.planning_s": (total("planning_s"), "s"),
        "driver.gap_s": (total("driver_gap_s"), "s"),
        "sched.jobs": (total("jobs"), "count"),
        "sched.stages": (total("stages"), "count"),
        "sched.tasks": (total("tasks"), "count"),
        "sched.delay_s": (total("sched_delay_s"), "s"),
        "exec.run_s": (total("run_s"), "s"),
        "exec.cpu_s": (total("cpu_s"), "s"),
        "exec.gc_s": (total("gc_s"), "s"),
        "exec.deser_s": (total("deser_s"), "s"),
        "exec.failed_tasks": (total("failed_tasks"), "count"),
        "shuffle.read_bytes": (total("shuffle_read_bytes"), "bytes"),
        "shuffle.write_bytes": (total("shuffle_write_bytes"), "bytes"),
        "shuffle.spill_bytes": (total("spill_bytes"), "bytes"),
        "io.read_bytes": (total("read_bytes"), "bytes"),
        "io.read_records": (total("read_records"), "count"),
        "output.files_written": (total("files_written"), "count"),
        "output.bytes_written": (total("output_bytes"), "bytes"),
        "output.records_written": (total("output_records"), "count"),
        "streaming.fold_s": (child("fold"), "s"),
        "streaming.cells_rewritten": (sum(w.get("cells_rewritten", 0) for w in traced_writes), "count"),
        "ext.search_s": (child("search"), "s"),
        "core.release_s": (child("release"), "s"),
    }
    for kind in ("op", "build", "write", "release", "fold", "search", "job"):
        per_unit[f"self.{kind}_s"] = (self_s.get(kind, 0.0), "s")
    untraced = [u["wall_s"] for u in res["units"] if u["kept"] and not u["traced"]]
    levels = {
        "io.rows_read_per_row_out": (total("read_records") / max(rows_out, 1), "ratio"),
        "io.layout_files": ((res.get("layout_files") or [0])[-1], "count"),
        "streaming.noop_frac": (res.get("noop_redeliveries", 0) / max(res.get("redelivered", 0), 1), "ratio"),
        "core.tracked_handles": (res["layers"]["core.tracked_handles"], "count"),
        "core.persistent_rdds": (res["layers"]["core.persistent_rdds"], "count"),
        # the traced unit against the untraced one after it: the same
        # pass over the keys, or batch 0 folded into the same base layouts
        "trace.overhead_s": (median([u["wall_s"] for u in units]) -
                             median(untraced[1:] or untraced), "s"),
    }
    out = {k: {"value": v / n, "unit": u} for k, (v, u) in per_unit.items()}
    out.update({k: {"value": v, "unit": u} for k, (v, u) in levels.items()})
    return out


def oracle_problems(res, data_dir, out_dir):
    """Compares the warm pass's outputs (`out/check`) and the tables the
    timed writes left (`out/bronze`) with each key's DuckDB oracle, by
    running the project's own compare, scripts/check_oracle.py, on both
    directories at once. Every key must come out `ok`."""
    runs = []
    for sub, keys in (("check", sorted(res["oracle_sql"])), ("bronze", res["bronze_keys"])):
        d = os.path.join(out_dir, sub)
        with open(os.path.join(d, "oracle_sql.json"), "w") as fh:
            json.dump({k: res["oracle_sql"][k] for k in keys}, fh)
        runs.append((sub, keys, subprocess.Popen([sys.executable, CHECK_ORACLE, data_dir, d],
                                                 stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                                 text=True)))
    problems = []
    for sub, keys, proc in runs:
        try:
            out, err = proc.communicate(timeout=120)
        except subprocess.TimeoutExpired:
            proc.kill()
            out, err = proc.communicate()
        lines = out.splitlines()
        ok = {ln.split()[1] for ln in lines if ln.startswith("ok ")}
        problems += [f"{sub}: {ln}" for ln in lines if ln.split()[:1] in (["FAIL"], ["ERR"], ["SKIP"])]
        problems += [f"{sub}: {k}: not compared" for k in keys if k not in ok]
        if proc.returncode != 0 and not problems:
            problems.append(f"{sub}: {CHECK_ORACLE} exited {proc.returncode}: {err[-300:]}")
    return problems


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    load_entry = os.getloadavg()[0]
    spec_all = json.load(open(os.path.join(HERE, "workloads.json")))["workloads"]
    if a.workload not in spec_all:
        sys.stderr.write(f"unknown workload {a.workload}; known: {sorted(spec_all)}\n")
        return 2
    try:
        classpath = build.build()
    except SystemExit as e:
        sys.stderr.write(f"{e}\n")
        return 2
    # the run's time limit starts after the (first-run) build
    t0 = time.monotonic()
    run_dir = os.path.abspath(os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(out_dir)
    data_info = gen_data.write(data_dir, a.seed)
    plan = os.path.join(run_dir, "plan.txt")
    with open(plan, "w") as fh:
        fh.write("\n".join(plan_lines(a.workload, spec_all[a.workload], a.seed, data_info)) + "\n")
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS]
    cmd += ["-cp", os.pathsep.join(os.path.abspath(p) for p in classpath), "perfbench.Main",
            "--workload", a.workload, "--data", data_dir, "--plan", plan, "--out", out_dir,
            "--units", str(timed_units(spec_all[a.workload])), "--trace", str(a.trace),
            "--cpus", str(cpus)]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=max(TIME_LIMIT_S - (time.monotonic() - t0), 10))
    except subprocess.TimeoutExpired:
        sys.stderr.write("benchmark JVM timed out\n")
        return 3
    result_file = os.path.join(out_dir, "result.json")
    if r.returncode != 0 or not os.path.exists(result_file):
        sys.stderr.write(r.stderr[-4000:] + f"\nbenchmark JVM exited with code {r.returncode}\n")
        return 3
    res = json.load(open(result_file))
    problems = [f"{c['name']}: {c['detail']}" for c in res["checks"] if not c["ok"]]
    if a.workload == "query_mix":
        problems += oracle_problems(res, data_dir, out_dir)
    failures = res["failures"]
    if a.trace:
        metrics, notes = per_layer(res, spec_all[a.workload]), {}
    else:
        metrics, notes = end_to_end(res)
    stamp = dict(res["host"], seed=a.seed, git_commit=git_commit(),
                 source_sha256=open(build.STAMP).read().strip(),
                 load1_run_entry=load_entry, load1_run_exit=os.getloadavg()[0])
    # time metrics are plain wall-clock; a run the hypervisor starved of
    # CPU (steal by other guests) says so, so it can be re-run
    notes["steal_warning"] = stamp["granted_share"] < STEAL_WARNING_SHARE
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": stamp,
              "notes": notes, "failures": failures, "problems": problems, "metrics": metrics,
              "setup_cycles_s": res["setup_cycles_s"], "warm_s": res.get("warm_s"),
              "units": res["units"], "reads": res["reads"], "writes": res["writes"]}
    keep = os.path.join(BUILD, "results")
    os.makedirs(keep, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    with open(os.path.join(keep, f"{name}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if a.trace and os.path.exists(os.path.join(out_dir, "spans.json")):
        shutil.copy(os.path.join(out_dir, "spans.json"), os.path.join(keep, f"{name}.spans.json"))
        with open(os.path.join(keep, f"{name}.ops.json"), "w") as fh:
            json.dump(res["trace"].get("ops", []), fh)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"host": stamp, "notes": notes}))
    for f in failures:
        print(f"FAILED {f['op']} ({f['label']}): {f['error']}")
    for p in problems:
        print(f"WRONG {p}")
    correct = not problems and not failures
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": len(failures), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
