#!/usr/bin/env python3
"""Seeded, layered benchmark of the engine's public entry points.

Run from the repository root:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke

One run builds the engine and the benchmark's JVM program from source
(cached by a hash of the sources), generates the workload's inputs from
the seed into a per-run directory under perfbench/.runs, starts one JVM
that sets the engine up, warms it up, captures every op's output and
times whole passes over the workload's ops (at least the workload's
min_passes, and until --seconds have passed), then checks the captured
outputs against DuckDB. Throughput, CPU and heap are those of the best
pass, latencies are taken from each op's best time over the passes. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}, with the end-to-end
metrics of BENCHMARK.json under --trace 0 and its per-layer metrics
under --trace 1. The line before it is the run's detail: environment
stamp, failures with their causes, the tail percentile used, and under
--trace 1 the tracing overhead and each layer's self-time share. The
last detail of each workload and mode, and the last traced run's spans
(workload -> op -> build/analysis/optimization/planning/execute -> Spark
jobs), are kept under perfbench/.runs/last/. perfbench/layers.json
maps each per-layer metric to its module and to the end-to-end metric
it should move.

--smoke runs one short pass of every workload, traced and not, on the
smallest testdata, and fails if an op fails or a declared metric is
missing or lacks its unit. It includes `pipeline`, which is implemented
but not in BENCHMARK.json (see perfbench/RESULTS.md).
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

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import inputs  # noqa: E402

# The testdata scale of the run's tables: the scale the DuckDB oracle is
# checked at. `pipeline` replaces documents/embeddings with a corpus of
# this size (documents, embeddings) generated from the seed.
SCALE = "sf0.01"
SMOKE_SCALE = "sf0.001"
# min_passes: the fewest whole passes over the ops a timed region makes,
# whatever --seconds says. Per-pass figures are reported for the best
# pass; the first timed pass of a JVM still spends much of its CPU
# compiling what it runs, so a declared workload makes at least two.
WORKLOADS = {"olap": {"min_passes": 2},
             "pipeline": {"min_passes": 1, "corpus": (500, 500)},
             "hiveql_etl": {"min_passes": 2}}
HEAP = "4g"
# Development switches of the engine; a run with any of them set would
# not measure the engine as shipped.
DEV_TOGGLES = ["SPARK_GRAFT_NOSPREAD", "SPARK_GRAFT_AQE", "SPARK_GRAFT_OHA_FALLBACK",
               "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_BENCH_ONLY"]
JVM_OPTION_VARS = ["JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def refuse_dev_toggles():
    set_vars = [v for v in DEV_TOGGLES if v in os.environ]
    set_vars += [v for v in JVM_OPTION_VARS if "graft.present.maxbytes" in os.environ.get(v, "")]
    if set_vars:
        fail(f"refusing to run with engine dev toggles set: {', '.join(set_vars)}")


def source_stamp():
    h = hashlib.sha256()
    files = [REPO / "build.sbt", HERE / "build.sbt"]
    for d in [REPO / "project", HERE / "project"]:
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in [REPO / "src" / "main", HERE / "src"]:
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the engine and the benchmark program; returns the classpath."""
    if not (REPO / "build.sbt").exists() or not (REPO / "src" / "main").is_dir():
        fail("engine sources not found next to perfbench/", 3)
    stamp_file = HERE / "target" / "build.stamp"
    cp_file = HERE / "target" / "classpath.txt"
    stamp = source_stamp()
    if not (cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp):
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = Path.home() / ".sbt" / "repositories"
            if repos.exists():
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log = HERE / "target" / "build.log"
        log.parent.mkdir(parents=True, exist_ok=True)
        with open(log, "w") as out:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        if rc != 0 or not cp_file.exists():
            fail(f"build failed (sbt exit {rc}); see {log}", 3)
        stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def make_inputs(workload, seed, run_dir, scale):
    """Writes the run's inputs; returns (data dir, ETL plan)."""
    root = inputs.testdata_root(REPO)
    data = run_dir / "data"
    spec = WORKLOADS[workload]
    corpus = spec.get("corpus")
    inputs.stage(root / scale, data,
                 [t for t in inputs.TABLES if not (corpus and t in ("documents", "embeddings"))])
    if corpus:
        # the corpus is resampled from the largest testdata scale
        inputs.gen_corpus(root / "sf0.1", data, corpus[0], corpus[1], seed)
    etl = inputs.write_etl(run_dir, seed) if workload == "hiveql_etl" else None
    return data, etl


def run_jvm(classpath, workload, seed, seconds, trace, run_dir, data, script):
    out = run_dir / "out"
    tmp = run_dir / "tmp"
    out.mkdir()
    tmp.mkdir()
    cmd = ["java", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the JVM settings of the repository build's forked runs
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=America/Los_Angeles",
            f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--min-passes", str(WORKLOADS[workload]["min_passes"]),
            "--trace", str(trace), "--data", str(data), "--out", str(out)]
    if script:
        cmd += ["--script", str(script)]
    env = {k: v for k, v in os.environ.items() if k not in JVM_OPTION_VARS}
    env.update(SPARK_GRAFT_CPUS=str(os.cpu_count()), SPARK_LOCAL_DIRS=str(tmp))
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            rc = f"{proc.wait()} after the {RUN_LIMIT_S} s limit"
    if rc != 0 or not (out / "result.json").exists():
        tail = (run_dir / "jvm.log").read_text()[-2000:]
        fail(f"JVM exit {rc}:\n{tail}", 4)
    return json.loads((out / "result.json").read_text())


def run_once(workload, seed, seconds, trace, scale=None):
    """One benchmark run; returns (result line, detail)."""
    scale = scale or SCALE
    classpath = build()
    runs = HERE / ".runs"
    last = runs / "last"
    last.mkdir(parents=True, exist_ok=True)
    run_dir = runs / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    load_before = os.getloadavg()
    clock = [time.time()]
    try:
        data, etl = make_inputs(workload, seed, run_dir, scale)
        clock.append(time.time())
        res = run_jvm(classpath, workload, seed, seconds, trace, run_dir, data,
                      etl[0] if etl else None)
        clock.append(time.time())
        out = run_dir / "out"
        if etl:
            verdict = check.check_etl(out, data, inputs.TABLES, etl[1], etl[2])
        else:
            verdict = check.check_queries(out, data, inputs.TABLES, res["ops"],
                                          res["oracle_sql"])
        spans = out / "spans.json"
        if spans.exists():
            shutil.copyfile(spans, last / f"{workload}-spans.json")
        clock.append(time.time())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not etl:
        for op, err in res["warm_errors"].items():
            verdict[op] = f"capture failed: {err}"
    line, detail = summarize(workload, seed, trace, scale, res, verdict)
    detail["inputs_s"], detail["jvm_s"], detail["check_s"] = (
        b - a for a, b in zip(clock, clock[1:]))
    detail["loadavg_before"] = list(load_before)
    detail["loadavg_after"] = list(os.getloadavg())
    (last / f"{workload}-trace{trace}.json").write_text(json.dumps(detail, indent=1))
    return line, detail


def declared():
    return json.loads((REPO / "BENCHMARK.json").read_text())


def e2e_of(region, setup_s):
    return {
        "setup_s": setup_s,
        "ops_per_s": region["ops_per_s"],
        "latency_p50_s": region["latency_p50_s"],
        "latency_tail_s": region["latency_tail_s"],
        "process_cpu_s": region["process_cpu_s"],
        "heap_peak_mb": region["heap_peak_mb"],
    }


def summarize(workload, seed, trace, scale, res, verdict):
    region = res["regions"]["traced" if trace else "untraced"]
    wrong = {op: why for op, why in verdict.items() if why}
    failed_ops = {e["op"]: e["error"] for e in region["errors"]}
    # a wrong output counts once per pass, the times its op ran in the
    # region (for the ETL, once per pass for each wrong table or read)
    failed = region["failed"] + region["passes"] * len(set(wrong) - set(failed_ops))
    attempted = region["attempted"]
    etl = res["etl"].get("table_sales")
    stored_ratio = etl["bytes"] / etl["compact_bytes"] if etl else None

    setup = res["setup"]
    spec = declared()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if trace:
        values = dict(region["layers"])
        values.update({k: setup[k] for k in
                       ("engine.session_s", "engine.tables_s", "functions.register_s")})
        values["writes.files"] = float(etl["files"]) if etl else 0.0
        values["writes.stored_bytes_ratio"] = stored_ratio or 0.0
        names = [m["name"] for m in spec["per_layer"]]
    else:
        values = e2e_of(region, setup["setup_s"])
        names = [m["name"] for m in spec["end_to_end"]]
    metrics = {n: {"value": values[n], "unit": units[n]} for n in names if n in values}

    detail = {
        "workload": workload, "seed": seed, "trace": trace, "scale": scale,
        "nproc": os.cpu_count(), "commit": commit(),
        "spark_version": res["spark_version"], "java_version": res["java_version"],
        "passes": region["passes"], "wall_s": region["wall_s"],
        "pass_wall_s": region["pass_wall_s"], "pass_cpu_s": region["pass_cpu_s"],
        "pass_heap_peak_mb": region["pass_heap_peak_mb"],
        "ops_per_pass": res["ops_per_pass"],
        "failed_ratio": failed / attempted if attempted else 1.0,
        "failures": {**{op: f"error: {e}" for op, e in failed_ops.items()},
                     **{op: f"wrong output: {why}" for op, why in wrong.items()}},
        "warm_errors": res["warm_errors"],
        "latency_tail_pct": region["latency_tail_pct"], "latency_n": region["latency_n"],
        "per_op_s": region["per_op_s"],
    }
    if stored_ratio is not None:
        detail["stored_bytes_ratio"] = stored_ratio
    if trace:
        untraced = e2e_of(res["regions"]["untraced"], setup["setup_s"])
        traced = e2e_of(region, setup["setup_s"])
        detail["tracing_overhead"] = {k: traced[k] - untraced[k]
                                      for k in untraced if k != "setup_s"}
        detail["self_time_share"] = region["self_time_share"]
        detail["absent"] = absent_reasons(workload)
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
    return line, detail


def absent_reasons(workload):
    if workload == "hiveql_etl":
        return {m: "the ETL runs HiveQL statements, not the graft.queries builders"
                for m in ("queries.build_s", "queries.build_jobs", "queries.execute_s")}
    return {**{m: "only the hiveql_etl workload goes through the dialect"
               for m in ("dialect.ddl_s", "dialect.dml_s", "dialect.query_s",
                         "dialect.statements")},
            **{m: "only the hiveql_etl workload writes tables"
               for m in ("writes.files", "writes.stored_bytes_ratio")}}


def smoke():
    spec = declared()
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            line, detail = run_once(w, 1, 1, trace, scale=SMOKE_SCALE)
            want = spec["per_layer"] if trace else spec["end_to_end"]
            for m in want:
                got = line["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or \
                        not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{w} trace={trace}: {m['name']} missing or unitless")
            if line["failed"] or not line["correct"]:
                problems.append(f"{w} trace={trace}: failures {detail['failures']}")
            print(json.dumps({"workload": w, "trace": trace, **line}))
    for p in problems:
        print(f"SMOKE FAIL {p}")
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    refuse_dev_toggles()
    if a.smoke:
        sys.exit(smoke())
    if not a.workload:
        ap.error("--workload is required")
    t0 = time.time()
    line, detail = run_once(a.workload, a.seed, a.seconds, a.trace)
    detail["run_s"] = time.time() - t0
    print(json.dumps(detail))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
