#!/usr/bin/env python3
"""Construction benchmark for metrinkgspark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program's
sources together with the benchmark harness (perfbench/build.sbt) into
.bench_build/; later runs reuse that build while the sources are
unchanged. Each run generates its inputs from the seed under
.bench_work/<workload>/, drives the program's public entry points in
one or two JVMs, checks every output, and prints as its last line a
JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Workloads, metrics and the layer-to-metric map are listed
in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

# a run writes only inside its checkout: no bytecode caches for the
# modules it imports
sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
BUILD_DIR = ".bench_build"
WORK_DIR = ".bench_work"
DONE_MARKER = "PERFBENCH-DONE"
# A run must end within 180 s; the JVMs of one run share this budget.
RUN_BUDGET_S = 170
# A fixed heap (-Xms = -Xmx) keeps the peak-RSS reading from following
# the collector's heap-growth decisions.
HEAP = "2g"

# Generated-input sizes per workload (see README.md for why).
SIZES = {
    "build_full": {"docs": 2000, "setups": 5},
    "graph_queries": {"sf": "0.002", "setups": 1, "min_ops": 1,
                      "ingest_docs": 1000, "ingest_delta": 100, "ingest_ops": 2},
}

# The query family of graph_queries: every kg_* family, as many queries as
# one pass can afford (see README.md).
QUERIES = [
    "kg_bgp_star", "kg_sparql_records", "kg_taxonomy_closure",
    "kg_cs_pagerank", "kg_cs_bfs_reach",
    "kg_cs_jaccard_nbrs", "kg_cs_adamic_adar", "kg_cs_wedge_capped",
    "kg_cs_assortativity", "kg_cs_lcc", "kg_cs_triangles",
    "kg_triples", "kg_cs_degree_dist",
]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build -----------------------------------------------------------------

def source_stamp(root):
    h = hashlib.sha256(os.path.abspath(root).encode())
    files = sorted(
        glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
        + glob.glob(os.path.join(root, "perfbench/src/main/scala/**/*.scala"), recursive=True)
        + [os.path.join(root, "perfbench/build.sbt"),
           os.path.join(root, "perfbench/project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    opts += ["-Dsbt.server.autostart=false", "-Dsbt.supershell=false"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root):
    """Compile once per source state; return the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(root, BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(root, BUILD_DIR, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    log = os.path.join(root, BUILD_DIR, "sbt.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=sbt_env(),
            stdout=subprocess.PIPE, stderr=fh, text=True, timeout=840)
    fh_out = r.stdout.strip().splitlines()
    if r.returncode != 0 or not fh_out:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed (exit {r.returncode}), see {log}")
    cp = fh_out[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


# ---- contention and memory -------------------------------------------------

def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def jvm_count():
    n = 0
    for comm in glob.glob("/proc/[0-9]*/comm"):
        try:
            with open(comm) as fh:
                n += fh.read().strip() == "java"
        except OSError:
            pass
    return n


def vm_hwm_mb(pid):
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM")


DEADLINE = [None]


def run_jvm(cp, work, mode, cores, seed, seconds, trace, heap, **params):
    """Run one benchmark JVM; return (result, spans, peak RSS in MB)."""
    budget = DEADLINE[0] - time.monotonic()
    if budget <= 0:
        fail(f"no time left in the run budget for {mode}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = {"mode": mode, "work": os.path.abspath(work), "cores": cores,
            "seed": seed, "seconds": seconds, "trace": trace, **params}
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{heap}", f"-Xmx{heap}", "-Dspark.ui.enabled=false", "-Djava.io.tmpdir=" +
              os.path.abspath(os.path.join(work, "tmp")),
              "-cp", cp, "perfbench.Main"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    os.makedirs(os.path.join(work, "tmp"))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SF_DIR"}
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.PIPE,
                                stdout=subprocess.PIPE, stderr=log, text=True)
        timer = threading.Timer(budget, proc.kill)
        timer.start()
        peak = None
        try:
            for line in proc.stdout:
                if line.strip() == DONE_MARKER:
                    peak = vm_hwm_mb(proc.pid)
                    break
            proc.stdin.close()
            proc.wait(timeout=30)
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if peak is None or proc.returncode != 0:
        fail(f"{mode} JVM failed (exit {proc.returncode}), see {work}/jvm.log")
    with open(os.path.join(work, "result.json")) as fh:
        result = json.load(fh)
    spans = {"spans": [], "jobs": []}
    if os.path.exists(os.path.join(work, "spans.json")):
        with open(os.path.join(work, "spans.json")) as fh:
            spans = json.load(fh)
    return result, spans, peak


# ---- output checks done outside the JVM ------------------------------------

def duckdb_checks(work, result):
    """kg_* results against their DuckDB oracle SQL, compared the way
    tools/parity.py does: columns by name, rows sorted, values exact."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for p in glob.glob(os.path.join(result["data_dir"], "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        files = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{files}'")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    checks = {}
    for q, sql in sorted(oracle.items()):
        out = os.path.join(work, "outputs", q)
        try:
            got = con.execute(f"SELECT * FROM '{out}/*.parquet'").df()
            exp = con.execute(sql).df()
            g = got[sorted(got.columns)]
            e = exp[sorted(exp.columns)]
            if list(g.columns) != list(e.columns) or len(g) != len(e):
                raise AssertionError(f"shape {list(g.columns)}x{len(g)} vs "
                                     f"{list(e.columns)}x{len(e)}")
            g = g.sort_values(by=list(g.columns)).reset_index(drop=True)
            e = e.sort_values(by=list(e.columns)).reset_index(drop=True)
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
            checks[f"oracle_{q}"] = True
        except Exception as ex:  # a mismatch or an oracle error fails the check
            checks[f"oracle_{q}"] = False
            print(f"# oracle mismatch {q}: {str(ex)[:300]}", file=sys.stderr)
    return checks


# ---- metrics ---------------------------------------------------------------

SPAN_FIELDS = ("wall_s", "driver_s", "task_s", "jobs", "input_bytes",
               "shuffle_write_bytes", "spill_bytes", "rows_out")


def layer_metrics(r, spans, units):
    """Every span-derived number, per unit of work (one build, one resume,
    one increment, one set-up, one query pass)."""
    by_name = stats.per_span_name(spans["spans"], spans["jobs"])
    out = {}
    for name, t in by_name.items():
        n = units.get(name.split(".")[0], 0)
        for f in ("self_s",) + SPAN_FIELDS:
            out[f"{name}.{f}"] = t[f] / n if n else 0.0
    n_resume = units.get("resume", 0)
    out["resume.input_bytes"] = (
        sum(t["input_bytes"] for k, t in by_name.items() if k.startswith("resume."))
        / n_resume if n_resume else 0.0)
    out["resume.wall_s"] = out.get("resume.build.wall_s", 0.0)
    return out, by_name


def build_full(cp, work, seed, seconds, trace):
    r, spans, peak = run_jvm(cp, work, "build_full", NPROC, seed, seconds, trace, HEAP,
                             **SIZES["build_full"])
    if r["cold_build_s"] is None or not r["resume_s"]:
        fail("the measured build or resume failed, see " + work + "/jvm.log")
    e2e = {
        "setup_s": stats.median(r["setup_s"]),
        "op_s": r["cold_build_s"],
        "peak_rss_mb": peak,
    }
    named = {"build_s": e2e["op_s"],
             "triples_per_s": r["canonical_triples"] / e2e["op_s"],
             "resume_s": stats.median(r["resume_s"]),
             "warm_build_s": r["build_s"]}
    if not trace:
        return e2e, named, {}, [r], {}
    # the 1-core level of the scaling protocol, in a JVM of its own
    low = max(1, NPROC // 4)
    r1, _, _ = run_jvm(cp, work + "_level1", "scaling_level", low, seed, seconds, 0, HEAP,
                       docs_table=r["docs_table"])
    checks = {"canonical_equal_across_parallelism":
              r1.get("graph_hash") == r["graph_hash"] and
              r1.get("canonical_triples") == r["canonical_triples"]}
    named["scaling_efficiency"] = (
        (r["canonical_triples"] / r["cold_build_s"])
        / (r1["canonical_triples"] / r1["cold_build_s"])) / (NPROC / low)
    layers, by_name = layer_metrics(r, spans, r["units"])
    traced_pipeline_self = sum(t["self_s"] for k, t in by_name.items()
                               if k.startswith("pipeline."))
    layers.update({
        "pipeline.scaling_efficiency": named["scaling_efficiency"],
        "resume.skipped_stages": stats.median(r["resume_skipped_stages"]),
        "trace.overhead_s": r["traced_build_s"][0] - r["build_s"][0],
        "trace.self_sum_ratio": traced_pipeline_self / sum(r["traced_build_s"]),
    })
    return e2e, named, layers, [r, r1], checks


def graph_queries(cp, work, seed, seconds, trace):
    r, spans, peak = run_jvm(cp, work, "graph_queries", NPROC, seed, seconds, trace, HEAP,
                             queries=",".join(QUERIES), **SIZES["graph_queries"])
    lat = [x["s"] for x in r["query_s"]]
    oracle_checks = duckdb_checks(work, r)
    # the first pass after set-up is the measured one, as the build is the
    # first of its JVM: later passes ride the JIT warm-up and spread more
    e2e = {
        "setup_s": stats.median(r["setup_s"]),
        "op_s": r["pass_s"][0],
        "peak_rss_mb": peak,
    }
    named = {"pass_s": e2e["op_s"], "warm_pass_s": r["pass_s"][1:],
             "query_p50_s": stats.median(lat), "query_samples": len(lat)}
    if stats.samples_beyond(len(lat), 0.9) >= 10:
        named["query_p90_s"] = stats.tail_percentile(lat, 0.9)
    if not trace:
        return e2e, named, {}, [r], oracle_checks
    layers, by_name = layer_metrics(r, spans, r["units"])
    modes = r["increment_modes"]
    maintain = by_name.get("ingest.maintain", {"input_bytes": 0})
    layers.update({
        "ingest.increment_s": stats.median(r["increment_s"]),
        "ingest.read_amplification": maintain["input_bytes"] / r["ingest_delta_bytes"],
        "ingest.fast_path_ratio": modes.count("append") / len(modes),
        "ingest.table_files": r["ingest_table_files"],
        "ingest.bytes_per_triple":
            r["ingest_canonical_bytes"] / r["ingest_canonical_triples"],
    })
    named["increment_s"] = layers["ingest.increment_s"]
    return e2e, named, layers, [r], oracle_checks


WORKLOADS = {"build_full": build_full, "graph_queries": graph_queries}


def declared_metrics(root):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: the program sources are missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    end_to_end, per_layer = declared_metrics(root)
    cp = build(root)

    work = os.path.join(WORK_DIR, a.workload)
    DEADLINE[0] = time.monotonic() + RUN_BUDGET_S
    before = {"loadavg": loadavg(), "jvms": jvm_count()}
    t0, steal0 = time.monotonic(), steal_s()
    e2e, named, layers, results, checks = WORKLOADS[a.workload](
        cp, work, a.seed, a.seconds, a.trace)
    wall = time.monotonic() - t0
    after = {"loadavg": loadavg(), "jvms": jvm_count(),
             "steal_s": round(steal_s() - steal0, 2)}

    attempted = sum(r["attempted"] for r in results) + len(checks)
    failed_checks = [c["name"] for r in results for c in r["checks"] if not c["ok"]]
    failed_checks += [k for k, ok in checks.items() if not ok]
    failed = sum(r["failed"] for r in results) + sum(not ok for ok in checks.values())
    named["failed_ratio"] = failed / attempted
    print("# contention " + json.dumps({"before": before, "after": after,
                                        "wall_s": round(wall, 2)}))
    print("# metrics " + json.dumps(named))
    if failed_checks:
        print("# failed checks: " + ", ".join(failed_checks))
    if a.trace:
        missing = sorted(set(per_layer) - set(layers))
        values = {k: layers.get(k, 0.0) for k in per_layer}
        units = per_layer
        print("# spans not seen in this workload (reported as 0): " + " ".join(missing))
    else:
        values, units = e2e, end_to_end
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
