#!/usr/bin/env python3
"""Real-time DW benchmark: CDC ingest, cached dim lookup, batch queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

The first run in a checkout builds the engine (`src/main/scala`) together
with the harness (`perfbench/src`) through `perfbench/build.sbt`. Each run
generates its inputs from the seed (`perfbench/gen.py`) under a fresh
temporary root inside `perfbench/.work/`, which is deleted afterwards, runs
the workload JVM(s), checks correctness and prints, as the last line of
standard output, one JSON object with `correct`, `attempted`, `failed` and
`metrics`. The line before it records the run's context (cores, Spark
version, source digest, shape and sample counts).

`--trace 0` reports the end-to-end metrics; `--trace 1` reports the
per-layer metrics of a separately traced run. README.md maps every layer
metric to the end-to-end metric and workload it should move.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["cdc_ingest", "batch_query"]
RUN_DEADLINE_S = 172   # a run, every JVM included, ends within this
# Ops of the traced and the untraced local[N] JVM of a traced run, ops of
# the local[1] JVM, and flags of all three, chosen so that three cold JVMs
# fit one run. cdc_ingest runs batches 0-2 (batch 2 merges a sku update)
# and batches 0-1 at local[1], without the per-batch gate, a Spark job;
# batch_query runs one pass over the query list, and its first half at
# local[1], with the per-query digest gate. Only the traced JVM runs the
# final gates.
QUERY_PASS = len(gen.query_list())
TRACE_OPS = {"cdc_ingest": (3, 2, ["--no-op-gates"]),
             "batch_query": (QUERY_PASS, QUERY_PASS // 2 + 1, [])}
# Cold set-ups per untraced run; `setup_s` is their median. A cdc_ingest
# set-up costs about 16 s, so it gets one.
SETUP_RUNS = {"cdc_ingest": 1, "batch_query": 3}
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# --------------------------------------------------------------------------
# build

def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files) + [os.path.join(HERE, "build.sbt"),
                            os.path.join(HERE, "project", "build.properties")]


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def build(digest):
    """Compile engine + harness once per source digest; return the runtime
    classpath."""
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("digest") == digest:
            return b["classpath"]
    env = dict(os.environ, SPARK_HOME=spark_home())
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines()
             if l and not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


# --------------------------------------------------------------------------
# one JVM

def run_jvm(cp, workload, inp, work, seconds, cores, out, extra=(),
            timeout=RUN_DEADLINE_S):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload,
              "--input", inp, "--work", work, "--out", out,
              "--seconds", str(seconds), "--cores", str(cores)] + list(extra))
    log = open(os.path.join(work, "jvm.log"), "ab")
    try:
        p = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                           timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        fail(f"{workload} JVM timed out")
    finally:
        log.close()
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log"), "rb") as f:
            sys.stderr.write(f.read()[-6000:].decode(errors="replace"))
        fail(f"{workload} JVM exited with {p.returncode}")
    with open(out) as f:
        return json.load(f)


# --------------------------------------------------------------------------
# DuckDB oracle gate (batch_query)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_gate(inp, results, corrupt=False):
    """Names of dumped queries whose Spark result differs from the DuckDB
    oracle (columns sorted by name, rows by all columns, exact values)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(inp, t + '.parquet')}'")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name in sorted(d for d in os.listdir(results)
                       if os.path.isdir(os.path.join(results, d))):
        files = glob.glob(os.path.join(results, name, "*.parquet"))
        try:
            sdf = con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf()
            if name not in oracle:
                if len(sdf) == 0:
                    bad.append(name)
                continue
            ddf = con.execute(oracle[name]).fetchdf()
        except Exception as e:  # a failing oracle is a failed gate
            print(f"perfbench: oracle {name}: {e}", file=sys.stderr)
            bad.append(name)
            continue
        if corrupt:  # the self-test: the oracle result loses a row
            ddf = ddf.iloc[1:]
        if not same_frame(sdf, ddf):
            bad.append(name)
    return bad


def same_frame(a, b):
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False

    def norm(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns), kind="mergesort",
                              na_position="first").reset_index(drop=True)
    a, b = norm(a), norm(b)
    for c in a.columns:
        for x, y in zip(a[c].tolist(), b[c].tolist()):
            if isinstance(x, float) and isinstance(y, float) \
                    and math.isnan(x) and math.isnan(y):
                continue
            if x is None and y is None:
                continue
            if x != y:
                return False
    return True


# --------------------------------------------------------------------------
# metrics

def pct(values, p):
    """Linear-interpolated percentile `p` (0-100) of `values`."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    k = (len(v) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def p50_later(res):
    """Median latency of the ops after the first."""
    ms = [o["ms"] for o in res["ops"]]
    return pct(ms[1:] or ms, 50)


def op_stats(res):
    """Latency and sustained rate of the ops after the first; the first op,
    the cold one, is on the context line."""
    later = [o["ms"] for o in res["ops"][1:]]
    return {
        "op_p50_ms": p50_later(res),
        "ops_per_s": len(later) / (sum(later) / 1000.0),
        "retained_heap_mb": res["retained_heap_mb"],
    }


def context_stats(workload, res):
    """Reported on the context line, not gated: the first op (one cold
    sample per JVM), p90 of the rest (a pass has 5 or 18 of them, so no
    sample lies beyond it), the time the gates took, and on cdc_ingest the
    input-row rate, which is `ops_per_s` times the fixed rows of a seed's
    batches."""
    ms = [o["ms"] for o in res["ops"]]
    c = {"first_op_ms": ms[0], "op_p90_ms": pct(ms[1:] or ms, 90),
         "gate_s": sum(o["gate_ms"] for o in res["ops"]) / 1000.0
         + res["final_check_ms"] / 1000.0}
    if workload == "cdc_ingest":
        c["rows_per_s"] = sum(o["rows"] for o in res["ops"][1:]) \
            / (sum(ms[1:]) / 1000.0)
    return c


def mean(rows, key):
    return sum(r.get(key, 0.0) for r in rows) / len(rows) if rows else 0.0


def ratio(num, den):
    return num / den if den else 0.0


def layer_metrics(traced, untraced, single, cores):
    """Per-layer metrics from the traced JVM, which traces every op, plus
    the tracing overhead and the core scaling from two untraced JVMs at
    `local[N]` and `local[1]`, each over the ops both sides ran."""
    t = traced["trace"]
    tot = lambda k: sum(r.get(k, 0.0) for r in t)  # noqa: E731
    lookups = tot("dimcache.hits") + tot("dimcache.misses") + \
        tot("dimcache.refreshes")
    stores = traced.get("stores", [])
    live = sum(s["live_rows"] for s in stores)
    m = {
        "model.decode_ms": mean(t, "model.decode.ms"),
        "model.rows": mean(t, "model.rows"),
        "dim.apply_ms": mean(t, "dim.apply.ms"),
        "dim.jobs": mean(t, "dim.apply.jobs"),
        "dim.tables": mean(t, "dim.tables"),
        "ops.plan_ms": mean(t, "ops.plan.ms"),
        "streaming.txnsink.commit_ms": mean(t, "streaming.txnsink.commit.ms"),
        "streaming.txnsink.jobs": mean(t, "streaming.txnsink.commit.jobs"),
        "streaming.txnsink.bytes": mean(t, "streaming.txnsink.bytes"),
        "streaming.hll.fold_ms": mean(t, "streaming.hll.fold.ms"),
        "streaming.hll.jobs": mean(t, "streaming.hll.fold.jobs"),
        "streaming.hll.codegen_classes":
            mean(t, "streaming.hll.fold.codegen_classes"),
        "streaming.keyedstore.merge_ms":
            mean(t, "streaming.keyedstore.merge.ms"),
        "streaming.keyedstore.merge_jobs":
            mean(t, "streaming.keyedstore.merge.jobs"),
        "streaming.keyedstore.bytes_per_live_row":
            ratio(sum(s["bytes"] for s in stores), live),
        "streaming.keyedstore.files": float(sum(s["files"] for s in stores)),
        "streaming.dimcache.lookup_ms":
            mean(t, "streaming.dimcache.lookup.ms"),
        "streaming.dimcache.hit_ratio": ratio(tot("dimcache.hits"), lookups),
        "streaming.dimcache.refreshes": mean(t, "dimcache.refreshes"),
        "streaming.dimcache.buckets_per_lookup":
            ratio(lookups, tot("streaming.dimcache.lookup.calls")),
        "queries.plan_ms": mean(t, "queries.plan.ms"),
        "queries.exec_ms": mean(t, "queries.exec.ms"),
        "spark.jobs_per_op": mean(t, "spark.jobs"),
        "spark.stages_per_op": mean(t, "spark.stages"),
        "spark.tasks_per_op": mean(t, "spark.tasks"),
        "spark.job_busy_ms": mean(t, "spark.job_busy_ms"),
        "spark.driver_gap_ms": mean(t, "spark.driver_gap_ms"),
        "spark.task_busy_ratio":
            ratio(tot("spark.task_ms"), tot("spark.job_busy_ms") * cores),
        "spark.codegen_classes": mean(t, "spark.codegen_classes"),
        "spark.codegen_compile_ms": mean(t, "spark.codegen_compile_ms"),
        "spark.shuffle_bytes": mean(t, "spark.shuffle_bytes"),
        "spark.spill_bytes": mean(t, "spark.spill_bytes"),
        "jvm.gc_ms": mean(t, "jvm.gc_ms"),
        "spark.core_scaling": ratio(p50_later(single), pct(
            [o["ms"] for o in untraced["ops"][1:len(single["ops"])]], 50)),
        "trace.overhead_ms": p50_later(traced) - p50_later(untraced),
    }
    for fam in gen.FAMILIES:
        m[f"queries.exec_ms.{fam}"] = ratio(
            tot(f"queries.exec.{fam}.ms"), tot(f"queries.exec.{fam}.calls"))
    return m


# --------------------------------------------------------------------------

def generate(workload, seed, inp, sf=None):
    cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--workload",
           workload, "--seed", str(seed), "--out", inp]
    if sf is not None:
        cmd += ["--sf", str(sf)]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=120)
    if p.returncode != 0:
        sys.stderr.write(p.stderr)
        fail("input generation failed")
    # flush the written inputs now, so that their write-back does not land
    # in the timed set-up
    os.sync()


def check_results(workload, inp, res, corrupt=False):
    """Failed-op count after the out-of-JVM gates; records the DuckDB
    oracle gate's failures in `res["gates"]`."""
    failed = res["failed"]
    if workload == "batch_query" and res["final_checked"]:
        bad = set(oracle_gate(inp, os.path.join(res["_work"], "run",
                                                "results"), corrupt))
        res["gates"]["oracle"] = len(bad)
        failed += sum(1 for o in res["ops"] if o["ok"] and o["name"] in bad)
    return failed


def bench(args, cp, digest):
    deadline = time.monotonic() + RUN_DEADLINE_S
    cores = max(1, min(4, os.cpu_count() or 1))
    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                           dir=work_root)
    try:
        inp = os.path.join(tmp, "input")
        generate(args.workload, args.seed, inp)

        def jvm(tag, n, seconds, extra=()):
            work = os.path.join(tmp, tag)
            os.makedirs(work)
            t0 = time.monotonic()
            r = run_jvm(cp, args.workload, inp, work, seconds, n,
                        os.path.join(work, "out.json"), extra,
                        deadline - time.monotonic())
            r["_work"] = work
            walls[tag] = round(time.monotonic() - t0, 1)
            return r

        walls = {}
        if args.trace:
            # three JVMs over the same ops: traced, and untraced at local[N]
            # and local[1] for the overhead and the core scaling
            k, k1, flags = TRACE_OPS[args.workload]
            ops = lambda n: ["--min-ops", str(n), "--max-ops", str(n)] + flags  # noqa: E731
            main = jvm("traced", cores, 0, ops(k) + ["--trace"])
            untraced = jvm("untraced", cores, 0, ops(k) + ["--no-final-check"])
            single = jvm("single", 1, 0, ops(k1) + ["--no-final-check"])
            runs = [main, untraced, single]
            metrics = layer_metrics(main, untraced, single, cores)
            keep_spans(main, args)
            setups = []
        else:
            main = jvm("untraced", cores, args.seconds)
            runs = [main]
            metrics = op_stats(main)
            setups = [main["setup_s"]] + [
                jvm(f"setup{j}", cores, 0, ["--setup-only"])["setup_s"]
                for j in range(1, SETUP_RUNS[args.workload])]
            metrics["setup_s"] = statistics.median(setups)
        failed = sum(check_results(args.workload, inp, r) for r in runs)
        attempted = sum(r["attempted"] for r in runs)
        with open(os.path.join(inp, "shape.json")) as f:
            shape = json.load(f)
        context = {"workload": args.workload, "seed": args.seed,
                   "nproc": os.cpu_count(), "cores": cores,
                   "spark_version": main["spark_version"],
                   "source_digest": digest, "commit": commit(),
                   "ops": len(main["ops"]), "setups_s": setups,
                   "jvm_walls_s": walls,
                   **context_stats(args.workload, main),
                   "shape": shape}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    units = unit_table()
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, "")}
                    for k, v in sorted(metrics.items())}}))


def keep_spans(traced, args):
    src = os.path.join(traced["_work"], "out.json.spans.jsonl")
    dst = os.path.join(HERE, ".out")
    os.makedirs(dst, exist_ok=True)
    shutil.copy(src, os.path.join(
        dst, f"spans-{args.workload}-{args.seed}.jsonl"))


def commit():
    """The git commit when the checkout is a repository, else None (the
    source digest identifies the build either way)."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() or None if p.returncode == 0 else None
    except OSError:
        return None


def unit_table():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}


# --------------------------------------------------------------------------
# self-test: every correctness gate must trip on a corrupted expected result

def selftest(cp):
    """Both workloads at sf0.001, clean and with every gate's expected side
    corrupted: clean runs must fail no gate, corrupted runs every gate."""
    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=work_root)
    ok = True
    try:
        for w in WORKLOADS:
            inp = os.path.join(tmp, w, "input")
            generate(w, 7, inp, sf=0.001)
            for corrupt in (False, True):
                tag = "corrupt" if corrupt else "clean"
                work = os.path.join(tmp, w, tag)
                os.makedirs(work)
                # every generated batch; two passes over the query list
                extra = ["--min-ops", str(2 * len(gen.query_list()))]
                if corrupt:
                    extra.append("--corrupt")
                r = run_jvm(cp, w, inp, work, 0, 2,
                            os.path.join(work, "out.json"), extra)
                r["_work"] = work
                failed = check_results(w, inp, r, corrupt)
                gates = r["gates"]
                good = bool(gates) and all(
                    (n > 0) == corrupt for n in gates.values()) \
                    and (failed > 0) == corrupt
                ok &= good
                print(f"{w:12s} {tag:8s} attempted={r['attempted']:3d} "
                      f"failed={failed:3d} gate failures={gates} -> "
                      f"{'PASS' if good else 'FAIL'}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest " + ("PASS" if ok else "FAIL"))
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"no engine sources under {ROOT}/src; run from a full checkout")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json missing")
    digest = source_digest()
    cp = build(digest)
    if args.selftest:
        sys.exit(0 if selftest(cp) else 1)
    if not args.workload:
        fail("--workload is required")
    bench(args, cp, digest)


if __name__ == "__main__":
    main()
