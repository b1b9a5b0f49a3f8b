"""The benchmark's one command.

    python3 perfbench/run.py --workload <stream_ingest|doc_pipeline|report_session>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a repository checkout. It builds the engine and
the harness (``perfbench/build.py``), generates the workload's inputs
from the seed (``perfbench/gen.py``) into a fresh directory under
``.bench_build/perfbench/tmp``, runs the workload in one fresh JVM
(``graft.perfbench.Main``), checks the outputs, and prints a run
record line followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. The run directory is deleted at exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # no __pycache__ left in the checkout

import build  # noqa: E402
import gen  # noqa: E402

# Fixed JVM heap for every run, touched at start-up, so peak RSS reads
# as this heap plus the JVM's native memory (metaspace for generated
# classes, code cache, thread stacks, direct buffers) and does not swing
# with how much of the heap the collector happened to touch.
HEAP = "2g"
# Time allowed for the JVM before it is killed (the run then fails).
JVM_TIMEOUT_S = 165

# Per workload: warm-up operations, and timed operations at --seconds 16
# (scaled in proportion to --seconds, at least one). Counts, not a clock,
# end the timed phase, so both sides of a comparison do identical work.
# On a 4-core box one run of either workload takes about a minute, set-up
# included, which is what a comparison's 4 + 22 runs per workload allow.
PLANS = {
    "stream_ingest": {"warmups": 1, "ops": 2},
    # report_session counts rounds: the warm-up pass and each timed
    # round run every distinct query of the mix once
    "report_session": {"warmups": 1, "ops": 1},
    # not in BENCHMARK.json (see README.md): run by hand
    "doc_pipeline": {"warmups": 2, "ops": 2},
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def generate(workload, run_dir, seed, n_ops):
    if workload == "stream_ingest":
        gen.stream_inputs(os.path.join(run_dir, "arrivals"), seed, n_ops)
    elif workload == "doc_pipeline":
        gen.pipeline_inputs(run_dir, seed, n_ops)
    else:
        gen.report_tables(os.path.join(run_dir, "tables"), seed)


def oracle_failures(run_dir):
    """DuckDB oracle for each distinct report query, compared the way
    the engine's correctness gate compares: row count, sorted column
    names, and a hash of every value in result order."""
    import duckdb
    import hashlib
    import pandas as pd

    def norm(df):
        return df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)

    def value_hash(df):
        h = hashlib.sha256()
        for c in df.columns:
            for v in df[c].tolist():
                h.update(repr(v).encode())
            h.update(b"|")
        return h.hexdigest()

    tables = os.path.join(run_dir, "tables")
    results = os.path.join(run_dir, "results")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(tables)):
        name = f[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables, f)}')")
    oracles = json.load(open(os.path.join(results, "oracle_sql.json")))
    bad = {}
    for q in sorted(os.listdir(results)):
        path = os.path.join(results, q)
        if not os.path.isdir(path):
            continue
        if q not in oracles:
            bad[q] = "no oracle"
            continue
        try:
            got = norm(pd.read_parquet(path))
            exp = norm(con.execute(oracles[q]).fetchdf())
        except Exception as e:  # an unreadable result is a failure
            bad[q] = f"{type(e).__name__}: {e}"[:300]
            continue
        if len(got) != len(exp) or list(got.columns) != list(exp.columns) \
                or value_hash(got) != value_hash(exp):
            bad[q] = f"differs from its oracle ({len(got)} vs {len(exp)} rows)"
    return bad


def run_jvm(args, run_dir, classes, n_warm, n_ops, t0_ns):
    jars = os.path.join(build.spark_jars(), "*")
    jtmp = os.path.join(run_dir, "jvm_tmp")
    os.makedirs(jtmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss8m",
           f"-Djava.io.tmpdir={jtmp}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'spark_local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}", "graft.perfbench.Main",
            "--workload", args.workload, "--dir", run_dir, "--seed", str(args.seed),
            "--trace", str(args.trace),
            "--warmups", str(n_warm), "--ops", str(n_ops), "--t0-ns", str(t0_ns)]
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {args.workload} did not finish in {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:  # timeout or interrupt: stop the JVM's group
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        log.close()
    lines = {}
    for line in out.splitlines():
        for tag in ("PERFBENCH_RECORD ", "PERFBENCH_RESULT "):
            if line.startswith(tag):
                lines[tag.strip()] = json.loads(line[len(tag):])
    if proc.returncode != 0 or len(lines) != 2:
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-4000:]
        sys.stderr.write(tail + "\n")
        raise SystemExit(f"perfbench: {args.workload} JVM exited {proc.returncode}")
    return lines["PERFBENCH_RECORD"], lines["PERFBENCH_RESULT"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PLANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated benchmark still stops its JVM and deletes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: run from the root of a repository checkout "
                         "(no src/main/scala here)")
    classes = build.build()
    plan = PLANS[args.workload]
    n_warm = plan["warmups"]
    n_ops = max(1, round(plan["ops"] * args.seconds / 16))
    tmp_root = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    try:
        generate(args.workload, run_dir, args.seed,
                 n_ops if args.workload == "report_session" else n_warm + n_ops)
        t0_ns = time.time_ns()
        record, result = run_jvm(args, run_dir, classes, n_warm, n_ops, t0_ns)
        if args.workload == "report_session":
            bad = oracle_failures(run_dir)
            record["oracle_failures"] = bad
            runs = record.get("runs_per_query", 0)
            result["failed"] += int(len(bad) * runs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    declared = os.path.join(root, "BENCHMARK.json")
    if os.path.exists(declared):
        spec = json.load(open(declared))
        want = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if want != got:
            raise SystemExit(f"perfbench: metrics {sorted(got.items())} do not match "
                             f"BENCHMARK.json {sorted(want.items())}")
    print(json.dumps({"record": record}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
