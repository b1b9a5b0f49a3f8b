"""Steadiness check: run each workload once per seed and summarize each
end-to-end metric as median, quartiles and spread (interquartile range
as a share of the median), the way ``statistics.quantiles(values, n=4)``
gives them.

    python3 perfbench/steady.py --seeds 1-10 --seconds 16 --out steady_a.json \
        [--workloads stream_ingest,report_session,doc_pipeline]

Run from the checkout root. Each run is the benchmark command itself;
per-run results and records go to the output file, the summary to stdout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads",
                    default="stream_ingest,report_session")
    args = ap.parse_args()
    runs = []
    for w in args.workloads.split(","):
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", str(args.seconds), "--trace", "0"],
                               capture_output=True, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                sys.stderr.write(p.stderr[-3000:])
                raise SystemExit(f"{w} seed {seed} exited {p.returncode}")
            run = {"workload": w, "seed": seed, "wall_s": wall,
                   "record": json.loads(lines[-2])["record"],
                   "result": json.loads(lines[-1])}
            runs.append(run)
            m = {k: round(v["value"], 4) for k, v in run["result"]["metrics"].items()}
            print(f"{w} seed={seed} wall={wall:.1f}s correct={run['result']['correct']} "
                  f"failed={run['result']['failed']}/{run['result']['attempted']} {m}",
                  flush=True)
    summary = {}
    for w in args.workloads.split(","):
        rs = [r for r in runs if r["workload"] == w]
        metrics = rs[0]["result"]["metrics"].keys()
        summary[w] = {k: summarize([r["result"]["metrics"][k]["value"] for r in rs])
                      for k in metrics}
        summary[w]["wall_s"] = summarize([r["wall_s"] for r in rs])
        summary[w]["failed_share"] = sorted({r["result"]["failed"] / r["result"]["attempted"]
                                             for r in rs})
    with open(args.out, "w") as f:
        json.dump({"seconds": args.seconds, "summary": summary, "runs": runs}, f, indent=1)
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
