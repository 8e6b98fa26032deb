"""Alternating perfbench pairs: parent copy vs change copy.

usage: PARENT_CHECKOUT=<dir> CHANGE_CHECKOUT=<dir> python3 pairs.py WORKLOAD SEED_FIRST SEED_LAST OUTFILE [TRACE]
"""
import json
import os
import statistics
import subprocess
import sys

PARENT = os.environ["PARENT_CHECKOUT"]
CHANGE = os.environ["CHANGE_CHECKOUT"]
wl, s0, s1, out = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
trace = sys.argv[5] if len(sys.argv) > 5 else "0"
METRICS = ["setup_s", "pass_s", "op_p50_s", "op_tail_s", "peak_rss_mb"]
env = dict(os.environ, SPARK_GRAFT_CPUS="4")
rows = []


def run(side, seed):
    d = PARENT if side == "parent" else CHANGE
    p = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", wl, "--seed", str(seed),
         "--seconds", "5", "--trace", trace],
        cwd=d, env=env, capture_output=True, text=True, timeout=900,
    )
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    rec, res = json.loads(lines[-2]), json.loads(lines[-1])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    r = dict(side=side, seed=seed, correct=res["correct"], failed=res["failed"],
             steal=rec["host"]["steal_jiffies"], metrics=m, record=rec)
    with open(out + ".jsonl", "a") as f:
        f.write(json.dumps(r) + "\n")
    return r


with open(out, "a") as f:
    f.write(f"== {wl} trace={trace} seeds {s0}-{s1}\n")
for i, seed in enumerate(range(s0, s1 + 1)):
    order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
    for side in order:
        r = run(side, seed)
        rows.append(r)
        line = f"  {side} seed{seed} correct={r['correct']} failed={r['failed']} " + " ".join(
            f"{k}={r['metrics'][k]:.2f}" for k in METRICS if k in r["metrics"]
        ) + f" steal={r['steal']}"
        with open(out, "a") as f:
            f.write(line + "\n")
        print(line, flush=True)

if trace == "0":
    with open(out, "a") as f:
        for k in METRICS:
            par = {r["seed"]: r["metrics"][k] for r in rows if r["side"] == "parent"}
            ch = {r["seed"]: r["metrics"][k] for r in rows if r["side"] == "change"}
            pv = sorted(par.values())
            q = statistics.quantiles(pv, n=4)
            pm, cm = statistics.median(pv), statistics.median(ch.values())
            won = sum(ch[s] < par[s] for s in par)
            f.write(f"  {k:12s} parent med {pm:.2f} IQR {q[2]-q[0]:.2f} | change med {cm:.2f}"
                    f" | ratio {cm/pm:.3f} | change lower in {won}/{len(par)} pairs\n")
