"""Run one perfbench run and sample its process tree every 0.25 s:
per-process RSS (peak per role) and whether any pyspark.daemon / Python
worker ever existed. usage: rss_probe.py CHECKOUT WORKLOAD SEED"""
import json, os, subprocess, sys, time
d, wl, seed = sys.argv[1], sys.argv[2], sys.argv[3]
env = dict(os.environ, SPARK_GRAFT_CPUS="4")
p = subprocess.Popen(["python3", "perfbench/run.py", "--workload", wl, "--seed", seed,
                      "--seconds", "5", "--trace", "0"], cwd=d, env=env,
                     stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
PAGE = os.sysconf("SC_PAGE_SIZE")
def tree(root):
    procs = {}
    for x in os.listdir("/proc"):
        if not x.isdigit(): continue
        try:
            raw = open(f"/proc/{x}/stat").read()
            cmd = open(f"/proc/{x}/cmdline").read().replace("\0", " ")
        except OSError: continue
        rp = raw.rindex(")"); rest = raw[rp+2:].split()
        procs[int(x)] = (raw[raw.index("(")+1:rp], int(rest[1]), int(rest[21]) * PAGE, cmd)
    keep = {root}; grew = True
    while grew:
        grew = False
        for pid, (_c, pp, _r, _m) in procs.items():
            if pp in keep and pid not in keep: keep.add(pid); grew = True
    return {k: procs[k] for k in keep if k in procs}
def role(pid, comm, cmd, root):
    if pid == root: return "driver(python)"
    if comm == "java": return "jvm"
    if "pyspark.daemon" in cmd: return "pyspark.daemon"
    if comm.startswith("python"): return "python-worker"
    return "other:" + comm
peak_role, peak_total, n, seen, t0 = {}, (0, None), 0, {}, time.time()
while p.poll() is None:
    tr = tree(p.pid); n += 1
    by = {}
    for pid, (comm, pp, rss, cmd) in tr.items():
        r = role(pid, comm, cmd, p.pid)
        by[r] = by.get(r, 0) + rss
        seen.setdefault(r, set()).add(pid)
    tot = sum(by.values())
    if tot > peak_total[0]: peak_total = (tot, {k: round(v / 2**20) for k, v in by.items()}, round(time.time() - t0, 1))
    for r, v in by.items(): peak_role[r] = max(peak_role.get(r, 0), v)
    time.sleep(0.25)
out = p.stdout.read().splitlines()
res = json.loads(out[-1])
print(json.dumps({"checkout": d, "workload": wl, "seed": seed, "samples": n, "correct": res["correct"], "failed": res["failed"],
  "peak_rss_mb_metric": round(res["metrics"]["peak_rss_mb"]["value"]),
  "probe_peak_total_mb": round(peak_total[0] / 2**20), "probe_peak_breakdown_mb": peak_total[1], "probe_peak_at_s": peak_total[2],
  "peak_mb_per_role": {k: round(v / 2**20) for k, v in peak_role.items()},
  "distinct_pids_per_role": {k: len(v) for k, v in seen.items()}}))
