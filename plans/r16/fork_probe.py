"""Count the processes the JVM forks while a Spark session writes partitioned
parquet (no Python UDF anywhere), and the CPU they cost (the JVM's reaped
children time, which perfbench books as cpu.python_worker_s)."""
import collections, os, sys, threading, time
sys.path.insert(0, os.getcwd())
from ecs_ecommerce_data_pipeline_spark.session import get_spark
from pyspark.sql import functions as F

spark = get_spark()
jvm = spark.sparkContext._gateway.proc.pid
CLK = os.sysconf("SC_CLK_TCK")

def reaped():
    f = open(f"/proc/{jvm}/stat").read()
    rest = f[f.rindex(")") + 2:].split()
    return (int(rest[13]) + int(rest[14])) / CLK

seen = collections.Counter(); pids = set(); stop = False
def poll():
    while not stop:
        try:
            for t in os.listdir(f"/proc/{jvm}/task"):
                try:
                    kids = open(f"/proc/{jvm}/task/{t}/children").read().split()
                except OSError:
                    continue
                for k in kids:
                    if k in pids:
                        continue
                    try:
                        cmd = open(f"/proc/{k}/cmdline").read().split("\0")
                    except OSError:
                        continue
                    if cmd and cmd[0]:
                        pids.add(k)
                        seen[" ".join(os.path.basename(c) for c in cmd[:2])] += 1
        except OSError:
            pass

out = sys.argv[1]
df = spark.range(2000).select((F.col("id") % 40).cast("string").alias("d"), "id")
df.write.mode("overwrite").partitionBy("d").parquet(out + "/warm")
th = threading.Thread(target=poll, daemon=True); th.start()
r0 = reaped(); t0 = time.time()
for i in range(3):
    df.write.mode("overwrite").partitionBy("d").parquet(f"{out}/w{i}")
r1 = reaped(); stop = True; th.join()
print(f"3 writes of 40 partitions: {time.time()-t0:.2f} s wall, JVM reaped-children CPU {r1-r0:.2f} s")
print("forked children seen (first two argv words):", dict(seen))
py = [p for p in os.popen("ps -eo pid,args").read().splitlines() if "pyspark.daemon" in p or "pyspark/worker" in p]
print("pyspark.daemon / worker processes alive:", len(py))
spark.stop()
