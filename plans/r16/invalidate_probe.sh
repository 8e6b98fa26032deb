# CPU of one importlib.invalidate_caches() in a process that imported
# pyspark.worker from pyspark.zip, as every Python worker task does in
# pyspark.worker_util.setup_spark_files; 5 fresh processes.
# usage: SPARK_HOME=<spark install> sh plans/r16/invalidate_probe.sh
L=$SPARK_HOME/python/lib
for i in 1 2 3 4 5; do
PYTHONPATH=$L/pyspark.zip:$(ls $L/py4j-*-src.zip) python3 -c "
import importlib, sys, time, zipimport, pyspark.worker
n = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
t = time.process_time(); w = time.perf_counter(); importlib.invalidate_caches()
print(f'zipimporters={n} cpu={time.process_time()-t:.3f}s wall={time.perf_counter()-w:.3f}s')
"
done
