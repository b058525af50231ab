"""Run ``dedup.containment_pairs`` once in one checkout and describe the run.

    python plans/r13/containment_probe.py TREE SF_DIR

Prints one RESULT line: rows, wall seconds, the jobs/stages/tasks the
query ran, and in the final AQE plan the md5 projections (the shingle
hashing), ReusedExchange nodes, checkpoint (ExistingRDD) scans and
parquet scans."""
import os, sys, time, re
tree = os.path.abspath(sys.argv[1]); sys.path.insert(0, tree); os.chdir(tree)
sf = sys.argv[2]
from onnxtr_spark.session import get_spark
from onnxtr_spark.functions import dedup
spark = get_spark("probe", cpus=4, shuffle_partitions=8)
sc = spark.sparkContext
docs = spark.read.parquet(f"{sf}/documents.parquet")
df = dedup.containment_pairs(docs)
sc.setJobGroup("probe", "probe")
t0 = time.time()
rows = df.collect()
wall = time.time() - t0
st = sc.statusTracker()
jobs = st.getJobIdsForGroup("probe")
stages = [s for j in jobs for s in st.getJobInfo(j).stageIds]
tasks = sum((st.getStageInfo(s).numTasks if st.getStageInfo(s) else 0) for s in stages)
plan = df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
print(f"RESULT rows={len(rows)} wall={wall:.1f}s jobs={len(jobs)} stages={len(stages)} tasks={tasks} "
      f"md5_in_plan={plan.count('md5(')} reused_exchanges={plan.count('ReusedExchange')} "
      f"existing_rdd_scans={len(re.findall('ExistingRDD', plan))} parquet_scans={plan.count('FileScan parquet')}")
spark.stop()
