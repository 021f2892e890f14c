"""Time the staged-artifact build alone under the current session conf.
Usage: SPARK_GRAFT_SCHEDULER=... SPARK_GRAFT_CPUS=... python tools/artifact_ab.py
Prints one line: scheduler, cores, build seconds.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bricolage_spark.queries import llm_ops, load_all
from bricolage_spark.session import get_spark

specs = load_all()
spark = get_spark("art_ab")
llm_ops.release_caches()
# same warm-up as bench.py so JVM/codegen spin-up is out of the number
specs["q05_tpch_q1"].fn(spark, "/root/testdata/sf0.1").write.format("noop").mode(
    "overwrite"
).save()
t0 = time.time()
llm_ops.stage_artifacts(spark, "/root/testdata/sf0.1")
dt = time.time() - t0
print(
    f"RESULT scheduler={spark.conf.get('spark.scheduler.mode')} "
    f"cores={os.environ.get('SPARK_GRAFT_CPUS')} build={dt:.2f}s",
    flush=True,
)
spark.stop()
