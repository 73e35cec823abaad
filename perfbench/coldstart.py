"""One cold session start in a fresh process: launch the JVM through
``session.get_spark``, register the views over ``sf_dir``, print the
seconds that took, then stop the session and the JVM.

    python3 perfbench/coldstart.py <sf_dir>

``base.Workload`` runs it, with the environment ``run.pin_environment``
set, to sample set-up time in processes that start cold.
"""

import sys

from base import start_session, stop_session

if __name__ == "__main__":
    spark, seconds = start_session("perfbench-coldstart", sys.argv[1])
    stop_session(spark)
    print(f"{seconds:.6f}")
