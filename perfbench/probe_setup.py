"""One set-up sample: imports plus a ready session, then exit.

Started by ``run.py`` (with ``PERFBENCH_WORK`` set) so that one run
can report the median of several fresh-process set-ups. Prints
``{"setup_s": <seconds>}`` as its last line.
"""

import time

T0 = time.perf_counter()

import os  # noqa: E402
import sys  # noqa: E402

sys.path[:0] = [os.getcwd(), os.path.dirname(os.path.abspath(__file__))]

import sparkenv  # noqa: E402

import json  # noqa: E402  (already loaded by pyspark)

if __name__ == "__main__":
    spark = sparkenv.start_session()
    setup_s = time.perf_counter() - T0
    sparkenv.stop_session(spark)
    print(json.dumps({"setup_s": setup_s}))
