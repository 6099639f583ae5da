"""Python-worker daemon for benchmark sessions (``spark.python.daemon.module``).

The program caches its fitted language-ID and perplexity weights under a
fixed host path. A benchmark run may write only inside its own checkout,
so before the stock pyspark daemon starts forking workers, this points the
cache at the run's directory (``PERFBENCH_MODEL_DIR``). Weights are a pure
function of the corpus seed, so the bytes are the same either way.
"""

import os

from pyspark import daemon

from data_profiler_spark.functions import textmodel

if __name__ == "__main__":
    textmodel._MODEL_CACHE_DIR = os.environ["PERFBENCH_MODEL_DIR"]
    daemon.manager()
