"""Single extraction-benchmark run in an isolated process.

Invoked by bench.py under ``taskset -c 0-(N-1)`` so the whole process tree
(JVM + Python workers) genuinely sees N CPUs — the honest sandbox proxy for
an N-executor cluster.  Prints one line: ``RESULT <docs> <secs>``.

Two modes:

  bench_extract_worker.py materialize <sf_dir> <amplify> <text_repeat> <path>
      Synthesize the amplified pages table once (all cores, untimed) and
      write it as parquet.  The scaling measurement is scan → extract over
      a TABLE — the north_rule's input shape — so the synthetic string
      inflation (a memory-bandwidth-bound generator artifact that scales
      at ~0.5 on this VM) never pollutes the timed region.

  bench_extract_worker.py <cores> <sf_dir> <amplify> <text_repeat> <path>
      Timed run at N cores: scan the materialized parquet and extract
      (``amplify`` and ``text_repeat`` are accepted for the caller's
      argument layout and unused).
"""

import sys
import time

sys.path.insert(0, ".")

from graby_spark.extract import ExtractOptions
from graby_spark.job import run_extraction
from graby_spark.pages import build_pages_df, pages_ruleset
from graby_spark.session import get_spark


def materialize(sf_dir: str, amplify: int, text_repeat: int, path: str) -> None:
    spark = get_spark(app_name="bench-materialize", master="local[*]")
    spark.sparkContext.setLogLevel("ERROR")
    pages = build_pages_df(spark, sf_dir, repeat=amplify, text_repeat=text_repeat)
    pages.write.mode("overwrite").parquet(path)
    n = spark.read.parquet(path).count()
    print(f"MATERIALIZED {n} {path}")
    spark.stop()


def main() -> None:
    if sys.argv[1] == "materialize":
        materialize(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), sys.argv[5])
        return
    cores, sf_dir, pages_path = int(sys.argv[1]), sys.argv[2], sys.argv[5]
    spark = get_spark(app_name=f"bench-extract-{cores}", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    opts = ExtractOptions(xss_filter=False)

    # warm-up (JVM + python workers) on a small slice of the same shape
    warm = build_pages_df(spark, sf_dir, repeat=1)
    run_extraction(spark, warm, pages_ruleset(), options=opts).count()

    # production shape: scan the pages table (32 MB splits parallelize
    # the read at any core count; /dev/shm keeps I/O off the timing)
    pages = spark.read.parquet(pages_path)
    start = time.perf_counter()
    # the scaling consumer counts successes — project the output so the
    # extracted html/text bodies (dominant bytes, never read here) don't
    # ride the Arrow socket back; extraction work itself is unchanged
    docs = (
        run_extraction(
            spark,
            pages,
            pages_ruleset(),
            options=opts,
            repartition=False,
            columns=["url", "title", "language", "is_success", "bytes_in", "extract_ms"],
        )
        .where("is_success")
        .count()
    )
    secs = time.perf_counter() - start
    print(f"RESULT {docs} {secs:.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
