"""Process environment for a benchmark run: everything Spark, the JVM and
Python write goes under the run's work directory inside the checkout."""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
#: Spark threads of the measured session (local[4])
CORES = 4
#: driver JVM heap; small enough to share the host, large enough that the
#: workloads never spill
DRIVER_MEMORY = "3g"


def prepare() -> str:
    """Point temp files, Spark local dirs and the JVM temp dir at the work
    directory and size the session to :data:`CORES`.  Must run before the
    first Spark session is created.  Returns the work directory."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for path in (tmp, local):
        os.makedirs(path, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # every JVM, the spark-submit launcher included
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return WORK


_T0 = time.perf_counter()


def log(message: str) -> None:
    """Progress on stderr, with seconds since the process started."""
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {message}", file=sys.stderr, flush=True)


def clean() -> None:
    shutil.rmtree(WORK, ignore_errors=True)


def spec_units(section: str) -> dict[str, str]:
    """Metric name -> unit of ``section`` (``end_to_end`` or ``per_layer``)
    of the repo's BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[section]}
