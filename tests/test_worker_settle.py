"""Pins for ``session.settle_python_worker``, the end-of-task cleanup the
extraction stage runs in every reused PySpark Python worker.

The check runs in a child interpreter: the helper freezes the process's
GC heap once, and the pytest process must never be frozen.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = textwrap.dedent(
    """
    import gc, json, os, sys, zipfile, zipimport

    import pandas as pd

    from graby_spark.extract import ExtractOptions
    from graby_spark.job import _make_extract_batch
    from graby_spark.pages import pages_ruleset
    from graby_spark.session import settle_python_worker

    def zip_finders():
        return sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )

    archive = os.path.join(sys.argv[1], "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("settle_mod_a.py", "NAME = 'a'\\n")
        zf.writestr("settle_mod_b.py", "NAME = 'b'\\n")
    sys.path.insert(0, archive)
    import settle_mod_a

    class Broadcast:
        value = pages_ruleset()

    out = {"zip_finders_before": zip_finders(), "freeze_before": gc.get_freeze_count()}
    batch = pd.DataFrame(
        {
            "url": ["http://news-0.example.org/article/1"],
            "html": [b"<html><head><title>T</title></head><body><p>x</p></body></html>"],
        }
    )
    extract = _make_extract_batch(Broadcast(), ExtractOptions(xss_filter=False), ["url", "is_success"])
    frames = list(extract(iter([batch])))
    out["rows"] = sum(len(f) for f in frames)
    out["zip_finders_after"] = zip_finders()
    import settle_mod_b

    out["second_module"] = settle_mod_b.NAME
    out["freeze_count"] = gc.get_freeze_count()
    settle_python_worker()
    out["freeze_count_again"] = gc.get_freeze_count()
    print(json.dumps(out))
    """
)


def test_extraction_task_drops_zip_finders_and_freezes_heap_once(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, str(tmp_path)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["rows"] == 1
    # the archive import cached a zip finder; the task's end deleted it
    assert got["zip_finders_before"] >= 1
    assert got["zip_finders_after"] == 0
    # a deleted (not None) entry leaves the archive importable
    assert got["second_module"] == "b"
    # the task froze the warm heap, and a second settle freezes nothing more
    assert got["freeze_before"] == 0
    assert got["freeze_count"] > 0
    assert got["freeze_count_again"] == got["freeze_count"]
