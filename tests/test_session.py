"""get_spark's Python workers can import the package on their own."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_package_from_outside_repo(tmp_path):
    # a process that found the package only through an edited sys.path,
    # started from a directory that is not the repo root: its workers
    # inherit neither, so they import the package only if get_spark
    # puts it on their path
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from searchengine_spark.session import get_spark

        def tag(batches):
            import pyarrow as pa
            import searchengine_spark
            for b in batches:
                yield pa.RecordBatch.from_pydict(
                    {{"mod": [searchengine_spark.__name__] * b.num_rows}})

        spark = get_spark(app="worker-path", master="local[1]",
                          shuffle_partitions=1)
        try:
            rows = spark.range(3).mapInArrow(tag, "mod string").collect()
            print("MODS", sorted({{r["mod"] for r in rows}}))
        finally:
            spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "MODS ['searchengine_spark']" in out.stdout
