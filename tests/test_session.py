"""Session-profile tests that need a JVM of their own."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from tests.conftest import SF_MED

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_ships_to_python_workers(tmp_path):
    """A ``get_spark`` session runs a module-level Python kernel from a
    working directory outside the checkout with ``PYTHONPATH`` unset.
    emb_pq's PQ kernel (``similarity_queries._pq_codes_group``) pickles
    by reference, so each Python worker must import the package itself
    (a closure such as ``_byte_featurizer`` pickles by value and cannot
    show a missing path). A ``spark.executorEnv.PYTHONPATH`` the caller
    passes is kept next to the checkout root."""
    extra = str(tmp_path / "extra")
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from gazelle_plugin_spark import get_spark
        from gazelle_plugin_spark.plans.similarity_queries import emb_pq

        spark = get_spark(
            master="local[2]",
            shuffle_partitions=4,
            extra_confs={{"spark.executorEnv.PYTHONPATH": {extra!r}}},
        )
        spark.sparkContext.setLogLevel("ERROR")
        print("path", spark.conf.get("spark.executorEnv.PYTHONPATH"))
        print("rows", len(emb_pq(spark, {SF_MED!r}).collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    lines = dict(line.split(" ", 1) for line in run.stdout.splitlines() if " " in line)
    assert lines["path"].split(os.pathsep) == [ROOT, extra]
    assert int(lines["rows"]) > 0
