"""Session factory: the package reaches the executors' Python workers."""

from __future__ import annotations

import os
import subprocess
import sys

from .conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_stateful_profile_runs_from_another_cwd_without_pythonpath(tmp_path):
    """Python workers do not inherit the driver's sys.path. With PYTHONPATH
    unset and a cwd outside the checkout, s_stateful_profile's executor-side
    state function must still import the package."""
    script = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from hbase_observer_es_spark.registry import all_queries\n"
        "from hbase_observer_es_spark.session import get_spark\n"
        "spark = get_spark('cwd-check', 4)\n"
        f"rows = all_queries()['s_stateful_profile'](spark, {SF_SMOKE!r}).collect()\n"
        "print('ROWS', len(rows))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    n_rows = int(r.stdout.split("ROWS", 1)[1].split()[0])
    assert n_rows > 0
