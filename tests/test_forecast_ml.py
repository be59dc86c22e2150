"""The ml_forecast grouped-map function must run on Python workers that
cannot import this package: a driver started outside the repository root
puts the package on its own sys.path only, never on the workers'."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from holochatstats_spark.operators.forecast_ml import forecast_per_series
    from holochatstats_spark.session import get_spark

    spark = get_spark("forecast-workers")
    monthly = spark.createDataFrame(
        [("long", m, float(m * m % 7)) for m in range(8)]
        + [("short", m, 5.0) for m in range(2)],
        "series string, m int, x double",
    )
    rows = forecast_per_series(monthly, month_col="m").collect()
    print(len(rows), sorted({{r.model_version for r in rows}}))
    spark.stop()
    """
)


def test_forecast_workers_need_no_package_import(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "6 ['carry_forward', 'ridge_ar3']"
