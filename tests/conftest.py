import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder
             .master("local[4]")
             .appName("edspdf-spark-tests")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "4g")
             .getOrCreate())
    yield spark
    spark.stop()


def pytest_terminal_summary(terminalreporter):
    """One summary line counting the failures and errors that are a
    FileNotFoundError on a path in the reference checkout: an
    environment gap (the checkout is absent), not a program fault.
    Reporting only; no outcome or exit code changes."""
    from tests.reference_loader import REF

    root = os.path.dirname(REF)
    missing = re.compile(r"FileNotFoundError: .*%s/" % re.escape(root))
    reports = (terminalreporter.stats.get("failed", [])
               + terminalreporter.stats.get("error", []))
    gap = sum(1 for r in reports if missing.search(r.longreprtext))
    terminalreporter.write_line(
        f"environment gap: {gap} of {len(reports)} failures/errors are "
        f"FileNotFoundError on {root}")
