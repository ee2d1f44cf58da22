import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("raptor-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _missing_corpus(report, corpus: str) -> bool:
    """True when the report's exception is a FileNotFoundError for a
    path under the reference corpus."""
    crash = getattr(report.longrepr, "reprcrash", None)
    msg = crash.message if crash is not None else str(report.longrepr)
    return msg.startswith("FileNotFoundError") and corpus in msg


def pytest_terminal_summary(terminalreporter):
    """Failure triage: failures and collection errors caused by the absent
    reference corpus, counted apart from every other failure. Nothing is
    skipped or reclassified; this only reports."""
    from raptor_spark.kernel.suites import REF_TESTS

    corpus = str(REF_TESTS.parent)
    stats = terminalreporter.stats
    bad = stats.get("failed", []) + stats.get("error", [])
    missing = sum(_missing_corpus(r, corpus) for r in bad)
    terminalreporter.write_line(
        "failure triage: %d caused by the missing reference corpus "
        "(FileNotFoundError under %s), %d other failures or errors"
        % (missing, corpus, len(bad) - missing)
    )
