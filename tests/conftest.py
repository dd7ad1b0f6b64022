import pytest


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    # warehouse under pytest's session tmp dir: a catalog-backed write
    # (saveAsTable) must never land inside the repo, warehouse.dir
    # is a static conf that cannot change after session start, and
    # pytest prunes old tmp_path_factory dirs so runs don't accumulate
    wh = str(tmp_path_factory.mktemp("spark_warehouse"))
    s = (
        SparkSession.builder.master("local[2]")
        .appName("pdfextract-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", wh)
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
