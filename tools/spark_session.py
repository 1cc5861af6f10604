"""The SparkSession every script in tools/ starts from."""

from __future__ import annotations

from pyspark.sql import SparkSession


def make_session(app: str, cores: int = 8, ui: bool = False,
                 conf: dict | None = None) -> SparkSession:
    """local[cores] with max(cores, 8) shuffle partitions, UTC timestamps
    (the zone the DuckDB oracles compare in) and Arrow transfers. The
    correctness tools keep the 8-core default, so their outputs do not
    move; `ui` starts the web UI, whose REST API the ledgers read. `conf`
    adds further settings, such as the driver heap."""
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for key, value in (conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
