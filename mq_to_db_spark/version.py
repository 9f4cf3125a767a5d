"""Build/version info (SURVEY.md §2 B9).

Analogue of the reference's version package
(/root/reference/internal/version/version.go:40-83:
`GetVersionInfo`/`GetVersionInfoExtended` formatted build strings).  The
engine exposes the same facts as a one-row DataFrame so they can land in
the metrics/lineage tables next to job counters.
"""

from __future__ import annotations

import platform
import sys

from pyspark.sql import DataFrame, SparkSession

from mq_to_db_spark import __version__
from mq_to_db_spark.session import local_frame

NAME = "mq_to_db_spark"


def get_version_info() -> str:
    return f"{NAME} v{__version__}"


def get_version_info_extended() -> str:
    import pyspark

    return (
        f"{get_version_info()} "
        f"(pyspark {pyspark.__version__}, "
        f"python {sys.version_info.major}.{sys.version_info.minor}."
        f"{sys.version_info.micro}, {platform.system().lower()}/"
        f"{platform.machine()})"
    )


def build_info_df(spark: SparkSession) -> DataFrame:
    import pyspark

    return local_frame(
        spark,
        [
            (
                NAME,
                __version__,
                pyspark.__version__,
                f"{sys.version_info.major}.{sys.version_info.minor}.{sys.version_info.micro}",
                platform.system().lower(),
                platform.machine(),
            )
        ],
        "name string, version string, pyspark_version string, "
        "python_version string, os string, arch string",
    )


def health_check(spark: SparkSession) -> bool:
    """Liveness probe (A13 analogue — pgsql.go:70-83 `Ping`): one trivial
    JVM round-trip proves the session is alive."""
    try:
        return spark.sql("SELECT 1").collect()[0][0] == 1
    except Exception:
        return False
