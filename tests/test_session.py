"""SparkSession factory (session.py): settings the engine's contract
depends on are pinned, not inherited from the runtime's defaults."""


def test_ansi_mode_pinned(spark):
    # set explicitly by get_spark (the launch conf), and in force
    assert spark.sparkContext.getConf().get("spark.sql.ansi.enabled") == "true"
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
