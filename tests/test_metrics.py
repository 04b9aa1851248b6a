from pyspark.sql import functions as F

from proj_4_spark.plans.metrics import observed
from proj_4_spark.sources.coords import coords_df


def test_observe_counts(spark, sf_dir):
    df = coords_df(spark, sf_dir)
    odf, obs = observed(df, "coords", F.avg("lat").alias("avg_lat"))
    odf.write.format("noop").mode("overwrite").save()
    m = obs.get
    assert m["rows"] == 500
    assert -90 <= m["avg_lat"] <= 90
