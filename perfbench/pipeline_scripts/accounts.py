"""The ``cdc_apply`` consumer script, loaded through the engine's
pipeline registry: route ``appdb.accounts`` envelopes, keep the latest
event per key, and project the row the lake table and the index hold."""

from pyspark.sql import functions as F

from graal_cdc_spark.cdc.compaction import latest_by_key

ROW = "id BIGINT, amount BIGINT, tier STRING"


def config():
    return {"name": "accounts", "db": "appdb", "tables": ["accounts"]}


def transform(df):
    after = F.from_json("after_json", ROW)
    return latest_by_key(df, ["key"], "seq").select(
        F.col("key").cast("bigint").alias("id"),
        after["amount"].alias("amount"),
        after["tier"].alias("tier"),
        "seq",
        "op",
    )
