def __getattr__(name):
    # LakeTable is imported on first use: the change-feed source's Python
    # processes import lake.feed_source and lake.commitio, and must not pay
    # for table.py's imports (lake/feed_source.py)
    if name == "LakeTable":
        from kafka_connect_dynamodb_spark.lake.table import LakeTable
        return LakeTable
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
