from cassandra_data_migrator_spark.lake.table import (  # noqa: F401
    CommitConflict,
    LakeTable,
    MergeResult,
)
