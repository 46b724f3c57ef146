from chomper_spark.operators.dedup import dedup_latest  # noqa: F401
from chomper_spark.operators.merge import SnapshotMergeSink  # noqa: F401
