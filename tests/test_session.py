"""Session confs that `get_spark` must (not) set."""

COMMITTER = "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version"


def test_get_spark_keeps_default_committer(spark):
    """Committer v2 was measured slower on the sink write and leaves
    partial output visible when a job fails: the session must leave
    Spark's default (v1) in place."""
    assert not spark.sparkContext.getConf().contains(COMMITTER)
    assert spark.conf.get(COMMITTER, None) is None


def test_get_spark_uses_unix_domain_socket_workers(spark):
    assert spark.conf.get("spark.python.unix.domain.socket.enabled") == "true"
