"""Master-dependent session defaults (``session.spark_conf``) and the
default core count (``session.local_cpus``), no session needed."""

import os

from pyramidscheme_jl_spark.session import local_cpus, spark_conf

KEY = "spark.sql.files.maxPartitionBytes"


def test_scan_split_is_16m_only_under_a_local_master():
    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert spark_conf(master, env={})[KEY] == "16m"
    for master in ("spark://head:7077", "yarn", "k8s://https://api:6443", "local-cluster[2,1,1024]"):
        assert KEY not in spark_conf(master, env={})  # Spark's own default


def test_scan_split_env_overrides_both_branches():
    env = {"SPARK_GRAFT_MAX_PARTITION_BYTES": "256m"}
    assert spark_conf("local[4]", env=env)[KEY] == "256m"
    assert spark_conf("yarn", env=env)[KEY] == "256m"


def test_extra_conf_applies_last():
    conf = spark_conf("local[4]", shuffle_partitions=3, extra_conf={KEY: "1g"}, env={})
    assert conf[KEY] == "1g"
    assert conf["spark.sql.shuffle.partitions"] == "3"


def test_local_cpus_defaults_to_affinity_and_env_overrides():
    assert local_cpus(env={}) == len(os.sched_getaffinity(0))
    assert local_cpus(env={"SPARK_GRAFT_CPUS": ""}) == len(os.sched_getaffinity(0))
    assert local_cpus(env={"SPARK_GRAFT_CPUS": "3"}) == 3
