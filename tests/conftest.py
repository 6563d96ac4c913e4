import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hipipe_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # shuffle_partitions stays 8 whatever the core count, so the plans
    # match the ones tests/plan_budgets.json was recorded from
    cores = int(os.environ.get("SPARK_GRAFT_CPUS")
                or len(os.sched_getaffinity(0)))
    return get_spark(app_name="hipipe_spark_tests", cores=cores,
                     shuffle_partitions=8)


@pytest.fixture(scope="session")
def transcripts(spark):
    from hipipe_spark.datagen import gen_transcripts
    return gen_transcripts(spark, n_convs=60, avg_turns=12,
                           hot_frac=0.05, hot_mult=12).cache()


@pytest.fixture(scope="session")
def transcripts_pdf(transcripts):
    return transcripts.toPandas()


@pytest.fixture(scope="session")
def profiles(spark):
    from hipipe_spark.datagen import gen_profile_updates
    return gen_profile_updates(spark, n_convs=60).cache()


@pytest.fixture(scope="session")
def profiles_pdf(profiles):
    return profiles.toPandas()
