import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # executor Python workers import pyspark_skyline_spark by NAME for
    # module-level applyInPandas functions (cloudpickle by-reference);
    # make that work from any cwd, as --py-files would on a cluster
    os.environ["PYTHONPATH"] = (
        repo_root + os.pathsep + os.environ.get("PYTHONPATH", "")
    )
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("pyspark-skyline-tests")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def merge_policy(spark, monkeypatch):
    """Context manager over ``skyline()``'s merge policy. Patches its
    module constants (and, with ``est=``, the size estimate) for the
    block, and counts what ran: ``bounds`` bounds aggregates,
    ``antijoin`` anti-join plans (``skyline_antijoin`` calls included),
    ``single`` single-task plans, ``est`` size estimates read, ``probe``
    counts of the cell-keyed local frontiers, ``combiner`` and
    ``broadcast`` passes, and ``local_pass`` kernel passes (more than
    one per call means the tree fold ran).
    ``_ANTIJOIN_MAX=-1`` keeps every input, empty ones included, off the
    anti-join; with ``_SINGLE_TASK_ROWS=-1`` too, on the partitioned
    plan."""
    import collections
    import contextlib

    from pyspark_skyline_spark.operators import skyline as S

    frame = type(spark.range(1))

    @contextlib.contextmanager
    def policy(est=None, **consts):
        ran = collections.Counter()

        def counting(fn, key):
            def wrapped(*a, **kw):
                ran[key] += 1
                return fn(*a, **kw)

            return wrapped

        real_est, real_count = S._estimated_bytes, frame.count

        def estimate(df):
            ran["est"] += 1
            return real_est(df) if est is None else est

        def count(self):
            if S._CELL in self.columns:
                ran["probe"] += 1
            return real_count(self)

        with monkeypatch.context() as m:
            for name, value in consts.items():
                assert hasattr(S, name), name
                m.setattr(S, name, value)
            m.setattr(S, "_estimated_bytes", estimate)
            m.setattr(frame, "count", count)
            for name, key in (
                ("_compute_bounds", "bounds"),
                ("_antijoin", "antijoin"),
                ("_single_task_skyline", "single"),
                ("_map_side_prereduce", "combiner"),
                ("_broadcast_final_filter", "broadcast"),
                ("_local_skyline_pass", "local_pass"),
            ):
                m.setattr(S, name, counting(getattr(S, name), key))
            yield ran

    return policy
