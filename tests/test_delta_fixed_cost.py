"""Fixed cost of a Delta commit: Spark jobs per commit kind.

Every commit kind the pure-Python Delta writer has runs once over
tables of a few dozen rows, each in its own job group. On tables this
small Spark's fixed cost per job, not data, is what a commit costs, so
the job count is the number to hold still."""

import pytest
from pyspark.sql import functions as F

# Spark jobs each commit launches (planning scans, staging writes and
# the driver round trips of the DML passes), pinned per commit kind like
# tests/test_curation_fixed_cost.py pins curation stages. A change here
# is a change in eager guards or in how files are staged; re-measure
# and say why rather than widen.
COMMIT_JOBS = {
    "overwrite": 1,
    "append": 1,
    "cow_delete": 3,
    "cow_update": 3,
    "merge": 7,
    "dv_delete": 2,
    "dv_update": 5,
    "optimize": 2,
    "cdf_delete": 4,
}


@pytest.fixture(scope="module")
def commit_jobs(spark, tmp_path_factory):
    from daft_spark.io import delta

    root = tmp_path_factory.mktemp("delta_jobs")
    t, c = str(root / "t"), str(root / "cdf")

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            "id", (F.col("id") % 3).alias("grp"), (F.col("id") * 2).alias("v")
        )

    delta.write_deltalake_py(rows(0, 30), c)
    delta.enable_cdf_delta_py(c)
    commits = {
        "overwrite": lambda: delta.write_deltalake_py(rows(0, 40), t, mode="overwrite"),
        "append": lambda: delta.write_deltalake_py(rows(40, 60), t, mode="append"),
        "cow_delete": lambda: delta.delete_deltalake_py(t, spark, "id % 7 = 0"),
        "cow_update": lambda: delta.update_deltalake_py(
            t, spark, {"v": "v + 1"}, "id % 5 = 0"
        ),
        "merge": lambda: delta.merge_deltalake_py(
            t, spark, rows(50, 70), "t.id = s.id", when_matched_update={"v": "s.v"}
        ),
        "dv_delete": lambda: delta.delete_deltalake_dv_py(t, spark, "id % 11 = 0"),
        "dv_update": lambda: delta.update_deltalake_dv_py(
            t, spark, "id % 13 = 1", {"v": "v - 1"}
        ),
        "optimize": lambda: delta.optimize_deltalake_py(t, spark),
        "cdf_delete": lambda: delta.delete_deltalake_py(c, spark, "id % 4 = 0"),
    }
    sc = spark.sparkContext
    jobs = {}
    try:
        for kind, commit in commits.items():
            group = f"delta-commit-{kind}"
            sc.setJobGroup(group, group)
            commit()
            jobs[kind] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")
    return jobs


def test_delta_jobs_per_commit_kind(commit_jobs):
    assert commit_jobs == COMMIT_JOBS
