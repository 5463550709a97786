"""Job-runner behavior (reference GlueJob themes: resource discovery,
argument validation, cost timeout, typed failures — etl.py:45-743)."""

import os
import tempfile
import textwrap

import pytest

from etl_manager_spark.jobs import (
    JobFailed,
    JobTimedOut,
    SparkJob,
    cost_timeout_minutes,
)
from etl_manager_spark.jobs.runner import JobError


@pytest.fixture(autouse=True)
def job_tempdir(tmp_path, monkeypatch):
    """Each test's temp dir, where the runs' scratch dirs land: most tests
    here never call cleanup(), and must not leave them in the system's."""
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    return scratch


def make_job(tmp_path, body, name="myjob", with_resources=True):
    folder = tmp_path / name
    folder.mkdir()
    (folder / "job.py").write_text(textwrap.dedent(body))
    if with_resources:
        (folder / "py_resources").mkdir()
        (folder / "py_resources" / "helper_mod.py").write_text("VALUE = 41\n")
        (folder / "metadata").mkdir()
        (folder / "metadata" / "db.json").write_text("{}")
    return str(folder)


def test_cost_timeout_golden_values():
    # Golden values from the reference's own tests (test_tests.py:177-187):
    # $20 cap — 2×G.1X→1363 min; 5×G.2X (2 DPU)→272 min; 40×G.1X→68 min
    assert cost_timeout_minutes(20, 1, 2) == 1363
    assert cost_timeout_minutes(20, 2, 5) == 272
    assert cost_timeout_minutes(20, 1, 40) == 68


def test_run_job_with_injected_spark(tmp_path, spark):
    job = make_job(
        tmp_path,
        """
        import helper_mod
        assert metadata_base_path.endswith("metadata")
        df = spark.range(helper_mod.VALUE + 1)
        result = df.count()
        """,
    )
    j = SparkJob(job, job_arguments={"--limit": "42"})
    out = j.run(spark)
    assert out["result"] == 42
    assert j.job_run_state == "SUCCEEDED"


def test_job_failure_taxonomy(tmp_path, spark):
    j = SparkJob(make_job(tmp_path, "raise ValueError('boom')"))
    with pytest.raises(JobFailed, match="boom"):
        j.run(spark)
    assert j.job_run_state == "FAILED"


def test_job_timeout(tmp_path, spark):
    j = SparkJob(make_job(tmp_path, "import time\ntime.sleep(120)"))
    with pytest.raises(JobTimedOut):
        j.run(spark, timeout_minutes=0.02)  # ~1.2 s
    assert j.job_run_state == "TIMEOUT"


def test_job_cleanup_removes_temp_dir_and_sys_path(tmp_path, spark):
    """A31 analog (reference etl.py:719-743): cleanup() deletes the scratch
    dir exposed to the job as job_temp_path, strips lingering sys.path
    entries, resets to READY, and is idempotent."""
    import sys

    job = make_job(
        tmp_path,
        """
        import os
        with open(os.path.join(job_temp_path, "scratch.txt"), "w") as fh:
            fh.write("x")
        result = job_temp_path
        """,
    )
    j = SparkJob(job)
    out = j.run(spark)
    scratch = out["result"]
    assert os.path.isfile(os.path.join(scratch, "scratch.txt"))
    # simulate a zombie run's leftover path entry
    leftover = os.path.dirname(j.py_resources[0])
    sys.path.insert(0, leftover)
    j.cleanup()
    assert not os.path.exists(scratch)
    assert leftover not in sys.path
    assert j.job_run_state == "READY"
    j.cleanup()  # idempotent
    assert j.job_run_state == "READY"


def test_argument_validation(tmp_path):
    folder = make_job(tmp_path, "pass")
    with pytest.raises(JobError, match="reserved"):
        SparkJob(folder, job_arguments={"--metadata_base_path": "x"})
    with pytest.raises(JobError, match="starting with --"):
        SparkJob(folder, job_arguments={"limit": "1"})
    with pytest.raises(JobError, match="must be a string"):
        SparkJob(folder, job_arguments={"--limit": 5})


def test_missing_job_py(tmp_path):
    (tmp_path / "empty").mkdir()
    with pytest.raises(JobError, match="no job.py"):
        SparkJob(str(tmp_path / "empty"))


def test_shared_resource_merge_and_duplicate_rejection(tmp_path, spark):
    shared = tmp_path / "shared"
    (shared / "py_resources").mkdir(parents=True)
    (shared / "py_resources" / "shared_mod.py").write_text("SHARED = 'yes'\n")

    job = make_job(
        tmp_path,
        """
        import helper_mod, shared_mod
        result = (helper_mod.VALUE, shared_mod.SHARED)
        """,
    )
    j = SparkJob(job, shared_resources=str(shared))
    assert j.run(spark)["result"] == (41, "yes")

    # same basename in both folders → ambiguous → rejected
    (shared / "py_resources" / "helper_mod.py").write_text("VALUE = 0\n")
    with pytest.raises(JobError, match="duplicate resource"):
        SparkJob(job, shared_resources=str(shared))


# ---------------------------------------------------------------------------
# A26 — github zipball vendoring (reference etl.py:457-476, utils.py:128-155)
# ---------------------------------------------------------------------------

import zipfile  # noqa: E402

from etl_manager_spark.jobs.vendor import (  # noqa: E402
    read_zipball_urls,
    repo_name_from_url,
    vendor_all,
    vendor_zipball,
)


def make_zipball(tmp_path, repo="fakepkg", ref="main", value=7):
    """Build a GitHub-shaped zipball fixture: the package nested under a
    single `<repo>-<ref>/` top folder, at a file:// URL whose path ends
    `/<org>/<repo>/archive/<ref>.zip` (same segments a github URL has)."""
    src = tmp_path / "_zipball_src" / f"{repo}-{ref}"
    pkg = src / repo
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text(f"ANSWER = {value}\n")
    (pkg / "extra.py").write_text("def double(x):\n    return 2 * x\n")
    url_dir = tmp_path / "ghmirror" / "someorg" / repo / "archive"
    url_dir.mkdir(parents=True)
    zip_path = url_dir / f"{ref}.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for p in sorted(src.rglob("*")):
            zf.write(p, p.relative_to(src.parent))
    return f"file://{zip_path}"


def test_repo_name_from_url():
    url = "https://github.com/moj-analytical-services/gluejobutils/archive/master.zip"
    assert repo_name_from_url(url) == "gluejobutils"
    # file:// fixtures carry the same /<repo>/archive/<ref>.zip shape
    assert repo_name_from_url("file:///tmp/x/org/mypkg/archive/main.zip") == "mypkg"
    with pytest.raises(JobError, match="cannot derive"):
        repo_name_from_url("file:///flat.zip")


def test_vendor_zipball_unnests_to_zip_root(tmp_path):
    url = make_zipball(tmp_path, repo="fakepkg", value=7)
    out = vendor_zipball(url, str(tmp_path / "vendored"))
    assert os.path.basename(out) == "fakepkg.zip"
    with zipfile.ZipFile(out) as zf:
        names = set(zf.namelist())
    # package importable from zip root — no fakepkg-main/ nesting left
    assert "fakepkg/__init__.py" in names
    assert not any(n.startswith("fakepkg-main/") for n in names)
    # download scratch removed (reference os.remove(this_zip_path))
    assert not any(
        f.endswith("_zipball_download.zip")
        for f in os.listdir(tmp_path / "vendored")
    )


def test_vendor_rejects_multi_root_and_zip_slip(tmp_path):
    flat = tmp_path / "org" / "flatpkg" / "archive"
    flat.mkdir(parents=True)
    zp = flat / "v1.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("a.py", "A = 1\n")
        zf.writestr("b.py", "B = 2\n")
    with pytest.raises(JobError, match="exactly one top-level folder"):
        vendor_zipball(f"file://{zp}", str(tmp_path / "v1"))
    evil = tmp_path / "org" / "evilpkg" / "archive"
    evil.mkdir(parents=True)
    zp2 = evil / "v1.zip"
    with zipfile.ZipFile(zp2, "w") as zf:
        zf.writestr("evilpkg-v1/ok.py", "OK = 1\n")
        zf.writestr("../escape.txt", "pwned")
    with pytest.raises(JobError, match="escapes the extraction root"):
        vendor_zipball(f"file://{zp2}", str(tmp_path / "v2"))
    assert not (tmp_path / "escape.txt").exists()


def test_vendor_all_rejects_duplicate_repo_names(tmp_path):
    url = make_zipball(tmp_path, repo="dupe")
    with pytest.raises(JobError, match="duplicate zipball package names"):
        vendor_all([url, url], str(tmp_path / "out"))


def test_job_vendors_zipballs_and_imports_them(tmp_path, spark):
    url = make_zipball(tmp_path, repo="fakepkg", value=7)
    job = make_job(
        tmp_path,
        """
        import fakepkg
        from fakepkg.extra import double
        result = double(fakepkg.ANSWER)
        """,
    )
    (tmp_path / "myjob" / "py_resources" / "zipball_urls.txt").write_text(
        f"{url}\nshort\n\n"  # >10-char filter parity (etl.py:367)
    )
    j = SparkJob(job)
    assert j.zipball_urls == [url]
    out = j.run(spark)
    assert out["result"] == 14
    vendored = j.vendored_resources
    assert len(vendored) == 1 and vendored[0].endswith("fakepkg.zip")
    j.cleanup()
    assert j.vendored_resources == []
    assert not any("fakepkg.zip" in p for p in __import__("sys").path)
    assert not os.path.exists(vendored[0])


def test_shared_zipball_urls_merge_and_static_clash(tmp_path, spark):
    url = make_zipball(tmp_path, repo="sharedpkg", value=3)
    job = make_job(tmp_path, "import sharedpkg\nresult = sharedpkg.ANSWER\n")
    shared = tmp_path / "shared"
    (shared / "py_resources").mkdir(parents=True)
    (shared / "py_resources" / "zipball_urls.txt").write_text(url + "\n")
    j = SparkJob(job, shared_resources=str(shared))
    assert j.run(spark)["result"] == 3
    j.cleanup()
    # a static py_resources zip named like the vendored artifact is ambiguous
    (tmp_path / "myjob" / "py_resources" / "sharedpkg.zip").write_bytes(b"PK")
    j2 = SparkJob(job, shared_resources=str(shared))
    with pytest.raises(JobError, match="collide with static"):
        j2.vendor_py_resources()


def test_read_zipball_urls_missing_files(tmp_path):
    assert read_zipball_urls(str(tmp_path)) == []


def test_read_zipball_urls_filenames_are_alternatives(tmp_path):
    """A folder carrying BOTH accepted list filenames reads only the
    first (they are alternative spellings of one list, not additive —
    reading both duplicated every URL and made vendor_all raise a
    spurious duplicate-package JobError)."""
    res = tmp_path / "py_resources"
    res.mkdir()
    url = "https://github.com/someorg/fakepkg/archive/main.zip"
    (res / "zipball_urls.txt").write_text(url + "\n")
    (res / "github_zip_urls.txt").write_text(url + "\n")
    assert read_zipball_urls(str(tmp_path)) == [url]
    # the second filename still works when it is the only one present
    (res / "zipball_urls.txt").unlink()
    assert read_zipball_urls(str(tmp_path)) == [url]


def test_reference_filename_and_example_url_parse(tmp_path, spark):
    # the reference's exact filename convention is accepted too, and its
    # example URL parses to the repo name (etl.py:467 url.split("/")[4])
    url = make_zipball(tmp_path, repo="gluejobutils", value=2)
    job = make_job(tmp_path, "import gluejobutils\nresult = gluejobutils.ANSWER\n")
    (tmp_path / "myjob" / "py_resources" / "github_zip_urls.txt").write_text(url + "\n")
    j = SparkJob(job)
    assert j.run(spark)["result"] == 2
    j.cleanup()
    ref_url = "https://github.com/moj-analytical-services/gluejobutils/archive/master.zip"
    assert repo_name_from_url(ref_url) == "gluejobutils"


def test_vendor_fetch_failure_surfaces_as_job_error(tmp_path):
    def boom(url, dest):
        raise OSError("network unreachable")

    with pytest.raises(JobError, match="failed to fetch"):
        vendor_zipball(
            "https://github.com/org/pkg/archive/main.zip",
            str(tmp_path / "v"),
            fetcher=boom,
        )
    # no half-written download left behind
    assert not list((tmp_path / "v").glob("*")) if (tmp_path / "v").exists() else True


def test_repo_name_org_named_archive():
    # the structural /archive/ segment is the LAST one — an org literally
    # named "archive" must not shadow it
    url = "https://github.com/archive/mypkg/archive/main.zip"
    assert repo_name_from_url(url) == "mypkg"


def test_cost_timeout_minimum_one_minute():
    from etl_manager_spark.jobs.runner import cost_timeout_minutes

    assert cost_timeout_minutes(max_cost=0.01) == 1  # was 0 → instant timeout
    assert cost_timeout_minutes(max_cost=20.0) == 1363  # golden unchanged


def test_metadata_base_path_merges_shared(tmp_path, spark):
    """Shared-resources metadata must be visible to the job alongside its
    own — returning only the job's dir silently hid validated files."""
    from etl_manager_spark.jobs.runner import SparkJob

    job = tmp_path / "job"
    (job / "metadata").mkdir(parents=True)
    (job / "metadata" / "a.json").write_text('{"name": "a"}')
    (job / "job.py").write_text("result = metadata_base_path\n")
    shared = tmp_path / "shared"
    (shared / "metadata").mkdir(parents=True)
    (shared / "metadata" / "b.json").write_text('{"name": "b"}')
    j = SparkJob(str(job), shared_resources=str(shared))
    base = j.metadata_base_path
    names = sorted(os.listdir(base))
    assert names == ["a.json", "b.json"]
    j.cleanup()


def test_metadata_base_path_reflects_source_deletions(tmp_path, spark):
    """The merged staging dir is rebuilt per access: a json deleted from
    a source folder must not persist stale within one SparkJob."""
    from etl_manager_spark.jobs.runner import SparkJob

    job = tmp_path / "job"
    (job / "metadata").mkdir(parents=True)
    (job / "metadata" / "a.json").write_text('{"name": "a"}')
    (job / "job.py").write_text("result = 1\n")
    shared = tmp_path / "shared"
    (shared / "metadata").mkdir(parents=True)
    (shared / "metadata" / "b.json").write_text('{"name": "b"}')
    j = SparkJob(str(job), shared_resources=str(shared))
    assert sorted(os.listdir(j.metadata_base_path)) == ["a.json", "b.json"]
    (shared / "metadata" / "b.json").unlink()
    (shared / "metadata" / "c.json").write_text('{"name": "c"}')
    assert sorted(os.listdir(j.metadata_base_path)) == ["a.json", "c.json"]
    j.cleanup()


_SLOW_SPARK_JOB = """
import time
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

slow = F.udf(lambda x: time.sleep(0.5) or x, LongType())
# consume the UDF output (sum) — an unused deterministic UDF column under
# a bare count() is legal for Catalyst to prune, finishing instantly
spark.range(400).repartition(32).select(slow("id").alias("v")).agg(F.sum("v")).collect()
result = "finished"
"""


def test_stop_running_job_inline(tmp_path, spark):
    """A30 STOPPED terminal state (reference etl.py:691-692): stop() from
    another thread cancels the run's job group and run() raises JobStopped
    — inline (timeout=None) mode, which executes in the caller's thread."""
    import threading

    from etl_manager_spark.jobs import JobStopped

    j = SparkJob(make_job(tmp_path, _SLOW_SPARK_JOB, with_resources=False))
    stopper = threading.Timer(1.5, j.stop)
    stopper.start()
    try:
        with pytest.raises(JobStopped):
            j.run(spark)
    finally:
        stopper.cancel()
    assert j.job_run_state == "STOPPED"
    # the caller thread must not keep the cancelled job group: later
    # actions on this thread would otherwise join a reusable group id
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    # the job is re-runnable after a stop (fresh stop flag per run)
    j2 = SparkJob(make_job(tmp_path, "result = 1", name="ok", with_resources=False))
    assert j2.run(spark)["result"] == 1


def test_stop_running_job_threaded(tmp_path, spark):
    """stop() against a timeout-supervised (threaded) run: JobStopped wins
    over JobFailed for the cancellation-injected error."""
    import threading

    from etl_manager_spark.jobs import JobStopped

    j = SparkJob(make_job(tmp_path, _SLOW_SPARK_JOB, with_resources=False))
    stopper = threading.Timer(1.5, j.stop)
    stopper.start()
    try:
        with pytest.raises(JobStopped):
            j.run(spark, timeout_minutes=5)
    finally:
        stopper.cancel()
    assert j.job_run_state == "STOPPED"


def test_stop_requires_running_job(tmp_path):
    from etl_manager_spark.jobs import JobNotStarted

    j = SparkJob(make_job(tmp_path, "result = 1", with_resources=False))
    with pytest.raises(JobNotStarted, match="not running"):
        j.stop()


def test_misconfiguration_taxonomy(tmp_path):
    """JobMisconfigured covers definition/argument errors and keeps the
    reference's ValueError catch contract (etl.py:198,210) alongside the
    JobError base."""
    from etl_manager_spark.jobs import JobMisconfigured

    folder = make_job(tmp_path, "pass")
    with pytest.raises(JobMisconfigured):
        SparkJob(folder, job_arguments={"--metadata_base_path": "x"})
    with pytest.raises(ValueError):
        SparkJob(folder, job_arguments={"limit": "1"})
    with pytest.raises(JobError):
        SparkJob(str(tmp_path / "nosuch"))
    # reference special_aws_params parity: --additional-python-modules
    # is reserved (etl.py:200-206)
    with pytest.raises(JobMisconfigured, match="reserved"):
        SparkJob(folder, job_arguments={"--additional-python-modules": "x"})


def test_successful_run_clears_job_group(tmp_path, spark):
    """An inline run must clear the thread-local job group it set —
    leaking it attaches unrelated later actions to a cancellable group."""
    j = SparkJob(make_job(tmp_path, "result = spark.range(3).count()", with_resources=False))
    assert j.run(spark)["result"] == 3
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_stop_during_query_planning_is_not_lost(tmp_path, spark):
    """cancelJobGroup only cancels ACTIVE jobs — a stop landing while the
    driver is still planning the first action was a silent no-op and the
    job ran to completion. The future-jobs cancel closes the race: any
    stop timing must end in JobStopped, never SUCCEEDED."""
    import threading

    from etl_manager_spark.jobs import JobStopped

    j = SparkJob(make_job(tmp_path, _SLOW_SPARK_JOB, with_resources=False))
    stopper = threading.Timer(0.2, j.stop)  # lands in/near query planning
    stopper.start()
    try:
        with pytest.raises(JobStopped):
            j.run(spark)
    finally:
        stopper.cancel()
    assert j.job_run_state == "STOPPED"


def test_timed_run_keeps_the_callers_local_properties(tmp_path, spark):
    """A timed run executes job.py in a worker thread, which must start
    from the caller's local properties like an inline run does; the run's
    own job group still applies inside it."""
    sc = spark.sparkContext
    j = SparkJob(make_job(
        tmp_path,
        """
        sc = spark.sparkContext
        result = [sc.getLocalProperty(k) for k in ("x", "spark.scheduler.pool")]
        group = sc.getLocalProperty("spark.jobGroup.id")
        """,
        with_resources=False,
    ))
    sc.setLocalProperty("x", "caller")
    sc.setLocalProperty("spark.scheduler.pool", "etl")
    try:
        inline = j.run(spark)
        timed = j.run(spark, timeout_minutes=1)
    finally:
        sc.setLocalProperty("x", None)
        sc.setLocalProperty("spark.scheduler.pool", None)
    assert inline["result"] == timed["result"] == ["caller", "etl"]
    assert timed["group"].startswith("sparkjob-myjob-")


def test_engine_run_job_removes_its_scratch_dir(tmp_path, spark, job_tempdir):
    from etl_manager_spark.engine import Engine

    job = make_job(tmp_path, "result = job_temp_path", with_resources=False)
    engine = Engine(spark)
    out = [engine.run_job(job)["result"] for _ in range(2)]
    assert all(p.startswith(str(job_tempdir)) for p in out)
    assert list(job_tempdir.iterdir()) == []
