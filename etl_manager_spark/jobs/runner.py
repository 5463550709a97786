"""Folder-convention Spark job runner — the Spark-native rebuild of the
reference's ``GlueJob`` (``/root/reference/etl_manager/etl.py:45-743``).

Parity map (reference → here):

* job folder with ``job.py`` + resources (``etl.py:76-136``) → same layout,
  discovered locally; python resources go on ``sys.path``, data resources
  and metadata folders are exposed to the job via arguments.
* S3 sync + Glue ``create_job``/``start_job_run`` (``etl.py:478-608``) →
  in-process execution against an injected SparkSession (or spark-submit
  externally); no control-plane boundary.
* ``wait_for_completion`` poll loop with typed terminal states
  (``etl.py:629-717``) → synchronous ``run()`` raising the same exception
  taxonomy (``JobFailed/JobTimedOut/JobStopped`` — ``etl.py:21-42``).
* cost-based timeout (``etl.py:87-90, 138-152``: timeout_minutes =
  60·max_cost/(0.44·DPU·workers)) → :func:`cost_timeout_minutes` +
  wall-clock budget guard.
* reserved/validated job arguments (``etl.py:186-217``) → same checks.
* ``delete_job`` + S3 temp-folder removal (``etl.py:719-743``) →
  :meth:`SparkJob.cleanup` — removes the job's scratch dir and any
  sys.path entries a timed-out (zombie) run left behind.
* github zipball deps (``etl.py:343-369, 457-476``; ``utils.py:128-155``)
  → ``py_resources/zipball_urls.txt`` + :mod:`.vendor` (fetch, un-nest,
  re-zip, sys.path / ``--py-files``).

Job contract: ``job.py`` runs with globals ``spark`` (SparkSession),
``job_arguments`` (dict), and ``metadata_base_path`` (str | None).
"""

from __future__ import annotations

import os
import runpy
import shutil
import sys
import tempfile
import threading
import time
from typing import TYPE_CHECKING, Any

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession

# Reference cost model constants (etl.py:87-90) — kept for parity
WORKER_HOURLY_COST = 0.44
DEFAULT_MAX_COST = 20.0


class JobError(Exception):
    """Base for job-runner failures (taxonomy parity: etl.py:21-42)."""


class JobMisconfigured(JobError, ValueError):
    """The job's definition/arguments are invalid (etl.py:21; the
    reference raises plain ``ValueError`` for argument validation at
    etl.py:198,210 — dual inheritance keeps both catch contracts)."""


class JobNotStarted(JobError):
    """An operation that needs a live run was called before/without one
    (etl.py:25,613)."""


class JobFailed(JobError):
    """The job raised / exited non-zero."""


class JobTimedOut(JobError):
    """Wall-clock budget exceeded."""


class JobStopped(JobError):
    """The job was cancelled externally (etl.py:691-692: a terminal
    STOPPED state surfaced by ``wait_for_completion``; here produced by
    :meth:`SparkJob.stop` from another thread)."""


def cost_timeout_minutes(
    max_cost: float = DEFAULT_MAX_COST,
    dpu_per_worker: float = 1.0,
    workers: int = 2,
) -> int:
    """timeout_minutes = 60 * max_cost / (0.44 * DPU * workers) — the
    reference's budget→timeout conversion (etl.py:138-152). Floored to a
    1-minute minimum: a sub-minute budget truncating to 0 would mean
    thread.join(0) — instant JobTimedOut for jobs finishing in
    milliseconds (the reference's golden values 1363/272/68 are all ≥1,
    so they are unchanged)."""
    return max(
        1, int(60 * max_cost / (WORKER_HOURLY_COST * dpu_per_worker * workers))
    )


def _cancel_job_group(spark: "SparkSession", job_group: str) -> None:
    """Cancel a run's job group INCLUDING future submissions.

    ``sc.cancelJobGroup`` only cancels jobs active at call time — a
    cancellation landing while the driver is still in query planning
    (cold first action of a job script takes seconds) is a silent no-op
    and the job runs to completion. The JVM's
    ``cancelJobGroupAndFutureJobs`` (SPARK-44194) also fails every LATER
    job submitted in the group, closing that race; PySpark does not wrap
    it yet, so reach through the Py4J handle, falling back to the plain
    cancel on any gateway/API mismatch."""
    sc = spark.sparkContext
    try:
        sc._jsc.sc().cancelJobGroupAndFutureJobs(job_group)  # noqa: SLF001
    except Exception:  # pragma: no cover - depends on gateway internals
        sc.cancelJobGroup(job_group)


_RESERVED_ARGUMENTS = {
    # the reference's special_aws_params (etl.py:200-206)
    "--JOB_NAME",
    "--debug",
    "--mode",
    "--metadata_base_path",
    "--additional-python-modules",
    # spark-native addition: collides with spark-submit's own flag
    "--conf",
}


class SparkJob:
    """A runnable job folder.

    Layout (reference convention, ``example/glue_jobs/``)::

        <job_folder>/
            job.py                  # required entrypoint
            py_resources/           # .py/.zip importables → sys.path
            resources/              # data files, exposed via resource_paths
            metadata/               # table/database jsons (metadata_base_path)

    plus an optional ``shared_resources`` folder with the same sub-layout,
    merged in (duplicate basenames rejected — reference etl.py:332-341).
    """

    def __init__(
        self,
        job_folder: str,
        shared_resources: str | None = None,
        job_arguments: dict[str, str] | None = None,
        timeout_minutes: int | None = None,
        max_cost: float | None = None,
    ):
        self.job_folder = os.path.abspath(job_folder)
        if not os.path.isdir(self.job_folder):
            raise JobMisconfigured(f"job folder {job_folder!r} does not exist")
        self.job_path = os.path.join(self.job_folder, "job.py")
        if not os.path.isfile(self.job_path):
            raise JobMisconfigured(f"{self.job_folder} has no job.py")
        self.job_name = os.path.basename(self.job_folder)
        self.shared_resources = (
            os.path.abspath(shared_resources) if shared_resources else None
        )
        self.job_arguments = job_arguments or {}
        if timeout_minutes is not None:
            self.timeout_minutes: int | None = timeout_minutes
        elif max_cost is not None:
            self.timeout_minutes = cost_timeout_minutes(max_cost)
        else:
            self.timeout_minutes = None

        self.py_resources = self._gather("py_resources", (".py", ".zip"))
        self.resource_paths = self._gather("resources", None)
        self.metadata_paths = self._gather("metadata", (".json",))
        # A26: github-zipball python deps (reference etl.py:343-369) —
        # vendored lazily (first run() or explicit vendor_py_resources()).
        from .vendor import read_zipball_urls  # deferred: vendor imports JobError

        self.zipball_urls = read_zipball_urls(self.job_folder, self.shared_resources)
        self.vendored_resources: list[str] = []
        self.job_run_state: str = "READY"
        self._temp_dir: str | None = None
        self._stop_requested = threading.Event()
        # (spark, job_group, run_seq) — the seq lets stop() prove the run
        # it captured is still the one in flight (see stop())
        self._active_run: tuple[Any, str, int] | None = None
        self._run_seq = 0
        self._stop_lock = threading.Lock()

    @property
    def job_arguments(self) -> dict[str, str]:
        return self._job_arguments

    @job_arguments.setter
    def job_arguments(self, args: dict[str, str]) -> None:
        """Validation parity with reference etl.py:186-217: dict of
        ``--name`` → str, reserved names rejected."""
        if not isinstance(args, dict):
            raise JobMisconfigured("job_arguments must be a dict")
        for k, v in args.items():
            if not isinstance(k, str) or not k.startswith("--"):
                raise JobMisconfigured(
                    f"job argument {k!r} must be a string starting with --"
                )
            if k in _RESERVED_ARGUMENTS:
                raise JobMisconfigured(f"job argument {k!r} is reserved")
            if not isinstance(v, str):
                raise JobMisconfigured(f"job argument {k!r} value must be a string")
        self._job_arguments = dict(args)

    def _gather(self, subdir: str, exts: tuple[str, ...] | None) -> list[str]:
        found: dict[str, str] = {}
        for base in filter(None, (self.shared_resources, self.job_folder)):
            d = os.path.join(base, subdir)
            if not os.path.isdir(d):
                continue
            for fname in sorted(os.listdir(d)):
                if exts and not fname.lower().endswith(exts):
                    continue
                if fname in found:
                    # duplicate basenames across shared+local are ambiguous
                    # (reference dedupe check raises ValueError,
                    # etl.py:332-341 — JobMisconfigured is one)
                    raise JobMisconfigured(
                        f"duplicate resource {fname!r} in {found[fname]} and {d}"
                    )
                found[fname] = d
        return [os.path.join(d, f) for f, d in found.items()]

    def vendor_py_resources(self, fetcher=None) -> list[str]:
        """Fetch + re-zip the job's github-zipball dependencies into the
        job scratch dir (A26; reference ``sync_job_to_s3_folder``
        etl.py:486-491 — its S3 upload becomes a local artifact that
        ``run()`` puts on sys.path, or that a cluster submit passes via
        ``--py-files``). Idempotent per job lifecycle; ``cleanup()``
        discards the artifacts. ``fetcher(url, dest)`` overrides the
        urllib default (offline tests use ``file://`` URLs instead)."""
        from .vendor import vendor_all  # deferred: vendor imports JobError

        if not self.zipball_urls:
            self.vendored_resources = []
            return []
        dest = os.path.join(self.temp_dir, "vendored")
        vendored = vendor_all(self.zipball_urls, dest, fetcher)
        static_names = {os.path.basename(p) for p in self.py_resources}
        clashes = sorted(
            os.path.basename(v)
            for v in vendored
            if os.path.basename(v) in static_names
        )
        if clashes:
            raise JobError(
                f"vendored zipball(s) {clashes!r} collide with static "
                "py_resources of the same name (reference dedupe check, "
                "etl.py:332-341)"
            )
        self.vendored_resources = vendored
        return vendored

    @property
    def metadata_base_path(self) -> str | None:
        """One directory holding EVERY metadata json the job validated:
        the job's own when the shared folder contributes none (and vice
        versa); when both contribute, a merged staging dir under
        temp_dir — returning just the job's directory silently hid the
        shared_resources metadata that _gather collected and
        duplicate-checked (job-local files win on no name clashes, which
        the dedupe check already guarantees)."""
        dirs = [
            os.path.join(base, "metadata")
            for base in (self.job_folder, self.shared_resources)
            if base and os.path.isdir(os.path.join(base, "metadata"))
        ]
        if not dirs:
            return None
        if len(dirs) == 1:
            return dirs[0]
        merged = os.path.join(self.temp_dir, "metadata")
        # recreate the staging dir on every access: a json deleted or
        # renamed in a source folder must not persist stale in the merge
        if os.path.isdir(merged):
            shutil.rmtree(merged)
        os.makedirs(merged)
        for d in reversed(dirs):  # job-local copied last (wins on clash)
            for fname in os.listdir(d):
                shutil.copy2(os.path.join(d, fname), os.path.join(merged, fname))
        return merged

    def run(self, spark: "SparkSession", timeout_minutes: int | None = None) -> dict[str, Any]:
        """Execute job.py in-process, synchronously (the reference's
        run_job + wait_for_completion collapsed — no control plane).

        Returns the job script's globals (so tests/jobs can hand back
        results); raises the typed taxonomy on failure.

        The timeout is BEST-EFFORT: on expiry, THIS job's in-flight AND
        future Spark work is cancelled via its job group (the group is
        set thread-locally inside the worker thread, so other jobs and
        interactive queries sharing the SparkSession are untouched;
        ``cancelAllJobs`` would abort those too) and
        :class:`JobTimedOut` raised, but the job script's Python thread
        cannot be killed — a daemon thread keeps running driver-side code
        until its next Spark action fails. Run the job via
        ``spark-submit`` in a subprocess when a timed-out job must be
        torn down completely (a killable process is the only hard
        cancellation boundary Python offers)."""
        timeout = timeout_minutes if timeout_minutes is not None else self.timeout_minutes
        init_globals = {
            "spark": spark,
            "job_arguments": dict(self.job_arguments),
            "metadata_base_path": self.metadata_base_path,
            "job_temp_path": self.temp_dir,
        }
        if self.zipball_urls and not self.vendored_resources:
            self.vendor_py_resources()
        added_paths = []
        for res in self.py_resources + self.vendored_resources:
            target = res if res.endswith(".zip") else os.path.dirname(res)
            if target not in sys.path:
                sys.path.insert(0, target)
                added_paths.append(target)

        result: dict[str, Any] = {}
        error: list[BaseException] = []
        # unique PER RUN: stop()/timeout poison the group for future job
        # submissions (cancelJobGroupAndFutureJobs), so a reused id would
        # cancel a later re-run of the same SparkJob instance on arrival
        self._run_seq += 1
        job_group = f"sparkjob-{self.job_name}-{id(self)}-{self._run_seq}"

        def _target() -> None:
            sc = spark.sparkContext
            # job group is THREAD-LOCAL on the SparkContext: snapshot the
            # caller's values first — an inline (timeout=None) run executes
            # in the CALLER's thread, and nulling instead of restoring
            # would wipe a job group the caller had set before run()
            saved_props = {
                prop: sc.getLocalProperty(prop)
                for prop in (
                    "spark.jobGroup.id",
                    "spark.job.description",
                    "spark.job.interruptOnCancel",
                )
            }
            try:
                # set it inside the worker thread so a timeout cancels
                # exactly this job's actions (interruptOnCancel interrupts
                # the executor threads too)
                sc.setJobGroup(job_group, f"SparkJob {self.job_name}", True)
                if self._stop_requested.is_set():
                    # stop() landed before the group was registered; its
                    # cancelJobGroup was a no-op — honor it here instead
                    raise JobStopped(f"job {self.job_name} stopped before start")
                result.update(runpy.run_path(self.job_path, init_globals=init_globals))
            except BaseException as exc:  # noqa: BLE001
                error.append(exc)
            finally:
                # restore the caller's thread-local values (None for a
                # fresh worker thread): a leaked group id would attach
                # every later action on this thread to a cancellable
                # group, and a NULLED one would wipe the caller's own
                for prop, value in saved_props.items():
                    sc.setLocalProperty(prop, value)

        # clear + publish atomically w.r.t. stop(): a stop() that captured
        # the PREVIOUS run must not set the event after this clear (it
        # re-verifies the seq under the same lock before setting)
        with self._stop_lock:
            self._stop_requested.clear()
            self.job_run_state = "RUNNING"
            self._active_run = (spark, job_group, self._run_seq)
        started = time.monotonic()
        try:
            if timeout is None:
                _target()
            else:
                from pyspark.util import inheritable_thread_target

                # the worker runs with a copy of the caller's local
                # properties (scheduler pool, custom keys); the run's own
                # setJobGroup still overrides the group
                thread = threading.Thread(
                    target=inheritable_thread_target(spark)(_target), daemon=True
                )
                thread.start()
                thread.join(timeout * 60)
                if thread.is_alive():
                    self.job_run_state = "TIMEOUT"
                    # future-jobs included: the zombie thread's next
                    # actions fail at submission instead of running on
                    _cancel_job_group(spark, job_group)
                    raise JobTimedOut(
                        f"job {self.job_name} exceeded {timeout} min "
                        f"(elapsed {time.monotonic() - started:.0f}s)"
                    )
            if error:
                if self._stop_requested.is_set():
                    # the failure is the cancellation stop() injected —
                    # surface the reference's terminal STOPPED state
                    # (etl.py:691-692), not FAILED
                    self.job_run_state = "STOPPED"
                    raise JobStopped(
                        f"job {self.job_name} stopped: {error[0]}"
                    ) from error[0]
                self.job_run_state = "FAILED"
                raise JobFailed(f"job {self.job_name} failed: {error[0]}") from error[0]
            # a stop that lands after the last action completes loses the
            # race, exactly like Glue: the run is SUCCEEDED
            self.job_run_state = "SUCCEEDED"
            return result
        finally:
            with self._stop_lock:
                self._active_run = None
            for p in added_paths:
                if p in sys.path:
                    sys.path.remove(p)

    @property
    def is_running(self) -> bool:
        return self.job_run_state == "RUNNING"

    def stop(self) -> None:
        """Request cancellation of the in-flight :meth:`run` from another
        thread — the Spark-native analog of Glue's ``BatchStopJobRun``,
        whose terminal STOPPED state the reference surfaces as
        ``JobStopped`` (etl.py:691-692). Cancels exactly this run's job
        group (other jobs sharing the SparkSession are untouched); the
        blocked ``run()`` then raises :class:`JobStopped`. Best-effort
        like the timeout: driver-side Python between Spark actions cannot
        be interrupted, only the next action fails. Raises
        :class:`JobNotStarted` when no run is in flight (Glue rejects a
        stop for a run id that does not exist)."""
        active = self._active_run
        if active is None or self.job_run_state != "RUNNING":
            raise JobNotStarted(
                f"job {self.job_name} is not running (state {self.job_run_state})"
            )
        spark, job_group, seq = active
        with self._stop_lock:
            current = self._active_run
            if current is None or current[2] != seq:
                # the run stop() captured has already ended; setting the
                # event now would spuriously stop a back-to-back re-run
                # that cleared it under this same lock — lose the race
                # silently, exactly like a stop after the last action
                return
            self._stop_requested.set()
        _cancel_job_group(spark, job_group)

    @property
    def temp_dir(self) -> str:
        """Per-job scratch directory (lazily created; the analog of the
        reference's S3 temp folder). Exposed to job.py as ``job_temp_path``;
        removed by :meth:`cleanup`."""
        if self._temp_dir is None or not os.path.isdir(self._temp_dir):
            self._temp_dir = tempfile.mkdtemp(prefix=f"sparkjob-{self.job_name}-")
        return self._temp_dir

    def cleanup(self) -> None:
        """Remove the job's staged artifacts (reference ``delete_job`` +
        temp-folder removal, etl.py:719-743): the scratch dir, and —
        defensively — any sys.path entries still pointing at this job's
        resources (a timed-out zombie run's finally block may race its
        own path removal). Resets the job to READY; safe to call twice."""
        if self._temp_dir is not None:
            shutil.rmtree(self._temp_dir, ignore_errors=True)
            self._temp_dir = None
        for res in self.py_resources + self.vendored_resources:
            target = res if res.endswith(".zip") else os.path.dirname(res)
            while target in sys.path:
                sys.path.remove(target)
        self.vendored_resources = []
        self.job_run_state = "READY"
