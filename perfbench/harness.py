"""Run context shared by the workloads: the Spark session (kept inside
the checkout), the closed-loop client, deferred output checks and the
tracer that turns job groups plus Spark's status API into per-layer
spans and counts."""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
import urllib.request
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from perfbench.metrics import OpLog, median, self_times, union_length

# An op returns None (nothing to check) or a zero-argument callable that
# re-checks its output after the timed window and returns True when
# the output is right.
Check = Callable[[], bool] | None
Op = Callable[[], Check]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; hidden and ``_``-prefixed
    files (commit markers, checksums) are not data."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    wall_start: float = 0.0
    wall_end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.name}#{self.id}"


class Tracer:
    """Spans around the benchmark's own calls into each package layer.

    Each span runs its Spark jobs under ``sc.setJobGroup(<span>)`` so
    jobs, stages and tasks can be attributed to it afterwards; nothing
    is recorded when tracing is off (``span`` is then a bare
    context)."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        # spans are recorded only while active; a traced run activates
        # the tracer for the build and the second half of the window
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = 0

    def next_op(self) -> int:
        self._op += 1
        return self._op

    @contextlib.contextmanager
    def span(self, name: str, **counts) -> Iterator[Span | None]:
        if not self.active:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans) + 1,
            name=name,
            op=self._op,
            parent=parent.id if parent else None,
            start=time.perf_counter(),
            wall_start=time.time(),
            counts=dict(counts),
        )
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.wall_end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    # -- collection after the run -------------------------------------

    def collect(self) -> None:
        """Attach job/stage/task counts (status tracker) and stage bytes
        and times (status REST API) to every span not yet collected."""
        todo = [s for s in self.spans if "jobs" not in s.counts]
        if not todo:
            return
        st = self.spark.sparkContext.statusTracker()
        span_stages: dict[int, tuple[int, list[int]]] = {}
        for s in todo:
            job_ids = list(st.getJobIdsForGroup(s.group))
            infos = [st.getJobInfo(j) for j in job_ids]
            span_stages[s.id] = (len(job_ids), [i for j in infos if j for i in j.stageIds])
        stages = self._rest_stages({i for _, ids in span_stages.values() for i in ids})
        selfs = self_times([
            {"id": s.id, "parent": s.parent, "start": s.start, "end": s.end}
            for s in self.spans
        ])
        for s in todo:
            jobs, stage_ids = span_stages[s.id]
            infos = [st.getStageInfo(i) for i in stage_ids]
            ran = [stages[i] for i in stage_ids if i in stages]
            covered = union_length([(r["start"], r["end"]) for r in ran])
            s.counts.update(
                jobs=jobs,
                stages=len(ran),
                tasks=sum(i.numTasks for i in infos if i is not None),
                input_bytes=sum(r["inputBytes"] for r in ran),
                input_records=sum(r["inputRecords"] for r in ran),
                shuffle_bytes=sum(r["shuffleWriteBytes"] for r in ran),
                output_bytes=sum(r["outputBytes"] for r in ran),
                stage_s=covered,
                driver_s=max(0.0, (s.wall_end - s.wall_start) - covered),
                self_s=selfs[s.id],
            )

    def _rest_stages(self, want: set[int]) -> dict[int, dict]:
        """Completed stage attempts from the status REST API, keyed by
        stage id, with submit/complete times as epoch seconds. The status
        store is filled asynchronously, so this polls (up to 10 s) until
        every stage in ``want`` is complete or skipped."""
        sc = self.spark.sparkContext
        port = (sc.uiWebUrl or "").rsplit(":", 1)[-1]
        if not port.isdigit():
            raise RuntimeError("traced run needs the Spark UI (SPARK_UI_ENABLED=true)")
        url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/stages"
        deadline = time.monotonic() + 10.0
        while True:
            with urllib.request.urlopen(url, timeout=10) as resp:
                rows = json.load(resp)
            done = {r["stageId"]: {
                "inputBytes": r.get("inputBytes", 0),
                "inputRecords": r.get("inputRecords", 0),
                "shuffleWriteBytes": r.get("shuffleWriteBytes", 0),
                "outputBytes": r.get("outputBytes", 0),
                "start": _rest_time(r.get("submissionTime")),
                "end": _rest_time(r.get("completionTime")),
            } for r in rows if r.get("status") == "COMPLETE"}
            skipped = {r["stageId"] for r in rows if r.get("status") == "SKIPPED"}
            if want <= done.keys() | skipped or time.monotonic() > deadline:
                return done
            time.sleep(0.25)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        doc = {
            **extra,
            "spans": [
                {
                    "id": s.id,
                    "name": s.name,
                    "op": s.op,
                    "parent": s.parent,
                    "start": s.start,
                    "end": s.end,
                    **s.counts,
                }
                for s in self.spans
            ],
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)

    # -- per-layer aggregation ----------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def med(self, name: str, key: str) -> float:
        """Median of one count over every span with this name; 0.0 for
        a layer this workload never enters."""
        vals = [float(s.counts[key]) for s in self.named(name) if key in s.counts]
        return median(vals) if vals else 0.0



def _rest_time(value: str | None) -> float:
    if not value:
        return 0.0
    stamp = dt.datetime.strptime(value.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return stamp.replace(tzinfo=dt.timezone.utc).timestamp()


class Bench:
    """One benchmark run: the work directory, the session, the op log,
    deferred checks and the tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, root: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = root
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.out_dir = os.path.join(root, ".perfbench_out")
        self.ops = OpLog()
        self.checks: list[tuple[str, Callable[[], bool]]] = []
        self.spark = None
        self.tracer: Tracer | None = None
        self._gateway_proc = None
        self.window_started: float | None = None
        self.phase_durations: dict[str, dict[str, list[float]]] = {
            "untraced": {}, "traced": {}}
        self.cached_after_op: list[int] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        """Start the package's session with every temporary location inside
        the work directory. Returns the session start time in seconds."""
        for d in ("spark-local", "tmp", "warehouse"):
            os.makedirs(self.path(d), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
        os.environ["SPARK_UI_ENABLED"] = "true" if self.trace else "false"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # -UsePerfData: no hsperfdata file under the system /tmp.
            # TieredStopAtLevel=1 (C1 only): a run lives about a minute,
            # and with C2 on 4 cores the warm curve was still falling
            # after 60 s (CDC merges 2.9 s -> 1.7 s), so each window sat
            # at a different point of it; C1 flattens it much sooner.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData "
                "-XX:TieredStopAtLevel=1",
        }
        if self.trace:
            conf.update({
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        t0 = time.perf_counter()
        from pyspark import SparkContext

        from spatially_databricks_etl_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        elapsed = time.perf_counter() - t0
        self._gateway_proc = getattr(SparkContext._gateway, "proc", None)
        self.tracer = Tracer(self.spark, self.trace)
        return elapsed

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def closed_loop(self, schedule: Callable[[], Iterator[tuple[str, Op]]],
                    kinds: set[str], warm_up: Callable[[], None] | None = None) -> float:
        """One client: the next op starts only after the previous one
        completes. First, untimed, a warm-up runs ``schedule()`` until
        every op kind in ``kinds`` has run once (or calls ``warm_up``),
        on the real inputs: the JVM's compile-and-warm curve is paid in
        set-up, not in the window. The timed window then lasts
        ``seconds`` and until every kind has run again (the op running
        at the end finishes). A traced run spends the first half of the
        window untraced and the second half traced, each half a fresh
        ``schedule()`` under the same rule, so both halves time the same
        op mix. Returns the window's wall time."""
        t_warm = time.perf_counter()
        if warm_up is not None:
            warm_up()
        else:
            warmed: set[str] = set()
            for kind, op in schedule():
                op()
                warmed.add(kind)
                if warmed >= kinds:
                    break
        t_start = time.perf_counter()
        log(f"warm-up cycle {t_start - t_warm:.2f}s")
        self.window_started = t_start
        phases = [False, True] if self.trace else [False]
        for traced in phases:
            self.tracer.active = traced
            deadline = time.perf_counter() + self.seconds / len(phases)
            seen: set[str] = set()
            for kind, op in schedule():
                self.run_op(kind, op)
                seen.add(kind)
                if time.perf_counter() >= deadline and seen >= kinds:
                    break
        self.tracer.active = False
        return time.perf_counter() - t_start

    def run_op(self, kind: str, op: Op) -> None:
        tr = self.tracer
        tr.next_op()
        phase = "traced" if tr.active else "untraced"
        t0 = time.perf_counter()
        try:
            check = op()
        except Exception:  # an op failure is data, not a crash
            traceback.print_exc(file=sys.stderr)
            self.ops.record(kind, None)
            return
        elapsed = time.perf_counter() - t0
        self.ops.record(kind, elapsed)
        self.phase_durations[phase].setdefault(kind, []).append(elapsed)
        if tr.active:
            self.cached_after_op.append(
                self.spark.sparkContext._jsc.getPersistentRDDs().size()
            )
        if check is not None:
            self.checks.append((kind, check))

    def run_checks(self) -> None:
        for kind, check in self.checks:
            try:
                ok = bool(check())
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                log(f"wrong output from a {kind} op")
                self.ops.mark_wrong()

    def samples(self, kind: str) -> list[float]:
        got = self.ops.durations.get(kind, [])
        if not got:
            raise RuntimeError(f"no successful {kind} op in the timed window")
        return got

    def close(self) -> None:
        """Stop Spark, end the JVM it launched and wait for it, then
        remove the work directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            proc = self._gateway_proc
            if proc is not None and proc.poll() is None:
                proc.terminate()
                try:
                    proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=20)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.work))
