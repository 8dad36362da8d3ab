"""Run-time scaffolding for the benchmark: spans, checked operations,
the box label, and the Spark session lifecycle.

Everything here is benchmark-side: it wraps calls INTO ``hexspark``
and never patches the engine, except the one traced-run RSS probe
around ``dedup.dup_clusters`` (see :func:`rss_probe`).
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    name: str
    start: float
    end: float
    parent: "str | None"
    round: str

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Ctx:
    """One benchmark process: the session, the seed and the recorders.

    ``round`` labels every span with the setup repetition or pass it
    belongs to (``setup0``, ``warmup``, ``p0`` ...).  In a traced run
    each span also becomes the Spark job group, so the event-log rollup
    can attribute jobs, stages and tasks back to it."""

    spark: object
    seed: int
    scale: float
    work: str
    root: str
    traced: bool
    cores: int
    spans: list = field(default_factory=list)
    stack: list = field(default_factory=list)
    n_spans: int = 0
    round: str = "init"
    attempted: int = 0
    failed: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def size(self, n: int, floor: int = 1) -> int:
        return max(floor, int(n * self.scale))

    def _set_group(self, sid: "str | None", name: str = "") -> None:
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(sid, name)

    @contextmanager
    def span(self, name: str):
        self.n_spans += 1
        sid = f"s{self.n_spans}-{name}"
        parent = self.stack[-1] if self.stack else None
        if self.traced:
            self._set_group(sid, name)
        self.stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.stack.pop()
            self.spans.append(Span(sid, name, t0, t1, parent, self.round))
            if self.traced:
                self._set_group(parent)

    def op(self, name: str, call, action, check) -> object:
        """Run one checked operation: ``call()`` is the public hexspark
        call (driver-side planning plus any eager jobs it runs),
        ``action(df)`` materializes its result into a small summary,
        ``check(summary)`` returns True when the summary is right.  A
        raised exception or a failed check counts as a failed op."""
        self.attempted += 1
        try:
            with self.span(name):
                with self.span(name + ".call"):
                    df = call()
                with self.span(name + ".action"):
                    out = action(df)
        except Exception as exc:  # noqa: BLE001 - a failed op is a result
            self.failed.append(f"{self.round}:{name}: {type(exc).__name__}: {exc}"[:400])
            return None
        try:
            ok = bool(check(out))
        except Exception as exc:  # noqa: BLE001
            self.failed.append(f"{self.round}:{name}: check raised {type(exc).__name__}: {exc}"[:400])
            return None
        if not ok:
            self.failed.append(f"{self.round}:{name}: wrong result {str(out)[:200]}")
        return out

    def durations(self, name: str, rounds: "list[str]") -> list[float]:
        """Per-round summed duration of spans called ``name``."""
        per: dict[str, float] = {}
        for s in self.spans:
            if s.name == name and s.round in rounds:
                per[s.round] = per.get(s.round, 0.0) + s.dur
        return [per[r] for r in rounds if r in per]


def median(xs: "list[float]") -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# box label
# ---------------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_mb() -> float:
    """Peak resident set of this (the Python driver) process."""
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _status_kb(key: str) -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return float(line.split()[1])
    return 0.0


@contextmanager
def rss_probe(out: dict, key: str):
    """Store the driver's peak-RSS growth (MB) over the block in ``out[key]``.

    Resets the kernel's high-water mark first (``/proc/self/clear_refs``
    value 5), so the probe sees this block's peak, not the process's."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass
    before = _status_kb("VmRSS")
    try:
        yield
    finally:
        out[key] = max(0.0, _status_kb("VmHWM") - before) / 1024.0


def box_label(spark, jiff_start, load_start) -> dict:
    """nproc, hypervisor steal across the run, loadavg and versions, so
    runs from the box's noisy regime can be told apart."""
    import pyspark

    import bench  # the historical harness; imported for its /proc helpers

    return {
        "nproc": nproc(),
        "steal_pct": bench.steal_pct_between(jiff_start, bench._cpu_jiffies()),
        "loadavg_start": load_start,
        "loadavg_end": bench._loadavg(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------

def start_spark(work: str, cores: int, event_dir: "str | None"):
    """Session at ``local[cores]`` whose scratch (shuffle, temp, warehouse,
    optional event log) all lives under ``work``."""
    from hexspark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # the JVM and its Python workers inherit these at launch
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    heap = "4g"
    conf = {
        "spark.driver.memory": heap,
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir.
        # -Xms = -Xmx: the full GC between passes (workloads.reset_caches)
        # cannot shrink the heap, so every pass starts from the same heap
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
        })
    spark = get_spark(
        "hexspark-perfbench", master=f"local[{cores}]",
        shuffle_partitions=2 * cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is None:
        return
    try:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    except OSError:
        pass
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
