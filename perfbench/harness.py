"""Session lifetime, timing loop, memory sampling and tracing for the
benchmark. Nothing here reaches inside ``marky_spark``: every number is taken
from outside, around calls to the engine's public functions."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
import time
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

CORES = 4


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------

def session_confs(work_dir: str) -> dict[str, str]:
    """The engine's own defaults (``session.DEFAULT_CONFS``) on ``local[4]``,
    with every scratch file kept under ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # no hsperfdata file, and the JVM's temp files under work_dir
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }


def start_session(work_dir: str):
    """Launch the JVM and start the engine's session on it."""
    from marky_spark.session import get_spark

    spark = get_spark(app="perfbench", master=f"local[{CORES}]",
                      confs=session_confs(work_dir))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shut_down(spark) -> None:
    """Stop the context, then end the JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def drain(df) -> None:
    """Force every row and column of ``df`` and keep none of it."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# peak RSS of the JVM and its Python workers, from /proc
# ---------------------------------------------------------------------------

def _jvm_and_workers_rss_kb(jvm: int) -> int:
    """RSS of the JVM plus every Python process below it (the pyspark
    daemon and its workers). Other descendants are left out: a process the
    JVM forks to run a shell command shares, and so reports, all of the
    JVM's pages for the instant before it execs."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    python: set[int] = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages
        if stat[stat.find("(") + 1:].startswith("python"):
            python.add(pid)
    total, todo = rss.get(jvm, 0), list(children.get(jvm, ()))
    while todo:
        pid = todo.pop()
        total += rss[pid] if pid in python else 0
        todo.extend(children.get(pid, ()))
    return total * (os.sysconf("SC_PAGE_SIZE") // 1024)


class RssSampler:
    """Samples the summed RSS of the JVM and its Python workers every
    ``interval`` seconds on one background thread; ``peak_mb`` is the
    largest sample."""

    def __init__(self, jvm: int, interval: float = 0.1):
        self.jvm = jvm
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _jvm_and_workers_rss_kb(self.jvm))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, _jvm_and_workers_rss_kb(self.jvm))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


# ---------------------------------------------------------------------------
# the timed loop
# ---------------------------------------------------------------------------

@dataclass
class Timing:
    walls: dict[str, list[float]]    # part -> timed pass walls, seconds
    warm_s: float        # the untimed warm-up passes' wall, seconds
    peak_rss_mb: float   # JVM + Python workers during the timed passes
    results: dict[str, list]  # part -> what its warm-up and passes returned

    @property
    def wall(self) -> float:
        """Median timed pass wall of each part, summed: one round's wall."""
        return sum(median(w) for w in self.walls.values())


def timed_rounds(parts: dict[str, tuple[Callable[[], object],
                                        Callable[[], object], int]],
                 seconds: float, min_rounds: int) -> Timing:
    """``parts`` maps a name to ``(warm, run_pass, settle)``. Each part's
    ``warm`` runs once, untimed (their summed wall is ``warm_s``), then
    ``settle`` untimed passes for a part whose passes still speed up after
    the first; then rounds of one ``run_pass`` of every part, in order,
    until ``seconds`` have passed and at least ``min_rounds`` rounds ran.
    The parts take turns so that each sees the same drift in machine
    speed."""
    t0 = time.perf_counter()
    results = {name: [warm()] for name, (warm, _, _) in parts.items()}
    warm_s = time.perf_counter() - t0
    for name, (_, run_pass, settle) in parts.items():
        results[name] += [run_pass() for _ in range(settle)]
    walls: dict[str, list[float]] = {name: [] for name in parts}
    with RssSampler(jvm_pid()) as rss:
        end = time.perf_counter() + seconds
        rounds = 0
        while rounds < min_rounds or time.perf_counter() < end:
            for name, (_, run_pass, _) in parts.items():
                t0 = time.perf_counter()
                results[name].append(run_pass())
                walls[name].append(time.perf_counter() - t0)
            rounds += 1
    return Timing(walls, warm_s, rss.peak_mb, results)


# ---------------------------------------------------------------------------
# tracing: spans recorded around the benchmark's calls into each layer
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory span recorder. A span is (id, name, start, end, parent id,
    run id), times in seconds from the tracer's creation; spans nest by
    ``with``. Nothing is written until :meth:`dump`."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        rec = {"id": len(self.spans), "name": name,
               "start": time.perf_counter() - self._t0, "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    @staticmethod
    def span_cost_s(n: int = 5000) -> float:
        """Median wall of one empty span on a scratch tracer, over
        ``n`` spans in 5 rounds: what the recorder adds per span."""
        scratch = Tracer()
        rounds = []
        for _ in range(5):
            t0 = time.perf_counter()
            for _ in range(n):
                with scratch.span("probe"):
                    pass
            rounds.append((time.perf_counter() - t0) / n)
        return median(rounds)

    def seconds(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def dump(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "metrics": metrics}, f, indent=1)
